package perfbench

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments and records the truth it planted, so the
  * output checks never ask the library what the right answer is.
  */
object Gen {

  /** A vector with its id. */
  final case class Vec(id: Long, v: Array[Float])

  /** A document with its id. */
  final case class Doc(id: Long, text: String)

  // ---------------------------------------------------------------- vectors

  /** `n` vectors of dimension `dim` drawn around `clusters` Gaussian
    * centres. Cluster spread is small against centre spread, so
    * cosine neighbourhoods are meaningful.
    */
  final class VectorSpace(seed: Long, dim: Int, clusters: Int) {
    private val rnd = new java.util.Random(seed)
    val centres: Array[Array[Double]] =
      Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian()))

    def draw(r: java.util.Random, id: Long, spread: Double): Vec = {
      val c = centres(r.nextInt(clusters))
      Vec(id, Array.tabulate(dim)(i => (c(i) + spread * r.nextGaussian()).toFloat))
    }

    def perturb(r: java.util.Random, src: Vec, id: Long, noise: Double): Vec =
      Vec(id, src.v.map(x => (x + noise * r.nextGaussian()).toFloat))
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact cosine top-k ids of `q` over `pool` by brute force
    * (ties broken by the lower id).
    */
  def exactTopK(q: Array[Float], pool: Iterable[Vec], k: Int): Seq[Long] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
    pool.foreach { p =>
      val s = cosine(q, p.v)
      if (heap.size < k) heap.enqueue((s, p.id))
      else if (s > heap.head._1 || (s == heap.head._1 && p.id < heap.head._2)) {
        heap.dequeue(); heap.enqueue((s, p.id))
      }
    }
    heap.toSeq.sortBy(t => (-t._1, t._2)).map(_._2)
  }

  // ------------------------------------------------------------------ text

  /** Lower-case letter-only words, unique per rank (a fixed first
    * letter, then the rank in base 26), so the library's tokenizer
    * returns exactly the generated tokens.
    */
  def word(rank: Int): String = {
    val sb = new StringBuilder
    var x = rank
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    "w" + sb.reverse.toString
  }

  /** Zipf(1) sampler over `vocab` ranks. */
  final class Zipf(vocab: Int) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: java.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
  }

  final class TextSpace(vocab: Int, minLen: Int, maxLen: Int) {
    val zipf = new Zipf(vocab)
    val words: Array[String] = Array.tabulate(vocab)(word)
    def tokens(r: java.util.Random): Array[Int] =
      Array.fill(minLen + r.nextInt(maxLen - minLen + 1))(zipf.sample(r))
    def render(toks: Array[Int]): String = toks.map(words(_)).mkString(" ")
  }

  /** Distinct word 3-shingles, as the library's dedup shingles them. */
  def shingles(toks: Array[Int]): Set[(Int, Int, Int)] =
    if (toks.length < 3) Set.empty
    else (0 to toks.length - 3).map(i => (toks(i), toks(i + 1), toks(i + 2))).toSet

  def jaccard(a: Set[(Int, Int, Int)], b: Set[(Int, Int, Int)]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** A near-duplicate of `src`: token substitutions at `rate`, backed
    * off until the shingle Jaccard to the source is at least `minJ`, so
    * every planted pair is a true near-duplicate at the library's
    * default threshold.
    */
  def nearDup(r: java.util.Random, ts: TextSpace, src: Array[Int], rate: Double,
      minJ: Double): Array[Int] = {
    val srcSh = shingles(src)
    var edits = math.max(1, math.round(src.length * rate).toInt)
    while (true) {
      val d = src.clone()
      (0 until edits).foreach(_ => d(r.nextInt(d.length)) = ts.zipf.sample(r))
      if (edits == 1 || jaccard(srcSh, shingles(d)) >= minJ) return d
      edits -= 1
    }
    src
  }
}
