package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each at-rest decision behind its one module: the bucketed
  * layout (bucket/sort spec, clustering, the not-bucketed refusal, the
  * streamed read that drops the spec — through its Spark bridge) and
  * every table write in `ops/Compaction.scala`, table-property DDL in
  * `ops/TableProps.scala`, every lineage cut in `ops/Caching.scala`;
  * keeps MLlib clustering in its one comparator (`ann/MlLsh.scala`),
  * the logistic-regression fit in `text/Linear.scala`, the id-modulus
  * training gate in `ops/Sampling.scala` and concurrent job submission
  * in `ops/Concurrency.scala`; keeps the MinHash signature's one
  * definition in its kernel (`expressions/MinhashSignature.scala`) and
  * the shingle explode in `Dedup.shingleSet`; and keeps the library
  * packages off `System.err`. Comment lines are skipped — prose may
  * name any of them.
  */
class StructureLintSpec extends AnyFunSuite {

  private lazy val mainRoot: File = {
    val start = new File(sys.props("user.dir")).getAbsoluteFile
    Iterator.iterate(start)(_.getParentFile).takeWhile(_ != null)
      .map(d => new File(d, "src/main/scala"))
      .find(_.isDirectory)
      .getOrElse(fail(s"no src/main/scala above $start"))
  }

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `path:line` of every code line matching one of `needles`
    * outside `owner` (a path relative to `graft/`).
    */
  private def offenders(owner: String, needles: Seq[String]): Seq[String] = {
    val ownerFile = new File(mainRoot, s"graft/$owner").getCanonicalFile
    matches(sources(mainRoot).filter(_.getCanonicalFile != ownerFile), needles)
  }

  private def matches(files: Seq[File], needles: Seq[String]): Seq[String] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if !isComment(line) && needles.exists(line.contains) =>
          s"${mainRoot.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  test("the bucketed layout is written only by ops/Compaction.scala") {
    assert(sources(mainRoot).exists(_.getName == "Compaction.scala"))
    val hits = offenders("ops/Compaction.scala", Seq(".bucketBy(", "bucketSpec.getOrElse"))
    if (hits.nonEmpty) fail(s"bucket layout decided outside Compaction:\n${hits.mkString("\n")}")
  }

  test("the bucket-spec drop lives only in its bridge and ops/Compaction.scala") {
    // Compaction.streamed is the one caller: it owns the read rule
    val bridge = new File(mainRoot, "org/apache/spark/sql/GraftPlanBridge.scala")
    assert(bridge.isFile, s"missing $bridge")
    val owners = Set(bridge, new File(mainRoot, "graft/ops/Compaction.scala")).map(_.getCanonicalFile)
    val hits = matches(sources(mainRoot).filterNot(f => owners(f.getCanonicalFile)),
      Seq("bucketSpec = None", "HadoopFsRelation", "withoutBucketSpec"))
    if (hits.nonEmpty) fail(s"bucket spec dropped outside Compaction:\n${hits.mkString("\n")}")
  }

  test("table-property DDL lives only in ops/TableProps.scala") {
    val hits = offenders("ops/TableProps.scala", Seq("SET TBLPROPERTIES", "SHOW TBLPROPERTIES"))
    if (hits.nonEmpty) fail(s"TBLPROPERTIES DDL outside TableProps:\n${hits.mkString("\n")}")
  }

  test("every lineage cut goes through ops/Caching.scala") {
    assert(sources(mainRoot).exists(_.getName == "Caching.scala"))
    val hits = offenders("ops/Caching.scala", Seq(".localCheckpoint(", ".checkpoint("))
    if (hits.nonEmpty) fail(s"lineage cut outside Caching:\n${hits.mkString("\n")}")
  }

  test("MLlib clustering is used only by ann/MlLsh.scala") {
    assert(sources(mainRoot).exists(_.getName == "MlLsh.scala"))
    val hits = offenders("ann/MlLsh.scala", Seq("org.apache.spark.ml.clustering"))
    if (hits.nonEmpty) fail(s"MLlib clustering outside MlLsh:\n${hits.mkString("\n")}")
  }

  test("Futures are submitted only by ops/Concurrency.scala") {
    assert(sources(mainRoot).exists(_.getName == "Concurrency.scala"))
    val hits = offenders("ops/Concurrency.scala", Seq("Future"))
    if (hits.nonEmpty) fail(s"Future outside Concurrency:\n${hits.mkString("\n")}")
  }

  test("the MinHash shingle hash lives only in expressions/MinhashSignature.scala") {
    assert(sources(mainRoot).exists(_.getName == "MinhashSignature.scala"))
    val hits = offenders("expressions/MinhashSignature.scala", Seq("\"mh|\""))
    if (hits.nonEmpty) fail(s"MinHash shingle hash outside the kernel:\n${hits.mkString("\n")}")
  }

  test("Dedup explodes a shingle set only in shingleSet and ngramJaccardPairs") {
    // every other explode in Dedup is of something else: the band rows
    // of a signature, SimHash's token votes, ExactSubstr's positional
    // gram sequence
    val allowed = Set("shingleSet", "ngramJaccardPairs",
      "minhashBands", "simhash", "simhashPairs", "dupGramStarts")
    val file = new File(mainRoot, "graft/dedup/Dedup.scala")
    val defLine = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored
    val src = scala.io.Source.fromFile(file, "UTF-8")
    val hits = try {
      var current = ""
      src.getLines().zipWithIndex.flatMap { case (line, i) =>
        line match {
          case defLine(name) if !isComment(line) => current = name
          case _ => ()
        }
        if (!isComment(line) && line.contains("explode(") && !allowed(current))
          Some(s"dedup/Dedup.scala:${i + 1} (in $current): ${line.trim}")
        else None
      }.toList
    } finally src.close()
    if (hits.nonEmpty) fail(s"shingle explode outside shingleSet:\n${hits.mkString("\n")}")
  }

  test("library packages never write to System.err") {
    val libs = Seq("ops", "dedup", "text", "lsh", "ann", "multimodal", "streaming", "events")
    val dirs = libs.map(p => new File(mainRoot, s"graft/$p"))
    assert(dirs.forall(_.isDirectory), s"missing library package: ${dirs.filterNot(_.isDirectory)}")
    val hits = matches(dirs.flatMap(sources), Seq("System.err"))
    if (hits.nonEmpty) fail(s"System.err in library code:\n${hits.mkString("\n")}")
  }

  test("every table write goes through ops/Compaction.scala") {
    val hits = offenders("ops/Compaction.scala", Seq(".saveAsTable("))
    if (hits.nonEmpty) fail(s"saveAsTable outside Compaction:\n${hits.mkString("\n")}")
  }

  test("MLlib logistic regression is fitted only by text/Linear.scala") {
    assert(sources(mainRoot).exists(_.getName == "Linear.scala"))
    val hits = offenders("text/Linear.scala", Seq("LogisticRegression"))
    if (hits.nonEmpty) fail(s"LogisticRegression outside Linear:\n${hits.mkString("\n")}")
  }

  test("the id-modulus training gate lives only in ops/Sampling.scala") {
    val hits = offenders("ops/Sampling.scala", Seq("% math.round(1.0 /"))
    if (hits.nonEmpty) fail(s"id gate outside Sampling:\n${hits.mkString("\n")}")
  }
}
