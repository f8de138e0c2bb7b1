package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.dedup.MinhashFamily

/** MinHash signature of one document's shingle set (`array<string>`)
  * in one native pass: per shingle ONE md5 of `"mh|" + s` whose top 60
  * bits are exactly `hex64(concat('mh|', s))` (=
  * `conv(substring(md5(x),1,15),16,10)` — the DuckDB oracle's formula),
  * split into 30-bit halves and fed to the `k` [[MinhashFamily]]
  * Carter-Wegman functions, min over the set per function.
  *
  * Output: `array<long>` of `k` values, or null when the set has no
  * (non-null) shingle — a document without shingles has no signature.
  * Null elements are skipped. The per-row work is a projection: no
  * explode, no grouped min aggregate, no shuffle, and it stays inside
  * whole-stage codegen (one virtual call per row, the
  * [[WinnowFingerprints]] idiom). The companion's `Prefix` is the one
  * definition of the MinHash shingle hash's salt.
  */
case class MinhashSignature(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "minhash needs at least one hash function")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  @transient private lazy val coefs = MinhashFamily.coefs(k)
  @transient private lazy val ca = coefs.map(_.a).toArray
  @transient private lazy val cb = coefs.map(_.b).toArray
  @transient private lazy val cc = coefs.map(_.c).toArray

  def compute(v: Any): ArrayData = {
    val sh = v.asInstanceOf[ArrayData]
    val n = sh.numElements()
    val (a, b, c) = (ca, cb, cc)
    val mins = Array.fill(k)(Long.MaxValue)
    val md = MinhashSignature.md5.get()
    var any = false
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        md.reset()
        md.update(MinhashSignature.Prefix)
        md.update(sh.getUTF8String(i).getBytes)
        // first 60 bits of the digest, unsigned = conv(substring(hex,1,15),16,10)
        val h = java.nio.ByteBuffer.wrap(md.digest()).getLong >>> 4
        val hi = h >>> 30
        val lo = h & MinhashFamily.LoMask
        var j = 0
        while (j < k) {
          val x = (hi * a(j) + lo * b(j) + c(j)) % MinhashFamily.Prime
          if (x < mins(j)) mins(j) = x
          j += 1
        }
        any = true
      }
      i += 1
    }
    if (any) new GenericArrayData(mins) else null
  }

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashExpr", this, classOf[MinhashSignature].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinhashSignature {
  private val Prefix: Array[Byte] = "mh|".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}
