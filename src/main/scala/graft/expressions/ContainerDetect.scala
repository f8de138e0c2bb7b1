package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Container detection for `Binary.triage` as ONE codegen kernel —
  * the magic-byte decision tree that routes twenty-one families.
  *
  * This replaces a Catalyst CASE of per-byte column arithmetic
  * (`conv(hex(substring(...)))` chains for the MP3 sync word and
  * friends) that, inlined three times through the triage
  * projection's `detected`/`valid`/`content_units` outputs, grew the
  * generated `processNext()` past janino's 64 KB method limit — the
  * whole triage stage silently ran INTERPRETED (an r15 finding; the
  * same lesson as r13's `mm_png_pixels` HOFs, one layer down). One
  * static Java call keeps the stage inside whole-stage codegen.
  *
  * The decision tree mirrors the column predicates family by family
  * IN ORDER (WebP's RIFF form type splits off before the default-
  * audio RIFF lane; detection stays a ROUTER — each family's parse
  * kernel is the validator). DetectParitySpec pins kernel ≡ column
  * agreement across every synth family, text, and truncations.
  */
object ContainerDetectKernel {
  private val Unknown = UTF8String.fromString("unknown")
  private[graft] val Names: Map[String, UTF8String] =
    Seq("webp", "wav", "png", "jpeg", "bmp", "gif", "pdf", "heif", "mp4",
      "zip", "tiff", "mp3", "flac", "ogg", "mkv", "avro", "parquet", "orc",
      "gzip", "zstd", "ico").map(s => s -> UTF8String.fromString(s)).toMap

  private def ascii(p: Array[Byte], off: Int, s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (p(off + i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  def detect(p: Array[Byte]): UTF8String = {
    val n = p.length
    val name =
      if (n >= 12 && ascii(p, 0, "RIFF") && ascii(p, 8, "WEBP")) "webp"
      else if (n >= 4 && ascii(p, 0, "RIFF")) "wav"
      else if (n >= 8 && (p(0) & 0xFF) == 0x89 && ascii(p, 1, "PNG") &&
        p(4) == 0x0D && p(5) == 0x0A && p(6) == 0x1A && p(7) == 0x0A) "png"
      else if (n >= 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8 &&
        (p(2) & 0xFF) == 0xFF) "jpeg"
      else if (n >= 54 && ascii(p, 0, "BM")) "bmp"
      else if (n >= 14 && ascii(p, 0, "GIF8") &&
        (ascii(p, 4, "7a") || ascii(p, 4, "9a"))) "gif"
      else if (n >= 10 && ascii(p, 0, "%PDF-")) "pdf"
      // HEIF brands split off BEFORE the generic BMFF lane (an AVIF
      // is `ftyp`-framed like video, but routes to the image walk)
      else if (n >= 12 && ascii(p, 4, "ftyp") &&
        (ascii(p, 8, "avif") || ascii(p, 8, "avis") ||
          ascii(p, 8, "heic") || ascii(p, 8, "heix") ||
          ascii(p, 8, "mif1"))) "heif"
      else if (n >= 12 && ascii(p, 4, "ftyp")) "mp4"
      else if (n >= 4 && p(0) == 'P' && p(1) == 'K' && p(2) == 3 &&
        p(3) == 4) "zip"
      else if (n >= 8 && ((p(0) == 'I' && p(1) == 'I' && p(2) == 42 &&
        p(3) == 0) || (p(0) == 'M' && p(1) == 'M' && p(2) == 0 &&
        p(3) == 42))) "tiff"
      else if ((n >= 10 && ascii(p, 0, "ID3") &&
        (p(3) & 0xFF) >= 2 && (p(3) & 0xFF) <= 4) ||
        (n >= 4 && (p(0) & 0xFF) == 0xFF && ((p(1) & 0xFF) >>> 5) == 7 &&
          (((p(1) & 0xFF) >>> 3) & 3) != 1 &&
          (((p(1) & 0xFF) >>> 1) & 3) != 0)) "mp3"
      else if (n >= 8 && ascii(p, 0, "fLaC") && (p(4) & 0x7F) == 0) "flac"
      else if (n >= 5 && ascii(p, 0, "OggS") && p(4) == 0) "ogg"
      else if (n >= 4 && (p(0) & 0xFF) == 0x1A && (p(1) & 0xFF) == 0x45 &&
        (p(2) & 0xFF) == 0xDF && (p(3) & 0xFF) == 0xA3) "mkv"
      else if (n >= 4 && ascii(p, 0, "Obj") && p(3) == 1) "avro"
      else if (n >= 12 && ascii(p, 0, "PAR1") && ascii(p, n - 4, "PAR1"))
        "parquet"
      else if (n >= 16 && ascii(p, 0, "ORC")) "orc"
      else if (n >= 18 && (p(0) & 0xFF) == 0x1F && (p(1) & 0xFF) == 0x8B &&
        (p(2) & 0xFF) == 8) "gzip"
      else if (n >= 8 && (((p(0) & 0xFF) == 0x28 && (p(1) & 0xFF) == 0xB5 &&
        (p(2) & 0xFF) == 0x2F && (p(3) & 0xFF) == 0xFD) ||
        ((p(1) & 0xFF) == 0x2A && (p(2) & 0xFF) == 0x4D &&
          (p(3) & 0xFF) == 0x18))) "zstd"
      else if (n >= 22 && p(0) == 0 && p(1) == 0 && p(2) == 1 && p(3) == 0 &&
        ((p(4) & 0xFF) | ((p(5) & 0xFF) << 8)) >= 1) "ico"
      else return Unknown
    Names(name)
  }
}

/** `container_detect(payload) → string`; see
  * [[ContainerDetectKernel.detect]].
  */
case class ContainerDetect(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "container_detect"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary input, got $other")
    }

  override def nullSafeEval(d: Any): Any =
    ContainerDetectKernel.detect(d.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      |${ev.value} = graft.expressions.ContainerDetectKernel.detect($d);
      |""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
