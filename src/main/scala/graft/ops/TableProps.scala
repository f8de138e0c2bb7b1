package graft.ops

import org.apache.spark.sql.SparkSession

/** Shared TBLPROPERTIES codec for the index-at-rest family: one place
  * that writes a property, reads it back (missing → error, the
  * no-silent-serving posture), and extracts integer fields from the
  * small JSON blobs the indexes store — so LSH params / search stats /
  * PQ params cannot each grow a subtly different hand-rolled parser.
  */
object TableProps {

  /** Single quotes in key/value are doubled (ANSI string-literal
    * escaping) — the current callers only write self-generated JSON
    * blobs, but this is the shared codec for the whole index-at-rest
    * family and a stray quote must not break (or worse, truncate) the
    * DDL statement.
    */
  def set(spark: SparkSession, table: String, key: String, value: String): Unit = {
    def esc(s: String): String = s.replace("'", "''")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('${esc(key)}' = '${esc(value)}')")
  }

  /** The property, or None where the table lacks it (e.g. an index
    * persisted before the property existed).
    */
  def find(spark: SparkSession, table: String, key: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .get(key)

  def get(spark: SparkSession, table: String, key: String): String =
    find(spark, table, key).getOrElse(sys.error(s"table $table has no $key property"))

  /** Integer field from a flat JSON object string. */
  def longField(json: String, key: String): Long = {
    val m = s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json)
    m.getOrElse(sys.error(s"property lacks $key: $json")).group(1).toLong
  }

  /** String field from a flat JSON object string. The values are
    * self-written identifier-ish strings (language codes, table
    * names) — no escape handling needed or attempted.
    */
  def stringField(json: String, key: String): String = {
    val m = s""""$key"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(json)
    m.getOrElse(sys.error(s"property lacks $key: $json")).group(1)
  }

  /** Floating-point field from a flat JSON object string. The values
    * are self-written `Double.toString` renderings (which round-trip
    * exactly through `toDouble`), so the pattern accepts plain,
    * fractional, and exponent forms.
    */
  def doubleField(json: String, key: String): Double = {
    val m = s""""$key"\\s*:\\s*(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)""".r
      .findFirstMatchIn(json)
    m.getOrElse(sys.error(s"property lacks $key: $json")).group(1).toDouble
  }
}
