package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a fully materialized result.
  *
  * Every column of every row is rendered canonically and hashed; row
  * hashes are combined by wrapping sum (a multiset hash), so row order
  * never matters but every value does. Reading every column is what keeps
  * the optimizer from pruning work the caller asked for. */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = ofRows(df.schema, df.collect().toSeq)

  def ofRows(schema: StructType, rows: Seq[Row]): Result = {
    val md = MessageDigest.getInstance("MD5")
    def h64(s: String): Long = java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8")), 0, 8).getLong
    var sum = 0L
    rows.foreach(r => sum += h64(canon(r)))
    val names = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    Result(rows.length.toLong, f"${h64(names) ^ sum}%016x")
  }

  /** Canonical text of one value: exact for numbers (no locale, no
    * rounding), timestamps as epoch micros, binary as hex, maps sorted. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", "|", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString + "us"
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString + "us"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
