package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result digest. The encoding is specified in
  * README.md ("Output checks") and implemented a second time in
  * `digest.py`, which digests DuckDB oracle results and the parquet files
  * the F1 DAG writes; both must agree value for value.
  *
  * digest = "<rows>:<sum of row hashes mod 2^64, hex>:<column-set hash>"
  */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => enc(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(
        md.digest(line.getBytes(StandardCharsets.UTF_8))).getLong
    }
    val cols = md.digest(schema.fieldNames.sorted.mkString(",")
      .getBytes(StandardCharsets.UTF_8)).take(4).map("%02x".format(_)).mkString
    f"${rows.length}:$sum%016x:$cols"
  }

  def enc(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case n: java.lang.Byte => n.toString
    case n: java.lang.Short => n.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Long => n.toString
    case d: java.lang.Double => encDouble(d)
    case f: java.lang.Float => encDouble(f.toDouble)
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => enc(d.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      enc(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => enc(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => enc(k) + "=" + enc(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case other => other.toString
  }

  /** IEEE bits, so no decimal printing differs between languages; -0.0
    * folds to 0.0 and every NaN to one token (the oracles' `=` semantics).
    */
  private def encDouble(d: Double): String =
    if (d.isNaN) "nan"
    else f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"
}
