package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent digest of a query result, computed the same way by
  * `expected.py` over DuckDB's answer: columns sorted by name, each cell
  * rendered canonically, rendered rows sorted, then SHA-256. Doubles are
  * compared bit for bit (the engine's oracle discipline rounds them in SQL),
  * timestamps as microseconds since the epoch in UTC.
  */
object Canon {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case x: String => x
    case x: java.sql.Timestamp => "t" + micros(x.toInstant)
    case x: java.time.Instant => "t" + micros(x)
    case x: java.time.LocalDateTime => "t" + micros(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "d" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "d" + x.toEpochDay
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
    case x: Array[Byte] => x.map("%02x".format(_)).mkString("b", "", "")
    case x: Row => x.toSeq.map(cell).mkString("{", ",", "}")
    case x => x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "nan" else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def dec(x: java.math.BigDecimal): String =
    if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Digest of rows under `schema`. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val header = order.map(_._1).mkString("\u001f")
    val body = rows.map(r => order.map { case (_, i) => cell(r.get(i)) }.mkString("\u001f"))
      .sorted
    sha256((header +: body).mkString("\n"))
  }
}
