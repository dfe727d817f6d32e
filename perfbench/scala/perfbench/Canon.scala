package perfbench

import java.math.{BigDecimal => JBig, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive content hash of a result, engine-neutral so that
  * perfbench/oracle.py computes the same digest from DuckDB rows:
  * columns sorted by name, each value rendered canonically, each row's
  * MD5 folded into a 64-bit sum. Numbers compare by value: integral
  * values print exactly, others rounded to 10 significant digits. Maps
  * and structs both render as {k=v,...}, sorted by the rendered key. */
object Canon {
  private val mc = new MathContext(10, RoundingMode.HALF_EVEN)

  private def num(b: JBig): String =
    if (b.signum == 0) "0"
    else {
      val s = b.stripTrailingZeros
      if (s.scale <= 0) s.toBigIntegerExact.toString
      else b.round(mc).stripTrailingZeros.toPlainString
    }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else num(new JBig(d))

  private def micros(i: java.time.Instant): String =
    (i.getEpochSecond * 1000000L + i.getNano / 1000).toString

  def value(x: Any): String = x match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case b: JBig => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(_.toString))
      names.zip(r.toSeq).sortBy(_._1)
        .map { case (k, v) => k + "=" + value(v) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v) => value(k) -> value(v) }.sortBy(_._1)
        .map { case (k, v) => k + "=" + v }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (sorted column names, row count, 16-hex-digit digest). */
  def digest(schema: StructType, rows: Array[Row]): (Seq[String], Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val line = order.map(i => value(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (order.map(schema.fieldNames(_)).toSeq, rows.length.toLong,
      f"$sum%016x")
  }
}

/** Just enough JSON for the benchmark's own files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
