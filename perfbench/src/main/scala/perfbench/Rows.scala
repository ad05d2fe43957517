package perfbench

import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** Result rows as JSON-ready values for the oracle check in `run.py`:
  * structs and arrays become lists, maps objects, timestamps ISO text
  * with seconds, decimals doubles (the check compares numbers within a
  * relative 1e-9). */
object Rows {
  private val Iso = DateTimeFormatter.ISO_LOCAL_DATE_TIME

  def json(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(json)
    case s: scala.collection.Seq[_] => s.map(json).toSeq
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(k) -> json(x) }.toMap
    case t: java.time.LocalDateTime => t.format(Iso)
    case t: java.sql.Timestamp => t.toLocalDateTime.format(Iso)
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(Iso)
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case other => other
  }
}
