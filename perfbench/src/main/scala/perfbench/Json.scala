package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.util.RawValue
import org.apache.spark.sql.Row

/** JSON output of the harness, written by the Jackson that Spark ships.
  * Values Python's `json` cannot carry natively become tagged objects:
  * `{"$ts": ...}`, `{"$date": ...}`, `{"$f": "NaN"}` and `{"$bin": hex}`. */
object Json {
  private val mapper = new ObjectMapper()

  /** One JSON object with the fields in the order given. */
  def obj(fields: (String, Any)*): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, tag(v)) }
    mapper.writeValueAsString(m)
  }

  /** A pre-rendered JSON fragment, written through unquoted. */
  def raw(json: String): RawValue = new RawValue(json)

  private def tagged(tag: String, v: Any): java.util.Map[String, Any] =
    java.util.Collections.singletonMap(tag, v)

  private def double(d: Double): Any =
    if (d.isNaN || d.isInfinite) tagged("$f", d.toString) else d

  private def list(xs: Iterable[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(x => l.add(tag(x)))
    l
  }

  /** `v` as a value Jackson writes without a Scala module. */
  private def tag(v: Any): Any = v match {
    case null | None => null
    case Some(x) => tag(x)
    case _: String | _: Boolean | _: Int | _: Long | _: Short | _: Byte | _: RawValue => v
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal => double(d.doubleValue)
    case d: scala.math.BigDecimal => double(d.toDouble)
    case t: java.sql.Timestamp => tagged("$ts", t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => tagged("$ts", t.toString)
    case t: java.time.Instant =>
      tagged("$ts", java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString)
    case d: java.sql.Date => tagged("$date", d.toLocalDate.toString)
    case d: java.time.LocalDate => tagged("$date", d.toString)
    case a: Array[Byte] => tagged("$bin", a.map(x => f"$x%02x").mkString)
    case r: Row if r.schema != null =>
      val m = new java.util.LinkedHashMap[String, Any]()
      r.schema.fieldNames.zip(r.toSeq).foreach { case (k, x) => m.put(k, tag(x)) }
      m
    case r: Row => list(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, tag(x)) }
      out
    case s: Iterable[_] => list(s)
    case a: Array[_] => list(a)
    case other => other.toString
  }
}
