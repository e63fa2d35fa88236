package perfbench

/** Locale-independent JSON writing for the run record: numbers never go
  * through `String.format` or the default locale, and strings are fully
  * escaped, so a status carrying `}` or quotes cannot break the record. */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** A finite double in its shortest round-tripping form; JSON has no
    * NaN or infinity, so those become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

/** One metric as the record prints it. */
final case class Metric(value: Double, unit: String)

/** The run's result line: the last line of standard output. */
final case class Record(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Metric)]) {
  require(attempted >= 1, "a run attempts at least one operation")

  def toJson: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })))
}
