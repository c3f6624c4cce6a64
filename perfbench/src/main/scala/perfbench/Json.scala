package perfbench

/** Minimal JSON rendering for the run record. Doubles keep every digit;
  * values JSON cannot carry as numbers are tagged objects the runner decodes
  * (`{"$double": "NaN"}`, and `{"$micros": <epoch microseconds>}` for
  * timestamps). Other types render as strings, which no oracle matches.
  */
object Json {
  def apply(v: Any): String = { val b = new StringBuilder; put(b, v); b.toString }

  private def str(b: StringBuilder, s: String): Unit = {
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
  }

  private def tagged(b: StringBuilder, tag: String, s: String): Unit = {
    b ++= "{\""; b ++= tag; b ++= "\":"; str(b, s); b += '}'
  }

  private def put(b: StringBuilder, v: Any): Unit = v match {
    case null => b ++= "null"
    case s: String => str(b, s)
    case x: Boolean => b ++= x.toString
    case x: Double => if (x.isNaN || x.isInfinite) tagged(b, "$double", x.toString) else b ++= x.toString
    case x: Int => b ++= x.toString
    case x: Long => b ++= x.toString
    case x: java.sql.Timestamp =>
      b ++= "{\"$micros\":"
      b ++= (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
      b += '}'
    case m: scala.collection.Map[_, _] =>
      b += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) b += ','
        str(b, k.toString); b += ':'; put(b, x)
      }
      b += '}'
    case xs: Iterable[_] =>
      b += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) b += ','; put(b, x) }
      b += ']'
    case other => str(b, other.toString)
  }
}
