package graft.perfbench

/** A minimal JSON writer for the benchmark's report lines. Every string
  * is escaped (quotes, backslashes and control characters), so an
  * exception message can never split or break a line. */
object Json {

  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 || c == 0x2028 || c == 0x2029 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.result()
  }

  /** Render a value: Map (insertion order kept for LinkedHashMap / Seq of
    * pairs), Seq, String, Boolean, numbers and null. Non-finite doubles
    * are not JSON and are rejected. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + escape(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def obj(kvs: (String, Any)*): scala.collection.mutable.LinkedHashMap[String, Any] =
    scala.collection.mutable.LinkedHashMap(kvs: _*)
}
