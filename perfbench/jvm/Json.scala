package perfbench

/** The benchmark's one JSON writer: every string that reaches an output
  * file goes through [[Json.str]], so a quote, backslash or control
  * character in an exception message or key name cannot break the file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** A JSON value from a Scala value: strings are escaped, numbers must be
    * finite, sequences and maps nest. */
  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d"); d.toString
    case n: Int              => n.toString
    case n: Long             => n.toString
    case o: Option[_]        => o.map(value).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(value).mkString("[", ",", "]")
    case other               => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}
