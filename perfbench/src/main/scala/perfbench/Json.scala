package perfbench

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  /** An already-encoded JSON value. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def arr(encoded: Seq[String]): String = encoded.mkString("[", ", ", "]")
}
