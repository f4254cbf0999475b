package perfbench

/** Minimal JSON writer for the run record: maps, sequences, numbers,
  * strings, booleans and null. Map keys keep insertion order when a
  * `scala.collection.immutable.ListMap` or `LinkedHashMap` is passed.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(sb, v)
    sb.toString
  }

  private def emit(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => emit(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; emit(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; emit(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
