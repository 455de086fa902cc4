package perfbench

/** Minimal JSON writer for the result records (maps, sequences, strings,
  * numbers, booleans). Doubles print with all their digits. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(v, sb)
    sb.toString
  }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("null")
    case s: String => str(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      sb.append(d.toString)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      for ((k, x) <- m) {
        if (!first) sb.append(',')
        first = false
        str(k.toString, sb); sb.append(':'); emit(x, sb)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      for (x <- xs) { if (!first) sb.append(','); first = false; emit(x, sb) }
      sb.append(']')
    case other => str(other.toString, sb)
  }

  private def str(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
