package graftbench

/** Minimal JSON writer for the benchmark's output lines: nested maps,
  * sequences, strings, booleans and numbers. Doubles are written with all
  * their digits; a non-finite double is written as null.
  */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(java.lang.Double.toString(d))
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString)
        sb.append(':')
        write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit =
    sb.append('"').append(graft.util.JsonEsc.escape(s)).append('"')
}
