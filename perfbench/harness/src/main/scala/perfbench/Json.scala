package perfbench

/** Minimal JSON writer for run records and traces. Doubles print with
  * `Double.toString`, which reads back to the identical double. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) quote(sb, d.toString)
      else sb.append(java.lang.Double.toString(d))
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case n: Short => sb.append(n)
    case n: Byte => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
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

/** Wall clock with nanosecond resolution, anchored to the epoch so that
  * driver-side spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val anchorNs = System.currentTimeMillis() * 1000000L
  private val anchorMono = System.nanoTime()
  def nowNs: Long = anchorNs + (System.nanoTime() - anchorMono)
}
