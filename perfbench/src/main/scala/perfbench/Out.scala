package perfbench

/** One JSON record per stdout line, prefixed with `@pb `; run.py reads
  * these, turns them into metrics, and ignores every other line. */
object Out {
  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 =>
      json(List(p.productElement(0), p.productElement(1)))
    case x => str(x.toString)
  }

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println("@pb " + json((("k" -> kind) +: fields).toMap))
  }

  /** Seconds since the JVM started, recorded under `name`. */
  def mark(name: String): Unit = emit("mark", "name" -> name, "t" ->
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
}
