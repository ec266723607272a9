package perfbench

/** Minimal JSON writer/reader for the benchmark's own files (the Spark
  * jars ship json4s, which [[read]] uses for parsing).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  /** Renders nested Map/Seq/String/Number/Boolean/Option values. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def read(path: String): Any = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text).values
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (render(v) + "\n").getBytes("UTF-8"))
}
