package perfbench

/** Dependency-free JSON encoding for the harness's result and span files.
  * Values are `Map[String, Any]` (kept in insertion order when a
  * `scala.collection.Seq` of pairs is wrapped in [[Json.Obj]]), `Seq`,
  * `String`, numbers, `Boolean` and `null`. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

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
    (b += '"').toString
  }

  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + encode(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(encode)
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def read(path: java.nio.file.Path): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
}
