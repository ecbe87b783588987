package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON support: Jackson (shipped with Spark) parses, [[render]]
  * writes maps, sequences, strings, numbers and booleans. */
object Json {
  private val mapper = new ObjectMapper()

  def parse(text: String): JsonNode = mapper.readTree(text)

  def readFile(path: String): JsonNode =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => render(other.toString)
  }

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes("UTF-8"))
}
