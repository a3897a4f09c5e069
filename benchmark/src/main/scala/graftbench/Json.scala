package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in and out: the harness hands plans in as JSON files and
  * takes measurements back the same way. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  def parse(s: String): JsonNode = mapper.readTree(s)

  def readLines(path: String): Iterator[JsonNode] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().map(parse)

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))

  def render(v: Any): String = {
    val b = new StringBuilder
    def str(s: String): Unit = {
      b.append('"')
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None | () => b.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) b.append("null") else b.append(d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => b.append(n)
      case n: Long => b.append(n)
      case z: Boolean => b.append(z)
      case m: scala.collection.Map[_, _] =>
        b.append('{')
        m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) b.append(',')
          str(k.toString); b.append(':'); go(y)
        }
        b.append('}')
      case s: Iterable[_] =>
        b.append('[')
        s.zipWithIndex.foreach { case (y, i) => if (i > 0) b.append(','); go(y) }
        b.append(']')
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    b.toString
  }
}
