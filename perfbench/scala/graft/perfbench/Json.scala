package graft.perfbench

import org.json4s.{DefaultFormats, JValue}
import org.json4s.jackson.JsonMethods

/** Minimal JSON in and out for the benchmark's own files. */
object Json {
  implicit val formats: DefaultFormats.type = DefaultFormats

  def parse(s: String): JValue = JsonMethods.parse(s)

  def read(path: String): JValue =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Render Maps, Seqs, Options, numbers, booleans and strings. A value
    * that is already a rendered JSON document is passed as [[Raw]]. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v) + "\n")
}
