package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON I/O: Jackson (shipped with Spark) to read, a direct
  * renderer for the Map/Seq/number trees the harness writes.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def strings(n: JsonNode): Seq[String] = elems(n).map(_.asText)
  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(new File(path).toPath, render(v).getBytes(StandardCharsets.UTF_8))
}
