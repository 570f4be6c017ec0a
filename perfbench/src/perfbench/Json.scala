package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through the Jackson that ships with Spark: `plan.json` in, results
  * out. Scala maps and sequences write as objects and arrays; a parsed
  * [[JsonNode]] (a collected answer) embeds as it is.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(text: String): JsonNode = mapper.readTree(text)

  def seq(n: JsonNode): Vector[JsonNode] = n.elements().asScala.toVector
  def ints(n: JsonNode): Vector[Int] = seq(n).map(_.asInt)
  def strings(n: JsonNode): Vector[String] = seq(n).map(_.asText)
}
