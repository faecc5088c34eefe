package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result files and the summary line, through the Jackson
  * (and its Scala module) that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def parse(text: String): JsonNode = mapper.readTree(text)
}
