package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result and trace files, via the Jackson Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
