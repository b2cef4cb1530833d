package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap

/** The raw observation document: ordered objects, written with the
  * Jackson Scala module that ships with Spark. */
object Json {
  type Obj = ListMap[String, Any]

  def obj(kv: (String, Any)*): Obj = ListMap(kv: _*)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
