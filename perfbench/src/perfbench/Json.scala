package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's records, through the Jackson Scala module
  * that ships with Spark. `obj` keeps its keys in the order given.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(file: java.io.File): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(file)
}
