package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One JSON object per event-log line, written with the Jackson that ships
  * with Spark. Values: String, Boolean, numbers, Option, Seq, Map.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(pairs: (String, Any)*): String = mapper.writeValueAsString(ListMap(pairs: _*))
}
