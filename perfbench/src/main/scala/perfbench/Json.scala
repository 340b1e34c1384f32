package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** JSON through the Jackson build that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(x: Any): String = mapper.writeValueAsString(x)

  def parseLongs(s: String): Map[String, Long] =
    mapper.readValue(s, classOf[java.util.Map[String, Object]]).asScala.map {
      case (k, v) => k -> v.asInstanceOf[Number].longValue()
    }.toMap
}
