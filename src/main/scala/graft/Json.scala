package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** The engine's one JSON codec: jackson-databind with its Scala module,
  * both shipped in Spark's jars. Lake manifests and checkpoints, the CLI's
  * one-line results and Verify's oracle dump all go through [[mapper]], so
  * no hand-built string can emit invalid JSON. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One JSON object, fields in the order given. */
  def obj(fields: (String, Any)*): String = mapper.writeValueAsString(ListMap(fields: _*))
}
