package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The Jackson mapper the harness mains read and write records with:
  * Scala types supported, case-class fields written in snake_case. */
private[graft] object Json {
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  def readFile(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  /** The numeric fields of an object node (empty for anything else). */
  def numbers(node: JsonNode): Map[String, Double] =
    Option(node).filter(_.isObject).toSeq.flatMap(_.properties.asScala)
      .collect { case e if e.getValue.isNumber =>
        e.getKey -> e.getValue.asDouble }
      .toMap
}
