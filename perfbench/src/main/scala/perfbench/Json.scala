package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON in and out through the Jackson copy on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper()

  private def java(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> java(x) }.asJava
    case s: Iterable[_]                => s.map(java).toSeq.asJava
    case x                             => x
  }

  def apply(v: Any): String = mapper.writeValueAsString(java(v))

  /** name -> (rows, hash or None for rows-only) from an expected file. */
  def readExpected(file: Path): Map[String, (Long, Option[String])] =
    if (!Files.exists(file)) Map.empty
    else mapper.readTree(file.toFile).fields().asScala.map { e =>
      val h = e.getValue.get("hash")
      e.getKey -> (e.getValue.get("rows").asLong, Option(h).filterNot(_.isNull).map(_.asText))
    }.toMap
}
