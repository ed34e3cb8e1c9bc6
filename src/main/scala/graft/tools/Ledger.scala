package graft.tools

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The one reader of the committed JSON ledgers (`BENCH_BASELINE_PERQ.json`,
  * `OCTAVE_BASELINE.json`) that Bench and ScaleProbe compare against, and
  * the one writer of the reports they and Verify emit. A number reads the
  * same whether its writer serialized it as an integer, a float or a big
  * decimal. */
object Ledger {
  private val mapper = new ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** `doc` (insertion-ordered Scala maps, sequences, numbers, strings) as
    * one JSON line; Jackson escapes every string. */
  def json(doc: Any): String = mapper.writeValueAsString(doc)

  /** The ledger at `path` as a tree; None when the file does not exist.
    * An unreadable file throws. */
  def read(path: String): Option[JsonNode] = {
    val f = new java.io.File(path)
    if (f.exists) Some(mapper.readTree(f)) else None
  }

  /** The number at `node`; None for a missing or non-numeric node. */
  def num(node: JsonNode): Option[Double] =
    Option(node).filter(_.isNumber).map(_.asDouble)

  /** `field -> number` for each field of object `node` whose value, seen
    * through `at`, is a number. */
  def nums(node: JsonNode, at: JsonNode => JsonNode = identity): Map[String, Double] =
    node.properties().asScala.flatMap(e => num(at(e.getValue)).map(e.getKey -> _)).toMap
}
