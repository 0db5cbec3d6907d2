package graft.spark

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The one JSON codec of the metadata plane: ledgers, receipts, the
  * Iceberg projection, `run_summary`, `oracle_sql.json` and the bench
  * lines are built as Jackson trees and written compactly by [[mapper]],
  * which also reads the table's metadata back. Jackson escapes `\`, `"`
  * and every control character U+0000-U+001F (RFC 8259 par 7), so any
  * string reads back exactly.
  */
object MetaJson {

  val mapper = new ObjectMapper()
  private val nodes = mapper.getNodeFactory

  /** An object holding `fields` in order, each value converted by [[node]]. */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** A Scala value as JSON: `null`, a string, a boolean, an Int, Long or
    * Double, a JsonNode as it is, and any other collection as an array.
    */
  private def node(v: Any): JsonNode = v match {
    case null => nodes.nullNode()
    case j: JsonNode => j
    case s: String => nodes.textNode(s)
    case b: Boolean => nodes.booleanNode(b)
    case i: Int => nodes.numberNode(i)
    case l: Long => nodes.numberNode(l)
    case d: Double => nodes.numberNode(d)
    case xs: Iterable[_] =>
      val a = nodes.arrayNode()
      xs.foreach(x => a.add(node(x)))
      a
    case other => throw new IllegalArgumentException(s"no JSON mapping for ${other.getClass}")
  }

  /** `v` as compact JSON text. */
  def write(v: Any): String = mapper.writeValueAsString(node(v))
}
