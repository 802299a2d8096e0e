package graft.engine

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.core.io.JsonEOFException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.JsonNodeType

import scala.jdk.CollectionConverters._

/** The library's one JSON codec, on the Jackson that Spark ships: string
  * literals for the documents graft writes by hand (each site keeps its
  * own layout), and readers for the three shapes it stores — a flat
  * string→string object (`catalog.json`, `_wire_import.json`), a string
  * array (native fossil `topics`/`schemas`, Spark's `paths` option) and an
  * array of flat objects (the `fossil` stream offset).
  *
  * Readers refuse what does not have the shape with an
  * `IllegalArgumentException` naming `source` (the file or offset being
  * read). They accept raw control characters inside strings: sidecars
  * written before this codec carried them unescaped. */
private[graft] object Json {

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** `s` as a JSON string literal (RFC 8259): `"`, `\` and every control
    * character escaped, everything else verbatim. */
  def quote(s: String): String = mapper.writeValueAsString(s)

  /** A flat object of string values, as (key, value) in document order. */
  def stringMap(text: String, source: String): Seq[(String, String)] =
    read(text, source, JsonNodeType.OBJECT).properties().asScala.toSeq
      .map(e => e.getKey -> string(e.getValue, source, s"value of ${quote(e.getKey)}"))

  /** An array of strings. */
  def stringArray(text: String, source: String): Vector[String] =
    read(text, source, JsonNodeType.ARRAY).asScala.toVector.zipWithIndex
      .map { case (n, i) => string(n, source, s"element $i") }

  /** An array of flat objects, each read field by field through [[Fields]]. */
  def objectArray(text: String, source: String): Vector[Fields] =
    read(text, source, JsonNodeType.ARRAY).asScala.toVector.zipWithIndex.map { case (n, i) =>
      if (!n.isObject) fail(source, s"element $i is not an object")
      new Fields(n, source, s"element $i")
    }

  /** One object of [[objectArray]]: a missing or mistyped field is refused. */
  final class Fields private[Json] (node: JsonNode, source: String, where: String) {
    private def field(k: String, kind: String)(ok: JsonNode => Boolean): JsonNode =
      Option(node.get(k)).filter(ok)
        .getOrElse(fail(source, s"$where field ${quote(k)} is missing or not $kind"))

    def string(k: String): String = field(k, "a string")(_.isTextual).textValue
    def long(k: String): Long =
      field(k, "an integer")(n => n.isIntegralNumber && n.canConvertToLong).asLong
  }

  private def string(n: JsonNode, source: String, what: String): String =
    if (n.isTextual) n.textValue else fail(source, s"$what is not a string")

  private def read(text: String, source: String, shape: JsonNodeType): JsonNode = {
    val name = shape.name.toLowerCase
    val node = try mapper.readTree(text) catch {
      case e: JacksonException =>
        val at = Option(e.getLocation)
        if (e.isInstanceOf[JsonEOFException] || at.exists(_.getCharOffset >= text.length))
          fail(source, s"unterminated JSON $name")
        fail(source, s"malformed JSON: ${e.getOriginalMessage}" +
          at.fold("")(l => s" at line ${l.getLineNr}, column ${l.getColumnNr}"))
    }
    if (node == null || node.getNodeType != shape) fail(source, s"expected a JSON $name")
    node
  }

  private def fail(source: String, what: String): Nothing =
    throw new IllegalArgumentException(s"$source: $what")
}
