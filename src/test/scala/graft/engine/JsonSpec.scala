package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON codec ([[Json]]): string literals round-trip through every
  * reader shape, readers refuse malformed input by source, and no other
  * module under `src/main` escapes or reads JSON strings by hand. */
class JsonSpec extends AnyFunSuite {

  private val controls = (0 until 0x20).map(_.toChar).mkString
  private val samples = Seq("", "plain", "q\"uote", "back\\slash", "\\\"\\",
    controls, "/a\nb", "tab\there", "naïve 日本語 🦊", "line\u2028sep\u2029para")

  test("quote escapes quotes, backslashes and every control character; all shapes round-trip") {
    for (s <- samples) {
      val lit = Json.quote(s)
      assert(!lit.exists(_ < ' '), s"raw control character in $lit")
      assert(Json.stringArray(s"[$lit, $lit]", "t") == Vector(s, s))
      assert(Json.stringMap(s"{$lit: $lit, ${Json.quote(s + "!")}: ${Json.quote("x")}}", "t") ==
        Seq(s -> s, (s + "!") -> "x"))
      val objs = Json.objectArray(s"""[{"p":$lit,"l":-7}]""", "t")
      assert(objs.map(o => (o.string("p"), o.long("l"))) == Vector((s, -7L)))
    }
    assert(controls.forall(c => Json.quote(c.toString).matches("\"\\\\.+\"")))
  }

  test("ordinary text, non-ASCII and \\u2028 are written verbatim") {
    assert(Json.quote("/t/one") == "\"/t/one\"")
    assert(Json.quote("[4]float64 <a&b>") == "\"[4]float64 <a&b>\"")
    assert(Json.quote("naïve 日本語 \u2028\u2029") == "\"naïve 日本語 \u2028\u2029\"")
    assert(Json.quote("q\"b\\") == "\"q\\\"b\\\\\"")
  }

  test("readers accept raw control characters inside strings") {
    assert(Json.stringMap("{\"/a\nb\": \"x\ty\"}", "t") == Seq("/a\nb" -> "x\ty"))
    assert(Json.stringArray("[\"\u0001\"]", "t") == Vector("\u0001"))
  }

  test("escapes Go's json.Marshal writes read back") {
    assert(Json.stringArray("""["<a&b>","\/x","\b\f"]""", "t") ==
      Vector("<a&b>", "/x", "\b\f"))
  }

  test("truncated input throws IllegalArgumentException naming the source") {
    for (bad <- Seq("[\"a", "[\"a\"", "[\"a\\", "[\"a\\u00", "[\"a\" ", "[\"a\",")) {
      val e = intercept[IllegalArgumentException](Json.stringArray(bad, "the-source"))
      assert(e.getMessage == "the-source: unterminated JSON array", s"'$bad' -> $e")
    }
    for (bad <- Seq("{", "{\"k\"", "{\"k\":", "{\"k\":\"v\"", "{\"k\":\"v\","))
      assert(intercept[IllegalArgumentException](Json.stringMap(bad, "the-source"))
        .getMessage == "the-source: unterminated JSON object", bad)
    assert(intercept[IllegalArgumentException](Json.objectArray("[{\"p\":\"x\"", "off"))
      .getMessage == "off: unterminated JSON array")
  }

  test("wrongly-typed or malformed input throws IllegalArgumentException naming the source") {
    def refused(body: => Any): String = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.startsWith("src: "), e.getMessage)
      e.getMessage
    }
    assert(refused(Json.stringMap("""{"/t": 5}""", "src")).contains("\"/t\" is not a string"))
    assert(refused(Json.stringMap("""{"/t": null}""", "src")).contains("not a string"))
    assert(refused(Json.stringMap("""{"/t": {"a": "b"}}""", "src")).contains("not a string"))
    assert(refused(Json.stringMap("[]", "src")).contains("expected a JSON object"))
    assert(refused(Json.stringMap("", "src")).contains("expected a JSON object"))
    assert(refused(Json.stringArray("""["a", 1]""", "src")).contains("element 1 is not a string"))
    assert(refused(Json.stringArray("{}", "src")).contains("expected a JSON array"))
    assert(refused(Json.stringArray("""["a"] ["b"]""", "src")).contains("malformed JSON"))
    assert(refused(Json.stringArray("""["a",]""", "src")).contains("malformed JSON"))
    assert(refused(Json.stringArray("""['a']""", "src")).contains("malformed JSON"))
    assert(refused(Json.objectArray("[1]", "src")).contains("element 0 is not an object"))
    val o = Json.objectArray("""[{"p": "x", "l": "7", "f": 1.5, "big": 1e40}]""", "src").head
    assert(refused(o.long("l")).contains("field \"l\" is missing or not an integer"))
    assert(refused(o.long("f")).contains("not an integer"))
    assert(refused(o.long("big")).contains("not an integer"))
    assert(refused(o.string("t")).contains("field \"t\" is missing or not a string"))
    assert(refused(o.string("f")).contains("field \"f\" is missing or not a string"))
    assert(o.string("l") == "7")
    assert(refused(Json.objectArray("""[{"l": 99999999999999999999}]""", "src").head.long("l"))
      .contains("not an integer"))
  }

  test("JSON strings are escaped and read only through the codec") {
    // split so this file does not match
    val escape = "replace(\"\\\"\", " + "\"\\\\\\\"\")"
    val regexLiteral = "(?:[^\"\\\\]|" + "\\\\.)"
    def sources(dir: String): Seq[Path] = {
      val stream = Files.walk(Paths.get(dir))
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    }
    def uses(needle: String): Set[String] = sources("src/main/scala").filter { f =>
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8).contains(needle)
    }.map(_.getFileName.toString).toSet
    assert(escape == """replace("\"", "\\\"")""")
    // the codec itself has no hand escape; FossilWriter emulates Go's
    // json.Marshal byte for byte and ServerMetrics escapes Prometheus labels
    assert(uses(escape).subsetOf(Set("Json.scala", "FossilWriter.scala", "ServerMetrics.scala")))
    assert(uses(escape).contains("ServerMetrics.scala"))
    assert(uses(regexLiteral).isEmpty)
  }
}
