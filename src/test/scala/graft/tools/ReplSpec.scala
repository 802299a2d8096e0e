package graft.tools

import java.sql.Timestamp

import graft.Queries
import graft.SparkSpec
import graft.api.LocalClient
import graft.fql.Compiler

/** S8 output formats: the REPL's csv/json writers over a real store query. */
class ReplSpec extends SparkSpec {

  private val fixedClock: Compiler.Clock = () => 1735689600L * 1000000000L

  test("csv and json writers render query results line-per-row") {
    val root = Queries.scratchDir("graft_repl")
    val c = new LocalClient(spark, root, fixedClock)
    c.createTopic("/t", "float64")
    c.append("/t", 1.5, Timestamp.valueOf("2024-01-01 00:00:00"))
    c.append("/t", -2.0, Timestamp.valueOf("2024-01-02 00:00:00"))
    val df = c.query("all in /t").orderBy("time")

    val csv = Repl.render(df, "csv")
    assert(csv.size == 2)
    assert(csv.head.endsWith(",/t,1.5") && csv(1).endsWith(",/t,-2.0"))

    val json = Repl.render(df, "json")
    assert(json.size == 2)
    assert(json.head.contains("\"topic\":\"/t\"") && json.head.contains("\"value\":1.5"))

    assertThrows[IllegalArgumentException] { Repl.render(df, "xml") }
  }

  test("schema DDL and REPL command errors render reference-style carets") {
    import graft.engine.{FossilSchema, SchemaParseException}
    // bad scalar type: caret spans the unknown token
    val e1 = intercept[SchemaParseException] { FossilSchema.parse("flaot64") }
    assert(e1.getMessage ==
      "Syntax error found in schema:\nflaot64\n^" + ("~" * 6) +
        " unknown type 'flaot64'\n")
    // bad array element: caret lands on the element, not the brackets
    val e2 = intercept[SchemaParseException] { FossilSchema.parse("[4]varchar") }
    assert(e2.getMessage ==
      "Syntax error found in schema:\n[4]varchar\n   ^" + ("~" * 6) +
        " unknown type 'varchar'\n")
    // bad element INSIDE a composite: caret at the value's own offset
    val e3 = intercept[SchemaParseException] {
      FossilSchema.parse("""{"a": int32, "b": intt64}""")
    }
    assert(e3.getMessage == "Syntax error found in schema:\n" +
      """{"a": int32, "b": intt64}""" + "\n" +
      (" " * 18) + "^" + ("~" * 5) + " unknown type 'intt64'\n")
    // a SchemaParseException is still an IllegalArgumentException — the
    // store/catalog contract for bad DDL is unchanged
    assert(e1.isInstanceOf[IllegalArgumentException])
    // bad array length
    val e4 = intercept[SchemaParseException] { FossilSchema.parse("[x]int32") }
    assert(e4.getMessage ==
      "Syntax error found in schema:\n[x]int32\n ^ bad array length 'x'\n")

    // REPL command errors: misspelled vs incomplete, caret on the token
    assert(Repl.unrecognized("frobnicate topics", Repl.LocalCommands) ==
      "Syntax error found in command:\nfrobnicate topics\n" +
        "^" + ("~" * 9) + " unrecognized command 'frobnicate'\n")
    assert(Repl.unrecognized("append", Repl.LocalCommands) ==
      "Syntax error found in command:\nappend\n^" + ("~" * 5) +
        " incomplete command 'append'\n")
    assert(Repl.commandError("append /t", "append needs <topic> <data>", 9, 10) ==
      "Syntax error found in command:\nappend /t\n" +
        "         ^ append needs <topic> <data>\n")
  }

  test("parseDatum handles scalar, array and composite literals per schema") {
    import graft.engine.{Codec, FossilSchema}
    assert(Repl.parseDatum("int32", " 42 ") == 42L)
    assert(Repl.parseDatum("float64", "1.5") == 1.5)
    // reference parity: everything but the literal "false" is true
    assert(Repl.parseDatum("boolean", "true") == true)
    assert(Repl.parseDatum("boolean", "false") == false)
    assert(Repl.parseDatum("boolean", "yes") == true)
    assert(Repl.parseDatum("string", "a, b: c") == "a, b: c")
    // array literal: bare comma-separated (reference encoding.go:427-445)
    assert(Repl.parseDatum("[3]int32", "1, 2, 3") == Seq(1L, 2L, 3L))
    // composite literal: key: value with optional quotes (encoding.go:446-520)
    assert(Repl.parseDatum("""{"a": int32, "b": string}""", """"a": 7, "b": "x, y"""")
      == Map("a" -> 7L, "b" -> "x, y"))
    // the parsed values round-trip through the wire codec
    val arr = Codec.encode(FossilSchema.parse("[3]int32"),
      Repl.parseDatum("[3]int32", "1,2,3"))
    assert(Codec.decode(FossilSchema.parse("[3]int32"), arr) == Seq(1, 2, 3))
    // composites with ARRAY fields: the array's bare comma-separated
    // elements re-merge into their field (valid schema per the reference:
    // only nested composites are banned)
    assert(Repl.parseDatum("""{"a": [3]int32, "b": int32}""", """"a": 1, 2, 3, "b": 7""")
      == Map("a" -> Seq(1L, 2L, 3L), "b" -> 7L))
    assert(Repl.parseDatum("""{"b": int32, "a": [2]float32}""", """"b": 5, "a": 1.5, 2.5""")
      == Map("b" -> 5L, "a" -> Seq(1.5, 2.5)))
    // malformed / unknown-key composites fail loudly, not as string fallback
    assertThrows[IllegalArgumentException] {
      Repl.parseDatum("""{"a": int32}""", """"z": 1""")
    }
    assertThrows[IllegalArgumentException] {
      Repl.parseDatum("""{"a": int32}""", """no colon here""")
    }
    // an escaped quote inside a string value must not flip the quote
    // state (it would misparse the following comma/colon of the literal);
    // the escape resolves in the parsed value
    assert(Repl.parseDatum("""{"a": string, "b": int32}""",
      """"a": "x \" y, z: w", "b": 7""")
      == Map("a" -> """x " y, z: w""", "b" -> 7L))
    assert(Repl.parseDatum("string", """plain \ backslash stays""")
      == """plain \ backslash stays""")
    // only \" and \\ are escape sequences inside quotes: a backslash
    // before any OTHER character is literal — "C:\temp" keeps its
    // backslash (round-8 ADVICE regression golden), while "x\\y"
    // collapses the doubled backslash
    assert(Repl.parseDatum("""{"a": string}""", """"a": "C:\temp"""")
      == Map("a" -> """C:\temp"""))
    assert(Repl.parseDatum("""{"a": string}""", """"a": "x\\y"""")
      == Map("a" -> """x\y"""))
  }

  test("local append parses the datum by the inherited schema") {
    val c = new LocalClient(spark, Queries.scratchDir("graft_repl_inherit"), fixedClock)
    c.createTopic("/a", "float64")
    Repl.localAppend(c, "/a/b", "1.5")
    val df = c.query("all in /a/b")
    assert(df.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.collect().map(_.getAs[Double]("value")).toSeq == Seq(1.5))
  }

  test("effectiveDdl mirrors the server's inheritance walk") {
    val topics = Seq("/a" -> "float64", "/a/b" -> "string", "/x" -> "string",
      "/" -> "int64")
    // exact topic wins, even when default
    assert(Repl.effectiveDdl(topics, "/a/b") == "string")
    // default-'string' ancestors are SKIPPED (like Catalog.parentSchema):
    // /a/b/c inherits float64 from /a, not string from /a/b
    assert(Repl.effectiveDdl(topics, "/a/b/c") == "float64")
    // the root '/' participates in the walk
    assert(Repl.effectiveDdl(topics, "/x/y") == "int64")
    // nothing applicable → default
    assert(Repl.effectiveDdl(Seq("/q" -> "string"), "/q/r") == "string")
  }
}
