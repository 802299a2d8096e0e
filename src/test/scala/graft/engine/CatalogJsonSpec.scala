package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Queries, SparkSpec}

/** The store's `catalog.json` sidecar as a JSON document: its exact bytes
  * for ordinary names, a refused malformed entry, and the raw control
  * characters older sidecars carry. */
class CatalogJsonSpec extends SparkSpec {

  private def sidecar(root: String) = Paths.get(root, "catalog.json")

  private def write(root: String, text: String): Unit =
    Files.write(sidecar(root), text.getBytes(StandardCharsets.UTF_8))

  test("catalog.json keeps its layout: one \"k\": \"v\" per line, version key first") {
    val root = Queries.scratchDir("graft_catjson_pin")
    val store = new ParquetStore(spark, root)
    store.catalog.create("/a", FossilSchema.parse("float64"))
    store.catalog.create("/a/b")
    store.catalog.create("/q\"b\\")
    store.catalog.create("/v", FossilSchema.parse("[4]float32"))
    ParquetStore.saveCatalog(root, store.catalog)
    assert(new String(Files.readAllBytes(sidecar(root)), StandardCharsets.UTF_8) ==
      """{
        |  "__format_version": "2",
        |  "/a": "float64",
        |  "/a/b": "float64",
        |  "/q\"b\\": "string",
        |  "/v": "[4]float32"
        |}""".stripMargin)
    assert(new ParquetStore(spark, root).catalog.list == store.catalog.list)
  }

  test("a catalog.json entry whose value is not a string is refused, naming the file") {
    val root = Queries.scratchDir("graft_catjson_bad")
    write(root, "{\n  \"__format_version\": \"2\",\n  \"/ok\": \"int64\",\n  \"/t\": 5\n}")
    val e = intercept[IllegalArgumentException](new ParquetStore(spark, root))
    assert(e.getMessage.contains(sidecar(root).toString), e.getMessage)
  }

  test("a legacy catalog.json with a raw newline inside a topic string still opens") {
    val root = Queries.scratchDir("graft_catjson_raw")
    write(root, "{\n  \"__format_version\": \"2\",\n  \"/a\nb\": \"int64\",\n  \"/c\": \"string\"\n}")
    assert(new ParquetStore(spark, root).catalog.list.toMap == Map("/a\nb" -> FossilSchema.parse("int64"),
      "/c" -> FossilSchema.parse("string")))
  }
}
