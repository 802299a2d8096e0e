package graft.sources

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.Queries
import graft.SparkSpec

/** WARC parsing against hand-spelled record bytes (an independent
  * rendering of the ISO 28500 layout, not the writer's output) plus
  * writer round-trips, gzip member handling, and salvage semantics. */
class WarcSpec extends SparkSpec {

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("hand-spelled record bytes parse: headers, payload, trailing CRLFs") {
    val raw = b(
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Target-URI: http://x.example/a\r\n" +
        "WARC-Date: 2024-06-01T00:00:05Z\r\n" +
        "Content-Length: 11\r\n" +
        "\r\n" +
        "hello warc!" +
        "\r\n\r\n" +
        "WARC/1.0\r\n" +
        "content-length: 3\r\n" + // header names are case-insensitive
        "WARC-Type: metadata\r\n" +
        "\r\n" +
        "xyz" +
        "\r\n\r\n")
    val (recs, salvaged) = Warc.parseRecords(raw)
    assert(salvaged == 0 && recs.length == 2)
    assert(recs(0).warcType == "response")
    assert(recs(0).targetUri == "http://x.example/a")
    assert(new String(recs(0).payload) == "hello warc!")
    assert(recs(0).dateUs == 1717200005000000L)
    assert(new String(recs(1).payload) == "xyz")
    assert(recs(1).warcType == "metadata")
  }

  test("truncated tail is salvaged, not fatal; the good prefix survives") {
    val good = Warc.writeRecords(Seq(
      Warc.Record(Map("WARC-Type" -> "response"), b("complete"))), gzip = false)
    val truncated = good ++ b("WARC/1.0\r\nContent-Length: 99\r\n\r\nshort")
    val (recs, salvaged) = Warc.parseRecords(truncated)
    assert(recs.length == 1 && new String(recs(0).payload) == "complete")
    assert(salvaged > 0)
    // a record with no Content-Length also truncates the tail
    val bad = good ++ b("WARC/1.0\r\nWARC-Type: response\r\n\r\nbody")
    assert(Warc.parseRecords(bad)._1.length == 1)
  }

  test("per-record gzip members concatenate and sniff transparently") {
    val recs = (1 to 5).map(i =>
      Warc.Record(Map("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://x/$i"), b(s"payload-$i")))
    val gz = Warc.writeRecords(recs, gzip = true)
    val (back, salvaged) = Warc.parseFile(gz)
    assert(salvaged == 0)
    assert(back.map(r => new String(r.payload)) ==
      (1 to 5).map(i => s"payload-$i"))
    // plain bytes pass through the same sniffing entry point
    val plain = Warc.writeRecords(recs, gzip = false)
    assert(Warc.parseFile(plain)._1.length == 5)
  }

  test("httpBody splits at the first blank line only; bodies keep \\n\\n") {
    val payload = b("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
      "para one\n\npara two")
    val (head, body) = Warc.httpBody(payload)
    assert(head.startsWith("HTTP/1.1 200 OK"))
    assert(new String(body) == "para one\n\npara two")
    // no boundary → all body
    val (h2, b2) = Warc.httpBody(b("raw bytes, no http"))
    assert(h2.isEmpty && new String(b2) == "raw bytes, no http")
  }

  test("distributed read over a mixed plain/gz directory") {
    val dir = Queries.scratchDir("graft_warc_spec")
    val recs = (1L to 6L).map(i =>
      Warc.Record(Map("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://x/$i",
        "WARC-Date" -> "2024-06-01T00:00:00Z"), b(s"t$i")))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      Warc.writeRecords(recs.take(3), gzip = false))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.warc.gz"),
      Warc.writeRecords(recs.drop(3), gzip = true))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "ignored.txt"),
      b("not a warc"))
    val got = Warc.read(spark, dir).collect()
    assert(got.length == 6)
    assert(got.map(_.getAs[String]("file")).distinct.sorted.toSeq ==
      Seq("a.warc", "b.warc.gz"))
    assert(got.forall(_.getAs[String]("warc_type") == "response"))
  }
}
