package graft.streaming

import graft.{Queries, SparkEntry, SparkSpec}

/** The two live-migration rows share one body and differ only in the
  * drain source: the raw store file stream (stream_wire_follow) and the
  * `fossil` DSv2 micro-batch connector (stream_dsv2, with a trailing idle
  * drain). Both must land every migrated entry exactly once, so their
  * results are equal; each keeps its own ledger keys. */
class LiveMigrationSpec extends SparkSpec {

  test("stream_wire_follow and stream_dsv2 give equal results under their own ledger keys") {
    import Ordering.Double.TotalOrdering
    val d = "/root/testdata/sf0.001"
    def run(row: String) =
      SparkEntry.queries(row)(spark, d).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted
    val viaFiles = run("stream_wire_follow")
    val viaConnector = run("stream_dsv2")
    assert(viaFiles.nonEmpty && viaFiles == viaConnector)
    assert(viaFiles.distinct.size == viaFiles.size)
    for (row <- Seq("stream_wire_follow", "stream_dsv2")) {
      assert(Queries.harnessNs.containsKey(row))
      Seq("follow", "drain").foreach(p => assert(Queries.phaseNs.containsKey(s"$row/$p")))
    }
  }
}
