package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{Queries, SparkSpec}

/** [[DsirStore]]'s broadcast cache: one entry per store, replaced by a
  * rebuild, never serving a previous build's weights. */
class DsirStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: DataFrame = (0L until 12L).map(i =>
    (i, if (i % 3 == 0) "apple pie apple crumble" else "noise words over here", i % 3 == 0))
    .toDF("doc_id", "text", "tgt")

  private def sorted(df: DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  private def inline(dim: Int): Seq[(Long, Long, Long)] = sorted(Curation.dsirScore(
    docs, "doc_id", "text",
    Curation.dsirFitWeights(docs, "doc_id", "text", col("tgt"), dim), dim))

  test("a rebuild replaces the store's one cached broadcast; scores equal the inline fit") {
    val root = Queries.scratchDir("graft_dsir_cache")
    def entries = DsirStore.bcCache.keySet.asScala.count(_._1 == root)
    def stored() = sorted(DsirStore.score(spark, root, "c", docs, "doc_id", "text"))

    DsirStore.build(docs, "doc_id", "text", col("tgt"), 64, root, "c")
    assert(stored() == inline(64))
    val first = DsirStore.bcCache.get((root, "c"))
    assert(stored() == inline(64))
    assert(DsirStore.bcCache.get((root, "c")) eq first)

    for (dim <- Seq(32, 64)) {
      DsirStore.build(docs, "doc_id", "text", col("tgt"), dim, root, "c")
      assert(stored() == inline(dim))
      assert(entries == 1)
      assert(DsirStore.bcCache.get((root, "c")).marker.contains(s"dim=$dim"))
    }
    assert(DsirStore.bcCache.get((root, "c")).bc ne first.bc)
    // the replaced broadcast is not destroyed: a frame built on it still runs
    assert(first.bc.value.length == 64)
  }
}
