package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{Queries, SparkSpec}

/** The one commit protocol of the five operator stores
  * ([[CommittedStore]]), checked store by store: an idempotent build, the
  * exact marker bytes, a crashed build (no `_params`) that every reader
  * refuses with the store's own exception and the next build repairs, and
  * a foreign tag that readers refuse. */
class CommittedStoreSpec extends SparkSpec {
  import CommittedStoreSpec.StoreCase
  import spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "a slow green turtle walks under the busy bridge by the old mill"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank again")
  ).toDF("doc_id", "text")

  private lazy val dsirDocs: DataFrame = (0L until 12L).map(i =>
    (i, if (i % 3 == 0) "apple pie apple crumble" else "noise words over here", i % 3 == 0))
    .toDF("doc_id", "text", "tgt")

  // 16 four-dim vectors, every fourth one a centroid: enough rows for a
  // 2×4 PQ codebook
  private lazy val vecs: DataFrame = (0L until 16L).map { i =>
    (i, Seq(1.0 + i % 4, (i / 4).toDouble, (i % 3).toDouble, 1.0 / (i + 1)))
  }.toDF("id", "v")
  private lazy val cents: DataFrame = vecs.filter(col("id") % 4 === 0)

  private val sig = SignatureStore.Params()
  private val sigOther = SignatureStore.Params(shingleWords = 2)
  private val win = SubstringWindowStore.Params(k = 4)
  private val winOther = SubstringWindowStore.Params(k = 4, maxDocsPerWindow = 7)
  private val ivfTag = "subset.v1;spec"

  private val cases = Seq(
    StoreCase("SignatureStore", Seq("shingles", "hashed", "bands"),
      _ == "minhash.v3;w=3;h=12;b=4", classOf[IllegalArgumentException],
      root => SignatureStore.build(docs, "doc_id", "text", root, "c", sig),
      root => SignatureStore.isBuilt(root, "c", sig),
      root => Seq(
        () => SignatureStore.bands(spark, root, "c", sig),
        () => SignatureStore.shingles(spark, root, "c", sig),
        () => SignatureStore.shingleHashes(spark, root, "c", sig)),
      root => Seq(() => SignatureStore.bands(spark, root, "c", sigOther))),
    StoreCase("SubstringWindowStore", Seq("windows", "hot"),
      _ == "substring.v4;k=4;cap=1024", classOf[IllegalArgumentException],
      root => SubstringWindowStore.build(docs, "doc_id", "text", root, "c", win),
      root => SubstringWindowStore.isBuilt(root, "c", win),
      root => Seq(
        () => SubstringWindowStore.windows(spark, root, "c", win),
        () => SubstringWindowStore.hotWindows(spark, root, "c", win)),
      root => Seq(() => SubstringWindowStore.windows(spark, root, "c", winOther))),
    StoreCase("LmStore", Seq("counts", "totals"),
      _ == "unigram-addone.v1", classOf[IllegalArgumentException],
      root => LmStore.build(docs, "doc_id", "text", root, "c"),
      root => LmStore.isBuilt(root, "c"),
      root => Seq(
        () => LmStore.load(spark, root, "c"),
        () => LmStore.score(spark, root, "c", docs, "doc_id", "text")),
      _ => Nil),
    StoreCase("DsirStore", Seq("weights"),
      _.matches("dsir-uni\\+bi-md5x16\\.v1 dim=64 nonce=[0-9a-f-]{36}"),
      classOf[IllegalStateException],
      root => DsirStore.build(dsirDocs, "doc_id", "text", col("tgt"), 64, root, "c"),
      root => DsirStore.isBuilt(root, "c", 64),
      root => Seq(() => DsirStore.score(spark, root, "c", dsirDocs, "doc_id", "text")),
      _ => Nil),
    StoreCase("IvfStore", Seq("centroids", "codebook", "buckets"),
      _ == ivfTag, classOf[IllegalArgumentException],
      root => IvfStore.build(vecs, cents, "id", "v", "id", root, "c", ivfTag,
        pqSub = 2, pqCodes = 4),
      root => IvfStore.isBuilt(root, "c", ivfTag),
      root => Seq(
        () => IvfStore.centroids(spark, root, "c", ivfTag),
        () => IvfStore.buckets(spark, root, "c", ivfTag),
        () => IvfStore.codebook(spark, root, "c", ivfTag),
        () => IvfStore.bucketSkew(spark, root, "c", ivfTag),
        () => IvfStore.append(vecs.limit(0), "id", "v", root, "c", ivfTag)),
      root => Seq(() => IvfStore.buckets(spark, root, "c", "kmeans.v1;k=4")))
  )

  private def markerOf(root: String): Path = Paths.get(root, "c", "_params")
  private def markerText(root: String): String =
    new String(Files.readAllBytes(markerOf(root)), StandardCharsets.UTF_8)

  private def refuses(c: StoreCase, readers: Seq[() => Any], why: String): Unit =
    readers.zipWithIndex.foreach { case (read, i) =>
      val e = intercept[Throwable](read())
      assert(c.refusal.isInstance(e),
        s"${c.name} reader $i on $why threw ${e.getClass.getName}, want ${c.refusal.getName}")
    }

  cases.foreach { c =>
    test(s"${c.name}: the second build leaves the committed marker untouched") {
      val root = Queries.scratchDir(s"graft_commit_${c.name}")
      c.build(root)
      assert(c.isBuilt(root))
      val bytes = Files.readAllBytes(markerOf(root))
      val mtime = Files.getLastModifiedTime(markerOf(root))
      Thread.sleep(20)
      c.build(root)
      assert(Files.readAllBytes(markerOf(root)).sameElements(bytes))
      assert(Files.getLastModifiedTime(markerOf(root)) == mtime)
    }

    test(s"${c.name}: marker bytes and artifact names are pinned") {
      val root = Queries.scratchDir(s"graft_commit_${c.name}")
      c.build(root)
      assert(c.marker(markerText(root)), s"${c.name} marker '${markerText(root)}'")
      c.artifacts.foreach(a => assert(Files.isDirectory(Paths.get(root, "c", s"$a.parquet")), a))
      c.readers(root).foreach(read => read())
    }

    test(s"${c.name}: a crashed build (no marker) is refused, and the next build repairs it") {
      val root = Queries.scratchDir(s"graft_commit_${c.name}")
      c.build(root)
      Files.delete(markerOf(root))
      assert(!c.isBuilt(root))
      refuses(c, c.readers(root), "a missing marker")
      c.build(root)
      assert(c.isBuilt(root) && c.marker(markerText(root)))
      c.readers(root).foreach(read => read())
    }

    test(s"${c.name}: a foreign tag is refused") {
      val root = Queries.scratchDir(s"graft_commit_${c.name}")
      c.build(root)
      refuses(c, c.otherTagReaders(root), "another tag")
      Files.write(markerOf(root), s"other.${markerText(root)}".getBytes(StandardCharsets.UTF_8))
      assert(!c.isBuilt(root))
      refuses(c, c.readers(root), "a foreign marker")
    }
  }

  test("DsirStore: a pre-nonce marker stays readable") {
    val root = Queries.scratchDir("graft_commit_dsir_prenonce")
    DsirStore.build(dsirDocs, "doc_id", "text", col("tgt"), 64, root, "c")
    val want = DsirStore.score(spark, root, "c", dsirDocs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    Files.write(markerOf(root), "dsir-uni+bi-md5x16.v1 dim=64".getBytes(StandardCharsets.UTF_8))
    assert(DsirStore.isBuilt(root, "c", 64))
    val got = DsirStore.score(spark, root, "c", dsirDocs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }
}

object CommittedStoreSpec {

  /** One store under test, built as corpus `c` under `root`.
    * `readers` ask for the built tag; `otherTagReaders` ask for another
    * one (stores whose readers take no tag have none). */
  private final case class StoreCase(
      name: String,
      artifacts: Seq[String],
      marker: String => Boolean,
      refusal: Class[_ <: Throwable],
      build: String => Unit,
      isBuilt: String => Boolean,
      readers: String => Seq[() => Any],
      otherTagReaders: String => Seq[() => Any])
}
