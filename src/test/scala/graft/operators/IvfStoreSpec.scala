package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{Queries, SparkSpec, Tables}

/** The persisted IVF index must be a pure cache: stored probes return
  * byte-identical results to the inline operators on the same centroids,
  * and the commit-marker protocol makes partial/incompatible stores
  * rebuild instead of silently serving a stale index.
  */
class IvfStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val tag = "subset-sqrtn.v1"

  private def corpus = Tables.embeddings(spark, dir)

  private def buildStore(): String = {
    val root = Queries.scratchDir("graft_ivfspec")
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    IvfStore.build(e, e.filter(col("vec_id") % mod === 0),
      "vec_id", "embedding", "vec_id", root, "emb", tag)
    root
  }

  test("stored probe == inline probe (exact and int8)") {
    val root = buildStore()
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    val queries = e.filter(col("vec_id") % 50 === 0)
    val cents = e.filter(col("vec_id") % mod === 0)

    val inline = Similarity.ivfTopK(e, queries, cents,
      "vec_id", "embedding", "vec_id", k = 3, nprobe = 2)
      .orderBy("q", "rank").collect().toSeq
    val stored = Similarity.ivfTopKStored(spark, root, "emb", tag, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("q", "rank").collect().toSeq
    assert(inline.nonEmpty && inline == stored)

    val inline8 = Similarity.ivfTopKInt8(e, queries, cents,
      "vec_id", "embedding", "vec_id", k = 3, refine = 4)
      .orderBy("q", "rank").collect().toSeq
    val stored8 = Similarity.ivfTopKInt8Stored(spark, root, "emb", tag, queries,
      "vec_id", "embedding", k = 3, refine = 4)
      .orderBy("q", "rank").collect().toSeq
    assert(inline8.nonEmpty && inline8 == stored8)
  }

  test("stored SemDeDup == inline SemDeDup on the store's centroids") {
    val root = buildStore()
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    val cents = e.filter(col("vec_id") % mod === 0)
    // a loose threshold so real intra-cluster pairs exist in the fixture
    val inline = Similarity.semDedup(e, cents,
      "vec_id", "embedding", "vec_id", minCosineE6 = 450000)
      .orderBy("id").collect().toSeq
    val stored = Similarity.semDedupStored(spark, root, "emb", tag,
      minCosineE6 = 450000)
      .orderBy("id").collect().toSeq
    assert(inline.nonEmpty && inline == stored)
  }

  test("missing marker (crashed build) and tag mismatch both refuse to serve") {
    val root = buildStore()
    intercept[IllegalArgumentException] {
      IvfStore.buckets(spark, root, "emb", "kmeans.v1;k=8")
    }
    Files.delete(Paths.get(root, "emb", "_params"))
    intercept[IllegalArgumentException] {
      IvfStore.centroids(spark, root, "emb", tag)
    }
    // and a rebuild restores service
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    IvfStore.build(e, e.filter(col("vec_id") % mod === 0),
      "vec_id", "embedding", "vec_id", root, "emb", tag)
    assert(IvfStore.buckets(spark, root, "emb", tag).count() == e.count())
  }

  test("incremental append ≡ wholesale rebuild, and probes identically") {
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    val cents = e.filter(col("vec_id") % mod === 0)
    // 90% built + 10% appended
    val root = Queries.scratchDir("graft_ivfspec_up")
    IvfStore.build(e.filter(col("vec_id") % 10 =!= 0), cents,
      "vec_id", "embedding", "vec_id", root, "emb", tag)
    IvfStore.append(e.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", root, "emb", tag)
    // same (id → bucket) assignment set as the wholesale store
    val whole = buildStore()
    def rows(r: String) = IvfStore.buckets(spark, r, "emb", tag)
      .select("id", "bucket").collect().map(x => (x.getLong(0), x.get(1))).toSet
    assert(rows(root) == rows(whole) && rows(root).size == e.count())
    // and the probe results are identical
    val queries = e.filter(col("vec_id") % 50 === 0)
    def probe(r: String) = Similarity.ivfTopKStored(spark, r, "emb", tag,
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("q", "rank").collect().toSeq
    assert(probe(root) == probe(whole) && probe(root).nonEmpty)
  }

  test("a crashed append (no marker) refuses to serve, then rebuilds") {
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    val cents = e.filter(col("vec_id") % mod === 0)
    val root = Queries.scratchDir("graft_ivfspec_crash")
    IvfStore.build(e.filter(col("vec_id") % 10 =!= 0), cents,
      "vec_id", "embedding", "vec_id", root, "emb", tag)
    // simulate the crash window: marker dropped, data half-landed
    Files.delete(Paths.get(root, "emb", "_params"))
    intercept[IllegalArgumentException] {
      IvfStore.append(e.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", root, "emb", tag)
    }
    intercept[IllegalArgumentException] { IvfStore.buckets(spark, root, "emb", tag) }
    IvfStore.build(e, cents, "vec_id", "embedding", "vec_id", root, "emb", tag)
    assert(IvfStore.buckets(spark, root, "emb", tag).count() == e.count())
  }

  test("stored IVF+PQ probe == inline composition; appended rows encode " +
      "with the PERSISTED codebook") {
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    val cents = e.filter(col("vec_id") % mod === 0)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val root = buildStore()
    val stored = Similarity.ivfTopKPqStored(spark, root, "emb", tag,
      queries, "vec_id", "embedding", k = 3, refine = 8)
      .orderBy("q", "rank").collect().toSeq
    val inline = Similarity.ivfTopKPq(e, queries, cents,
      "vec_id", "embedding", "vec_id",
      numSub = 8, numCodes = 256, k = 3, refine = 8)
      .orderBy("q", "rank").collect().toSeq
    assert(stored.nonEmpty && stored == inline)

    // appended rows must carry codes from the persisted codebook, not a
    // re-derived one (the batch corpus would give a different subset)
    val up = Queries.scratchDir("graft_ivfspec_pqup")
    IvfStore.build(e.filter(col("vec_id") % 10 =!= 0), cents,
      "vec_id", "embedding", "vec_id", up, "emb", tag)
    IvfStore.append(e.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", up, "emb", tag)
    val cb = IvfStore.codebook(spark, up, "emb", tag)
    val w = cb.head.length
    val got = IvfStore.buckets(spark, up, "emb", tag)
      .filter(col("id") % 10 === 0).select("id", "v", "codes")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getSeq[Int](2).toArray))
    assert(got.nonEmpty && got.forall { case (_, v, codes) =>
      codes.sameElements(
        Similarity.pqEncode(cb, v.length / w, cb.length / (v.length / w), w)(v))
    })
  }

  test("build is idempotent per tag") {
    val root = buildStore()
    val mtime = Files.getLastModifiedTime(Paths.get(root, "emb", "_params"))
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    IvfStore.build(e, e.filter(col("vec_id") % mod === 0),
      "vec_id", "embedding", "vec_id", root, "emb", tag)
    assert(Files.getLastModifiedTime(Paths.get(root, "emb", "_params")) == mtime)
  }

  test("pqSub=0 builds a PQ-less store: float/int8 probes serve, PQ " +
      "probes fail typed; an impossible codebook carries build context") {
    val root = Queries.scratchDir("graft_ivfspec_nopq")
    val e = corpus
    val mod = math.ceil(math.sqrt(e.count().toDouble)).toLong
    IvfStore.build(e, e.filter(col("vec_id") % mod === 0),
      "vec_id", "embedding", "vec_id", root, "emb", tag, pqSub = 0)
    // float probe serves (bucket scans carry empty code arrays)
    val q = e.limit(3)
    val stored = Similarity.ivfTopKStored(spark, root, "emb", tag,
      q, "vec_id", "embedding", k = 2)
    assert(stored.count() > 0)
    // PQ probe path is refused with the pqSub=0 explanation
    val err = intercept[IllegalStateException] {
      IvfStore.codebook(spark, root, "emb", tag)
    }
    assert(err.getMessage.contains("pqSub = 0"))
    // corpus smaller than the code count → typed build-context error
    val tiny = e.limit(8)
    val bad = intercept[IllegalArgumentException] {
      IvfStore.build(tiny, tiny.limit(2), "vec_id", "embedding", "vec_id",
        Queries.scratchDir("graft_ivfspec_tiny"),
        "emb", tag, pqSub = 8, pqCodes = 256)
    }
    assert(bad.getMessage.contains("pqSub = 0"))
  }

  test("append rejects re-used ids before landing anything") {
    val root = buildStore()
    val clash = corpus.limit(2) // ids already in the store
    val e = intercept[IllegalArgumentException] {
      IvfStore.append(clash, "vec_id", "embedding", root, "emb", tag)
    }
    assert(e.getMessage.contains("re-uses ids"))
    // nothing landed and the marker survived — the store still serves
    assert(IvfStore.isBuilt(root, "emb", tag))
    val n = IvfStore.buckets(spark, root, "emb", tag).count()
    assert(n == corpus.count())
    // disjoint ids still append
    val off = corpus.agg(max("vec_id")).first().getLong(0) + 1
    IvfStore.append(
      corpus.limit(2).select((col("vec_id") + off).as("vec_id"), col("embedding")),
      "vec_id", "embedding", root, "emb", tag)
    assert(IvfStore.buckets(spark, root, "emb", tag).count() == n + 2)
  }

  test("rebalance after drifted appends: skew-gated, retrains sqrt-n " +
      "centroids, rebuilt store == inline on the union, old tag invalid") {
    val root = buildStore()
    val e = corpus
    // a balanced store does not trigger at a generous bound
    assert(IvfStore.rebalance(spark, root, "emb", tag, maxSkew = 50.0).isEmpty)
    assert(IvfStore.isBuilt(root, "emb", tag))

    // drift: 300 new vectors `x + 5·e₀` (unit-norm originals plus a
    // dominant new axis). Against the FROZEN centroids the 5·e₀ term
    // dominates the assignment argmax, funneling the whole batch into the
    // highest-e₀ bucket; internally the x term keeps pairwise cosines
    // spread (~0.96 ± 0.04), so a retrain with init mass among them can
    // split the cluster — the realistic "new topic arrived" shape
    val off = e.agg(max("vec_id")).first().getLong(0) + 1
    val drift = e.orderBy("vec_id").limit(300)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x + when(i === 0, lit(5.0)).otherwise(lit(0.0)))
          .as("embedding"))
    IvfStore.append(drift, "vec_id", "embedding", root, "emb", tag)
    val skewBefore = IvfStore.bucketSkew(spark, root, "emb", tag)
    assert(skewBefore > 4.0, s"drift fixture did not skew: $skewBefore")

    val newTag = IvfStore.rebalance(spark, root, "emb", tag, maxSkew = 4.0)
    assert(newTag.nonEmpty)
    assert(!IvfStore.isBuilt(root, "emb", tag)) // recipe-honesty: old tag gone
    assert(IvfStore.isBuilt(root, "emb", newTag.get))
    assert(newTag.get.startsWith(tag + ";rebal=k"))
    val skewAfter = IvfStore.bucketSkew(spark, root, "emb", newTag.get)
    assert(skewAfter < skewBefore / 2,
      s"retrain did not split the drift cluster: $skewBefore -> $skewAfter")

    // a second rebalance derives from the BASE tag (no suffix chaining)
    // and only triggers if still skewed
    val again = IvfStore.rebalance(spark, root, "emb", newTag.get,
      maxSkew = math.max(4.0, skewAfter + 0.01))
    assert(again.isEmpty)

    // stored-≡-inline across the rebalance: the rebuilt store must equal
    // the inline operator over the union corpus on the centroids the
    // store was built with — the documented store contract (the retrain
    // itself involves double avg()s whose result depends on row order,
    // so the persisted centroids ARE the recipe's identity)
    val union = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .unionByName(drift)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val cent = IvfStore.centroids(spark, root, "emb", newTag.get)
      .select(col("cid"), col("cv").as("v"))
    val queries = union.filter(col("id") % 50 === 0)
    val inline = Similarity.ivfTopK(union, queries, cent,
      "id", "v", "cid", k = 3)
      .orderBy("q", "rank").collect().toSeq
    val stored = Similarity.ivfTopKStored(spark, root, "emb", newTag.get,
      queries, "id", "v", k = 3)
      .orderBy("q", "rank").collect().toSeq
    assert(inline.nonEmpty && inline == stored)

    // the snapshot staging dir is cleaned up after the rebuild commits
    assert(!Files.exists(Paths.get(root, "emb__rebal_src.parquet")))
  }
}
