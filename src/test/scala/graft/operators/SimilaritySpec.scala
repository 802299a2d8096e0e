package graft.operators

import graft.SparkSpec

/** Embedding similarity on hand-checkable vectors. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // unit-ish vectors: 1≈2 (near dup), 3 orthogonal-ish, 4 = -1
  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.99f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("nearDupPairs finds only the high-cosine pair") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding", minCosineE6 = 900000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1L),
      "vec_id", "embedding", k = 3)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    assert(out.sortBy(_._1).map(_._2) == Seq(2L, 3L, 4L))
  }

  test("ivfTopK probes the query's bucket") {
    // centroids = vectors 1 and 3 → bucket{1}: {1,2,4?}; 4 is closer to 3? no: cos(4,1)=-1, cos(4,3)=0 → bucket 3
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 2L),
      vecs.filter($"vec_id" === 1L || $"vec_id" === 3L),
      "vec_id", "embedding", "vec_id", k = 2)
      .select("rank", "id").as[(Int, Long)].collect().toSeq.sortBy(_._1)
    assert(out.map(_._2).head == 1L) // nearest in own bucket
  }

  test("truncatedTopK: exact surfaced scores, recall rises with refine") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 3)
      .select("q", "rank", "id", "sim_e6").as[(Long, Int, Long, Long)].collect().toSet
    def truncAt(refine: Int) = Similarity.truncatedTopK(emb, queries,
      "vec_id", "embedding", k = 3, subDim = 16, refine = refine)
      .select("q", "rank", "id", "sim_e6").as[(Long, Int, Long, Long)].collect().toSet
    def recall(s: Set[(Long, Int, Long, Long)]) =
      s.map(t => (t._1, t._3)).intersect(exact.map(t => (t._1, t._3))).size.toDouble /
        exact.size
    val r1 = truncAt(1)
    val r8 = truncAt(8)
    // on RANDOM embeddings the prefix is a weak biased pre-rank (no MRL
    // property to exploit) — assert the structural contracts only
    assert(recall(r8) >= recall(r1))
    // whatever survived the truncated cut carries the EXACT full-dim score
    val exactScores = exact.map(t => (t._1, t._3) -> t._4).toMap
    r8.foreach { case (q, _, id, s) =>
      exactScores.get((q, id)).foreach(e => assert(e == s)) }
  }

  test("truncatedTopK: subDim past the vector dimension fails loudly") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val e = intercept[Exception] {
      Similarity.truncatedTopK(emb, queries, "vec_id", "embedding",
        k = 3, subDim = 100000).collect()
    }
    // raise_error surfaces through Spark's job-failure wrapping
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds vector dimension")))
  }

  test("truncatedTopK: high recall on MRL-shaped embeddings (prefix carries the signal)") {
    // simulate Matryoshka-trained vectors: tail dims carry 5% of their
    // original scale, so the 16-dim prefix dominates the full cosine —
    // the data shape the operator is designed for
    val mrl = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", org.apache.spark.sql.functions.expr(
        "transform(embedding, (x, i) -> IF(i < 16, x, x * CAST(0.05 AS FLOAT)))")
        .as("embedding"))
    val queries = mrl.filter($"vec_id" % 50 === 0)
    val exact = Similarity.bruteForceTopK(mrl, queries, "vec_id", "embedding", k = 3)
      .select("q", "id").as[(Long, Long)].collect().toSet
    val got = Similarity.truncatedTopK(mrl, queries,
      "vec_id", "embedding", k = 3, subDim = 16, refine = 8)
      .select("q", "id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"MRL-shaped recall@refine=8 = $recall")
  }

  test("zero-norm vectors are total: cosine 0, never near-dup, always outlier") {
    // a failed encoder emits all-zeros at crawl scale; under ANSI the
    // unguarded double/0 division THROWS (SparkArithmeticException), so
    // totality here is a crash fix, not a semantic nicety
    val withZero = vecs.unionByName(
      Seq((9L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val pairs = Similarity.nearDupPairs(withZero, "vec_id", "embedding",
      minCosineE6 = 1L) // any positive similarity at all
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 9L || p._2 == 9L)) // similar to NOTHING
    val cents = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(withZero, cents, "vec_id",
      "embedding", "vec_id", minCosineE6 = 1L)
      .filter($"id" === 9L).as[(Long, Long, Long, Boolean)].head()
    assert(out == ((9L, 100L, 0L, true))) // cs 0, flagged
    // top-k over a corpus containing the zero vector must not throw, and
    // the zero vector ranks last (sim 0 to every query)
    val tk = Similarity.bruteForceTopK(withZero,
      vecs.filter($"vec_id" === 1L), "vec_id", "embedding", k = 4)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1)
    assert(tk.last._2 == 9L || tk.map(_._2).contains(9L))
    // zero-DIM (empty array) rows: the LSH band fold's pmod/element_at
    // both ANSI-throw unguarded — the row must flow through banding and
    // verify without pairing with anything real
    val withEmpty = vecs.unionByName(
      Seq((8L, Array.empty[Float])).toDF("vec_id", "embedding"))
    val sp = Similarity.nearDupPairsLsh(withEmpty, "vec_id", "embedding",
      minCosineE6 = 1L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!sp.exists(p => p._1 == 8L || p._2 == 8L))
  }

  test("centroidOutliers flags far-from-every-centroid vectors, exact boundary") {
    // centroids = axes x and y; vec 10 hugs x (cos 1.0), vec 11 sits at
    // 45° of x/y (cos ≈ 0.707), vec 12 is z — orthogonal to BOTH (cos 0)
    val cents = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pts = Seq(
      (10L, Array(2.0f, 0.0f, 0.0f)),
      (11L, Array(1.0f, 1.0f, 0.0f)),
      (12L, Array(0.0f, 0.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(pts, cents, "vec_id", "embedding",
      "vec_id", minCosineE6 = 700000L)
      .orderBy("id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (10L, 100L, 1000000L, false),
      (11L, 100L, 707107L, false), // ≥ threshold: kept; cid tie → lower id
      (12L, 100L, 0L, true)))
    // boundary is strict <: exactly-at-threshold is NOT an outlier
    val atThr = Similarity.centroidOutliers(pts, cents, "vec_id", "embedding",
      "vec_id", minCosineE6 = 707107L)
      .orderBy("id").as[(Long, Long, Long, Boolean)].collect()
    assert(!atThr(1)._4)
  }

  test("semDedup drops the higher id of intra-cluster pairs only") {
    // centroids 1 and 3: cluster(1) = {1, 2, 5}, cluster(3) = {3, 4-ish}.
    // 5 ≈ 1 ≈ 2 are mutual near-dups inside cluster 1; 4 = -1 is in
    // cluster 3 (cos(4,1) = -1) so the (1,4) anti-pair never surfaces.
    val withDup = vecs.union(Seq((5L, Array(0.995f, 0.05f, 0.0f))).toDF)
    val out = Similarity.semDedup(withDup,
      withDup.filter($"vec_id" === 1L || $"vec_id" === 3L),
      "vec_id", "embedding", "vec_id", minCosineE6 = 990000)
      .select("id", "witness").as[(Long, Long)].collect().toSet
    // 2 and 5 both supersede to the LOWEST witness 1; 1 itself survives
    assert(out == Set((2L, 1L), (5L, 1L)))
  }

  test("semDedup never pairs across clusters") {
    // 1 and 4 are exact opposites (cos = -1) but also: put a 4-dup in
    // cluster 3's orbit — pairs must stay within assigned clusters even
    // when a cross-cluster cosine would clear the threshold
    val twin = Seq((6L, Array(0.0f, 0.99f, 0.1f))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs.union(twin),
      vecs.filter($"vec_id" === 1L || $"vec_id" === 3L),
      "vec_id", "embedding", "vec_id", minCosineE6 = 980000)
      .select("id", "cid", "witness").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 1L, 1L), (6L, 3L, 3L)))
  }

  test("ivfTopKInt8: exact re-rank matches ivfTopK on the recalled set; recall rises with refine") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val cents = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.ivfTopK(emb, queries, cents,
      "vec_id", "embedding", "vec_id", k = 3)
      .select("q", "rank", "id", "sim_e6").as[(Long, Int, Long, Long)].collect().toSet
    def int8At(refine: Int) = Similarity.ivfTopKInt8(emb, queries, cents,
      "vec_id", "embedding", "vec_id", k = 3, refine = refine)
      .select("q", "rank", "id", "sim_e6").as[(Long, Int, Long, Long)].collect().toSet
    val r1 = int8At(1)
    val r8 = int8At(8)
    // recall@3 against the full-precision probe, same buckets: a generous
    // refine must recover (nearly) everything, and more refine never hurts
    def recall(s: Set[(Long, Int, Long, Long)]) =
      s.map(t => (t._1, t._3)).intersect(exact.map(t => (t._1, t._3))).size.toDouble /
        exact.size
    assert(recall(r8) >= recall(r1))
    assert(recall(r8) >= 0.95, s"recall@refine=8 = ${recall(r8)}")
    // whatever the int8 pre-rank recalled, the surfaced sim_e6 is EXACT —
    // every (q,id) surviving in r8 carries the same score ivfTopK computed
    val exactScores = exact.map(t => (t._1, t._3) -> t._4).toMap
    r8.foreach { case (q, _, id, s) =>
      exactScores.get((q, id)).foreach(es => assert(es == s, s"score drift for ($q,$id)"))
    }
  }

  test("pqTopK: re-ranked scores are exact, recall vs brute force is high, " +
      "and recall rises with refine") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" % 50 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
      .select("q", "rank", "id", "sim_e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    def pq(refine: Int) = Similarity.pqTopK(emb, q, "vec_id", "embedding",
      numSub = 8, numCodes = 256, k = 3, refine = refine)
      .select("q", "rank", "id", "sim_e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val r1 = pq(1); val r8 = pq(8)
    // any (q, id) the PQ path returns carries the EXACT sim_e6 (re-rank
    // contract): the exact score for that pair must agree with brute force
    val exactPairs = exact.map(t => (t._1, t._3) -> t._4).toMap
    assert(r8.forall { case (qq, _, id, s) =>
      exactPairs.get((qq, id)).forall(_ == s) })
    def recall(s: Set[(Long, Int, Long, Long)]) =
      exact.map(t => (t._1, t._3)).intersect(s.map(t => (t._1, t._3))).size.toDouble /
        exact.size
    assert(recall(r8) >= recall(r1))
    assert(recall(r8) >= 0.85, s"pq recall@refine=8 = ${recall(r8)}")
  }

  test("pqTopK refuses a numSub past the ADC unroll limit, naming numSub") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val numSub = Similarity.MaxPqSubspaces + 1
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, emb, "vec_id", "embedding",
        numSub = numSub, numCodes = 256, k = 3)
    }
    assert(e.getMessage.contains(s"numSub = $numSub"), e.getMessage)
  }

  test("ivfTopKPq: candidates are bucket-mates with exact re-ranked scores; " +
      "high refine recovers the IVF top-k") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" % 50 === 0)
    val cents = emb.filter($"vec_id" % 23 === 0)
    // every bucket-mate with its exact score = the PQ path's universe
    val all = Similarity.ivfTopK(emb, q, cents, "vec_id", "embedding", "vec_id",
      k = 1000000).select("q", "id", "sim_e6")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val ivf3 = Similarity.ivfTopK(emb, q, cents, "vec_id", "embedding", "vec_id",
      k = 3).select("q", "id").as[(Long, Long)].collect().toSet
    val pq3 = Similarity.ivfTopKPq(emb, q, cents, "vec_id", "embedding", "vec_id",
      numSub = 8, numCodes = 256, k = 3, refine = 8)
      .select("q", "id", "sim_e6").as[(Long, Long, Long)].collect()
    // bucket containment + exact-score contract
    assert(pq3.nonEmpty && pq3.forall { case (qq, id, s) => all.get((qq, id)).contains(s) })
    val recall = ivf3.intersect(pq3.map(t => (t._1, t._2)).toSet).size.toDouble / ivf3.size
    assert(recall >= 0.85, s"ivfpq recall vs ivf top-3 = $recall")
  }

  test("pqTrainCodebooks: Lloyd error is monotone non-increasing and the " +
      "trained table beats the subset init; pqTopKWith consumes it") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def err(it: Int): Double = Similarity.pqQuantError(
      emb, "vec_id", "embedding",
      Similarity.pqTrainCodebooks(emb, "vec_id", "embedding", 8, 64, it), 8, 64)
    val e0 = err(0); val e1 = err(1); val e3 = err(3)
    assert(e1 <= e0 && e3 <= e1, s"Lloyd error not monotone: $e0, $e1, $e3")
    assert(e3 < e0, s"training never improved on the subset init: $e0 -> $e3")
    // the trained table drops into the same consumer unchanged
    val trained = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding", 8, 64, 3)
    val out = Similarity.pqTopKWith(emb, emb.filter($"vec_id" % 50 === 0),
      "vec_id", "embedding", trained, 8, 64, k = 3, refine = 8)
    assert(out.count() > 0)
  }

  test("kmeansCentroids: k kept, dims kept, assignment quality not worse than init") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def meanBestCos(cent: org.apache.spark.sql.DataFrame): Double = {
      import org.apache.spark.sql.functions._
      val vd = emb.select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
        .withColumn("n", Similarity.norm($"v"))
      val c = cent.select($"cid", $"centroid".as("cv"))
        .withColumn("cn", Similarity.norm($"cv"))
      vd.join(broadcast(c), lit(true))
        .select($"id", (Similarity.dot($"v", $"cv") / ($"n" * $"cn")).as("cs"))
        .groupBy("id").agg(max("cs").as("best"))
        .agg(avg("best")).first().getDouble(0)
    }
    val init = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 0)
    val trained = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 4)
    assert(init.count() == 8 && trained.count() == 8)
    val dims = trained.select(org.apache.spark.sql.functions.size($"centroid"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(64))
    val (q0, q1) = (meanBestCos(init), meanBestCos(trained))
    assert(q1 >= q0 - 1e-9, s"trained $q1 worse than init $q0")
    // trained centroids drive ivfTopK directly (vector column renamed to
    // the corpus's vecCol, as ivfTopK reads both through one name)
    val out = Similarity.ivfTopK(emb, emb.limit(3),
      trained.select($"cid", $"centroid".as("embedding")),
      "vec_id", "embedding", "cid", k = 2)
    assert(out.count() > 0)
  }

  test("kmeansCentroids: empty buckets keep their previous centroid") {
    // ids 1 and 2 carry IDENTICAL vectors, so both init centroids are the
    // same point; in the first iteration every row assigns to the lower
    // cid (tie-break cid asc) and centroid 2's bucket is EMPTY — the
    // fallback must keep it rather than dropping to k-1 or nulling the
    // vector. (Later iterations legitimately repopulate it once the
    // centroids diverge.)
    val dup = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val after1 = Similarity.kmeansCentroids(dup, "vec_id", "embedding", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(after1.keySet == Set(1L, 2L))
    assert(after1(2L) == Seq(1.0, 0.0)) // untouched init centroid
    // and a longer run still keeps k centroids with real vectors
    val after3 = Similarity.kmeansCentroids(dup, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(after3.keySet == Set(1L, 2L))
    assert(after3.values.forall(v => v != null && v.length == 2))
  }

  test("kmeansCentroids works with non-numeric id columns") {
    // the assignment tie-break orders (negated cosine, cid) so cid itself
    // is never negated — string ids must keep working
    val named = Seq(
      ("a", Array(1.0f, 0.0f)), ("b", Array(0.9f, 0.1f)), ("c", Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(named, "vec_id", "embedding", k = 2, iters = 2)
      .collect()
    assert(cent.length == 2)
    assert(cent.forall(_.getSeq[Double](1).length == 2))
  }

  test("quantizeInt8: range bounded, dequantization error within half a step") {
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .as[(Long, Long, Int, Int)].collect()
    assert(out.forall { case (_, _, _, q) => q >= -127 && q <= 127 })
    val orig = vecs.as[(Long, Array[Float])].collect().toMap
    out.foreach { case (id, scaleE6, i, q) =>
      val x = orig(id)(i).toDouble
      val dequant = q * 1e6 / scaleE6
      assert(math.abs(dequant - x) <= 0.5 * 1e6 / scaleE6 + 1e-9)
    }
  }

  test("cosineE6 is exact integer micro-units") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val v = df.select(Similarity.cosineE6($"a", $"b")).as[Long].head()
    assert(v == 1000000L)
  }

  // ---- randomized corpus with planted near-dups --------------------------

  private def plantedCorpus(n: Int, dim: Int, planted: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(42)
    def randVec() = Array.fill(dim)((rnd.nextGaussian() / math.sqrt(dim)).toFloat)
    val base = (0 until n).map(i => (i.toLong, randVec()))
    // planted pair (i, n+i): tiny perturbation → cosine ≈ 0.995+
    val dups = (0 until planted).map { i =>
      val v = base(i)._2.map(x => x + (rnd.nextGaussian() * 0.02 / math.sqrt(dim)).toFloat)
      ((n + i).toLong, v)
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  private def naivePairs(df: org.apache.spark.sql.DataFrame, minE6: Long): Set[(Long, Long, Long)] = {
    val rows = df.as[(Long, Array[Float])].collect()
    (for {
      (a, va) <- rows; (b, vb) <- rows; if a < b
      d = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
      s = math.round(d / (na * nb) * 1e6)
      if s >= minE6
    } yield (a, b, s)).toSet
  }

  test("srpBandsForRecall inverts the banding model; sized bands hit the target " +
      "on mid-angle planted pairs") {
    import Similarity.srpBandsForRecall
    // consistency with the measured round-8 curve (BASELINE.md): the
    // default 8 bands delivered ~0.715 recall at n=2200 / cos 0.9 — the
    // model should size ~8 bands for targets just under that
    assert(srpBandsForRecall(2200, 900000, 0.70) == 8)
    // monotonicity: recall target up → bands up; corpus up (bits up,
    // per-band p down) → bands up; tighter angle (higher cosine) → fewer
    assert(srpBandsForRecall(2200, 900000, 0.95) > srpBandsForRecall(2200, 900000, 0.5))
    assert(srpBandsForRecall(60200, 900000, 0.7) > srpBandsForRecall(2200, 900000, 0.7))
    assert(srpBandsForRecall(2200, 990000, 0.7) <= srpBandsForRecall(2200, 900000, 0.7))
    // the n=1e9 extrapolation the curve section quotes: default 8 bands
    // collapse, the model prices the fix
    val bandsAtBillion = srpBandsForRecall(1000000000L, 900000, 0.9)
    assert(bandsAtBillion > 100 && bandsAtBillion < 2000, s"got $bandsAtBillion")

    // empirical: plant MID-ANGLE pairs (~0.9 cosine — the regime where 8
    // bands lose recall), size bands for 0.95, and beat a 0.85 floor
    val rnd = new scala.util.Random(7)
    val dim = 32
    val n = 300
    def randVec() = Array.fill(dim)((rnd.nextGaussian() / math.sqrt(dim)).toFloat)
    val base = (0 until n).map(i => (i.toLong, randVec()))
    val a = 0.9
    val b = math.sqrt(1 - a * a)
    val planted = (0 until 60).map { i =>
      val v = base(i)._2
      val u = randVec()
      ((n + i).toLong, v.zip(u).map { case (x, y) => (a * x + b * y).toFloat })
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val minE6 = 850000L
    val truth = naivePairs(corpus, minE6)
      .collect { case (x, y, _) if y == x + n => (x, y) }
    assert(truth.size >= 30, s"fixture degenerate: ${truth.size} true pairs")
    val bands = srpBandsForRecall(n + 60L, minE6, 0.95)
    val got = Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding", minE6,
        numBands = bands)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recovered = truth.count(got.contains)
    val recall = recovered.toDouble / truth.size
    assert(recall >= 0.85, s"recall $recall with $bands bands (target 0.95)")
    // and every returned pair is exact-verified: no false positives ever
    val all = naivePairs(corpus, minE6).map { case (x, y, _) => (x, y) }
    assert(got.subsetOf(all))
  }

  test("srpBandsForRecall fails loudly on infeasible sizings instead of saturating") {
    // loose angle (cos 0.1 ≈ 84°) at huge n: per-band p underflows and the
    // inverted model wants astronomically many bands — that must be an
    // error naming the combination, not a silent Int.MaxValue plan
    val e = intercept[IllegalArgumentException] {
      Similarity.srpBandsForRecall(1000000000L, 100000, 0.99)
    }
    assert(e.getMessage.contains("infeasible SRP sizing"))
    assert(e.getMessage.contains("0.99") && e.getMessage.contains("n=1000000000"))
    // feasible sizings stay well under the ceiling and still work
    assert(Similarity.srpBandsForRecall(1000000000L, 900000, 0.9) <= Similarity.MaxSrpBands)
  }

  test("nearDupPairsSrp rejects an all-null embedding column with a clear error") {
    val allNull = Seq(1L, 2L, 3L)
      .toDF("vec_id")
      .withColumn("embedding",
        org.apache.spark.sql.functions.lit(null)
          .cast("array<float>"))
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairsSrp(allNull, "vec_id", "embedding", 900000)
    }
    assert(e.getMessage.contains("entirely null"))
  }

  test("blocked nearDupPairs matches naive all-pairs exactly (all block counts)") {
    val corpus = plantedCorpus(n = 120, dim = 16, planted = 10)
    val expect = naivePairs(corpus, 450000)
    assert(expect.nonEmpty)
    for (blocks <- Seq(1, 3, 8)) {
      val got = Similarity.nearDupPairs(corpus, "vec_id", "embedding",
        minCosineE6 = 450000, numBlocks = blocks)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expect, s"numBlocks=$blocks")
    }
  }

  test("nearDupPairsLsh: full recall on tight-threshold planted dups, no false positives") {
    val corpus = plantedCorpus(n = 200, dim = 64, planted = 20)
    val exact = naivePairs(corpus, 950000)
    assert(exact.size >= 15, s"planting produced only ${exact.size} tight pairs")
    val lsh = Similarity.nearDupPairsLsh(corpus, "vec_id", "embedding",
      minCosineE6 = 950000, bitsPerBand = 8, numBands = 8)
      .as[(Long, Long, Long)].collect().toSet
    // exact verify ⇒ no false positives
    assert(lsh.subsetOf(exact))
    // near-identical vectors agree on ~all sign bits ⇒ recall ≈ 1 here
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("nearDupPairsSrp: full recall on planted dups, no false positives, seed-deterministic") {
    val corpus = plantedCorpus(n = 200, dim = 64, planted = 20)
    val exact = naivePairs(corpus, 950000)
    assert(exact.size >= 15)
    val srp = Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding",
      minCosineE6 = 950000, bitsPerBand = 12, numBands = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(srp.subsetOf(exact)) // exact verify ⇒ no false positives
    val recall = srp.size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall (${srp.size}/${exact.size})")
    // deterministic for a fixed seed; a different seed may differ in
    // candidates but never in verified-pair correctness
    val again = Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding",
      minCosineE6 = 950000, bitsPerBand = 12, numBands = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == srp)
    val otherSeed = Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding",
      minCosineE6 = 950000, bitsPerBand = 12, numBands = 8, seed = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(otherSeed.subsetOf(exact))
  }

  test("SRP band space scales past the dimensionality cap: log2(n) bits keep candidates ~linear") {
    // the sign-of-dimension variant caps total bits at dim, so at dim 16
    // its 8-bit bands wrap to floor(16/8)=2 real bands of a 256-key space
    // and random collisions grow ~n². SRP bits are unlimited: sizing
    // bitsPerBand ~log2(n) holds expected per-band collisions ~n/2 — the
    // candidate-to-corpus ratio must stay ~flat as n grows 4x.
    def srpCandidates(n: Int): Long = {
      val corpus = plantedCorpus(n = n, dim = 16, planted = 0)
      val bits = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
      // count verified CANDIDATES (threshold -1e6 admits every verified
      // pair, so this measures candidate volume, not near-dup density)
      Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding",
        minCosineE6 = -1000000L, bitsPerBand = bits, numBands = 8).count()
    }
    val small = srpCandidates(150)
    val big = srpCandidates(600)
    val perRowSmall = small.toDouble / 150
    val perRowBig = big.toDouble / 600
    assert(perRowBig <= perRowSmall * 2.5,
      s"candidates/row grew ${perRowSmall} -> ${perRowBig}: band space not scaling")
  }

  test("SRP default auto-sizes bitsPerBand ~log2(n); empty and ragged inputs are handled") {
    // auto default (bitsPerBand = 0) must behave like the hand-sized
    // log2(n) variant: full recall on planted dups, zero false positives
    val corpus = plantedCorpus(n = 200, dim = 64, planted = 20)
    val exact = naivePairs(corpus, 950000)
    val auto = Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding",
      minCosineE6 = 950000).as[(Long, Long, Long)].collect().toSet
    assert(auto.subsetOf(exact))
    assert(auto.size.toDouble / exact.size >= 0.95)
    // empty corpus: empty pair frame with the (a, b, sim_e6) schema, not
    // a NoSuchElementException off the dimensionality probe
    val empty = Similarity.nearDupPairsSrp(
      corpus.filter($"vec_id" < 0), "vec_id", "embedding", minCosineE6 = 0L)
    assert(empty.columns.toSeq == Seq("a", "b", "sim_e6"))
    assert(empty.count() == 0)
    // ragged dimensionality fails loudly instead of banding on whatever
    // dim the first row happened to have
    import org.apache.spark.sql.functions.{when, expr}
    val ragged = corpus.select($"vec_id",
      when($"vec_id" === 0, expr("slice(embedding, 1, 32)"))
        .otherwise($"embedding").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairsSrp(ragged, "vec_id", "embedding", minCosineE6 = 0L)
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("ivfTopK recall@k rises with nprobe and hits 1.0 at nprobe = #centroids") {
    val corpus = plantedCorpus(n = 300, dim = 16, planted = 0)
    val queries = corpus.filter($"vec_id" % 29 === 0)
    val centroids = corpus.filter($"vec_id" % 60 === 0) // 5 centroids
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .select("q", "id").as[(Long, Long)].collect().toSet
    val recalls = Seq(1, 2, 5).map { np =>
      val got = Similarity.ivfTopK(corpus, queries, centroids,
        "vec_id", "embedding", "vec_id", k = 5, nprobe = np)
        .select("q", "id").as[(Long, Long)].collect().toSet
      np -> got.intersect(exact).size.toDouble / exact.size
    }
    // candidate set grows with nprobe and exact members always outrank
    // non-members ⇒ recall is non-decreasing
    recalls.sliding(2).foreach { case Seq((_, r1), (_, r2)) =>
      assert(r1 <= r2 + 1e-9, s"recall not non-decreasing: $recalls")
    }
    // probing every bucket = exhaustive search = exact top-k
    assert(math.abs(recalls.last._2 - 1.0) < 1e-9, s"nprobe=all recall: $recalls")
  }
}
