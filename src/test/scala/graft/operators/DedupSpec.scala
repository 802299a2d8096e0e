package graft.operators

import org.apache.spark.sql.functions._

import graft.Queries
import graft.SparkSpec

/** Dedup operators on a tiny corpus with one planted near-dup pair. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
  // LAST token changed: only the final 3-shingle differs → J = 13/15 ≈ 0.87.
  // Banding recall is probabilistic in general but deterministic for a
  // fixed corpus + hash family; this pair band-collides under the v2
  // universal family (the earlier mid-word edit gave J ≈ 0.65, which v2's
  // dice missed where v1's happened to hit — at J near the 0.5 threshold
  // ~50% recall is the DESIGNED behavior, not a defect to pin tests on)
  private val nearDup = base.replace("tonight", "today")
  private val docs = Seq(
    (1L, base),
    (2L, nearDup),
    (3L, "completely different content about spark query engines and data processing at scale"),
    (4L, base) // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups finds the exact dup group and keeps min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n") == 2 && g(0).getAs[Long]("keep_id") == 1L)
  }

  test("minhashPairs finds near + exact dup pairs, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", minJaccardE4 = 5000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always survives any banding
    assert(pairs.subsetOf(Set((1L, 2L), (1L, 4L), (2L, 4L))))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashPairsAgainst: cross-corpus pairs only, signatures comparable across sides") {
    // new batch = {2 (near-dup of ref 1), 3 (unrelated)}; ref = {1, 4}
    val newDocs = docs.filter(col("doc_id").isin(2L, 3L))
    val refDocs = docs.filter(col("doc_id").isin(1L, 4L))
    val pairs = Dedup.minhashPairsAgainst(newDocs, refDocs, "doc_id", "text",
      minJaccardE4 = 5000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // every pair is (new, ref); the near-dup straddles the split both ways
    assert(pairs.subsetOf(Set((2L, 1L), (2L, 4L))), s"got $pairs")
    assert(pairs.nonEmpty, "cross-corpus near-dup not found")
    // no within-side pairs ever: ref 1 vs ref 4 are exact dups of each
    // other but must NOT pair (that's the self-join operator's job)
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((4L, 1L)))
    // result agrees with the self-join operator restricted to cross pairs
    val self = Dedup.minhashPairs(docs, "doc_id", "text", minJaccardE4 = 5000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val crossFromSelf = self.flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .filter { case (x, y) => Set(2L, 3L)(x) && Set(1L, 4L)(y) }
    assert(pairs == crossFromSelf)
  }

  test("SignatureStore: stored-variant pairs identical to inline; params tag " +
      "invalidates; reads are scan-only") {
    val root = Queries.scratchDir("graft_sigstore_spec")
    val newDocs = docs.filter(col("doc_id").isin(2L, 3L))
    val refDocs = docs.filter(col("doc_id").isin(1L, 4L))
    val params = SignatureStore.Params()
    SignatureStore.build(refDocs, "doc_id", "text", root, "ref", params)
    assert(SignatureStore.isBuilt(root, "ref", params))
    // idempotent: a second build with the same tag leaves the marker alone
    val markerTime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "ref", "_params"))
    SignatureStore.build(refDocs, "doc_id", "text", root, "ref", params)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "ref", "_params")) == markerTime)

    val stored = Dedup.minhashPairsAgainstStored(
      newDocs, "doc_id", "text",
      SignatureStore.bands(spark, root, "ref", params),
      SignatureStore.shingleHashes(spark, root, "ref", params),
      minJaccardE4 = 5000)
      .select("a", "b", "j_e4").as[(Long, Long, Long)].collect().toSet
    val inline = Dedup.minhashPairsAgainst(newDocs, refDocs, "doc_id", "text",
      minJaccardE4 = 5000)
      .select("a", "b", "j_e4").as[(Long, Long, Long)].collect().toSet
    assert(stored == inline && stored.nonEmpty, s"stored=$stored inline=$inline")

    // the persisted frames read as bare scans: no shingle/minhash stages,
    // and no per-batch hash/sort on the verify arrays (persisted at build)
    Seq(SignatureStore.bands(spark, root, "ref", params),
        SignatureStore.shingleHashes(spark, root, "ref", params)).foreach { f =>
      assert(f.queryExecution.sparkPlan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.isEmpty, "store read must be a bare parquet scan")
      assert(!f.queryExecution.sparkPlan.toString.contains("hashed_shingles"),
        "verify arrays must come from the store, not a per-read re-hash")
    }

    // parameter change invalidates: reads refuse, rebuild replaces
    val other = SignatureStore.Params(numHashes = 24, numBands = 4)
    assert(!SignatureStore.isBuilt(root, "ref", other))
    intercept[IllegalArgumentException] {
      SignatureStore.bands(spark, root, "ref", other)
    }
    SignatureStore.build(refDocs, "doc_id", "text", root, "ref", other)
    assert(SignatureStore.isBuilt(root, "ref", other) &&
      !SignatureStore.isBuilt(root, "ref", params))
    assert(SignatureStore.bands(spark, root, "ref", other)
      .select(max("band_ix")).head().getInt(0) == 3)
  }

  test("Sampling.stratified: deterministic, rate-shaped, engine-portable buckets") {
    val corpus = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratified(corpus, "doc_id", "lang",
      Map("en" -> 2500), defaultE4 = 7500)
    val again = Sampling.stratified(corpus, "doc_id", "lang",
      Map("en" -> 2500), defaultE4 = 7500)
    assert(kept.collect().toSeq == again.collect().toSeq) // pure function of id
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    // 1000 docs per stratum at 25% / 75% — binomial, allow wide slack
    assert(byLang("en") > 150 && byLang("en") < 350, s"en=${byLang("en")}")
    assert(byLang("de") > 650 && byLang("de") < 850, s"de=${byLang("de")}")
    intercept[IllegalArgumentException] {
      Sampling.stratified(corpus, "doc_id", "lang", Map("en" -> 10001), 0)
    }
  }

  test("Sampling.weightedTopK: A-ES semantics — weight-biased, exact, stable") {
    // two strata of equal size with a 10× weight gap: the heavy stratum
    // must dominate the sample (P[heavy wins a slot] ≈ 10/11 pairwise),
    // and the selection must be a pure function of (salt, id)
    val corpus = (0L until 2000L)
      .map(i => (i, if (i % 2 == 0) 1000L else 100L))
      .toDF("doc_id", "w")
    val top = Sampling.weightedTopK(corpus, "doc_id", "w", k = 200)
    val rows = top.as[(Long, Long, Long)].collect()
    assert(rows.length == 200)
    assert(rows.map(_._3).toSeq == rows.map(_._3).toSeq.sorted) // ascending key
    val heavy = rows.count(_._2 == 1000L)
    assert(heavy > 150, s"heavy=$heavy of 200") // E[heavy] ≈ 183
    val again = Sampling.weightedTopK(corpus, "doc_id", "w", k = 200)
      .as[(Long, Long, Long)].collect()
    assert(rows.toSeq == again.toSeq)
    // a different salt draws different u's → a different sample
    val other = Sampling.weightedTopK(corpus, "doc_id", "w", k = 200, salt = "x")
      .as[(Long, Long, Long)].collect()
    assert(other.map(_._1).toSet != rows.map(_._1).toSet)
    // zero/negative weights are never sampled, even at k > corpus size
    val withZero = corpus.withColumn("w",
      when(col("doc_id") < 1990L, lit(0L)).otherwise(col("w")))
    val z = Sampling.weightedTopK(withZero, "doc_id", "w", k = 2000)
      .as[(Long, Long, Long)].collect()
    assert(z.length == 10 && z.forall(_._1 >= 1990L))
  }

  test("selfRepetition: exact occurrence accounting, short docs all-zero") {
    val docs = Seq(
      (1L, "a b a b a b"),  // 2-windows: "a b"×3, "b a"×2 → all 5 repeated
      (2L, "a b c"),        // 2 distinct windows, no repeats
      (3L, "x"),            // shorter than k → zeros
      (4L, "go go go stop go go") // "go go"×3, "go stop", "stop go" → 3 of 5
    ).toDF("doc_id", "text")
    val out = Dedup.selfRepetition(docs, "doc_id", "text", k = 2)
      .orderBy("id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 5L, 5L, 3L, 10000L),
      (2L, 2L, 0L, 1L, 0L),
      (3L, 0L, 0L, 0L, 0L),
      (4L, 5L, 3L, 3L, 6000L)))
  }

  test("duplicate doc ids do not multiply pairs through the verify join-back") {
    // raw corpora carry repeated ids; the slim candidate join fetches
    // payloads back BY ID, which would fan out without the final distinct
    val dup = docs.unionByName(docs.filter(col("doc_id") === 1L))
    Seq(
      Dedup.minhashPairs(dup, "doc_id", "text", minJaccardE4 = 5000),
      Dedup.ngramJaccardPairs(dup, "doc_id", "text", minJaccardE4 = 5000)
    ).foreach { pairs =>
      val rows = pairs.select("a", "b").as[(Long, Long)].collect()
      assert(rows.length == rows.toSet.size, s"duplicate output pairs: ${rows.toSeq}")
    }
  }

  test("simhash fingerprint is 16 hex chars, equal texts equal, near-dups close") {
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(fp.values.forall(_.matches("[0-9a-f]{16}")))
    assert(fp(1L) == fp(4L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("connectedComponents: min-label survivors across chains (both paths)") {
    import org.apache.spark.sql.functions.col
    // chain 1-2-3 (transitive), separate pair 5-6
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    // local union-find fast path
    assert(Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap == expect)
    // distributed label-propagation path (force with threshold 0)
    assert(Dedup.connectedComponents(pairs, localThreshold = 0)
      .as[(Long, Long)].collect().toMap == expect)
    val dropped = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("survivor")).count()
    assert(dropped == 3)
  }

  test("canonicalPerCluster: argmax score per cluster, ties to lowest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val clusters = Dedup.connectedComponents(pairs)
    // cluster {1,2,3}: doc 2 longest → canonical; {5,6}: tie → lowest id 5
    val scores = Seq((1L, 4L), (2L, 9L), (3L, 7L), (5L, 3L), (6L, 3L))
      .toDF("doc_id", "len")
    val out = Dedup.canonicalPerCluster(clusters, scores, "doc_id", "len")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 3L, 9L)))
    assert(out(5L) == ((5L, 5L, 2L, 3L)))
  }

  test("distributedComponents converges on a deep path graph (>3 rounds)") {
    // path 0-1-2-...-11: propagation reach after k hop+jump rounds is
    // 2^(k+1)−2, so labels settle in round 4 and the sum fixpoint is
    // detected in round 5 — exercises the multi-round loop, per-round
    // checkpointing, and convergence detection past the shallow-clique case
    val n = 12
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, maxIters = 20, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(got == (0 until n).map(i => i.toLong -> 0L).toMap)
    // too-low round budget must throw, never return partial labels
    // (3 rounds reach distance 14 ≥ 11, but the sum fixpoint is only
    // OBSERVED in a 4th round — converged means proven, not plausible)
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIters = 3, localThreshold = 0).collect()
    }
  }

  test("distributedComponents: pointer jumping bounds rounds by log(diameter)") {
    // a depth-10⁴ quote-chain (A quotes B quotes C …): the pre-r16 plain
    // hop loop needed one round per depth unit and ABORTED at maxIters on
    // this legitimately deep graph; the label-of-label shortcut doubles
    // the propagated distance per round (reach 2^(k+1)−2 ⇒ settled at
    // k = 13, fixpoint observed at 14), so 20 rounds are ample
    import org.apache.spark.sql.functions.col
    val n = 10001
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, maxIters = 20, localThreshold = 0)
    assert(out.filter(col("survivor") =!= 0L).count() == 0L)
    assert(out.count() == n.toLong)
  }

  test("ngramJaccardPairs: near-dups found exactly, j_e4 exact") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccardE4 = 5000)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(t => (t._1, t._2)) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got.collectFirst { case (1L, 4L, j) => j }.contains(10000L)) // identical
  }

  test("substringPairs: cross-boundary verbatim runs found at any offset; " +
      "k−1-token overlaps and capped boilerplate windows are not") {
    // doc 11 shares an EXACT 6-token run with doc 10 at a different
    // offset (the cross-chunk shape); doc 12 shares only 4 consecutive
    // tokens (< k); doc 13 is unrelated
    val c = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "noise one two gamma delta epsilon zeta eta theta"),
      (12L, "alpha beta gamma delta completely different tail here"),
      (13L, "unrelated words that never overlap with anything else")
    ).toDF("doc_id", "text")
    val got = Dedup.substringPairs(c, "doc_id", "text", k = 6)
      .as[(Long, Long, Long)].collect().toSet
    // 10↔11 share the run [gamma..theta] of 6 tokens → exactly 1 window
    assert(got == Set((10L, 11L, 1L)))

    // a single shared run of length L yields L−k+1 windows
    val run = Seq(
      (1L, "p1 a b c d e f g h q1"),
      (2L, "p2 x a b c d e f g h q2")).toDF("doc_id", "text")
    val n = Dedup.substringPairs(run, "doc_id", "text", k = 6)
      .as[(Long, Long, Long)].collect()
    assert(n.toSeq == Seq((1L, 2L, 3L))) // 8-token run, k=6 → 3 windows

    // boilerplate cap: a window shared by 3 docs disappears at cap 2
    val boiler = Seq(
      (1L, "shared header line one two three four tail-a"),
      (2L, "shared header line one two three four tail-b"),
      (3L, "shared header line one two three four tail-c")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.substringPairs(boiler, "doc_id", "text", k = 7)
      .as[(Long, Long, Long)].collect()
    assert(uncapped.length == 3) // all three pairs
    val capped = Dedup.substringPairs(boiler, "doc_id", "text", k = 7,
      maxDocsPerWindow = 2)
      .as[(Long, Long, Long)].collect()
    assert(capped.isEmpty)
  }

  test("substringPairsAgainst: cross-corpus only; stored variant identical " +
      "to inline and reads the persisted windows") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "another reference document with its own words here now")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "prefix tokens the quick brown fox jumps over the lazy dog today suffix"),
      // 102 and 103 share a run with EACH OTHER but not with ref — a
      // cross-corpus operator must not surface intra-batch pairs
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (103L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val inline = Dedup.substringPairsAgainst(fresh, ref, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(inline.map(t => (t._1, t._2)) == Set((101L, 1L)))

    val root = Queries.scratchDir("graft_winstore_spec")
    SubstringWindowStore.build(ref, "doc_id", "text", root, "ref",
      SubstringWindowStore.Params(k = 8))
    // k comes FROM the store's params — a free k argument could silently
    // hash-mismatch every window (r12 advice item)
    val stored = Dedup.substringPairsAgainstStored(fresh, "doc_id", "text",
      spark, root, "ref", SubstringWindowStore.Params(k = 8))
      .as[(Long, Long, Long)].collect().toSet
    assert(stored == inline)
    // pre-loaded (persisted) reference seam ≡ the store-reading path —
    // the many-batch consumers hold the frozen ref hot across batches
    val refW = SubstringWindowStore.windows(spark, root, "ref",
      SubstringWindowStore.Params(k = 8)).persist()
    try {
      val viaRef = Dedup.substringPairsAgainstRef(fresh, "doc_id", "text",
        refW, SubstringWindowStore.Params(k = 8))
        .as[(Long, Long, Long)].collect().toSet
      assert(viaRef == inline)
    } finally { refW.unpersist(); () }
    // param mismatch (k or cap) refuses to serve rather than hash-miss
    assertThrows[IllegalArgumentException] {
      Dedup.substringPairsAgainstStored(fresh, "doc_id", "text",
        spark, root, "ref", SubstringWindowStore.Params(k = 9))
    }
    assertThrows[IllegalArgumentException] {
      SubstringWindowStore.windows(spark, root, "ref",
        SubstringWindowStore.Params(k = 8, maxDocsPerWindow = 7))
    }
  }

  test("dropSharedSpansAgainstStored: reference spans drop from new docs, " +
      "intra-batch repeats survive, untouched docs round-trip verbatim") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "another reference document with its own words here now")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      // shares the ref's 10-token run wrapped in unique noise
      (101L, "prefix tokens the quick brown fox jumps over the lazy dog today suffix"),
      // 102/103 repeat EACH OTHER, not the ref — the frozen-reference
      // semantics must leave intra-batch duplication alone
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (103L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val root = Queries.scratchDir("graft_spanstore_spec")
    SubstringWindowStore.build(ref, "doc_id", "text", root, "ref",
      SubstringWindowStore.Params(k = 10))
    val out = Dedup.dropSharedSpansAgainstStored(fresh, "doc_id", "text",
      spark, root, "ref", SubstringWindowStore.Params(k = 10))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(101L, 102L, 103L))
    val byId = out.map(r => r._1 -> r).toMap
    // 101: the 10 contaminated positions drop; unique affixes survive
    assert(byId(101L) == ((101L, 13L, 10L, "prefix tokens suffix")))
    // 102/103: zero dropped, text reassembles verbatim
    assert(byId(102L)._3 == 0L && byId(102L)._4.startsWith("alpha beta"))
    assert(byId(103L) == ((103L, 10L, 0L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
    // intra-corpus operator on (ref ∪ fresh) agrees on the shared doc:
    // the stored path is the same remediation with the ref side frozen
    val inlineUnion = Dedup.dropSharedSpans(
      ref.unionByName(fresh), "doc_id", "text", k = 10)
      .filter(col("id") === 101L)
      .as[(Long, Long, Long, String)].collect().head
    assert(inlineUnion == byId(101L))
    // param mismatch refuses to serve rather than hash-missing every window
    assertThrows[IllegalArgumentException] {
      Dedup.dropSharedSpansAgainstStored(fresh, "doc_id", "text",
        spark, root, "ref", SubstringWindowStore.Params(k = 9))
    }
    // pre-loaded (persisted) reference seam ≡ the store-reading path
    val refW = SubstringWindowStore.windows(spark, root, "ref",
      SubstringWindowStore.Params(k = 10)).persist()
    try {
      val viaRef = Dedup.dropSharedSpansAgainstRef(fresh, "doc_id", "text",
        refW, SubstringWindowStore.Params(k = 10))
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(viaRef == out)
    } finally { refW.unpersist(); () }
  }

  test("hot-window guard is ON by default: a planted boilerplate window " +
      "pairs nothing, is surfaced with its count, and 0 restores exact") {
    // 1030 docs share one 10-token header (> DefaultMaxDocsPerWindow =
    // 1024); unique tails pair nothing — the d² blowup case
    val n = 1030
    val boiler = spark.range(n).selectExpr("id AS doc_id",
      "concat('shared header one two three four five six seven eight tail', id) AS text")
    val pairs = Dedup.substringPairs(boiler, "doc_id", "text", k = 10)
    assert(pairs.count() == 0L) // default guard: bounded, not 1030²/2

    val hot = Dedup.hotWindows(boiler, "doc_id", "text", k = 10)
      .as[(String, Long)].collect()
    assert(hot.length >= 1 && hot.forall(_._2 == n.toLong)) // surfaced

    // explicit 0 restores the uncapped exact semantics (all pairs) — on
    // a 100-doc slice to keep the quadratic output test-sized
    val small = boiler.filter(col("doc_id") < 100)
    val exact = Dedup.substringPairs(small, "doc_id", "text", k = 10,
      maxDocsPerWindow = 0)
    assert(exact.count() == 100L * 99 / 2)

    // positioned family: one doc repeating a window past the cap
    // contaminates/chains nothing by default, everything at 0
    val rep = Seq.tabulate(3)(i =>
      (i.toLong, Seq.fill(40)("w x y z").mkString(" ") + s" tail$i"))
      .toDF("doc_id", "text")
    assert(Dedup.substringRuns(rep, "doc_id", "text", k = 4,
      maxOccurrencesPerWindow = 8).count() == 0L)
    assert(Dedup.substringRuns(rep, "doc_id", "text", k = 4,
      maxOccurrencesPerWindow = 0).count() == 3L)

    // the store splits clean/hot at build time: windows() excludes the
    // hot hash, hotWindows() surfaces it, stored ≡ inline at the same cap
    val root = Queries.scratchDir("graft_hotstore_spec")
    SubstringWindowStore.build(boiler, "doc_id", "text", root, "boiler",
      SubstringWindowStore.Params(k = 10))
    // the store's persisted keys are the internal two-long form, so the
    // cross-check with the inline md5-keyed hotWindows is by COUNT (both
    // must surface exactly the same number of over-cap windows, all with
    // the full document count)
    val storedHot = SubstringWindowStore.hotWindows(spark, root, "boiler")
      .as[(Long, Long, Long)].collect()
    assert(storedHot.length == hot.length && storedHot.forall(_._3 == n.toLong))
    val clean = SubstringWindowStore.windows(spark, root, "boiler")
    assert(clean.join(
      SubstringWindowStore.hotWindows(spark, root, "boiler").select("h1", "h2"),
      Seq("h1", "h2"), "left_semi").count() == 0L)
    // a FRESH batch sharing only the boilerplate header with the store:
    // the header was excluded at build time, so nothing matches
    val batch = spark.range(5).selectExpr("id + 5000 AS doc_id",
      "concat('shared header one two three four five six seven eight fresh', id) AS text")
    val vs = Dedup.substringPairsAgainstStored(
      batch, "doc_id", "text", spark, root, "boiler")
    assert(vs.count() == 0L) // the hot header never left the store
  }

  test("dropSharedSpans scored survivor: the best-scored doc keeps the " +
      "span regardless of id; ties fall back to lowest id") {
    import spark.implicits._
    val c = Seq(
      (1L, "alpha beta gamma delta epsilon zeta keep1 keep2"),
      (2L, "pre alpha beta gamma delta epsilon zeta post tail"),
      (3L, "totally unrelated words live here peacefully today")
    ).toDF("doc_id", "text")
    // doc 2 outscores doc 1: the HIGHER id now keeps the shared span and
    // doc 1 (the unscored winner) loses it — the flipped orientation
    val q = Seq((1L, 10L), (2L, 50L), (3L, 0L)).toDF("doc_id", "q")
    val got = Dedup.dropSharedSpans(c, "doc_id", "text", k = 6,
      scores = q, scoreCol = "q")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got(2L) == ((9L, 0L,
      "pre alpha beta gamma delta epsilon zeta post tail")))
    assert(got(1L) == ((8L, 6L, "keep1 keep2")))
    assert(got(3L)._2 == 0L)

    // equal scores reduce to the unscored (lowest-id-wins) policy
    val tied = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("doc_id", "q")
    val gotTied = Dedup.dropSharedSpans(c, "doc_id", "text", k = 6,
        scores = tied, scoreCol = "q")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val unscored = Dedup.dropSharedSpans(c, "doc_id", "text", k = 6)
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(gotTied == unscored)

    // fractional scores are a contract violation, not silent rounding
    val bad = Seq((1L, 0.5)).toDF("doc_id", "q")
    assertThrows[IllegalArgumentException] {
      Dedup.dropSharedSpans(c, "doc_id", "text", k = 6,
        scores = bad, scoreCol = "q")
    }
  }

  test("substringRuns: consecutive windows chain into token run lengths; " +
      "separate runs don't merge") {
    // docs share one 8-token run AND one disjoint 6-token run: with k=6
    // the 8-token run spans 3 windows (max_run = 8), the 6-token run 1
    val c = Seq(
      (1L, "a b c d e f g h x1 y1 z1 m n o p q r"),
      (2L, "x2 a b c d e f g h y2 w2 m n o p q r")).toDF("doc_id", "text")
    val got = Dedup.substringRuns(c, "doc_id", "text", k = 6)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 8L, 4L))) // max(3,1)+5=8; 3+1 windows
  }

  test("dropSharedSpans: later doc loses the covered span, earlier doc " +
      "and bystanders untouched, reassembly ordered") {
    val c = Seq(
      (1L, "alpha beta gamma delta epsilon zeta keep1 keep2"),
      (2L, "pre alpha beta gamma delta epsilon zeta post tail"),
      (3L, "totally unrelated words live here peacefully today")
    ).toDF("doc_id", "text")
    val got = Dedup.dropSharedSpans(c, "doc_id", "text", k = 6)
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // doc 1 (earlier) keeps everything
    assert(got(1L) == ((8L, 0L,
      "alpha beta gamma delta epsilon zeta keep1 keep2")))
    // doc 2 loses the 6-token shared span (positions 2-7), keeps the rest
    assert(got(2L) == ((9L, 6L, "pre post tail")))
    assert(got(3L)._2 == 0L)
  }

  test("softDedupWeights gives 1e6/size to members, 1e6 to singletons") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (5L, "z"),
      (6L, "w")).toDF("doc_id", "text")
    val memb = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "survivor")
    val w = Dedup.softDedupWeights(docs, "doc_id", memb)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(w(1L) == ((3L, 333333L)) && w(2L) == ((3L, 333333L)) &&
      w(3L) == ((3L, 333333L)))
    assert(w(4L) == ((2L, 500000L)) && w(5L) == ((2L, 500000L)))
    assert(w(6L) == ((1L, 1000000L)))
    // total sampling mass of a cluster ~ one doc's (within rounding)
    assert(Seq(1L, 2L, 3L).map(w(_)._2).sum == 999999L)
  }

  test("softDedupWeightsScored promotes the best-scored member to full " +
      "weight; the rest keep the base split; singletons canonical") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (5L, "z"),
      (6L, "w")).toDF("doc_id", "text")
    val memb = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "survivor")
    // cluster {1,2,3}: doc 2 best score; cluster {4,5}: tie → lowest id 4
    val scores = Seq((1L, 10L), (2L, 99L), (3L, 10L), (4L, 7L), (5L, 7L),
      (6L, 1L)).toDF("doc_id", "s")
    val w = Dedup.softDedupWeightsScored(docs, "doc_id", memb, scores, "s")
      .as[(Long, Long, Boolean, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(w(2L) == ((3L, true, 1000000L)))   // promoted canonical
    assert(w(1L) == ((3L, false, 333333L)))   // base split kept
    assert(w(3L) == ((3L, false, 333333L)))
    assert(w(4L) == ((2L, true, 1000000L)))   // tie → lowest id
    assert(w(5L) == ((2L, false, 500000L)))
    assert(w(6L) == ((1L, true, 1000000L)))   // singleton = own canonical
    // cluster mass = full canonical + the remainder split: 1e6·(2 − 1/n)
    assert(Seq(1L, 2L, 3L).map(w(_)._3).sum == 1666666L)
  }

  test("minhashBandsForRecall inverts the banding curve; sized geometry " +
      "recovers planted pairs at the target") {
    // closed form: returned b is MINIMAL with 1 − (1 − s^r)^b ≥ recall
    def recallOf(s: Double, r: Int, b: Int) =
      1 - math.pow(1 - math.pow(s, r), b)
    val b = Dedup.minhashBandsForRecall(5000, 0.9, 3)
    assert(recallOf(0.5, 3, b) >= 0.9 && recallOf(0.5, 3, b - 1) < 0.9)
    // the shipped (12, 4) word-shingle default sits at its documented
    // J=0.8 design point: the inversion reproduces it
    assert(Dedup.minhashBandsForRecall(8000, 0.9, 3) == 4)
    assert(Dedup.minhashSizingForRecall(8000, 0.9, 3) == ((12, 4)))
    // tighter target → more bands; infeasible combinations throw by name
    assert(Dedup.minhashBandsForRecall(5000, 0.99, 3) > b)
    val boom = intercept[IllegalArgumentException] {
      Dedup.minhashBandsForRecall(500, 0.999, 6)
    }
    assert(boom.getMessage.contains("infeasible"))
    // planted pairs at J≈0.67 (> τ=0.5): the geometry sized for recall
    // 0.9 AT τ must recover ≥ target (planted sit above the threshold,
    // so the banding model has margin — same stance as the SRP probe)
    val n = 120
    val docs = (0 until n).flatMap { i =>
      val toks = (0 until 40).map(t => s"w${i}_$t")
      Seq((i.toLong, toks.mkString(" ")),
        ((i + 10000).toLong,
          (toks.take(34) ++ (0 until 10).map(t => s"n${i}_$t")).mkString(" ")))
    }.toDF("doc_id", "text")
    val (h, bands) = Dedup.minhashSizingForRecall(5000, 0.9, 3)
    val found = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleWords = 3, numHashes = h, numBands = bands, minJaccardE4 = 5000)
      .filter(col("b") === col("a") + 10000L).count()
    assert(found >= math.ceil(0.9 * n).toLong,
      s"sized-band recall ${found.toDouble / n} below target")
  }

  test("containmentPairs surfaces subset quoting that Jaccard misses") {
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 19).map(i => s"w$i").mkString(" ") // verbatim slice
    val docs = Seq((1L, big), (2L, excerpt),
      (3L, "totally different words over here nothing shared at all"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleWords = 3, minContainE4 = 9000).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // excerpt: 8 shingles, every one inside big's 38 → containment 1.0
    assert(r.getLong(2) == 8L && r.getLong(3) == 38L && r.getLong(4) == 8L)
    assert(r.getLong(6) == 10000L)
    // while resemblance on the same pair is 8/38 — far below any
    // near-dup threshold: the asymmetric catch
    assert(r.getLong(5) == math.round(8 * 10000.0 / 38))
  }

  test("containmentPairs df cap drops boilerplate-shingle evidence") {
    val docs = (0L until 10L)
      .map(i => (i, s"common shingle here unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    // the only cross-doc shingle rides on every doc (df 10): over cap 4
    // it pairs nothing, and the remaining shingles are doc-unique
    assert(Dedup.containmentPairs(docs, "doc_id", "text", 3, 0,
      maxDocsPerShingle = 4).count() == 0L)
    // cap 0 = exact semantics: all 45 pairs share it
    assert(Dedup.containmentPairs(docs, "doc_id", "text", 3, 0,
      maxDocsPerShingle = 0).count() == 45L)
  }

  test("containment twins share the measured 4-word-shingle default") {
    // a 40-token doc has 37 distinct 4-word shingles (38 under the old
    // 3-word default) — the per-doc totals pin which geometry ran, so a
    // twin silently reverting to 3-word shingles fails here
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 19).map(i => s"w$i").mkString(" ") // 10 tokens → 7 shingles
    val intra = Dedup.containmentPairs(
      Seq((1L, big), (2L, excerpt)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(intra.length == 1)
    assert(intra.head.getLong(2) == 7L && intra.head.getLong(3) == 37L
      && intra.head.getLong(4) == 7L)
    val cross = Dedup.containmentPairsAgainst(
      Seq((100L, excerpt)).toDF("doc_id", "text"),
      Seq((1L, big)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(cross.length == 1)
    assert(cross.head.getLong(2) == 7L && cross.head.getLong(3) == 7L
      && cross.head.getLong(4) == 37L)
  }

  test("containmentPairsAgainst finds new-batch excerpts of the frozen corpus") {
    val ref = Seq(
      (1L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (2L, "unrelated ref words entirely different over here"))
      .toDF("doc_id", "text")
    val newB = Seq(
      (100L, (5 to 14).map(i => s"w$i").mkString(" ")), // verbatim excerpt
      (101L, "no overlap with anything at all truly nothing"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairsAgainst(newB, ref, "doc_id", "text",
      shingleWords = 3, minContainE4 = 9000).collect()
    assert(out.length == 1)
    val r = out.head
    // 10-token excerpt → 8 shingles, all inside the 30-token ref's 28
    assert(r.getLong(0) == 100L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 8L && r.getLong(3) == 8L && r.getLong(4) == 28L)
    assert(r.getLong(5) == 10000L)
    assert(r.getLong(6) == math.round(8 * 10000.0 / 28))
  }
}
