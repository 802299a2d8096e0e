package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Two paths, mirroring what a 100 TB training-data pipeline needs:
  *
  *  - brute force: exact cosine top-k — the correctness baseline. The query
  *    set is broadcast, the corpus streams; cost O(|corpus| · |queries| · d)
  *    with no corpus shuffle.
  *  - IVF: inverted-file index — corpus is assigned to its nearest centroid
  *    (one narrow pass + broadcast of centroids), searches probe only the
  *    nearest centroid's bucket. This is the path that survives a 1000×
  *    corpus: the expensive part is a bucket-local top-k, not a full scan.
  *
  * Determinism: dot products accumulate left-to-right in doubles via
  * `aggregate(zip_with(...))` (same order DuckDB's list functions use);
  * similarities surface as `round(cos * 1e6)` BIGINT and every ranking
  * tie-breaks on id, so results are exactly reproducible in the oracle.
  * All lambda expressions are codegen'd Catalyst — no UDFs.
  */
object Similarity {

  /** Left-to-right double dot product — native codegen expression (see
    * [[graft.functions.DotProduct]]); same accumulation order as the HOF
    * `aggregate(zip_with(...))` form it replaced, ~an order of magnitude
    * less per-pair overhead. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity scaled to exact integer micro-units (round(c*1e6)). */
  def cosineE6(a: Column, b: Column): Column =
    safeCosE6(dot(a, b), norm(a), norm(b))

  /** e6 cosine from a precomputed dot and norms, TOTAL under ANSI mode:
    * a zero-norm vector (a failed encoder emits all-zeros at crawl scale)
    * is similar to NOTHING — its cosine is defined 0 (never a near-dup,
    * always below any outlier threshold, ties to the lowest cid on
    * assignment) instead of executing the double/0 division, which ANSI
    * THROWS on (probed: SparkArithmeticException, not IEEE NaN — the
    * same hazard class as the r11 unigramNll empty-doc crash). For
    * nonzero norms the arithmetic is bit-identical to the unguarded
    * form, so every oracle hash is unchanged. */
  private[operators] def safeCosE6(d: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, round(d / (na * nb) * 1e6, 0).cast("long"))
      .otherwise(lit(0L))

  /** All pairs (a < b) with cosine ≥ minCosineE6 — embedding near-dup
    * detection, EXACT semantics (no candidate filter — at a loose threshold
    * like 0.45 the cosine distribution is continuous through the cutoff, so
    * any LSH/IVF blocking either floods candidates or silently drops pairs;
    * see [[nearDupPairsLsh]] for the approximate tight-threshold path).
    *
    * Scale design: the inherent n² pair-space is executed as a BLOCKED
    * EQUI-JOIN, not a broadcast nested loop. Ids hash into B blocks; pair
    * (a,b) is examined exactly once, in cell (block(a), block(b)); each side
    * is replicated B ways keyed by cell. That gives B² independent
    * hash-join tasks of (n/B)² pairs each — no full-corpus broadcast, no
    * O(n) per-executor memory, and AQE picks the join strategy per cell
    * sizes. Replication factor B per side = sqrt(tasks), the minimum for a
    * distributed exact self-comparison.
    *
    * @param numBlocks B; 0 (default) derives it from
    *                  spark.sql.shuffle.partitions (B² ≈ 2× partitions). */
  def nearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      minCosineE6: Long, numBlocks: Int = 0): DataFrame = {
    val b =
      if (numBlocks > 0) numBlocks
      else {
        val p = vecs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
        math.max(4, math.ceil(math.sqrt(2.0 * p)).toInt)
      }
    // norms computed and floats widened to double once per row, NOT once per
    // pair — at n² pairs the difference is the whole game. The repartition
    // does double duty: a single-file corpus otherwise computes every norm
    // on ONE input partition, and because l/r are projections over the SAME
    // exchange subtree, Spark's ReusedExchange evaluates the scan+norm once
    // for both sides of the self-join.
    val vd = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", norm(col("__v")))
      .withColumn("__blk", pmod(hash(col(idCol)), lit(b)))
      .repartition(col(idCol))
    val l = vd.select(col(idCol).as("a"), col("__v").as("va"), col("__n").as("na"),
        col("__blk").as("__ba"))
      .withColumn("__bb", explode(sequence(lit(0), lit(b - 1))))
    val r = vd.select(col(idCol).as("b"), col("__v").as("vb"), col("__n").as("nb"),
        col("__blk").as("__rb"))
      .withColumn("__ra", explode(sequence(lit(0), lit(b - 1))))
    l.join(r, l("__ba") === r("__ra") && l("__bb") === r("__rb"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        safeCosE6(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim_e6"))
      .filter(col("sim_e6") >= minCosineE6)
  }

  /** Approximate near-dup pairs via sign-bit LSH: band i's key packs the
    * sign bits of `bitsPerBand` consecutive dimensions; candidates share at
    * least one band key and are then EXACTLY verified (cosine ≥ threshold),
    * so false positives are impossible — only recall is approximate.
    *
    * '''DEPRECATED — use [[nearDupPairsSrp]] for production near-dup.'''
    * The band space here is bounded by the vector dimensionality: distinct
    * sign bits ≤ dim, so effective bands cap at floor(dim/bitsPerBand) and
    * the per-band key space at 2^bitsPerBand keys CANNOT grow with the
    * corpus. The round-6 10× scale sweep measured the consequence directly
    * (165× wall-time growth at 10× corpus: 8-bit bands over dim-64 vectors
    * saturate their 256-key space and candidates go ~n²/256). The SRP
    * variant draws its bits from random hyperplanes instead of raw
    * dimensions, so `numBands · bitsPerBand` is unbounded and bitsPerBand
    * auto-sizes ~log₂ n — same slim-join execution shape, same exact
    * verification, no saturation. This operator stays for the one regime
    * it genuinely wins: dim ≫ log₂ n corpora where skipping the
    * hyperplane projection pass saves a corpus scan, and as the measured
    * counter-example the scale sweep documents.
    *
    * This is the tight-threshold regime's candidate generator (cosine
    * ≳ 0.9, i.e. true near-duplicates), where per-bit collision
    * probability ≈ 1 − θ/π ≈ 0.9 makes recall ≈ 1 with a few bands while
    * random pairs collide at 2^-bitsPerBand per band. At loose thresholds
    * use [[nearDupPairs]] — the candidate/verify trade-off inverts
    * (SimilaritySpec measures this).
    *
    * Execution shape: the banded self-join is SLIM — ids and band keys
    * only, never the vectors. With b-bit bands random pairs collide at
    * ~2^-b per band, so the candidate stream can be orders of magnitude
    * larger than the corpus; carrying the embeddings through that join's
    * shuffle (and the pair-dedup shuffle after it) multiplies shuffle
    * bytes by the vector width. Instead candidates are deduped as bare
    * (a,b) pairs and the vectors join back in two hash joins against the
    * prepped corpus frame — the join-back is keyed on id, so AQE picks
    * broadcast vs shuffle per actual corpus size.
    *
    * Effective bands are capped at floor(dim / bitsPerBand): beyond that the
    * sign-bit windows would wrap around the vector and duplicate earlier
    * bands bit-for-bit, silently shrinking the REAL band count (and so
    * recall) below the configured one. With the cap, asking for more bands
    * than the dimensionality supports degrades recall visibly (fewer
    * collision chances) instead of silently.
    *
    * Cache lifecycle: the prepped and banded frames are action-scoped via
    * [[OperatorCache]] — released automatically when the materializing
    * action completes, no caller-side clearCache() contract (same
    * lifecycle as [[Dedup]]'s banded self-joins; CacheLifecycleSpec). */
  def nearDupPairsLsh(
      vecs: DataFrame, idCol: String, vecCol: String, minCosineE6: Long,
      bitsPerBand: Int = 8, numBands: Int = 8): DataFrame = {
    val vd = OperatorCache.scoped(
      vecs.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__n", norm(col("__v")))
        .repartition(col(idCol)) // parallelize per-row prep
    ) // feeds banding AND both sides of the verify join-back
    // band key: fold acc*2 + signbit over dims [i*r, i*r+r); bands that
    // would overrun the vector (i >= dim/r) are dropped, not wrapped
    val effBands = least(lit(numBands),
      greatest(floor(size(col("__v")) / bitsPerBand).cast("int"), lit(1)))
    // ids + band keys ONLY — the candidate join must stay narrow
    val bandedRaw = vd.select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), effBands - 1), bandIx =>
          // zero-dim (empty-array) totality: both pmod-by-size(0) and
          // element_at over the empty array ANSI-THROW (probed), so the
          // degenerate row takes band key 0 outright — it clusters only
          // with its own kind and safeCosE6 scores it 0 at verify, like
          // the zero-norm case
          when(size(col("__v")) > 0, aggregate(
            sequence(lit(0L), lit(bitsPerBand - 1L)), lit(0L),
            (acc, j) => acc * 2 + when(
              element_at(col("__v"),
                (pmod(bandIx.cast("long") * bitsPerBand + j, size(col("__v")))
                  + 1).cast("int")) >= 0d, lit(1L)).otherwise(lit(0L))))
            .otherwise(lit(0L))))
          .as(Seq("band_ix", "band_key")))
    val banded = OperatorCache.scoped(bandedRaw) // both self-join sides
    val cand = banded.select(col("id").as("a"), col("band_ix"), col("band_key"))
      .join(banded.select(col("id").as("b"), col("band_ix"), col("band_key")),
        Seq("band_ix", "band_key"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .dropDuplicates("a", "b")
    cand
      .join(vd.select(col(idCol).as("a"), col("__v").as("va"), col("__n").as("na")), Seq("a"))
      .join(vd.select(col(idCol).as("b"), col("__v").as("vb"), col("__n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        safeCosE6(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim_e6"))
      .filter(col("sim_e6") >= minCosineE6)
  }

  /** Signed-random-projection (SRP / Charikar) LSH near-dup pairs — THE
    * production near-dup path; its band space does NOT cap at the vector
    * dimensionality.
    *
    * [[nearDupPairsLsh]] packs sign bits of RAW dimensions, so total
    * distinct bits ≤ dim: at dim 64 its 8-bit bands saturate (256 keys)
    * and random-pair collisions grow ~n²/256 — the 10× scale sweep
    * measured exactly that (ScaleSweep, BASELINE.md round 6). Here each
    * bit is the sign of ⟨v, h⟩ for a deterministic Rademacher hyperplane
    * h (components ±1 seeded by (seed, band, bit, dim) through the same
    * 32-bit avalanche mix Spark's `hash` uses — pure public knowledge,
    * engine-portable): `numBands · bitsPerBand` is unbounded, so
    * bitsPerBand sizes ~log₂ n to keep the candidate stream LINEAR
    * in corpus size at any dimensionality (P[bit collides] = 1 − θ/π, the
    * standard SRP guarantee).
    *
    * `bitsPerBand = 0` (the default) auto-sizes to max(8, ⌈log₂ n⌉): the
    * expected random-pair collisions per band are then n²/2^bits ≤ n, so
    * the candidate stream stays proportional to the corpus at ANY n — the
    * sizing a production deployment would otherwise have to hand-tune per
    * corpus. The count it needs rides the same scan that probes the
    * dimensionality (one cheap metadata-friendly aggregate).
    *
    * `numBands = 0` (the default) sizes the band count FOR RECALL via
    * [[srpBandsForRecall]] at `targetRecall` (default
    * [[DefaultSrpTargetRecall]] = 0.9): auto-sized bits make per-band
    * collision probability decay with corpus growth, so the measured
    * recall of any fixed band count falls off a cliff as n grows (the
    * legacy fixed-8 default: 0.345 by n=200k, ~7% at 10⁹ — BASELINE.md
    * round-8 curve). Sizing per corpus holds recall FIXED and pays the
    * explicit, linear, visible cost of more band passes instead. Pass
    * `numBands > 0` to pin the count manually.
    *
    * Execution shape is identical to [[nearDupPairsLsh]]: hyperplanes
    * arrive as one broadcast frame (bands·bitsPerBand rows of
    * `array<double>` — k·b·d doubles, trivially small), band keys
    * aggregate bit signs per (row, band), the candidate self-join carries
    * ids + band keys only, survivors verify with exact cosine — false
    * positives remain impossible. Deterministic end to end for a fixed
    * seed; verified against planted near-dups and the exact operator in
    * SimilaritySpec (no SQL oracle row for the hyperplane stage:
    * mirroring the generation in the oracle dialect would test the
    * oracle, not the operator — the battery row's fixture makes the final
    * RESULT oracle-expressible instead). */
  /** Bands needed for a target recall under SRP banding — the sizing rule
    * the measured recall curve validates (BASELINE.md round 8: observed
    * recall tracked 1−(1−(1−θ/π)^bits)^bands within noise at n up to
    * 60k). Auto-sized bits grow with ⌈log₂ n⌉ to keep candidates linear,
    * which makes per-band collision probability p = (1−θ/π)^bits DECAY
    * with corpus growth — a fixed band count silently loses recall as the
    * corpus scales (the default 8 bands recover ~7% of 0.9-cosine pairs
    * at n = 10⁹). This inverts the model: bands = ⌈ln(1−target)/ln(1−p)⌉,
    * so a pipeline can hold recall FIXED and pay the explicit linear cost
    * of more bands instead. `minCosineE6` is the TIGHTEST angle you need
    * recovered (recall at looser angles is strictly lower). */
  def srpBandsForRecall(
      n: Long, minCosineE6: Long, targetRecall: Double,
      bitsPerBand: Int = 0): Int = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(targetRecall > 0 && targetRecall < 1,
      s"target recall must be in (0, 1), got $targetRecall")
    require(minCosineE6 > 0 && minCosineE6 < 1000000,
      s"minCosineE6 must be in (0, 1e6), got $minCosineE6")
    val bits =
      if (bitsPerBand > 0) bitsPerBand
      else math.max(8, math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
    val theta = math.acos(minCosineE6 / 1e6)
    val p = math.pow(1.0 - theta / math.Pi, bits)
    val bands = math.ceil(math.log1p(-targetRecall) / math.log1p(-p))
    // For loose angles at huge n, p → 0 and the band count explodes; a
    // silent Double→Int saturation at Int.MaxValue would "succeed" into an
    // absurd plan. Fail with the infeasible combination instead — each
    // band is a full pass over the corpus, so anything past this ceiling
    // is a mis-sizing, not a plan (round-8 ADVICE).
    require(bands <= MaxSrpBands,
      s"infeasible SRP sizing: recall $targetRecall at cosine " +
        s"${minCosineE6 / 1e6} over n=$n needs ${bands.toLong} bands " +
        s"(> $MaxSrpBands); per-band collision probability $p is too " +
        "small — lower bitsPerBand, loosen the target, or tighten the angle")
    math.max(1, bands.toInt)
  }

  /** Sanity ceiling for [[srpBandsForRecall]]: each band is a full
    * corpus pass, so a sizing past this is infeasible by construction. */
  val MaxSrpBands: Int = 4096

  /** Default recall target for [[nearDupPairsSrp]]'s auto-sized band
    * count: recover ≥90% of true pairs AT the caller's threshold angle
    * (recall at tighter angles is strictly higher). Chosen where the
    * measured round-8 recall-vs-n curve and the analytic model agree the
    * fixed-8-band legacy default collapses (0.345 recall by n=200k, ~7%
    * at 10⁹): a production dedup pass that silently loses 2/3 of its
    * duplicates is worse than one that pays ~2-4× more explicit band
    * passes — the cost is linear and visible, the recall loss was not. */
  val DefaultSrpTargetRecall: Double = 0.9

  /** Telemetry from one [[nearDupPairsSrp]] sizing run: corpus size, the
    * auto-sized (or pinned) geometry, and the pre-verification candidate
    * volume — what a recall/cost sweep needs to record. */
  final case class SrpStats(
      n: Long, bitsPerBand: Int, bands: Int, candidatePairs: Long)

  def nearDupPairsSrp(
      vecs: DataFrame, idCol: String, vecCol: String, minCosineE6: Long,
      bitsPerBand: Int = 0, numBands: Int = 0, seed: Int = 42,
      targetRecall: Double = DefaultSrpTargetRecall,
      instrument: SrpStats => Unit = null): DataFrame = {
    val spark = vecs.sparkSession
    // one aggregate probes corpus size AND dimensionality (and catches
    // ragged vectors loudly instead of silently banding on the first
    // row's dim); an empty corpus returns an empty pair frame rather
    // than throwing off head() (round-6 ADVICE)
    val probe = vecs.agg(
      count(lit(1)).as("n"), min(size(col(vecCol))).as("dmin"),
      max(size(col(vecCol))).as("dmax")).head()
    val n = probe.getLong(0)
    if (n == 0L) {
      val idType = vecs.schema(idCol).dataType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a", idType),
          org.apache.spark.sql.types.StructField("b", idType),
          org.apache.spark.sql.types.StructField("sim_e6",
            org.apache.spark.sql.types.LongType))))
    }
    require(!probe.isNullAt(1) && !probe.isNullAt(2) && probe.getInt(1) >= 0,
      s"embedding column '$vecCol' is entirely null or invalid — cannot size hyperplanes")
    val dim = probe.getInt(1)
    require(dim == probe.getInt(2),
      s"ragged embedding column '$vecCol': dims ${probe.getInt(1)}..${probe.getInt(2)}")
    val bits =
      if (bitsPerBand > 0) bitsPerBand
      else math.max(8, math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
    // Band count: explicit numBands wins (tests, tuned deployments);
    // otherwise SIZE FOR RECALL via the validated model — auto-sized bits
    // keep candidates linear but make per-band collision probability
    // decay with corpus growth, so any FIXED default silently loses
    // recall as the corpus scales (the old numBands=8 default was down to
    // 0.345 measured recall at n=200k). A threshold at/above 1.0 cosine
    // clamps to the model's open interval: exact duplicates share every
    // sign pattern, so one band already recovers them all.
    val bands =
      if (numBands > 0) numBands
      else srpBandsForRecall(n, math.min(minCosineE6, 999999L), targetRecall, bits)
    // Rademacher components from a splitmix-style avalanche of the index
    // tuple: deterministic, seed-keyed, no RNG object state
    val (c1, c2, c3, c4) =
      (0x9e3779b9L.toInt, 0x85ebca6bL.toInt, 0xc2b2ae35L.toInt, 0x27d4eb2fL.toInt)
    def rademacher(b: Int, t: Int, i: Int): Double = {
      var x = seed * c1 + b * c2 + t * c3 + i * c4
      x ^= x >>> 16; x *= c2; x ^= x >>> 13; x *= c3; x ^= x >>> 16
      if ((x & 1) == 0) 1.0 else -1.0
    }
    import spark.implicits._
    val planes = (for { b <- 0 until bands; t <- 0 until bits }
      yield (b, t, (0 until dim).map(i => rademacher(b, t, i)).toArray))
      .toDF("band_ix", "bit_ix", "h")
    val vd = OperatorCache.scoped(
      vecs.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__n", norm(col("__v")))
        .repartition(col(idCol)))
    // one row per (vector, band, bit) → sign bit → packed band key; the
    // broadcast keeps the corpus unshuffled through projection
    val bandedRaw = vd.select(col(idCol).as("id"), col("__v"))
      .join(broadcast(planes), lit(true))
      .select(col("id"), col("band_ix"),
        when(dot(col("__v"), col("h")) >= 0d,
          expr("shiftleft(CAST(1 AS BIGINT), bit_ix)")).otherwise(lit(0L)).as("__bit"))
      .groupBy("id", "band_ix")
      .agg(sum("__bit").as("band_key"))
    val banded = OperatorCache.scoped(bandedRaw) // both self-join sides
    val cand = banded.select(col("id").as("a"), col("band_ix"), col("band_key"))
      .join(banded.select(col("id").as("b"), col("band_ix"), col("band_key")),
        Seq("band_ix", "band_key"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .dropDuplicates("a", "b")
    // instrumented runs pay one extra materialization of the candidate
    // stage (the count is an action, so the scoped caches release and the
    // verify pass below recomputes) — sweeps opt in, production never does
    if (instrument != null)
      instrument(SrpStats(n, bits, bands, cand.count()))
    cand
      .join(vd.select(col(idCol).as("a"), col("__v").as("va"), col("__n").as("na")), Seq("a"))
      .join(vd.select(col(idCol).as("b"), col("__v").as("vb"), col("__n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        safeCosE6(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim_e6"))
      .filter(col("sim_e6") >= minCosineE6)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper,
    * re-derived here): semantic deduplication by CLUSTER-PRUNED cosine.
    * Where [[nearDupPairsSrp]] catches near-identical vectors via sign
    * collisions, SemDeDup targets *semantic* duplicates: assign every
    * vector to its nearest centroid (the same deterministic cosine
    * assignment [[ivfTopK]] uses — cosine desc, cid asc), then compare
    * pairs ONLY within a cluster and drop the higher id of every pair at
    * `cos ≥ minCosineE6`.
    *
    * Scale design: with the standard k ≈ √n centroid geometry the
    * pair-space collapses from n² to k·(n/k)² = n^1.5 — the published
    * SemDeDup cost — and the pair stage is a bucket-local equi-join on
    * `cid` (shuffle-hash per bucket, no cartesian, no corpus broadcast).
    * Assignment is one broadcast join over a streaming corpus scan.
    * Skewed clusters bound the worst task at (max bucket)²; cap cluster
    * radius by raising k, exactly as the paper does.
    *
    * Output, one row per DROPPED vector: (id, cid, witness, cos_e6) where
    * `witness` is the LOWEST same-cluster id that supersedes it and
    * `cos_e6` the e6-rounded cosine to that witness — deterministic in
    * both engines because the struct-min tie-break is on the witness id. */
  def semDedup(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centroidIdCol: String,
      minCosineE6: Long): DataFrame = {
    val cent = centFrame(centroids, centroidIdCol, vecCol)
    // scoped cache: BOTH pair-join sides read the assignment relation —
    // without it each side re-runs the one corpus-sized pass (the
    // broadcast-centroid assignment scan), doubling the full-data cost
    val bucketed = OperatorCache.scoped(
      assignBuckets(corpus, cent, vecCol, idCol, "cid", n = 1)
        .select(col(idCol).as("id"), col("__v").as("v"), col("__n").as("n"),
          col("cid")))
    semDedupPairs(bucketed, minCosineE6)
  }

  /** SemDeDup against a PERSISTED IVF index ([[IvfStore]]): the
    * corpus-sized assignment pass was paid at build time — this reads
    * (id, v, n, bucket) as bare bucket-partitioned parquet scans on both
    * pair-join sides and pays only the intra-cluster pair stage. Results
    * are identical to [[semDedup]] on the centroids the store was built
    * with (assignment is the same deterministic cosine/cid-asc function),
    * and the same index serves the ANN probes — the build-once,
    * dedup-AND-search daily-crawl story. */
  def semDedupStored(spark: SparkSession, root: String, corpusId: String,
      tag: String, minCosineE6: Long): DataFrame = {
    val bucketed = IvfStore.buckets(spark, root, corpusId, tag)
      .select(col("id"), col("v"), col("n"), col("bucket").as("cid"))
    semDedupPairs(bucketed, minCosineE6)
  }

  /** Shared SemDeDup pair stage over an assigned `(id, v, n, cid)` frame —
    * one path for the inline and stored variants, so their semantics
    * cannot drift (see [[ivfProbe]] for the same pattern on the ANN side). */
  private def semDedupPairs(bucketed: DataFrame, minCosineE6: Long): DataFrame = {
    val lo = bucketed.select(col("cid"), col("id").as("a"),
      col("v").as("va"), col("n").as("na"))
    val hi = bucketed.select(col("cid"), col("id").as("b"),
      col("v").as("vb"), col("n").as("nb"))
    val pairs = lo.join(hi, Seq("cid"))
      .filter(col("a") < col("b"))
      .select(col("cid"), col("a"), col("b"),
        safeCosE6(dot(col("va"), col("vb")), col("na"), col("nb")).as("cos_e6"))
      .filter(col("cos_e6") >= minCosineE6)
    // drop the higher side of every qualifying pair; witness = the lowest
    // superseding id (struct min is lexicographic on (a, cos_e6) and `a`
    // is unique within the group, so the min pins both fields)
    pairs.groupBy(col("b").as("id"), col("cid"))
      .agg(min(struct(col("a"), col("cos_e6"))).as("__w"))
      .select(col("id"), col("cid"),
        col("__w.a").as("witness"), col("__w.cos_e6").as("cos_e6"))
  }

  /** Exact brute-force top-k: for every query row, the k nearest corpus
    * rows by (sim_e6 desc, id asc), self-matches excluded.
    * Output: (q, rank, id, sim_e6). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val qd = queries.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
    val cd = Dedup.spreadById(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol)),
      idCol) // corpus streams against broadcast queries
    val q = qd.select(col(idCol).as("q"), col(vecCol).as("qv"), norm(col(vecCol)).as("qn"))
    val c = cd.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    val scored = c.join(broadcast(q), col("id") =!= col("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qv")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(scored, "q", k)
  }

  /** Dimension-truncated pre-rank top-k — the Matryoshka-representation
    * retrieval pattern (Kusupati et al. 2022, arXiv:2205.13147 — public
    * paper, re-derived): the candidate scan scores only the FIRST
    * `subDim` dimensions (subDim/d of the scan bandwidth — the property
    * MRL embeddings are trained for; on generic embeddings it is a cheap
    * biased pre-rank), then the exact full-dimension cosine re-ranks the
    * surviving `refine·k`. Completes the bandwidth-reduction family next
    * to int8 ([[ivfTopKInt8]]) and PQ ([[pqTopK]]), with the same
    * exact-re-rank contract: the truncated score surfaces e6-rounded with
    * id tie-breaks, so both engines cut identical candidate sets and every
    * surfaced sim_e6 is exact. */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, subDim: Int,
      refine: Int = 4): DataFrame = {
    require(subDim >= 1 && refine >= 1,
      s"need subDim/refine >= 1, got $subDim/$refine")
    // subDim must actually truncate: slice() past the end silently returns
    // the full vector, quietly turning the "bandwidth-reduced pre-rank"
    // into a full-dimension scan — fail the row loudly instead (the check
    // is codegen'd, one branch per row)
    def truncated(v: Column): Column =
      when(size(v) >= subDim, slice(v, 1, subDim))
        .otherwise(raise_error(concat(
          lit(s"truncatedTopK: subDim=$subDim exceeds vector dimension "),
          size(v).cast("string"))))
    // scoped: the prepped corpus feeds the pre-rank scan AND the rescore
    // join-back; spread so the pre-rank NLJ scan parallelizes (see
    // [[Dedup.spreadById]])
    val cd = OperatorCache.scoped(
      Dedup.spreadById(
        corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
        "id")
        .withColumn("n", norm(col("v")))
        .withColumn("tv", truncated(col("v")))
        .withColumn("tn", norm(col("tv"))))
    val q = queries
      .select(col(idCol).as("q"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("tqv", truncated(col("qv")))
      .withColumn("tqn", norm(col("tqv")))
    val pre = cd.select(col("id"), col("tv"), col("tn"))
      .join(broadcast(q.select(col("q"), col("tqv"), col("tqn"))),
        col("id") =!= col("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("tv"), col("tqv")), col("tn"), col("tqn")).as("tsim_e6"))
    val cand = topNPerGroup(pre, "q", k * refine,
      orderCols = Seq(col("tsim_e6").desc, col("id").asc)).select("q", "id")
    val rescored = cand
      .join(cd.select(col("id"), col("v"), col("n")), Seq("id"))
      .join(broadcast(q.select(col("q"), col("qv"), col("qn"))), Seq("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qv")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(rescored, "q", k)
  }

  /** Prep centroids: (cid, cv, cn) with double vectors and norms. */
  private[operators] def centFrame(centroids: DataFrame, centroidIdCol: String, vecCol: String): DataFrame =
    centroids
      .select(col(centroidIdCol).as("cid"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))

  /** Collect a [[centFrame]] `(cid, cv, cn)` into a driver-side
    * [[graft.functions.CentroidMatrix]], cid-ascending (the tie-break
    * order). Returns the matrix plus the original cid type so callers can
    * cast assignments back to the caller's schema. None when cid is not
    * an integral type — those centroids take the generic column path.
    *
    * The collect is the standard k-means-family contract: centroids are
    * √n of the corpus by construction, driver-and-broadcast sized
    * (~190 MB at 10⁹ × 768d) while the corpus itself never is. The
    * STORED `cn` is used verbatim so persisted indexes ([[IvfStore]])
    * assign against exactly the norms they were built with. */
  private[operators] def collectCentroidMatrix(
      cent: DataFrame): Option[(graft.functions.CentroidMatrix, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val cidType = cent.schema("cid").dataType
    cidType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val raw = cent
          .select(col("cid").cast("long"), col("cv").cast("array<double>"), col("cn"))
          .collect()
        // fail NAMED, not with an unboxing NPE mid-collect: engine-built
        // centroid tables never carry nulls, so a null cid/cv/cn row or a
        // null vector element is a corrupt or hand-rolled table — the
        // replaced broadcast-NLJ path silently scored such rows cosine 0
        // (safeCosE6's null guard), which would mask the corruption
        raw.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2) ||
              r.getSeq[Any](1).contains(null))
            throw new IllegalArgumentException(
              "centroid frame has a null cid, cv, cn, or vector element " +
                s"(cid=${if (r.isNullAt(0)) "null" else r.getLong(0).toString})" +
                " — centroid tables are engine-built and never null; " +
                "rebuild the index or clean the supplied centroids")
        }
        val rows = raw.sortBy(_.getLong(0))
        Some((new graft.functions.CentroidMatrix(
          rows.map(_.getLong(0)),
          rows.map(_.getSeq[Double](1).toArray),
          rows.map(_.getDouble(2))), cidType))
      case _ => None
    }
  }

  /** Assign each row to its `n` nearest centroids by (cosine desc, cid
    * asc); output (id, __v, __n, out, __cs).
    *
    * ROW-LOCAL: the centroid frame is collected once (driver-sized by the
    * √n contract) and the argmax runs as a codegen expression over the
    * broadcast matrix ([[graft.functions.NearestCentroids]]) — zero row
    * expansion, zero exchange. The formulation this replaced
    * (`join(broadcast(cent), lit(true))` + an id-keyed `row_number`
    * window) hash-exchanged n·√n rows each still carrying the full
    * vector — zettabyte-class at 10⁹ × 768d. Non-integral cid types keep
    * the generic column path (none in the battery; the fast path's cast
    * back to the caller's cid type is exact for integrals). */
  private[operators] def assignBuckets(
      df: DataFrame, cent: DataFrame, vecCol: String,
      id: String, out: String, n: Int): DataFrame =
    collectCentroidMatrix(cent) match {
      case Some((m, cidType)) =>
        val bc = df.sparkSession.sparkContext.broadcast(m)
        df.select(col(id), col(vecCol).cast("array<double>").as("__v"))
          .withColumn("__n", norm(col("__v")))
          .withColumn("__a", explode(
            graft.functions.CentroidExpressions.nearestCentroids(col("__v"), bc, n)))
          .select(col(id), col("__v"), col("__n"),
            col("__a.cid").cast(cidType).as(out), col("__a.cs_e6").as("__cs"))
      case None =>
        val scored = df
          .select(col(id), col(vecCol).cast("array<double>").as("__v"))
          .withColumn("__n", norm(col("__v")))
          .join(broadcast(cent), lit(true))
          .select(col(id), col("__v"), col("__n"), col("cid"),
            safeCosE6(dot(col("__v"), col("cv")), col("__n"), col("cn")).as("__cs"))
        topNPerGroup(scored, id, n, orderCols = Seq(col("__cs").desc, col("cid").asc))
          .select(col(id), col("__v"), col("__n"), col("cid").as(out), col("__cs"))
    }

  /** Cluster-distance outlier scoring — embedding-based quality filtering
    * (the filtering cousin of [[semDedup]]: SemDeDup drops docs too CLOSE
    * to a cluster-mate, this flags docs too FAR from every cluster —
    * OCR garbage, boilerplate fragments, wrong-modality rows sit far
    * from all semantic mass). Each vector is assigned to its nearest
    * centroid by (cosine desc, cid asc) — the exact [[assignBuckets]]
    * geometry, so the verdicts share the IVF/SemDeDup/cluster-balance
    * index family — and flagged iff that best cosine (e6-rounded long,
    * so the threshold compare is engine-exact) is below `minCosineE6`.
    * Every row surfaces with its flag; callers drop or route.
    *
    * Scale: one row-local assignment pass over the corpus (the
    * [[assignBuckets]] codegen argmax — no vector shuffle, no window) —
    * linear in n·k like every assignment pass in the family. Output:
    * `(id, cid, cs_e6, is_outlier)`. */
  def centroidOutliers(
      vecs: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      centroidIdCol: String, minCosineE6: Long): DataFrame = {
    val cent = centFrame(centroids, centroidIdCol, vecCol)
    assignBuckets(vecs.select(col(idCol).as("id"), col(vecCol)),
        cent, vecCol, "id", "cid", n = 1)
      .select(col("id"), col("cid"), col("__cs").as("cs_e6"),
        (col("__cs") < minCosineE6).as("is_outlier"))
  }

  /** IVF (inverted-file) approximate top-k.
    *
    * `centroids` plays the role of the trained coarse quantizer (for tests a
    * deterministic subset of the corpus; in production the output of k-means
    * — the operator is agnostic). Corpus rows are assigned to their nearest
    * centroid; a query probes its `nprobe` nearest centroids' buckets (the
    * recall/cost knob every IVF deployment turns first: recall rises with
    * nprobe, probe cost scales linearly with it; SimilaritySpec measures
    * recall@k against [[bruteForceTopK]]).
    * Output: (q, rank, id, sim_e6). */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centroidIdCol: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cent = centFrame(centroids, centroidIdCol, vecCol)
    val bucketed = assignBuckets(corpus, cent, vecCol, idCol, "bucket", n = 1)
      .select(col(idCol).as("id"), col("__v").as("v"), col("__n").as("n"), col("bucket"))
    val probed = assignBuckets(queries, cent, vecCol, idCol, "bucket", n = nprobe)
      .select(col(idCol).as("q"), col("__v").as("qv"), col("__n").as("qn"), col("bucket"))
    ivfProbe(bucketed, probed, k)
  }

  /** Shared exact bucket-probe: `bucketed` (id, v, n, bucket) joins
    * `probed` (q, qv, qn, bucket) — one path for the inline and stored
    * variants, so their semantics cannot drift. */
  private def ivfProbe(bucketed: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val scored = bucketed.join(probed, Seq("bucket"))
      .filter(col("id") =!= col("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qv")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(scored, "q", k)
  }

  /** IVF top-k against a PERSISTED index ([[IvfStore]]): the corpus-side
    * assignment — the one full pass over the data — was paid at build
    * time; this reads the index as bare parquet scans and pays only the
    * query batch's own routing. Results are identical to [[ivfTopK]] on
    * the centroids the store was built with (assignment is deterministic:
    * cosine desc, cid asc). The daily-crawl ANN story: build once per
    * corpus snapshot, probe per batch. */
  def ivfTopKStored(
      spark: SparkSession, root: String, corpusId: String, tag: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cent = IvfStore.centroids(spark, root, corpusId, tag)
    val bucketed = IvfStore.buckets(spark, root, corpusId, tag)
      .select(col("id"), col("v"), col("n"), col("bucket"))
    val probed = assignBuckets(queries, cent, vecCol, idCol, "bucket", n = nprobe)
      .select(col(idCol).as("q"), col("__v").as("qv"), col("__n").as("qn"), col("bucket"))
    ivfProbe(bucketed, probed, k)
  }

  /** IVF probe over int8-quantized vectors with exact re-ranking — the
    * memory-bandwidth scale path for vector search at corpus scale:
    *
    *  1. bucket assignment as in [[ivfTopK]] (full precision, broadcast);
    *  2. the PROBE scores bucket-mates on int8-quantized vectors only
    *     ([[quantizeInt8]]'s symmetric per-vector scheme kept as an
    *     `array<int>` column — Parquet bit-packs it to ~1 byte/element, so
    *     probe I/O shrinks ~4-8× vs float/double arrays);
    *  3. per query, the top `k·refine` candidates by (integer score desc,
    *     id asc) are re-ranked EXACTLY: the full-precision vectors join
    *     back by id (slim-candidate pattern) and the final top-k uses the
    *     same `sim_e6` contract as [[ivfTopK]].
    *
    * The integer scores are exact in doubles (|q| ≤ 127, so any realistic
    * dimensionality stays far below 2^53) and every cut tie-breaks on id,
    * so the whole pipeline — including the refine boundary — is
    * deterministic and reproducible in the oracle. Per-vector scales make
    * the raw int ranking approximate across vectors (standard symmetric
    * int8 trade-off); `refine` buys the recall back, and SimilaritySpec
    * measures it against [[ivfTopK]].
    *
    * The probe's int→double widening (`cast("array<double>")` feeding the
    * codegen dot) happens AFTER the bucket join, inside the scoring
    * projection: only the int arrays cross the bucket shuffle (the
    * bandwidth win Plans.scala gates on); the widening is per-row CPU in
    * the join's output stage with zero shuffle-width impact.
    * Output: (q, rank, id, sim_e6). */
  def ivfTopKInt8(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centroidIdCol: String, k: Int,
      nprobe: Int = 1, refine: Int = 4): DataFrame = {
    require(nprobe >= 1 && refine >= 1, s"need nprobe/refine >= 1, got $nprobe/$refine")
    val cent = centFrame(centroids, centroidIdCol, vecCol)
    val bucketed = OperatorCache.scoped(
      assignBuckets(corpus, cent, vecCol, idCol, "bucket", n = 1)
        .select(col(idCol).as("id"), col("__v").as("v"), col("__n").as("n"), col("bucket"))
        .withColumn("scale", scaleE6(col("v")))
        .withColumn("qv", quantize(col("v"), col("scale")))) // int8 probe + exact-rescore join-back
    val probed = OperatorCache.scoped(
      assignBuckets(queries, cent, vecCol, idCol, "bucket", n = nprobe)
        .select(col(idCol).as("q"), col("__v").as("qvec"), col("__n").as("qn"), col("bucket"))
        .withColumn("qscale", scaleE6(col("qvec")))
        .withColumn("qq", quantize(col("qvec"), col("qscale"))))
    ivfProbeInt8(bucketed, probed, k, refine)
  }

  /** Shared int8 probe + exact re-rank: `bucketed` (id, v, n, bucket, qv)
    * joins `probed` (q, qvec, qn, bucket, qq) — one path for the inline
    * and stored variants. */
  private def ivfProbeInt8(
      bucketed: DataFrame, probed: DataFrame, k: Int, refine: Int): DataFrame = {
    // probe path: quantized arrays only — the int products are exact in the
    // codegen double dot (values ≤ 127)
    val iscored = bucketed.select(col("id"), col("bucket"), col("qv"))
      .join(probed.select(col("q"), col("bucket"), col("qq")), Seq("bucket"))
      .filter(col("id") =!= col("q"))
      .select(col("q"), col("id"),
        dot(col("qv").cast("array<double>"), col("qq").cast("array<double>"))
          .cast("long").as("iscore"))
    val cand = topNPerGroup(iscored, "q", k * refine,
      orderCols = Seq(col("iscore").desc, col("id").asc))
      .select("q", "id")
    // exact re-rank of the surviving candidates only
    val rescored = cand
      .join(bucketed.select(col("id"), col("v"), col("n")), Seq("id"))
      .join(probed.select(col("q"), col("qvec"), col("qn")).dropDuplicates("q"), Seq("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qvec")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(rescored, "q", k)
  }

  /** Int8-probe IVF against a PERSISTED index ([[IvfStore]]) — the stored
    * twin of [[ivfTopKInt8]]: the probe reads ONLY the index's int8
    * column + bucket (the 4-8× I/O reduction now applies to a disk scan,
    * not a recomputation) and the full-precision vectors join back for
    * the exact re-rank. Identical results to the inline operator on the
    * store's centroids. */
  def ivfTopKInt8Stored(
      spark: SparkSession, root: String, corpusId: String, tag: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 1, refine: Int = 4): DataFrame = {
    require(nprobe >= 1 && refine >= 1, s"need nprobe/refine >= 1, got $nprobe/$refine")
    val cent = IvfStore.centroids(spark, root, corpusId, tag)
    val bucketed = IvfStore.buckets(spark, root, corpusId, tag)
      .select(col("id"), col("v"), col("n"), col("bucket"), col("qv"))
    val probed = OperatorCache.scoped(
      assignBuckets(queries, cent, vecCol, idCol, "bucket", n = nprobe)
        .select(col(idCol).as("q"), col("__v").as("qvec"), col("__n").as("qn"), col("bucket"))
        .withColumn("qscale", scaleE6(col("qvec")))
        .withColumn("qq", quantize(col("qvec"), col("qscale"))))
    ivfProbeInt8(bucketed, probed, k, refine)
  }

  /** Deterministic subset codebooks (numCodes lowest-id corpus rows,
    * driver-collected — vocabulary-sized, not corpus-sized): flattened
    * `[mi·numCodes + j] → subvector`, plus the subspace width. */
  private def pqCodebook(
      cd: DataFrame, numSub: Int, numCodes: Int): (Array[Array[Double]], Int) = {
    val cbRows = cd.orderBy("id").limit(numCodes)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(cbRows.length == numCodes, s"corpus smaller than numCodes=$numCodes")
    val dim = cbRows.head.length
    require(dim % numSub == 0, s"dim $dim not divisible by numSub=$numSub")
    val w = dim / numSub
    ((for {
      mi <- 0 until numSub; j <- 0 until numCodes
    } yield cbRows(j).slice(mi * w, (mi + 1) * w)).toArray, w)
  }

  /** The deterministic subset codebook as a persistable frame `(ix, cw)`,
    * `ix = mi·numCodes + j` — [[IvfStore]]'s codebook artifact. */
  private[operators] def pqCodebookFrame(
      cd: DataFrame, numSub: Int, numCodes: Int): DataFrame = {
    val (cb, _) = pqCodebook(cd, numSub, numCodes)
    val spark = cd.sparkSession
    import spark.implicits._
    cb.zipWithIndex.map { case (cw, ix) => (ix, cw.toSeq) }.toSeq.toDF("ix", "cw")
  }

  /** Argmin-L2 codeword per subspace, strict < (ties to the smallest
    * code); ascending loops = the oracle's fold order, bit-identical. */
  private[operators] def pqEncode(
      cb: Array[Array[Double]], numSub: Int, numCodes: Int, w: Int)(
      v: Array[Double]): Array[Int] = {
    val codes = new Array[Int](numSub)
    var mi = 0
    while (mi < numSub) {
      var bestD = Double.MaxValue
      var bestJ = 0
      var j = 0
      while (j < numCodes) {
        val cw = cb(mi * numCodes + j)
        var dAcc = 0.0
        var wi = 0
        while (wi < w) {
          val diff = v(mi * w + wi) - cw(wi); dAcc += diff * diff; wi += 1
        }
        if (dAcc < bestD) { bestD = dAcc; bestJ = j }
        j += 1
      }
      codes(mi) = bestJ; mi += 1
    }
    codes
  }

  /** ADC pair score: Σ_mi lut[mi·numCodes + codes[mi]] as a STATICALLY
    * UNROLLED sum of `element_at` terms. The `aggregate(sequence(...))`
    * higher-order fold this replaces is a codegen-fallback expression —
    * every (query, vector) pair paid an interpreted lambda loop with
    * boxed accumulators, measured as the dominant cost of the ADC scan
    * (guide §4.1: prefer codegen-able built-ins on the hot path). numSub
    * is a small constant, so the unrolled sum codegens to straight array
    * loads + adds. Fold order is preserved (left-to-right, ascending mi);
    * the only IEEE divergence from the fold's 0.0 seed is the sign of a
    * -0.0 total, which the e6 round-and-cast collapses anyway — so every
    * iscore is bit-identical to the previous expression and the oracle's. */
  private def adcScore(numSub: Int, numCodes: Int): org.apache.spark.sql.Column = {
    requireNumSub(numSub)
    (0 until numSub).map { mi =>
      element_at(col("lut"),
        lit(mi * numCodes) + element_at(col("codes"), mi + 1) + 1)
    }.reduceLeft(_ + _)
  }

  /** Most PQ subspaces an ADC score unrolls. [[adcScore]] writes one term
    * per subspace into the plan and its generated method, so an unbounded
    * `numSub` grows both without limit; the battery uses 8. */
  val MaxPqSubspaces = 64

  private def requireNumSub(numSub: Int): Unit =
    require(numSub >= 1 && numSub <= MaxPqSubspaces,
      s"numSub = $numSub: the ADC score unrolls one term per subspace, " +
        s"so numSub must be in 1..$MaxPqSubspaces")

  /** Per-query ADC table: lut[mi·numCodes + j] = qsub·cw, ordered. */
  private[operators] def pqLutOf(
      cb: Array[Array[Double]], numCodes: Int, w: Int)(
      v: Array[Double]): Array[Double] = {
    val lut = new Array[Double](cb.length)
    var ix = 0
    while (ix < lut.length) {
      val cw = cb(ix)
      val off = (ix / numCodes) * w
      var acc = 0.0
      var wi = 0
      while (wi < w) { acc += v(off + wi) * cw(wi); wi += 1 }
      lut(ix) = acc; ix += 1
    }
    lut
  }

  private def l2normOf(v: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }

  /** Per-subspace Lloyd training of PQ codebooks — the production upgrade
    * over the subset recipe: initialize from the deterministic subset,
    * then `iters` rounds of assign (the [[pqEncode]] kernel) + mean
    * update, with empty clusters keeping their previous codeword (the
    * [[kmeansCentroids]] convention). Distributed as per-partition
    * accumulator arrays reduced on the driver — the state is
    * codebook-sized (numSub·numCodes·(w+1) doubles), never corpus-sized.
    *
    * Like [[kmeansCentroids]], the trained table is spec-verified rather
    * than oracle-paired: float means accumulate in partition order, so
    * the trainer is deterministic per partitioning but not bit-portable
    * across engines; the CONSUMER ([[pqTopK]] on a given codebook) is the
    * oracle-paired part. PqSpec asserts Lloyd's monotone-error guarantee. */
  def pqTrainCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      numSub: Int, numCodes: Int, iters: Int): Array[Array[Double]] = {
    require(iters >= 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cd = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    var (cb, w) = pqCodebook(cd, numSub, numCodes)
    val ds = cd.as[(Long, Seq[Double])]
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cb)
      val sums = ds.rdd.mapPartitions { it =>
        val cbv = bc.value
        // [codeword][0..w-1] = component sums, [w] = count
        val acc = Array.fill(numSub * numCodes)(new Array[Double](w + 1))
        it.foreach { case (_, vSeq) =>
          val v = vSeq.toArray
          val codes = pqEncode(cbv, numSub, numCodes, w)(v)
          var mi = 0
          while (mi < numSub) {
            val slot = acc(mi * numCodes + codes(mi))
            var wi = 0
            while (wi < w) { slot(wi) += v(mi * w + wi); wi += 1 }
            slot(w) += 1
            mi += 1
          }
        }
        Iterator.single(acc)
      }.reduce { (a, b) =>
        var ix = 0
        while (ix < a.length) {
          var i = 0
          while (i <= w) { a(ix)(i) += b(ix)(i); i += 1 }
          ix += 1
        }
        a
      }
      cb = cb.zipWithIndex.map { case (old, ix) =>
        val slot = sums(ix)
        if (slot(w) == 0) old
        else Array.tabulate(w)(i => slot(i) / slot(w))
      }
    }
    cb
  }

  /** Mean PQ quantization error (sum over subspaces of min-L2² to the
    * codebook, averaged over rows) — the quantity Lloyd minimizes. */
  def pqQuantError(
      corpus: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Double]], numSub: Int, numCodes: Int): Double = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val w = cb.head.length
    val bc = spark.sparkContext.broadcast(cb)
    val (tot, n) = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].rdd.mapPartitions { it =>
        val cbv = bc.value
        var acc = 0.0
        var cnt = 0L
        it.foreach { case (_, vSeq) =>
          val v = vSeq.toArray
          val codes = pqEncode(cbv, numSub, numCodes, w)(v)
          var mi = 0
          while (mi < numSub) {
            val cw = cbv(mi * numCodes + codes(mi))
            var wi = 0
            while (wi < w) {
              val d = v(mi * w + wi) - cw(wi); acc += d * d; wi += 1
            }
            mi += 1
          }
          cnt += 1
        }
        Iterator.single((acc, cnt))
      }.reduce { (a, b) => (a._1 + b._1, a._2 + b._2) }
    if (n == 0) 0.0 else tot / n
  }

  /** Product-quantization (PQ) top-k with asymmetric-distance scoring and
    * exact re-rank — the memory-bandwidth endgame for vector scan at
    * corpus scale (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search" — public paper, re-derived here):
    *
    *  1. the vector space splits into `numSub` subspaces; each gets a
    *     `numCodes`-entry codebook. The codebook recipe is deterministic
    *     subset selection (subvectors of the `numCodes` lowest-id corpus
    *     rows — same spirit as the IVF "subset-sqrtn" coarse quantizer;
    *     swap in trained codebooks without touching the plan);
    *  2. ENCODE (one narrow pass, no shuffle): each corpus vector becomes
    *     `numSub` small ints — the argmin-L2 codeword per subspace, ties
    *     to the smallest code. A 64-float vector at 8×256 PQ is 8 byte-
    *     sized ints — Parquet-packed, the scan reads ~1/32nd the bytes of
    *     the floats (recall measured ≥0.93 at refine=8 on the fixtures);
    *  3. SCORE via ADC: each query precomputes its `numSub·numCodes`
    *     partial-dot lookup table ONCE; a (query, vector) pair then costs
    *     `numSub` array lookups instead of a full-dimension dot product;
    *  4. the top `k·refine` candidates (integer e6 score desc, id asc —
    *     the deterministic-cut contract) re-rank EXACTLY through the
    *     full-precision vectors, same `sim_e6` output as [[ivfTopK]].
    *
    * All arithmetic is ordered double folds, so the oracle reproduces
    * every distance bit-for-bit; SimilaritySpec measures recall@k against
    * [[bruteForceTopK]]. Compose with IVF bucketing to prune the scan
    * when n·q itself is the bottleneck. Output: (q, rank, id, sim_e6). */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      numSub: Int, numCodes: Int, k: Int, refine: Int = 4): DataFrame = {
    requireNumSub(numSub)
    require(numCodes >= 2 && k >= 1 && refine >= 1)
    val cd = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val (cbArr, _) = pqCodebook(cd, numSub, numCodes)
    pqTopKWith(corpus, queries, idCol, vecCol, cbArr, numSub, numCodes, k, refine)
  }

  /** [[pqTopK]] with a CALLER-SUPPLIED codebook (e.g. the output of
    * [[pqTrainCodebooks]], or a pretrained table loaded from storage) —
    * the same ADC scan + exact re-rank, nothing about the plan changes. */
  def pqTopKWith(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      cbArr: Array[Array[Double]],
      numSub: Int, numCodes: Int, k: Int, refine: Int = 4): DataFrame = {
    require(cbArr.length == numSub * numCodes,
      s"codebook has ${cbArr.length} entries, expected ${numSub * numCodes}")
    // a one-file corpus would otherwise score in ONE task (r19 ProfileQ:
    // ann_pq's ADC ran as a single 18 s task with 31 idle cores)
    val cd = Dedup.spreadById(corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")), "id")
    val w = cbArr.head.length

    // Encode and LUT-build run as primitive-loop mapPartitions kernels
    // with the codebook broadcast once per executor — the FAISS-style
    // engineering choice: the argmin/table inner loops are pure double
    // arithmetic over numSub·numCodes·w terms per row, which interpreted
    // higher-order Catalyst functions evaluate ~50× slower (boxed
    // element_at per term; measured 48 s → <2 s at sf0.1). The loops run
    // in the SAME ascending order as the oracle's list folds, so every
    // distance and LUT entry is still bit-identical across engines.
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cbArr)

    // 2. encode: per-row argmin-L2 codeword per subspace (strict < keeps
    // the smallest code on ties — ORDER BY (dist, j) in the oracle)
    val coded = OperatorCache.scoped(
      cd.as[(Long, Seq[Double])].mapPartitions { it =>
        val cb = bcCb.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          (id, v, l2normOf(v), pqEncode(cb, numSub, numCodes, w)(v))
        }
      }.toDF("id", "v", "n", "codes"))

    // 3. per-query ADC lookup table: lut[mi·numCodes + j] = qsub·cw
    val q = OperatorCache.scoped(
      queries.select(col(idCol).as("q"), col(vecCol).cast("array<double>").as("qv"))
        .as[(Long, Seq[Double])].mapPartitions { it =>
          val cb = bcCb.value
          it.map { case (id, vSeq) =>
            val v = vSeq.toArray
            (id, v, l2normOf(v), pqLutOf(cb, numCodes, w)(v))
          }
        }.toDF("q", "qv", "qn", "lut"))

    // ADC pair score: numSub lookups, integer-e6 for a deterministic cut
    val adc = adcScore(numSub, numCodes)
    val iscored = coded.select(col("id"), col("codes"))
      .join(broadcast(q.select(col("q"), col("lut"))), col("id") =!= col("q"))
      .select(col("q"), col("id"), round(adc * 1e6, 0).cast("long").as("iscore"))
    val cand = topNPerGroup(iscored, "q", k * refine,
      orderCols = Seq(col("iscore").desc, col("id").asc))
      .select("q", "id")

    // 4. exact re-rank of the survivors only
    val rescored = cand
      .join(coded.select(col("id"), col("v"), col("n")), Seq("id"))
      .join(q.select(col("q"), col("qv"), col("qn")), Seq("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qv")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(rescored, "q", k)
  }

  /** IVF + PQ — the production FAISS-style composition: the coarse
    * quantizer prunes the scan to `nprobe` buckets AND the pruned scan
    * itself reads only 8-byte PQ codes, so probe cost is
    * (n/√n buckets)·numSub lookups with ~1/32nd the I/O, followed by the
    * same exact re-rank as every other ANN path. The bucket probe is a
    * plain equi-join on the centroid id (shuffle keyed on `bucket`,
    * ids+codes only — no vectors cross it); encode/LUT reuse the
    * [[pqTopK]] kernels, so the two operators cannot drift.
    * Output: (q, rank, id, sim_e6). */
  def ivfTopKPq(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centroidIdCol: String,
      numSub: Int, numCodes: Int, k: Int,
      nprobe: Int = 1, refine: Int = 8): DataFrame = {
    requireNumSub(numSub)
    require(numCodes >= 2 && k >= 1 && nprobe >= 1 && refine >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cd = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val (cbArr, w) = pqCodebook(cd, numSub, numCodes)
    val bcCb = spark.sparkContext.broadcast(cbArr)
    val cent = centFrame(centroids, centroidIdCol, vecCol)
    val coded = OperatorCache.scoped(
      assignBuckets(corpus, cent, vecCol, idCol, "bucket", n = 1)
        .select(col(idCol).cast("long").as("id"), col("__v").as("v"),
          col("__n").as("n"), col("bucket").cast("long").as("bucket"))
        .as[(Long, Seq[Double], Double, Long)]
        .mapPartitions { it =>
          val cb = bcCb.value
          it.map { case (id, vSeq, n, b) =>
            val v = vSeq.toArray
            (id, v, n, b, pqEncode(cb, numSub, numCodes, w)(v))
          }
        }.toDF("id", "v", "n", "bucket", "codes"))
    val probed = OperatorCache.scoped(
      assignBuckets(queries, cent, vecCol, idCol, "bucket", n = nprobe)
        .select(col(idCol).cast("long").as("q"), col("__v").as("qv"),
          col("__n").as("qn"), col("bucket").cast("long").as("bucket"))
        .as[(Long, Seq[Double], Double, Long)]
        .mapPartitions { it =>
          val cb = bcCb.value
          it.map { case (id, vSeq, n, b) =>
            val v = vSeq.toArray
            (id, v, n, b, pqLutOf(cb, numCodes, w)(v))
          }
        }.toDF("q", "qv", "qn", "bucket", "lut"))
    val adc = adcScore(numSub, numCodes)
    val iscored = coded.select(col("id"), col("bucket"), col("codes"))
      .join(probed.select(col("q"), col("bucket"), col("lut")), Seq("bucket"))
      .filter(col("id") =!= col("q"))
      .select(col("q"), col("id"), round(adc * 1e6, 0).cast("long").as("iscore"))
    val cand = topNPerGroup(iscored, "q", k * refine,
      orderCols = Seq(col("iscore").desc, col("id").asc))
      .select("q", "id")
    val rescored = cand
      .join(coded.select(col("id"), col("v"), col("n")), Seq("id"))
      .join(probed.select(col("q"), col("qv"), col("qn")).dropDuplicates("q"), Seq("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qv")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(rescored, "q", k)
  }

  /** IVF+PQ against a PERSISTED index ([[IvfStore]]): the probe reads
    * ONLY the index's `(id, bucket, codes)` columns — at 8×256 PQ that is
    * ~1/32nd the probe I/O of the float vectors, on top of the IVF
    * partition pruning — and encodes the query batch against the store's
    * persisted codebook, so results are identical to [[ivfTopKPq]] on the
    * centroids+codebook the store was built with. Full-precision vectors
    * join back only for the exact re-rank of the survivors. */
  def ivfTopKPqStored(
      spark: SparkSession, root: String, corpusId: String, tag: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 1, refine: Int = 8): DataFrame = {
    require(k >= 1 && nprobe >= 1 && refine >= 1)
    val cbArr = IvfStore.codebook(spark, root, corpusId, tag)
    val numCodesTotal = cbArr.length
    val w = cbArr.head.length
    val bcCb = spark.sparkContext.broadcast(cbArr)
    val cent = IvfStore.centroids(spark, root, corpusId, tag)
    val store = IvfStore.buckets(spark, root, corpusId, tag)
    import spark.implicits._
    val probed = OperatorCache.scoped(
      assignBuckets(queries, cent, vecCol, idCol, "bucket", n = nprobe)
        .select(col(idCol).cast("long").as("q"), col("__v").as("qv"),
          col("__n").as("qn"), col("bucket").cast("long").as("bucket"))
        .as[(Long, Seq[Double], Double, Long)]
        .mapPartitions { it =>
          val cb = bcCb.value
          it.map { case (id, vSeq, n, b) =>
            val v = vSeq.toArray
            val numSub = v.length / cb.head.length
            (id, v, n, b, pqLutOf(cb, cb.length / numSub, cb.head.length)(v))
          }
        }.toDF("q", "qv", "qn", "bucket", "lut"))
    // geometry from a probe row: numSub = dim/w (dim known on the query)
    val dim = queries.select(col(vecCol)).limit(1)
      .collect().headOption.map(_.getSeq[Any](0).length)
      .getOrElse(throw new IllegalArgumentException("empty query batch"))
    val numSub = dim / w
    val numCodes = numCodesTotal / numSub
    val adc = adcScore(numSub, numCodes)
    val iscored = store.select(col("id"), col("bucket"), col("codes"))
      .join(probed.select(col("q"), col("bucket"), col("lut")), Seq("bucket"))
      .filter(col("id") =!= col("q"))
      .select(col("q"), col("id"), round(adc * 1e6, 0).cast("long").as("iscore"))
    val cand = topNPerGroup(iscored, "q", k * refine,
      orderCols = Seq(col("iscore").desc, col("id").asc))
      .select("q", "id")
    val rescored = cand
      .join(store.select(col("id"), col("v"), col("n")), Seq("id"))
      .join(probed.select(col("q"), col("qv"), col("qn")).dropDuplicates("q"), Seq("q"))
      .select(col("q"), col("id"),
        safeCosE6(dot(col("v"), col("qv")), col("n"), col("qn")).as("sim_e6"))
    topKPerGroup(rescored, "q", k)
  }

  /** Spherical k-means trainer for the IVF coarse quantizer ([[ivfTopK]]'s
    * `centroids` input) — Lloyd iterations with cosine assignment, all
    * distributed DataFrame ops:
    *
    *  - init: the k lowest-id corpus vectors (deterministic, no RNG), or
    *    a caller-provided `(cid, cv)` frame — [[IvfStore.rebalance]] seeds
    *    a hash-spread sample so a post-drift retrain has init mass inside
    *    the drifted region (the lowest-id default would start every
    *    centroid in the oldest data and leave a dense new cluster owned
    *    by a single centroid);
    *  - assign: corpus × broadcast(centroids), top-1 by (cosine desc, cid
    *    asc) — the same assignment [[ivfTopK]] uses at query time, so the
    *    trainer optimizes exactly the probe geometry;
    *  - update: element-wise mean per bucket via posexplode → (cid, dim)
    *    partial+final avg → array rebuilt in dim order. Empty buckets keep
    *    their previous centroid (k never shrinks).
    *
    * Per iteration: one broadcast join over the corpus and one exploded
    * aggregation (k·d rows out) — no corpus shuffle, centroids never leave
    * the driver at more than k·d doubles. Scale path: k and d bounded (the
    * usual IVF regime: k ≈ sqrt(corpus)), corpus streams.
    * Output: (cid, centroid: array<double>). */
  def kmeansCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 5, init: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val vd = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm(col("v")))
      .repartition(col("id"))
      .cache()
    var cent = init match {
      case Some(i) => i.select(col("cid"),
        col("cv").cast("array<double>").as("cv"))
      case None => vd.orderBy("id").limit(k)
        .select(col("id").as("cid"), col("v").as("cv"))
    }
    for (_ <- 0 until iters) {
      val c = cent.withColumn("cn", norm(col("cv")))
      val scored = vd.join(broadcast(c), lit(true))
        .select(col("id"), col("v"), col("cid"),
          // zero-norm total like safeCosE6 (a zero vector or degenerate
          // centroid assigns to the lowest cid instead of ANSI-throwing)
          when(col("n") * col("cn") > 0,
            dot(col("v"), col("cv")) / (col("n") * col("cn")))
            .otherwise(lit(0.0)).as("cs"))
      // top-1 by (cs desc, cid asc) as a partial+final min_by aggregation —
      // a row_number window here would SORT n·k rows every iteration; the
      // agg keeps one candidate per id per partition instead. Struct
      // comparison is lexicographic, so min of (-cs, cid) = best cosine
      // with ties to the LOWEST cid — the same order ivfTopK's probe uses.
      // Negating cs (always double) rather than cid keeps the tie-break
      // working for ANY orderable id type, not just numeric ones.
      val assigned = scored.groupBy("id")
        .agg(min_by(struct(col("cid"), col("v")),
          struct(negate(col("cs")), col("cid"))).as("__best"))
        .select(col("__best.cid").as("cid"), col("__best.v").as("v"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(avg("x").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("cv"))
      // empty buckets: fall back to the previous centroid
      cent = cent.select(col("cid"), col("cv").as("prev"))
        .join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cv"), col("prev")).as("cv"))
        .localCheckpoint() // k·d rows; truncates the per-iteration lineage
    }
    vd.unpersist()
    cent.select(col("cid"), col("cv").as("centroid"))
  }

  /** Per-vector symmetric int8 scale = 127/max|x|, carried as an exact ×1e6
    * long; 0 for all-zero vectors. */
  private[operators] def scaleE6(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x)))
    when(maxAbs > 0, floor(lit(1e6) * 127 / maxAbs + 0.5).cast("long")).otherwise(lit(0L))
  }

  /** Elements mapped via floor(x·scale + 0.5) — floor, not round: engines
    * disagree on rounding decimal representations but floor of the same
    * double is identical everywhere. */
  private[operators] def quantize(v: Column, scale: Column): Column =
    transform(v, x => floor(x * scale / 1e6 + 0.5).cast("int"))

  /** Symmetric int8 scalar quantization of a float vector column (see
    * [[scaleE6]]/[[quantize]] for the scheme — shared with the
    * [[ivfTopKInt8]] probe path). Output exploded to scalars:
    * (id, i, q, scale_e6). */
  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = vecs.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    vd.withColumn("scale_e6", scaleE6(col("v")))
      .select(col("id"), col("scale_e6"),
        posexplode(quantize(col("v"), col("scale_e6"))).as(Seq("i", "q")))
  }

  private[operators] def topKPerGroup(scored: DataFrame, groupCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("sim_e6").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("id"), col("sim_e6"))
  }

  private[operators] def topNPerGroup(
      df: DataFrame, groupCol: String, n: Int, orderCols: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }
}
