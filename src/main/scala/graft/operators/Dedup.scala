package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextOps._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * The reference engine has no dedup surface; these are the capability
  * extensions a 100 TB corpus pipeline needs (SURVEY §2.5 extension rows).
  * Four families, each with a different cost/recall point:
  *
  *  - exact:    one hash shuffle on content hash — O(n)
  *  - minhash:  MinHash+LSH banding — near-dup detection without O(n²);
  *              shuffle on band keys, candidate verify by exact Jaccard
  *  - simhash:  64-bit Charikar sketch + block-partitioned Hamming join
  *  - ngram:    exact char-n-gram Jaccard with length-bucket blocking
  *              (the "small-blocks" exact fallback)
  *
  * Everything is deterministic (md5-based hashing, integer outputs) so the
  * full pipeline — including LSH's probabilistic candidate generation — is
  * reproducible bit-for-bit in the DuckDB oracle.
  *
  * Scale: no driver-side collection anywhere; all joins are equi-joins on
  * hash/band/bucket keys (AQE-skew-splittable); per-row array lambdas are
  * codegen'd and shuffle-free.
  */
object Dedup {

  /** Hash-repartition by `idCol` before per-row heavy lifting — but
    * ONLY when the input is under-partitioned: a small corpus often
    * arrives as ONE parquet split, which would otherwise run every
    * shingle/hash (or, for the broadcast-queries vector scans in
    * [[Similarity]], every score) single-threaded no matter how many
    * cores exist. A 100 TB corpus arrives as tens of thousands of splits,
    * where an unconditional repartition would shuffle the ENTIRE input
    * once more for nothing (every downstream op re-keys by id/hash/band
    * anyway — the upfront exchange is pure overhead at scale, parallelism
    * insurance at toy scale). */
  private[operators] def spreadById(df: DataFrame, idCol: String): DataFrame =
    if (df.rdd.getNumPartitions >= df.sparkSession.sparkContext.defaultParallelism) df
    else df.repartition(col(idCol))

  /** `(id, __text)` projection of the docs, spread by id ([[spreadById]]). */
  private def spread(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spreadById(docs.select(col(idCol).as("id"), col(textCol).as("__text")), "id")

  /** Exact dedup: group by content hash of the normalized text.
    * Returns one row per duplicate group (`n > 1`): the content hash, the
    * group size, and the kept (minimum) id. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), md5s(lower(trim(col(textCol)))).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n"), min("id").as("keep_id"))
      .filter(col("n") > 1)

  /** MinHash + LSH near-duplicate pairs.
    *
    * k-word shingles → `numHashes` minhash signature → `numBands` LSH bands;
    * documents sharing any band become candidates (one shuffle keyed by
    * (band index, band hash) — the classic scalable formulation); candidates
    * are verified with exact shingle Jaccard and kept at `minJaccardE4`.
    *
    * Output: (a, b, j_e4) with a < b, distinct, where j_e4 = round(J*10000).
    */
  /** Universal-family minhash signatures for a caller-CACHED `(id, sh,
    * carry...)` frame — ROW-LOCAL since r15: the signature is a pure
    * function of one row's shingle array, so it runs as a single codegen
    * kernel ([[graft.functions.MinhashSigArray]] — one md5 per distinct
    * shingle, K running mins from [[TextOps.hashConstants]] linear maps)
    * with NO explode, NO exchange, and NO aggregate. The r7→r14 design
    * exploded the corpus's shingles and rebuilt the per-doc mins through
    * a HashAggregate: a corpus-sized explode + shuffle to recompute a
    * row-local quantity (the DuckDB oracle twins were row-local all
    * along). The dictionary-vs-direct-hashing rationale of that design
    * (one md5 per occurrence beats a vocab join at crawl scale) carries
    * over unchanged — the kernel hashes exactly the same occurrences,
    * minus the row machinery around them. Values are bit-identical
    * (same md5-prefix base hash, same linear maps, same null semantics
    * for shingle-less docs), so stored band frames and every oracle row
    * are unaffected.
    * Returns `(id, carry..., sig)` ONLY — shingle arrays stay behind in the
    * caller's scope-cached base frame and join back by id after candidate
    * dedup. Duplicate-id inputs now yield one signature per ROW (exactly
    * the oracle's semantics) rather than per id; every consumer dedupes
    * candidates and pairs, so outputs are unchanged. */
  private def withMinhashSig(
      base: DataFrame, numHashes: Int, carry: Seq[String] = Nil): DataFrame =
    base.select(col("id") +: carry.map(col) :+
      graft.functions.MinhashSigArray(
        col("sh"), TextOps.hashConstants(numHashes)).as("sig"): _*)

  /** Exact-safe Jaccard SIZE bound over distinct-shingle counts:
    * `J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|)` (the shingle
    * arrays are distinct-element by construction —
    * [[TextOps.charShingles]]/[[TextOps.wordShingles]]), so a candidate
    * whose count ratio cannot reach the threshold can never verify.
    * Riding the counts through the band join (one scalar per side) kills
    * such pairs BEFORE the pair-dedup shuffle and the array join-back —
    * the verify stage's dominant cost (r15 tools/NgramProbe as of
    * `3e0ff69`: the join-backs shuttling full shingle arrays were 2.96 s
    * of dedup_ngram's 4.35 s at 10×). The cut honors j_e4's HALF_UP rounding: keep iff
    * `2·10⁴·min ≥ (2τ−1)·max` ⇔ `(min/max)·10⁴ ≥ τ − 0.5` — exactly the
    * pairs whose ROUNDED Jaccard could still clear τ, so recall is
    * untouched and every oracle row hashes identically. */
  private def sizeBoundKeep(
      cntA: org.apache.spark.sql.Column, cntB: org.apache.spark.sql.Column,
      minJaccardE4: Long): org.apache.spark.sql.Column =
    least(cntA, cntB) * lit(20000L) >= greatest(cntA, cntB) * lit(2 * minJaccardE4 - 1)

  /** (id, carry..., sig) → exploded (id, carry..., band_ix, band_h) with the
    * signature DROPPED: the output feeds BOTH sides of the candidate
    * self-join, which must stay narrow — at corpus scale candidate volume ×
    * payload width is the dominant shuffle cost, so only ids, band keys and
    * scalar carry columns may cross that shuffle (Plans.scala asserts no
    * array column survives into any band join). Cached because the two join
    * inputs are different projections, so Spark's exchange reuse does not
    * reliably apply (and an AQE broadcast of one side would defeat it
    * outright) — without the cache the whole signature computation runs
    * twice. Action-scoped via [[OperatorCache]]: released automatically
    * when the materializing action completes, so no caller ever needs a
    * clearCache() and long-lived sessions cannot leak storage memory
    * (CacheLifecycleSpec pins both properties). */
  private def banded(withSig: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    OperatorCache.scoped(withSig.select(col("*"),
      posexplode(lshBands(col("sig"), numBands, rowsPerBand)).as(Seq("band_ix", "band_h")))
      .drop("sig"))

  /** `(id, sh)` shingle frame for a corpus — the shared front half of
    * every minhash path (spread → tokenize → k-word shingles), exposed so
    * [[SignatureStore]] can persist exactly the frame the inline operators
    * compute. */
  private[operators] def shingleFrame(
      docs: DataFrame, idCol: String, textCol: String, shingleWords: Int): DataFrame =
    spread(docs, idCol, textCol)
      .select(col("id"), tokens(col("__text")).as("__toks"))
      .select(col("id"), wordShingles(col("__toks"), shingleWords).as("sh"))

  /** `(id, band_ix, band_h)` banded-signature frame from a shingle frame —
    * the un-cached twin of [[banded]]∘[[withMinhashSig]] for persistence
    * (the store's parquet write materializes it once; scope-caching would
    * only add churn). */
  private[operators] def bandFrame(
      sh: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    val rowsPerBand = numHashes / numBands
    require(numBands * rowsPerBand == numHashes, "bands must tile the signature")
    withMinhashSig(sh, numHashes)
      .select(col("id"),
        posexplode(lshBands(col("sig"), numBands, rowsPerBand)).as(Seq("band_ix", "band_h")))
  }

  def minhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      minJaccardE4: Long = 5000): DataFrame = {
    val rowsPerBand = numHashes / numBands
    require(numBands * rowsPerBand == numHashes, "bands must tile the signature")

    // action-scoped cache: feeds the signature explode AND both sides of
    // the verify join-back (same lifecycle as `banded`)
    val sh = OperatorCache.scoped(shingleFrame(docs, idCol, textCol, shingleWords))
    val b = banded(withMinhashSig(
        sh.withColumn("cnt", size(col("sh")).cast("long")),
        numHashes, carry = Seq("cnt")),
      numBands, rowsPerBand)

    // slim candidate join (ids + band keys + the scalar shingle count),
    // size-bound gate ([[sizeBoundKeep]] — exact-safe), dedup bare pairs,
    // THEN join the shingle arrays back by id for the exact-Jaccard
    // verify — the arrays never ride the candidate or pair-dedup shuffles
    val cand = b.select(col("id").as("a"), col("cnt").as("cnt_a"),
        col("band_ix"), col("band_h"))
      .join(b.select(col("id").as("b"), col("cnt").as("cnt_b"),
        col("band_ix"), col("band_h")), Seq("band_ix", "band_h"))
      .filter(col("a") < col("b")
        && sizeBoundKeep(col("cnt_a"), col("cnt_b"), minJaccardE4))
      .select("a", "b")
      .dropDuplicates("a", "b")
    // hashed verify (r16): the join-backs shuttle row-local SORTED
    // xxhash64 arrays (8 B/element primitive vs ~13–16 B string bytes +
    // offsets) and the intersection is an allocation-free merge — see
    // [[graft.functions.HashedJaccard]] for the exactness stance
    val hv = OperatorCache.scoped(sh.select(col("id"),
      graft.functions.HashedSortedShingles(col("sh")).as("shh")))
    cand
      .join(hv.select(col("id").as("a"), col("shh").as("sh_a")), Seq("a"))
      .join(hv.select(col("id").as("b"), col("shh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.JaccardE4Sorted(col("sh_a"), col("sh_b")).as("j_e4"))
      .filter(col("j_e4") >= minJaccardE4)
      // a duplicate doc id would multiply pairs through the join-backs;
      // this final distinct is over the NARROW output (a, b, j_e4), unlike
      // the wide pre-slim shape it replaced, so it preserves the documented
      // distinct contract at the cost of one small-result shuffle
      .distinct()
  }

  /** Incremental near-dup: each NEW document against a REFERENCE corpus —
    * the daily-crawl-vs-frozen-training-set shape, which a self-join
    * formulation cannot express without re-pairing the whole reference
    * against itself. Same signature scheme as [[minhashPairs]] (the
    * shingle hash is content-keyed, so signatures are comparable across
    * corpora), but the candidate join is NEW-bands × REF-bands only:
    * cost is O(|new| + |ref|) signature work plus a band join whose
    * driver side is the (small) incoming batch.
    *
    * 100 TB story: the reference side's banded signatures are a pure
    * function of the corpus and can be computed once and persisted
    * (parquet of (id, band_ix, band_h) + (id, sh)); an incremental run
    * then pays only for the new batch's shingles and a narrow
    * hash-join against the precomputed bands. This operator IS that
    * plan with both sides inlined — substituting a stored frame for
    * `refDocs` changes nothing downstream.
    *
    * Output: (a = new id, b = ref id, j_e4), distinct, exact-verified at
    * `minJaccardE4` (no a < b constraint — the sides are different
    * corpora; ids may even overlap). */
  def minhashPairsAgainst(
      newDocs: DataFrame, refDocs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      minJaccardE4: Long = 5000): DataFrame = {
    val rowsPerBand = numHashes / numBands
    require(numBands * rowsPerBand == numHashes, "bands must tile the signature")
    def prep(docs: DataFrame) =
      OperatorCache.scoped(shingleFrame(docs, idCol, textCol, shingleWords))
    val shNew = prep(newDocs)
    val shRef = prep(refDocs)
    def withCnt(sh: DataFrame) = sh.withColumn("cnt", size(col("sh")).cast("long"))
    val bNew = banded(withMinhashSig(withCnt(shNew), numHashes,
      carry = Seq("cnt")), numBands, rowsPerBand)
    val bRef = banded(withMinhashSig(withCnt(shRef), numHashes,
      carry = Seq("cnt")), numBands, rowsPerBand)
    // slim candidate join (ids + band keys + scalar shingle counts),
    // size-bound gate ([[sizeBoundKeep]] — exact-safe, side-symmetric),
    // dedup bare pairs, then the shingle arrays join back by id — same
    // narrowness contract as the self-join variant (Plans.scala band-join
    // gate applies)
    val cand = bNew.select(col("id").as("a"), col("cnt").as("cnt_a"),
        col("band_ix"), col("band_h"))
      .join(bRef.select(col("id").as("b"), col("cnt").as("cnt_b"),
        col("band_ix"), col("band_h")), Seq("band_ix", "band_h"))
      .filter(sizeBoundKeep(col("cnt_a"), col("cnt_b"), minJaccardE4))
      .select("a", "b")
      .dropDuplicates("a", "b")
    // hashed verify — same score plan as [[minhashPairs]]'s (r16), but the
    // hashed projections are NOT cache-scoped here: unlike the self-join
    // variant (where one hv frame feeds both join sides), each side's
    // hashed frame has exactly one consumer, so a scoped cache would
    // materialize both arrays in memory for zero reuse (r16 ADVICE). The
    // underlying shingle frames (shNew/shRef) stay scoped — they feed both
    // the banding and these projections.
    def hv(sh: DataFrame) = sh.select(col("id"),
      graft.functions.HashedSortedShingles(col("sh")).as("shh"))
    cand
      .join(hv(shNew).select(col("id").as("a"), col("shh").as("sh_a")), Seq("a"))
      .join(hv(shRef).select(col("id").as("b"), col("shh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.JaccardE4Sorted(col("sh_a"), col("sh_b")).as("j_e4"))
      .filter(col("j_e4") >= minJaccardE4)
      .distinct()
  }

  /** [[minhashPairsAgainst]] with the reference side PRE-COMPUTED:
    * `refBands` `(id, band_ix, band_h)` and `refShingleHashes` `(id, shh)`
    * are the persisted frames a [[SignatureStore]] serves (bare parquet
    * scans — zero tokenize/shingle/minhash AND zero hash/sort work on the
    * frozen corpus, which is the whole point of the daily-crawl shape:
    * the batch pays its own signatures plus one narrow band join; the r16
    * hashed verify arrays are persisted at build time precisely so this
    * path never re-pays them per batch). Parameters must match the ones
    * the store was built with ([[SignatureStore.Params.tag]] enforces this
    * at read time); with matching parameters the output is pair-for-pair
    * identical to the inline variant. Plans.scala gates that the reference
    * side of this plan stays scan-only. */
  def minhashPairsAgainstStored(
      newDocs: DataFrame, idCol: String, textCol: String,
      refBands: DataFrame, refShingleHashes: DataFrame,
      shingleWords: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      minJaccardE4: Long = 5000): DataFrame = {
    val rowsPerBand = numHashes / numBands
    require(numBands * rowsPerBand == numHashes, "bands must tile the signature")
    val shNew = OperatorCache.scoped(shingleFrame(newDocs, idCol, textCol, shingleWords))
    val bNew = banded(withMinhashSig(shNew, numHashes), numBands, rowsPerBand)
    val cand = bNew.select(col("id").as("a"), col("band_ix"), col("band_h"))
      .join(refBands.select(col("id").as("b"), col("band_ix"), col("band_h")),
        Seq("band_ix", "band_h"))
      .select("a", "b")
      .dropDuplicates("a", "b")
    // hashed verify (r16): single consumer → no cache scope (r16 ADVICE;
    // shNew itself stays scoped — it feeds the banding AND this
    // projection); the reference side's verify arrays are a bare store scan
    val hvNew = shNew.select(col("id"),
      graft.functions.HashedSortedShingles(col("sh")).as("shh"))
    cand
      .join(hvNew.select(col("id").as("a"), col("shh").as("sh_a")), Seq("a"))
      .join(refShingleHashes.select(col("id").as("b"), col("shh").as("sh_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.JaccardE4Sorted(col("sh_a"), col("sh_b")).as("j_e4"))
      .filter(col("j_e4") >= minJaccardE4)
      .distinct()
  }

  /** Whole-simhash typed Aggregator: input is each token occurrence's md5
    * hex, the buffer is the 64
    * signed bit-weights, finish folds weights to the 16-hex fingerprint —
    * all tight JVM loops, no per-row array columns to encode/exchange.
    * Long sums are exactly commutative, so the result is identical to the
    * per-occurrence lambda fold ([[TextOps.simhash64]]) and the SQL oracle. */
  private object SimhashAgg
      extends org.apache.spark.sql.expressions.Aggregator[String, Array[Long], String] {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    private val hex = "0123456789abcdef"
    def zero: Array[Long] = Array.fill(64)(0L)
    def reduce(b: Array[Long], h: String): Array[Long] = {
      if (h != null) {
        var n = 0
        while (n < 16) {
          val v = hex.indexOf(h.charAt(n))
          var j = 0
          while (j < 4) {
            b(n * 4 + j) += (if (((v >> (3 - j)) & 1) == 1) 1L else -1L)
            j += 1
          }
          n += 1
        }
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0; while (i < 64) { x(i) += y(i); i += 1 }; x
    }
    def finish(b: Array[Long]): String = {
      val sb = new java.lang.StringBuilder(16)
      var n = 0
      while (n < 16) {
        var v = 0
        var j = 0
        while (j < 4) { if (b(n * 4 + j) > 0) v |= 1 << (3 - j); j += 1 }
        sb.append(hex.charAt(v))
        n += 1
      }
      sb.toString
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[String] = ExpressionEncoder()
  }

  /** Per-document 64-bit SimHash fingerprints (16-char hex): each token
    * occurrence is md5-hashed and streamed through the partial-
    * aggregating [[SimhashAgg]] — one pass, no vocabulary dictionary. */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val sim = udaf(SimhashAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
    // md5 per token OCCURRENCE, no vocabulary dictionary: the dict join
    // amortized a single md5 per token yet cost a distinct agg + a join
    // that shuffles the exploded corpus once the vocabulary outgrows
    // broadcast — same reasoning as withMinhashSig's v2 rewrite
    spread(docs, idCol, textCol)
      .select(col("id"), explode_outer(tokens(col("__text"))).as("t"))
      .withColumn("h", md5s(col("t")))
      .groupBy("id")
      .agg(sim(col("h")).as("simhash"))
  }

  /** SimHash near-duplicate pairs: fingerprints are blocked on each of the
    * four 16-bit sub-blocks; block-mates are verified with the exact Hamming
    * distance. Recall: pigeonhole GUARANTEES pairs with distance ≤ 3 share
    * a block; distances 4..maxHamming are found iff the differing bits
    * leave some block untouched (near-certain for clustered differences,
    * probabilistic in general — the standard blocking trade-off, and
    * deterministic either way, so the oracle reproduces it exactly).
    * Output: (a, b, hamming) with a < b, distinct. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8): DataFrame = {
    val fp = OperatorCache.scoped(simhashFingerprints(docs, idCol, textCol))
    val blocked = fp.select(
      col("id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        q => col("simhash").substr(q * 4 + 1, lit(4)))).as(Seq("q", "block")))
    val l = blocked.select(col("q"), col("block"), col("id").as("a"), col("simhash").as("fa"))
    val r = blocked.select(col("q"), col("block"), col("id").as("b"), col("simhash").as("fb"))
    l.join(r, Seq("q", "block"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        graft.functions.HammingHexCol(col("fa"), col("fb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a duplicate-pair edge list: every node gets
    * the minimum id reachable from it (the canonical "survivor"), computed
    * by iterative min-label propagation WITH pointer-jumping — each round
    * is one neighbor-min (join + min-aggregate) plus one label-of-label
    * shortcut, so the propagated distance roughly doubles per round and
    * convergence is O(log diameter) rounds even on a path graph (near-dup
    * clusters are shallow — pairs and small cliques converge in 2-3
    * rounds; a crawl corpus with a long quote-CHAIN legitimately has
    * diameter ≫ rounds, which is exactly what the jump step absorbs:
    * DedupSpec pins a depth-10⁴ path converging well under 20 rounds).
    * `maxIters` bounds the worst case — the default 48 covers diameter
    * ~2⁴⁸, beyond any feasible corpus, and unused rounds cost nothing
    * (the loop exits on the convergence test); throws if not converged
    * rather than returning silently-wrong clusters.
    *
    * Output: (id, survivor) for every node appearing in `pairs`, including
    * survivors themselves. The keep-one dedup result is then
    * `filter(id != survivor)`.
    *
    * Duplicate graphs are usually MUCH smaller than the corpus (edges only
    * between verified near-dups), so below `localThreshold` edges the
    * components are solved with driver-side union-find in one collect —
    * the iterative join loop exists for the rare corpus whose duplicate
    * graph itself is big. Same output either way. */
  def connectedComponents(
      pairs: DataFrame, maxIters: Int = 48, localThreshold: Long = 2000000): DataFrame = {
    val cached = pairs.select(col("a").cast("long"), col("b").cast("long")).cache()
    val nEdges = cached.count()
    val out =
      if (nEdges <= localThreshold) localComponents(cached)
      else distributedComponents(cached, maxIters, nEdges)
    cached.unpersist()
    out
  }

  /** Canonical-member selection per duplicate cluster — the step after
    * clustering in a real dedup pipeline: instead of blindly keeping the
    * lowest id, keep the member with the best quality signal (longest,
    * highest classifier score, …) and tie to the lowest id. `clusters` is
    * [[connectedComponents]] output (id, survivor); `scores` an
    * (id, score) frame whose score column must be INTEGRAL — fractional
    * quality signals (a classifier probability in [0, 1]) must be scaled
    * to integers first (e6-rounded longs, the battery-wide convention),
    * and a non-integral column is rejected rather than silently truncated
    * to a keep-lowest-id argmax. The argmax runs as TWO all-primitive passes —
    * per-cluster (count, max score), then min id among the max-score
    * members — because a struct-keyed min_by buffers a struct and Spark
    * demotes that to SortAggregate (the per-partition-sort slow path);
    * primitive aggs stay in HashAggregate with map-side partials, and the
    * join-back shares the `survivor` hash partitioning with the first
    * pass, so no third shuffle appears.
    * Output: (survivor, canonical, n_members, best_score). */
  def canonicalPerCluster(clusters: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val st = scores.schema(scoreCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(st),
      s"canonicalPerCluster needs an integral score column, got " +
        s"${st.simpleString} — scale fractional scores to integers first " +
        "(e.g. round(p * 1e6) as a long)")
    val joined = OperatorCache.scoped(
      clusters.join(scores.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("long").as("__s")), Seq("id")))
    val best = joined.groupBy("survivor").agg(
      count(lit(1)).as("n_members"), max(col("__s")).as("best_score"))
    joined.join(best, Seq("survivor"))
      .filter(col("__s") === col("best_score"))
      .groupBy("survivor", "n_members", "best_score")
      .agg(min(col("id")).as("canonical"))
      .select("survivor", "canonical", "n_members", "best_score")
  }

  /** Driver-side union-find over a collected edge list. */
  private def localComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id root
    }
    val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    import spark.implicits._
    rows.toDF("id", "survivor")
  }

  /** Iterative min-label propagation — the big-graph path.
    *
    * Parallelism scales with the graph: ~1M (directed) edges per partition,
    * floored at 4 and capped at the session's shuffle parallelism — this
    * branch only runs when the graph EXCEEDS the local-union-find threshold,
    * so a fixed tiny partition count is exactly wrong here.
    *
    * Convergence is detected by the exact DECIMAL sum of all labels: labels
    * are monotonically non-increasing under min-propagation, so an unchanged
    * sum ⇔ a fixpoint — one cheap scan per round, no join-against-previous
    * just to test convergence.
    *
    * Each round's two steps (neighbor-min hop, pointer jump) are each
    * `localCheckpoint`ed, not merely cached: both results feed BOTH sides
    * of a join, so without truncating the lineage the logical plan doubles
    * every round (2^rounds nodes — deep graphs OOM just *rendering* the
    * plan description for the query listener). Checkpointing makes round
    * k's plan O(1) regardless of k. */
  private def distributedComponents(
      pairs: DataFrame, maxIters: Int, nEdges: Long): DataFrame = {
    val spark = pairs.sparkSession
    val shufflePar = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val nParts = math.max(4L, math.min(shufflePar.toLong, 1L + 2L * nEdges / 1000000L)).toInt
    val edges = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .repartition(nParts, col("b")) // the propagation join below keys on b
      .cache()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint() // eager: materializes and truncates lineage
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).first().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // neighbor-min: label ← min(own, min over neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "b").withColumnRenamed("label", "nl"), Seq("b"))
        .groupBy(col("a").as("id")).agg(min("nl").as("nl"))
      val hop = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint() // eager: feeds BOTH sides of the jump join below
      // Convergence test rides the HOP, not the post-jump labels: with
      // symmetric edges a hop fixpoint forces equal labels across every
      // edge, i.e. labels constant per component — the global fixpoint —
      // so an unchanged hop sum ends the loop and the final round SKIPS
      // the jump join entirely (r16 verdict note 2: shallow graphs, the
      // common case, paid the jump's node-sized self-join once more than
      // needed). Detection round count is unchanged: the old post-jump
      // test fired exactly when the hop no-op'd, since a jump after a
      // label-changing hop always changes the sum further downward.
      val hopSum = labelSum(hop)
      if (hopSum.compareTo(prevSum) == 0) {
        converged = true
        labels = hop
      } else {
        // pointer jump: label ← min(label, label(label)). Every label value
        // IS a node id present in the table (own id initially, some node's
        // previous label afterwards — induction keeps it inside the node's
        // own component), so the lookup is total and the left join is
        // belt-and-braces. Shortcutting roughly doubles the distance already
        // propagated each round (reach 2^k−1 after k rounds), making rounds
        // O(log diameter) where the plain hop loop needed O(diameter) — on a
        // deep quote-chain graph (A quotes B quotes C …) the old loop turned
        // the maxIters throw into a job abort on legitimately deep data.
        // Cost: one node-sized self-equi-join per round, far below the edge
        // join it saves rounds of.
        val next = hop.join(
            hop.select(col("id").as("__jid"), col("label").as("__jl")),
            col("label") === col("__jid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__jl"), col("label"))).as("label"))
          .localCheckpoint()
        prevSum = labelSum(next)
        labels = next // superseded checkpoint RDDs are GC'd by ContextCleaner
      }
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(s"label propagation did not converge in $maxIters rounds")
    edges.unpersist()
    labels.select(col("id"), col("label").as("survivor"))
  }

  /** Char-n-gram Jaccard near-dup pairs: LSH candidate generation over a
    * char-n-gram minhash (8 hashes, 4 bands of 2) plus a length proximity
    * predicate, then EXACT n-gram Jaccard verification on the candidates.
    *
    * Pure length-bucket blocking was the first cut here and it does not
    * survive scale: at 5k word-soup docs it already yields millions of
    * candidate pairs, each paying an array-intersect over hundreds of
    * shingles. LSH cuts candidates to ~the true near-dup set; recall is
    * the standard banding curve (≈0.99 at J=0.8 with these parameters)
    * and — because the hashes are salted md5 — the candidate set is
    * deterministic and exactly mirrored by the oracle. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxLenDiff: Int = 16, minJaccardE4: Long = 5000): DataFrame = {
    // r=4 rows per band: char-n-gram background similarity is much higher
    // than word-shingle background (small shared vocabulary), so r=2 floods
    // the verify stage with ~0.5% of all pairs; s^4 banding cuts candidates
    // ~12x while keeping recall ≈0.99 at J=0.95
    val numHashes = 12; val numBands = 3; val rowsPerBand = 4
    // action-scoped cache: feeds the signature explode AND both sides of
    // the verify join-back (same lifecycle as `banded`)
    val base = OperatorCache.scoped(spread(docs, idCol, textCol)
      .select(col("id"), normText(col("__text")).as("__lt"))
      .select(col("id"), charShingles(col("__lt"), n).as("sh"),
        length(col("__lt")).cast("long").as("len")))
    // `len` and the distinct-shingle count (two scalars) ride the band
    // join so BOTH exact-safe gates — length proximity and the Jaccard
    // size bound (see [[sizeBoundKeep]]) — prune candidates BEFORE the
    // pair-dedup shuffle; the shingle arrays join back by id only for the
    // surviving pairs
    val b = banded(withMinhashSig(
        base.withColumn("cnt", size(col("sh")).cast("long")),
        numHashes, carry = Seq("len", "cnt")),
      numBands, rowsPerBand)

    val cand = b.select(col("id").as("a"), col("len").as("len_a"),
        col("cnt").as("cnt_a"), col("band_ix"), col("band_h"))
      .join(b.select(col("id").as("b"), col("len").as("len_b"),
        col("cnt").as("cnt_b"), col("band_ix"), col("band_h")),
        Seq("band_ix", "band_h"))
      .filter(col("a") < col("b") && abs(col("len_a") - col("len_b")) < maxLenDiff
        && sizeBoundKeep(col("cnt_a"), col("cnt_b"), minJaccardE4))
      .select("a", "b")
      .dropDuplicates("a", "b")
    // hashed verify — same plan as [[minhashPairs]]'s (r16); with ~200
    // candidates per true pair the array join-back is this operator's
    // wall, and char-5-gram arrays are the family's largest payloads
    val hv = OperatorCache.scoped(base.select(col("id"),
      graft.functions.HashedSortedShingles(col("sh")).as("shh")))
    cand
      .join(hv.select(col("id").as("a"), col("shh").as("sh_a")), Seq("a"))
      .join(hv.select(col("id").as("b"), col("shh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.JaccardE4Sorted(col("sh_a"), col("sh_b")).as("j_e4"))
      .filter(col("j_e4") >= minJaccardE4)
      .distinct() // duplicate-id inputs: same narrow-output contract as minhashPairs
  }

  /** EXACT-substring duplicate pairs — the suffix-array dedup family (Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better") re-expressed for Spark: two documents pair when they share a
    * VERBATIM run of ≥ `k` tokens. This is the published dedup flavor the
    * fixed-window paragraph dedup misses: a duplicated span that straddles
    * a chunk boundary never hashes equal per chunk, but its stride-1
    * k-token windows do — window equality at ANY offset is exactly
    * "shares a k-token substring".
    *
    * Plan (never all-pairs, and since r13 never a JOIN): stride-1 k-token
    * windows per doc (distinct), ONE exchange grouping ids per window
    * key, pair combinations exploded row-locally from each id list,
    * per-pair count of shared windows. Unlike the LSH families there is
    * NO verify stage — the window key IS the exact content up to hash
    * collisions: the internal key is two INDEPENDENTLY-SEEDED xxhash64
    * halves (128 combined bits; expected spurious window merges at a
    * 10¹²-window corpus ≈ 10²⁴/2¹²⁹ ≈ 10⁻¹⁵ — below the md5 hex key it
    * replaces only in adversarial settings, which dedup is not). Two
    * primitive long agg/shuffle columns measured ~35% faster end-to-end
    * than the 32-byte hex string at sf0.1 and carry 4× fewer key bytes
    * through the exchange; the USER-SURFACED audit key ([[hotWindows]])
    * stays md5 hex. Pair volume = Σ df(window)², linear for natural
    * text. Measured 2.6× faster than the r12 self-equi-join at the 100×
    * sweep scale (half the exchange volume: the per-occurrence frame
    * crosses the wire once, not twice plus join rows). `n_shared` = the
    * number of distinct shared windows (a single shared run of length L
    * contributes L−k+1 of them).
    *
    * Boilerplate guard for crawl-scale corpora: `maxDocsPerWindow > 0`
    * drops windows shared by more documents than the cap — enforced
    * INSIDE the grouped aggregation (a size-capped collect that stops
    * buffering at cap+1 ids, [[graft.functions.CollectSortedCapped]]), so
    * it costs no extra pass AND bounds the per-group agg buffer and
    * exchange volume. The df² blowup lives
    * entirely in those header/footer windows (license blocks, navigation
    * chrome: one window shared by d = 10⁵ docs means d² pair rows), and
    * the pairs they would add are boilerplate, not content, duplication.
    * The cap is ON BY DEFAULT at [[DefaultMaxDocsPerWindow]] (a silent
    * d² on default settings is the 100 TB hazard; organic text never
    * approaches the default — the battery corpus maxes at df = 4), the
    * DuckDB oracles replay the same cap, dropped windows surface via
    * [[hotWindows]], and `maxDocsPerWindow = 0` restores the uncapped
    * exact semantics explicitly (per-group buffer then unbounded —
    * exact mode trades the cap's memory bound away, documented). */
  /** The pairs family's second xxhash64 seed (the first is the
    * `xxhash64()` function's pinned 42) — see
    * [[graft.functions.SubstringGenerators.xxhash64Seeded]]. */
  private val WindowSeed2 = 4243L

  /** Distinct `(id, g)` k-token window strings — shared front half of the
    * window frames below. The native generator replaces
    * `explode(wordShingles(toks, k))`: same rows, byte-identical
    * concat_ws(" ") window strings, first-occurrence distinct, from a
    * tight loop; the HOF form evaluated interpreted with a k-token slice
    * copy per window and materialized the whole per-doc window array
    * (measured 60% of the substring rows' wall time at sf0.1). */
  private def windowStrings(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spread(docs, idCol, textCol)
      .select(col("id"), tokens(col("__text")).as("__toks"))
      .select(col("id"),
        graft.functions.SubstringGenerators
          .wordShingleWindows(col("__toks"), k).as("g"))

  /** Distinct `(id, h)` windows with the md5 hex key — the USER-SURFACED
    * audit identity ([[hotWindows]] output rows carry it). */
  private[operators] def windowFrame(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    windowStrings(docs, idCol, textCol, k)
      .select(col("id"), md5s(col("g")).as("h"))

  /** Distinct `(id, h1, h2)` windows with the pairs family's INTERNAL
    * 128-bit key: two independently-seeded xxhash64 halves as two
    * primitive longs (see the class doc — measured ~35% faster than the
    * hex key, 4× fewer key bytes in the exchange).
    *
    * Collision caveat: the two halves are NOT 128 independent bits against
    * an adversary — XxHash64's seed only perturbs the initial accumulator
    * state, so seed-independent collision classes exist (a crafted window
    * pair can collide in BOTH halves at once). Against ORGANIC text the
    * two-half birthday bound is what matters and stays negligible at crawl
    * scale; against adversarial input a manufactured collision creates a
    * false exact-substring pair that can drop a legitimate document. For
    * deployments treating the crawl as hostile, the 16-byte binary md5 key
    * (`unhex(md5(g))` — A/B'd as `pairsB16` in tools/SubstrProbe as of
    * `3e0ff69`; keeps ~two-thirds of the key-size win) is the drop-in
    * cryptographic alternative; the user-surfaced audit identity ([[hotWindows]]) is
    * already md5. [[SubstringWindowStore]] persists this frame, so store
    * and inline consumers cannot drift — switching keys is a store version
    * bump, not a silent re-key. */
  private[operators] def windowFrame128(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    windowStrings(docs, idCol, textCol, k)
      .select(col("id"), xxhash64(col("g")).as("h1"),
        graft.functions.SubstringGenerators
          .xxhash64Seeded(col("g"), WindowSeed2).as("h2"))

  /** Default hot-window cap for the exact-substring family: windows
    * present in more documents (or, for the positioned operators, more
    * occurrences) than this pair/contaminate nothing. 1024 is far above
    * anything organic text produces per k ≥ 10 window (the battery corpus
    * maxes at 4) and caps any single key's join contribution at ~2²⁰
    * rows — boilerplate at crawl scale (d = 10⁵–10⁶) stays bounded
    * instead of going d². Duplication clusters genuinely wider than this
    * belong to the minhash/cluster family, not pairwise output. */
  val DefaultMaxDocsPerWindow: Int = 1024

  /** Surface the windows the default guard drops: `(h, n_docs)` for every
    * k-token window present in more than `maxDocsPerWindow` documents —
    * the audit/report side of the cap (what a curation pipeline logs as
    * "boilerplate detected", and the input to a targeted boilerplate
    * removal pass). One window-keyed partial-agg'd count; never a join. */
  def hotWindows(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      maxDocsPerWindow: Int = DefaultMaxDocsPerWindow): DataFrame = {
    require(k >= 2, s"substring window must be at least 2 tokens, got $k")
    windowFrame(docs, idCol, textCol, k)
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocsPerWindow)
  }

  /** Per-hash grouped windows `(h, __ids sorted asc)` — the grouped form
    * replaces the r12 self-equi-join: ONE exchange builds the per-window
    * id lists, pair combinations explode row-locally from each list
    * (exactly the join's output, upper triangle by the sorted order).
    * The guard is enforced INSIDE the aggregation
    * ([[graft.functions.CollectSortedCapped]]): a group stops buffering at
    * cap+1 values on both agg sides and evaluates to null, so per-group
    * state is truly bounded by the cap (≤ 1024 ids ≈ 8 KB) even for a
    * corpus-wide boilerplate window — a post-agg size filter would drop
    * the same groups but only AFTER fully buffering a df ≈ corpus id list
    * in one aggregation buffer. cap = 0 keeps exact semantics; the buffer
    * is then unbounded by explicit contract. */
  private[operators] def groupedWindows(w: DataFrame, cap: Int): DataFrame =
    if (cap > 0)
      w.groupBy("h1", "h2")
        .agg(graft.functions.CappedCollect
          .collectSortedCapped(col("id"), cap).as("__ids"))
        .filter(col("__ids").isNotNull)
    else
      w.groupBy("h1", "h2").agg(sort_array(collect_list(col("id"))).as("__ids"))

  def substringPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocsPerWindow: Int = DefaultMaxDocsPerWindow): DataFrame = {
    require(k >= 2, s"substring window must be at least 2 tokens, got $k")
    groupedWindows(windowFrame128(docs, idCol, textCol, k), maxDocsPerWindow)
      .filter(size(col("__ids")) >= 2)
      // upper-triangle pairs from each sorted id list — the native
      // generator twin of flatten(transform(__ids, (x, i) ->
      // transform(slice(...), ...))), minus the interpreted slice copies
      .select(graft.functions.SubstringGenerators
        .arrayPairs(col("__ids")).as(Seq("a", "b")))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-corpus exact-substring pairs — the incremental twin of
    * [[substringPairs]] (the [[minhashPairsAgainst]] shape): windows of
    * the NEW batch against windows of a frozen REFERENCE corpus, fused
    * into ONE hash-keyed aggregation over the tagged union of both
    * sides' windows — no join, no self-pairs of either side. Output
    * `(a, b, n_shared)` with `a` = new-batch id, `b` = reference id.
    * The hot-window cap applies PER SIDE (each side's own document
    * count), bounding any single key's pair contribution at cap². */
  def substringPairsAgainst(
      newDocs: DataFrame, refDocs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocsPerWindow: Int = DefaultMaxDocsPerWindow): DataFrame = {
    // FUSED inline form: union the two sides with a side tag and build
    // BOTH per-side id lists in ONE hash-keyed aggregation (the capped
    // collect skips the other side's nulls like collect_list does), then
    // explode the a×b combinations row-locally. One exchange of the
    // combined occurrence volume and ZERO join — the two-agg + equi-join
    // shape this replaces exchanged the same rows and then paid the join
    // stages on top. Per-side caps keep their semantics: an over-cap side
    // evaluates to null and the hash pairs nothing.
    val nw = windowFrame128(newDocs, idCol, textCol, k).withColumn("__new", lit(true))
    val rw = windowFrame128(refDocs, idCol, textCol, k).withColumn("__new", lit(false))
    val both = nw.unionByName(rw)
    // ONE collect of side-tagged occurrences per key (a second per-side
    // collect would double the per-group buffer/serialize work on every
    // key, and ~all keys are side-singletons). The combined cap 2·cap+1
    // preserves both invariants exactly: the buffer stays bounded, and a
    // latched group (> 2·cap+1 entries) necessarily has a side over cap —
    // the same keys today's per-side caps drop. Per-side caps re-check
    // on the survivors, which the both-sides gate below has already cut
    // to the (few) genuinely shared keys.
    val occ = struct(col("__new"), col("id"))
    val g =
      if (maxDocsPerWindow > 0)
        both.groupBy("h1", "h2").agg(
          graft.functions.CappedCollect.collectSortedCapped(
            occ, 2 * maxDocsPerWindow + 1).as("__occ"))
          .filter(col("__occ").isNotNull)
      else
        both.groupBy("h1", "h2")
          .agg(sort_array(collect_list(occ)).as("__occ"))
    // both sides present ⟺ the sorted list starts at a ref (false) and
    // ends at a new (true) — a codegen predicate, so the per-group HOF
    // split below only ever runs on shared keys
    val shared = g.filter(size(col("__occ")) >= 2 &&
        !element_at(col("__occ"), 1).getField("__new") &&
        element_at(col("__occ"), -1).getField("__new"))
      .withColumn("__na", expr("transform(filter(__occ, x -> x.__new), x -> x.id)"))
      .withColumn("__nb", expr("transform(filter(__occ, x -> NOT x.__new), x -> x.id)"))
    (if (maxDocsPerWindow > 0)
       shared.filter(size(col("__na")) <= maxDocsPerWindow &&
         size(col("__nb")) <= maxDocsPerWindow)
     else shared)
      .select(graft.functions.SubstringGenerators
        .arrayCrossPairs(col("__na"), col("__nb")).as(Seq("a", "b")))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[substringPairsAgainst]] with the reference side PRE-COMPUTED: the
    * persisted windows of a [[SubstringWindowStore]], served as one bare
    * parquet scan — the new batch pays only its own windows plus the
    * narrow hash join. Identical output to the inline variant for the
    * store's params: `k` and the hot-window cap come FROM the store's
    * committed [[SubstringWindowStore.Params]] (a free k here could
    * silently hash-mismatch every window), and the reference side's cap
    * was already applied at build time (the store persists clean windows
    * and surfaces the hot ones separately) — query-time cost stays ∝
    * batch. */
  def substringPairsAgainstStored(
      newDocs: DataFrame, idCol: String, textCol: String,
      spark: org.apache.spark.sql.SparkSession, root: String, corpusId: String,
      params: SubstringWindowStore.Params = SubstringWindowStore.Params()): DataFrame =
    substringPairsAgainstRef(newDocs, idCol, textCol,
      SubstringWindowStore.windows(spark, root, corpusId, params), params)

  /** [[substringPairsAgainstStored]] with the reference windows frame
    * PRE-LOADED by the caller — the seam a many-batch consumer (the
    * streaming replay rows, a production incremental scorer) needs to
    * read + persist the frozen reference ONCE instead of re-paying the
    * store scan and its planning in every micro-batch (r18: the
    * per-batch cost of the foreachBatch rows was dominated by the
    * reference side's re-read/re-broadcast, not the batch's own work).
    * `refWindows` must be [[SubstringWindowStore.windows]] of a store
    * built with the same `params` — the delegating overload above is the
    * tag-gated way to obtain it. Output is identical frame-for-frame. */
  def substringPairsAgainstRef(
      newDocs: DataFrame, idCol: String, textCol: String,
      refWindows: DataFrame,
      params: SubstringWindowStore.Params): DataFrame =
    substringCrossPairs(
      groupedWindows(windowFrame128(newDocs, idCol, textCol, params.k),
        params.maxDocsPerWindow),
      refWindows)

  /** Shared cross-corpus pair stage over GROUPED `(h1, h2, __ids)` sides:
    * the key join carries ONE row per window key per side (id lists,
    * never per-occurrence rows — join volume = distinct shared keys),
    * and the a×b combinations explode row-locally after the match,
    * bounded at cap² per key by the per-side guard. */
  private def substringCrossPairs(newG: DataFrame, refG: DataFrame): DataFrame =
    newG.select(col("h1"), col("h2"), col("__ids").as("__na"))
      .join(refG.select(col("h1"), col("h2"), col("__ids").as("__nb")),
        Seq("h1", "h2"))
      // a×b combinations per matched hash — native generator twin of the
      // nested flatten(transform(transform)) explode
      .select(graft.functions.SubstringGenerators
        .arrayCrossPairs(col("__na"), col("__nb")).as(Seq("a", "b")))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"))

  /** Positioned stride-1 k-token windows `(id, pos, h1, h2)` from an
    * `(id, toks)` frame — pos is 1-based, one row per OCCURRENCE (no
    * per-doc distinct: run reconstruction needs every position); same
    * internal 128-bit two-long key as [[windowFrame128]]. Shared front
    * half of [[substringRuns]], [[dropSharedSpans]], [[selfRepetition]]. */
  private def positionedWindows(base: DataFrame, k: Int): DataFrame =
    base
      // native generator, the positioned twin of the windowFrame swap:
      // every occurrence with its 1-based position, no per-window slice
      // copies, no materialized per-doc window array
      .select(col("id"),
        graft.functions.SubstringGenerators
          .positionedShingleWindows(col("toks"), k).as(Seq("pos", "g")))
      .select(col("id"), col("pos"), xxhash64(col("g")).as("h1"),
        graft.functions.SubstringGenerators
          .xxhash64Seeded(col("g"), WindowSeed2).as("h2"))

  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs, idCol, textCol)
      .select(col("id"), tokens(col("__text")).as("toks"))

  /** Grouped POSITIONED windows `(h, __occ sorted asc)` with `__occ` a
    * list of `(id, pos)` occurrence structs — the positioned twin of
    * [[groupedWindows]]: ONE exchange, guard as a free size predicate on
    * OCCURRENCES (a window repeated 10⁶ times inside one doc blows pair
    * space up exactly like 10⁶ docs would), cross-doc occurrence pairs
    * exploded row-locally by the consumers. */
  private def groupedPositioned(base: DataFrame, k: Int, cap: Int): DataFrame = {
    val pw = positionedWindows(base, k)
    val g =
      if (cap > 0)
        // guard enforced inside the agg (see groupedWindows): the buffer
        // caps at cap+1 occurrence structs, over-cap groups → null
        pw.groupBy("h1", "h2")
          .agg(graft.functions.CappedCollect
            .collectSortedCapped(struct(col("id"), col("pos")), cap).as("__occ"))
          .filter(col("__occ").isNotNull)
      else
        pw.groupBy("h1", "h2")
          .agg(sort_array(collect_list(struct(col("id"), col("pos")))).as("__occ"))
    g.filter(size(col("__occ")) >= 2)
  }

  /** Longest shared verbatim RUN per pair — the span-length report the
    * suffix-array dedup family acts on (Lee et al. 2021 deduplicate by
    * span length, not window count): consecutive shared k-windows on one
    * alignment diagonal chain into a single run of `count + k − 1`
    * tokens. Output `(a, b, max_run, n_windows)` with `max_run` in
    * tokens.
    *
    * Plan: positioned windows (volume ≈ token count) → the r13 grouped
    * form ([[groupedPositioned]]: one exchange, occurrence pairs exploded
    * row-locally — the [[substringPairs]] reshape, same 2.6×-at-100×
    * measurement family) → islands per (pair, diagonal pa−pb):
    * consecutive pa values share `pa − row_number()`, so one window
    * partitioned by (a, b, diag) reconstructs every run without
    * materializing spans. The window partitions are
    * per-pair-per-diagonal — bounded by the shorter doc's length, never
    * corpus-sized. */
  def substringRuns(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      maxOccurrencesPerWindow: Int = DefaultMaxDocsPerWindow): DataFrame = {
    require(k >= 2, s"substring window must be at least 2 tokens, got $k")
    // cross-doc occurrence pairs from each hash's sorted (id, pos) list:
    // upper triangle of the (id, pos) order with equal ids filtered IS
    // the old join's a < b output, both positions kept
    val matches = groupedPositioned(tokenized(docs, idCol, textCol), k,
        maxOccurrencesPerWindow)
      // upper-triangle occurrence pairs (native generator, see
      // substringPairs); the cross-doc constraint is a codegen column
      // filter instead of an interpreted lambda filter
      .select(graft.functions.SubstringGenerators
        .arrayPairs(col("__occ")).as(Seq("__x", "__y")))
      .filter(col("__x.id") =!= col("__y.id"))
      .select(col("__x.id").as("a"), col("__y.id").as("b"),
        col("__x.pos").as("pa"),
        (col("__x.pos") - col("__y.pos")).as("diag"))
    val islands = matches
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("a", "b", "diag").orderBy("pa")))
      .withColumn("__island", col("pa") - col("__rn"))
    islands
      .groupBy("a", "b", "diag", "__island")
      .agg(count(lit(1)).as("__len"))
      .groupBy("a", "b")
      .agg(
        (max(col("__len")) + lit(k - 1)).as("max_run"),
        sum(col("__len")).as("n_windows"))
  }

  /** INTRA-document repetition detection — the within-doc member of the
    * substring family (decoder loops, copy-paste spam, templated filler
    * repeat VERBATIM runs inside one document; the Gopher ratio rules
    * catch token/bigram-level repetition, this catches long exact
    * k-window repeats at any offset). Per doc, stride-1 k-token windows
    * are counted by content hash: `n_windows` total occurrences,
    * `n_repeated` occurrences belonging to a window seen more than once
    * in the SAME doc, `max_occ` the most-repeated window's count, and
    * `rep_e4 = n_repeated·10⁴ div n_windows` (integer division — engine
    * exact). Docs shorter than k tokens surface as all-zeros.
    *
    * Scale: positioned windows (volume ≈ corpus token count) → one
    * (id, hash)-keyed hash agg → one id-keyed hash agg, both map-side
    * partial; join-back is id-keyed. No self-join — repetition is read
    * off occurrence counts, never off window×window pairs. */
  def selfRepetition(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"repetition window must be at least 2 tokens, got $k")
    val counts = positionedWindows(tokenized(docs, idCol, textCol), k)
      .groupBy("id", "h1", "h2").agg(count(lit(1)).as("__c"))
    val agg = counts.groupBy("id").agg(
      sum(col("__c")).as("n_windows"),
      sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L))).as("n_repeated"),
      max(col("__c")).as("max_occ"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        coalesce(col("max_occ"), lit(0L)).as("max_occ"))
      .withColumn("rep_e4",
        when(col("n_windows") > 0,
          expr("(n_repeated * 10000) div n_windows")).otherwise(lit(0L)))
  }

  /** Span REMOVAL — the remediation step of the suffix-array dedup paper:
    * every token position of doc `b` covered by a k-window also present
    * in a LOWER-id doc is dropped (first occurrence wins, like the
    * paragraph dedup), and the survivors reassemble in order. Output
    * `(id, n_tokens, n_dropped, clean_text)` for EVERY input doc —
    * untouched docs pass through with `n_dropped = 0`.
    *
    * Plan: the [[substringRuns]] match join, then contaminated positions
    * explode row-locally (pb … pb+k−1 per shared window — volume bounded
    * by match volume × k), distinct per (id, pos), and one left anti
    * join back onto the positioned token list before an ordered per-doc
    * reassembly (sorted collect — per-doc bounded, the charEntropy
    * pattern). Reassembled text is single-space joined: the operator's
    * contract is token-level, not byte-level, fidelity. */
  /** Survivor policy: by default the LOWEST id keeps a shared span
    * (first-occurrence-wins, the paragraph-dedup order). Pass `scores`
    * (an integral per-doc quality column, the [[canonicalPerCluster]]
    * contract) and the BEST-scored doc keeps it instead — ties still to
    * the lowest id — so the whole dedup surface shares one quality-aware
    * survivor rule: clustering keep-one, canonical selection, and span
    * remediation all prefer the same copy. Docs absent from `scores`
    * rank lowest (score treated as Long.MinValue is unnecessary — a
    * missing doc coalesces to 0; supply full coverage for strict
    * ordering). One code path: the unscored default is the scored path
    * with every score 0, so the two cannot drift. */
  def dropSharedSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      maxOccurrencesPerWindow: Int = DefaultMaxDocsPerWindow,
      scores: DataFrame = null, scoreCol: String = null): DataFrame = {
    require(k >= 2, s"substring window must be at least 2 tokens, got $k")
    require((scores == null) == (scoreCol == null),
      "pass scores and scoreCol together (or neither)")
    val base = OperatorCache.scoped(tokenized(docs, idCol, textCol))
    val pw = positionedWindows(base, k)
    val withQ =
      if (scores == null) pw.withColumn("__q", lit(0L))
      else {
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        val st = scores.schema(scoreCol).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(st),
          s"dropSharedSpans needs an integral score column, got " +
            s"${st.simpleString} — scale fractional scores to integers first")
        pw.join(scores.select(col(idCol).as("id"),
            col(scoreCol).cast("long").as("__q0")), Seq("id"), "left")
          .withColumn("__q", coalesce(col("__q0"), lit(0L))).drop("__q0")
      }
    // grouped form (the substringPairs/substringRuns reshape): one
    // exchange groups (id, q, pos) occurrences per hash; an occurrence is
    // contaminated iff SOME other doc's occurrence in the group beats it
    // on (q desc, id asc) — a row-local exists(), never a self-join
    val grouped = {
      val occ = struct(col("id"), col("__q").as("q"), col("pos"))
      val g =
        if (maxOccurrencesPerWindow > 0)
          // guard enforced inside the agg (see groupedWindows): the buffer
          // caps at cap+1 occurrence structs, over-cap groups → null
          withQ.groupBy("h1", "h2")
            .agg(graft.functions.CappedCollect
              .collectSortedCapped(occ, maxOccurrencesPerWindow).as("__occ"))
            .filter(col("__occ").isNotNull)
        else
          withQ.groupBy("h1", "h2").agg(sort_array(collect_list(occ)).as("__occ"))
      g.filter(size(col("__occ")) >= 2)
    }
    val starts = grouped
      .select(explode(expr(
        """transform(
          |  filter(__occ, y -> exists(__occ, x -> x.id != y.id AND
          |    (x.q > y.q OR (x.q = y.q AND x.id < y.id)))),
          |  y -> named_struct('id', y.id, 'pos', y.pos))""".stripMargin))
        .as("__c"))
      .select(col("__c.id").as("id"), col("__c.pos").as("pos"))
    reassembleWithout(base, starts, k)
  }

  /** [[dropSharedSpans]] against a FROZEN reference corpus — the streaming
    * remediation step: every position of a new document covered by a
    * k-token window that also appears in the persisted
    * [[SubstringWindowStore]] is dropped, and the survivors reassemble in
    * token order. The reference always wins (the frozen corpus is
    * canonical — there is no score race, unlike the intra-corpus
    * operator), so the probe is one left-semi hash join of the batch's
    * positioned windows against the store's window keys, column-pruned to
    * the two key longs. Cost ∝ batch: no grouped buffer exists on this
    * path, so no new-side occurrence cap is needed; the ref side's
    * hot-window cap was applied at store build time (a boilerplate window
    * the store surfaced instead of persisting contaminates nothing, same
    * as in every other stored-substring consumer). `k` comes from the
    * store's committed params — a free k here would hash-mismatch every
    * window. */
  def dropSharedSpansAgainstStored(
      newDocs: DataFrame, idCol: String, textCol: String,
      spark: org.apache.spark.sql.SparkSession, root: String, corpusId: String,
      params: SubstringWindowStore.Params = SubstringWindowStore.Params()): DataFrame =
    dropSharedSpansAgainstRef(newDocs, idCol, textCol,
      SubstringWindowStore.windows(spark, root, corpusId, params), params)

  /** [[dropSharedSpansAgainstStored]] with the reference windows frame
    * PRE-LOADED — same seam and caveats as [[substringPairsAgainstRef]].
    *
    * Join direction (r18): the membership probe broadcasts the BATCH's
    * distinct window keys into a semi scan of the reference, then the
    * (≤ batch-sized) shared-key set broadcasts back over the batch
    * windows. The naive direction — `batch semi-join ref` — must build a
    * hash relation over the whole reference EVERY batch while it fits the
    * broadcast threshold, and silently degrades to shuffling the
    * reference per batch once it does not; this form only ever SCANS the
    * reference, and both broadcast builds are bounded by the batch (the
    * small side by design — guide §3.1/§8). Verified output-identical to
    * the naive direction on sf0.1 (keys ∈ ref∩batch ⇔ ∈ ref, for batch
    * windows). */
  def dropSharedSpansAgainstRef(
      newDocs: DataFrame, idCol: String, textCol: String,
      refWindows: DataFrame,
      params: SubstringWindowStore.Params): DataFrame = {
    val base = OperatorCache.scoped(tokenized(newDocs, idCol, textCol))
    val pw = OperatorCache.scoped(positionedWindows(base, params.k))
    val newKeys = pw.select("h1", "h2").distinct()
    val sharedKeys = refWindows.select("h1", "h2")
      .join(broadcast(newKeys), Seq("h1", "h2"), "left_semi")
    val starts = pw
      .join(broadcast(sharedKeys), Seq("h1", "h2"), "left_semi")
      .select(col("id"), col("pos"))
    reassembleWithout(base, starts, params.k)
  }

  /** Shared back half of the span-removal family: expand contaminated
    * window STARTS `(id, pos)` to their k token positions, drop them, and
    * reassemble each doc's survivors in token order — one code path for
    * the intra-corpus and stored-reference variants, so their output
    * shape `(id, n_tokens, n_dropped, clean_text)` cannot drift. */
  private def reassembleWithout(
      base: DataFrame, starts: DataFrame, k: Int): DataFrame = {
    val contaminated = starts
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val toks = base.select(col("id"), posexplode(col("toks")).as(Seq("__p0", "t")))
      .select(col("id"), (col("__p0") + 1).as("pos"), col("t"))
    val kept = toks.join(contaminated, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        count(lit(1)).as("__n_kept"),
        array_sort(collect_list(struct(col("pos"), col("t")))).as("__ts"))
      .select(col("id"), col("__n_kept"),
        concat_ws(" ",
          transform(col("__ts"), s => s.getField("t"))).as("clean_text"))
    base.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Asymmetric CONTAINMENT pairs (Broder 1997's second resemblance
    * measure): `contain_a = |Sh(A) ∩ Sh(B)| / |Sh(A)|` over distinct
    * k-word shingles — the signal resemblance-Jaccard structurally
    * misses when a small doc is quoted verbatim inside a much larger one
    * (|A∩B|/|A∪B| stays low while |A∩B|/|A| ≈ 1). Surfaces every pair
    * whose LARGER containment side clears `minContainE4`.
    *
    * Plan: the [[substringPairs]] grouped formulation over the SHINGLE
    * frame — one exchange builds per-shingle id lists (capped inside the
    * aggregation), pairs explode row-locally, then two broadcast-able
    * equi-joins attach the per-doc distinct-shingle counts. Never an
    * all-pairs comparison. The df cap here defaults LOWER than the
    * substring family's (256 vs 1024): a short shingle shared by hundreds
    * of documents is stopword boilerplate carrying no containment
    * evidence, and its df² pair explosion is the 100 TB hazard — capped
    * shingles drop from BOTH the pair counts and nothing else (per-doc
    * totals stay uncapped), so containment under-estimates by at most
    * the capped fraction of the smaller side; the oracle replays the
    * identical cap. Output `(a, b, shared, n_a, n_b, contain_a_e4,
    * contain_b_e4)`, a < b.
    *
    * `shingleWords` defaults to 4 on BOTH containment twins (this and
    * [[containmentPairsAgainst]]): the r15 A/B measured 4-word shingles
    * both ~2× faster (fewer stopword-heavy high-df shingles surviving
    * the cap) and sharper (excerpt containment stays ~1.0 while
    * background containment drops). 3-word shingles buy recall only for
    * excerpts shorter than ~4 words — below any excerpt worth flagging. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 4, minContainE4: Int = 9000,
      maxDocsPerShingle: Int = 256): DataFrame = {
    require(minContainE4 >= 0 && minContainE4 <= 10000,
      s"minContainE4 is parts-per-10000, got $minContainE4")
    val frame = windowFrame128(docs, idCol, textCol, shingleWords)
    // per-doc distinct-shingle totals ROW-LOCALLY (size of the native
    // distinct-shingle array) — an agg over the frame would re-run the
    // whole shingle generation once per join consumer; this is one
    // narrow scan of the docs and no exchange at all
    val counts = spread(docs, idCol, textCol)
      .select(col("id"),
        size(TextOps.wordShingles(TextOps.tokens(col("__text")), shingleWords))
          .cast("long").as("__n"))
      .filter(col("__n") > 0)
    groupedWindows(frame, maxDocsPerShingle)
      .filter(size(col("__ids")) >= 2)
      .select(graft.functions.SubstringGenerators
        .arrayPairs(col("__ids")).as(Seq("a", "b")))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("id").as("a"), col("__n").as("n_a")), Seq("a"))
      .join(counts.select(col("id").as("b"), col("__n").as("n_b")), Seq("b"))
      .select(col("a"), col("b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared") * lit(10000.0) / col("n_a"), 0)
          .cast("long").as("contain_a_e4"),
        round(col("shared") * lit(10000.0) / col("n_b"), 0)
          .cast("long").as("contain_b_e4"))
      .filter(greatest(col("contain_a_e4"), col("contain_b_e4"))
        >= minContainE4)
  }

  /** Cross-corpus containment — the incremental twin of
    * [[containmentPairs]] ([[substringPairsAgainst]] shape): how much of
    * each NEW doc's shingle set sits inside a frozen REFERENCE corpus
    * doc — the "is this crawl page an excerpt of something we already
    * hold" probe. Shared counts ride the fused one-exchange tagged-union
    * aggregation (no join, per-side caps preserved); the per-doc totals
    * attach row-locally per side (no second shingle scan). Output
    * `(a, b, shared, n_a, n_b, contain_a_e4, contain_b_e4)`, `a` = new id,
    * `b` = reference id. */
  def containmentPairsAgainst(
      newDocs: DataFrame, refDocs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 4, minContainE4: Int = 9000,
      maxDocsPerShingle: Int = 256): DataFrame = {
    require(minContainE4 >= 0 && minContainE4 <= 10000,
      s"minContainE4 is parts-per-10000, got $minContainE4")
    def totals(df: DataFrame, side: String) = spread(df, idCol, textCol)
      .select(col("id").as(side),
        size(TextOps.wordShingles(TextOps.tokens(col("__text")), shingleWords))
          .cast("long").as(s"n_$side"))
      .filter(col(s"n_$side") > 0)
    substringPairsAgainst(newDocs, refDocs, idCol, textCol,
      shingleWords, maxDocsPerShingle)
      .join(totals(newDocs, "a"), Seq("a"))
      .join(totals(refDocs, "b"), Seq("b"))
      .select(col("a"), col("b"), col("n_shared").as("shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared") * lit(10000.0) / col("n_a"), 0)
          .cast("long").as("contain_a_e4"),
        round(col("n_shared") * lit(10000.0) / col("n_b"), 0)
          .cast("long").as("contain_b_e4"))
      .filter(greatest(col("contain_a_e4"), col("contain_b_e4"))
        >= minContainE4)
  }

  /** Soft dedup: per-doc training weights from duplicate-cluster
    * multiplicity INSTEAD of dropping members — the published
    * reweighting alternative to hard dedup (SoftDeDup, He et al. 2024:
    * common text keeps total probability mass ~constant while each copy
    * contributes less). `memberships` is [[connectedComponents]] output
    * over verified near-dup pairs; every member of a size-s cluster gets
    * `weight_e6 = round(1e6 / s)` and non-members keep weight 1e6, so a
    * cluster's total sampling mass ≈ one document's.
    *
    * Scale: one count aggregate over cluster ids (bounded by cluster
    * count, partial-agg'd) + two equi-joins on id/survivor — the
    * membership side is duplicate-pairs-sized, far below corpus-sized;
    * AQE broadcasts it when small. Output `(id, cluster_size,
    * weight_e6)` for EVERY doc, ordered by nothing (battery row sorts).
    */
  def softDedupWeights(
      docs: DataFrame, idCol: String, memberships: DataFrame): DataFrame = {
    val memb = memberships.select(col("id").cast("long").as("id"),
      col("survivor").cast("long").as("__surv"))
    val sizes = memb.groupBy("__surv").agg(count(lit(1)).as("__sz"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(memb, Seq("id"), "left")
      .join(sizes, Seq("__surv"), "left")
      .select(col("id"),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"),
        round(lit(1e6) / coalesce(col("__sz"), lit(1L)).cast("double"), 0)
          .cast("long").as("weight_e6"))
  }

  /** Invert the minhash banding recall curve — the word-shingle/char-gram
    * analog of [[Similarity.srpBandsForRecall]] (r16 verdict item 3).
    * A true pair at Jaccard s survives (b bands × r rows) banding with
    * probability 1 − (1 − s^r)^b; this returns the minimal b reaching
    * `targetRecall` AT the verify threshold s = minJaccardE4/1e4 (pairs
    * above the threshold have strictly higher recall, and the exact
    * verify stage means precision never depends on banding).
    *
    * `rowsPerBand` stays the caller's PRECISION lever: it suppresses
    * background band collisions, whose rate depends on the corpus's
    * background similarity, not its size — word shingles default r=3,
    * char-grams r=4 (higher background). The implied signature length is
    * `numHashes = b·r` ([[minhashSizingForRecall]] returns both). The
    * fixed (12, 4)/(12, 3) defaults of [[minhashPairs]] /
    * [[ngramJaccardPairs]] are ≈0.94/0.99 recall at their documented
    * design points (J=0.8 / J=0.95) and are UNCHANGED; this inversion is
    * for thresholds and recall targets where a fixed geometry decays —
    * e.g. recall 0.9 at the battery's verify floor τ=0.5 needs b=18×r=3,
    * which no fixed default approximates. */
  def minhashBandsForRecall(
      minJaccardE4: Long, targetRecall: Double, rowsPerBand: Int): Int = {
    require(minJaccardE4 > 0 && minJaccardE4 < 10000,
      s"minJaccardE4 must be in (0, 1e4), got $minJaccardE4")
    require(targetRecall > 0 && targetRecall < 1,
      s"target recall must be in (0, 1), got $targetRecall")
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1, got $rowsPerBand")
    val p = math.pow(minJaccardE4 / 10000.0, rowsPerBand)
    val bands = math.ceil(math.log1p(-targetRecall) / math.log1p(-p))
    // each band multiplies signature length and candidate volume — past
    // this ceiling the (τ, recall, r) combination is a mis-sizing, not a
    // plan (the SRP twin's round-8 stance); fail with the numbers named
    require(bands <= MaxMinhashBands,
      s"infeasible minhash sizing: recall $targetRecall at J=" +
        s"${minJaccardE4 / 10000.0} with $rowsPerBand rows/band needs " +
        s"${bands.toLong} bands (> $MaxMinhashBands); per-band survival " +
        s"probability $p is too small — lower rowsPerBand, loosen the " +
        "target, or raise the threshold")
    math.max(1, bands.toInt)
  }

  /** Sanity ceiling for [[minhashBandsForRecall]]. */
  val MaxMinhashBands: Int = 256

  /** `(numHashes, numBands)` for [[minhashPairs]]/[[ngramJaccardPairs]]
    * sized from (τ, target recall, rows/band) — pass straight through:
    * `val (h, b) = minhashSizingForRecall(...); minhashPairs(..., h, b)`. */
  def minhashSizingForRecall(
      minJaccardE4: Long, targetRecall: Double, rowsPerBand: Int): (Int, Int) = {
    val b = minhashBandsForRecall(minJaccardE4, targetRecall, rowsPerBand)
    (b * rowsPerBand, b)
  }

  /** Score-aware SoftDeDup — the quality-weighted variant a real training
    * mix uses (r15/r16 verdicts' composition of [[softDedupWeights]] and
    * [[canonicalPerCluster]]): the cluster's best-scored member (ties to
    * lowest id) is PROMOTED to the full document weight 1e6 — the copy
    * you keep is not penalized for having been duplicated — while the
    * other members keep the base op's equal split of the cluster's unit
    * soft mass, 1e6/size each (collectively the remainder
    * (size−1)/size · 1e6 after the canonical's equal-share slot).
    * Singletons are their own canonical at 1e6.
    *
    * Output: (id, cluster_size, is_canonical, weight_e6), one row per doc.
    *
    * 100 TB story: exactly its two parents' plans — cluster-keyed count +
    * max-score hash aggs and id equi-joins; nothing new shuffles, no
    * window, no nested loop (Plans gates the composed row). */
  def softDedupWeightsScored(
      docs: DataFrame, idCol: String, memberships: DataFrame,
      scores: DataFrame, scoreCol: String): DataFrame = {
    val canon = canonicalPerCluster(memberships, scores, idCol, scoreCol)
      .select(col("canonical").as("id"), lit(true).as("__canon"))
    softDedupWeights(docs, idCol, memberships)
      .join(canon, Seq("id"), "left")
      .select(col("id"), col("cluster_size"),
        (coalesce(col("__canon"), lit(false)) || col("cluster_size") === 1L)
          .as("is_canonical"),
        when(coalesce(col("__canon"), lit(false)) || col("cluster_size") === 1L,
          lit(1000000L)).otherwise(col("weight_e6")).as("weight_e6"))
  }
}
