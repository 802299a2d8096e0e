package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.GraftSession

/** Prints formatted physical plans for headline queries and greps them for
  * the scale properties we require (pushdown, broadcast, partial agg).
  * Drive with: sbt "runMain graft.tools.Plans [sfDir]" */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(4)

    // "!" prefix = plan must NOT contain the fragment
    val checks: Seq[(String, Seq[String])] = Seq(
      "fql_since" -> Seq("PushedFilters"),          // time filter reaches parquet
      "q1_agg" -> Seq("partial_", "HashAggregate"), // map-side partial agg
      "q_join_broadcast" -> Seq("BroadcastHashJoin"),
      "q_join_large" -> Seq("Join"),
      "ann_topk" -> Seq("BroadcastNestedLoopJoin"), // its contract: small query set broadcast
      // PQ ADC scan: query LUTs broadcast against the codes-only scan —
      // the full-precision vectors must NOT appear before the re-rank join
      "ann_pq" -> Seq("BroadcastNestedLoopJoin", "!CartesianProduct"),
      // IVF+PQ: the probe must be an EQUI-join on the bucket (never a
      // nested loop over the corpus — that would undo the IVF pruning)
      "ann_ivfpq" -> Seq("Join", "!CartesianProduct"),
      "ann_ivfpq_stored" -> Seq("Join", "!CartesianProduct"),
      // SemDeDup: pair space must be the intra-cluster equi-join; the
      // centroid assignment is the row-local codegen argmax — NO nested
      // loop anywhere (the r12 verdict's n·√n window-exchange fix)
      "emb_semdedup" -> Seq("Join", "!CartesianProduct",
        "!BroadcastNestedLoopJoin"),
      // cluster balance: row-local assignment + k-row size join; the one
      // allowed nested loop is the 1-ROW totals broadcast (checked
      // programmatically below together with the assignment Generate)
      "curate_cluster_balance" -> Seq("Join", "HashAggregate",
        "!CartesianProduct"),
      // outlier flags: row-local argmax assignment (nearest_centroids in
      // the plan) — no join, no window, no exchange of the vectors at all
      "emb_outliers" -> Seq("nearest_centroids", "!Window", "!Join",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // truncated pre-rank: broadcast query side, no cartesian fallback
      "ann_truncated" -> Seq("Join", "!CartesianProduct"),
      // media resize / feature extraction: per-row typed maps — the only
      // exchange allowed is the battery's final presentation sort
      "mm_resize" -> Seq("MapPartitions", "!Join", "!Window",
        "!HashAggregate", "!CartesianProduct"),
      "mm_features" -> Seq("MapPartitions", "!Join", "!Window",
        "!HashAggregate", "!CartesianProduct"),
      // media → vector assembly → IVF composition: row-local centroid
      // assignment (never a nested loop), equi-join probe; the assembly
      // agg is checked programmatically below (one partial-able
      // media_id-grouped aggregate, exactly one Window — the top-k rank)
      "mm_ann" -> Seq("nearest_centroids", "!CartesianProduct",
        "!BroadcastNestedLoopJoin", "!SortAggregate"),
      // custom-vectorizer twin: the seam must not change the plan shape
      "mm_ann_custom" -> Seq("nearest_centroids", "MapPartitions",
        "!CartesianProduct", "!BroadcastNestedLoopJoin", "!SortAggregate"),
      // minhash_sig in the plan = the signature runs as the row-local
      // kernel (r15) — no corpus-sized shingle explode + re-agg exchange
      "dedup_minhash" -> Seq("HashAggregate", "Join", "minhash_sig"),
      "dedup_ngram" -> Seq("minhash_sig", "Join", "!CartesianProduct"),
      // exact-substring pairs (r13 grouped form): ONE exchange groups ids
      // per window hash, pair combinations explode ROW-LOCALLY — no join
      // in the plan at all, hash/object-hash aggs only
      // collect_sorted_capped in the plan = the hot-window guard is
      // enforced INSIDE the aggregation (buffer bounded at cap+1), not as
      // a post-agg size filter over fully-buffered id lists
      "dedup_substring" -> Seq("HashAggregate", "Generate", "!Join",
        "collect_sorted_capped", "!CartesianProduct", "!SortAggregate"),
      // run reconstruction (r13 grouped): no join — one grouped exchange,
      // row-local occurrence-pair explode, then the (pair, diagonal)-
      // partitioned window — bounded by the shorter doc, never corpus-wide
      "dedup_substring_runs" -> Seq("HashAggregate", "Generate", "Window",
        "collect_sorted_capped", "!Join", "!CartesianProduct"),
      // r14 fused cross form: one agg over the tagged union of both
      // sides' windows builds both per-side lists — NO join at all
      "dedup_substring_ref" -> Seq("HashAggregate", "!Join",
        "collect_sorted_capped", "!CartesianProduct"),
      // hot-window surfacing: one partial-agg'd window count — no join
      "dedup_hot_windows" -> Seq("HashAggregate", "partial_", "!Join",
        "!CartesianProduct"),
      "dedup_substring_ref_stored" -> Seq("HashAggregate", "Join",
        "!CartesianProduct"),
      // span removal: match join + anti join back; no nested loop; the
      // occurrence grouping runs through the capped collect like the pairs
      "curate_drop_spans" -> Seq("Join", "collect_sorted_capped",
        "!CartesianProduct"),
      "curate_drop_spans_scored" -> Seq("Join", "collect_sorted_capped",
        "!CartesianProduct"),
      // perplexity filter: scoring aggs + the bracket/refine quantile —
      // the value-buffering Percentile aggregate must never appear
      "curate_perplexity_filter" -> Seq("HashAggregate", "!Percentile",
        "!CartesianProduct"),
      // end-to-end dedup pipeline: same invariants as its stages — banded
      // candidates, hash aggs, no nested loops over the corpus
      "pipeline_dedup" -> Seq("HashAggregate", "partial_",
        "!SortAggregate", "!CartesianProduct"),
      // canonical selection: equi-join + the two-pass all-primitive argmax
      // — must stay in HashAggregate (a struct-buffered min_by demotes to
      // SortAggregate, the measured per-partition-sort slow path)
      "dedup_canonical" -> Seq("HashAggregate", "partial_",
        "!SortAggregate", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // leakage-safe split: the assignment half must stay a join + narrow
      // map — a Window or nested loop here means the per-cluster
      // assignment stopped being row-local. (The clustering stage runs in
      // its OWN actions — connectedComponents materializes pairs before
      // the final plan — and is gated by the dedup_clusters row, so no
      // aggregate is asserted here.)
      "curate_split" -> Seq("!SortAggregate",
        "!BroadcastNestedLoopJoin", "!CartesianProduct", "!Window"),
      // DSIR scoring pass: the surfaced plan is ONE zero-exchange
      // codegen'd map (native gram kernel + broadcast-weight sum) feeding
      // a k-bounded TakeOrdered — the fit runs in its own prior action
      // (dim-keyed agg, dim-row collect), so ANY join/agg/window/exchange
      // here means scoring stopped being row-local
      "curate_dsir" -> Seq("TakeOrderedAndProject", "dsir_bucket_sum",
        "hashed_gram_buckets", "!Join", "!HashAggregate", "!Window",
        "!CartesianProduct", "!Exchange"),
      // stored-weights DSIR score: both kernels in a zero-agg narrow map
      // (the only exchange is the presentation sort) — the store never
      // re-fits
      "curate_dsir_stored" -> Seq("dsir_bucket_sum", "hashed_gram_buckets",
        "!Join", "!HashAggregate", "!Window", "!CartesianProduct"),
      // perplexity bucketing: scoring aggs + the bracket/refine quantile
      // thresholds broadcast back as one row — the value-buffering
      // Percentile aggregate must never appear (same contract as the
      // p90 filter row)
      "text_ppl_buckets" -> Seq("HashAggregate", "!Percentile",
        "!CartesianProduct"),
      // soft-dedup weights: cluster-size count agg (partial-able) + two
      // equi-joins — never a nested loop over the corpus
      "dedup_soft_weights" -> Seq("HashAggregate", "partial_",
        "!SortAggregate", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // score-aware twin: same contract plus the canonical max-score agg —
      // still equi-joins only, no window (the canonical pick is the
      // two-pass all-primitive argmax, not a row_number)
      "dedup_soft_weights_scored" -> Seq("HashAggregate", "partial_",
        "!SortAggregate", "!Window", "!BroadcastNestedLoopJoin",
        "!CartesianProduct"),
      // fertility: per-row BPE count map + ONE id equi-join + narrow band
      // map — no agg, no window, no nested loop
      "text_fertility" -> Seq("Join", "!HashAggregate", "!Window",
        "!BroadcastNestedLoopJoin", "!CartesianProduct", "!SortAggregate"),
      // containment: the substring family's grouped shingle form (capped
      // collect, row-local pair explode) + two equi-joins for the per-doc
      // totals — no nested loop, no sort agg
      "dedup_containment" -> Seq("HashAggregate", "Generate",
        "collect_sorted_capped", "Join", "!CartesianProduct",
        "!SortAggregate", "!BroadcastNestedLoopJoin"),
      // cross-corpus containment: the fused tagged-union agg (capped
      // collect) + row-local cross explode + the two totals equi-joins
      "dedup_containment_ref" -> Seq("HashAggregate", "Generate",
        "collect_sorted_capped", "Join", "!CartesianProduct",
        "!SortAggregate", "!BroadcastNestedLoopJoin"),
      "fql_filter" -> Seq("PushedFilters"),
      // exact all-pairs must run as the blocked equi-join, never a
      // corpus-vs-self broadcast nested loop
      "emb_neardup" -> Seq("!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // LSH candidate generation must stay a banded equi-join (SortMergeJoin
      // or shuffled hash on (band_ix, band_key)) — same contract
      "emb_neardup_lsh" -> Seq("Join", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // store path: the time predicate must prune at the parquet scan of
      // the store's own files, and topic must be a partition filter
      "store_roundtrip" -> Seq("PushedFilters", "PartitionFilters"),
      // fossil import: distributed gob decode over segment files + one
      // per-row wire decode — no join anywhere in the plan
      "fossil_import" -> Seq("!CartesianProduct", "!Join"),
      // WARC ingestion: per-file executor parse + row-local HTTP split —
      // no join, no shuffle beyond the output sort
      "warc_import" -> Seq("!CartesianProduct", "!Join"),
      // salted skew join must stay an equi-join on (key, salt)
      "q_join_skew" -> Seq("Join", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // salted as-of: the window MUST partition on the salt too (that is
      // the whole anti-straggler point) and stay join-free union+window
      "q_asof_skew" -> Seq("Window", "__salt", "!Join",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // nearest as-of: both direction frames off ONE sorted window pass —
      // still join-free union+window
      "q_asof_nearest" -> Seq("Window", "!Join",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      "q_asof_forward" -> Seq("Window", "!Join",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // decontamination: shingle-hash equi-join + hits agg — a cartesian
      // against the eval corpus would be the 100 TB scale-killer
      "curate_decontam" -> Seq("Join", "HashAggregate",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // bloom variant: the codegen'd sketch probe must sit in the plan
      // (the shuffle-volume cut is the operator's whole point) ahead of
      // the same exact-verify join
      "curate_decontam_bloom" -> Seq("might_contain", "Join",
        "HashAggregate", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // mixture resample is a row-local explode — joins would mean the
      // weight dictionary stopped being a literal CASE
      "sample_mixture" -> Seq("Generate", "!Join"),
      // token budget: ONE stratum-keyed window cumsum, no join anywhere
      "curate_token_budget" -> Seq("Window", "!Join", "!CartesianProduct"),
      // A-ES weighted sample: per-partition top-k merged k-bounded on the
      // driver — a rangepartitioned full sort would be the scale bug
      "doc_sample_weighted" -> Seq("TakeOrderedAndProject",
        "!rangepartitioning"),
      // packing/shuffling are one hash partition + per-shard sort (the
      // Window); anything nested-loop-shaped is wrong
      "pack_sequences" -> Seq("Window", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // BPE counts are a narrow mapPartitions — no shuffle, no join may
      // appear; packing on them keeps pack_sequences' one-window contract
      "text_tokens_bpe" -> Seq("!Exchange hashpartitioning", "!Join"),
      // unigram NLL: token→count equi-join + hash aggs; a nested-loop
      // anywhere (beyond the 1-row totals broadcast) is wrong
      "text_unigram_nll" -> Seq("HashAggregate", "!CartesianProduct"),
      "text_unigram_nll_empty" -> Seq("HashAggregate", "!CartesianProduct"),
      "text_unigram_nll_stored" -> Seq("HashAggregate", "!CartesianProduct"),
      // bigram NLL: same contract with one extra vocab equi-join
      "text_bigram_nll" -> Seq("HashAggregate", "!CartesianProduct",
        "!SortAggregate"),
      // char entropy: two partial-agg'd hash aggs, join-free scoring
      "text_entropy" -> Seq("HashAggregate", "partial_",
        "!CartesianProduct", "!SortAggregate"),
      // BM25: row-local tf counts + ONE partial-agg'd stats row + a
      // distributed TakeOrdered top-k — a hash shuffle or cartesian here
      // means the no-index design degraded to an exploded join
      "text_bm25" -> Seq("TakeOrderedAndProject", "HashAggregate",
        "!Exchange hashpartitioning", "!CartesianProduct"),
      // TF-IDF: the inverted-index plan — partial-agg'd tf/df hash aggs,
      // term equi-join, per-doc window; never a nested loop over terms
      "text_tfidf" -> Seq("partial_", "HashAggregate", "Window",
        "!CartesianProduct", "!SortAggregate"),
      // classifier scoring: feature hash aggs partial'd, the dim-bounded
      // weight table must BROADCAST into its equi-join
      "text_classifier" -> Seq("partial_", "HashAggregate", "BroadcastHashJoin",
        "!CartesianProduct", "!SortAggregate"),
      // NB train+score: counting aggs partial'd, the C·dim model grid
      // broadcasts into the scoring join; no sort-agg fallback
      "text_nb_lang" -> Seq("partial_", "HashAggregate", "BroadcastHashJoin",
        "!SortAggregate"),
      "pack_bpe" -> Seq("Window", "!BroadcastNestedLoopJoin", "!CartesianProduct", "!Join"),
      "shard_shuffle" -> Seq("Window", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // PII scrub and run-collapse are per-row narrow maps: no hash
      // shuffle may appear (the battery row's orderBy adds one RANGE
      // exchange — harness, not operator) — a hash shuffle here means the
      // op stopped being embarrassingly parallel
      "curate_pii_scrub" -> Seq("!Exchange hashpartitioning", "!Join"),
      "text_collapse_runs" -> Seq("!Exchange hashpartitioning", "!Join"),
      // domain cap = one hash partition by domain for the rank window
      "curate_domain_cap" -> Seq("Window", "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // paragraph dedup = chunk-hash window + per-doc regroup, both keyed —
      // never a join at all
      "dedup_paragraphs" -> Seq("Window", "HashAggregate", "!Join"),
      // intra-doc repetition: two keyed hash aggs + id-keyed join-back —
      // never a window×window self-join
      "text_self_repetition" -> Seq("HashAggregate", "partial_",
        "!SortAggregate", "!CartesianProduct"),
      // boilerplate: chunk explode + df hash aggs + the tiny high-df set
      // joined back (equi, AQE-broadcastable) — no window, no nested loop
      "curate_boilerplate" -> Seq("Generate", "HashAggregate", "Join",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      "text_html_strip" -> Seq("!Exchange hashpartitioning", "!Join"),
      // chunking is a per-row narrow map: tokenize + row-local transform +
      // posexplode — no hash shuffle, no join (battery orderBy adds RANGE)
      "text_chunks" -> Seq("Generate", "!Exchange hashpartitioning", "!Join"),
      // source overlap: the corpus-sized stage must partial-aggregate
      // (map-side min per source×hash, all-LONG so it stays in
      // HashAggregate) BEFORE its shuffle — without it a giant source
      // serializes through one reducer. The pairwise stage is |sources|²
      // and broadcast by design; the signature relation is scope-cached
      // so the corpus scan runs ONCE (InMemoryRelation on both sides).
      "corpus_source_overlap" -> Seq("partial_", "HashAggregate",
        "InMemoryRelation", "!CartesianProduct", "!SortAggregate"),
      "pack_assemble" -> Seq("Window", "HashAggregate",
        "!BroadcastNestedLoopJoin", "!CartesianProduct"),
      // URL dedup = per-row canonicalization map + one partial-agg'd
      // groupBy — never a join
      "dedup_url" -> Seq("partial_", "HashAggregate", "!Join"),
      // DSv2 connector: time bounds must land in the scan node as pushed
      // filters (row-group pruning), and the topic-equality row must prune
      // to ONE partition directory at planning time (topics=1 in the scan
      // description) — a lost pushdown here fails like a hash mismatch
      "dsv2_between" -> Seq("PushedFilters: [", "GreaterThanOrEqual(time",
        "LessThanOrEqual(time"),
      "dsv2_topic" -> Seq("EqualTo(topic", "topics=1"),
    )
    var failed = 0
    checks.foreach { case (name, wants) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n######## $name")
      println(plan.linesIterator.take(40).mkString("\n"))
      wants.foreach { w =>
        val (frag, want) = if (w.startsWith("!")) (w.tail, false) else (w, true)
        val ok = plan.contains(frag) == want
        if (!ok) failed += 1
        val label = if (want) "contains" else "lacks"
        println(s"[check] $name $label '$frag': $ok")
      }
    }
    // Programmatic check: the slim-candidate-join contract (bandJoins).
    // (emb_neardup_srp's hyperplane broadcast is an intentional BNLJ over
    // k·b rows, so it takes only this narrow-band gate, not a no-BNLJ one)
    val narrowBandJoins = Seq("dedup_minhash", "dedup_ngram", "dedup_against_ref",
      "dedup_against_ref_stored", "emb_neardup_lsh", "emb_neardup_srp")
    narrowBandJoins.foreach { name =>
      val w = bandJoins(graft.SparkEntry.queries(name)(spark, sfDir))
      if (!w.ok) failed += 1
      println(s"[check] $name band joins narrow (no array cols): ${w.ok} " +
        s"(${w.joins} band join(s), ${w.wide} wide)")
    }
    // mm_ann's assembly contract: exploded features reach the IVF as ONE
    // media_id-grouped aggregate with partial/final modes (map-side
    // combinable — the dim-bounded group state never rides a corpus-wide
    // unaggregated exchange) and the only Window is the per-query top-k
    // rank (the assembly itself must never window)
    locally {
      val df = graft.SparkEntry.queries("mm_ann")(spark, sfDir)
      val plan = df.queryExecution.sparkPlan
      val aggs = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.exists(
              _.references.exists(_.name == "media_id")) => a
      }
      val hasPartial = aggs.exists(_.aggregateExpressions.exists(
        _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial))
      val hasFinal = aggs.exists(_.aggregateExpressions.exists(
        _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final))
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      val ok = hasPartial && hasFinal && windows.size == 1
      if (!ok) failed += 1
      println(s"[check] mm_ann assembly is one partial-able media_id agg, " +
        s"one top-k window: $ok (aggs=${aggs.size} partial=$hasPartial " +
        s"final=$hasFinal windows=${windows.size})")
    }
    // dedup_against_ref_stored's contract: the REFERENCE side must be
    // served from the persisted signature store as bare parquet scans —
    // NO shingle/minhash recompute. Two machine checks: (a) the plan scans
    // the store's bands.parquet and shingles.parquet files; (b) the stored
    // variant carries exactly HALF the inline variant's Generate stages
    // (shingle explode + band posexplode exist only on the NEW side).
    locally {
      // count in the ANALYZED logical plan: the operators scope-cache their
      // shingle/band frames, and cache substitution would hide the
      // explodes inside InMemoryRelation subtrees of the physical plan
      // count WINDOW-building Generates only: the r13 pair stage adds a
      // row-local combination explode (generator carries named_struct)
      // that exists once per operator regardless of side
      // exclude the pair-combination explodes, which exist once per
      // operator regardless of side: the legacy HOF form carried
      // named_struct in its tree; the r14 native generators are excluded
      // by type
      def gens(name: String) =
        graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.collect {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate
              if !g.generator.toString.contains("named_struct") &&
                !g.generator.isInstanceOf[graft.functions.SubstringGenerators.ArrayPairs] &&
                !g.generator.isInstanceOf[graft.functions.SubstringGenerators.ArrayCrossPairs] => g
        }.size
      val stored = graft.SparkEntry.queries("dedup_against_ref_stored")(spark, sfDir)
      val scans = stored.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString)
      }.flatten
      val hasStoreScans = scans.exists(_.contains("bands.parquet")) &&
        scans.exists(_.contains("hashed.parquet")) // r16: the verify arrays
      val gInline = gens("dedup_against_ref")
      val gStored = gens("dedup_against_ref_stored")
      val halved = gStored * 2 == gInline && gStored > 0
      val ok = hasStoreScans && halved
      if (!ok) failed += 1
      println(s"[check] dedup_against_ref_stored ref side is scan-only: $ok " +
        s"(store scans: $hasStoreScans, generates inline=$gInline stored=$gStored)")
      // same contract for the substring window store: the stored row must
      // scan windows.parquet and carry half the inline row's Generates
      // (the window explode exists only on the NEW side)
      val sStored = graft.SparkEntry.queries("dedup_substring_ref_stored")(spark, sfDir)
      val sScans = sStored.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString)
      }.flatten
      val sHasStore = sScans.exists(_.contains("windows.parquet"))
      val sgInline = gens("dedup_substring_ref")
      val sgStored = gens("dedup_substring_ref_stored")
      val sHalved = sgStored * 2 == sgInline && sgStored > 0
      val sOk = sHasStore && sHalved
      if (!sOk) failed += 1
      println(s"[check] dedup_substring_ref_stored ref side is scan-only: $sOk " +
        s"(store scan: $sHasStore, generates inline=$sgInline stored=$sgStored)")
    }
    // ann_ivf_int8's probe contract (bucketJoins)
    locally {
      val w = bucketJoins(graft.SparkEntry.queries("ann_ivf_int8")(spark, sfDir))
      if (!w.ok) failed += 1
      println(s"[check] ann_ivf_int8 bucket joins int8-only (no double arrays): ${w.ok} " +
        s"(${w.joins} bucket join(s), ${w.wide} wide)")
    }
    // Centroid-assignment contract (the r12 verdict's top item): every
    // assignment is the row-local codegen argmax — a Generate over
    // nearest_centroids in the ANALYZED plan (cache substitution would
    // hide it in the physical plan), with ZERO BroadcastNestedLoopJoins
    // and zero Windows in the assignment family's plans. The stored
    // twins must pay only the query batch's assignment (one Generate vs
    // the inline twin's two / the build-time corpus pass) and read the
    // corpus side as bare scans of the persisted index.
    def assignGenerates(name: String): Int =
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate
            if g.generator.toString.contains("nearest_centroids") => g
      }.size
    def bnljs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.size
    locally {
      val stored = graft.SparkEntry.queries("ann_ivf_stored")(spark, sfDir)
      val storeScans = stored.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfstore")) => s
      }.size
      val gInline = assignGenerates("ann_ivf")
      val gStored = assignGenerates("ann_ivf_stored")
      // the centroids.parquet scan is COLLECTED at plan build (the matrix
      // broadcast), so only the buckets scan remains in the probe plan
      val ok = gInline == 2 && gStored == 1 && bnljs(stored) == 0 && storeScans >= 1
      if (!ok) failed += 1
      println(s"[check] ann_ivf assignments row-local, stored probe is " +
        s"store-scan + query-assign only: $ok (assign generates " +
        s"inline=$gInline stored=$gStored, stored bnlj=${bnljs(stored)}, " +
        s"store scans=$storeScans)")
    }
    // cluster balance: the corpus assignment must be the row-local
    // Generate, and the only nested loop left is the 1-row totals
    // broadcast (corpus × 1 — not a scale hazard)
    locally {
      val df = graft.SparkEntry.queries("curate_cluster_balance")(spark, sfDir)
      val gens = assignGenerates("curate_cluster_balance")
      // the analyzed plan repeats the scoped-cached assignment subtree
      // once per consumer, so >= 1 is the row-locality proof
      val ok = gens >= 1 && bnljs(df) <= 1
      if (!ok) failed += 1
      println(s"[check] curate_cluster_balance assignment row-local, only " +
        s"the 1-row totals nested loop: $ok (assign generates=$gens, " +
        s"bnlj=${bnljs(df)})")
    }
    // SemDeDup contract: the pair stage is an EQUI-join keyed on the
    // cluster id (bucket-local n^1.5 pair space); the corpus assignment
    // is ONE row-local Generate — no nested loop at all. The STORED twin
    // must pay no assignment (zero Generates) and read the persisted
    // index on both pair sides (≥2 store scans).
    Seq("emb_semdedup", "emb_semdedup_stored").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.sparkPlan
      val cidJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.nonEmpty &&
              j.leftKeys.exists(_.references.exists(_.name == "cid")) => j
      }.size
      val storeScans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfstore")) => s
      }.size
      val gens = assignGenerates(name)
      val ok =
        if (name == "emb_semdedup") cidJoins >= 1 && bnljs(df) == 0 && gens >= 1
        else cidJoins >= 1 && bnljs(df) == 0 && gens == 0 && storeScans >= 2
      if (!ok) failed += 1
      println(s"[check] $name pair stage is cid equi-join with row-local " +
        s"assignment: $ok (cid joins=$cidJoins, bnlj=${bnljs(df)}, " +
        s"assign generates=$gens, store scans=$storeScans)")
    }
    // One lazy plan per FQL query: no battery FQL row may hand its rows
    // through an RDD and back (`createDataFrame(rdd, …)` is a LogicalRDD
    // Catalyst cannot see through, and its input plan runs separately).
    graft.SparkEntry.queries.keys.filter(_.startsWith("fql_")).toSeq.sorted.foreach { name =>
      val rdds = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }.size
      if (rdds > 0) failed += 1
      println(s"[check] $name optimized plan lacks 'LogicalRDD': ${rdds == 0}")
    }
    spark.stop()
    if (failed > 0) { System.err.println(s"$failed plan checks FAILED"); sys.exit(1) }
  }

  /** How many joins a walk found, and how many of them output a column it
    * forbids; the invariant holds when there is a join and none is wide. */
  final case class JoinWidth(joins: Int, wide: Int) {
    def ok: Boolean = joins > 0 && wide == 0
  }

  private def joinWidth(df: DataFrame, key: String => Boolean,
      forbidden: DataType => Boolean): JoinWidth = {
    val joins = df.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(a => key(a.name))) => j
    }
    JoinWidth(joins.size, joins.count(_.output.exists(a => forbidden(a.dataType))))
  }

  /** The slim-candidate-join contract: every join keyed on band columns
    * outputs NO array column (ids + scalar keys only through the candidate
    * shuffle; payload arrays join back by id after pair dedup). Text grep
    * cannot tell the band join's exchange from the join-back's, so this
    * walks the physical plan. */
  def bandJoins(df: DataFrame): JoinWidth =
    joinWidth(df, _.startsWith("band_"), _.isInstanceOf[ArrayType])

  /** The int8 probe contract: joins keyed on the IVF bucket carry only the
    * int8-quantized arrays — a full-precision double array in a bucket
    * join's output means the probe lost its bandwidth win (the exact
    * vectors may appear in the id-keyed rescore join-back). */
  def bucketJoins(df: DataFrame): JoinWidth =
    joinWidth(df, _ == "bucket", {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
}
