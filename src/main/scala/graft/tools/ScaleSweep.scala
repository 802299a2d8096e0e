package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Similarity

/** Scale-insurance sweep: synthesize a ~K× corpus from sf0.1 and time the
  * heavy operators at 1× and K×, verifying (a) wall time grows ≲ linearly
  * for the linear-by-design ops (the exact all-pairs baseline is expected
  * ~K²: documented), and (b) none of the plan-shape invariants flip at the
  * bigger scale (broadcast→BNLJ, narrow band joins→wide).
  *
  * Replica construction keeps the workload shape honest at K×:
  *  - documents: replica k applies a seeded substitution cipher (a
  *    Fisher-Yates permutation of the alphabet keyed by k; k = 0 is the
  *    identity) — a bijection on characters, so every within-replica
  *    char-gram and word-shingle relationship (Jaccard, minhash, simhash,
  *    lengths) is preserved EXACTLY while cross-replica shingle collisions
  *    need every character to map identically (vanishing probability).
  *    The permutation generalizes the earlier Caesar rotation, whose
  *    26-shift wrap capped the sweep at 26×. Two earlier attempts failed
  *    instructively: rotating word order preserves consecutive shingles
  *    (replicas became near-dups, pairs ~90x past 10x), and suffixing
  *    tokens with `~k` injected common char-grams that inflated
  *    within-replica background Jaccard ~350x;
  *  - embeddings: replica k multiplies every vector by one deterministic
  *    ±1 sign pattern — an isometry (all within-replica dot products and
  *    norms are EXACTLY preserved) while cross-replica cosines scramble
  *    toward 0, so near-dup/ANN structure replicates without cross talk.
  *
  * Drive: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleSweep 10"
  *        (optional second arg: comma-separated op subset, e.g.
  *        `ScaleSweep 30 emb_neardup_srp,dedup_minhash` — the 30×+ deep
  *        sweep targets the headline-linear ops without paying the full
  *        battery at that scale)
  * Output: target/scale_sweep.json + human table on stdout; nonzero exit
  * on any plan-invariant failure at scale.
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    require(factor >= 2 && factor <= 200, s"factor must be in [2, 200], got $factor")
    val subset: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale${factor}x"
    val cpus = GraftSession.cpus
    val spark = GraftSession.harness(cpus)

    synthesize(spark, base, out, factor)

    // the heavy set from the LLM-pipeline battery; expected scaling noted.
    // "quadratic" rows are super-linear BY DESIGN, not by operator defect:
    // emb_neardup is the documented exact all-pairs baseline (inherent
    // n²); ann_topk's query set grows with the corpus (n·q cost);
    // ann_ivf*'s centroid count grows as k ≈ √n (production IVF geometry
    // → n^1.5 assignment cost, far inside the n² bound).
    // emb_neardup_srp auto-sizes bitsPerBand ~log₂ n and must stay
    // LINEAR — the production near-dup claim this sweep exists to verify
    // (round 7 measured 2.4× at 10×). The DEPRECATED emb_neardup_lsh is
    // deliberately NOT timed here: its dim-capped 256-key band space
    // saturates ~n²/256 — measured at 165× (round 6) and 214× (round 7,
    // past even the 2·K² allowance) before removal; re-measuring a
    // documented dead end cost half the sweep's wall time. Its battery
    // row stays oracle-checked and its 10×-corpus PLAN invariants are
    // still gated below. The md5-banded dedup family, the streaming
    // replays, and the rest must stay ~linear.
    val ops = Seq(
      ("dedup_minhash", "linear"), ("dedup_ngram", "linear"),
      // broadcast-centroid assignment + k-row joins; centroid count grows
      // as √n so the assignment scan is n·√n — "quadratic" bound class
      ("curate_cluster_balance", "quadratic"),
      // outlier flags: same n·√n assignment pass as cluster_balance
      ("emb_outliers", "quadratic"),
      // stride-1 window explode + hash-keyed self-join: window volume and
      // true-pair volume both scale with the corpus (replica construction
      // is a char bijection, so within-replica window equality is
      // preserved exactly and cross-replica equality needs every char)
      ("dedup_substring", "linear"),
      ("dedup_substring_runs", "linear"), ("curate_drop_spans", "linear"),
      ("curate_drop_spans_scored", "linear"),
      ("dedup_substring_ref", "linear"),
      // hot-window surfacing: one window-keyed partial-agg'd count
      ("dedup_hot_windows", "linear"),
      ("curate_perplexity_filter", "linear"),
      ("dedup_simhash", "linear"), ("dedup_clusters", "linear"),
      ("dedup_clusters_dist", "linear"), ("dedup_canonical", "linear"),
      ("pipeline_dedup", "linear"), ("pipeline_curate", "linear"),
      // clustering + one membership equi-join + row-local bucket map
      ("curate_split", "linear"),
      // DSIR: dim-keyed fit agg + one zero-exchange scoring map + top-k
      ("curate_dsir", "linear"), ("curate_dsir_stored", "linear"),
      // NLL scoring + two distributed quantile thresholds + narrow label
      ("text_ppl_buckets", "linear"),
      // per-row BPE count + one id equi-join + band map
      ("text_fertility", "linear"),
      // clustering + cluster-size agg + two equi-joins
      ("dedup_soft_weights", "linear"),
      // + the canonical max-score agg and one more id equi-join
      ("dedup_soft_weights_scored", "linear"),
      // grouped shingle lists (df-capped) + row-local pair explode:
      // replicas don't share shingles, so pairs replicate exactly
      ("dedup_containment", "linear"),
      ("dedup_containment_ref", "linear"),
      ("emb_neardup_srp", "linear"),
      ("ann_topk", "quadratic"), ("ann_pq", "quadratic"),
      // truncated pre-rank: n·q scan like ann_topk at 1/4 the bytes
      ("ann_truncated", "quadratic"),
      ("ann_ivfpq", "quadratic"), ("ann_ivfpq_stored", "quadratic"),
      ("ann_ivf", "quadratic"), ("ann_ivf_int8", "quadratic"),
      ("ann_ivf_stored", "quadratic"), ("ann_ivf_int8_stored", "quadratic"),
      ("emb_neardup", "quadratic"), ("emb_quantize", "linear"),
      // SemDeDup: √n centroids → n^1.5 assignment + intra-cluster pair
      // space — super-linear by the published design, inside the n² bound
      ("emb_semdedup", "quadratic"), ("emb_semdedup_stored", "quadratic"),
      // fossil-exact global greedy sample: the carry pass is inherently
      // one task, but the sort underneath is a parallel range sort — the
      // single task only streams pre-sorted partitions (round 11)
      ("fql_sample_global", "linear"),
      ("stream_fql", "linear"), ("stream_fql_sample", "linear"),
      ("stream_windowed", "linear"), ("stream_fql_reduce", "linear"),
      ("stream_session", "linear"), ("stream_dedup_ref", "linear"),
      ("stream_dedup_substring", "linear"),
      ("stream_nll_stored", "linear"),
      // the round-7 de-weaked quantile paths: replicas keep each group's
      // VALUE MULTISET identical (only ids shift), so groups grow 10×
      // with unchanged quantiles — the exact per-group-buffering /
      // single-task-sort cliff the distributed rewrites remove. Both
      // must scale ~linearly in corpus size.
      ("q_percentile_exact", "linear"), ("q_ntile", "linear"),
      ("dedup_against_ref", "linear"), ("dedup_against_ref_stored", "linear"),
      ("doc_sample_stratified", "linear"),
      // A-ES top-k: narrow key projection + TakeOrdered, k fixed
      ("doc_sample_weighted", "linear"),
      // curation family: decontam joins against a FIXED-size eval slice
      // (the train side grows), gopher/mixture/pii/collapse are per-row
      // maps, packing/shuffling/cap/paragraph-dedup are one keyed window
      // each — all must stay ~linear in corpus size
      ("curate_decontam", "linear"), ("text_gopher", "linear"),
      // bloom decontam: sketch build is eval-side (fixed slice share),
      // probe+verify linear in train shingles
      ("curate_decontam_bloom", "linear"),
      ("sample_mixture", "linear"), ("pack_sequences", "linear"),
      // token budget: narrow count scan + stratum-keyed window cumsum
      ("curate_token_budget", "linear"),
      // merge-table BPE: per-row narrow mapPartitions + memo; packing on
      // its counts is the same one-window plan as pack_sequences
      ("text_tokens_bpe", "linear"), ("pack_bpe", "linear"),
      // perplexity-filtering shape: two token-keyed hash aggs + one
      // vocab-sized join — vocab grows sublinearly, so ~linear
      ("text_unigram_nll", "linear"), ("text_unigram_nll_empty", "linear"),
      ("text_unigram_nll_stored", "linear"),
      ("text_bigram_nll", "linear"),
      ("text_entropy", "linear"),
      // BM25: two narrow corpus scans + a k-row tail — must stay linear
      ("text_bm25", "linear"),
      // TF-IDF: explode + two hash aggs + vocab join + per-doc window
      ("text_tfidf", "linear"),
      // classifier: explode + hash aggs + dim-bounded broadcast join;
      // the streaming twin is a stateless row-local map per micro-batch
      ("text_classifier", "linear"), ("stream_classifier", "linear"),
      // NB train+score: counting aggs + C·dim broadcast model grid
      ("text_nb_lang", "linear"),
      ("shard_shuffle", "linear"), ("curate_pii_scrub", "linear"),
      ("curate_domain_cap", "linear"), ("text_collapse_runs", "linear"),
      ("dedup_paragraphs", "linear"),
      // boilerplate: chunk explode + per-source df aggs, all keyed
      ("curate_boilerplate", "linear"),
      // intra-doc repetition: window explode + two keyed hash aggs
      ("text_self_repetition", "linear"),
      ("text_html_strip", "linear"), ("corpus_source_overlap", "linear"),
      // chunking: per-row map, output ∝ tokens
      ("text_chunks", "linear"),
      // media resize / features: per-row narrow maps over wrapped bytes
      ("mm_resize", "linear"), ("mm_features", "linear"),
      // media → vectors → IVF composition: √n centroids → n·√n assignment
      // (the ann_ivf geometry), assembly itself linear
      ("mm_ann", "quadratic"),
      ("pack_assemble", "linear"), ("dedup_url", "linear"),
      // streaming curation twins: stateless narrow maps over the replay
      // fixture — cost is fixture I/O + per-row work, both linear (the
      // decontam eval set is collected once, broadcast-sized by nature)
      ("stream_pii_scrub", "linear"), ("stream_decontam", "linear"),
      ("stream_tokens_bpe", "linear"), ("stream_dsir", "linear"),
      // streaming span removal: per-batch positioned windows semi-joined
      // against the frozen store's keys — cost ∝ the replay slice
      ("stream_drop_spans", "linear"),
      // as-of tolerance variant: union + one keyed window, same plan as
      // the unbounded row; events replicas grow each key group linearly
      ("q_asof_tolerance", "linear"),
      // salted as-of over 4 hot keys: the salt must keep scaling linear
      // even though every key is a straggler magnet
      ("q_asof_skew", "linear"), ("q_asof_nearest", "linear"),
      ("q_asof_forward", "linear"))
      .filter { case (n, _) => subset.forall(_.contains(n)) }

    // harness-aware timing (Queries.timeRows, Bench's rule): streaming
    // fixture writes / sig-store builds are charged to Queries.harnessNs
    // and excluded — the sweep compares ENGINE scaling, and a 1× run that
    // pays a fixture write against a K× run that doesn't (or vice versa)
    // would corrupt the ratio. Warm-up on the 1× base, the data then timed.
    // Pass-major median-of-N (default 3): round 10 measured ±10× swings on
    // IDENTICAL code/corpus between two one-shot sweeps 20 minutes apart
    // (pipeline_curate 40.1 → 4.1 s, dedup_minhash 9.0 → 23.5 s) — the
    // sandbox's minute-scale I/O weather dominates single samples, and
    // pass-major samples spread one loud window over many ops.
    // GRAFT_SWEEP_PASSES=1 keeps deep sweeps (100×) affordable when walls
    // are secondary to the plan/row checks.
    val passCount = sys.env.getOrElse("GRAFT_SWEEP_PASSES", "3").toInt
    val samples = graft.Queries.timeRows(spark, ops.map(_._1), base, Seq(base, out), passCount)()
    var failed = 0
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val results = ops.map { case (name, kind) =>
      val (one, big) = (samples.map(_((name, base)).get), samples.map(_((name, out)).get))
      val t1 = med(one.map(_.seconds))
      val tk = med(big.map(_.seconds))
      val (r1, rk) = (one.head.rows, big.head.rows)
      // cross-pass row counts must agree — a free determinism check at
      // BOTH scales (partition-order nondeterminism often shows up as a
      // changing row count in sampled/banded ops before anything else)
      val rowsStable = one.forall(_.rows == r1) && big.forall(_.rows == rk)
      // linear ops: allow 2× headroom over proportional growth (fixed
      // per-query overhead dominates small runs; catches plan flips which
      // cost 10-100×, not 2×). quadratic baseline: bound by K²·2.
      val bound = if (kind == "linear") factor * 2.0 else factor.toDouble * factor * 2.0
      val ratio = tk / math.max(t1, 1e-9)
      val ok = ratio <= bound && rowsStable
      if (!ok) failed += 1
      val flag = if (!rowsStable) "ROWS-UNSTABLE" else if (ok) "ok" else "FAIL"
      println(f"$name%-22s $kind%-9s 1x=$t1%7.2fs ${factor}x=$tk%7.2fs ratio=$ratio%6.2f bound=$bound%6.1f rows $r1%7d -> $rk%8d $flag")
      (name, kind, t1, tk, ratio, r1, rk, ok)
    }

    // plan invariants at the K× scale — same walks as Plans.scala
    failed += planChecks(spark, out)

    // SRP recall at the PRODUCTION default (recall-sized bands, round-8
    // VERDICT #4): auto-sized bits grow ~log2(n) and per-band collision
    // probability decays as (1−θ/π)^bits, so the operator now sizes its
    // band count for DefaultSrpTargetRecall per corpus. This is the
    // sweep's proof: planted ~0.9-cosine pairs at 1× and K×, recall must
    // hold ≥ target at EVERY n (planted pairs sit tighter than the
    // threshold angle, so the model's expectation has margin), with the
    // sized band count and pre-verify candidate volume recorded.
    val recallRows = Seq(base, out).map { dir =>
      val (n, bits, stats, planted, found, recall) = srpRecall(spark, dir)
      val candPerN = if (n == 0) 0.0 else stats.candidatePairs.toDouble / n
      val ok = recall >= Similarity.DefaultSrpTargetRecall
      if (!ok) failed += 1
      println(f"[srp-recall] dir=$dir n=$n bits=$bits bands=${stats.bands} " +
        f"cand=${stats.candidatePairs} cand/n=$candPerN%.2f planted=$planted " +
        f"found=$found recall=$recall%.3f ${if (ok) "ok" else "FAIL"}")
      s"""{"n":$n,"bits":$bits,"bands":${stats.bands},"candidates":${stats.candidatePairs},""" +
        s""""planted":$planted,"found":$found,"recall":${f2(recall)},"ok":$ok}"""
    }

    // minhash recall at the SIZED geometry (r16 verdict item 3 —
    // Dedup.minhashSizingForRecall, the SRP inversion's word-shingle
    // twin): planted prefix-copy near-dups at ~J 0.67 at 1× and K×; the
    // geometry sized for recall 0.9 AT the τ=0.5 verify floor must
    // recover ≥ target at every n (planted sit above the floor, so the
    // banding model has margin — the SRP probe's stance).
    val mhRecallRows = Seq(base, out).map { dir =>
      val (n, hashes, bands, planted, found, recall) = minhashRecall(spark, dir)
      val ok = recall >= 0.9
      if (!ok) failed += 1
      println(f"[minhash-recall] dir=$dir n=$n hashes=$hashes bands=$bands " +
        f"planted=$planted found=$found recall=$recall%.3f ${if (ok) "ok" else "FAIL"}")
      s"""{"n":$n,"hashes":$hashes,"bands":$bands,"planted":$planted,""" +
        s""""found":$found,"recall":${f2(recall)},"ok":$ok}"""
    }

    // planted-hot-key probe (round-12 verdict #2): prepend ONE shared
    // 10-token boilerplate header to EVERY document — uncapped, the
    // header window alone emits n² join rows; with the default guard the
    // header (and every over-cap header+prefix boundary window) never
    // reaches the join, so wall time must scale ~linearly and the hot
    // window must surface via hotWindows. The skipped counterfactual is
    // measured once in DedupSpec (1030²), not re-paid here.
    val hotRows = Seq(base, out).map { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id",
          "concat('boiler plate header tokens one two three four five six ', text) AS text")
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup
        .substringPairs(docs, "doc_id", "text", k = 10).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val surfaced = graft.operators.Dedup
        .hotWindows(docs, "doc_id", "text", k = 10).count()
      spark.catalog.clearCache()
      (dt, pairs, surfaced)
    }
    locally {
      val ((t1, p1, s1), (tk, pk, sk)) = (hotRows(0), hotRows(1))
      val ratio = tk / math.max(t1, 1e-9)
      val ok = ratio <= factor * 2.0 && s1 >= 1 && sk >= 1
      if (!ok) failed += 1
      println(f"[hot-window] planted boilerplate: 1x=$t1%.2fs ${factor}x=$tk%.2fs " +
        f"ratio=$ratio%.2f pairs $p1 -> $pk surfaced $s1 -> $sk " +
        (if (ok) "ok" else "FAIL"))
    }

    // corpus-wide hot-window probe (round-13 verdict #1): EVERY document
    // is the SAME 50-token boilerplate plus a doc-unique tail token, so
    // each of the 41 boilerplate k-windows has df = THE WHOLE CORPUS (the
    // planted-header probe above shares ONE header window; this one makes
    // every content window hot). The assert targets the MEMORY MECHANISM,
    // not wall time alone: (a) the executed pairs plan must group through
    // collect_sorted_capped — the size-capped aggregate whose ≤ cap+1
    // buffer bound is unit-proven (CappedCollectSpec) — so no aggregation
    // buffer ever holds a df-sized id list (a bare collect_list + post
    // size-filter buffers the FULL corpus id list per hot window before
    // dropping it: the multi-GB executor OOM at crawl scale); (b) the
    // STORE BUILD — formerly grouping UNGATED (cap = 0) to split clean/
    // hot from persisted lists — must complete with every boilerplate
    // window surfaced in hot.parquet and nothing over-cap in
    // windows.parquet; (c) pairs = 0 (tails are unique) and time ~linear.
    val hotCorpusRows = Seq(("1x", base), (s"${factor}x", out)).map { case (label, dir) =>
      val boiler = (1 to 50).map(i => s"bp$i").mkString(" ")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id",
          s"concat('$boiler tail', cast(doc_id as string)) AS text")
      val pairsDf = graft.operators.Dedup
        .substringPairs(docs, "doc_id", "text", k = 10)
      val planOk = pairsDf.queryExecution.executedPlan.toString
        .contains("collect_sorted_capped")
      val t0 = System.nanoTime()
      val pairs = pairsDf.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val surfaced = graft.operators.Dedup
        .hotWindows(docs, "doc_id", "text", k = 10).count()
      val sroot = s"/tmp/graft_sweep_substore_${factor}x_$label"
      val sdir = java.nio.file.Paths.get(sroot)
      if (java.nio.file.Files.exists(sdir)) {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(sdir)) { s =>
          s.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.delete)
        }
      }
      graft.operators.SubstringWindowStore.build(
        docs, "doc_id", "text", sroot, "hotcorpus")
      val storedMax = graft.operators.SubstringWindowStore
        .windows(spark, sroot, "hotcorpus")
        .agg(max(size(col("__ids")))).head().getInt(0)
      val storedHot = graft.operators.SubstringWindowStore
        .hotWindows(spark, sroot, "hotcorpus").count()
      spark.catalog.clearCache()
      (dt, pairs, surfaced, planOk, storedMax, storedHot)
    }
    locally {
      val cap = graft.operators.Dedup.DefaultMaxDocsPerWindow
      val ((t1, p1, s1, g1, m1, h1), (tk, pk, sk, gk, mk, hk)) =
        (hotCorpusRows(0), hotCorpusRows(1))
      val ratio = tk / math.max(t1, 1e-9)
      val ok = g1 && gk && p1 == 0 && pk == 0 && s1 == 41 && sk == 41 &&
        m1 <= cap && mk <= cap && h1 == 41 && hk == 41 && ratio <= factor * 2.0
      if (!ok) failed += 1
      println(f"[hot-corpus] df=corpus boilerplate: 1x=$t1%.2fs ${factor}x=$tk%.2fs " +
        f"ratio=$ratio%.2f capped-agg-in-plan $g1/$gk pairs $p1/$pk " +
        f"surfaced $s1/$sk store max-group $m1/$mk store hot $h1/$hk " +
        (if (ok) "ok" else "FAIL"))
    }

    // import-path scaling probe (round-12 verdict #7): fossil segment
    // decode and WARC record parse are distributed PER FILE — the claim
    // gets measured backing by generating fixtures with K× the
    // segment/file counts and timing the distributed read alone (fixture
    // generation is driver-side and excluded, the harness-ledger rule).
    val importRows = Seq(1, factor).map { k =>
      val fdir = s"/tmp/graft_sweep_fossil_${factor}x_$k"
      val wdir = s"/tmp/graft_sweep_warc_${factor}x_$k"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(fdir, "metadata"))) {
        val segs = (0 until 24 * k).map { s =>
          graft.sources.FossilDatabase.Segment(
            1700000000000000000L + s.toLong * 60000000000L,
            Vector.tabulate(400)(i => graft.sources.FossilDatabase.Datum(
              i.toLong * 1000000L, 0, s"v$s-$i".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))))
        }
        graft.sources.FossilWriter.writeV2(fdir, Seq("/p"), Seq("string"),
          segs, sTimeNs = 0L, segmentSize = 400)
      }
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(wdir))) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wdir))
        (0 until 8 * k).foreach { fix =>
          val recs = (0 until 200).map { i =>
            val body = ("HTTP/1.1 200 OK\r\n\r\npayload " + ("x" * 150) +
              s" $fix-$i").getBytes(java.nio.charset.StandardCharsets.UTF_8)
            graft.sources.Warc.Record(Map(
              "WARC-Type" -> "response",
              "WARC-Target-URI" -> s"http://x.example/$fix/$i",
              "WARC-Date" -> "2024-06-01T00:00:00Z",
              "WARC-Record-ID" -> s"<urn:sweep:$fix-$i>"), body)
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(wdir, f"part$fix%05d.warc.gz"),
            graft.sources.Warc.writeRecords(recs, gzip = true))
        }
      }
      val t0 = System.nanoTime()
      val fr = graft.sources.FossilDatabase.rawEntries(spark, fdir).count()
      val tF = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val wr = graft.sources.Warc.read(spark, wdir).count()
      val tW = (System.nanoTime() - t1) / 1e9
      spark.catalog.clearCache()
      (k, tF, fr, tW, wr)
    }
    locally {
      val ((_, f1, r1, w1, v1), (_, fk, rk, wk, vk)) = (importRows(0), importRows(1))
      val fRatio = fk / math.max(f1, 1e-9)
      val wRatio = wk / math.max(w1, 1e-9)
      val ok = fRatio <= factor * 2.0 && wRatio <= factor * 2.0 &&
        rk == r1 * factor && vk == v1 * factor
      if (!ok) failed += 1
      println(f"[import] fossil 1x=$f1%.2fs ${factor}x=$fk%.2fs ratio=$fRatio%.2f " +
        f"rows $r1 -> $rk; warc 1x=$w1%.2fs ${factor}x=$wk%.2fs " +
        f"ratio=$wRatio%.2f rows $v1 -> $vk ${if (ok) "ok" else "FAIL"}")
    }

    def f(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", d)
    val json = results.map { case (n, kind, t1, tk, ratio, r1, rk, ok) =>
      s""""$n":{"kind":"$kind","t1x":${f(t1)},"t${factor}x":${f(tk)},"ratio":${f(ratio)},"rows1x":$r1,"rows${factor}x":$rk,"ok":$ok}"""
    }.mkString("{", ",", "}")
    val hotJson = {
      val ((t1, p1, s1), (tk, pk, sk)) = (hotRows(0), hotRows(1))
      s"""{"t1x":${f(t1)},"t${factor}x":${f(tk)},"ratio":${f(tk / math.max(t1, 1e-9))},""" +
        s""""pairs1x":$p1,"pairs${factor}x":$pk,"surfaced1x":$s1,"surfaced${factor}x":$sk}"""
    }
    val hotCorpusJson = {
      val ((t1, p1, s1, g1, m1, h1), (tk, pk, sk, gk, mk, hk)) =
        (hotCorpusRows(0), hotCorpusRows(1))
      s"""{"t1x":${f(t1)},"t${factor}x":${f(tk)},"ratio":${f(tk / math.max(t1, 1e-9))},""" +
        s""""capped_agg_in_plan":${g1 && gk},"pairs1x":$p1,"pairs${factor}x":$pk,""" +
        s""""surfaced1x":$s1,"surfaced${factor}x":$sk,""" +
        s""""store_max_group1x":$m1,"store_max_group${factor}x":$mk,""" +
        s""""store_hot1x":$h1,"store_hot${factor}x":$hk}"""
    }
    val importJson = {
      val ((_, f1, r1, w1, v1), (_, fk, rk, wk, vk)) = (importRows(0), importRows(1))
      s"""{"fossil_t1x":${f(f1)},"fossil_t${factor}x":${f(fk)},""" +
        s""""fossil_rows1x":$r1,"fossil_rows${factor}x":$rk,""" +
        s""""warc_t1x":${f(w1)},"warc_t${factor}x":${f(wk)},""" +
        s""""warc_rows1x":$v1,"warc_rows${factor}x":$vk}"""
    }
    val p = java.nio.file.Paths.get("target", "scale_sweep.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      s"""{"factor":$factor,"cpus":$cpus,"results":$json,"srp_recall":[${recallRows.mkString(",")}],"minhash_recall":[${mhRecallRows.mkString(",")}],"hot_window":$hotJson,"hot_corpus":$hotCorpusJson,"import":$importJson}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (failed > 0) { System.err.println(s"$failed scale checks FAILED"); sys.exit(1) }
  }

  private def f2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", d)

  /** SRP recall probe: plant a companion at ~0.9 cosine for every
    * ~n/200th corpus vector (companion = 0.9·v + 0.436·shift(v), where
    * shift rotates component indices — deterministic, no RNG; the exact
    * cosine of each planted pair is computed as ground truth, so the
    * construction's small spread around 0.9 cannot bias the measurement),
    * run the production SRP path at 850000 e6, and report the fraction of
    * ground-truth pairs (exact cosine ≥ threshold) the banding recovered.
    * Returns (corpus n, auto-sized bits, planted ground truth, found,
    * recall). */
  private def srpRecall(spark: SparkSession, dir: String)
      : (Long, Int, Similarity.SrpStats, Long, Long, Double) = {
    
    val minE6 = 850000L
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val maxId = e.agg(max("vec_id")).first().getLong(0) + 1
    val n = e.count()
    val a = 0.9
    val b = math.sqrt(1 - a * a)
    val step = math.max(n / 200L, 1L)
    val samples = e.filter(col("vec_id") % step === 0)
    val planted = samples.select((col("vec_id") + maxId).as("vec_id"),
      expr(s"""transform(embedding, (x, i) -> CAST($a * x +
          $b * element_at(embedding, CAST(pmod(i + 7, size(embedding)) AS INT) + 1) AS FLOAT))""")
        .as("embedding"))
    val corpus = e.unionByName(planted)
    val total = n + samples.count()
    val bits = math.max(8, math.ceil(math.log(total.toDouble) / math.log(2)).toInt)
    val gt = samples.select(col("vec_id"), col("embedding").as("v"))
      .join(planted.select((col("vec_id") - maxId).as("vec_id"), col("embedding").as("w")),
        Seq("vec_id"))
      .filter(Similarity.cosineE6(col("v").cast("array<double>"),
        col("w").cast("array<double>")) >= minE6)
      .count()
    var stats: Similarity.SrpStats = null
    val found = Similarity.nearDupPairsSrp(corpus, "vec_id", "embedding",
        minCosineE6 = minE6, instrument = s => stats = s)
      .filter(col("b") === col("a") + maxId)
      .count()
    spark.catalog.clearCache()
    (total, bits, stats, gt, found, if (gt == 0) 0.0 else found.toDouble / gt)
  }

  /** Minhash recall probe — [[srpRecall]]'s word-shingle twin: for every
    * ~n/200th document plant a companion holding a verbatim ~85% token
    * prefix plus unique noise (3-word-shingle Jaccard ≈ 0.67 — above the
    * τ=0.5 floor, deterministic, no RNG), size the banding for recall 0.9
    * AT τ via [[graft.operators.Dedup.minhashSizingForRecall]], and
    * report the fraction of exact-ground-truth pairs (the public string
    * kernel, j_e4 ≥ 5000) the sized geometry recovered. Returns
    * (corpus n incl. planted, numHashes, numBands, planted, found,
    * recall). */
  private def minhashRecall(spark: SparkSession, dir: String)
      : (Long, Int, Int, Long, Long, Double) = {
    import graft.operators.{Dedup, TextOps}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).first().getLong(0) + 1
    val n = docs.count()
    val step = math.max(n / 200L, 1L)
    val samples = docs.filter(col("doc_id") % step === 0)
      // shingle sets need enough tokens that the kept prefix dominates
      .filter(size(TextOps.tokens(col("text"))) >= 20)
    val companions = samples.select((col("doc_id") + maxId).as("doc_id"),
      concat_ws(" ",
        concat_ws(" ", slice(TextOps.tokens(col("text")), lit(1),
          (size(TextOps.tokens(col("text"))) * 17 / 20))),
        concat(lit("zqnoise"), col("doc_id"), lit("a zqnoise"), col("doc_id"),
          lit("b zqnoise"), col("doc_id"), lit("c"))).as("text"))
    val corpus = docs.unionByName(companions)
    val total = n + samples.count()
    // exact ground truth via the public string kernel — the construction's
    // spread around J≈0.67 cannot bias the measurement
    val gt = samples.select(col("doc_id"), col("text").as("ta"))
      .join(companions.select((col("doc_id") - maxId).as("doc_id"),
        col("text").as("tb")), Seq("doc_id"))
      .filter(graft.functions.JaccardE4(
        TextOps.wordShingles(TextOps.tokens(col("ta")), 3),
        TextOps.wordShingles(TextOps.tokens(col("tb")), 3)) >= 5000)
      .count()
    val (hashes, bands) = Dedup.minhashSizingForRecall(5000, 0.9, 3)
    val found = Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleWords = 3, numHashes = hashes, numBands = bands,
        minJaccardE4 = 5000)
      .filter(col("b") === col("a") + maxId)
      .count()
    spark.catalog.clearCache()
    (total, hashes, bands, gt, found, if (gt == 0) 0.0 else found.toDouble / gt)
  }

  private[tools] def synthesize(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    val outDir = new java.io.File(out)
    if (new java.io.File(outDir, "_done").exists()) return
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxDoc = docs.agg(max("doc_id")).first().getLong(0) + 1
    val maxVec = emb.agg(max("vec_id")).first().getLong(0) + 1
    val reps = spark.range(0, factor).select(col("id").cast("int").as("k"))

    val lower = "abcdefghijklmnopqrstuvwxyz"
    // seeded Fisher-Yates permutation per replica: a full substitution
    // cipher (26! keys, no 26-shift wrap) — k = 0 stays the identity so
    // the base corpus is preserved verbatim; duplicate permutations
    // across replicas are re-rolled (two identical ciphers would plant
    // exact cross-replica duplicates and corrupt every "linear" ratio)
    val used = scala.collection.mutable.Set.empty[String]
    val shifts = (0 until factor).map { k =>
      var seed = k
      var perm = if (k == 0) lower else {
        val r = new scala.util.Random(seed)
        r.shuffle(lower.toList).mkString
      }
      while (used.contains(perm)) {
        seed += 1000003
        perm = new scala.util.Random(seed).shuffle(lower.toList).mkString
      }
      used += perm
      (k, lower + lower.toUpperCase, perm + perm.toUpperCase)
    }
    val shiftCase = shifts.map { case (k, from, to) =>
      s"WHEN k = $k THEN translate(text, '$from', '$to')"
    }.mkString("CASE ", " ", " ELSE text END")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("k") * maxDoc).as("doc_id"),
        expr(shiftCase).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ±1 per-dimension sign pattern keyed on k: an exact isometry within
    // each replica (s_i² = 1 cancels in every dot product), decorrelating
    // across replicas; k = 0 is the identity (base corpus preserved)
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("k") * maxVec).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
                  IF(((CAST(k AS BIGINT) * 2654435761) >> pmod(i, 31)) % 2 = 1,
                     -x, x))""").as("embedding"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: replica k shifts time by k·31 days — a K× LONGER stream at
    // the SAME per-hour density (what a production stream actually does at
    // K×), so the streaming replays' watermark/state behavior is preserved
    // per replica while windows, kept samples, and output rows all scale
    // ~K; ids offset so replicas never collide. `ts` has shipped as both
    // TIMESTAMP(NANOS) (read as raw int64 nanos — shift in exact integer
    // nanos) and TIMESTAMP_MICROS (shift in exact integer micros) across
    // driver fixture generations; either written form reads back
    // identically through Tables.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val ev = spark.read.parquet(s"$base/events.parquet")
    val shiftedTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        (col("ts") + col("k").cast("long") * lit(31L * 86400L * 1000000000L)).as("ts")
      case _ =>
        timestamp_micros(
          unix_micros(col("ts").cast("timestamp")) +
            col("k").cast("long") * lit(31L * 86400L * 1000000L)).as("ts")
    }
    val maxEvent = ev.agg(max("event_id")).first().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).first().getLong(0) + 1
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("k") * maxEvent).as("event_id"),
        shiftedTs,
        (col("user_id") + col("k") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // lineitem: replica k offsets l_orderkey (stays < 2^30, preserving
    // q_ntile's packed-key bounds) and keeps every value column intact —
    // each l_returnflag group's value multiset replicates exactly, so
    // group sizes grow K× while quantiles/bucket boundaries stay fixed:
    // the per-group scale stress the distributed quantile paths exist for
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val maxOk = li.agg(max("l_orderkey")).first().getLong(0) + 1
    li.crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * maxOk)
      .drop("k")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    new java.io.FileOutputStream(new java.io.File(outDir, "_done")).close()
  }

  /** The Plans.scala invariants that matter for the heavy set, re-checked
    * on the scaled corpus (plan shape can flip with data-size stats). */
  private def planChecks(spark: SparkSession, dir: String): Int = {
    var failed = 0
    def plan(name: String) = graft.SparkEntry.queries(name)(spark, dir).queryExecution
    Seq("emb_neardup", "emb_neardup_lsh").foreach { name =>
      val s = plan(name).explainString(org.apache.spark.sql.execution.FormattedMode)
      val ok = !s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct")
      if (!ok) failed += 1
      println(s"[scale-plan] $name no-BNLJ/no-cartesian: $ok")
    }
    // emb_neardup_srp joins the tiny broadcast hyperplane frame with a
    // literal-true condition (an intentional BroadcastNestedLoopJoin over
    // k·b rows), so it takes only the narrow-band-join gate, not the
    // no-BNLJ one
    Seq("dedup_minhash", "dedup_ngram", "dedup_against_ref",
        "emb_neardup_lsh", "emb_neardup_srp").foreach { name =>
      val joins = plan(name).sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.exists(_.references.exists(_.name.startsWith("band_"))) => j
      }
      val wide = joins.filter(_.output.exists(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
      val ok = joins.nonEmpty && wide.isEmpty
      if (!ok) failed += 1
      println(s"[scale-plan] $name band joins narrow: $ok (${joins.size} joins)")
    }
    locally {
      val joins = plan("ann_ivf_int8").sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "bucket")) => j
      }
      val wide = joins.filter(_.output.exists(a => a.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => true
        case _ => false
      }))
      val ok = joins.nonEmpty && wide.isEmpty
      if (!ok) failed += 1
      println(s"[scale-plan] ann_ivf_int8 bucket joins int8-only: $ok (${joins.size} joins)")
    }
    failed
  }
}
