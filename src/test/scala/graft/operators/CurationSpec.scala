package graft.operators

import graft.Queries
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts of the curation family (oracle parity is Verify's
  * job; these pin the semantics on hand-built corpora where the right
  * answer is computable by eye).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val evalDocs = Seq(
    (100L, "alpha beta gamma delta epsilon")
  ).toDF("doc_id", "text")

  private val trainDocs = Seq(
    (1L, "alpha beta gamma delta zeta"),      // shares 1 4-shingle (alpha..delta)
    (2L, "beta gamma delta epsilon eta"),     // shares 1 (beta..epsilon)
    (3L, "totally different words entirely here"), // clean
    (4L, "alpha beta gamma delta epsilon")    // identical → shares both
  ).toDF("doc_id", "text")

  test("contaminationHits counts distinct shared shingles per train doc") {
    val hits = Curation.contaminationHits(trainDocs, evalDocs, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 1L, 2L -> 1L, 4L -> 2L))
  }

  test("contaminationHitsBloom matches the exact path bit-for-bit") {
    val exact = Curation.contaminationHits(trainDocs, evalDocs, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    val bloom = Curation.contaminationHitsBloom(trainDocs, evalDocs, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact)
  }

  test("bloom false positives die at the verify join, even at fpp ~ 1") {
    // fpp 0.99 → optimalNumBits floors at 64 bits for 2 eval shingles:
    // nearly every train shingle is a sketch positive, so the result is
    // exact ONLY if the verify join does its job
    val bloom = Curation.contaminationHitsBloom(
      trainDocs, evalDocs, "doc_id", "text", 4, fpp = 0.99)
      .as[(Long, Long)].collect().toMap
    assert(bloom == Map(1L -> 1L, 2L -> 1L, 4L -> 2L))
  }

  test("bloom path: empty eval set flags nothing") {
    val out = Curation.contaminationHitsBloom(
      trainDocs, evalDocs.limit(0), "doc_id", "text", 4)
    assert(out.count() == 0)
  }

  test("decontaminate drops exactly the flagged docs, keeps full rows") {
    val out = Curation.decontaminate(trainDocs, evalDocs, "doc_id", "text", 4)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("an empty eval set decontaminates nothing") {
    val out = Curation.decontaminate(
      trainDocs, evalDocs.limit(0), "doc_id", "text", 4)
    assert(out.count() == 4)
  }

  test("dropBoilerplate: per-source df cut, strict boundary, no keep-first") {
    // source A: 4 docs, header "hdr a" in all 4 (df 100%), "mid x" in
    // exactly 2 of 4 (df 50% — NOT > 50%, must survive at maxDfE4=5000)
    // source B: 1 doc sharing A's header chunk — below minDocs=2, so B is
    // exempt from the cut entirely (a 1-doc source has df 100% for every
    // chunk; A's verdict on the shared chunk must not leak across)
    val docs = Seq(
      (1L, "A", "hdr a mid x one two"),
      (2L, "A", "hdr a mid x three four"),
      (3L, "A", "hdr a five six"),
      (4L, "A", "hdr a seven eight"),
      (5L, "B", "hdr a nine ten")
    ).toDF("doc_id", "source", "text")
    val out = Curation.dropBoilerplate(docs, "doc_id", "text", "source",
      chunkTokens = 2, maxDfE4 = 5000)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "mid x one two"),   // header dead, 50% chunk alive
      (2L, 3L, 2L, "mid x three four"),
      (3L, 2L, 1L, "five six"),
      (4L, 2L, 1L, "seven eight"),
      (5L, 2L, 2L, "hdr a nine ten"))) // B exempt: lone doc keeps all
  }

  test("dropBoilerplate: empty docs retained at (0, 0, '')") {
    val docs = Seq(
      (1L, "A", "x y x y"), (2L, "A", "x y"), (3L, "A", "   ")
    ).toDF("doc_id", "source", "text")
    val out = Curation.dropBoilerplate(docs, "doc_id", "text", "source",
      chunkTokens = 2, maxDfE4 = 5000)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    // "x y" df = 2/3 ≈ 66.7% > 50% → dies everywhere (doc 1 has it twice:
    // BOTH occurrences die — no keep-first)
    assert(out.toSeq == Seq(
      (1L, 2L, 0L, ""), (2L, 1L, 0L, ""), (3L, 0L, 0L, "")))
  }

  test("tokenBudget: greedy md5-priority prefix, exact cut, zero budgets") {
    val docs = (0L until 60L)
      .map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh",
        ("w " * (i % 7 + 1).toInt).trim)) // 1..7 tokens each
      .toDF("doc_id", "lang", "text")
    val out = Curation.tokenBudget(docs, "doc_id", "text", "lang",
      Map("en" -> 20L, "zh" -> 0L), defaultBudget = 15L)
    val rows = out.as[(Long, String, Long, Long)].collect()
    // budgets hold exactly, zh is budgeted out entirely
    val byStrat = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(byStrat.getOrElse("en", 0L) <= 20L)
    assert(byStrat.getOrElse("de", 0L) <= 15L)
    assert(!byStrat.contains("zh"))
    assert(rows.nonEmpty)
    // greedy maximality: the FIRST doc cut in priority order overflows
    val pri = docs.select(col("doc_id"), col("lang"),
      size(TextOps.tokens(col("text"))).cast("long").as("n"),
      md5(concat_ws("|", lit("tb"), col("doc_id").cast("string"))).as("p"))
      .as[(Long, String, Long, String)].collect()
    val keptIds = rows.map(_._1).toSet
    for ((strat, budget) <- Seq(("en", 20L), ("de", 15L))) {
      val ordered = pri.filter(_._2 == strat).sortBy(r => (r._4, r._1))
      val firstCut = ordered.find(r => !keptIds.contains(r._1))
      val keptSum = byStrat.getOrElse(strat, 0L)
      firstCut.foreach(r => assert(keptSum + r._3 > budget,
        s"$strat: cut doc ${r._1} (${r._3} toks) would have fit under $budget"))
    }
    // pure function of (corpus, budgets, salt)
    val again = Curation.tokenBudget(docs, "doc_id", "text", "lang",
      Map("en" -> 20L, "zh" -> 0L), defaultBudget = 15L)
      .as[(Long, String, Long, Long)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("repetitionStats: exact ratios on a constructed doc") {
    // 6 tokens: "x x x x y z" → distinct 3, dup_word = 3/6 = 5000e4
    // bigrams: (x x)×3, (x y), (y z) → top = 3/5 = 6000e4
    // mean word len = 1.00 → 100e2
    val d = Seq((1L, "x x x x y z")).toDF("doc_id", "text")
    val r = Curation.repetitionStats(d, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("dup_word_e4") == 5000L)
    assert(r.getAs[Long]("top_bigram_e4") == 6000L)
    assert(r.getAs[Long]("mean_word_len_e2") == 100L)
    assert(!r.getAs[Boolean]("keep")) // dup 5000 > 2000 default
  }

  test("repetitionStats: unique-token doc keeps, degenerate docs are 0s") {
    // doc 1 has 20 unique tokens → dup 0, top bigram 1/19 ≈ 526 ≤ 1800
    // (a 5-token doc would FAIL the bigram rule: 1/4 = 2500 — the rule is
    // calibrated for real documents, short snippets read as repetitive)
    val d = Seq(
      (1L, ('a' to 't').map(_.toString).mkString(" ")),
      (2L, "solo"), (3L, " "))
      .toDF("doc_id", "text")
    val rows = Curation.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("keep"))
    assert(rows(1L).getAs[Long]("dup_word_e4") == 0L)
    // single token: no bigrams → top_bigram 0; empty: all zeros
    assert(rows(2L).getAs[Long]("top_bigram_e4") == 0L)
    assert(rows(3L).getAs[Long]("n_tokens") == 0L)
    assert(rows(3L).getAs[Long]("mean_word_len_e2") == 0L)
  }

  test("mixture: integer part replicates, epoch indexes copies, zero drops") {
    val d = Seq((1L, "up"), (2L, "down"), (3L, "flat")).toDF("doc_id", "dom")
    val out = Curation.mixture(d, "doc_id", "dom",
      Map("up" -> 30000, "down" -> 0), defaultE4 = 10000)
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSeq.sorted
    // up → exactly 3 copies (no fractional part), down → 0, flat → 1
    assert(out == Seq((1L, 0L), (1L, 1L), (1L, 2L), (3L, 0L)))
  }

  test("mixture fractional part is the stratified-sampling predicate") {
    val d = (0L until 1000L).map(i => (i, "d")).toDF("doc_id", "dom")
    val out = Curation.mixture(d, "doc_id", "dom", Map.empty, defaultE4 = 12500)
    // every doc ≥1 copy; the +1 copy set == Sampling.stratified at 2500e4
    val extra = out.filter($"epoch" === 1L).select("doc_id")
    val expected = Sampling.stratified(d, "doc_id", "dom", Map.empty, 2500)
      .select("doc_id")
    assert(extra.except(expected).count() == 0 && expected.except(extra).count() == 0)
    assert(out.filter($"epoch" > 1L).count() == 0)
  }

  test("clusterBalance: uniform target — majority cluster downsamples, " +
      "tail cluster upsamples, weights exact-integer") {
    // two well-separated directions in 2-d; ids 1-6 point +x (majority),
    // ids 7-8 point +y (tail). Centroids = one from each direction.
    val vecs = (Seq(
      (1L, Seq(1.0, 0.1)), (2L, Seq(1.0, -0.1)), (3L, Seq(0.9, 0.0)),
      (4L, Seq(1.0, 0.05)), (5L, Seq(0.95, 0.02)), (6L, Seq(1.0, 0.0)),
      (7L, Seq(0.0, 1.0)), (8L, Seq(0.1, 1.0)))).toDF("vec_id", "embedding")
    val cent = Seq((6L, Seq(1.0, 0.0)), (7L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Curation.clusterBalance(vecs, "vec_id", "embedding", cent, "vec_id")
      .as[(Long, Long, Long, Long)].collect()
    val byId = out.groupBy(_._1)
    // n=8, k=2 → target 4/cluster. +x cluster (6 docs): w = 80000/60000
    // → 6666 e4 (int div); +y cluster (2 docs): w = 80000/20000 → 20000 e4
    assert(out.filter(_._2 == 6L).forall(_._3 == 6666L))
    assert(out.filter(_._2 == 7L).forall(_._3 == 20000L))
    // tail docs get exactly 2 copies each (no fractional part)
    assert(byId(7L).map(_._4).sorted.toSeq == Seq(0L, 1L))
    assert(byId(8L).map(_._4).sorted.toSeq == Seq(0L, 1L))
    // majority docs get 0 or 1 copies via the md5-bucket predicate —
    // identical to the mixture predicate at rate 6666
    val kept = out.filter(_._2 == 6L).map(_._1).toSet
    val expected = (1L to 6L).filter { id =>
      vecs.sparkSession.range(1).select(
        Sampling.bucketE4(lit(id)).as("b")).head().getLong(0) < 6666L
    }.toSet
    assert(kept == expected)
    // cap: maxCopiesE4 clamps the tail weight
    val capped = Curation.clusterBalance(vecs, "vec_id", "embedding",
      cent, "vec_id", maxCopiesE4 = 10000L)
      .as[(Long, Long, Long, Long)].collect()
    assert(capped.filter(_._2 == 7L).forall(_._3 == 10000L))
  }

  test("packSequences: budget boundaries at doc granularity") {
    // one shard (numShards=1): docs in id order, 10 tokens each, budget 25
    val d = (1L to 5L).map(i => (i, Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Curation.packSequences(d, "doc_id", "text", 25, 1)
      .orderBy("doc_id")
      .select("doc_id", "seq_ix", "tok_offset", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(
      (1L, 0L, 0L, 10L), (2L, 0L, 10L, 10L), (3L, 0L, 20L, 10L),
      (4L, 1L, 5L, 10L), (5L, 1L, 15L, 10L)))
  }

  test("packSequences is deterministic across repartitionings") {
    val d = (0L until 200L).map(i => (i, s"tok a b c $i")).toDF("doc_id", "text")
    val a = Curation.packSequences(d.repartition(7), "doc_id", "text", 64, 4)
    val b = Curation.packSequences(d.coalesce(1), "doc_id", "text", 64, 4)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("piiScrub: redacts emails/IPs/phones in order, counts per category") {
    val d = Seq(
      (1L, "mail a@b.co and c.d+x@e.org ip 10.0.0.1 call +1 555 0100 done"),
      (2L, "nothing sensitive here"),
      (3L, "ip-only 192.168.1.255 twice 8.8.8.8")
    ).toDF("doc_id", "text")
    val out = Curation.piiScrub(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 2L, 1L, 1L,
      "mail <EMAIL> and <EMAIL> ip <IP> call <PHONE> done")))
    assert(out(1) == ((2L, 0L, 0L, 0L, "nothing sensitive here")))
    assert(out(2) == ((3L, 0L, 2L, 0L, "ip-only <IP> twice <IP>")))
  }

  test("piiScrub: an email's dotted host never double-counts as an IP") {
    // the host LOOKS like it ends in digits+dots; email redaction runs
    // first, so the IP pass sees <EMAIL>, not the host
    val d = Seq((1L, "u@1.2.3.4x.com")).toDF("doc_id", "text")
    val r = Curation.piiScrub(d, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_email") == 1L && r.getAs[Long]("n_ip") == 0L)
  }

  test("capPerDomain: keeps at most cap per host, ranks dense from 1") {
    val d = (0L until 100L)
      .map(i => (i, s"https://host${i % 4}.ex.com/page/$i"))
      .toDF("doc_id", "url")
    val out = Curation.capPerDomain(d, "doc_id", "url", cap = 7).cache()
    val per = out.groupBy("domain")
      .agg(count(lit(1)).as("n"), min("rank").as("mn"), max("rank").as("mx"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(per.size == 4 && per.forall { case (_, n, mn, mx) =>
      n == 7 && mn == 1 && mx == 7 })
    // deterministic: same cap twice → identical survivor set
    val again = Curation.capPerDomain(d, "doc_id", "url", cap = 7)
    assert(out.except(again).count() == 0)
    // a cap above the domain size keeps everything
    assert(Curation.capPerDomain(d, "doc_id", "url", cap = 100).count() == 100)
    out.unpersist()
  }

  test("capPerDomain: scheme case never forges a '' domain; host is lowered") {
    val d = Seq(
      (1L, "HTTPS://Host.Ex.com/a"), (2L, "https://host.ex.com/b"),
      (3L, "FTP://Other.ex/z")
    ).toDF("doc_id", "url")
    val out = Curation.capPerDomain(d, "doc_id", "url", cap = 10)
      .select("doc_id", "domain").as[(Long, String)].collect().toMap
    assert(out(1L) == "host.ex.com" && out(2L) == "host.ex.com")
    assert(out(3L) == "other.ex")
    assert(!out.values.exists(_.isEmpty))
  }

  test("piiScrub: phone redaction is bounded — no unbounded digit-run swallow") {
    // 16+ digits (past the {6,14} bound) must not all vanish into one
    // match, and multi-space runs break the number
    val d = Seq(
      (1L, "call +1 555 0100 now"),
      (2L, "id +12345678901234567890 tail"),
      (3L, "phone +1 555 0100  42 items")
    ).toDF("doc_id", "text")
    val out = Curation.piiScrub(d, "doc_id", "text")
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(out(0) == "call <PHONE> now")
    assert(out(1).contains("<PHONE>") && out(1).endsWith("67890 tail"))
    assert(out(2) == "phone <PHONE>  42 items") // double space stops the run
  }

  test("dedupParagraphs retains zero-token docs as (0, 0, '')") {
    val d = Seq((1L, "a b c d"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(d, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
    assert(out(1) == ((2L, 0L, 0L, "")) && out(2) == ((3L, 0L, 0L, "")))
    assert(out(0)._2 == 2L && out(0)._4 == "a b c d")
  }

  test("collapseRuns drops only ADJACENT repeats") {
    val d = Seq(
      (1L, "a a a b b a c c c c"), // a×3 b×2 a c×4 → "a b a c"
      (2L, "x y z"),               // nothing adjacent
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Curation.collapseRuns(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 10L, 4L, "a b a c")))
    assert(out(1) == ((2L, 3L, 3L, "x y z")))
    assert(out(2) == ((3L, 0L, 0L, "")))
  }

  test("dedupParagraphs: first occurrence wins corpus-wide, docs rebuild in order") {
    // chunks of 2: doc1 = [a b][c d], doc2 = [c d][e f], doc3 = [a b][c d]
    val d = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b c d")
    ).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(d, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 2L, 2L, "a b c d"))) // earliest doc keeps all
    assert(out(1) == ((2L, 2L, 1L, "e f")))     // [c d] lost to doc 1
    assert(out(2) == ((3L, 2L, 0L, "")))        // fully duplicated
  }

  test("dedupParagraphs: a ragged tail chunk is its own unit") {
    // doc1 = [p q][r], doc2 = [r s] — doc2's [r s] ≠ doc1's tail [r]
    val d = Seq((1L, "p q r"), (2L, "r s")).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(d, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 2L, 2L, "p q r")))
    assert(out(1) == ((2L, 1L, 1L, "r s")))
  }

  test("dedupParagraphs is deterministic across repartitionings") {
    val d = (0L until 300L).map(i => (i, s"w${i % 9} w${i % 7} w${i % 5} w${i % 3}"))
      .toDF("doc_id", "text")
    val a = Curation.dedupParagraphs(d.repartition(11), "doc_id", "text", 3)
    val b = Curation.dedupParagraphs(d.coalesce(1), "doc_id", "text", 3)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("htmlStrip: tags out, entities decoded, whitespace squeezed") {
    val d = Seq(
      (1L, "<html><body class=\"x\"><p>hello   world</p><br/></body></html>"),
      (2L, "a &lt;b&gt; &quot;c&quot; &#39;d&#39; e&nbsp;f"),
      (3L, "plain text, no markup")
    ).toDF("doc_id", "html")
    val out = Curation.htmlStrip(d, "doc_id", "html")
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(out(0) == ((1L, 7L, "hello world")))
    assert(out(1) == ((2L, 0L, "a <b> \"c\" 'd' e f")))
    assert(out(2) == ((3L, 0L, "plain text, no markup")))
  }

  test("htmlStrip: &amp; decodes LAST, so double-encoded entities stay literal") {
    val d = Seq((1L, "x &amp;lt; y &amp; z")).toDF("doc_id", "html")
    val r = Curation.htmlStrip(d, "doc_id", "html").collect()(0)
    assert(r.getAs[String]("clean_text") == "x &lt; y & z")
  }

  test("sourceOverlap: identical 10000, disjoint 0, self-pairs excluded") {
    val d = Seq(
      (1L, "a1", "alpha beta gamma delta epsilon zeta"),
      (2L, "a2", "alpha beta gamma delta epsilon zeta"), // == a1
      (3L, "b", "one two three four five six seven")     // disjoint
    ).toDF("doc_id", "source", "text")
    val out = Curation.sourceOverlap(d, "source", "text", 3, 16)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(
      ("a1", "a2") -> 10000L, ("a1", "b") -> 0L, ("a2", "b") -> 0L))
  }

  test("sourceOverlap estimate tracks true Jaccard within MinHash error") {
    // two sources sharing half their shingle sets: true J = 1/3; with 64
    // hashes the estimator's σ = √(J(1−J)/64) ≈ 0.059 — assert ±4σ
    val shared = (0 until 40).map(i => s"s$i w$i x$i")
    val aOnly = (0 until 40).map(i => s"a$i b$i c$i")
    val bOnly = (0 until 40).map(i => s"p$i q$i r$i")
    val d = ((shared ++ aOnly).zipWithIndex.map { case (t, i) => (i.toLong, "A", t) } ++
      (shared ++ bOnly).zipWithIndex.map { case (t, i) => (1000L + i, "B", t) })
      .toDF("doc_id", "source", "text")
    val sim = Curation.sourceOverlap(d, "source", "text", 3, 64)
      .as[(String, String, Long)].collect()(0)._3
    assert(sim > 3333 - 2360 && sim < 3333 + 2360, s"sim_e4=$sim vs true 3333")
  }

  test("chunkDocuments: overlap stride, short tail kept, short/empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 30).map(i => s"t$i").mkString(" ")), // 30 toks: 4 chunks
      (2L, "a b c"),                                  // shorter than chunk: 1
      (3L, "")                                        // empty: no chunks
    ).toDF("doc_id", "text")
    val got = Curation.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 12, overlapTokens = 4)
      .as[(Long, Int, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // starts at 0, 8, 16, 24 (stride 8); last chunk = tokens 25..30
    assert(got(1L).map(_._3) == Seq(12L, 12L, 12L, 6L))
    assert(got(1L).head._4.startsWith("t1 t2 ") &&
      got(1L).head._4.endsWith(" t12"))
    assert(got(1L)(1)._4.startsWith("t9 "))      // overlap of 4: 9..20
    assert(got(1L)(3)._4 == "t25 t26 t27 t28 t29 t30")
    assert(got(2L) == Seq((2L, 0, 3L, "a b c")))
    assert(!got.contains(3L))
    // consecutive chunks share exactly overlapTokens tokens
    val c0 = got(1L)(0)._4.split(" ").toSeq
    val c1 = got(1L)(1)._4.split(" ").toSeq
    assert(c0.takeRight(4) == c1.take(4))
  }

  test("canonicalUrl: case, www, ports, fragments, tracking params, slashes") {
    val cases = Seq(
      "HTTPS://WWW.Ex.COM:443/a/" -> "https://ex.com/a",
      "http://site.com:80/?utm_source=x" -> "http://site.com",
      "https://a.com/p?utm_a=1&utm_b=2&id=3#x" -> "https://a.com/p?id=3",
      "https://b.org/x?id=1&utm_c=z" -> "https://b.org/x?id=1",
      "https://c.net/deep/path///" -> "https://c.net/deep/path",
      "https://keep.com/q?a=1&b=2" -> "https://keep.com/q?a=1&b=2",
      // www only strips as a PREFIX label; ports only when default
      "https://wwwx.com/p" -> "https://wwwx.com/p",
      "http://odd.com:8080/p" -> "http://odd.com:8080/p")
    val got = cases.map(_._1).toDF("u")
      .select(Curation.canonicalUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("urlDedup groups all messy variants of one URL, keeps min id") {
    val d = Seq(
      (5L, "HTTPS://WWW.one.com/p/1"),
      (2L, "https://one.com/p/1?utm_source=a"),
      (9L, "https://one.com/p/1/#frag"),
      (7L, "https://two.com/other")
    ).toDF("doc_id", "url")
    val out = Curation.urlDedup(d, "doc_id", "url")
      .orderBy("url_c").as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("https://one.com/p/1", 3L, 2L),
      ("https://two.com/other", 1L, 7L)))
  }

  test("assembleSequences is the exact regroup of packSequences") {
    val d = (1L to 7L).map(i => (i, Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Curation.assembleSequences(d, "doc_id", "text", 25, 1)
      .orderBy("seq_ix")
      .select("seq_ix", "n_docs", "first_id", "last_id", "seq_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // 7 docs × 10 tokens, budget 25: seq 0 gets docs 1-3 (cumsum 0,10,20),
    // seq 1 docs 4-5 (30,40), seq 2 docs 6-7 (50,60)
    assert(rows == Seq(
      (0L, 3L, 1L, 3L, 30L), (1L, 2L, 4L, 5L, 20L), (2L, 2L, 6L, 7L, 20L)))
  }

  test("shardShuffle: dense positions per shard, salt changes the order") {
    val d = (0L until 300L).map(i => (i, "x")).toDF("doc_id", "text")
    val out = Curation.shardShuffle(d, "doc_id", 8, "s1").cache()
    assert(out.count() == 300)
    // positions are 0..n-1 within every shard
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter($"mx" =!= $"n" - 1 || $"mn" =!= 0)
    assert(bad.count() == 0)
    // same salt → identical assignment; different salt → same shards
    // (shard is salt-independent) but a different within-shard order
    val again = Curation.shardShuffle(d, "doc_id", 8, "s1")
    assert(out.except(again).count() == 0)
    val other = Curation.shardShuffle(d, "doc_id", 8, "s2")
    assert(out.select("doc_id", "shard").except(other.select("doc_id", "shard")).count() == 0)
    assert(out.except(other).count() > 0)
    out.unpersist()
  }

  test("leakageSafeSplit: cluster members share a split, singletons bucket " +
      "by their own id, fractions hold on the bucket arithmetic") {
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {0,1,2}→0 and {10,50}→10; everyone else is a singleton
    val memb = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 10L), (50L, 10L))
      .toDF("id", "survivor")
    val out = Curation.leakageSafeSplit(docs, "doc_id", memb, 8000, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out.size == 200)
    val byId = out.map(r => r._1 -> r).toMap
    // every cluster member carries the cluster key and the SAME split
    assert(Seq(0L, 1L, 2L).map(byId(_)._2).distinct == Seq(0L))
    assert(Seq(0L, 1L, 2L).map(byId(_)._3).distinct.size == 1)
    assert(Seq(10L, 50L).map(byId(_)._2).distinct == Seq(10L))
    assert(Seq(10L, 50L).map(byId(_)._3).distinct.size == 1)
    // singleton: group key = own id, split = the bucket arithmetic on it
    val b7 = docs.sparkSession.range(1)
      .select(graft.operators.Sampling.bucketE4(lit(7L)).as("b"))
      .head().getLong(0)
    val expected7 = if (b7 < 8000) "train" else if (b7 < 9000) "val" else "test"
    assert(byId(7L)._2 == 7L && byId(7L)._3 == expected7)
    // all three splits materialize over 200 ids and lean ~80/10/10
    val sizes = out.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set("train", "val", "test"))
    assert(sizes("train") > sizes("val") && sizes("train") > sizes("test"))
    // bad fractions rejected
    intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(docs, "doc_id", memb, 9000, 2000)
    }
  }

  // ----------------- DSIR importance resampling -----------------

  test("dsir gramBuckets emits one bucket per unigram and bigram occurrence") {
    val out = Seq((1L, "x y z")).toDF("doc_id", "text")
      .select(graft.functions.DsirExpressions.gramBuckets(
        graft.operators.TextOps.tokens(col("text")), 1024).as("b"))
      .head().getSeq[Int](0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def b(s: String): Int = {
      val h = md.digest(s.getBytes("UTF-8"))
      (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 1024
    }
    assert(out == Seq(b("x"), b("y"), b("z"), b("x y"), b("y z")))
    // single-token doc: one unigram, no bigram; empty doc: nothing
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
      .select(graft.functions.DsirExpressions.gramBuckets(
        graft.operators.TextOps.tokens(col("text")), 1024).as("b"))
      .head().getSeq[Int](0)
    assert(one == Seq(b("solo")))
    val none = Seq((1L, "   ")).toDF("doc_id", "text")
      .select(graft.functions.DsirExpressions.gramBuckets(
        graft.operators.TextOps.tokens(col("text")), 1024).as("b"))
      .head().getSeq[Int](0)
    assert(none.isEmpty)
  }

  test("dsirResample ranks target-like docs above off-target docs") {
    val docs = (0L until 20L).map { i =>
      if (i < 10) (i, "apple banana apple banana apple", true)
      else (i, "zeta omega theta sigma kappa", false)
    }.toDF("doc_id", "text", "tgt")
    val out = Curation.dsirResample(docs, "doc_id", "text", col("tgt"),
      dim = 256, k = 20).collect()
    assert(out.length == 20)
    val score = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every target-profile doc outscores every noise doc (the Gumbel
    // noise perturbs the DRAW, not the surfaced score)
    assert((0L until 10L).map(score).min > (10L until 20L).map(score).max)
  }

  test("dsir score is the exact long dot of per-doc counts and the fit table") {
    val docs = Seq((1L, "a b a", true), (2L, "c d c d", false))
      .toDF("doc_id", "text", "tgt")
    val dim = 64
    val lr = Curation.dsirLogRatios(docs, "doc_id", "text", col("tgt"), dim)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(lr.size == dim) // full bucket domain, zero-count buckets included
    val md = java.security.MessageDigest.getInstance("MD5")
    def b(s: String): Int = {
      val h = md.digest(s.getBytes("UTF-8"))
      (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % dim
    }
    val grams1 = Seq("a", "b", "a", "a b", "b a")
    val expected1 = grams1.map(g => lr(b(g))).sum
    val out = Curation.dsirResample(docs, "doc_id", "text", col("tgt"),
      dim = dim, k = 2).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == 5L && r1.getLong(2) == expected1)
  }

  test("dsir selection is deterministic, k-bounded, ordered (key desc, id)") {
    val docs = (0L until 50L).map(i => (i, s"tok$i common words", i % 2 == 0))
      .toDF("doc_id", "text", "tgt")
    val a = Curation.dsirResample(docs, "doc_id", "text", col("tgt"), 128, 10)
      .collect()
    val b = Curation.dsirResample(docs, "doc_id", "text", col("tgt"), 128, 10)
      .collect()
    assert(a.toSeq == b.toSeq && a.length == 10)
    val keys = a.map(r => (r.getLong(3), r.getLong(0))).toSeq
    assert(keys == keys.sortBy { case (k, id) => (-k, id) })
  }

  test("dsir empty docs carry 0 grams / 0 score but stay in the draw") {
    val docs = Seq((1L, "", false), (2L, "a b", true)).toDF("doc_id", "text", "tgt")
    val out = Curation.dsirResample(docs, "doc_id", "text", col("tgt"), 32, 2)
      .collect()
    assert(out.length == 2)
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == 0L && r1.getLong(2) == 0L)
    intercept[IllegalArgumentException] {
      Curation.dsirResample(docs, "doc_id", "text", col("tgt"), 32, 0)
    }
  }

  test("dsirScore against frozen weights equals the resample's scores") {
    val docs = (0L until 30L).map(i =>
      (i, if (i % 3 == 0) "apple pie apple" else "noise words here", i % 3 == 0))
      .toDF("doc_id", "text", "tgt")
    val w = Curation.dsirFitWeights(docs, "doc_id", "text", col("tgt"), 128)
    val scored = Curation.dsirScore(docs, "doc_id", "text", w, 128)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val resampled = Curation.dsirResample(docs, "doc_id", "text", col("tgt"),
      128, 30).collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scored == resampled)
  }

  test("DsirStore: stored score = inline fit+score, idempotent, tag-guarded") {
    val docs = (0L until 30L).map(i =>
      (i, if (i % 3 == 0) "apple pie apple crumble" else "noise words over here",
        i % 3 == 0))
      .toDF("doc_id", "text", "tgt")
    val root = Queries.scratchDir("dsirstore_spec")
    graft.operators.DsirStore.build(docs, "doc_id", "text", col("tgt"), 64,
      root, "c1")
    assert(graft.operators.DsirStore.isBuilt(root, "c1", 64))
    assert(!graft.operators.DsirStore.isBuilt(root, "c1", 128)) // dim in tag
    val stored = graft.operators.DsirStore
      .score(spark, root, "c1", docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val w = Curation.dsirFitWeights(docs, "doc_id", "text", col("tgt"), 64)
    val inline = Curation.dsirScore(docs, "doc_id", "text", w, 64)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(stored == inline)
    // a second build under the same params is a no-op (marker survives)
    graft.operators.DsirStore.build(docs, "doc_id", "text", col("tgt"), 64,
      root, "c1")
    assert(graft.operators.DsirStore.isBuilt(root, "c1", 64))
    // scoring a missing store fails loudly by name
    intercept[IllegalStateException] {
      graft.operators.DsirStore.score(spark, root, "absent", docs,
        "doc_id", "text")
    }
  }

  test("dsir null text scores like empty text") {
    val docs = Seq((1L, null.asInstanceOf[String], false), (2L, "a b", true))
      .toDF("doc_id", "text", "tgt")
    val w = Curation.dsirFitWeights(docs, "doc_id", "text", col("tgt"), 32)
    val out = Curation.dsirScore(docs, "doc_id", "text", w, 32)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((0L, 0L)))
    assert(out(2L)._1 == 3L)
  }
}
