package graft.operators

import graft.Queries
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "The cat is on the mat and the dog is in the house"),
    (2L, "el perro y el gato en la casa que es de un amigo"),
    (3L, "a b"),
    (4L, "der hund und die katze ist nicht in der wohnung mit")
  ).toDF("doc_id", "text")

  test("langId scores stopword hits and argmaxes with alphabetical ties") {
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .select("id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(4L) == "de")
    assert(out(3L) == "en") // "a" is an en stopword → s_en=1 wins
  }

  test("quality: exact integer ratios") {
    val r = TextAnalysis.quality(docs, "doc_id", "text").where($"id" === 3L).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 2L)
    assert(r.getAs[Long]("ttr_e4") == 10000L)   // both tokens unique
    assert(r.getAs[Long]("mean_tok_len_e4") == 10000L) // mean len 1
    assert(!r.getAs[Boolean]("keep"))           // < 10 tokens
  }

  test("tokenStats counts whitespace, word-regex, and BPE-ish tokens") {
    val extra = Seq(
      (9L, "  hello,world  foo--bar baz  "),
      (10L, "don't stop 42x7")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenStats(extra, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(9L).getAs[Long]("n_ws_tokens") == 3L)   // hello,world | foo--bar | baz
    assert(out(9L).getAs[Long]("n_word_tokens") == 5L) // hello world foo bar baz
    // "  ",hello,",",world,"  ",foo,"--",bar," baz","  "
    assert(out(9L).getAs[Long]("n_bpe_tokens") == 10L)
    // don | 't | " stop" | " 42" | x | 7 — contraction split + digit runs
    assert(out(10L).getAs[Long]("n_bpe_tokens") == 6L)
  }

  test("unigramNll: rarer tokens score higher NLL; empty docs retained at 0") {
    // corpus: "a" ×6, "b" ×2, "z" ×1 → N=9, V=3; lp(t) = ln((c+1)/12)
    val d = Seq((1L, "a a a"), (2L, "a a a b b"), (3L, "z"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(d, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def nll(cs: Seq[Long]): Long =
      math.round(cs.map(c => -math.log((c + 1.0) / 12.0)).sum / cs.size * 10000)
    assert(out(1L) == ((3L, nll(Seq(6, 6, 6)))))
    assert(out(2L) == ((5L, nll(Seq(6, 6, 6, 2, 2)))))
    assert(out(3L) == ((1L, nll(Seq(1)))))
    assert(out(4L) == ((0L, 0L)))
    // the all-common doc is more "typical" than the rare-token doc
    assert(out(1L)._2 < out(3L)._2)
  }

  test("LmStore: stored scoring ≡ inline on the train corpus; unseen floor") {
    val train = Seq((1L, "a a a"), (2L, "a a a b b"), (3L, "z"))
      .toDF("doc_id", "text")
    val root = Queries.scratchDir("lmstore_spec")
    LmStore.build(train, "doc_id", "text", root, "c1")
    assert(LmStore.isBuilt(root, "c1"))
    // self-scoring through the store ≡ the inline operator bit-for-bit
    val stored = LmStore.score(spark, root, "c1", train, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val inline = TextAnalysis.unigramNll(train, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(stored == inline)
    // a NEW batch with unseen tokens: "q" scores the add-one floor
    // ln(1/(N+V)) = ln(1/12); empty docs still retained at (0, 0)
    val batch = Seq((10L, "q"), (11L, "a q"), (12L, ""))
      .toDF("doc_id", "text")
    val out = LmStore.score(spark, root, "c1", batch, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def nll(cs: Seq[Long]): Long =
      math.round(cs.map(c => -math.log((c + 1.0) / 12.0)).sum / cs.size * 10000)
    assert(out(10L) == ((1L, nll(Seq(0)))))
    assert(out(11L) == ((2L, nll(Seq(6, 0)))))
    assert(out(12L) == ((0L, 0L)))
    // load-once Model seam (persisted frames, many-batch consumers) ≡
    // the one-shot score path
    val model = LmStore.load(spark, root, "c1")
    model.counts.persist(); model.totals.persist()
    try {
      val viaModel = model.score(batch, "doc_id", "text")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(viaModel == out)
    } finally { model.counts.unpersist(); model.totals.unpersist(); () }
    // idempotent: a second build leaves the marker (and artifacts) alone
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "c1", "_params"))
    LmStore.build(train.limit(1), "doc_id", "text", root, "c1")
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "c1", "_params")) == mtime)
    // scoring a missing store fails loudly
    intercept[IllegalArgumentException] {
      LmStore.score(spark, root, "absent", batch, "doc_id", "text")
    }
    // an LM trained on an all-empty corpus (vocab 0) is degenerate —
    // scoring against it must fail loudly, not null every lp
    val empties = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    LmStore.build(empties, "doc_id", "text", root, "c0")
    intercept[IllegalArgumentException] {
      LmStore.score(spark, root, "c0", batch, "doc_id", "text")
    }
  }

  test("charEntropy: uniform text maxes, constant text zeroes, empty at (0,0)") {
    val d = Seq((1L, "abcd"), (2L, "aaaa"), (3L, ""), (4L, "aabb"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(1L) == ((4L, math.round(math.log(4.0) * 1e4)))) // ln 4: uniform
    assert(out(2L) == ((4L, math.round(
      (math.log(4.0) - 4 * math.log(4.0) / 4) * 1e4)))) // 0: constant
    assert(out(2L)._2 == 0L)
    assert(out(3L) == ((0L, 0L)))
    assert(out(4L) == ((4L, math.round(
      (math.log(4.0) - (2 * math.log(2.0) + 2 * math.log(2.0)) / 4) * 1e4))))
    assert(out(4L)._2 == math.round(math.log(2.0) * 1e4)) // 1 bit in nats
  }

  test("bigramNll: context-aware scoring, short docs at (0,0)") {
    // corpus bigrams: "a b" ×2, "b a" ×1, "b c" ×1; unigrams a×3 b×3 c×1
    // → V = 3
    val d = Seq((1L, "a b a b"), (2L, "b c"), (3L, "a"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(d, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def lp(c2: Long, c1: Long): Double = math.log((c2 + 1.0) / (c1 + 3.0))
    // doc 1: bigrams "a b"(2), "b a"(1), "a b"(2); contexts a, b, a
    val nll1 = math.round(
      -(lp(2, 3) + lp(1, 3) + lp(2, 3)) * 10000.0 / 3)
    assert(out(1L) == ((3L, nll1)))
    assert(out(2L) == ((1L, math.round(-lp(1, 3) * 10000.0 / 1))))
    assert(out(3L) == ((0L, 0L))) // single token → no bigrams
    assert(out(4L) == ((0L, 0L)))
    // the common-bigram doc is more typical than the rare-bigram doc
    assert(out(1L)._2 < out(2L)._2)
  }

  test("bm25TopK: tf monotonicity, length normalization, rank tie-breaks") {
    // "cat" appears in 3 of 4 docs; doc 1 has it twice, docs 2 and 3 once;
    // doc 3 is much longer → length normalization must rank 2 above 3
    val d = Seq(
      (1L, "cat cat dog"),
      (2L, "cat dog bird"),
      (3L, "cat dog bird fish mouse horse goat sheep cow hen"),
      (4L, "dog bird fish")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("cat"), k = 4)
      .select("rank", "id", "score_e4").as[(Int, Long, Long)].collect()
      .sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L)) // tf=2 first, short beats long
    assert(out(3)._3 == 0L)                       // no hit → score 0
    // hand-check doc 2's score: N=4, df=3, dl=3, avgdl=19/4
    val idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1.0)
    val exp = math.round(
      idf * (1.0 * 2.2) / (1.0 + 1.2 * (0.25 + 0.75 * (3.0 / (19.0 / 4)))) * 1e4)
    assert(out(1)._3 == exp)
  }

  test("bm25TopK: multi-term scores sum in term-list order") {
    val d = Seq((1L, "x y"), (2L, "x x"), (3L, "y y z")).toDF("doc_id", "text")
    val both = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("x", "y"), k = 3)
      .select("id", "score_e4").as[(Long, Long)].collect().toMap
    val x = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("x"), k = 3)
      .select("id", "score_e4").as[(Long, Long)].collect().toMap
    // doc 1 holds both terms → its two-term score strictly exceeds x-only
    assert(both(1L) > x(1L))
    // doc 2 has no y → identical score under either query (same e4 cut)
    assert(both(2L) == x(2L))
  }

  test("tfidfTopTerms: corpus-wide terms score 0, distinctive terms rank first") {
    val d = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2"),
      (3L, "common rare2 rare2")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(d, "doc_id", "text", k = 2)
      .select("id", "rank", "term", "score_e4")
      .as[(Long, Int, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    // "common" is in every doc → idf = ln(3/3) = 0 → score 0, ranks last
    assert(out(1L).head._1 == "rare1")
    assert(out(1L).head._2 == math.round(math.log(3.0 / 1) * 1e4)) // tf=1
    assert(out(1L)(1) == ("common", 0L))
    // doc 3: rare2 tf=2, df=2 → 2·ln(3/2)
    assert(out(3L).head == ("rare2", math.round(2.0 * math.log(3.0 / 2) * 1e4)))
  }

  test("linearScore: exact integer dot, sigmoid surface, empty docs at 0.5") {
    val d = Seq((1L, "aa aa bb"), (2L, "")).toDF("doc_id", "text")
    val w = TextAnalysis.fixtureWeights(spark, 1024)
    val out = TextAnalysis.linearScore(d, "doc_id", "text", w, dim = 1024)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // recompute doc 1 by hand through the same md5-bucket + fixture formula
    def bucket(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 1024
    }
    def wOf(j: Long): Long = (j * 2654435761L) % 2000001L - 1000000L
    val dot = 2 * wOf(bucket("aa")) + wOf(bucket("bb"))
    assert(out(1L)._2 == 3L && out(1L)._3 == dot)
    assert(out(1L)._4 ==
      math.round(1e6 / (1.0 + math.exp(-(dot / 1e6 / 3)))))
    // empty doc: retained, sigmoid(0) = 0.5
    assert(out(2L) == ((2L, 0L, 0L, 500000L)))
  }

  test("linearScoreRowLocal ≡ linearScore agg path on real corpus data") {
    // pins the in-JVM tokenizer/md5-bucket replica against the Catalyst
    // pair on every sf0.001 document — any divergence breaks equality
    val w = TextAnalysis.fixtureWeights(spark, 1024)
    // adversarial normalization cases: leading control char (Java
    // String.trim would strip it, SQL trim must NOT), tabs, Unicode case
    val adversarial = Seq(
      (900001L, "hello\tworld "),
      (900002L, " STRASSE İstanbulx"),
      (900003L, "   "),
      (900004L, "\u0001ctrl x")) // Java String.trim would strip \u0001
      .toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").unionByName(adversarial)
    val a = TextAnalysis.linearScore(docs, "doc_id", "text", w, 1024)
      .orderBy("id").collect().toSeq
    val b = TextAnalysis.linearScoreRowLocal(docs, "doc_id", "text", w, 1024)
      .orderBy("id").collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("nbTrainScore learns separable classes and tie-breaks deterministically") {
    // two classes with disjoint vocabularies → NB must classify all docs
    // correctly despite the 'b' class being the prior-favored majority
    val d = Seq(
      (1L, "apfel birne apfel kirsche", "a"),
      (2L, "birne apfel apfel", "a"),
      (3L, "mango papaya guava mango", "b"),
      (4L, "papaya mango guava", "b"),
      (5L, "guava papaya papaya mango", "b"),
      (6L, "", "b") // zero tokens → priors only → majority class 'b'
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.nbTrainScore(d, "doc_id", "text", "lang", dim = 256)
      .select("id", "pred", "correct").as[(Long, String, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert((1L to 5L).forall(out(_)._3), s"misclassified: $out")
    assert(out(6L)._2 == "b") // prior argmax (4/6 vs 2/6)
  }

  test("fingerprints: identical normalized text → identical prints") {
    val d = Seq((1L, "Same Text Here"), (2L, "same text here   "), (3L, "other stuff"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.fingerprints(d, "doc_id", "text")
      .select("id", "md5_full", "fp_min8").as[(Long, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("perplexityBuckets labels by exact corpus NLL terciles") {
    // 3 fluency classes: common tokens (low NLL), mixed, rare tokens
    val docs = (
      (0L until 4L).map(i => (i, "the the the the")) ++
      (4L until 8L).map(i => (i, "the odd" + i + " the the")) ++
      (8L until 12L).map(i => (i, "rare" + i + "a rare" + i + "b rare" + i + "c x" + i))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._3, t._4))).toMap
    assert(out.size == 12)
    // label ordering tracks the score ordering: every head nll <= every
    // middle nll <= every tail nll
    def nlls(b: String) = out.values.filter(_._2 == b).map(_._1)
    assert(Seq("head", "middle", "tail").forall(b => nlls(b).nonEmpty))
    assert(nlls("head").max <= nlls("middle").min)
    assert(nlls("middle").max <= nlls("tail").min)
    // the common-token class lands in head, the rare class in tail
    assert((0L until 4L).forall(out(_)._2 == "head"))
    assert((8L until 12L).forall(out(_)._2 == "tail"))
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityBuckets(docs, "doc_id", "text",
        cuts = Seq(0.9 -> "a", 0.1 -> "b"))
    }
  }
}
