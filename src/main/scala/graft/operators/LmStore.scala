package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted unigram language model for incremental perplexity scoring.
  *
  * [[TextAnalysis.unigramNll]] trains its LM inline from the scored corpus
  * — the right shape for one-shot corpus analysis, the wrong one for
  * production filtering, where the model is trained ONCE on a frozen
  * reference corpus and every new crawl batch is scored against it
  * (CCNet scores crawls under a Wikipedia-trained LM; the training corpus
  * and the scored corpus are different by design). This store is the
  * [[SignatureStore]]/[[IvfStore]] pattern applied to the LM: build
  * persists the count table + totals, score reads them back as bare
  * parquet scans and runs the SAME scoring plan ([[TextAnalysis.nllAgainst]]
  * — shared code, so stored and inline semantics cannot drift). Tokens
  * unseen at train time score the add-one floor `ln(1/(N+V))`.
  *
  * Layout under `root/corpusId/`:
  *   - `counts.parquet`  (t, c) — the vocab-sized (Zipf-bounded) table
  *   - `totals.parquet`  one row (n_total, vocab)
  *   - `_params`         [[Tag]], committed through [[CommittedStore]]: a
  *                       version bump invalidates old stores instead of
  *                       silently mixing smoothing schemes
  *
  * 100 TB story: build is the same two hash aggs the inline operator
  * runs, written once; score reads only the vocab-sized artifacts (AQE
  * broadcasts the count side while it fits, degrades to a shuffled
  * equi-join) — per-batch cost ∝ batch, never ∝ reference corpus.
  */
object LmStore {

  /** Bumped when tokenization or smoothing changes. */
  val Tag = "unigram-addone.v1"

  /** True iff a complete store exists under the current [[Tag]]. */
  def isBuilt(root: String, corpusId: String): Boolean =
    CommittedStore(root, corpusId).isBuilt(Tag)

  /** Train and persist the corpus LM; idempotent per (corpusId, [[Tag]]) —
    * a matching store is left untouched, anything else wiped and rebuilt. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      root: String, corpusId: String): Unit = {
    val s = CommittedStore(root, corpusId)
    s.build(Tag) {
      docs
        .select(explode(TextOps.tokens(col(textCol))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s.path("counts"))
      // totals derive from the JUST-PERSISTED counts, so the two artifacts
      // are consistent even if the corpus changes under a concurrent build
      s.read(docs.sparkSession, "counts")
        .agg(sum(col("c")).as("n_total"), count(lit(1)).as("vocab"))
        .write.mode("overwrite").parquet(s.path("totals"))
    }
  }

  /** A loaded LM: the two reference frames plus the degenerate-model gate
    * already paid. The seam a many-batch consumer needs — load (and
    * optionally persist the frames) ONCE, score every micro-batch without
    * re-paying the store listing, the 1-row vocab action, and the tag
    * check per batch (r18: [[score]] ran a driver `head()` job per
    * micro-batch of the streaming replay row). */
  final case class Model(counts: DataFrame, totals: DataFrame) {
    def score(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      TextAnalysis.nllAgainst(docs, idCol, textCol, counts, totals)
  }

  /** Open the stored LM. Fails loudly on an LM trained from an all-empty
    * corpus (vocab 0 ⇒ `sum(c)` persisted NULL ⇒ every lp would go
    * silently null and non-empty docs would score as (0, 0) — a
    * degenerate model must not masquerade as a typicality verdict). */
  def load(spark: SparkSession, root: String, corpusId: String): Model = {
    val s = CommittedStore(root, corpusId).requireBuilt(Tag,
      s"LmStore at $root/$corpusId is missing or built under another tag")
    val totals = s.read(spark, "totals")
    val vocab = totals.head().getAs[Long]("vocab") // 1-row artifact
    require(vocab > 0,
      s"LmStore at $root/$corpusId was trained on an empty corpus (vocab 0)")
    Model(s.read(spark, "counts"), totals)
  }

  /** Score `docs` under the stored LM — [[TextAnalysis.unigramNll]]'s
    * output shape `(id, n_tokens, nll_e4)`, reference side two bare
    * parquet scans. One-shot convenience over [[load]]. */
  def score(spark: SparkSession, root: String, corpusId: String,
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    load(spark, root, corpusId).score(docs, idCol, textCol)

}
