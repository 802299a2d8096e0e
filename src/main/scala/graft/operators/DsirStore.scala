package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted DSIR weight table for incremental importance scoring.
  *
  * [[Curation.dsirResample]] fits its log-ratio table inline — right for
  * one-shot selection, wrong for the published deployment, where the
  * hashed-n-gram importance model is fit ONCE against a frozen
  * target/raw pair and every new crawl batch is scored under it (DSIR's
  * own pipeline: fit on Wikipedia-vs-Pile, then stream the raw corpus
  * through the frozen weights). This is the [[LmStore]] pattern applied
  * to the dim-sized table: build persists `(j, lr_e6)` + a params
  * marker; score reads it back and runs [[Curation.dsirScore]] — shared
  * code, so stored and inline semantics cannot drift.
  *
  * Layout under `root/corpusId/`:
  *   - `weights.parquet`  (j, lr_e6) — exactly dim rows
  *   - `_params`          `Tag dim=N nonce=X`, committed through
  *                        [[CommittedStore]]: a tag bump invalidates old
  *                        stores instead of silently mixing bucket
  *                        schemes, and the per-build nonce keys the
  *                        broadcast cache below
  *
  * 100 TB story: build = the inline fit's one dim-keyed aggregate,
  * written once; score reads only the dim-row artifact (one driver
  * collect, centroid/codebook size class) and is a ZERO-exchange
  * codegen map over the batch — per-batch cost ∝ batch, never ∝ the
  * fit corpora. */
object DsirStore {

  /** Bumped when the bucket scheme (unigram+bigram, md5 16-bit) or the
    * smoothing changes. */
  val Tag = "dsir-uni+bi-md5x16.v1"

  /** Parse a commit marker into its declared dim. Accepts both the
    * nonce-stamped form `Tag dim=N nonce=X` and the pre-nonce `Tag dim=N`
    * (stores built by earlier library versions stay readable). */
  private def markerDim(m: String): Option[Int] = {
    val parts = m.split(" ")
    if (parts.length >= 2 && parts(0) == Tag && parts(1).startsWith("dim="))
      parts(1).stripPrefix("dim=").toIntOption
    else None
  }

  /** True iff a complete store exists under the current [[Tag]] and dim. */
  def isBuilt(root: String, corpusId: String, dim: Int): Boolean =
    CommittedStore(root, corpusId).markerText.exists(m => markerDim(m).contains(dim))

  /** Fit and persist the weight table; idempotent per
    * (corpusId, [[Tag]], dim) — a matching store is left untouched,
    * anything else wiped and rebuilt. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, dim: Int, root: String, corpusId: String): Unit = {
    if (isBuilt(root, corpusId, dim)) return
    val s = CommittedStore(root, corpusId)
    // the nonce makes every build's marker TEXT unique, so the broadcast
    // cache below can never serve a previous build's weights — mtime alone
    // is not a freshness signal (same-millisecond rebuilds, coarse-mtime
    // filesystems; r16 ADVICE)
    s.rebuild(s"$Tag dim=$dim nonce=${java.util.UUID.randomUUID()}") {
      Curation.dsirLogRatios(docs, idCol, textCol, isTarget, dim)
        .write.mode("overwrite").parquet(s.path("weights"))
    }
  }

  /** One broadcast weight table per store, replaced when its commit
    * marker changes (re-broadcasting per score call leaked one broadcast
    * per call). [[build]] writes a per-build nonce into the marker, so a
    * rebuild always changes its text; mtime covers pre-nonce markers. A
    * replaced broadcast is not destroyed — a frame from an earlier score
    * may still run on it; Spark's ContextCleaner reclaims it. */
  private[operators] final case class Weights(
      marker: String, mtime: Long, bc: org.apache.spark.broadcast.Broadcast[Array[Long]])
  private[operators] val bcCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Weights]

  /** Score `docs` under the stored weights — [[Curation.dsirScore]]'s
    * output shape `(id, n_grams, score_e6)`. The dim comes from the
    * commit marker; a weights file whose row count disagrees with it
    * fails loudly (a silently short table would zero-score the missing
    * buckets and masquerade as a verdict). */
  def score(spark: SparkSession, root: String, corpusId: String,
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = CommittedStore(root, corpusId)
    val m = s.markerText.getOrElse(
      throw new IllegalStateException(
        s"no committed DSIR store under $root/$corpusId"))
    val dim = markerDim(m).getOrElse(throw new IllegalStateException(
      s"DSIR store $root/$corpusId was built under '$m', need '$Tag' — rebuild"))
    val mtime = s.markerMtime.getOrElse(0L)
    val w = bcCache.compute((root, corpusId), (_, old) =>
      if (old != null && old.marker == m && old.mtime == mtime) old
      else {
        val rows = s.read(spark, "weights")
          .select(col("j").cast("int"), col("lr_e6").cast("long"))
          .collect()
        require(rows.length == dim,
          s"DSIR store $root/$corpusId holds ${rows.length} buckets, marker says $dim")
        val lrArr = new Array[Long](dim)
        rows.foreach(r => lrArr(r.getInt(0)) = r.getLong(1))
        Weights(m, mtime, spark.sparkContext.broadcast(lrArr))
      })
    Curation.dsirScore(docs, idCol, textCol, w.bc, dim)
  }

}
