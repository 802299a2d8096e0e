package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import org.apache.spark.sql.functions._

/** Persisted IVF index for approximate-nearest-neighbor search — the ANN
  * analogue of [[SignatureStore]].
  *
  * [[Similarity.ivfTopK]] is honest about its cost split: assigning the
  * CORPUS to buckets is the one pass over all the data; probing is
  * bucket-local. The inline operator pays the corpus assignment on every
  * query batch anyway. This store makes the amortization real: build once
  * per (corpus, centroid recipe), then every query batch reads the index
  * side as bare parquet scans — centroids for the probe routing, bucketed
  * vectors for the scoring — and pays only its own (small) query
  * assignment. [[Similarity.ivfTopKStored]] / [[Similarity.ivfTopKInt8Stored]]
  * consume it and return results IDENTICAL to the inline operators on the
  * same centroids (assignment is deterministic: cosine desc, cid asc).
  *
  * The reference engine has no vector surface (SURVEY §2.5 extension row);
  * the store follows the operator stores' one commit protocol
  * ([[CommittedStore]]): immutable parquet plus a `_params` marker written
  * last. A tag change invalidates: an index probed with a different
  * centroid recipe than it was built with would silently return wrong
  * neighbors.
  *
  * Layout under `root/corpusId/`:
  *   - `centroids.parquet` (cid, cv array&lt;double&gt;, cn)
  *   - `codebook.parquet`  (ix, cw array&lt;double&gt;) — the flattened PQ
  *                         codebook (`ix = mi·numCodes + j`), persisted so
  *                         probes and incremental appends encode against
  *                         the EXACT codebook the corpus was coded with
  *   - `buckets.parquet`   (id, v array&lt;double&gt;, n, bucket,
  *                          scale, qv array&lt;int&gt;, codes array&lt;int&gt;)
  *                          — full-precision vectors for exact
  *                          scoring/re-rank, the symmetric-int8 form for
  *                          the quantized probe, and the PQ codes for the
  *                          ADC probe
  *   - `_params`           the caller's centroid-recipe tag
  *
  * 100 TB story: the build is ONE broadcast-join pass over the corpus
  * (centroids never exceed k·d doubles), written as partitioned parquet
  * bucketed by centroid id; a probe reads only the probed buckets' rows
  * (partition pruning on `bucket`), and the int8 column is the 4-8×
  * probe-I/O reduction measured by the `ann_ivf_int8` battery row.
  */
object IvfStore {

  /** True iff a complete store exists for exactly this centroid-recipe tag. */
  def isBuilt(root: String, corpusId: String, tag: String): Boolean =
    CommittedStore(root, corpusId).isBuilt(tag)

  /** Assign `corpus` to its nearest centroid and persist the index;
    * idempotent per (corpusId, tag) — an existing store with a matching
    * tag is left untouched, anything else is wiped and rebuilt.
    *
    * @param tag identifies the CENTROID RECIPE (e.g. "subset-sqrtn.v1" or
    *            "kmeans.v1;k=64;it=5") — the store is only comparable to
    *            probes routed by the same centroids.
    * @param pqSub PQ subspace count; `0` builds WITHOUT a PQ artifact
    *              (float/int8 probes only — small or odd-dimension corpora
    *              where codebook training cannot hold: fewer rows than
    *              `pqCodes`, or a dimension not divisible by `pqSub`).
    *              PQ probes against a PQ-less store fail with a typed
    *              error instead of producing wrong codes. */
  def build(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, centroidIdCol: String, root: String, corpusId: String,
      tag: String, pqSub: Int = 8, pqCodes: Int = 256): Unit = {
    val spark = corpus.sparkSession
    val s = CommittedStore(root, corpusId)
    s.build(tag) {
      Similarity.centFrame(centroids, centroidIdCol, vecCol)
        .write.mode("overwrite").parquet(s.path("centroids"))
      // PQ codebook from this corpus (the deterministic subset recipe),
      // persisted FIRST so probes/appends encode against the exact table
      if (pqSub > 0) {
        try Similarity.pqCodebookFrame(
          corpus.select(col(idCol).as("id"),
            col(vecCol).cast("array<double>").as("v")), pqSub, pqCodes)
          .write.mode("overwrite").parquet(s.path("codebook"))
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"IvfStore.build: PQ codebook training failed for corpusId=$corpusId " +
              s"(pass pqSub = 0 to build a float/int8-only store): ${e.getMessage}", e)
        }
      }
      // bucket from the JUST-PERSISTED artifacts so all three are
      // guaranteed consistent; partitionBy(bucket) → probe-side pruning
      writeBuckets(s, corpus, idCol, vecCol, readCodebookOpt(spark, s),
        overwrite = true)
    }
  }

  /** Assign `vecs` against the store's PERSISTED centroids, encode
    * (int8 + PQ codes, against the persisted codebook) and land the rows
    * into the bucket tree — ONE code path for build and append so
    * assignments and encodings cannot drift. The PQ geometry is recovered
    * from the codebook itself (w = |cw|, numSub = dim/w, numCodes =
    * |cb|/numSub); a PQ-less store (built with pqSub = 0) lands empty code
    * arrays. */
  private def writeBuckets(s: CommittedStore, vecs: DataFrame, idCol: String,
      vecCol: String, cb: Option[Array[Array[Double]]], overwrite: Boolean): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val assigned = Similarity
      .assignBuckets(vecs, s.read(spark, "centroids"), vecCol, idCol, "bucket", n = 1)
      .select(col(idCol).cast("long").as("id"), col("__v").as("v"),
        col("__n").as("n"), col("bucket").cast("long").as("bucket"))
    val bcCb = spark.sparkContext.broadcast(cb.orNull)
    assigned
      .as[(Long, Seq[Double], Double, Long)]
      .mapPartitions { it =>
        val cbv = bcCb.value
        it.map { case (id, vSeq, n, b) =>
          val v = vSeq.toArray
          val codes =
            if (cbv == null) Array.empty[Int]
            else {
              val w = cbv.head.length
              val numSub = v.length / w
              val numCodes = cbv.length / numSub
              Similarity.pqEncode(cbv, numSub, numCodes, w)(v)
            }
          (id, v, n, b, codes)
        }
      }
      .toDF("id", "v", "n", "bucket", "codes")
      .withColumn("scale", Similarity.scaleE6(col("v")))
      .withColumn("qv", Similarity.quantize(col("v"), col("scale")))
      .write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy("bucket")
      .parquet(s.path("buckets"))
  }

  /** The persisted PQ codebook, flattened `[mi·numCodes + j] → subvector`,
    * or None for a store built with pqSub = 0 (no marker gate: also read
    * mid-build/mid-append by the store's own write paths — external
    * probes go through [[codebook]]). */
  private def readCodebookOpt(spark: SparkSession,
      s: CommittedStore): Option[Array[Array[Double]]] =
    if (!s.exists("codebook")) None
    else Some(s.read(spark, "codebook")
      .orderBy("ix").select("cw")
      .collect().map(_.getSeq[Double](0).toArray))

  /** Persisted PQ codebook for probes — marker-gated like the others.
    * Typed error for PQ-less stores, so a PQ probe cannot silently run
    * against absent codes. */
  def codebook(spark: SparkSession, root: String, corpusId: String,
      tag: String): Array[Array[Double]] = {
    readCodebookOpt(spark, committed(root, corpusId, tag)).getOrElse(
      throw new IllegalStateException(
        s"IVF store corpusId=$corpusId was built without a PQ codebook " +
          "(pqSub = 0) — rebuild with pqSub > 0 for PQ probes"))
  }

  /** Incremental INSERT-ONLY append — the daily-crawl path: assign ONLY
    * the new batch against the store's FROZEN centroids (the quantizer is
    * part of the index identity — re-training it would silently shift
    * every existing bucket boundary) and append the rows into the
    * existing bucket partitions. Ids must be NEW — re-sent ids are
    * rejected (see `assertDisjoint`), not replaced. Write cost ∝ batch
    * size, never corpus size; results after an append are IDENTICAL to a
    * wholesale rebuild over the union, because per-row assignment is a
    * pure function of (vector, centroids).
    *
    * Crash safety mirrors the build: the `_params` marker is REMOVED
    * before any data lands and re-written only after the append commits,
    * so a crash mid-append leaves an unreadable store (next [[build]]
    * wipes and rebuilds) rather than a silently partial index.
    *
    * @param assertDisjoint verify the batch's ids are absent from the
    *        store before landing anything (one id-column anti-join over
    *        the bucket scan — columnar, but still corpus-proportional):
    *        a duplicate id would land a SECOND row and silently corrupt
    *        every downstream consumer (double-counted pairs in
    *        semDedupStored, duplicate (q, id) probe hits). Callers that
    *        can GUARANTEE disjoint ids (e.g. monotone crawl ids) may pass
    *        false to skip the scan — the unique-id precondition is then
    *        theirs to uphold. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      root: String, corpusId: String, tag: String,
      assertDisjoint: Boolean = true): Unit = {
    val s = committed(root, corpusId, tag)
    val spark = batch.sparkSession
    if (assertDisjoint) {
      val existing = s.read(spark, "buckets").select("id")
      val clash = existing
        .join(batch.select(col(idCol).cast("long").as("id")), Seq("id"), "left_semi")
        .limit(5).collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"IvfStore.append: batch re-uses ids already in corpusId=$corpusId " +
          s"(e.g. ${clash.mkString(", ")}) — appends are insert-only; " +
          "delete/rebuild for true upserts, or pass assertDisjoint = false " +
          "only when ids are guaranteed fresh")
    }
    // encode against the PERSISTED codebook: the appended rows' codes must
    // be comparable to every existing row's, so the codebook is as frozen
    // as the centroids are
    val cb = readCodebookOpt(spark, s)
    s.mutate(tag) { writeBuckets(s, batch, idCol, vecCol, cb, overwrite = false) }
  }

  /** Probe-cost skew of the bucket tree: max bucket size over mean bucket
    * size, from one count aggregate over the bucket scan. 1.0 = perfectly
    * balanced; a probe into the hottest bucket scans `skew ×` the mean
    * probe's rows. [[append]] assigns against FROZEN centroids, so a
    * drifting crawl (new content far from every old centroid) funnels
    * into few buckets and this ratio climbs — the signal [[rebalance]]
    * acts on. One keyed count agg; never scans vector payloads (column
    * pruning keeps it to the `bucket` partition column). */
  def bucketSkew(spark: SparkSession, root: String, corpusId: String,
      tag: String): Double = {
    val sizes = buckets(spark, root, corpusId, tag)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(max("n").as("mx"), avg("n").as("mean"))
      .collect().head
    sizes.getLong(0).toDouble / sizes.getDouble(1)
  }

  /** Retrain-and-rebuild trigger for post-append drift: when
    * [[bucketSkew]] exceeds `maxSkew`, re-read the stored full-precision
    * vectors, retrain `k = ceil(√n)` centroids with
    * [[Similarity.kmeansCentroids]] (deterministic: [[rebalanceInit]]
    * hash-spread init, fixed `iters`), and rebuild the index under a
    * DERIVED tag
    * `"<base>;rebal=k<k>.i<iters>"` (base = the current tag minus any
    * previous `;rebal=` suffix — repeated rebalances do not chain). The
    * old tag stops validating, exactly as the recipe-honesty contract
    * requires: probes routed by the old centroids would read buckets cut
    * by the new ones. Returns the new tag, or None when skew is within
    * bound (store untouched).
    *
    * The PQ recipe is preserved from the store itself (subspace geometry
    * recovered from the persisted codebook; a PQ-less store rebuilds
    * PQ-less). Stored-≡-inline holds across a rebalance by construction:
    * the rebuilt store equals [[build]] over the union corpus with the
    * retrained centroids, which is what the inline operators compute on
    * the same inputs (IvfStoreSpec pins it).
    *
    * Crash safety: the snapshot of the stored vectors is materialized to
    * `<root>/<corpusId>__rebal_src.parquet` BEFORE the old tree is wiped,
    * and deleted after the rebuild commits; the store itself is derived
    * data (rebuildable from the source corpus), and a mid-rebuild crash
    * leaves no `_params` marker — consumers fail typed instead of reading
    * a half-cut index. */
  def rebalance(spark: SparkSession, root: String, corpusId: String,
      tag: String, maxSkew: Double, iters: Int = 5): Option[String] = {
    require(maxSkew >= 1.0, s"maxSkew must be >= 1.0, got $maxSkew")
    if (bucketSkew(spark, root, corpusId, tag) <= maxSkew) return None
    val s = CommittedStore(root, corpusId)
    s.aside("rebal_src") { snap =>
      buckets(spark, root, corpusId, tag).select("id", "v")
        .write.parquet(snap)
      val corpus = spark.read.parquet(snap)
      val n = corpus.count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      val cent = Similarity.kmeansCentroids(corpus, "id", "v", k, iters,
          init = Some(rebalanceInit(corpus, k)))
        .select(col("cid"), col("centroid").as("v"))
      val (pqSub, pqCodes) = readCodebookOpt(spark, s) match {
        case None => (0, 256)
        case Some(cb) =>
          val dim = corpus.select(size(col("v"))).head().getInt(0)
          val sub = dim / cb.head.length
          (sub, cb.length / math.max(1, sub))
      }
      // strip only a previous rebalance suffix — user tags may carry their
      // own ';'-separated recipe fields (e.g. "kmeans.v1;k=64;it=5")
      val newTag = s"${tag.replaceAll(";rebal=k\\d+\\.i\\d+$", "")};rebal=k$k.i$iters"
      // invalidate first: from here the old index is gone either way
      s.invalidate()
      build(corpus, cent, "id", "v", "cid", root, corpusId, newTag,
        pqSub = pqSub, pqCodes = pqCodes)
      Some(newTag)
    }
  }

  /** Deterministic hash-spread k-means init for [[rebalance]]: the k rows
    * with the smallest `(md5("rebal|" + id), id)` key — a uniform sample
    * over the UNION of original and appended rows (one distributed
    * TakeOrdered, no RNG), so a drifted region holding a fraction f of
    * the corpus gets ~f·k init centroids and the retrain can split it.
    * The lowest-id default init would start every centroid in the oldest
    * data and leave a dense new cluster owned by one centroid — exactly
    * the skew being repaired. */
  private[operators] def rebalanceInit(corpus: DataFrame, k: Int): DataFrame =
    corpus.select(col("id"), col("v"))
      .orderBy(md5(concat(lit("rebal|"), col("id").cast("string"))), col("id"))
      .limit(k)
      .select(col("id").as("cid"), col("v").as("cv"))

  /** Persisted centroids `(cid, cv, cn)` — a bare parquet scan. */
  def centroids(spark: SparkSession, root: String, corpusId: String,
      tag: String): DataFrame =
    committed(root, corpusId, tag).read(spark, "centroids")

  /** Persisted bucketed corpus `(id, v, n, bucket, scale, qv)` — a bare
    * parquet scan; filters on `bucket` prune partitions. */
  def buckets(spark: SparkSession, root: String, corpusId: String,
      tag: String): DataFrame =
    committed(root, corpusId, tag).read(spark, "buckets")

  private def committed(root: String, corpusId: String, tag: String): CommittedStore =
    CommittedStore(root, corpusId).requireBuilt(tag,
      s"IVF store $root/$corpusId is missing, incomplete, or was built with " +
        s"a different centroid recipe than '$tag' — run IvfStore.build")

}
