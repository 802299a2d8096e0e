package graft

import graft.engine.Json

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE clean JSON line on stdout
  * (build.sbt routes forked stdout around sbt's logger).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(GraftSession.cpus)

    val names = SparkEntry.queries.keys.toSeq.sorted

    // median of three timed runs per query, taken PASS-MAJOR after a
    // warm-up at the smallest SF (JIT, codegen caches, parquet footer
    // reads): back-to-back runs of one query share any transient
    // shared-sandbox contention (r3: dedup_minhash 8.7 s reported vs 1.6 s
    // reproduced; r5: per-run arrays spread 1.3-3.7 s on one query), so
    // Queries.timeRows interleaves them. Streaming replay rows do fixture
    // I/O (JSON writes, file copies, sentinel appends) that is test-rig
    // cost, not engine execution; Queries charges it to a per-row harness
    // ledger that timeRows subtracts from each row's wall, so the reported
    // per-query numbers track the ENGINE round over round (r7: unsplit
    // harness was ~29% of the battery total and drowned the signal)
    val warmDir = "/root/testdata/sf0.001"
    def ledger(m: java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.atomic.LongAdder]): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.sum() }.toMap
    }

    // per-pass ambient calibration: a fixed CPU-bound distributed probe
    // (hash-reduce over 2^27 rows) whose only round-over-round variable is
    // the sandbox's ambient load — the bench line self-describes its
    // window instead of relying on cross-round prose (BASELINE.md r6/r7
    // measured 1.1-1.5x ambient swings on untouched code)
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // xor-aggregate of 2^27 hashes: overflow-free under ANSI, cannot be
      // constant-folded, and exercises codegen + a one-row shuffle
      spark.range(1L << 27).selectExpr("bit_xor(xxhash64(id)) AS x").head()
      (System.nanoTime() - t0) / 1e9
    }
    // I/O-mode twin of the CPU probe (round-8 VERDICT: calib_s certified
    // a window in which every DISK-heavy row ran 2.6-4.6x over — the
    // xxhash probe is structurally blind to storage contention). Fixed
    // job: write ~100 MB of incompressible-ish parquet to the DISK temp
    // dir (deliberately NOT the tmpfs scratch the fixture/checkpoint
    // paths use — this probe must feel the disk the shuffle/local dirs
    // feel), read it back through a shuffle agg, delete. io_calib_s
    // across rounds = the window's storage weather, independent of any
    // battery row.
    def ioCalibrate(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft_iocalib")
      try {
        val t0 = System.nanoTime()
        spark.range(1L << 21)
          .selectExpr("id", "xxhash64(id) AS h", "md5(CAST(id AS STRING)) AS s")
          .repartition(8)
          .write.mode("overwrite").parquet(dir.toString)
        spark.read.parquet(dir.toString)
          .groupBy(org.apache.spark.sql.functions.expr("h % 64"))
          .count().count()
        (System.nanoTime() - t0) / 1e9
      } finally Queries.deleteTree(dir)
    }

    // harness_s must describe the BATTERY's fixture I/O — the ledgers are
    // snapshotted after the warm-up (per key) so warm-up fixture builds at
    // sf0.001 (never inside any timed wall) don't inflate the reported
    // number, and so the sidecar's per-key map sums to harness_s instead
    // of mixing in warm-up totals (round-8 ADVICE); the phase snapshot
    // keeps the warm-up's phased rows out of the io-normalized headline
    var harnessAtStartByKey = Map.empty[String, Long]
    var phaseAtStartByKey = Map.empty[String, Long]
    val calibs = collection.mutable.ArrayBuffer.empty[Double]
    val ioCalibs = collection.mutable.ArrayBuffer.empty[Double]
    val passes = Queries.timeRows(spark, names, warmDir, Seq(sfDir), 3) { pass =>
      if (pass == 0) {
        calibrate(); ioCalibrate() // warm the probes' plans like every other query
        harnessAtStartByKey = ledger(Queries.harnessNs)
        phaseAtStartByKey = ledger(Queries.phaseNs)
      }
      calibs += calibrate()
      ioCalibs += ioCalibrate()
    }
    // A query that THROWS must not report its analysis-exception latency as
    // an engine time (r9: 39 broken rows read as a fake 30% speedup). Failed
    // runs record NaN; a query with no successful run reports -1 and is
    // excluded from total_s, and its name + first error land in "failed" /
    // the sidecar's "errors" so the breakage is loud in the artifact itself.
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    for (pass <- passes; name <- names; e <- pass((name, sfDir)).failed)
      errors.getOrElseUpdate(name, e.toString.replaceAll("\\s+", " ").take(300))
    val results = names.map { name =>
      val runs = passes.map(_((name, sfDir)).map(_.seconds).getOrElse(Double.NaN))
      val good = runs.filterNot(_.isNaN)
      val median = if (good.isEmpty) -1.0 else good.sorted.apply(good.size / 2)
      (name, median, runs)
    }
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would corrupt the one JSON line the driver parses
    def f(d: Double): String =
      if (d.isNaN) "null" // failed run — NaN is not valid JSON
      else String.format(java.util.Locale.ROOT, "%.4f", d)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // Per-run arrays (outlier visibility) go to a SIDECAR file, not the
    // headline line: in r4 they tripled the stdout line and it outgrew the
    // driver's tail capture, so the driver recorded no bench number at all.
    // The headline line must stay compact, final, and standalone.
    val rs = results.map { case (k, _, runs) =>
      "\"" + k + "\":" + runs.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // battery-only deltas (warm-up snapshot subtracted): sums to harness_s
    val harnessDeltas = ledger(Queries.harnessNs).toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (v - harnessAtStartByKey.getOrElse(k, 0L))
    }
    val hs = harnessDeltas.map { case (k, d) => "\"" + k + "\":" + f(d / 1e9) }
      .mkString("{", ",", "}")
    // phase attribution INSIDE engine walls (e.g. store_roundtrip's
    // ingest-write half) — reported, never subtracted
    val phases = ledger(Queries.phaseNs)
    val ps = phases.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f(v / 1e9) }
      .mkString("{", ",", "}")
    val totalD = results.map(_._2).filter(_ >= 0).sum
    val total = f(totalD)
    val nGood = results.count(_._2 >= 0)

    // ---- io-normalized headline (r16 verdict item 5) -------------------
    // The battery's I/O-antenna phases — the checkpointed streaming
    // restarts and the store ingest-write, exactly the ledger keys below —
    // scale with the sandbox's disk weather, which io_calib_s measures
    // independently. The normalized total replaces their measured time
    // with what they WOULD have cost at a pinned nominal io_calib of
    // IoCalibRefS, so cross-round comparisons of total_io_norm_s stop
    // re-litigating the window's disk (r15 note 3 / r16 note 3: every
    // round's closing analysis re-derived this correction by hand). The
    // RAW total stays the headline "value" — normalization is reported,
    // never substituted. Ledger deltas span all 3 passes, so /3 puts them
    // on the same one-battery scale as the per-query medians.
    val IoCalibRefS = 1.0 // pinned nominal disk probe time (r16 ≈ 1.28)
    val ioAntennaPhases = Set(
      "store_roundtrip/ingest_write",
      "stream_session/pass_initial", "stream_session/pass_restart",
      "stream_wire_follow/follow", "stream_wire_follow/drain",
      "stream_dsv2/follow", "stream_dsv2/drain")
    val ioPhasesS = phases.toSeq
      .filter(kv => ioAntennaPhases.contains(kv._1))
      .map { case (k, v) => (v - phaseAtStartByKey.getOrElse(k, 0L)) / 1e9 }
      .sum / 3.0
    val ioCalibMedD = ioCalibs.sorted.apply(ioCalibs.size / 2)
    val totalIoNormD =
      if (ioCalibMedD > 0) totalD - ioPhasesS + ioPhasesS * (IoCalibRefS / ioCalibMedD)
      else totalD
    val perRow = f(if (nGood > 0) totalD / nGood else -1.0)
    val perRowIoNorm = f(if (nGood > 0) totalIoNormD / nGood else -1.0)
    val ioNormJson =
      s""""per_row_s":$perRow,"io_phases_s":${f(ioPhasesS)},""" +
      s""""io_calib_ref_s":${f(IoCalibRefS)},"total_io_norm_s":${f(totalIoNormD)},""" +
      s""""per_row_io_norm_s":$perRowIoNorm"""
    val failedArr = errors.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errJson = errors.map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }
      .mkString("{", ",", "}")
    val harnessTotal = f(harnessDeltas.map(_._2).sum / 1e9)
    val calibMed = f(calibs.sorted.apply(calibs.size / 2))
    val ioCalibMed = f(ioCalibs.sorted.apply(ioCalibs.size / 2))
    val calibArr = calibs.map(f).mkString("[", ",", "]")
    val ioCalibArr = ioCalibs.map(f).mkString("[", ",", "]")
    val sidecar = java.nio.file.Paths.get("target", "bench_runs.json")
    java.nio.file.Files.createDirectories(sidecar.getParent)
    java.nio.file.Files.write(sidecar,
      s"""{"runs":$rs,"harness":$hs,"phases":$ps,"calib":$calibArr,"io_calib":$ioCalibArr,"errors":$errJson,"sf":"$sfDir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The COMPLETE battery, machine-readable, at a stable path: three
    // rounds running the driver's stdout tail-capture truncated the
    // headline line's head and lost rows (r8: the 7 ann_*/dedup_against_*
    // rows) — this artifact, not the stdout line, is the durable record.
    // "phases" = the per-row phase ledger (e.g. stream_session's two
    // checkpointed restarts): attribution INSIDE engine walls so window
    // comparisons can see which phase of an I/O-mixed row moved — the
    // disk-weather rows stop dominating cross-round diffs (r15 note 3)
    val finalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":$total,""" +
      s""""harness_s":$harnessTotal,"calib_s":$calibMed,"io_calib_s":$ioCalibMed,""" +
      s"""$ioNormJson,""" +
      s""""failed":$failedArr,"queries":$qs,"phases":$ps,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("target", "bench_final.json"),
      finalLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // The driver tail-captures the LAST 2000 chars of stdout and parses a
    // JSON line out of them. The 131-row queries map alone is ~3 KB (the
    // names sum to 1.7 KB), so a line carrying it can NEVER survive the
    // capture — r10 and r11 both recorded parsed:null and lost the
    // alphabetically-early half of the battery from the official
    // artifact. The stdout line is therefore COMPACT ONLY (totals +
    // ambient probes + failure count + artifact pointers; ~350 chars,
    // complete inside any 2000-char tail); the full per-query medians
    // live in target/bench_final.json and per-run arrays in
    // target/bench_runs.json. harness_s = fixture I/O excluded from the
    // query walls; calib_s / io_calib_s = this window's ambient CPU /
    // disk probes (compare across rounds to separate engine movement
    // from sandbox load). The failed list is capped so a mass breakage
    // cannot re-inflate the line past the capture budget.
    val failedCapped = errors.keys.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    // keep the line's "queries" map but only as many of the SLOWEST rows
    // as fit a hard 1200-char budget — those are the rows a reader of the
    // official artifact needs first; the rest are in queries_file
    val slowestEntries = results.sortBy(-_._2).iterator
      .map { case (k, v, _) => "\"" + k + "\":" + f(v) }
      .scanLeft(("", 0)) { case ((_, n), e) => (e, n + e.length + 1) }
      .drop(1).takeWhile(_._2 <= 1200).map(_._1).toSeq
    val qsCapped = slowestEntries.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":$total,""" +
      s""""harness_s":$harnessTotal,"calib_s":$calibMed,"io_calib_s":$ioCalibMed,""" +
      s"""$ioNormJson,""" +
      s""""n_queries":${results.size},"n_failed":${errors.size},""" +
      s""""failed":$failedCapped,"sf":"$sfDir",""" +
      s""""queries":$qsCapped,"queries_shown":${slowestEntries.size},""" +
      s""""queries_file":"target/bench_final.json","runs_file":"target/bench_runs.json"}""")
    // a battery with dead rows must not exit 0 — "fast" and "broken" have
    // to be distinguishable from the exit code alone (r9: 39 crashed rows
    // read as a 30% speedup). The JSON line above is already printed and
    // the artifacts written, so a parsing driver still gets the partial data.
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
