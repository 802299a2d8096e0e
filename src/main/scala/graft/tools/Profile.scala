package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Queries}
import graft.operators.{Dedup, LmStore, SignatureStore, SubstringWindowStore}

/** One profiler for battery rows. Drive with:
  *   sbt "runMain graft.tools.Profile <sfDir> <row> [row...] [--stacks | --plan <outDir>]"
  *
  *  - By default, each row's median of three timed runs (the
  *    [[graft.Queries.timeRows]] rule Bench uses, warmed on `sfDir`), then
  *    the last run's Spark jobs: its wall split into job time and
  *    driver-only gaps (planning, listing, control-plane I/O), with each
  *    job's task time, shuffle and input. Decide whether time goes to
  *    shuffle, compute, scheduling or the driver before changing anything.
  *  - `--stacks`: the same median line, then the most frequent frames of
  *    the executor task threads, sampled every ~5 ms during the last run
  *    (an in-process stand-in for jstack, whose timing races a short-lived
  *    forked JVM). The sampling itself slows the timed runs.
  *  - `--plan <outDir>`: writes `.explain("formatted")` of each row to
  *    `<outDir>/<row>.txt`. The names `stream_drop_spans_inner`,
  *    `stream_dedup_ref_inner`, `stream_dedup_substring_inner` and
  *    `stream_nll_stored_inner` dump the operator plan one micro-batch of
  *    that stream row executes (the row's own frame is only the post-hoc
  *    sink read).
  */
object Profile {
  val Usage = "usage: Profile <sfDir> <row> [row...] [--stacks | --plan <outDir>]"

  private[tools] final case class Args(sfDir: String, rows: Seq[String],
      stacks: Boolean, planDir: Option[String])

  private[tools] def parse(args: Seq[String]): Args = {
    val (rest, stacks, planDir) = args match {
      case init :+ "--stacks" => (init, true, None)
      case init :+ "--plan" :+ dir => (init, false, Some(dir))
      case _ => (args, false, None)
    }
    require(rest.size >= 2 && !rest.exists(_.startsWith("--")), Usage)
    Args(rest.head, rest.tail, stacks, planDir)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = GraftSession.harness(GraftSession.cpus)
    try run(spark, a) finally spark.stop()
  }

  private[tools] def run(spark: SparkSession, a: Args): Unit =
    a.planDir match {
      case Some(outDir) => plans(spark, a.sfDir, outDir, a.rows)
      case None => timed(spark, a.sfDir, a.rows, a.stacks)
    }

  private final case class Job(id: Int, t0: Long, desc: String, stages: Int) {
    @volatile var t1 = -1L
    var taskTimeMs, tasks, shufReadB, shufWriteB, inputB = 0L
  }

  /** Spark jobs by id, with their tasks' metrics folded in. */
  private final class Jobs extends SparkListener {
    val byId = new ConcurrentHashMap[Int, Job]
    private val stageToJob = new ConcurrentHashMap[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      e.stageIds.foreach(stageToJob.put(_, e.jobId))
      byId.put(e.jobId, Job(e.jobId, e.time, desc, e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byId.get(e.jobId)).foreach(_.t1 = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byId.get(stageToJob.getOrDefault(e.stageId, -1)))
        .filter(_ => e.taskMetrics != null).foreach { j =>
          val m = e.taskMetrics
          j.synchronized {
            j.taskTimeMs += m.executorRunTime
            j.tasks += 1
            j.shufReadB += m.shuffleReadMetrics.totalBytesRead
            j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            j.inputB += m.inputMetrics.bytesRead
          }
        }
  }

  private def timed(spark: SparkSession, sfDir: String, rows: Seq[String],
      stacks: Boolean): Unit = {
    val sc = spark.sparkContext
    val jobs = new Jobs
    // (epoch ms, frame key) of every RUNNABLE executor task thread
    val samples = new ConcurrentLinkedQueue[(Long, String)]
    @volatile var sampling = stacks
    val sampler = new Thread(() => while (sampling) {
      Thread.getAllStackTraces.forEach { (t, st) =>
        if (t.getName.startsWith("Executor task launch") && st.nonEmpty &&
            t.getState == Thread.State.RUNNABLE) {
          // leaf-ish attribution: topmost frame plus first graft/spark frame
          val top = st.take(24).map(_.toString)
          val anchor = top.find(f => f.startsWith("graft.") ||
            f.startsWith("org.apache.spark.sql.execution") ||
            f.startsWith("org.apache.spark.sql.catalyst"))
          samples.add(System.currentTimeMillis() -> (top.head + anchor.fold("")("  <=  " + _)))
        }
      }
      Thread.sleep(5)
    })
    sampler.setDaemon(true)
    sc.addSparkListener(jobs)
    val passes = try {
      if (stacks) sampler.start()
      val ps = Queries.timeRows(spark, rows, sfDir, Seq(sfDir), 3)()
      // every job event reaches the listener before this marker job's start
      sc.setJobDescription("profile marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.byId.values.asScala.exists(_.desc == "profile marker") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      ps
    } finally { sampling = false; sc.removeSparkListener(jobs) }

    rows.foreach { n =>
      val runs = passes.map(_((n, sfDir)))
      runs.flatMap(_.failed.toOption).headOption.foreach(e => println(s"[$n] failed: $e"))
      val good = runs.flatMap(_.toOption)
      if (good.nonEmpty) {
        val secs = good.map(_.seconds)
        println(f"$n%-22s median=${secs.sorted.apply(secs.size / 2)}%.3f " +
          s"runs=${secs.map(r => f"$r%.3f").mkString(",")}")
        val last = good.last
        def inLast(ms: Long) = ms >= last.startMs && ms <= last.endMs
        if (stacks) {
          val frames = samples.asScala.toSeq.filter(s => inLast(s._1)).map(_._2)
          println(s"=== $n last run: ${frames.size} samples ===")
          frames.groupBy(identity).toSeq.map { case (k, v) => (v.size, k) }
            .sortBy(-_._1).take(40).foreach { case (c, k) => println(f"$c%6d  $k") }
        } else {
          val js = jobs.byId.values.asScala.toSeq.filter(j => inLast(j.t0)).sortBy(_.t0)
          val wall = (last.endMs - last.startMs) / 1e3
          val jobWall = js.filter(_.t1 > 0).map(j => (j.t1 - j.t0) / 1e3).sum
          println(f"=== $n last run: wall=$wall%.3f engine=${last.seconds}%.3f " +
            f"jobs=${js.size} jobWall=$jobWall%.3f driverGap=${wall - jobWall}%.3f ===")
          js.foreach { j =>
            val d = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
            println(f"  job ${j.id}%3d $d%7.3f s stages=${j.stages}%2d " +
              f"tasks=${j.tasks}%3d taskTime=${j.taskTimeMs / 1e3}%7.3f " +
              f"shufR=${j.shufReadB / 1e6}%8.2fMB shufW=${j.shufWriteB / 1e6}%8.2fMB " +
              f"in=${j.inputB / 1e6}%8.2fMB  ${j.desc.take(60)}")
          }
        }
      }
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    def dump(name: String, df: DataFrame): Unit = {
      val s = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"$name.txt"), s.getBytes(StandardCharsets.UTF_8))
      println(s"[plan] wrote $outDir/$name.txt")
    }
    // batch-shaped stored-reference fixtures, with the stream rows' params
    lazy val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    lazy val batch = docs.filter(col("doc_id") % 40 === 0)
    val windows = SubstringWindowStore.Params(k = 10)
    lazy val winRoot = Queries.fixtureDir("plan_win", sfDir)(
      SubstringWindowStore.build(docs, "doc_id", "text", _, "base", windows))
    lazy val sigRoot = Queries.fixtureDir("plan_sig", sfDir)(
      SignatureStore.build(docs, "doc_id", "text", _, "ref"))
    lazy val lmRoot = Queries.fixtureDir("plan_lm", sfDir)(
      LmStore.build(docs, "doc_id", "text", _, "train"))
    rows.foreach {
      case n @ "stream_drop_spans_inner" =>
        dump(n, Dedup.dropSharedSpansAgainstStored(
          batch, "doc_id", "text", spark, winRoot, "base", windows))
      case n @ "stream_dedup_substring_inner" =>
        dump(n, Dedup.substringPairsAgainstStored(
          batch, "doc_id", "text", spark, winRoot, "base", windows))
      case n @ "stream_dedup_ref_inner" =>
        dump(n, Dedup.minhashPairsAgainstStored(batch, "doc_id", "text",
          SignatureStore.bands(spark, sigRoot, "ref"),
          SignatureStore.shingleHashes(spark, sigRoot, "ref"),
          shingleWords = 3, numHashes = 12, numBands = 4, minJaccardE4 = 5000))
      case n @ "stream_nll_stored_inner" =>
        dump(n, LmStore.score(spark, lmRoot, "train", batch, "doc_id", "text"))
      case n =>
        dump(n, graft.SparkEntry.queries(n)(spark, sfDir))
    }
  }
}
