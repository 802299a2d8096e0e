package graft.tools

import org.apache.spark.scheduler._

import graft.GraftSession

/** Per-job attribution for one battery row: wall time split into Spark job
  * time vs driver-only gaps (planning, listing, control-plane I/O), plus
  * per-job task-time/shuffle stats. Drive with:
  *   sbt "runMain graft.tools.ProfileQ <sfDir> <query> [query...]"
  * Guide §1: decide whether time goes to shuffle, compute, scheduling or
  * the driver BEFORE changing anything.
  */
object ProfileQ {
  private class Probe extends SparkListener {
    case class Job(id: Int, t0: Long, var t1: Long = -1L,
      var desc: String = "", var stages: Int = 0,
      var taskTimeMs: Long = 0L, var tasks: Int = 0,
      var shufReadB: Long = 0L, var shufWriteB: Long = 0L,
      var inputB: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time)
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      j.stages = e.stageIds.size
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val jid = stageToJob.getOrDefault(e.stageId, -1)
      val j = jobs.get(jid)
      if (j != null && e.taskMetrics != null) j.synchronized {
        j.taskTimeMs += e.taskMetrics.executorRunTime
        j.tasks += 1
        j.shufReadB += e.taskMetrics.shuffleReadMetrics.totalBytesRead
        j.shufWriteB += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        j.inputB += e.taskMetrics.inputMetrics.bytesRead
      }
    }
    def reset(): Unit = { jobs.clear(); stageToJob.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQ <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.harness(GraftSession.cpus)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)

    // warm-up like Bench: JIT + codegen caches, on the data it then profiles
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => println(s"[warm $n] $e") }
    }
    def harnessOf(n: String): Long =
      Option(graft.Queries.harnessNs.get(n)).map(_.sum()).getOrElse(0L)

    names.foreach { n =>
      probe.reset()
      val h0 = harnessOf(n)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val harness = (harnessOf(n) - h0) / 1e9
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val js = probe.jobs.values().asScala.toSeq.sortBy(_.t0)
      val jobWall = js.filter(_.t1 > 0).map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"\n=== $n wall=$wall%.3f harness=$harness%.3f " +
        f"jobs=${js.size} jobWall=$jobWall%.3f driverGap=${wall - jobWall}%.3f ===")
      js.foreach { j =>
        val d = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
        println(f"  job ${j.id}%3d ${d}%7.3f s stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%3d taskTime=${j.taskTimeMs / 1e3}%7.3f " +
          f"shufR=${j.shufReadB / 1e6}%8.2fMB shufW=${j.shufWriteB / 1e6}%8.2fMB " +
          f"in=${j.inputB / 1e6}%8.2fMB  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
