package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its own calls into the library,
  * plus what Spark's public listeners report. Everything stays in memory
  * until the run ends. When tracing is off, [[span]] only runs its body,
  * so untraced runs pay nothing for it. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opOf = new ThreadLocal[String]

  /** Run `body` as one operation: spans opened inside it carry `op`. */
  def op[A](op: String, name: String)(body: => A): A = {
    val prev = opOf.get
    opOf.set(op)
    try span(name)(body) finally opOf.set(prev)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, Option(opOf.get).getOrElse(""), name, start, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Mean duration in ms of the spans called `name` (0 when none ran). */
  def meanMs(name: String): Double = {
    val d = all.filter(_.name == name).map(_.durNs)
    if (d.isEmpty) 0.0 else d.sum / d.size / 1e6
  }

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of it its child spans cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.durNs).sum
      val self = ss.map(s => s.durNs - covered(byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum
      (name, ss.size, total / 1e6, self / 1e6)
    }.sortBy(-_._4)
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, op: String, name: String, start: Long, end: Long) {
    def durNs: Long = end - start
  }

  /** Length of the union of `[start, end)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters over a window of sequential operations, from the
  * public listener interfaces. Times are wall-clock ms as Spark reports
  * them; each finished job, task and query execution is kept so it can be
  * attributed to the operation whose interval contains it. */
final class SparkCounters(spark: SparkSession) {
  import SparkCounters._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Task(e.taskInfo.finishTime, e.stageId, e.taskInfo.duration,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execs.add(Exec(System.currentTimeMillis(),
        qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Progress(e.progress.batchId, System.currentTimeMillis(),
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        e.progress.numInputRows))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait (at most 5 s) until no
    * job is open and the event counts have stopped changing. */
  def flush(): Unit = {
    def seen = (jobs.size, tasks.size, execs.size, progress.size)
    val deadline = System.nanoTime() + 5000000000L
    var last = seen
    var stable = false
    while (!stable && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val now = seen
      stable = now == last && jobStarts.isEmpty
      last = now
    }
  }

  private def inside(ops: Seq[(Long, Long)], t: Long) = ops.exists { case (s, e) => t >= s && t <= e }

  /** Input records read by the tasks that finished inside the intervals. */
  def recordsRead(ops: Seq[(Long, Long)]): Long = {
    flush()
    tasks.asScala.filter(t => inside(ops, t.end)).map(_.records).sum
  }

  /** Spark figures for a set of operation intervals `[startMs, endMs]`:
    * per operation means of jobs, tasks, planning time and the driver gap
    * (operation wall minus the union of its job intervals), and totals of
    * task CPU, GC, shuffle and spill, plus the worst per-stage skew. */
  def summarize(ops: Seq[(Long, Long)]): Map[String, Double] = {
    flush()
    val js = jobs.asScala.toSeq.filter(j => inside(ops, j.start))
    val ts = tasks.asScala.toSeq.filter(t => inside(ops, t.end))
    val xs = execs.asScala.toSeq.filter(x => inside(ops, x.end))
    val n = math.max(1, ops.size).toDouble
    val gapMs = ops.map { case (s, e) =>
      val mine = js.filter(j => j.start >= s && j.start <= e).map(j => (j.start, math.min(j.end, e)))
      (e - s) - Trace.covered(mine)
    }.sum
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs).sorted
      val med = d(d.size / 2).toDouble
      if (med <= 0) 1.0 else d.last / med
    }
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.plan_ms" -> xs.map(_.planMs).sum / n,
      "spark.driver_gap_ms" -> gapMs / n,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
      "spark.spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }
}

object SparkCounters {
  final case class Job(start: Long, end: Long)
  final case class Task(end: Long, stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, records: Long)
  final case class Exec(end: Long, planMs: Double)
  final case class Progress(batchId: Long, arrivedMs: Long, durations: Map[String, Long], rows: Long)
}

/** Minimal JSON writing for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
