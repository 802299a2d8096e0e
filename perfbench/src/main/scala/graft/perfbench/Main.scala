package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <serve_follow|curate_batch> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--tiny]
  *
  * Runs one workload in this JVM and writes `<work>/result.json` (and, when
  * tracing, `<work>/spans.jsonl`). Correctness checks that need no second
  * engine run here; the DuckDB oracle comparison runs in `run.py`. */
object Main {

  /** What one workload run reports back. `e2e` holds the figures a user
    * of the system sees; `layer` the per-module figures of a traced run. */
  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val checkFailures = mutable.ArrayBuffer.empty[String]
    val failuresByOp = mutable.LinkedHashMap.empty[String, Long]
    var attempted = 0L
    var failed = 0L

    def check(ok: Boolean, what: => String): Unit = if (!ok) checkFailures += what
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, tiny: Boolean)

  /** Each workload sets up its inputs `setups` times (the set-up time is
    * the median of those) and then measures on the last one. */
  trait Workload {
    type State
    def setup(spark: SparkSession, a: Args, dir: String): State
    def warmup(spark: SparkSession, a: Args, s: State): Unit
    /** Runs the measured operations. When tracing, `counters` is listening
      * and the workload adds its per-module figures to `r.layer`. */
    def measure(spark: SparkSession, a: Args, s: State, trace: Trace,
        counters: SparkCounters, r: Result): Unit
    def close(s: State): Unit
  }

  val workloads: Map[String, Workload] = Map(
    "serve_follow" -> ServeFollow, "curate_batch" -> CurateBatch)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w (known: ${workloads.keys.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"),
      argv.contains("--tiny"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // checkpoint CRC sidecars off, as in the project's own bench sessions
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads (JIT and GC too). The
    * kernel does not count time the host took the virtual CPUs away. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent compiling, summed over their
    * threads: part of what [[cpuS]] counts. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Progress line for the JVM log, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - t0Ms) / 1e3}%8.2f] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(a.work).getAbsolutePath
    new File(work).mkdirs()
    val spark = session(work)
    val jvmToSessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val jvmToSessionCpuS = cpuS()
    val w = workloads(a.workload)
    val trace = new Trace(a.trace)
    val r = new Result
    try {
      // several set-ups per run, so set-up time is a median like the rest
      val setups = if (a.tiny) 1 else 3
      val setupTimes = mutable.ArrayBuffer.empty[Double]
      val setupCpu = mutable.ArrayBuffer.empty[Double]
      var state: Option[w.State] = None
      for (i <- 0 until setups) {
        state.foreach(w.close)
        val t0 = System.nanoTime()
        val c0 = cpuS()
        state = Some(w.setup(spark, a, s"$work/setup$i"))
        setupTimes += (System.nanoTime() - t0) / 1e9
        setupCpu += cpuS() - c0
        note(f"setup $i: ${setupTimes.last}%.2f s")
      }
      val t0 = System.nanoTime()
      val c0 = cpuS()
      w.warmup(spark, a, state.get)
      val warmS = (System.nanoTime() - t0) / 1e9
      val warmCpuS = cpuS() - c0
      note(f"warm-up: $warmS%.2f s")
      // CPU time, as op_cpu_ms is; the wall time is reported beside it
      r.e2e("setup_s") = jvmToSessionCpuS + median(setupCpu.toSeq) + warmCpuS
      r.e2e("setup_wall_s") = jvmToSessionS + median(setupTimes.toSeq) + warmS
      r.counts("setup_repeats") = setups.toLong
      val counters = new SparkCounters(spark)
      if (a.trace) counters.start()
      try { w.measure(spark, a, state.get, trace, counters, r); note("measured") }
      finally {
        if (a.trace) counters.stop()
        w.close(state.get)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.checkFailures += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    if (a.trace) trace.writeJsonl(s"$work/spans.jsonl")
    writeResult(s"$work/result.json", a, r, trace)
    spark.stop()
    System.exit(0)
  }

  private def writeResult(path: String, a: Args, r: Result, trace: Trace): Unit = {
    def nums(m: collection.Map[String, Double]) = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val self = trace.selfTimes.map { case (n, c, tot, self) =>
      Json.obj(Seq("name" -> Json.str(n), "count" -> c.toString,
        "total_ms" -> Json.num(tot), "self_ms" -> Json.num(self)))
    }.mkString("[", ",", "]")
    val body = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "failures_by_op" -> Json.obj(r.failuresByOp.toSeq.map { case (k, v) => k -> v.toString }),
      "check_failures" -> r.checkFailures.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> nums(r.e2e),
      "layer" -> nums(r.layer),
      "counts" -> Json.obj(r.counts.toSeq.map { case (k, v) => k -> v.toString }),
      "self_times" -> self))
    val tmp = new File(path + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.println(body) finally w.close()
    tmp.renameTo(new File(path))
  }
}
