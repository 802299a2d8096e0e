package graft.tools

import graft.GraftSession

/** In-process stack sampler for one battery row: while the query runs, a
  * daemon thread samples every live "Executor task launch worker" (and
  * optionally all) thread stacks at ~5 ms and prints the most frequent
  * frames afterwards — a poor-man's flamegraph for deciding WHERE a row's
  * executorRunTime actually goes (guide §7.3 applied in-process, where
  * jstack timing races the short-lived forked JVM). Drive with:
  *   sbt "runMain graft.tools.HotSpots <sfDir> <query> [threadPrefix]"
  */
object HotSpots {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val prefix = if (args.length > 2) args(2) else "Executor task launch"
    val spark = GraftSession.harness(GraftSession.cpus)

    // warm-up like Bench
    try graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    catch { case e: Throwable => println(s"[warm $name] $e") }

    val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]
    val sampledSomething = new java.util.concurrent.atomic.LongAdder
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          if (t.getName.startsWith(prefix) && st.nonEmpty &&
              t.getState == Thread.State.RUNNABLE) {
            sampledSomething.increment()
            // leaf-ish attribution: topmost frame plus first graft/spark frame
            val top = st.take(24).map(_.toString)
            val leaf = top.head
            val anchor = top.find(f =>
              f.startsWith("graft.") || f.startsWith("org.apache.spark.sql.execution") ||
              f.startsWith("org.apache.spark.sql.catalyst")).getOrElse("")
            val key = leaf + (if (anchor.nonEmpty) s"  <=  $anchor" else "")
            counts.computeIfAbsent(key, _ => new java.util.concurrent.atomic.LongAdder).increment()
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    stop = true
    Thread.sleep(30)
    import scala.jdk.CollectionConverters._
    println(f"\n=== $name wall=$wall%.3f samples=${sampledSomething.sum()} (prefix='$prefix') ===")
    counts.asScala.toSeq.sortBy(-_._2.sum()).take(40).foreach { case (k, v) =>
      println(f"${v.sum()}%6d  $k")
    }
    spark.stop()
  }
}
