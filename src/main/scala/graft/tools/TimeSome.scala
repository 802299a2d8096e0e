package graft.tools

import graft.GraftSession

/** Quick targeted timings: runMain graft.tools.TimeSome <sfDir> q1 q2 ... */
object TimeSome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeSome <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.harness(GraftSession.cpus)
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // same harness accounting as Bench: streaming replay rows charge
    // fixture I/O to Queries.harnessNs, subtracted from the wall so the
    // printed number is engine time
    def harnessOf(n: String): Long =
      Option(graft.Queries.harnessNs.get(n)).map(_.sum()).getOrElse(0L)
    names.foreach { n =>
      val runs = (0 until 3).map { _ =>
        val h0 = harnessOf(n)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9 - (harnessOf(n) - h0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"$n%-22s median=${runs.sorted.apply(1)}%.3f runs=${runs.map(r => f"$r%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
