package graft.tools

import graft.GraftSession

/** Replicates the driver's smoke check: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = graft.SparkEntry.entry(spark)
    println(s"entry() rows = ${df.count()}")
    df.show(3, truncate = false)
    spark.stop()
  }
}
