package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.engine.FossilEngine
import graft.Tables

object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val dir = "/root/testdata/sf0.001"

    val entries = Tables.eventEntries(spark, dir)
    entries.printSchema()
    entries.show(3, false)

    val eng = FossilEngine.over(entries, Tables.eventsCatalog)
    def run(q: String): Unit = {
      println(s"== $q")
      val df = eng.query(q)
      df.show(5, false)
      println(s"rows: ${df.count()}")
    }
    run("all in /events/purchase between ~(2024/01/01), ~(2024/01/05)")
    run("all in /events | filter v -> v > 100")
    run("all in /events/click | map v -> 5/9 * (v-32)")
    run("all in /events | map v -> 1 | reduce a, b -> a + b")
    run("all in /events | map x -> 1, x | reduce a, b -> a[0] + b[0], a[1] + b[1] | map c, s -> s / c")
    run("sample(@hour) in /events")
    run("all in /events | map x -> pow(x, 2)")
    run("all in /events | filter x -> x != 100")
    spark.stop()
  }
}
