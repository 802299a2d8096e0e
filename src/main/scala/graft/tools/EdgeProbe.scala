package graft.tools

import graft.GraftSession
import graft.Tables
import graft.engine.FossilEngine
import graft.Queries

/** One-off FQL edge-semantics probes (numeric truthiness, unary ops,
  * subscripts, composite keys). */
object EdgeProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val eng = FossilEngine.over(
      Tables.eventEntries(spark, "/root/testdata/sf0.001"),
      Tables.eventsCatalog, Queries.fixedClock)
    Seq(
      "all in /events | map x -> x - 100 | filter v -> v",  // numeric truthiness
      "all in /events | map x -> -x",                        // unary minus
      "all in /events | map x -> +x",                        // unary plus
      "all in /events | map x -> 1, x * 2 | map t -> t[1]",  // tuple subscript via 1 arg
      "all in /events | map x -> \"a\": x, \"b\": 2 | map c -> c[\"a\"] + c[\"b\"]",
      "all in /events | map x -> max(x, 1, 2, 3)",           // multi-arg max
      "all in /events | filter v -> v > 100 == (v > 100)",   // bool equality
    ).foreach { q =>
      try {
        val n = eng.query(q).count()
        println(s"OK   [$q] -> $n rows")
      } catch { case e: Exception => println(s"ERR  [$q] -> ${e.getMessage}") }
    }
    spark.stop()
  }
}
