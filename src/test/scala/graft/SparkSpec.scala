package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, sequential sbt test). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs submitted while `body` runs, by this thread or by threads
    * it starts (they inherit its local properties). A marker job submitted
    * afterwards is awaited, so every earlier job event has been delivered. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val id = java.util.UUID.randomUUID().toString
    val marker = s"$id-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == id)
          seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, id)
      try {
        body
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally {
        sc.setJobDescription(null)
        sc.setLocalProperty(key, null)
      }
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job never reached the listener")
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }
}
