package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM, sequential sbt test). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs submitted while `body` runs, by this thread or by threads
    * it starts (they inherit its local properties). */
  def jobsDuring(body: => Unit): Int = jobPropertiesDuring(body).size

  /** The properties of each Spark job submitted while `body` runs, by this
    * thread or by threads it starts, in submission order. A marker job
    * submitted afterwards is awaited, so every earlier job event has been
    * delivered. */
  def jobPropertiesDuring(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val id = java.util.UUID.randomUUID().toString
    val marker = s"$id-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    def isMarker(p: java.util.Properties) = p.getProperty("spark.job.description") == marker
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == id) seen.add(e.properties)
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
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(isMarker), "marker job never reached the listener")
      seen.asScala.toSeq.filterNot(isMarker)
    } finally sc.removeSparkListener(listener)
  }
}
