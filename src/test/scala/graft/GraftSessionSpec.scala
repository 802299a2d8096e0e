package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session seam: one place builds sessions, and it builds them the
  * same way for every main and for the test harness. */
class GraftSessionSpec extends SparkSpec {

  private val CkptChecksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  test("no source outside GraftSession builds its own SparkSession") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    def scalaFiles(root: String): Seq[Path] = {
      val stream = Files.walk(Paths.get(root))
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    }
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files.filter { f =>
      f.getFileName.toString != "GraftSession.scala" &&
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8).contains(needle)
    }
    assert(offenders.isEmpty, s"builder chains outside the seam: ${offenders.mkString(", ")}")
  }

  test("local(4): local[4], 4 shuffle partitions, UTC, UI off") {
    val s = GraftSession.local(4)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  test("harness turns checkpoint CRC sidecars off; the test session keeps Spark's default") {
    assume(!sys.env.contains("GRAFT_CKPT_CHECKSUM"))
    // TestSpark is built by local(4): no CRC setting, Spark's default (on)
    assert(!spark.sparkContext.getConf.contains(CkptChecksum))
    assert(spark.conf.get(CkptChecksum) == "true")
    // the one test JVM holds one session, so harness() reconfigures it:
    // undo that before any other suite runs a checkpointed stream
    try assert(GraftSession.harness(4).conf.get(CkptChecksum) == "false")
    finally spark.conf.unset(CkptChecksum)
    assert(spark.conf.get(CkptChecksum) == "true")
  }
}
