package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.Queries
import graft.SparkSpec

/** `tools.Profile` driven in-process on sf0.001, one cheap row per mode,
  * and the tools README kept in step with the mains under `tools/`. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def profile(args: String*): Seq[String] = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(Profile.run(spark, Profile.parse(args)))
    new String(out.toByteArray, StandardCharsets.UTF_8).linesIterator.toSeq
  }

  test("default mode prints the median line and the last run's job table") {
    val lines = profile(sf, "fql_avg")
    assert(lines.exists(_.matches("""fql_avg\s+median=\d+\.\d{3} runs=(\d+\.\d{3},){2}\d+\.\d{3}""")),
      lines.mkString("\n"))
    val header = lines.indexWhere(_.startsWith("=== fql_avg last run: wall="))
    assert(header >= 0, lines.mkString("\n"))
    assert(!lines(header).contains("jobs=0 "), lines(header))
    assert(lines.lift(header + 1).exists(_.trim.startsWith("job ")), lines.mkString("\n"))
  }

  test("--stacks prints the median line and the sampled frame table") {
    val lines = profile(sf, "fql_avg", "--stacks")
    assert(lines.exists(_.startsWith("fql_avg ")), lines.mkString("\n"))
    assert(lines.exists(_.matches("""=== fql_avg last run: \d+ samples ===""")),
      lines.mkString("\n"))
  }

  test("--plan writes the row's plan and a stream row's inner plan") {
    val out = Paths.get(Queries.scratchDir("graft_profile_plan"))
    profile(sf, "fql_avg", "stream_nll_stored_inner", "--plan", out.toString)
    Seq("fql_avg.txt", "stream_nll_stored_inner.txt").foreach { f =>
      val txt = new String(Files.readAllBytes(out.resolve(f)), StandardCharsets.UTF_8)
      assert(txt.contains("== Physical Plan =="), f)
    }
  }

  test("missing or malformed arguments give the usage line") {
    Seq(Seq(), Seq(sf), Seq(sf, "--stacks"), Seq(sf, "fql_avg", "--plan"),
      Seq(sf, "fql_avg", "--stacks", "--plan", "/tmp/x"), Seq(sf, "fql_avg", "--bogus"))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](Profile.parse(args))
        assert(e.getMessage.contains(Profile.Usage), args)
      }
  }

  test("tools/README.md lists exactly the mains under tools/") {
    val dir = Paths.get("src/main/scala/graft/tools")
    // an object owns a `def main` when no other object starts between them
    val ObjectOrMain = """(?m)^object (\w+)|def main\(""".r
    val mains = Files.list(dir).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala")).flatMap { (p: Path) =>
        val src = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        val hits = ObjectOrMain.findAllMatchIn(src).toSeq
        hits.zip(hits.drop(1)).collect {
          case (o, m) if o.group(1) != null && m.group(1) == null => o.group(1)
        }
      }.toSet
    val readme = new String(Files.readAllBytes(dir.resolve("README.md")), StandardCharsets.UTF_8)
    val listed = """(?m)^- \*\*(\w+)\*\*""".r.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(mains.nonEmpty)
    assert(listed == mains, s"README lists ${listed.toSeq.sorted}, mains ${mains.toSeq.sorted}")
  }
}
