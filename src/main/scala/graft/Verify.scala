package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: restrict to named queries (local iteration only;
    // the driver always invokes with exactly 2)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.harness(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // testdata-drift preflight: name the drift in ONE line before it can
    // silently fail dozens of queries (round 9: ts unit change → 34 rows
    // vanished from the correctness compare with no direct diagnostic).
    // Proceed regardless — partial results beat none; absorbed drift (e.g.
    // a ts unit the Tables reader normalizes) is informational only.
    Preflight.check(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.walk(p)) { s =>
          s.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
        }
      }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a reused outDir must not present a PREVIOUS run's parquet as this
        // run's result — a regression would read as a false pass. Delete
        // whatever exists (possibly a partial overwrite) so the compare
        // reports the query as missing/failed instead.
        try deleteRecursively(Paths.get(outDir, name))
        catch { case d: Throwable =>
          System.err.println(s"[verify] $name stale-output cleanup failed: ${d.getMessage}")
        }
      }
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
