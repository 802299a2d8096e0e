package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dump `.explain("formatted")` for named battery rows (and, for the
  * foreachBatch streaming rows, their INNER per-micro-batch operator plans
  * on a batch-shaped input) to `<outDir>/<name>.txt` — the judge-facing
  * plan artifacts. Drive with:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <name> [name...]"
  * Special names: `stream_drop_spans_inner`, `stream_dedup_ref_inner`,
  * `stream_dedup_substring_inner`, `stream_nll_stored_inner` dump the
  * operator plan one micro-batch executes (the row's own returned frame is
  * just the post-hoc sink read). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <name> [name...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.local(GraftSession.cpus)

    def dump(name: String, df: DataFrame): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"$name.txt"),
        s.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/$name.txt")
    }

    lazy val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    lazy val batch = docs.filter(col("doc_id") % 40 === 0)
    // batch-shaped stored-reference fixtures (same params as the rows)
    lazy val winRoot = {
      val r = Files.createTempDirectory("graft_plandump_win").toString
      graft.operators.SubstringWindowStore.build(docs, "doc_id", "text",
        r, "base", graft.operators.SubstringWindowStore.Params(k = 10))
      r
    }
    lazy val sigRoot = {
      val r = Files.createTempDirectory("graft_plandump_sig").toString
      graft.operators.SignatureStore.build(docs, "doc_id", "text",
        r, "ref")
      r
    }
    lazy val lmRoot = {
      val r = Files.createTempDirectory("graft_plandump_lm").toString
      graft.operators.LmStore.build(docs, "doc_id", "text", r, "train")
      r
    }

    names.foreach {
      case n @ "stream_drop_spans_inner" =>
        dump(n, graft.operators.Dedup.dropSharedSpansAgainstStored(
          batch, "doc_id", "text", spark, winRoot, "base",
          graft.operators.SubstringWindowStore.Params(k = 10)))
      case n @ "stream_dedup_substring_inner" =>
        dump(n, graft.operators.Dedup.substringPairsAgainstStored(
          batch, "doc_id", "text", spark, winRoot, "base",
          graft.operators.SubstringWindowStore.Params(k = 10)))
      case n @ "stream_dedup_ref_inner" =>
        dump(n, graft.operators.Dedup.minhashPairsAgainstStored(
          batch, "doc_id", "text",
          graft.operators.SignatureStore.bands(spark, sigRoot, "ref"),
          graft.operators.SignatureStore.shingleHashes(spark, sigRoot, "ref"),
          shingleWords = 3, numHashes = 12, numBands = 4, minJaccardE4 = 5000))
      case n @ "stream_nll_stored_inner" =>
        dump(n, graft.operators.LmStore.score(spark, lmRoot, "train",
          batch, "doc_id", "text"))
      case n =>
        dump(n, graft.SparkEntry.queries(n)(spark, sfDir))
    }
    spark.stop()
  }
}
