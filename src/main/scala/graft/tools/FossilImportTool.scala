package graft.tools

import graft.GraftSession
import graft.engine.ParquetStore
import graft.sources.FossilDatabase

/** Offline import CLI: read a native fossil database directory (gob/zlib
  * v2 or v1 layout + WAL tail) into a ParquetStore root.
  *
  *   sbt "runMain graft.tools.FossilImportTool <fossilDir> <storeRoot>"
  *
  * Prints a one-line summary (topics, entries, corrupt WAL lines skipped)
  * and exits nonzero on failure. The heavy lifting — distributed gob
  * decode over segment files, wire-codec value decode, schema-grouped
  * parquet writes — is [[FossilDatabase.importInto]]. */
object FossilImportTool {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: FossilImportTool <fossilDir> <storeRoot>")
    val Array(fossilDir, storeRoot) = args
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      val (topics, entries, skipped) =
        FossilDatabase.importInto(spark, fossilDir, new ParquetStore(spark, storeRoot))
      println(s"imported $entries entries across $topics topics" +
        (if (skipped > 0) s" ($skipped corrupt WAL lines skipped)" else ""))
    } finally spark.stop()
  }
}
