package graft.tools

import graft.GraftSession
import graft.engine.ParquetStore
import graft.sources.FossilExport

/** Offline export CLI — the inverse of [[FossilImportTool]]: write a
  * ParquetStore root back out as a fossil v2 database directory readable
  * by the native reference (and by [[graft.sources.FossilDatabase]]).
  *
  *   sbt "runMain graft.tools.FossilExportTool <storeRoot> <fossilDir>"
  */
object FossilExportTool {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: FossilExportTool <storeRoot> <fossilDir>")
    val Array(storeRoot, fossilDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      val (topics, entries) =
        FossilExport.export(spark, new ParquetStore(spark, storeRoot), fossilDir)
      println(s"exported $entries entries across $topics topics to $fossilDir")
    } finally spark.stop()
  }
}
