package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

import graft.engine.Json

/** `spark.readStream.format("fossil")` — the DSv2 micro-batch half of the
  * store connector (r17 verdict item 2). The store's append-only file
  * tree IS a replayable log: every append/streaming-ingest micro-batch
  * lands immutable parquet files under
  * `root/data/sgroup=…/topic=…/`, so a stream over the store is "the
  * files that appeared since the last offset" — exactly the contract the
  * raw-path `StreamingIngest.storeStream` file source proves, re-expressed
  * on the connector so it composes with prefix/topic/time pushdown and the
  * COMBINED value typing (one stream over mixed-width schema groups, where
  * the path-glob file source is stuck with one group per stream).
  *
  * Offsets are SELF-CONTAINED file sets: each discovered file's
  * `(path, length, topic)`. Lengths are final (files are immutable once
  * landed — the store's commit protocol renames them in whole), so a
  * checkpointed batch replans byte-identically on restart without
  * re-listing — exactly-once across restarts falls out. Offset size grows
  * with the group's LIVE file count; the deployment contract pairs
  * long-running tails with the store's compaction in a quiesced window +
  * checkpoint restart, the same rule batch readers already follow
  * (compaction swaps whole directories out from under any reader).
  *
  * Files are listed through the store's one file index
  * ([[graft.engine.StoreIndex]], shared with `ParquetStore` and the batch
  * scan). Its footer facts are JVM-wide, so a query started per drain
  * reads only the footers of files that landed since the last listing.
  *
  * Time/topic pushdown applies per micro-batch (the reader factory is the
  * batch scan's: Spark's Parquet reader with row-group time pruning and
  * column pruning); every fresh file is read, and pushed filters stay
  * residual, so pruning is never a correctness input.
  */
final class FossilMicroBatchStream(
    table: FossilTable,
    wantedTopics: Seq[String],
    pruned: StructType,
    loUs: Option[Long],
    hiUs: Option[Long])
  extends MicroBatchStream {

  import FossilMicroBatchStream._

  // resolved once at stream construction (planning happens on the driver;
  // the session is active there)
  private val maxBytes = FossilScan.maxPartitionBytes()

  override def initialOffset(): Offset = FossilStreamOffset(Seq.empty)

  override def latestOffset(): Offset =
    FossilStreamOffset(FossilScan.dataFiles(table.listFiles(wantedTopics)))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FossilStreamOffset].files.map(_.path).toSet
    val fresh = end.asInstanceOf[FossilStreamOffset].files
      .filterNot(f => seen.contains(f.path))
    FossilScan.split(table, wantedTopics, fresh, maxBytes).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FossilReaderFactory(SparkSession.active, table.groupsOf(wantedTopics),
      table.combined, pruned, loUs, hiUs)

  override def deserializeOffset(json: String): Offset =
    FossilStreamOffset(parseFiles(json))

  override def commit(end: Offset): Unit = () // files are the source of truth

  override def stop(): Unit = ()

  override def toString: String =
    s"FossilMicroBatchStream root=${table.root}, prefix=${table.prefix}, " +
      s"topics=${wantedTopics.size}"
}

private[connector] object FossilMicroBatchStream {

  /** Offset = the file set seen so far, each entry self-contained for
    * replanning (`p` path, `l` length, `t` topic). */
  final case class FossilStreamOffset(files: Seq[FossilScan.DataFile]) extends Offset {
    override def json(): String =
      files.sortBy(_.path).map { f =>
        s"""{"p":${Json.quote(f.path)},"l":${f.length},"t":${Json.quote(f.topic)}}"""
      }.mkString("[", ",", "]")
  }

  /** The file set of an offset [[FossilStreamOffset.json]] wrote. */
  def parseFiles(json: String): Seq[FossilScan.DataFile] =
    Json.objectArray(json, "fossil stream offset").map { f =>
      FossilScan.DataFile(f.string("p"), f.long("l"), f.string("t"))
    }
}
