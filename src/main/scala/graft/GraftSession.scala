package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains and test harness build a SparkSession.
  * Every session is `local[cpus]` with `cpus` shuffle partitions, UTC
  * session time and the UI off, logging at ERROR (callers that want a
  * different level set it afterwards). */
object GraftSession {

  /** Core count of the battery harnesses and the store tools:
    * `SPARK_GRAFT_CPUS`, default 4 (the Bench/Verify driver contract). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = create(cpus, Map.empty)

  /** [[local]] for the battery harnesses (Bench, Verify and the timing
    * tools), with checkpoint CRC sidecars off unless `GRAFT_CKPT_CHECKSUM`
    * says otherwise. Spark 4.1's checkpoint-file CRC sidecars
    * (fileChecksum.enabled defaults true) route every
    * state/offset/commit/sink-metadata file close through a per-manager
    * checksum thread pool — r18 profiling showed the battery's stateful
    * micro-batch tasks spending 85-95% of their executorRunTime parked in
    * ChecksumCancellableFSDataOutputStream.close (32 tasks × ~3.5 s on a
    * ~2k-row batch). The engine's exactly-once contract rests on
    * idempotent batch IDs + atomic log renames, not CRC sidecars;
    * integrity of checkpoint bytes belongs to the checkpoint filesystem
    * (HDFS/S3 already checksum). Only the battery runs checkpointed
    * streams among the mains, so the servers and tools keep Spark's
    * default, as embedding sessions do. */
  def harness(cpus: Int): SparkSession =
    create(cpus, Map("spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
      sys.env.getOrElse("GRAFT_CKPT_CHECKSUM", "false")))

  private def create(cpus: Int, extra: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
