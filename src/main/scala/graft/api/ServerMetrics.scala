package graft.api

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics

/** Server-side operational metrics — reference parity with the fossil
  * metrics store (`pkg/server/metrics.go:19-28`):
  *
  *  - `fossil_client_connections` counter (`mux.go:91` increments on every
  *    accepted connection);
  *  - `fossil_requests{database,cmd}` counter vector (`server.go:76`);
  *  - `fossil_response_ns{database,cmd}` histogram with the reference's
  *    2 ms .. 38 ms bucket ladder (`metrics.go:50-53`: 2·i ms for
  *    i ∈ [1, 19], observed in nanoseconds; `server.go:77`).
  *
  * The reference registers these in a Prometheus registry and serves them
  * over promhttp; this store keeps the same names/labels/semantics and
  * [[render]]s the standard Prometheus text exposition format (v0.0.4, the
  * same bytes a promhttp endpoint emits), served both as the `METRICS`
  * wire command and an optional plain-HTTP `/metrics` endpoint on
  * [[WireServer]]. Counters are `LongAdder`s — the store sits on every
  * request of a thread-per-connection server, so contended atomics matter
  * more than read cost (reads only happen when scraped). */
final class ServerMetrics {
  import ServerMetrics.BucketsNs

  private val connections = new LongAdder

  private final class Histo {
    val buckets: Array[LongAdder] = Array.fill(BucketsNs.length)(new LongAdder)
    val sum = new LongAdder
    val count = new LongAdder
  }
  private val requests = new ConcurrentHashMap[(String, String), LongAdder]
  private val responses = new ConcurrentHashMap[(String, String), Histo]
  // per-database store-shape collectors, read at SCRAPE time like the
  // reference's dbStatsCollector.Collect (`pkg/server/dbmetrics.go:73-77`
  // calls db.Stats() per scrape rather than maintaining pushed counters)
  private val dbShapes =
    new ConcurrentHashMap[String, () => ServerMetrics.DbShape]

  def incClientConnection(): Unit = connections.increment()

  /** Register a per-database shape collector — the analog of
    * `NewDBStatsCollector` (`pkg/server/dbmetrics.go:21-48`): exports
    * `fossil_database_segments` / `fossil_database_topics` gauges labeled
    * `db_name`, evaluated lazily on every scrape. */
  def registerDatabase(name: String, shape: () => ServerMetrics.DbShape): Unit =
    dbShapes.put(name, shape)

  def incRequests(db: String, cmd: String): Unit =
    requests.computeIfAbsent((db, cmd), _ => new LongAdder).increment()

  def observeResponseNs(db: String, cmd: String, ns: Long): Unit = {
    val h = responses.computeIfAbsent((db, cmd), _ => new Histo)
    // Buckets store NON-cumulative counts (one increment per observation,
    // in the first bucket with ns <= le); [[render]] cumulates at scrape
    // time. Binary search for the first bucket whose upper bound holds ns;
    // observations above the ladder land only in +Inf (count).
    var lo = 0
    var hi = BucketsNs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ns <= BucketsNs(mid)) hi = mid else lo = mid + 1
    }
    if (lo < BucketsNs.length) h.buckets(lo).increment()
    h.sum.add(ns)
    h.count.increment()
  }

  // -- scrape/test accessors --
  def connectionCount: Long = connections.sum()
  def requestCount(db: String, cmd: String): Long =
    Option(requests.get((db, cmd))).map(_.sum()).getOrElse(0L)
  def responseCount(db: String, cmd: String): Long =
    Option(responses.get((db, cmd))).map(_.count.sum()).getOrElse(0L)
  def responseSumNs(db: String, cmd: String): Long =
    Option(responses.get((db, cmd))).map(_.sum.sum()).getOrElse(0L)

  /** Prometheus text exposition (format v0.0.4) of the full registry.
    * Label order and metric names mirror the reference definitions; keys
    * render sorted so scrapes are deterministic. */
  def render: String = {
    val sb = new StringBuilder
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    def labels(db: String, cmd: String) =
      s"""{database="${esc(db)}",cmd="${esc(cmd)}"}"""
    sb ++= "# HELP fossil_client_connections The total number of client connections\n"
    sb ++= "# TYPE fossil_client_connections counter\n"
    sb ++= s"fossil_client_connections ${connections.sum()}\n"
    import scala.jdk.CollectionConverters.{ConcurrentMapHasAsScala, ListHasAsScala}
    if (!dbShapes.isEmpty) {
      val shapes = dbShapes.asScala.toSeq.sortBy(_._1)
        .map { case (name, f) => (name, f()) }
      sb ++= "# HELP fossil_database_segments Number of segments in the database.\n"
      sb ++= "# TYPE fossil_database_segments gauge\n"
      shapes.foreach { case (name, s) =>
        sb ++= s"""fossil_database_segments{db_name="${esc(name)}"} ${s.segments}\n"""
      }
      sb ++= "# HELP fossil_database_topics Number of topics in the database.\n"
      sb ++= "# TYPE fossil_database_topics gauge\n"
      shapes.foreach { case (name, s) =>
        sb ++= s"""fossil_database_topics{db_name="${esc(name)}"} ${s.topics}\n"""
      }
      sb ++= "# HELP fossil_store_footer_reads_total Parquet footers the store's file index read.\n"
      sb ++= "# TYPE fossil_store_footer_reads_total counter\n"
      shapes.foreach { case (name, s) =>
        sb ++= s"""fossil_store_footer_reads_total{db_name="${esc(name)}"} ${s.footerReads}\n"""
      }
      sb ++= "# HELP fossil_store_files_pruned_total Store files a query's time bounds kept out of its scan.\n"
      sb ++= "# TYPE fossil_store_files_pruned_total counter\n"
      shapes.foreach { case (name, s) =>
        sb ++= s"""fossil_store_files_pruned_total{db_name="${esc(name)}"} ${s.filesPruned}\n"""
      }
    }
    // JVM runtime section — the reference mounts a full Go runtime
    // collector in the same registry (`pkg/server/metrics.go:43-47`,
    // collectors.NewGoCollector); heap/GC/threads via java.lang.management
    // are the JVM analog, read per scrape like any Prometheus collector
    locally {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      val heap = mem.getHeapMemoryUsage
      val nonHeap = mem.getNonHeapMemoryUsage
      sb ++= "# HELP jvm_memory_heap_used_bytes Used bytes of the JVM heap\n"
      sb ++= "# TYPE jvm_memory_heap_used_bytes gauge\n"
      sb ++= s"jvm_memory_heap_used_bytes ${heap.getUsed}\n"
      sb ++= "# HELP jvm_memory_heap_max_bytes Max bytes of the JVM heap (-1 if undefined)\n"
      sb ++= "# TYPE jvm_memory_heap_max_bytes gauge\n"
      sb ++= s"jvm_memory_heap_max_bytes ${heap.getMax}\n"
      sb ++= "# HELP jvm_memory_nonheap_used_bytes Used bytes of JVM non-heap memory\n"
      sb ++= "# TYPE jvm_memory_nonheap_used_bytes gauge\n"
      sb ++= s"jvm_memory_nonheap_used_bytes ${nonHeap.getUsed}\n"
      val gcs = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.toSeq.sortBy(_.getName)
      sb ++= "# HELP jvm_gc_collections_total Cumulative GC collection count per collector\n"
      sb ++= "# TYPE jvm_gc_collections_total counter\n"
      gcs.foreach { gc =>
        sb ++= s"""jvm_gc_collections_total{gc="${esc(gc.getName)}"} ${math.max(0L, gc.getCollectionCount)}\n"""
      }
      sb ++= "# HELP jvm_gc_collection_time_ms_total Cumulative GC time per collector in milliseconds\n"
      sb ++= "# TYPE jvm_gc_collection_time_ms_total counter\n"
      gcs.foreach { gc =>
        sb ++= s"""jvm_gc_collection_time_ms_total{gc="${esc(gc.getName)}"} ${math.max(0L, gc.getCollectionTime)}\n"""
      }
      val threads = java.lang.management.ManagementFactory.getThreadMXBean
      sb ++= "# HELP jvm_threads_current Current live JVM thread count\n"
      sb ++= "# TYPE jvm_threads_current gauge\n"
      sb ++= s"jvm_threads_current ${threads.getThreadCount}\n"
      sb ++= "# HELP jvm_threads_daemon Current daemon JVM thread count\n"
      sb ++= "# TYPE jvm_threads_daemon gauge\n"
      sb ++= s"jvm_threads_daemon ${threads.getDaemonThreadCount}\n"
      // the cost of generated code: classes Spark compiled with Janino,
      // then the JIT's time compiling them (and everything else) to
      // machine code. Both count the whole JVM, not just this server.
      sb ++= "# HELP jvm_codegen_compiles_total Classes Spark's code generator compiled, JVM-wide\n"
      sb ++= "# TYPE jvm_codegen_compiles_total counter\n"
      sb ++= s"jvm_codegen_compiles_total ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount}\n"
      Option(java.lang.management.ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported).foreach { jit =>
          sb ++= "# HELP jvm_jit_compile_seconds_total Time the JIT spent compiling, JVM-wide\n"
          sb ++= "# TYPE jvm_jit_compile_seconds_total counter\n"
          sb ++= s"jvm_jit_compile_seconds_total ${jit.getTotalCompilationTime / 1000.0}\n"
        }
    }
    sb ++= "# HELP fossil_requests Request counts for the fossil commands\n"
    sb ++= "# TYPE fossil_requests counter\n"
    import scala.jdk.CollectionConverters._
    requests.asScala.toSeq.sortBy(_._1).foreach { case ((db, cmd), n) =>
      sb ++= s"fossil_requests${labels(db, cmd)} ${n.sum()}\n"
    }
    sb ++= "# HELP fossil_response_ns Response times on commands made against a database\n"
    sb ++= "# TYPE fossil_response_ns histogram\n"
    responses.asScala.toSeq.sortBy(_._1).foreach { case ((db, cmd), h) =>
      val base = s"""database="${esc(db)}",cmd="${esc(cmd)}""""
      var cum = 0L
      BucketsNs.zipWithIndex.foreach { case (le, i) =>
        cum += h.buckets(i).sum()
        sb ++= s"""fossil_response_ns_bucket{$base,le="$le"} $cum\n"""
      }
      sb ++= s"""fossil_response_ns_bucket{$base,le="+Inf"} ${h.count.sum()}\n"""
      sb ++= s"fossil_response_ns_sum{$base} ${h.sum.sum()}\n"
      sb ++= s"fossil_response_ns_count{$base} ${h.count.sum()}\n"
    }
    sb.result()
  }
}

object ServerMetrics {
  /** 2 ms .. 38 ms in 2 ms steps, in nanoseconds — the reference ladder
    * (`pkg/server/metrics.go:50-53`). */
  val BucketsNs: Array[Long] = (1 until 20).map(i => 2L * i * 1000000L).toArray

  /** Store shape reported by a per-database collector — the analog of the
    * reference's `database.Stats()` fields the dbStatsCollector exports
    * (`pkg/server/dbmetrics.go:73-77`): data file count (the segment
    * analog of a Parquet store) and registered topic count; then, with no
    * reference counterpart, the store file index's footer reads and the
    * files query time bounds pruned, both since the store opened. */
  final case class DbShape(segments: Long, topics: Long, footerReads: Long, filesPruned: Long)
}
