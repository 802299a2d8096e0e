package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs shaped like the project's test tables: the same
  * seed always gives the same rows, so every run of a workload sees
  * identical data and the expected answers can be computed here, outside
  * Spark and outside the library under test. */
object Data {

  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  /** 2024-01-01T00:00:00Z in µs: the events span the 30 days after it. */
  val T0Us: Long = 1704067200000000L
  val DayUs: Long = 86400L * 1000000L

  /** One events table in columnar arrays, sorted by time. Times are unique
    * µs instants, so greedy sampling and window bounds have one answer. */
  final case class Events(tUs: Array[Long], topic: Array[String], value: Array[Double]) {
    def size: Int = tUs.length
    def slice(from: Int, until: Int): Events =
      Events(tUs.slice(from, until), topic.slice(from, until), value.slice(from, until))

    def frame(spark: SparkSession): DataFrame = {
      val rows = (0 until size).map(i =>
        Row(Timestamp.from(java.time.Instant.EPOCH.plusNanos(tUs(i) * 1000L)), topic(i), value(i)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("time", TimestampType), StructField("topic", StringType),
        StructField("value", DoubleType))))
    }
  }

  /** `n` events over 30 days: uniform times, five topics `/events/<type>`,
    * values exponential with mean 50, rounded to cents. */
  def events(seed: Long, n: Int): Events = {
    val r = new scala.util.Random(seed)
    val span = 30L * DayUs
    val times = scala.collection.mutable.HashSet.empty[Long]
    while (times.size < n) times += T0Us + (r.nextDouble() * span).toLong
    val t = times.toArray.sorted
    val topic = Array.fill(n)("/events/" + EventTypes(r.nextInt(EventTypes.length)))
    val value = Array.fill(n)(math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0)
    Events(t, topic, value)
  }

  private val Vocab = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "batch", "scan", "query", "key", "a")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** Base document corpus: random texts over a 30-word vocabulary (so
    * short shingles repeat across documents, as in the test tables), with
    * every tenth document a near copy of an earlier one (three words
    * replaced) so the dedup operators find real pairs. */
  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String)] = {
    val r = new scala.util.Random(seed * 7919L + 1L)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i >= 20 && i % 10 == 0) {
          val words = texts(r.nextInt(i)).split(" ")
          (0 until 3).foreach(_ => words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.length)))
          words.mkString(" ")
        } else Seq.fill(8 + r.nextInt(68))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    (0 until n).map(i => (i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}"))
  }

  /** Base embedding corpus: 64-dim float vectors around ten cluster
    * centres, labelled by cluster. */
  def embeddings(seed: Long, n: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = new scala.util.Random(seed * 104729L + 3L)
    val centres = Array.fill(10, 64)(r.nextGaussian() * 0.12)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      (i.toLong, Array.tabulate(64)(d => (centres(label)(d) + r.nextGaussian() * 0.1).toFloat), label)
    }
  }

  /** Seeded substitution cipher per replica (replica 0 is the identity):
    * a bijection on letters keeps every within-replica shingle relation
    * while making cross-replica collisions vanishingly rare. Distinct
    * replicas always get distinct keys. */
  def cipherKeys(seed: Long, replicas: Int): IndexedSeq[String] = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val used = scala.collection.mutable.LinkedHashSet(lower)
    val r = new scala.util.Random(seed * 15485863L + 11L)
    while (used.size < replicas) used += r.shuffle(lower.toList).mkString
    used.toIndexedSeq
  }

  /** Seeded ±1 sign pattern per replica (replica 0 is all +1): an isometry
    * within each replica that scrambles cosines across replicas. */
  def signPatterns(seed: Long, replicas: Int, dim: Int): IndexedSeq[Array[Float]] = {
    val r = new scala.util.Random(seed * 32452843L + 13L)
    Array.fill(dim)(1f) +: (1 until replicas).map(_ => Array.fill(dim)(if (r.nextBoolean()) 1f else -1f))
  }

  /** Write the `replicas`× corpus (`documents.parquet`, `embeddings.parquet`)
    * under `dir`. */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long,
      baseDocs: Int, baseVecs: Int, replicas: Int): Unit = {
    val docs = documents(seed, baseDocs)
    val keys = cipherKeys(seed, replicas)
    val docRows = for {
      (key, k) <- keys.zipWithIndex
      table = ("abcdefghijklmnopqrstuvwxyz" zip key).toMap
      (id, text, lang, source) <- docs
    } yield {
      val t = text.map(c => table.getOrElse(c, c))
      Row(id + k.toLong * baseDocs, t, lang, source, t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val vecs = embeddings(seed, baseVecs)
    val vecRows = for {
      (signs, k) <- signPatterns(seed, replicas, 64).zipWithIndex
      (id, v, label) <- vecs
    } yield Row(id + k.toLong * baseVecs, v.indices.map(d => v(d) * signs(d)), label)
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 4), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
