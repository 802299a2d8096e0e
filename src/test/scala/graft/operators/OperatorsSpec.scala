package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.SparkSpec

/** Result-level specs for Sample / AsOfJoin / RangeJoin on small frames
  * with hand-computed expectations. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def entriesDf(rows: (Long, String, Double)*) =
    rows.toDF("t_us", "topic", "value")
      .select(timestamp_micros($"t_us").as("time"), $"topic", $"value")

  test("greedy sample keeps first then next >= last+interval, per topic") {
    // topic A at t=0,5,10,11,20s; interval 10s → keep 0,10,20
    // topic B at t=1,9,12s → keep 1,12
    val df = entriesDf(
      (0L, "A", 1), (5000000L, "A", 2), (10000000L, "A", 3),
      (11000000L, "A", 4), (20000000L, "A", 5),
      (1000000L, "B", 6), (9000000L, "B", 7), (12000000L, "B", 8))
    val kept = Sample.greedyPerTopic(df, 10L * 1000000000L)
      .select(unix_micros($"time"), $"topic").as[(Long, String)].collect().toSet
    assert(kept == Set((0L, "A"), (10000000L, "A"), (20000000L, "A"),
      (1000000L, "B"), (12000000L, "B")))
  }

  test("sub-microsecond intervals drop same-µs entries; zero keeps everything") {
    // timestamps have µs resolution: a 500 ns interval means entries in the
    // SAME µs are closer than the interval (gap 0 < 500ns → drop) while any
    // later µs qualifies — naive floorDiv gave interval 0 and kept all
    val df = entriesDf((0L, "A", 1), (0L, "A", 2), (1L, "A", 3))
    val kept = Sample.greedyPerTopic(df, 500L)
      .select(unix_micros($"time")).as[Long].collect().toSeq
    assert(kept.sorted == Seq(0L, 1L)) // one per µs
    // zero / negative interval: t >= last + d always holds → keep all
    assert(Sample.greedyPerTopic(df, 0L).count() == 3)
    assert(Sample.greedyPerTopic(df, -1000L).count() == 3)
    // the streaming twin must pin the IDENTICAL clamp: the same FQL
    // sample(d) diverging between batch and streaming is the dual-path
    // divergence class DifferentialSpec gates on (flatMapGroupsWithState
    // executes fine on a batch frame, so the comparison is direct)
    val streamKept = graft.streaming.StreamingAdapter.greedySample(df, 500L)
      .select(unix_micros($"time")).as[Long].collect().toSeq
    assert(streamKept.sorted == Seq(0L, 1L))
    assert(graft.streaming.StreamingAdapter.greedySample(df, 0L).count() == 3)
    assert(graft.streaming.StreamingAdapter.greedySample(df, -1000L).count() == 3)
    // same-µs entries given in descending value order: `value` is the last
    // sort key on both paths, so batch and streaming keep the same rows
    val ties = entriesDf((0L, "A", 3), (0L, "A", 2), (0L, "A", 1), (1L, "A", 5), (1L, "A", 4))
    def keptRows(d: org.apache.spark.sql.DataFrame) =
      d.select(unix_micros($"time"), $"value".cast("double")).as[(Long, Double)].collect().toSeq.sorted
    val streamTies = keptRows(graft.streaming.StreamingAdapter.greedySample(ties, 500L))
    assert(streamTies == Seq((0L, 1.0), (1L, 4.0)))
    assert(keptRows(Sample.greedyPerTopic(ties, 500L)) == streamTies)
    assert(keptRows(Sample.greedyGlobal(ties, 500L)) == streamTies)
  }

  test("greedy global is one carry across all topics") {
    val df = entriesDf((0L, "A", 1), (5000000L, "B", 2), (10000000L, "B", 3))
    val kept = Sample.greedyGlobal(df, 10L * 1000000000L)
      .select(unix_micros($"time")).as[Long].collect().toSet
    assert(kept == Set(0L, 10000000L))
  }

  test("bucketed sample keeps earliest per (topic, bucket)") {
    val df = entriesDf((0L, "A", 1), (5000000L, "A", 2), (10000000L, "A", 3))
    val kept = Sample.bucketed(df, 10L * 1000000000L)
      .select(unix_micros($"time")).as[Long].collect().toSet
    assert(kept == Set(0L, 10000000L))
  }

  test("as-of join attaches most recent right row at or before left time") {
    val trades = Seq((10L, "x", 100.0), (20L, "x", 101.0), (5L, "y", 50.0))
      .toDF("t_us", "sym", "px").select(timestamp_micros($"t_us").as("t"), $"sym", $"px")
    val quotes = Seq((8L, "x", 99.0), (15L, "x", 100.5), (20L, "x", 101.5))
      .toDF("q_us", "sym", "bid").select(timestamp_micros($"q_us").as("qt"), $"sym", $"bid")
    val out = AsOfJoin.lastOnOrBefore(trades, quotes, Seq("sym"), "t", "qt")
      .select($"sym", unix_micros($"t"), $"bid").as[(String, Long, Option[Double])]
      .collect().toSet
    assert(out == Set(
      ("x", 10L, Some(99.0)),   // quote@8
      ("x", 20L, Some(101.5)),  // equal time matches (inclusive <=)
      ("y", 5L, None)))         // no quote for y → left join semantics
  }

  test("forward as-of attaches first right row at or after left time") {
    val trades = Seq((10L, "x", 1.0), (20L, "x", 2.0), (5L, "y", 3.0))
      .toDF("t_us", "sym", "px").select(timestamp_micros($"t_us").as("t"), $"sym", $"px")
    val quotes = Seq((8L, "x", 99.0), (15L, "x", 100.5), (20L, "x", 101.5))
      .toDF("q_us", "sym", "bid").select(timestamp_micros($"q_us").as("qt"), $"sym", $"bid")
    val out = AsOfJoin.firstOnOrAfter(trades, quotes, Seq("sym"), "t", "qt")
      .select($"sym", unix_micros($"t"), $"bid").as[(String, Long, Option[Double])]
      .collect().toSet
    assert(out == Set(
      ("x", 10L, Some(100.5)), // next quote after 10 is @15
      ("x", 20L, Some(101.5)), // equal time matches (inclusive >=)
      ("y", 5L, None)))
    // tolerance: next match at Δ=5 nulls at tol=4
    val tol = AsOfJoin.firstOnOrAfter(trades.filter($"sym" === "x"), quotes,
      Seq("sym"), "t", "qt", toleranceUs = Some(4L))
      .select(unix_micros($"t"), $"bid").as[(Long, Option[Double])].collect().toMap
    assert(tol(10L).isEmpty && tol(20L) == Some(101.5))
  }

  test("nearest as-of picks the |Δt|-minimizing side, ties to earlier, tolerance bounds |Δ|") {
    val trades = Seq((10L, "x", 1.0), (100L, "x", 2.0), (5L, "y", 3.0))
      .toDF("t_us", "sym", "px").select(timestamp_micros($"t_us").as("t"), $"sym", $"px")
    val quotes = Seq((7L, "x", 99.0), (12L, "x", 100.0), (90L, "x", 101.0), (106L, "x", 102.0))
      .toDF("q_us", "sym", "bid").select(timestamp_micros($"q_us").as("qt"), $"sym", $"bid")
    val out = AsOfJoin.nearest(trades, quotes, Seq("sym"), "t", "qt")
      .select($"sym", unix_micros($"t"), $"bid").as[(String, Long, Option[Double])]
      .collect().toSet
    assert(out == Set(
      ("x", 10L, Some(100.0)), // Δb=3 (q@7) vs Δf=2 (q@12) → forward wins
      ("x", 100L, Some(102.0)), // Δb=10 (q@90) vs Δf=6 (q@106) → forward
      ("y", 5L, None)))        // no quotes for y
    // equidistant: q@7 and q@13 around t=10 → earlier (backward) wins
    val tie = AsOfJoin.nearest(
      Seq((10L, "x", 1.0)).toDF("t_us", "sym", "px")
        .select(timestamp_micros($"t_us").as("t"), $"sym", $"px"),
      Seq((7L, "x", 99.0), (13L, "x", 100.0)).toDF("q_us", "sym", "bid")
        .select(timestamp_micros($"q_us").as("qt"), $"sym", $"bid"),
      Seq("sym"), "t", "qt")
      .select($"bid").as[Option[Double]].collect()
    assert(tie.toSeq == Seq(Some(99.0)))
    // tolerance: nearest match at Δ=3 passes tol=3, nulls at tol=2
    val l1 = Seq((10L, "k", 1.0)).toDF("t_us", "g", "v")
      .select(timestamp_micros($"t_us").as("t"), $"g", $"v")
    val r1 = Seq((13L, "k", 9.0)).toDF("q_us", "g", "p")
      .select(timestamp_micros($"q_us").as("qt"), $"g", $"p")
    def tolAt(t: Long) = AsOfJoin.nearest(l1, r1, Seq("g"), "t", "qt",
      toleranceUs = Some(t)).select($"p").as[Option[Double]].collect().toSeq
    assert(tolAt(3L) == Seq(Some(9.0)) && tolAt(2L) == Seq(None))
  }

  test("as-of join honors tolerance") {
    val l = Seq((100L, "k", 1.0)).toDF("t_us", "g", "v")
      .select(timestamp_micros($"t_us").as("t"), $"g", $"v")
    val r = Seq((10L, "k", 9.0)).toDF("q_us", "g", "p")
      .select(timestamp_micros($"q_us").as("qt"), $"g", $"p")
    val hit = AsOfJoin.lastOnOrBefore(l, r, Seq("g"), "t", "qt", toleranceUs = Some(100L))
      .select($"p").as[Option[Double]].collect()
    val miss = AsOfJoin.lastOnOrBefore(l, r, Seq("g"), "t", "qt", toleranceUs = Some(50L))
      .select($"p").as[Option[Double]].collect()
    assert(hit.toSeq == Seq(Some(9.0)) && miss.toSeq == Seq(None))
  }

  test("salted as-of ≡ unsalted on a one-hot-key frame (incl. tolerance)") {
    // every row on ONE key — the straggler shape the salt exists for
    val trades = (1L to 40L).map(t => (t * 10L, "hot", t.toDouble))
      .toDF("t_us", "sym", "px").select(timestamp_micros($"t_us").as("t"), $"sym", $"px")
    val quotes = (1L to 15L).map(q => (q * 25L, "hot", q * 1.5))
      .toDF("q_us", "sym", "bid").select(timestamp_micros($"q_us").as("qt"), $"sym", $"bid")
    for (tol <- Seq(None, Some(60L))) {
      val plain = AsOfJoin.lastOnOrBefore(trades, quotes, Seq("sym"), "t", "qt", tol)
        .select($"sym", unix_micros($"t"), $"bid")
        .as[(String, Long, Option[Double])].collect().toSet
      val salted = AsOfJoin.lastOnOrBeforeSalted(trades, quotes, Seq("sym"),
          "t", "qt", leftSalt = unix_micros($"t"), buckets = 4, toleranceUs = tol)
        .select($"sym", unix_micros($"t"), $"bid")
        .as[(String, Long, Option[Double])].collect().toSet
      assert(salted == plain, s"tolerance=$tol")
      assert(plain.size == 40)
    }
  }

  test("range join pairs points with containing [start,end) intervals across buckets") {
    val points = Seq(5L, 15L, 25L, 999L).toDF("p_us")
      .select(timestamp_micros($"p_us").as("pt"))
    val iv = Seq((0L, 20L, "i1"), (10L, 30L, "i2")).toDF("s_us", "e_us", "id")
      .select(timestamp_micros($"s_us").as("s"), timestamp_micros($"e_us").as("e"), $"id")
    // bucket width 7us << interval length → intervals straddle buckets
    val out = RangeJoin.pointInInterval(points, iv, "pt", "s", "e", bucketUs = 7L)
      .select(unix_micros($"pt"), $"id").as[(Long, String)].collect().toSet
    assert(out == Set((5L, "i1"), (15L, "i1"), (15L, "i2"), (25L, "i2")))
  }
}
