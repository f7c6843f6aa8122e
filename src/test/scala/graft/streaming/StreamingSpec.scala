package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming semantics mirroring the reference's per-micro-batch
  * re-execution model (reference stream_test.go:43-104: per-cycle reduce
  * over generator batches, terminated externally), plus the watermarked
  * event-time upgrade.
  */
@graft.Heavy // top-tier suite by measured wall time; excluded from `sbt smoke`
class StreamingSpec extends SparkSpec {

  test("per-batch pipeline: each micro-batch reduced in isolation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    val results = new ConcurrentLinkedQueue[Long]()

    val q = MicroBatch.runPerBatch(
      input.toDF(),
      batch => batch.agg(sum(col("value")).as("s")),
      (out, _) => {
        val rows = out.collect()
        if (rows.nonEmpty && !rows.head.isNullAt(0)) results.add(rows.head.getLong(0))
      },
      intervalMs = 100L)

    input.addData(1 to 12: _*)
    q.processAllAvailable()
    input.addData(13 to 24: _*)
    q.processAllAvailable()
    q.stop()

    val got = scala.jdk.CollectionConverters.IteratorHasAsScala(results.iterator()).asScala.toSeq
    assert(got.contains((1 to 12).sum.toLong))  // batch 1 reduced alone
    assert(got.contains((13 to 24).sum.toLong)) // batch 2 state NOT carried over
  }

  test("watermarked tumbling window counts by event time") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")

    val agg = MicroBatch.windowedAgg(df, "ts", "k", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()

    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((ts(1), "a"), (ts(2), "a"), (ts(11), "a"), (ts(3), "b"))
    q.processAllAvailable()
    val rows = spark.table("winagg")
      .select(col("window_start"), col("k"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00.0", "a", 2L)))
    assert(rows.contains(("2024-01-01 10:10:00.0", "a", 1L)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "b", 1L)))
  }

  test("sliding windows: one event lands in width/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")

    val agg = MicroBatch.slidingAgg(df, "ts", "k",
      "10 minutes", "5 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("slideagg")
      .outputMode("complete").start()

    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((ts(7), "a"), (ts(8), "a"), (ts(12), "a"))
    q.processAllAvailable()
    val rows = spark.table("slideagg")
      .collect().map(r =>
        (r.getTimestamp(0).toString, r.getString(2), r.getLong(3))).toSet
    q.stop()
    // 10:07/10:08 belong to [10:00,10:10) and [10:05,10:15);
    // 10:12 to [10:05,10:15) and [10:10,10:20)
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "a", 2L),
      ("2024-01-01 10:05:00.0", "a", 3L),
      ("2024-01-01 10:10:00.0", "a", 1L)))
  }

  test("session windows: gap-separated bursts become separate sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")

    val sess = MicroBatch.sessionWindows(df, "ts", "k", "5 minutes", "10 minutes")
    val q = sess.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()

    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // burst 1: 10:01-10:03 (one session); gap > 5m; burst 2: 10:20
    input.addData((ts(1), "a"), (ts(3), "a"), (ts(20), "a"), (ts(2), "b"))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 10:01:00.0", "a", 2L)))
    assert(rows.contains(("2024-01-01 10:20:00.0", "a", 1L)))
    assert(rows.contains(("2024-01-01 10:02:00.0", "b", 1L)))
  }

  test("mapGroupsWithState: keyed state carried across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val counts = MicroBatch.runningCounts(input.toDS(), identity[String])
    val q = counts.writeStream.format("memory").queryName("statecnt")
      .outputMode("update").start()
    input.addData("a", "a", "b")
    q.processAllAvailable()
    input.addData("a")
    q.processAllAvailable()
    val last = spark.table("statecnt").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    q.stop()
    assert(last("a") == 3L) // 2 from batch 1 + 1 from batch 2: state persisted
    assert(last("b") == 1L)
  }

  test("flatMapGroupsWithState: alert emitted once when count crosses threshold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val alerts = MicroBatch.thresholdAlerts(input.toDS(), identity[String], 3L)
    val q = alerts.writeStream.format("memory").queryName("alerts")
      .outputMode("update").start()
    input.addData("a", "a", "b")
    q.processAllAvailable()
    input.addData("a", "b")
    q.processAllAvailable()
    input.addData("a")
    q.processAllAvailable()
    val rows = spark.table("alerts").collect().map(r => (r.getString(0), r.getLong(1)))
    q.stop()
    assert(rows.count(_._1 == "a") == 1) // crossed 3 exactly once (batch 2)
    assert(rows.find(_._1 == "a").get._2 == 3L)
    assert(!rows.exists(_._1 == "b")) // b never reached 3
  }

  test("streamingFunnel: completion emitted once, order enforced across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, String)]
    val done = MicroBatch.streamingFunnel(input.toDS(),
      Seq("view", "click", "purchase"), windowUs = 100L)
    val q = done.writeStream.format("memory").queryName("funnel_done")
      .outputMode("update").start()
    // u1 advances across batches; u2's purchase arrives BEFORE its view
    // (wrong order — must not complete); u3 completes outside the window
    input.addData((1L, 0L, "view"), (2L, 0L, "purchase"), (3L, 0L, "view"))
    q.processAllAvailable()
    input.addData((1L, 10L, "click"), (2L, 5L, "view"), (3L, 10L, "click"))
    q.processAllAvailable()
    input.addData((1L, 20L, "purchase"), (2L, 9L, "click"), (3L, 200L, "purchase"),
      (1L, 30L, "purchase")) // second purchase after completion: ignored
    q.processAllAvailable()
    val rows = spark.table("funnel_done").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(rows.toSeq == Seq((1L, 20L)))
  }

  test("streamingFunnel: equal timestamps and repeated step types match the batch funnel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, String)]
    // steps with a REPEATED type; windows generous
    val done = MicroBatch.streamingFunnel(input.toDS(),
      Seq("view", "view", "click"), windowUs = 100L)
    val q = done.writeStream.format("memory").queryName("funnel_eq")
      .outputMode("update").start()
    // u1: one view at t=5 satisfies BOTH view steps (>= is inclusive,
    // the batch recurrence), click at t=5 shares the timestamp AND sorts
    // lexicographically before "view" — the single-greedy-pass failure
    // mode: it would consume the click before the state reaches step 3.
    // u2: click strictly BEFORE its only view — must not complete.
    input.addData((1L, 5L, "view"), (1L, 5L, "click"),
      (2L, 3L, "click"), (2L, 4L, "view"))
    q.processAllAvailable()
    val rows = spark.table("funnel_eq").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    // batch-funnel reference: t1 = 5 (earliest view), t2 = 5 (earliest
    // view ≥ 5 — same event), t3 = 5 (earliest click ≥ 5)
    assert(rows.toSeq == Seq((1L, 5L)))
  }

  test("streamingRateSpikes: closed-bucket flags equal the batch flags on in-order epochs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 1,1,1,1,1,1,10,2 events per bucket for "click" (bucket 6 spikes),
    // plus a gappy "view" type that never fills its trailing window
    val perBucket = Seq(1, 1, 1, 1, 1, 1, 10, 2)
    val rows: Seq[(Long, String)] = perBucket.zipWithIndex.flatMap {
      case (n, b) => (0 until n).map(i => (b * 1000L + i, "click"))
    } ++ Seq((0L, "view"), (9000L, "view"))
    val input = MemoryStream[(Long, String)]
    val flags = MicroBatch.streamingRateSpikes(input.toDS(),
      bucketUs = 1000L, trailing = 6, factor = 2L)
    val q = flags.writeStream.format("memory").queryName("ratespikes")
      .outputMode("update").start()
    // in-order epochs: split by time so buckets close across batches
    val (b1, b2) = rows.sortBy(_._1).splitAt(rows.length / 2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val streamed = spark.table("ratespikes").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    q.stop()
    // batch reference over the same events; the stream emits every
    // CLOSED bucket — all but each type's last observed bucket
    val batchDf = spark.createDataFrame(rows.map { case (us, t) => (us, t) })
      .toDF("us", "event_type")
      .select(org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"),
        col("event_type"))
    val batch = graft.functions.Events.rateSpikes(batchDf, "ts", "event_type",
        bucketUs = 1000L, trailing = 6, factor = 2L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    val lastBucket = Map("click" -> 7L, "view" -> 9L)
    val closed = batch.filter { case ((t, b), _) => b != lastBucket(t) }
    assert(streamed == closed,
      s"stream $streamed must equal batch-on-closed-buckets $closed")
    // the spike itself was emitted with the batch verdict
    assert(streamed(("click", 6L)) == ((10L, true)))
  }

  test("streamingTrend: latest emitted state per key equals the batch trendStats") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // key 1: a perfect line split across two batches; key 2 all in one
    // bucket; a NaN point must not touch any accumulator
    val rows: Seq[(Long, Long, Double)] = Seq(
      (1L, 0L, 1.0), (1L, 1L, 2.0), (1L, 2L, 3.0),
      (2L, 5L, 1.5), (2L, 5L, 2.5), (2L, 5L, Double.NaN))
    val input = MemoryStream[(Long, Long, Double)]
    val q = MicroBatch.streamingTrend(input.toDS())
      .writeStream.format("memory").queryName("trend_inc")
      .outputMode("update").start()
    val (b1, b2) = rows.splitAt(2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val latest = spark.table("trend_inc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2) }
    q.stop()
    val batch = graft.functions.Events.trendStats(
        spark.createDataFrame(rows).toDF("k", "x", "v"), "k", "x", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact,
          r.getDecimal(3).longValueExact, r.getDecimal(4).longValueExact,
          r.getDecimal(5).longValueExact, r.getDecimal(6).longValueExact,
          r.getDecimal(7).longValueExact))).toMap
    assert(latest == batch,
      s"streaming state $latest must equal batch sums $batch")
  }

  test("streamingConfusion: latest emitted state per group equals the batch confusion report") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows: Seq[(String, Option[Boolean], Option[Boolean])] = Seq(
      ("a", Some(true), Some(true)), ("a", Some(true), Some(false)),
      ("a", Some(false), Some(true)), ("a", Some(false), Some(false)),
      ("b", Some(true), Some(true)), ("b", None, Some(true)), // excluded
      ("c", Some(false), Some(false)))                        // degenerate
    val input = MemoryStream[(String, Option[Boolean], Option[Boolean])]
    val q = MicroBatch.streamingConfusion(input.toDS())
      .writeStream.format("memory").queryName("conf_inc")
      .outputMode("update").start()
    val (b1, b2) = rows.splitAt(3)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val latest = spark.table("conf_inc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), opt(r, 6), opt(r, 7), opt(r, 8),
        opt(r, 9)))
      .groupBy(_._1)
      .map { case (g, vs) =>
        g -> vs.maxBy(v => v._2 + v._3 + v._4 + v._5 + v._6) }
    q.stop()
    val batch = graft.functions.Stats.confusionStats(
        spark.createDataset(rows).toDF("g", "pred", "y"), "pred", "y",
        groupCols = Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), opt(r, 6), opt(r, 7), opt(r, 8),
          opt(r, 9)))).toMap
    assert(latest == batch)
  }

  test("streamingReliability: latest cell state equals the batch diagram, mean bit-identical") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows: Seq[(String, Double, Boolean)] = Seq(
      ("a", 0.05, true), ("a", 0.07, false), ("a", 0.95, true),
      ("a", -0.3, false), ("a", 1.7, true),     // clamp both ends
      ("b", 0.33, true), ("b", 0.34, true),
      ("b", Double.NaN, true), ("b", 2.0e19, false)) // gated out
    val input = MemoryStream[(String, Double, Boolean)]
    val q = MicroBatch.streamingReliability(input.toDS(), 10, 0.0, 1.0)
      .writeStream.format("memory").queryName("rel_inc")
      .outputMode("update").start()
    val (b1, b2) = rows.splitAt(4)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val latest = spark.table("rel_inc").collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    q.stop()
    val batch = graft.functions.Stats.reliabilityDiagram(
        spark.createDataset(rows).toDF("g", "s", "y"), "s", "y",
        nBins = 10, lo = 0.0, hi = 1.0, groupCols = Seq("g"))
      .where(col("n") > 0) // the stream has no empty-grid rows by design
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(latest == batch,
      s"streaming cells $latest must equal batch cells $batch")
  }

  test("streamingConfusion: stream == batch under random multi-way batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // deterministic pseudo-random rows + split points (no RNG in tests)
    (1 to 3).foreach { seed =>
      val rows: Seq[(String, Option[Boolean], Option[Boolean])] =
        (0 until 24).map { j =>
          val h = (j * 2654435761L + seed * 40503L) & 0x7fffffff
          val g = "g" + (h % 3)
          val p = if ((h >> 3) % 7 == 0) None else Some((h >> 4) % 2 == 0)
          val y = if ((h >> 5) % 9 == 0) None else Some((h >> 6) % 2 == 0)
          (g, p, y)
        }
      val cut1 = (seed * 7) % 20 + 2
      val cut2 = cut1 + (seed * 5) % (23 - cut1) + 1
      val input = MemoryStream[(String, Option[Boolean], Option[Boolean])]
      val q = MicroBatch.streamingConfusion(input.toDS())
        .writeStream.format("memory").queryName(s"conf_fuzz_$seed")
        .outputMode("update").start()
      Seq(rows.take(cut1), rows.slice(cut1, cut2), rows.drop(cut2))
        .filter(_.nonEmpty).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      val latest = spark.table(s"conf_fuzz_$seed").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), opt(r, 6), opt(r, 7), opt(r, 8),
          opt(r, 9)))
        .groupBy(_._1)
        .map { case (g, vs) =>
          g -> vs.maxBy(v => v._2 + v._3 + v._4 + v._5 + v._6) }
      q.stop()
      val batch = graft.functions.Stats.confusionStats(
          spark.createDataset(rows).toDF("g", "pred", "y"), "pred", "y",
          groupCols = Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), opt(r, 6), opt(r, 7), opt(r, 8),
            opt(r, 9)))).toMap
      assert(latest == batch, s"seed $seed cuts ($cut1, $cut2)")
    }
  }

  // VERDICT r12 item 5: after ANY prefix of batches the latest emitted
  // pieces per group must equal batch grouped aucPieces over the same
  // rows with the bin INDEX as the score — the binned distribution's
  // Mann–Whitney statistics are exact by construction (ties-within-bin
  // = the standard ½ convention), the binning itself is the documented
  // approximation.
  test("streamingAuc: emitted pieces equal batch aucPiecesByGroup on bin-quantized scores") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val nBins = 10; val lo = 0.0; val hi = 1.0
    val w = (hi - lo) / nBins
    def binOf(s: Double): Int =
      math.floor(math.min((nBins - 1).toDouble,
        math.max(0.0, (s - lo) / w))).toInt
    val rows: Seq[(String, Double, Boolean)] = Seq(
      ("a", 0.05, true), ("a", 0.07, false), ("a", 0.95, true),
      ("a", -0.3, false), ("a", 1.7, true),      // clamp both ends
      ("a", 0.33, false), ("a", 0.34, true),     // same bin, mixed labels
      ("b", 0.5, true), ("b", 0.5, true),        // degenerate: no negatives
      ("b", Double.NaN, true),                   // gated out
      ("c", 0.2, false), ("c", 0.8, true), ("c", 0.21, false))
    val input = MemoryStream[(String, Double, Boolean)]
    val q = MicroBatch.streamingAuc(input.toDS(), nBins, lo, hi)
      .writeStream.format("memory").queryName("auc_inc")
      .outputMode("update").start()
    val cuts = Seq(4, 9, rows.size)
    var prev = 0
    cuts.foreach { cut =>
      input.addData(rows.slice(prev, cut)); q.processAllAvailable()
      prev = cut
      val latest = spark.table("auc_inc").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDecimal(3).longValueExact, r.getDecimal(4).longValueExact,
          r.getDecimal(5).longValueExact))
        .groupBy(_._1)
        .map { case (g, vs) => g -> vs.maxBy(v => v._2 + v._3) }
      val batch = graft.functions.Stats.aucPieces(
          spark.createDataset(rows.take(cut))
            .filter(v => !v._2.isNaN)
            .map(v => (v._1, binOf(v._2).toLong, v._3))
            .toDF("g", "s", "y"), "s", "y", groupCols = Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getString(0), r.getLong(1), r.getLong(2),
            r.getDecimal(3).longValueExact, r.getDecimal(4).longValueExact,
            r.getDecimal(5).longValueExact))).toMap
      assert(latest == batch, s"prefix $cut: $latest vs $batch")
    }
    q.stop()
    // the degenerate group reports auc_den = 0 (undefined AUC), honestly
    val b = spark.table("auc_inc").collect()
      .filter(_.getString(0) == "b").maxBy(r => r.getLong(1) + r.getLong(2))
    assert(b.getLong(1) == 2L && b.getLong(2) == 0L &&
      b.getDecimal(5).longValueExact == 0L)
  }

  // streamingDrift completes the streaming eval family: after any
  // prefix, the latest emitted (group, bin) table must equal batch
  // histogramDrift(reference values, that group's prefix rows) — same
  // fixed grid, same clamping, l1_num the same exact integer.
  test("streamingDrift: emitted per-bin table equals batch histogramDrift per group") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val nBins = 6; val lo = 0.0; val hi = 60.0
    val w = (hi - lo) / nBins
    def binOf(x: Double): Int =
      math.min(nBins - 1, math.max(0, math.floor((x - lo) / w).toInt))
    val refVals = Seq(5.0, 7.0, 15.0, 15.0, 25.0, 43.0, 59.0, 100.0) // 100 clamps
    val reference = {
      val c = Array.fill(nBins)(0L)
      refVals.foreach(x => c(binOf(x)) += 1)
      c.toSeq
    }
    val rows: Seq[(String, Double)] = Seq(
      ("a", 3.0), ("a", 14.0), ("a", -9.0),   // -9 clamps into bin 0
      ("b", 55.0), ("a", 27.0), ("b", 61.0),  // 61 clamps into bin 5
      ("a", Double.NaN),                       // gated out
      ("a", 44.0), ("b", 8.0))
    val input = MemoryStream[(String, Double)]
    val q = MicroBatch.streamingDrift(input.toDS(), reference, nBins, lo, hi)
      .writeStream.format("memory").queryName("drift_inc")
      .outputMode("update").start()
    val cuts = Seq(3, 6, rows.size)
    var prev = 0
    cuts.foreach { cut =>
      input.addData(rows.slice(prev, cut)); q.processAllAvailable()
      prev = cut
      val latest = spark.table("drift_inc").collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getDouble(2), r.getLong(3), r.getLong(4),
            r.getDecimal(5).longValueExact, r.getLong(6), r.getLong(7))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._6) }
      val seen = rows.take(cut).filter(v => !v._2.isNaN)
      seen.map(_._1).distinct.foreach { g =>
        val batch = graft.functions.Stats.histogramDrift(
            refVals.toDF("v"),
            seen.filter(_._1 == g).map(_._2).toDF("v"),
            "v", nBins, lo, hi)
          .collect().map(r => r.getInt(0).toLong ->
            ((r.getDouble(1), r.getLong(2), r.getLong(3),
              r.getDecimal(4).longValueExact, r.getLong(5), r.getLong(6))))
          .toMap
        (0 until nBins).foreach { b =>
          assert(latest((g, b.toLong)) == batch(b.toLong),
            s"prefix $cut group $g bin $b")
        }
      }
    }
    q.stop()
  }

  // streamingQuantiles is exact over the BINNED distribution: after any
  // prefix, the latest (group, p) row must carry the bin of the exact
  // order statistic at rank min(n, floor(p·n)+1) — quantileBucket's cut
  // convention — of the group's bin-quantized prefix values.
  test("streamingQuantiles: emitted bins equal exact quantiles of the quantized prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val nBins = 8; val lo = 0.0; val hi = 80.0
    val w = (hi - lo) / nBins
    def binOf(x: Double): Int =
      math.min(nBins - 1, math.max(0, math.floor((x - lo) / w).toInt))
    val probs = Seq(0.1, 0.5, 0.9, 1.0)
    val rows: Seq[(String, Double)] = Seq(
      ("a", 3.0), ("a", 14.0), ("a", -9.0),   // -9 clamps into bin 0
      ("b", 55.0), ("a", 27.0), ("b", 91.0),  // 91 clamps into bin 7
      ("a", Double.NaN), (null, 5.0),          // both gated out
      ("a", 44.0), ("b", 8.0), ("a", 44.0), ("b", 79.9))
    val input = MemoryStream[(String, Double)]
    val q = MicroBatch.streamingQuantiles(input.toDS(), probs, nBins, lo, hi)
      .writeStream.format("memory").queryName("quant_inc")
      .outputMode("update").start()
    val cuts = Seq(3, 7, rows.size)
    var prev = 0
    cuts.foreach { cut =>
      input.addData(rows.slice(prev, cut)); q.processAllAvailable()
      prev = cut
      val latest = spark.table("quant_inc").collect()
        .map(r => ((r.getString(0), r.getDouble(1)),
          (r.getLong(2), r.getLong(3), r.getDouble(4))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      val seen = rows.take(cut).filter(v => v._1 != null && !v._2.isNaN)
      seen.map(_._1).distinct.foreach { g =>
        val bins = seen.filter(_._1 == g).map(v => binOf(v._2)).sorted
        val n = bins.length.toLong
        probs.foreach { p =>
          val rank = math.min(n,
            (BigDecimal(java.math.BigDecimal.valueOf(p)) * BigDecimal(n))
              .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong + 1L)
          val expectBin = bins((rank - 1).toInt).toLong
          assert(latest((g, p)) == ((n, expectBin, lo + expectBin * w)),
            s"prefix $cut group $g p $p")
        }
      }
    }
    q.stop()
  }

  // The rank arithmetic is decimal-exact: p = 0.29 over 100 values
  // must select rank 30 (decimal 0.29·100 = 29 exactly) where the
  // double product 28.999…96 would floor to rank 29 — one whole order
  // statistic lower. nBins = 80 with unit-width bins makes the
  // difference observable.
  test("streamingQuantiles: decimal-exact rank (0.29 of 100 selects rank 30)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows: Seq[(String, Double)] =
      new scala.util.Random(11).shuffle((0 until 100).toList)
        .map(v => ("c", v.toDouble))
    val input = MemoryStream[(String, Double)]
    val q = MicroBatch.streamingQuantiles(input.toDS(), Seq(0.29),
        nBins = 80, lo = 0.0, hi = 80.0)
      .writeStream.format("memory").queryName("quant_dec")
      .outputMode("update").start()
    input.addData(rows.take(50)); q.processAllAvailable()
    input.addData(rows.drop(50)); q.processAllAvailable()
    val fin = spark.table("quant_dec").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .maxBy(_._1)
    q.stop()
    // rank 30 = value 29 (values 0..79 in unit bins; 80+ clamp to 79)
    assert(fin == ((100L, 29L, 29.0)), s"got $fin")
  }

  // streamingMoments is the live dual of Stats.momentsBuild: after any
  // prefix, the latest row per group must be value-identical to the
  // batch op run on that group's prefix slice — counts, decimal sums
  // (numeric equality across encoder scales), min/max, NaN/null gating.
  test("streamingMoments: emitted census equals batch momentsBuild per group") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows: Seq[(String, Option[Double])] = Seq(
      ("a", Some(1.5)), ("a", None), ("b", Some(-2.25)),
      ("a", Some(Double.NaN)), (null, Some(9.0)),   // null group drops
      ("b", Some(376.43)), ("a", Some(0.0)), ("b", None),
      ("a", Some(7.125)))
    val input = MemoryStream[(String, Option[Double])]
    val q = MicroBatch.streamingMoments(input.toDS())
      .writeStream.format("memory").queryName("moments_inc")
      .outputMode("update").start()
    val cuts = Seq(3, 6, rows.size)
    var prev = 0
    cuts.foreach { cut =>
      input.addData(rows.slice(prev, cut)); q.processAllAvailable()
      prev = cut
      val latest = spark.table("moments_inc").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3),
            BigDecimal(r.getString(4)), BigDecimal(r.getString(5)),
            Option(r.get(6)).map(_.asInstanceOf[Double]),
            Option(r.get(7)).map(_.asInstanceOf[Double]))))
        .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).maxBy(_._1) }
      val seen = rows.take(cut).filter(_._1 != null)
      seen.map(_._1).distinct.foreach { g =>
        val slice = seen.filter(_._1 == g).map(_._2)
        val schema = StructType(Seq(StructField("v", DoubleType)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(
            slice.map(o => Row(o.map(Double.box).orNull))), schema)
        val b = graft.functions.Stats.momentsBuild(df, Seq("v")).head()
        val (nr, nn, ne, s, sq, mn, mx) = latest(g)
        assert(nr == b.getLong(2) && nn == b.getLong(3) &&
          ne == b.getLong(4), s"prefix $cut group $g counts")
        assert(s.compare(BigDecimal(b.getDecimal(5))) == 0 &&
          sq.compare(BigDecimal(b.getDecimal(6))) == 0,
          s"prefix $cut group $g sums")
        assert(mn == Option(b.get(7)).map(_.asInstanceOf[Double]) &&
          mx == Option(b.get(8)).map(_.asInstanceOf[Double]),
          s"prefix $cut group $g min/max")
      }
    }
    q.stop()
  }

  test("streamingRetention: emitted (user, cohort, offset) rows roll up to the batch retention") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000000L
    // user 1: active day 100 (twice), 102; user 2: day 101 — mirrors the
    // EventsSpec retention fixture; same-day repeats must emit once
    val rows: Seq[(Long, Long)] = Seq(
      (1L, 100L * day + 5L), (1L, 100L * day + 9L),
      (1L, 102L * day + 1L), (2L, 101L * day + 2L))
    val input = MemoryStream[(Long, Long)]
    val q = MicroBatch.streamingRetention(input.toDS())
      .writeStream.format("memory").queryName("retention_inc")
      .outputMode("update").start()
    val (b1, b2) = rows.sortBy(_._2).splitAt(2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    // re-delivering an already-emitted (user, day) must emit nothing new
    input.addData((1L, 100L * day + 77L)); q.processAllAvailable()
    val emitted = spark.table("retention_inc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    q.stop()
    assert(emitted.length == emitted.distinct.length, "offsets must emit exactly once")
    // driver-side rollup of the increments ≡ batch retention
    val rolled = emitted.groupBy(t => (t._2, t._3))
      .map { case (k, vs) => k -> vs.map(_._1).distinct.length.toLong }
    val batchDf = spark.createDataFrame(rows).toDF("user_id", "us")
      .select(col("user_id"),
        org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"))
    val batch = graft.functions.Events.retention(batchDf, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rolled == batch, s"rollup $rolled must equal batch $batch")
  }

  test("streamingTransitions: delta rollup ≡ batch census; out-of-order dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // (user, us, event_id, type): user 1 a→b→b→c split across batches
    // (the b→b transition crosses the batch boundary through state);
    // user 2 same-ts pair ordered by event id
    val rows: Seq[(Long, Long, Long, String)] = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"),
      (1L, 30L, 3L, "b"), (1L, 40L, 4L, "c"),
      (2L, 5L, 5L, "a"), (2L, 5L, 6L, "c"))
    val input = MemoryStream[(Long, Long, Long, String)]
    val q = MicroBatch.streamingTransitions(input.toDS())
      .writeStream.format("memory").queryName("transitions_inc")
      .outputMode("update").start()
    input.addData(rows.take(2) :+ rows(4)); q.processAllAvailable()
    input.addData(Seq(rows(2), rows(3), rows(5))); q.processAllAvailable()
    // an event sorting before user 1's last (us=40) must not emit or
    // advance state
    input.addData((1L, 25L, 9L, "z")); q.processAllAvailable()
    val rolled = spark.table("transitions_inc").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2)).map { case (k, vs) => k -> vs.map(_._3).sum }
    q.stop()
    val batchDf = spark.createDataFrame(rows)
      .toDF("user_id", "us", "event_id", "event_type")
      .select(col("user_id"), col("event_id"),
        org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"),
        col("event_type"))
    val batch = graft.functions.Events.transitionCounts(
        batchDf, "user_id", "ts", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rolled == batch, s"rollup $rolled must equal batch $batch")
    assert(batch == Map(("a", "b") -> 1L, ("b", "b") -> 1L,
      ("b", "c") -> 1L, ("a", "c") -> 1L))
  }

  test("stream-stream event-time join: clicks within lag of impressions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")

    val joined = MicroBatch.eventTimeJoin(
      imps.toDF().toDF("its", "ad"), clicks.toDF().toDF("cts", "cad"),
      "ad", "cad", "its", "cts", "30 seconds", maxLagSeconds = 10L)
      .select(col("ad"), col("its"), col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()

    imps.addData((ts(0), 1L), (ts(0), 2L), (ts(30), 3L))
    clicks.addData(
      (ts(5), 1L),   // within 10s of imp@0 → joins
      (ts(20), 2L),  // 20s after imp@0 → outside lag, no join
      (ts(31), 3L))  // within lag of imp@30 → joins
    q.processAllAvailable()
    val got = spark.table("ssjoin").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(got == Set(1L, 3L))
  }

  test("streaming dedup: duplicate keys within the watermark collapse") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")

    val deduped = MicroBatch.streamingDedup(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "1 minute", "doc_id")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()

    input.addData((ts(0), 1L, "a"), (ts(1), 1L, "a-dup"), (ts(2), 2L, "b"))
    q.processAllAvailable()
    input.addData((ts(5), 2L, "b-dup"), (ts(6), 3L, "c"))
    q.processAllAvailable()
    val got = spark.table("sdedup").collect()
      .map(r => r.getLong(1) -> r.getString(2)).toMap
    q.stop()
    // one row per doc_id, and it is the FIRST arrival that survives
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("stream-static dedup against a persisted fingerprint index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // "yesterday's corpus" → static index
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val index = graft.functions.Dedup.fingerprintIndex(old, "text")
    val input = MemoryStream[(Long, String)]
    val deduped = MicroBatch.streamingDedupAgainstIndex(
      input.toDF().toDF("doc_id", "text"), "text", index)
    val q = deduped.writeStream.format("memory").queryName("idx_dedup")
      .outputMode("append").start()
    input.addData((10L, "alpha beta"), (11L, "epsilon zeta"))
    q.processAllAvailable()
    input.addData((12L, "gamma delta"), (13L, "eta theta"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("idx_dedup").collect().map(_.getLong(0)).toSet
    // re-crawled content dropped in EVERY micro-batch; novel docs pass
    assert(got == Set(11L, 13L))
  }

  test("file source: stream the events parquet through a windowed agg") {
    // a *streaming* parquet read resolves its schema through the query's
    // own session; the fixture's ts encoding has drifted over time, so
    // probe the raw schema first and only set the legacy flag for the
    // nanos-era encoding a plain read rejects (restored in finally)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosPrev = spark.conf.getOption(nanosKey)
    val needLegacy =
      try { spark.read.parquet(s"${sf()}/events.parquet").schema; false }
      catch { case _: Exception => true }
    if (needLegacy) spark.conf.set(nanosKey, "true")
    try {
    // file streams need a directory: stage the events file into one
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = graft.GraftSession.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    assert(stream.isStreaming)
    val agg = MicroBatch.windowedAgg(stream, "ts", "event_type", "1 hour", "1 hour")
    val q = agg.writeStream.format("memory").queryName("filewin")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("filewin")
    // watermark in append mode withholds the tail window; the batch
    // equivalent bounds what streaming may emit
    val batchWindows = graft.GraftSession.normalizeEventsTs(
        spark.read.parquet(s"${sf()}/events.parquet"))
      .groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
    assert(got.count() > 0 && got.count() <= batchWindows)
    } finally nanosPrev match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None => spark.conf.unset(nanosKey)
    }
  }

  test("streaming curation: quality filter + fingerprint dedup + token accounting") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.TextFunctions
    // (doc_id, event-time seconds, text); doc 3 duplicates doc 1's text
    // inside the watermark window, doc 4 is empty (filtered by quality).
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("doc_id", "secs", "text")
      .withColumn("ts", timestamp_seconds(col("secs")))
      // the same expression surface as the batch x_pipeline_curate query —
      // streaming-compatible because it is all stateless projections...
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .where(col("quality") > 0.05)
    // ...plus the one stateful stage: watermark-bounded fingerprint dedup
    val deduped = MicroBatch.streamingDedup(stream, "ts", "10 minutes", "fp")
    val q = deduped.select("doc_id", "n_tokens")
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    input.addData(
      (1L, 100L, "the quick brown fox jumps over the lazy dog"),
      (2L, 101L, "an entirely different document with many proper words"),
      (3L, 102L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (4L, 103L, ""))                                            // quality 0.0
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("curated").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // exactly one survivor of the duplicate pair {1, 3} (first arrival),
    // doc 2 kept, doc 4 quality-filtered
    assert(rows.size == 2 && rows.contains(2L), s"got $rows")
    assert(rows.keySet.intersect(Set(1L, 3L)).size == 1, s"got ${rows.keySet}")
    assert(rows(2L) == 8 && rows.values.toSet == Set(8, 9))
  }

  test("rate source produces a streaming frame") {
    val df = MicroBatch.rateSource(spark, 100)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.contains("value"))
  }

  test("idempotent sink: epoch replay overwrites itself, other epochs untouched") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-eo-sink").toString
    val sink = MicroBatch.idempotentParquetSink(out)
    sink(Seq(1L, 2L).toDF("v"), 0L)
    sink(Seq(10L, 20L).toDF("v"), 1L)
    // crash-replay of epoch 1 (same id, possibly re-computed content)
    sink(Seq(10L, 20L).toDF("v"), 1L)
    // partition-dir values type-infer as int; normalize for the assert
    val rows = spark.read.parquet(out)
      .select(col("batch_id").cast("long"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // no duplicates from the replay; epoch 0 intact
    assert(rows == Seq((0L, 1L), (0L, 2L), (1L, 10L), (1L, 20L)), rows.toString)
  }
  test("streaming mixture weighting: deterministic copies flow through a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Corpus
    // mixtureWeightedSample is a stateless projection (md5 cutoff +
    // explode), so the SAME call curates a stream — and yields the SAME
    // multiset the batch path yields for the same rows.
    val input = MemoryStream[(Long, String)]
    val stream = Corpus.mixtureWeightedSample(
      input.toDF().toDF("doc_id", "src"), "src", "doc_id",
      Map("a" -> 2.5, "b" -> 0.25))
    val q = stream.select("doc_id", "src", "copy_id")
      .writeStream.format("memory").queryName("weighted")
      .outputMode("append").start()
    val rows = (0L until 100L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("weighted").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val batch = Corpus.mixtureWeightedSample(
        spark.createDataFrame(rows).toDF("doc_id", "src"), "src", "doc_id",
        Map("a" -> 2.5, "b" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got == batch, "stream and batch mixture outputs diverged")
    assert(got.count(_._2 == "a") >= 100) // 50 'a' rows × 2.5
  }
  test("streaming hash split: same rows land in the same split as batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Corpus
    // hashSplit is a stateless projection (md5 bucket vs literal
    // cutoffs), so split assignment is identical when the corpus arrives
    // as a stream — eval membership can't drift between a batch curation
    // run and a streaming ingest of the same documents.
    val input = MemoryStream[Long]
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val q = Corpus.hashSplit(input.toDF().toDF("doc_id"), "doc_id", splits)
      .writeStream.format("memory").queryName("split_stream")
      .outputMode("append").start()
    input.addData(0L until 500L: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("split_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val batch = Corpus.hashSplit(
        spark.range(500).toDF("doc_id"), "doc_id", splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == batch, "stream and batch split assignment diverged")
    assert(got.map(_._2).distinct.sorted == Seq("test", "train", "val"))
  }

  // streamingHeavyHitters pins the MG GUARANTEES (order-independent),
  // not a state bit-layout: nomination superset, never-overcount,
  // bounded undercount, and the nominate→batch-recount round-trip
  // reproducing batch heavyHitters exactly.
  test("streamingHeavyHitters: nomination superset + bounds + exact round-trip") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val capacity = 3; val buckets = 2
    // skewed stream: zipf-ish head + a tail of singletons
    val toks: Seq[String] =
      Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++ Seq.fill(12)("gamma") ++
        (0 until 30).map(i => s"tail$i") ++ Seq.fill(8)("delta")
    val input = MemoryStream[String]
    val q = MicroBatch.streamingHeavyHitters(input.toDS(), capacity, buckets)
      .writeStream.format("memory").queryName("hh_inc")
      .outputMode("update").start()
    val cuts = Seq(30, 70, toks.size)
    var prev = 0
    cuts.foreach { cut =>
      input.addData(toks.slice(prev, cut)); q.processAllAvailable(); prev = cut
    }
    q.stop()
    val emitted = spark.table("hh_inc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // final state per bucket = the rows of its newest emission
    val lastTot = emitted.groupBy(_._1).map { case (b, vs) => b -> vs.map(_._4).max }
    val fin = emitted.filter(v => v._3 > 0 && v._4 == lastTot(v._1))
    // ground truth, bucketed the engine's way (xxhash64 via the SQL expr)
    val bucketOf = toks.distinct.toDF("t")
      .select(col("t"), pmod(xxhash64(col("t")), lit(buckets.toLong)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueCnt = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bucketTot = toks.groupBy(bucketOf).view.mapValues(_.size.toLong).toMap
    assert(fin.forall(v => v._4 == bucketTot(v._1)), "bucket totals must be exact")
    // (1) per-bucket superset guarantee ⇒ global superset guarantee
    val nominated = fin.map(v => (v._1, v._2)).toSet
    trueCnt.foreach { case (t, c) =>
      val b = bucketOf(t)
      if (c.toDouble > bucketTot(b).toDouble / (capacity + 1))
        assert(nominated.contains((b, t)), s"MG must nominate $t (cnt $c)")
    }
    // (2) estimates never overcount; undercount ≤ bucketTotal/(capacity+1)
    fin.foreach { case (b, t, est, tot) =>
      assert(est <= trueCnt(t), s"$t overcounted: $est > ${trueCnt(t)}")
      assert(trueCnt(t) - est <= tot / (capacity + 1),
        s"$t undercount ${trueCnt(t) - est} beyond bound ${tot / (capacity + 1)}")
    }
    // (3) nominate → exact batch recount ≡ batch heavyHitters (pass 2 is
    // the adjudicator; stream pass-1 nomination must not lose an answer)
    val total = toks.size.toLong
    val cands = fin.map(_._2).distinct.toSet
    val recount = trueCnt.filter { case (t, c) =>
      cands.contains(t) && c.toDouble > total.toDouble / capacity }
    val batch = graft.functions.Corpus.heavyHitters(
        toks.toDF("text"), "text", capacity)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(recount == batch, s"round-trip $recount must equal batch $batch")
  }

  // a bucket that never overflows its capacity keeps EXACT counts after
  // every prefix — the documented exactness regime, order-independent
  test("streamingHeavyHitters: exact counts while under capacity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val toks = Seq("a", "b", "a", "c", "a", "b", "c", "c", "c")
    val input = MemoryStream[String]
    // capacity ≥ distinct tokens ⇒ no decrement event can ever fire
    val q = MicroBatch.streamingHeavyHitters(input.toDS(), capacity = 8,
        buckets = 3)
      .writeStream.format("memory").queryName("hh_exact")
      .outputMode("update").start()
    val cuts = Seq(4, toks.size)
    var prev = 0
    cuts.foreach { cut =>
      input.addData(toks.slice(prev, cut)); q.processAllAvailable(); prev = cut
      val emitted = spark.table("hh_exact").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val lastTot = emitted.groupBy(_._1)
        .map { case (b, vs) => b -> vs.map(_._4).max }
      val fin = emitted.filter(v => v._4 == lastTot(v._1))
        .map(v => v._2 -> v._3).toMap
      val expect = toks.take(cut).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      assert(fin == expect, s"prefix $cut: $fin must equal exact $expect")
    }
    q.stop()
  }

  // cross-batch session merge, gap-close, watermark timeout emission,
  // out-of-order drop, and seq continuity after a timeout — the
  // emitted set must equal the batch sessionize on the in-order events
  test("streamingSessions: emitted sessions equal batch sessionize on in-order epochs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Long)] // (user, us, event_id)
    val q = MicroBatch.streamingSessions(input.toDS(), gapUs = 100L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("update").start()
    // b1: u1 opens a session (2 events), u2 opens one. All µs values
    // stay under 1000 so the ms-floored watermark stays 0 until the
    // sentinel pushes it — Spark's OWN late filter must not eat the
    // events meant for OUR in-order logic
    input.addData((1L, 10L, 1L), (1L, 60L, 2L), (2L, 70L, 3L))
    q.processAllAvailable()
    // b2: u1's 130 EXTENDS (gap 70 ≤ 100, cross-batch merge), 300
    // CLOSES session 1 in-line (gap 170) and opens session 2; u2's 50
    // sorts BEFORE its remembered 70 — out-of-order, dropped by the
    // family contract (it is above the watermark, so the drop is this
    // operator's, not Spark's)
    input.addData((1L, 130L, 4L), (1L, 300L, 5L), (2L, 50L, 6L))
    q.processAllAvailable()
    // b3 advances the watermark far past every open session's
    // last+gap; the timeouts FIRE in b4 (a batch runs against the
    // PREVIOUS batch's watermark), emitting u1's session 2 and u2's
    // only session without any closing event
    input.addData((9L, 1000000L, 7L)); q.processAllAvailable()
    input.addData((9L, 2000000L, 8L)); q.processAllAvailable()
    // b5: u1 RETURNS after its timeout-close — numbering must continue
    // at 3, not restart; two more watermark pushes drain it out
    input.addData((1L, 3000000L, 9L)); q.processAllAvailable()
    input.addData((9L, 5000000L, 10L)); q.processAllAvailable()
    input.addData((9L, 6000000L, 11L)); q.processAllAvailable()
    val got = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .filter(_._1 != 9L).toSet // the sentinel's own sessions are noise
    q.stop()
    // batch reference: Events.sessionize over exactly the IN-ORDER
    // arrivals (u2's 500 excluded — the family's in-order contract)
    val inOrder = Seq((1L, 10L, 1L), (1L, 60L, 2L), (1L, 130L, 4L),
      (1L, 300L, 5L), (1L, 3000000L, 9L), (2L, 70L, 3L))
    val batch = graft.functions.Events.sessionize(
        inOrder.toDF("user", "us", "event_id")
          .select(col("user"), timestamp_micros(col("us")).as("ts"),
            col("event_id")),
        "user", "ts", gapUs = 100L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == batch, s"streaming $got must equal batch $batch")
  }
}
