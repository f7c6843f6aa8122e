package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming surface reproducing (and upgrading) the
  * reference's streaming mode.
  *
  * The reference's streaming = re-run the whole pipeline per micro-batch
  * over generator sources, with no state, no watermarks, no event time
  * (reference internal/dataframe/plan_executor.go:108-110,
  * datasource/memorystream/memorystream_datasource_partitionloader.go:24-38,
  * SURVEY §3.3). [[runPerBatch]] mirrors exactly that via foreachBatch —
  * each batch is an isolated batch query. Watermarked event-time windows
  * ([[windowedCounts]]) and keyed state are the Spark-native upgrades.
  */
object MicroBatch {

  /** S3 memorystream analogue: an unbounded generated stream of
    * (timestamp, value) rows at `rowsPerSecond` — Spark's `rate` source
    * plays the role of the reference's generator functions.
    */
  def rateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()

  /** Run `pipeline` over every micro-batch as an isolated batch query —
    * the reference's per-cycle semantics (state rebuilt per batch,
    * results emitted by side effect). Returns the running query; stop it
    * (or wait for `timeoutMs`) to terminate — the analogue of the
    * reference's context-cancellation exit (stream_test.go:96-104).
    */
  def runPerBatch(stream: DataFrame,
                  pipeline: DataFrame => DataFrame,
                  sink: (DataFrame, Long) => Unit,
                  intervalMs: Long = 1000L): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.ProcessingTime(intervalMs))
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(pipeline(batch), id)
      }
      .start()

  /** Watermarked tumbling-window aggregation — the event-time upgrade the
    * reference lacks (SURVEY §2.5). `tsCol` must be a timestamp column.
    */
  def windowedAgg(stream: DataFrame, tsCol: String, keyCol: String,
                  windowDur: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col(keyCol), col("cnt"))

  /** Watermarked SLIDING-window aggregation — the streaming dual of the
    * batch r_hopping_window query: each event counts into
    * width/slide overlapping windows; a window emits once the
    * watermark passes its end, so state is O(open windows × keys), the
    * slide only changing the constant. Exactly [[windowedAgg]] with the
    * slide parameter — the shape Spark's native window() was built for.
    */
  def slidingAgg(stream: DataFrame, tsCol: String, keyCol: String,
                 windowDur: String, slideDur: String,
                 watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur, slideDur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("cnt"))

  /** Streaming gap-based sessionization via native session windows —
    * the streaming dual of the batch sessionize query: a session extends
    * while events arrive within `gap` of the previous one, and closes
    * (emits) once the watermark passes its end. State per key is one
    * open session, merged incrementally — Spark's dedicated session
    * store, not a collected event list, so state is O(open sessions)
    * regardless of session length.
    */
  def sessionWindows(stream: DataFrame, tsCol: String, keyCol: String,
                     gap: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Watermarked stream-stream event-time join: right rows match left rows
    * with the same key whose event time falls within
    * [leftTs, leftTs + maxLagSeconds] — the impressions⋈clicks shape. The
    * watermarks bound both sides' join state, so state size is
    * O(rate × lag), not O(stream length); an unbounded-state stream join
    * would OOM any cluster eventually. Inner-join results emit as matches
    * arrive (the watermark only expires state).
    */
  def eventTimeJoin(left: DataFrame, right: DataFrame,
                    leftKey: String, rightKey: String,
                    leftTs: String, rightTs: String,
                    watermarkDelay: String, maxLagSeconds: Long): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r, col(s"l.$leftKey") === col(s"r.$rightKey") &&
      col(s"r.$rightTs") >= col(s"l.$leftTs") &&
      col(s"r.$rightTs") <= col(s"l.$leftTs") +
        expr(s"INTERVAL $maxLagSeconds seconds"))
  }

  /** Streaming exact dedup with bounded state: duplicates of a key are
    * dropped for as long as the key can still legally reappear (the
    * watermark window); state for older keys is expired. This is the
    * streaming face of the corpus-dedup family — the same keys-first
    * discipline (dedup on ids/fingerprints, never on payload bytes).
    */
  def streamingDedup(stream: DataFrame, tsCol: String,
                     watermarkDelay: String, keyCols: String*): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Streaming incremental dedup against a PERSISTED corpus index — the
    * streaming face of [[graft.functions.Dedup.dedupAgainstIndex]]: each
    * micro-batch anti-joins the static fingerprint index (a
    * [[graft.functions.Dedup.fingerprintIndex]] artifact), so content
    * already curated into yesterday's corpus never re-enters today's
    * stream. A stream-static anti-join is stateless on the stream side —
    * no watermark, no state store — and Spark broadcasts the (hash-sized)
    * static side into every micro-batch. Compose with [[streamingDedup]]
    * upstream for intra-stream duplicates; the index catches
    * cross-run re-crawls the watermark can't see.
    */
  def streamingDedupAgainstIndex(stream: DataFrame, textCol: String,
                                 index: DataFrame): DataFrame =
    stream.join(index.select(col("fp").as("__idx_fp")),
      graft.functions.TextFunctions.fingerprint(col(textCol)) === col("__idx_fp"),
      "left_anti")

  /** Custom keyed state across micro-batches via mapGroupsWithState — the
    * stateful upgrade over the reference's rebuild-per-cycle model
    * (reference plan_executor.go:108-110 rebuilds all reduce state every
    * cycle; here state is a first-class, fault-tolerant store).
    */
  def runningCounts[V, K](ds: org.apache.spark.sql.Dataset[V], key: V => K)(
      implicit ke: org.apache.spark.sql.Encoder[K],
      oe: org.apache.spark.sql.Encoder[(K, Long)])
      : org.apache.spark.sql.Dataset[(K, Long)] =
    ds.groupByKey(key)
      .mapGroupsWithState[Long, (K, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (k: K, vals: Iterator[V],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + vals.size
          state.update(c)
          (k, c)
      }(org.apache.spark.sql.Encoders.scalaLong, oe)

  /** flatMapGroupsWithState: 0..n outputs per key per batch with custom
    * state — here, emit a row only when a key's running count crosses a
    * threshold (change-detection shape: alerts, compaction triggers).
    */
  def thresholdAlerts[V, K](ds: org.apache.spark.sql.Dataset[V], key: V => K,
                            threshold: Long)(
      implicit ke: org.apache.spark.sql.Encoder[K],
      oe: org.apache.spark.sql.Encoder[(K, Long)])
      : org.apache.spark.sql.Dataset[(K, Long)] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[Long, (K, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (k: K, vals: Iterator[V],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = before + vals.size
          state.update(after)
          if (before < threshold && after >= threshold) Iterator.single((k, after))
          else Iterator.empty
      }(org.apache.spark.sql.Encoders.scalaLong, oe)

  /** Streaming ordered funnel — the incremental counterpart of
    * [[graft.functions.Events.funnel]]: per-user keyed state
    * `(nextStep, t1, tLast)` advances through `steps` as events arrive,
    * and a user emits exactly ONE `(user, completedAtUs)` row — when the
    * final step lands within `windowUs` of step 1. With batches arriving
    * in event-time order the emitted set equals the batch funnel's
    * completed-step-N user set: each advancement RESTARTS the scan over
    * the batch's time-sorted events and takes the globally earliest
    * event of the current step's type with `us ≥ tLast` — exactly the
    * batch recurrence (step k = earliest type-k event ≥ t(k−1),
    * inclusive). The restart is what makes the equal-timestamp cases
    * right: a step-(k+1) event that shares its timestamp with step k's
    * — even one EARLIER in the batch's sort order, or the very SAME
    * event when steps(k) == steps(k+1) (`≥` is inclusive, so one event
    * can satisfy consecutive identical steps, as in the batch funnel) —
    * is re-visited after the state advances instead of being consumed
    * blind by a single greedy pass.
    *
    * State is 3 scalars per user — bounded regardless of stream length;
    * a completed user's state short-circuits every later batch. Per
    * batch the rescans cost O(steps × batch-events) per user — steps is
    * a small constant, and only within-batch work, never state.
    */
  def streamingFunnel(events: org.apache.spark.sql.Dataset[(Long, Long, String)],
                      steps: Seq[String], windowUs: Long)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Int, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Int, Long, Long)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long)]
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[(Int, Long, Long), (Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (u: Long, vals: Iterator[(Long, Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[(Int, Long, Long)]) =>
          var (idx, t1, tLast) = state.getOption.getOrElse((0, 0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
          if (idx < steps.length) {
            val evs = vals.toSeq.sortBy(v => (v._2, v._3))
            // fixpoint: each advancement restarts the scan so every step
            // binds to the batch's globally earliest qualifying event —
            // a continue-in-place greedy pass would consume an equal-
            // timestamp later-step event before the state could advance
            var progressed = true
            while (progressed && idx < steps.length) {
              progressed = false
              val it = evs.iterator
              while (!progressed && it.hasNext) {
                val (_, us, t) = it.next()
                if (t == steps(idx) && (idx == 0 || us >= tLast)) {
                  if (idx == 0) t1 = us
                  tLast = us
                  idx += 1
                  progressed = true
                  if (idx == steps.length && tLast - t1 <= windowUs)
                    out += ((u, us))
                }
              }
            }
            state.update((idx, t1, tLast))
          }
          out.iterator
      }
  }

  /** Streaming rate-spike detection — the incremental counterpart of
    * [[graft.functions.Events.rateSpikes]]: events `(epochUs, type)`
    * key by type, and per-type state is `(open bucket, its running
    * count, ring of the last `trailing` CLOSED bucket counts)` — three
    * scalars plus a bounded ring regardless of stream length. A
    * bucket's flag emits exactly once, when the bucket CLOSES (a later
    * bucket's first event arrives for that type): `spike ⇔ ring is full
    * ∧ n·trailing > factor·Σring` — the identical integer
    * cross-multiplication and observed-bucket frame as the batch form
    * (gaps aren't rows; they don't dilute the baseline), so on
    * in-order epochs the emitted flags equal the batch flags for every
    * closed bucket (the still-open tail bucket is the one row batch has
    * that the stream hasn't emitted yet). Late events for an
    * already-closed bucket are DROPPED (the watermark analog — the
    * in-order contract is the same as [[streamingFunnel]]'s).
    *
    * @return one `(event_type, bucket, n, spike)` row per closed bucket
    */
  def streamingRateSpikes(events: org.apache.spark.sql.Dataset[(Long, String)],
                          bucketUs: Long, trailing: Int, factor: Long)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Boolean)] = {
    require(bucketUs >= 1 && trailing >= 1 && factor >= 1)
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Long, Seq[Long])] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Seq[Long])]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long, Boolean)] =
      org.apache.spark.sql.Encoders.product[(String, Long, Long, Boolean)]
    events.groupByKey(_._2)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[(Long, Long, Seq[Long]), (String, Long, Long, Boolean)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (typ: String, vals: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Seq[Long])]) =>
          var (open, openN, ring) =
            state.getOption.getOrElse((Long.MinValue, 0L, Seq.empty[Long]))
          val out = scala.collection.mutable.ListBuffer
            .empty[(String, Long, Long, Boolean)]
          // batch-local (bucket, count) pairs in ascending bucket order —
          // floorDiv matches SQL's `DIV` on negatives too
          val counts = vals
            .map(v => Math.floorDiv(v._1, bucketUs))
            .toSeq.groupBy(identity).view.mapValues(_.size.toLong)
            .toSeq.sortBy(_._1)
          counts.foreach { case (b, n) =>
            if (b == open) openN += n
            else if (b > open) {
              if (open != Long.MinValue) {
                val full = ring.length == trailing
                out += ((typ, open, openN,
                  full && openN * trailing > factor * ring.sum))
                ring = (ring :+ openN).takeRight(trailing)
              }
              open = b
              openN = n
            } // b < open: late bucket — dropped (in-order contract)
          }
          state.update((open, openN, ring))
          out.iterator
      }
  }

  /** Incremental per-key exact trend — the streaming dual of
    * [[graft.functions.Events.trendStats]]: points `(key, x, value)`
    * keep 5 integer accumulators per key (n, Σx, Σy_µ, Σxy_µ, Σx² —
    * value scaled to micro-units by the same floor(v·10⁶), NaN
    * skipped) and every trigger emits the key's running sums plus the
    * slope rational `num = n·Σxy − Σx·Σy`, `den = n·Σx² − (Σx)²` — the
    * live drift signal without replaying history. Sums are associative
    * and commutative, so the emitted state after any prefix of batches
    * equals the batch operator over the same rows (spec-pinned);
    * arithmetic is Long (overflow bound: |x| ≤ 10⁴, |y_µ| ≤ 10⁹ keeps
    * every product safe past 10⁵ points/key — the batch form's
    * DECIMAL(38,0) is the fleet-scale audit path). State per key = 5
    * longs, independent of point count.
    */
  def streamingTrend(points: org.apache.spark.sql.Dataset[(Long, Long, Double)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long, Long, Long, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long, Long, Long, Long)]
    points.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .mapGroupsWithState[(Long, Long, Long, Long, Long),
                          (Long, Long, Long, Long, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long, Long)]) =>
          var (n, sx, sy, sxy, sxx) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L))
          rows.foreach { case (_, x, v) =>
            // |v| ≤ 9.2e12 mirrors batch trendStats' micro-unit gate:
            // Double.toLong SATURATES at Long.MaxValue where the batch
            // cast nulls, so without the shared gate the two states
            // diverge on such inputs (batch ≡ streaming contract)
            if (!v.isNaN && math.abs(v) <= 9.2e12) {
              val y = math.floor(v * 1000000.0).toLong
              n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
            }
          }
          state.update((n, sx, sy, sxy, sxx))
          (key, n, sx, sy, sxy, sxx, n * sxy - sx * sy, n * sxx - sx * sx)
      }
  }

  /** Streaming cohort retention — the incremental counterpart of
    * [[graft.functions.Events.retention]]: events `(user, epochUs)` key
    * by user; state = (cohort day = the user's FIRST observed day,
    * emitted day-offsets). Each batch emits one `(user, cohort_day,
    * day_offset)` row per NEWLY observed offset — exactly once — so the
    * (cohort_day, day_offset) → n_users table is a trivial idempotent
    * rollup of the emitted stream (a foreachBatch upsert; a chained
    * in-stream aggregation after flatMapGroupsWithState is a Spark
    * restriction). Grouping the emitted rows equals the batch
    * [[graft.functions.Events.retention]] on in-order epochs; events
    * for days BEFORE the known cohort day (out-of-order arrivals) are
    * dropped — the watermark analog, the same in-order contract as
    * [[streamingFunnel]]. State per user = 1 + #active-days longs —
    * bounded by stream duration in days, never by event count.
    */
  def streamingRetention(events: org.apache.spark.sql.Dataset[(Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    val usPerDay = 86400000000L
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Seq[Long])] =
      org.apache.spark.sql.Encoders.product[(Long, Seq[Long])]
    implicit val outEnc: org.apache.spark.sql.Encoder[(Long, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)]
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (u: Long, vals: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Seq[Long])]) =>
          val days = vals.map(v => Math.floorDiv(v._2, usPerDay))
            .toSeq.distinct.sorted
          if (days.isEmpty) Iterator.empty
          else {
            var (first, emitted) =
              state.getOption.getOrElse((Long.MaxValue, Seq.empty[Long]))
            if (first == Long.MaxValue) first = days.head
            val offs = days.map(_ - first)
              .filter(o => o >= 0 && !emitted.contains(o))
            state.update((first, emitted ++ offs))
            offs.iterator.map(o => (u, first, o))
          }
      }
  }

  /** Streaming Markov transition census — the incremental counterpart
    * of [[graft.functions.Events.transitionCounts]]: events
    * `(user, epochUs, eventId, type)` key by user; state = the user's
    * LAST event `(us, eventId, type)`. Each batch sorts its per-user
    * slice by `(us, eventId)` (the batch tiebreak), chains it onto the
    * remembered last event, and emits one `(from_type, to_type, n)`
    * delta row per observed pair — so the global transition matrix is
    * an idempotent `SUM` rollup of the emitted stream (foreachBatch
    * upsert; a chained in-stream aggregation after
    * flatMapGroupsWithState is a Spark restriction). Group-summing the
    * emitted deltas equals the batch census on in-order epochs; an
    * event sorting BEFORE the remembered last (out-of-order arrival)
    * is dropped and does not advance the state — the same in-order
    * contract as [[streamingFunnel]]/[[streamingRetention]]. State per
    * user = 3 scalars, independent of event count.
    */
  def streamingTransitions(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, String)])
      : org.apache.spark.sql.Dataset[(String, String, Long)] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Long, String)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, String)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, String, Long)] =
      org.apache.spark.sql.Encoders.product[(String, String, Long)]
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long, String), (String, String, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_: Long, vals: Iterator[(Long, Long, Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, String)]) =>
          val sorted = vals.toSeq.sortBy(v => (v._2, v._3))
          if (sorted.isEmpty) Iterator.empty
          else {
            var last: Option[(Long, Long, String)] = state.getOption
            val pairs = scala.collection.mutable.LinkedHashMap
              .empty[(String, String), Long]
            sorted.foreach { v =>
              val inOrder = last.forall(l =>
                v._2 > l._1 || (v._2 == l._1 && v._3 >= l._2))
              if (inOrder) {
                last.foreach { l =>
                  val k = (l._3, v._4)
                  pairs(k) = pairs.getOrElse(k, 0L) + 1L
                }
                last = Some((v._2, v._3, v._4))
              } // else: out-of-order — dropped, state not advanced
            }
            last.foreach(state.update)
            pairs.iterator.map { case ((f, t), n) => (f, t, n) }
          }
      }
  }

  /** Streaming gap sessionization — the event-time dual of
    * [[graft.functions.Events.sessionize]], and the one member of the
    * family with a REAL state timeout: events `(user, epochUs,
    * eventId)` key by user; state = the OPEN session `(session_seq,
    * start_us, last_us, last_event_id, n_events, open)`. Each batch
    * sorts its per-user slice by `(us, eventId)` (the batch tiebreak)
    * and chains it onto the open session: a gap > `gapUs` CLOSES the
    * session — one emitted row `(user, session_seq, start_us, end_us,
    * n_events, duration_us)`, exactly the batch sessionize schema —
    * and opens the next. When the event-time watermark passes
    * `last_us + gapUs` the group TIMES OUT and the still-open session
    * emits (the streaming analog of the batch table's final session),
    * so once the watermark drains past the data, the emitted rows ≡
    * the batch sessionize table on in-order epochs (spec-pinned).
    *
    * Two layers drop disorder: Spark's own late filter removes rows
    * whose event time is already below the WATERMARK before they reach
    * this operator (the coarse guard — at scale that is most of the
    * straggler mass, governed by `watermarkDelay`), and inside the
    * slack this operator's in-order check drops anything sorting
    * before the group's remembered last event.
    *
    * Contracts shared with the family: out-of-order arrivals (sorting
    * before the remembered last event) drop without advancing state;
    * `session_seq` SURVIVES a timeout, so a returning user continues
    * the batch numbering instead of restarting at 1 (the closed
    * marker is one boolean — state per user stays 6 scalars,
    * independent of event count). The timeout timestamp rounds UP to
    * the next millisecond above `last_us + gapUs` (GroupState speaks
    * ms, epochs are µs) and clamps above the current watermark, so a
    * session can time out LATE by < 1 ms of event time but never
    * early — timing out early would emit a session the next in-gap
    * event should have extended.
    *
    * Scale shape: one user-keyed stateful shuffle, constant state per
    * user, emission ∝ closed sessions per trigger. `watermarkDelay`
    * is the out-of-order slack traded against emission latency.
    */
  def streamingSessions(events: org.apache.spark.sql.Dataset[(Long, Long, Long)],
                        gapUs: Long, watermarkDelay: String = "0 seconds")
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long)] = {
    require(gapUs > 0, s"gap must be positive: $gapUs")
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long, Long, Boolean)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long, Boolean)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long, Long)]
    implicit val rowEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, java.sql.Timestamp)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, java.sql.Timestamp)]
    // EventTimeTimeout needs a watermark on a real timestamp column
    // that SURVIVES into the stateful operator's input (Spark's check
    // looks for the watermark-tagged attribute there), so __ts rides
    // along in the tuple even though the state logic reads only `us`
    val withWm = events.toDF("user", "us", "event_id")
      .withColumn("__ts", timestamp_micros(col("us")))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Long, Long, java.sql.Timestamp)](rowEnc)
    withWm.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Boolean),
                              (Long, Long, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, vals: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long, Long, Boolean)]) =>
          if (state.hasTimedOut) {
            val (seq, start, last, lastId, n, open) = state.get
            // keep (seq, last) so numbering and the in-order contract
            // survive the close; no new timeout — constant-size state
            // simply rests until the user returns
            state.update((seq, start, last, lastId, 0L, false))
            if (open) Iterator.single((user, seq, start, last, n, last - start))
            else Iterator.empty
          } else {
            val sorted = vals.map(v => (v._2, v._3)).toSeq.sorted
            if (sorted.isEmpty) Iterator.empty
            else {
              var (seq, start, last, lastId, n, open) =
                state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L, false))
              val closed = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Long, Long, Long, Long, Long)]
              sorted.foreach { case (us, id) =>
                if (seq == 0L) { // first event ever: open session 1
                  seq = 1L; start = us; last = us; lastId = id
                  n = 1L; open = true
                } else if (us > last || (us == last && id >= lastId)) {
                  if (!open) { // returning after a timeout-close
                    seq += 1L; start = us; n = 0L; open = true
                  } else if (us - last > gapUs) { // gap: close + reopen
                    closed += ((user, seq, start, last, n, last - start))
                    seq += 1L; start = us; n = 0L
                  }
                  last = us; lastId = id; n += 1L
                } // else: out-of-order — dropped, state not advanced
              }
              state.update((seq, start, last, lastId, n, open))
              // fire strictly AFTER last_us + gapUs: ceil to the next
              // ms, clamped above the watermark (required by Spark)
              val fireMs = Math.floorDiv(last + gapUs, 1000L) + 1L
              state.setTimeoutTimestamp(
                math.max(fireMs, state.getCurrentWatermarkMs + 1L))
              closed.iterator
            }
          }
      }
  }

  /** Same wrap guard as `Stats.ppmSql`: counts past ~9.22·10¹² would
    * overflow `n·10⁶`; the live gate dies loudly like the batch one.
    */
  private def ppmOrThrow(n: Long, d: Long): Option[Long] =
    if (d <= 0L) None
    else if (n > 9223372036854L)
      throw new IllegalStateException(s"ppm int64 overflow: $n")
    else Some(n * 1000000L / d)

  /** Streaming confusion report — the incremental dual of
    * the grouped [[graft.functions.Stats.confusionStats]]: rows
    * `(group, pred, label)` keep 5 long counters per group
    * (tp/fp/tn/fn/n_excluded — a None on either side counts excluded,
    * the batch null contract), and every trigger emits the group's
    * running counts plus the same floor-ppm
    * precision/recall/F1/accuracy with NULL (None) degenerate
    * denominators. Counters are associative and commutative, so the
    * emitted state after any prefix of batches equals the batch
    * operator over the same rows (spec-pinned); the latest row per
    * group IS the report — an idempotent upsert, no replay. State per
    * group = 5 longs, independent of row count; the ppm wrap guard
    * matches `Stats.ppmSql` (loud past ~9.22·10¹²).
    */
  def streamingConfusion(
      rows: org.apache.spark.sql.Dataset[(String, Option[Boolean], Option[Boolean])])
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long, Long,
          Option[Long], Option[Long], Option[Long], Option[Long])] = {
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long,
        Long, Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])] =
      org.apache.spark.sql.Encoders.product[(String, Long, Long, Long, Long,
        Long, Option[Long], Option[Long], Option[Long], Option[Long])]
    // null group keys are excluded, matching the batch op's
    // `groupCol IS NOT NULL` filter — without this, groupByKey happily
    // keys on null and the claimed stream == batch equality breaks on
    // the first null-group row (ADVICE r12)
    rows.filter(_._1 != null)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .mapGroupsWithState[(Long, Long, Long, Long, Long),
          (String, Long, Long, Long, Long, Long,
           Option[Long], Option[Long], Option[Long], Option[Long])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (g: String, vals: Iterator[(String, Option[Boolean], Option[Boolean])],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long, Long)]) =>
          var (tp, fp, tn, fn, ex) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L))
          vals.foreach {
            case (_, Some(p), Some(y)) =>
              if (p && y) tp += 1
              else if (p) fp += 1
              else if (!y) tn += 1
              else fn += 1
            case _ => ex += 1
          }
          state.update((tp, fp, tn, fn, ex))
          (g, tp, fp, tn, fn, ex,
            ppmOrThrow(tp, tp + fp), ppmOrThrow(tp, tp + fn),
            ppmOrThrow(2 * tp, 2 * tp + fp + fn),
            ppmOrThrow(tp + tn, tp + fp + tn + fn))
      }
  }

  /** Streaming calibration table — the incremental dual of
    * the grouped [[graft.functions.Stats.reliabilityDiagram]]: rows
    * `(group, score, label)` gate exactly like the batch op
    * (NaN and |s| ≥ 10¹⁹ excluded), clamp-bin in DOUBLE space with the
    * same formula, and key by `(group, bin)`. State per cell =
    * (n, n_pos, Σscore) with the score sum carried at DECIMAL scale 9
    * HALF_UP — the precise semantics of the batch `cast(DECIMAL(28,9))`
    * accumulation, so the emitted mean is bit-identical to the batch
    * mean over the same rows (spec-pinned). Every trigger emits the
    * cell's running (group, bin, n, n_pos, frac_pos_ppm, mean_score);
    * the latest row per cell is the upsert. Empty-grid completion
    * (zero-count bins) is the consumer's static left join, exactly as
    * in the batch op's own grid step. State per observed cell = 2
    * longs + 1 decimal, independent of row count.
    */
  def streamingReliability(
      rows: org.apache.spark.sql.Dataset[(String, Double, Boolean)],
      nBins: Int, lo: Double, hi: Double)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long,
          Option[Long], Double)] = {
    require(nBins >= 1, s"need at least one bin: $nBins")
    require(lo < hi, s"need lo < hi: ($lo, $hi)")
    val w = (hi - lo) / nBins
    def binOf(s: Double): Long =
      math.floor(math.min((nBins - 1).toDouble,
        math.max(0.0, (s - lo) / w))).toLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Long, Long, BigDecimal)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, BigDecimal)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long,
        Long, Option[Long], Double)] =
      org.apache.spark.sql.Encoders.product[(String, Long, Long, Long,
        Option[Long], Double)]
    implicit val keyEnc: org.apache.spark.sql.Encoder[(String, Long)] =
      org.apache.spark.sql.Encoders.product[(String, Long)]
    // null group keys excluded like the batch op's `__g IS NOT NULL`
    // (the streamingConfusion ADVICE r12 contract, applied symmetrically)
    rows.filter(v => v._1 != null && !v._2.isNaN && math.abs(v._2) < 1e19)
      .groupByKey(v => (v._1, binOf(v._2)))
      .mapGroupsWithState[(Long, Long, BigDecimal),
          (String, Long, Long, Long, Option[Long], Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key: (String, Long), vals: Iterator[(String, Double, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, BigDecimal)]) =>
          var (n, np, ssum) = state.getOption
            .getOrElse((0L, 0L, BigDecimal(0).setScale(9)))
          vals.foreach { case (_, s, y) =>
            n += 1
            if (y) np += 1
            ssum += BigDecimal(s)
              .setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
          }
          state.update((n, np, ssum))
          (key._1, key._2, n, np, ppmOrThrow(np, n),
            ssum.toDouble / n.toDouble)
      }
  }

  /** Streaming BINNED ROC-AUC — the incremental companion to
    * the grouped [[graft.functions.Stats.aucPieces]]. Exact streaming AUC
    * needs every score ever seen (a rank is global); this keeps the
    * state bounded instead by quantizing scores into `nBins` clamp-bins
    * (the [[streamingReliability]] formula) and holding per-group
    * pos/neg LONG histograms — `2·nBins` longs per group, independent
    * of row count. The emitted pieces are the EXACT Mann–Whitney
    * statistics of the binned distribution: positives in bin b carry
    * the doubled average rank `2·below_b + n_b + 1` (ties within a bin
    * contribute exactly ½ — not an approximation OF the binned scores,
    * the exact value for them), so the emitted row after any prefix of
    * batches is value-identical to batch grouped `aucPieces` run on the
    * same rows with the bin INDEX as the score (spec-pinned).
    *
    * THE HONEST CAVEAT: binning is the approximation. AUC of binned
    * scores ≠ AUC of raw scores whenever a bin mixes positives and
    * negatives whose raw order mattered; the error is bounded by the
    * probability mass of mixed bins and shrinks with `nBins`. Monitor
    * with a coarse grid, adjudicate offline with the exact batch op.
    *
    * Gating matches the batch op: null group / NaN score / (here)
    * non-finite clamp handled by the bin formula; labels are
    * primitive. Output per trigger per touched group:
    * (group, n_pos, n_neg, sum_r2_pos, auc_num, auc_den) — the
    * aucPieces integer-exact shape carried as BigDecimal (scale 0), so
    * `auc_den = 0 ⇔ one class absent` stays the undefined-AUC signal.
    * The latest row per group is the upsert.
    */
  def streamingAuc(
      rows: org.apache.spark.sql.Dataset[(String, Double, Boolean)],
      nBins: Int, lo: Double, hi: Double)
      : org.apache.spark.sql.Dataset[(String, Long, Long,
          BigDecimal, BigDecimal, BigDecimal)] = {
    require(nBins >= 1, s"need at least one bin: $nBins")
    require(lo < hi, s"need lo < hi: ($lo, $hi)")
    val w = (hi - lo) / nBins
    def binOf(s: Double): Int =
      math.floor(math.min((nBins - 1).toDouble,
        math.max(0.0, (s - lo) / w))).toInt
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Seq[Long], Seq[Long])] =
      org.apache.spark.sql.Encoders.product[(Seq[Long], Seq[Long])]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long,
        BigDecimal, BigDecimal, BigDecimal)] =
      org.apache.spark.sql.Encoders.product[(String, Long, Long,
        BigDecimal, BigDecimal, BigDecimal)]
    rows.filter(v => v._1 != null && !v._2.isNaN)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .mapGroupsWithState[(Seq[Long], Seq[Long]),
          (String, Long, Long, BigDecimal, BigDecimal, BigDecimal)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (g: String, vals: Iterator[(String, Double, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[(Seq[Long], Seq[Long])]) =>
          val (p0, n0) = state.getOption
            .getOrElse((Seq.fill(nBins)(0L), Seq.fill(nBins)(0L)))
          val pos = p0.toArray; val neg = n0.toArray
          vals.foreach { case (_, s, y) =>
            val b = binOf(s)
            if (y) pos(b) += 1 else neg(b) += 1
          }
          state.update((pos.toSeq, neg.toSeq))
          // exact Mann–Whitney over the histogram: below = pooled count
          // in lower bins; doubled avg rank of bin b = 2·below + n_b + 1
          var below = BigInt(0); var sumR2 = BigInt(0)
          var nPos = 0L; var nNeg = 0L
          (0 until nBins).foreach { b =>
            val nb = BigInt(pos(b)) + BigInt(neg(b))
            sumR2 += BigInt(pos(b)) * (below * 2 + nb + 1)
            below += nb
            nPos += pos(b); nNeg += neg(b)
          }
          val num = sumR2 - BigInt(nPos) * (BigInt(nPos) + 1)
          val den = BigInt(2) * BigInt(nPos) * BigInt(nNeg)
          (g, nPos, nNeg, BigDecimal(sumR2), BigDecimal(num), BigDecimal(den))
      }
  }

  /** Streaming distribution drift against a FROZEN reference histogram —
    * the live dual of [[graft.functions.Stats.histogramDrift]] and the
    * last member of the streaming eval family (confusion / reliability /
    * AUC / drift). The production monitoring shape: side A is
    * yesterday's batch profile, frozen as `reference` bin counts over
    * the same fixed [lo, hi) × nBins grid; side B is the live stream,
    * accumulated per group as `nBins` long counters. Every trigger
    * emits, for each group that saw data, the full per-bin drift table
    * in the batch op's exact-integer shape: `(group, bin, lo_edge,
    * n_a, n_b, l1_num, n_a_tot, n_b_tot)` with
    * `l1_num = |n_a·n_b_tot − n_b·n_a_tot|` computed in BigInt — the
    * numerator of |p_a − p_b| over the common denominator, so L1/PSI
    * scores stay consumer-side exact rationals, no float ratio ever
    * emitted. The latest (group, bin) row is the upsert; the emitted
    * table after any prefix of batches is value-identical to the batch
    * op run on (reference values, prefix rows of that group)
    * (spec-pinned). Gating matches batch: NaN excluded, out-of-range
    * clamps into edge bins, null groups excluded (the batch family's
    * IS NOT NULL contract). State per group = nBins longs.
    */
  def streamingDrift(
      rows: org.apache.spark.sql.Dataset[(String, Double)],
      reference: Seq[Long], nBins: Int, lo: Double, hi: Double)
      : org.apache.spark.sql.Dataset[(String, Long, Double, Long, Long,
          BigDecimal, Long, Long)] = {
    require(nBins >= 1, s"need at least one bin: $nBins")
    require(lo < hi, s"need lo < hi: ($lo, $hi)")
    require(reference.length == nBins,
      s"reference histogram has ${reference.length} bins, grid has $nBins")
    require(reference.forall(_ >= 0L), "negative reference count")
    val w = (hi - lo) / nBins
    // the batch op's binning exactly: floor((x−lo)/w) clamped into the
    // edge bins (least/greatest over the INT bin, not the double)
    def binOf(x: Double): Int =
      math.min(nBins - 1,
        math.max(0, math.floor((x - lo) / w).toInt))
    val refTot = reference.map(BigInt(_)).sum
    require(refTot.isValidLong, "reference total overflows long")
    implicit val stateEnc: org.apache.spark.sql.Encoder[Tuple1[Seq[Long]]] =
      org.apache.spark.sql.Encoders.product[Tuple1[Seq[Long]]]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Double,
        Long, Long, BigDecimal, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(String, Long, Double,
        Long, Long, BigDecimal, Long, Long)]
    rows.filter(v => v._1 != null && !v._2.isNaN)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Tuple1[Seq[Long]],
          (String, Long, Double, Long, Long, BigDecimal, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (g: String, vals: Iterator[(String, Double)],
         state: org.apache.spark.sql.streaming.GroupState[Tuple1[Seq[Long]]]) =>
          val cnt = state.getOption.map(_._1.toArray)
            .getOrElse(Array.fill(nBins)(0L))
          vals.foreach { case (_, x) => cnt(binOf(x)) += 1 }
          state.update(Tuple1(cnt.toSeq))
          val bTot = cnt.sum
          (0 until nBins).iterator.map { b =>
            val l1 = (BigInt(reference(b)) * bTot -
              BigInt(cnt(b)) * refTot).abs
            (g, b.toLong, lo + b * w, reference(b), cnt(b),
              BigDecimal(l1), refTot.toLong, bTot)
          }
      }
  }

  /** Streaming quantiles over a fixed binning — the bounded-state live
    * dual of [[graft.functions.Stats.exactQuantiles]]. Exact streaming
    * order statistics need unbounded state; the production compromise
    * shipped here is the [[streamingDrift]] state shape (per-group
    * `nBins` long counters over an explicit [lo, hi) grid, values
    * outside clamping into the edge bins) with quantiles read off the
    * histogram: for each requested probability `p` the emitted row is
    * the BIN containing the order statistic at 1-based rank
    * `min(n, floor(p·n) + 1)`, with `p·n` floored in EXACT decimal
    * arithmetic (p read as the decimal it prints as — no binary-double
    * artifacts: 0.29·100 floors to 29, not the double product's 28).
    * For p an exact decimal i/k (deciles, quartiles) this is
    * [[graft.functions.Stats.quantileBucket]]'s cut rank
    * `(i·n) div k + 1`; output `(group, p, n, bin, q_lo_edge)`. This is
    * EXACT for bin-quantized values by construction (every value in a
    * bin is its lo_edge, so the rank-th smallest quantized value IS the
    * emitted edge — spec-pinned value-identical to a driver-side exact
    * quantile of the quantized prefix after any batch split); for raw
    * values the error is bounded by one bin width, the documented
    * approximation. Gating matches the family: null groups and NaN
    * values drop; the latest (group, p) row is the upsert. State per
    * group = nBins longs, independent of stream length.
    */
  def streamingQuantiles(
      rows: org.apache.spark.sql.Dataset[(String, Double)],
      probs: Seq[Double], nBins: Int, lo: Double, hi: Double)
      : org.apache.spark.sql.Dataset[(String, Double, Long, Long, Double)] = {
    require(nBins >= 1, s"need at least one bin: $nBins")
    require(lo < hi, s"need lo < hi: ($lo, $hi)")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be non-empty within [0, 1]: $probs")
    val w = (hi - lo) / nBins
    def binOf(x: Double): Int =
      math.min(nBins - 1, math.max(0, math.floor((x - lo) / w).toInt))
    implicit val stateEnc: org.apache.spark.sql.Encoder[Tuple1[Seq[Long]]] =
      org.apache.spark.sql.Encoders.product[Tuple1[Seq[Long]]]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Double, Long,
        Long, Double)] =
      org.apache.spark.sql.Encoders.product[(String, Double, Long, Long, Double)]
    rows.filter(v => v._1 != null && !v._2.isNaN)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Tuple1[Seq[Long]],
          (String, Double, Long, Long, Double)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (g: String, vals: Iterator[(String, Double)],
         state: org.apache.spark.sql.streaming.GroupState[Tuple1[Seq[Long]]]) =>
          val cnt = state.getOption.map(_._1.toArray)
            .getOrElse(Array.fill(nBins)(0L))
          vals.foreach { case (_, x) => cnt(binOf(x)) += 1 }
          state.update(Tuple1(cnt.toSeq))
          val n = cnt.sum
          probs.iterator.map { p =>
            // rank in EXACT decimal arithmetic: p is read as the decimal
            // it prints as (BigDecimal.valueOf) and p·n floors without
            // binary-double artifacts — double 0.29*100 is 28.999…
            // (rank 29), the decimal is exactly 29 (rank 30). For p an
            // exact decimal i/k (deciles, quartiles) this IS
            // quantileBucket's cut rank (i·n) div k + 1; a p like
            // 1.0/3 prints as 0.3333333333333333 and sits one rank
            // below the integer tercile when 3 | n — pass decimal
            // probs for decimal semantics.
            val rank = math.min(n,
              (BigDecimal(java.math.BigDecimal.valueOf(p)) * BigDecimal(n))
                .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong + 1L)
            var cum = 0L; var b = 0; var found = -1
            while (b < nBins && found < 0) {
              cum += cnt(b)
              if (cum >= rank) found = b
              b += 1
            }
            val bin = math.max(found, 0)
            (g, p, n, bin.toLong, lo + bin * w)
          }
      }
  }

  /** Streaming moments census — the live dual of
    * [[graft.functions.Stats.momentsBuild]], per GROUP: counts
    * (rows / nulls / eligible), decimal sums of value and value², and
    * min/max, accumulated as bounded state (7 scalars per group) and
    * re-emitted every trigger. The emitted row after any prefix is
    * value-identical to batch `momentsBuild` run on that group's
    * prefix (spec-pinned): per-value decimalization mirrors the batch
    * op exactly — `BigDecimal.valueOf(v)` (the double's SHORTEST
    * string, Spark's own double→decimal path) then `setScale(sumScale,
    * HALF_UP)` — and decimal addition is order-free, so stream
    * batching cannot flip a bit. NaN values count in `n_rows` but in
    * neither `n_nulls` nor `n` (the batch gate); null VALUES are part
    * of the census; null GROUPS drop (the streaming family's key
    * contract). The latest row per group is the upsert; `vmin`/`vmax`
    * are None until the group sees an eligible value. The sums are
    * emitted (and stored) as exact PLAIN decimal strings — the
    * encoder's DecimalType(38,18) would cap integer digits at 20 and
    * null an overflowing state write silently; strings carry any
    * magnitude exactly (parse with BigDecimal).
    */
  def streamingMoments(
      rows: org.apache.spark.sql.Dataset[(String, Option[Double])],
      sumScale: Int = 6)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long,
          String, String, Option[Double], Option[Double])] = {
    require(sumScale >= 0 && sumScale <= 15,
      s"sumScale must be in [0, 15]: $sumScale")
    def dec(v: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(v))
        .setScale(sumScale, BigDecimal.RoundingMode.HALF_UP)
    // the decimal sums travel (state AND output) as exact PLAIN decimal
    // strings, not encoder decimals: Spark's BigDecimal encoder is
    // DecimalType(38,18) — only 20 integer digits, far below batch
    // momentsBuild's DECIMAL(30,6) headroom — and an overflowing state
    // write would null the sum mid-stream (ADVICE-class silent
    // corruption). toPlainString/parse round-trips exactly at any
    // magnitude; arithmetic stays BigDecimal.
    type St = (Long, Long, Long, String, String,
      Option[Double], Option[Double])
    implicit val stateEnc: org.apache.spark.sql.Encoder[St] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, String,
        String, Option[Double], Option[Double])]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long,
        Long, String, String, Option[Double], Option[Double])] =
      org.apache.spark.sql.Encoders.product[(String, Long, Long, Long,
        String, String, Option[Double], Option[Double])]
    val zeroS = BigDecimal(0).setScale(sumScale).underlying.toPlainString
    val zero: St = (0L, 0L, 0L, zeroS, zeroS, None, None)
    rows.filter(_._1 != null)
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .mapGroupsWithState[St, (String, Long, Long, Long, String,
          String, Option[Double], Option[Double])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (g: String, vals: Iterator[(String, Option[Double])],
         state: org.apache.spark.sql.streaming.GroupState[St]) =>
          var (nRows, nNulls, n, sStr, sqStr, mn, mx) =
            state.getOption.getOrElse(zero)
          var s = BigDecimal(new java.math.BigDecimal(sStr))
          var sq = BigDecimal(new java.math.BigDecimal(sqStr))
          vals.foreach { case (_, ov) =>
            nRows += 1
            ov match {
              case None => nNulls += 1
              case Some(v) if v.isNaN => ()
              case Some(v) =>
                n += 1
                s += dec(v)
                // one double multiply BEFORE decimalizing — the batch
                // op casts (v * v) as one double expression
                sq += dec(v * v)
                mn = Some(mn.fold(v)(math.min(_, v)))
                mx = Some(mx.fold(v)(math.max(_, v)))
            }
          }
          val sOut = s.underlying.toPlainString
          val sqOut = sq.underlying.toPlainString
          state.update((nRows, nNulls, n, sOut, sqOut, mn, mx))
          (g, nRows, nNulls, n, sOut, sqOut, mn, mx)
      }
  }

  /** Streaming heavy-hitter NOMINATION — the live dual of
    * [[graft.functions.Corpus.heavyHitters]]' sketch pass. The batch op
    * is two-pass (Misra–Gries nominates a certain superset, an exact
    * recount adjudicates); a stream can run pass 1 continuously and leave
    * adjudication to the next batch window, which is exactly the shape
    * shipped here: per-bucket MG state, every trigger re-emitting the
    * surviving candidates with their lower-bound estimates.
    *
    * Buckets are the scale lever: a single global MG would serialize the
    * whole stream through one state key, so tokens spread over `buckets`
    * states by `pmod(xxhash64(token), buckets)` (the engine's standard
    * 8-byte key hash). Because a token lives in exactly ONE bucket, the
    * classic MG guarantee applies per bucket with the bucket's own mass:
    * every token with true count > bucketTotal/(capacity+1) survives in
    * its bucket's summary, and since bucketTotal ≤ streamTotal the
    * GLOBAL guarantee follows — any token above streamTotal/(capacity+1)
    * is certainly nominated. Estimates never overcount and undercount by
    * at most bucketTotal/(capacity+1) (each decrement event burns
    * capacity+1 units of inserted mass); a bucket that never overflowed
    * its `capacity` distinct tokens reports EXACT counts. All
    * spec-pinned, order-independently — MG's surviving SET can depend on
    * arrival order, its guarantees cannot, so the pins are the
    * guarantees, not a bit-layout.
    *
    * State per bucket = ≤ capacity (token, long) entries + one total
    * long — independent of stream length. Output per trigger per touched
    * bucket: (bucket, token, est, bucket_total), candidates sorted for
    * deterministic emission order; the latest rows per bucket are the
    * upsert (a candidate absent from its bucket's newest emission was
    * decremented away). Nulls drop (the family's null-gate contract).
    *
    * Cite: reference stats service (stats.go:12-157) tracks fixed
    * counters only; a bounded-state streaming top-k has no counterpart.
    */
  def streamingHeavyHitters(
      toks: org.apache.spark.sql.Dataset[String],
      capacity: Int, buckets: Int)
      : org.apache.spark.sql.Dataset[(Long, String, Long, Long)] = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val spark = toks.sparkSession
    import spark.implicits._
    val mg = graft.functions.Corpus.misraGries(capacity)
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Map[String, Long], Long)] =
      org.apache.spark.sql.Encoders.product[(Map[String, Long], Long)]
    implicit val outEnc: org.apache.spark.sql.Encoder[(Long, String, Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, String, Long, Long)]
    toks.filter(_ != null)
      .select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("value")),
          org.apache.spark.sql.functions.lit(buckets.toLong)).as("_1"),
        col("value").as("_2"))
      .as[(Long, String)]
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[(Map[String, Long], Long),
          (Long, String, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (b: Long, vals: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[(Map[String, Long], Long)]) =>
          var (m, tot) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          vals.foreach { case (_, t) => m = mg.reduce(m, t); tot += 1 }
          state.update((m, tot))
          m.toSeq.sortBy(_._1).iterator.map { case (t, est) => (b, t, est, tot) }
      }
  }

  /** Exactly-once parquet batch sink for `foreachBatch`.
    *
    * `foreachBatch` gives AT-LEAST-once: after a crash between "batch
    * written" and "offsets committed", the SAME epoch is replayed with the
    * SAME batchId. Appending would duplicate it. This sink makes the
    * replay a no-op-equivalent by keying the write on the batchId:
    * `path/batch_id=N` is written with dynamic partition overwrite, so a
    * re-run of epoch N atomically replaces epoch N's own output and
    * touches nothing else — write-idempotence, which together with the
    * checkpoint's offset tracking upgrades the pipeline to effective
    * exactly-once. (The same deterministic-target trick the reference
    * cannot express: its streaming sinks are side-effecting Map closures,
    * reference README.md:333.)
    *
    * Readers see a normal partitioned dataset: `batch_id` is just a
    * directory column; downstream consumers filter or ignore it.
    */
  def idempotentParquetSink(path: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(path)
}
