package graft
package board

import org.apache.spark.sql.functions._

import Helpers._

/** Event analytics over [[graft.functions.Events]] and the multimodal
  * near-dup kernels of [[graft.multimodal.Multimodal]]: funnels,
  * sessions, attribution, retention, time-series resampling.
  */
private[graft] object EventsQueries {

  /** The greedy step-time CTE chain x_funnel / x_funnel_deep /
    * x_funnel_latency share (s3 carries t1 AND t3 for the window gate
    * and the latency).
    */
  private val funnelStepsCte: String =
    """e AS (
      | SELECT user_id AS u, epoch_us(ts) AS us, event_type AS t FROM events),
      |s1 AS (SELECT u, MIN(us) AS t1 FROM e WHERE t = 'view' GROUP BY u),
      |s2 AS (SELECT e.u, t1, MIN(us) AS t2 FROM e JOIN s1 ON e.u = s1.u
      |       WHERE t = 'click' AND e.us >= s1.t1 GROUP BY e.u, t1),
      |s3 AS (SELECT e.u, s2.t1, MIN(us) AS t3 FROM e JOIN s2 ON e.u = s2.u
      |       WHERE t = 'purchase' AND e.us >= s2.t2 GROUP BY e.u, s2.t1)""".stripMargin

  /** The view→click→purchase funnel oracle — shared by x_funnel (k-join
    * engine form) and x_funnel_deep (one-shuffle kernel form): both
    * compute the identical step recurrence.
    */
  private val funnelOracle: String =
    s"""WITH $funnelStepsCte
      |SELECT * FROM (
      | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
      |  COUNT(*) AS n_users FROM s1 WHERE t1 - t1 <= 86400000000
      | UNION ALL
      | SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM s2
      | WHERE t2 - t1 <= 86400000000
      | UNION ALL
      | SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM s3
      | WHERE t3 - t1 <= 86400000000)
      |ORDER BY step""".stripMargin

  val queries: Seq[BoardQuery] = Seq(

    // Linear gap interpolation on the hourly grid — the fill rule
    // forward-fill can't express; exact integer buckets, IEEE-only
    // formula (no transcendentals), observed values pass through.
    BoardQuery("x_interpolate", ((s, dir) => {
      // pmod-then-div floors for any sign (the Events.floorBucket
      // discipline). DuckDB `//` truncates toward zero (NOT floor), so
      // the oracle mirrors the same subtract-positive-mod-then-divide
      // form — the numerator is exactly divisible, where trunc = floor
      val hourly = t(s, dir, "events")
        .groupBy(col("user_id"),
          expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000L))" +
            " div 3600000000L").as("t"))
        .agg(dsum(col("value"), 6).as("v"))
      graft.functions.Events.interpolate(hourly, "user_id", "t", "v")
        .orderBy("user_id", "t")
    }),
      // The same grid + neighbor-carry windows; the interpolation formula
      // is mirrored op-for-op (conversions, one divide, multiply, add).
      // Bucketing mirrors the engine's FLOOR semantics: DuckDB `//`
      // truncates toward zero, so a positive mod is subtracted first —
      // the numerator becomes exactly divisible (trunc = floor there),
      // keeping pre-1970 timestamps one bucket LOW on both engines.
      """WITH b0 AS (SELECT user_id,
        |  (epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000)
        |    % 3600000000) // 3600000000 AS t,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        | FROM events GROUP BY 1, 2),
        |b AS (SELECT * FROM b0 WHERE v IS NOT NULL),
        |g AS (SELECT user_id, unnest(range(mn, mx + 1)) AS t
        | FROM (SELECT user_id, MIN(t) AS mn, MAX(t) AS mx FROM b GROUP BY 1)),
        |j AS (SELECT g.user_id, g.t, b.v FROM g
        | LEFT JOIN b ON b.user_id = g.user_id AND b.t = g.t),
        |w AS (SELECT user_id, t, v,
        |  last_value(CASE WHEN v IS NOT NULL THEN {'t': t, 'v': v} END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |  first_value(CASE WHEN v IS NOT NULL THEN {'t': t, 'v': v} END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
        | FROM j)
        |SELECT user_id, t,
        | CASE WHEN v IS NOT NULL THEN v
        |  ELSE p.v + (n.v - p.v) *
        |   (CAST(t - p.t AS DOUBLE) / CAST(n.t - p.t AS DOUBLE)) END AS v,
        | CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS kind
        |FROM w ORDER BY user_id, t""".stripMargin),

    // Ordered conversion funnel view→click→purchase within 24h of the
    // first view — per-step user counts; exact integer micros throughout
    // (the r_sessionize discipline), one user-keyed agg per step.
    BoardQuery("x_funnel", ((s, dir) =>
      graft.functions.Events.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowUs = 86400000000L)
        .orderBy("step")),
      // Chained step CTEs: step k's MIN(us) over events of its type at or
      // after step k−1's time; a user counts iff t_k − t_1 ≤ the window.
      funnelOracle),

    // Time-to-convert: one row per user completing the whole funnel in
    // the window, with exact integer-µs latency — feed to
    // exactQuantiles/quantileBucket for the percentile view.
    BoardQuery("x_funnel_latency", ((s, dir) =>
      graft.functions.Events.funnelLatency(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowUs = 86400000000L)
        .orderBy("user_id")),
      // Same CTE chain; s3's (t1, t3) carry the gate and the latency.
      s"""WITH $funnelStepsCte
        |SELECT u AS user_id, t1 AS t_first_us, t3 AS t_final_us,
        | t3 - t1 AS latency_us
        |FROM s3 WHERE t3 - t1 <= 86400000000
        |ORDER BY user_id""".stripMargin),

    // The ONE-shuffle deep-funnel form of the same query: events shuffle
    // once into per-user groups, the whole step recurrence runs as a
    // native kernel per user (FunnelReach), and per-step counts come off
    // a ≤|steps|-row reach histogram — identical semantics (same oracle
    // as x_funnel), the form that wins at 10+ steps where the k-join
    // re-scans the event table per step.
    BoardQuery("x_funnel_deep", ((s, dir) =>
      graft.functions.Events.funnelDeep(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowUs = 86400000000L)
        .orderBy("step")),
      // The deep-funnel form computes the SAME function — one oracle, two
      // engine plans (k filtered joins vs one shuffle + per-user kernel).
      funnelOracle),

    // Hourly rate-spike flags per event type vs the trailing-6-bucket
    // mean; integer cross-multiplication decides — no float in the
    // predicate, the window table is bucket-grained metadata.
    BoardQuery("x_event_spikes", ((s, dir) =>
      graft.functions.Events.rateSpikes(t(s, dir, "events"),
        "ts", "event_type", bucketUs = 3600000000L, trailing = 6, factor = 2L)
        .orderBy("event_type", "bucket")),
      // Same frame (ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING over observed
      // buckets) and the same integer cross-multiplied predicate.
      """WITH b AS (
        | SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |  COUNT(*) AS n
        | FROM events GROUP BY 1, 2),
        |wn AS (
        | SELECT event_type, bucket, n,
        |  SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS ps,
        |  COUNT(n) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS pc
        | FROM b)
        |SELECT event_type, bucket, n,
        | (pc = 6 AND n * 6 > 2 * ps) AS spike
        |FROM wn ORDER BY event_type, bucket""".stripMargin),

    // Cohort retention: users cohort by the UTC day of their first event;
    // (cohort_day, day_offset) counts distinct active users. All integer
    // day arithmetic (epoch micros DIV us-per-day).
    BoardQuery("x_retention", ((s, dir) =>
      graft.functions.Events.retention(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_day", "day_offset")),
      // Integer day arithmetic: epoch_us // 86400000000; DISTINCT (user,
      // cohort, offset) before the count, mirroring the engine.
      """WITH e AS (
        | SELECT user_id AS u, epoch_us(ts) // 86400000000 AS d FROM events),
        |f AS (SELECT u, MIN(d) AS d0 FROM e GROUP BY u),
        |a AS (SELECT DISTINCT e.u, f.d0, e.d - f.d0 AS off
        |      FROM e JOIN f ON e.u = f.u)
        |SELECT d0 AS cohort_day, off AS day_offset, COUNT(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),

    // Video scene-level near-dup: blobs split into 64-byte "frames",
    // each frame gets its perceptual bit-grid, and videos pair on ≥ 2
    // shared DISTINCT frame signatures (the inverted-index shape —
    // signature equi-join, never frames × frames). Planted copies damage
    // exactly one frame (first char swapped), so every planted pair with
    // ≥ 3 frames must surface with shared_frames = frames − 1.
    BoardQuery("x_video_neardup", ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 13 === 0 && length(col("text")) >= 129)
        .select((col("doc_id") + 50000000L).as("doc_id"),
          concat(lit("#"), expr("substring(text, 2)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "video", "mp4")
      graft.multimodal.Multimodal.videoNearDupByFrames(media,
          window = 64, minShared = 2)
        .orderBy("id_a", "id_b")
    }),
      // 64-byte frames with cells = 64 mean one byte per cell, so a frame
      // cell is ascii·131 mod 256 directly (no stripe sum); signatures
      // dedup per video BEFORE the pair join, mirroring the engine.
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 50000000, '#' || substr(text, 2) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 13 = 0 AND length(text) >= 129),
        |pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
        |        FROM docs),
        |gs AS (SELECT doc_id, (i - 1) // 64 AS f, (i - 1) % 64 AS c,
        |        (ascii(substr(text, CAST(i AS INTEGER), 1)) % 256) * 131 % 256 AS s
        |       FROM pos),
        |fr AS (SELECT doc_id, unnest(range(0, (length(text) + 63) // 64)) AS f
        |       FROM docs),
        |allc AS (SELECT r.doc_id, r.f, t.c FROM fr r
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.f, a.c, COALESCE(g.s, 0) AS s
        |         FROM allc a LEFT JOIN gs g
        |         ON g.doc_id = a.doc_id AND g.f = a.f AND g.c = a.c),
        |bits AS (SELECT doc_id, f,
        |  string_agg(CASE WHEN s > 127 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1, 2),
        |sig AS (SELECT DISTINCT doc_id, bs FROM bits),
        |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  COUNT(*) AS shared_frames
        | FROM sig x JOIN sig y ON x.bs = y.bs AND x.doc_id < y.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_frames FROM pairs WHERE shared_frames >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // Perceptual-hash image near-dup over the stub decode: planted
    // byte-local perturbations (2 leading chars swapped) move at most 2
    // grid cells, so every planted pair sits within Hamming 2 and the
    // 4-band pigeonhole must surface it; the ORACLE recomputes the whole
    // chain byte-for-byte (stripe-sum grid, fixed-threshold bits, banded
    // candidates, exact Hamming) — a full-chain oracle, not pinned recall.
    BoardQuery("x_phash_neardup", ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 7 === 0 && length(col("text")) >= 2)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("~!"), expr("substring(text, 3)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "image", "png")
      graft.multimodal.Multimodal.phashNearDupPairs(media, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
      // Recomputes the engine's whole perceptual chain on ASCII bytes (the
      // x_multimodal_decode convention): stripe sums mod 256 over byte
      // positions ≡ c (mod 64), fixed mid-gray threshold, 4×16-bit band
      // candidate join (complete for Hamming ≤ 3 by pigeonhole), exact
      // Hamming over the 64-char bit strings.
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 40000000, '~!' || substr(text, 3) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 7 = 0 AND length(text) >= 2),
        |pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
        |        FROM docs),
        |pb AS (SELECT doc_id, (i - 1) % 64 AS c,
        |        ascii(substr(text, CAST(i AS INTEGER), 1))::BIGINT
        |          * (2 * ((i - 1) // 64) + 1) AS v FROM pos),
        |gsum AS (SELECT doc_id, c, (SUM(v) % 256) * 131 % 256 AS s
        |         FROM pb GROUP BY 1, 2),
        |allc AS (SELECT d.doc_id, t.c FROM docs d
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.c, COALESCE(g.s, 0) AS s
        |         FROM allc a LEFT JOIN gsum g
        |         ON g.doc_id = a.doc_id AND g.c = a.c),
        |bits AS (SELECT doc_id,
        |  string_agg(CASE WHEN s > 127 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1),
        |bk AS (SELECT doc_id, bs, b, substr(bs, CAST(1 + 16 * b AS INTEGER), 16) AS key
        |       FROM bits CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |          x.bs AS ba, y.bs AS bb
        |         FROM bk x JOIN bk y
        |         ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
        |ham AS (SELECT id_a, id_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN substr(ba, CAST(i AS INTEGER), 1)
        |              <> substr(bb, CAST(i AS INTEGER), 1)
        |         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        | FROM cand)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Audio near-dup by banded PCM fingerprint — the phash discipline on
    // the audio modality: text bytes stand in for a PCM16 stream (stub
    // framing; the band math is byte-local, so the planted re-encodes —
    // first two bytes = sample 0 = band 0 perturbed — are pigeonhole-
    // guaranteed candidates and land within the Hamming budget). Full
    // chain (16-bit LE samples → odd-weighted floor-mod-65536 bands →
    // ×131 spread → threshold bits → banding → exact Hamming) mirrored
    // in DuckDB, bit-exact.
    BoardQuery("x_audio_neardup", ((s, dir) => {
      val base = t(s, dir, "documents").where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 7 === 0 && length(col("text")) >= 2)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("~!"), expr("substring(text, 3)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.select(col("doc_id"), col("text")).unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "audio", "pcm16")
      graft.multimodal.Multimodal.audioNearDupPairs(media, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
      // The audio chain mirrored end-to-end over the (ASCII) text bytes:
      // 16-bit LE samples from byte pairs, odd-weighted stripe sums in
      // floor-mod 65536 (DuckDB's % truncates, hence the +65536 fold),
      // ×131 spread, mid-range threshold, 4-band pigeonhole join, exact
      // Hamming ≤ 3.
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 40000000, '~!' || substr(text, 3) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 7 = 0 AND length(text) >= 2),
        |sm AS (SELECT doc_id, unnest(range(0, length(text) // 2)) AS k, text
        |       FROM docs),
        |ss AS (SELECT doc_id, k,
        |        CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
        |       FROM (SELECT doc_id, k,
        |         ascii(substr(text, CAST(2 * k + 1 AS INTEGER), 1))
        |         + 256 * ascii(substr(text, CAST(2 * k + 2 AS INTEGER), 1)) AS raw
        |        FROM sm)),
        |bv AS (SELECT doc_id, k % 64 AS c,
        |        s * (2 * (k // 64) + 1) AS v FROM ss),
        |gsum AS (SELECT doc_id, c, SUM(v) AS sv FROM bv GROUP BY 1, 2),
        |dn AS (SELECT doc_id, length(text) // 2 AS ns FROM docs),
        |allc AS (SELECT d.doc_id, t.c FROM docs d
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.c,
        |          ((((COALESCE(g.sv, 0) + d.ns * (a.c + 1)) % 65536)
        |            + 65536) % 65536 * 131) % 65536 AS b
        |         FROM allc a JOIN dn d ON d.doc_id = a.doc_id
        |         LEFT JOIN gsum g
        |         ON g.doc_id = a.doc_id AND g.c = a.c),
        |bits AS (SELECT doc_id,
        |  string_agg(CASE WHEN b > 32767 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1),
        |bk AS (SELECT doc_id, bs, b, substr(bs, CAST(1 + 16 * b AS INTEGER), 16) AS key
        |       FROM bits CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |          x.bs AS ba, y.bs AS bb
        |         FROM bk x JOIN bk y
        |         ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
        |ham AS (SELECT id_a, id_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN substr(ba, CAST(i AS INTEGER), 1)
        |              <> substr(bb, CAST(i AS INTEGER), 1)
        |         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        | FROM cand)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Window-level audio containment near-dup — the video shared-scene
    // discipline on the sample stream: planted re-encodes perturb only
    // sample 0 (first two bytes), so every other window's fingerprint
    // survives byte-identically and the signature equi-join recalls the
    // pair; whole chain mirrored in DuckDB.
    BoardQuery("x_audio_windows", ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 13 === 0 && length(col("text")) >= 200)
        .select((col("doc_id") + 70000000L).as("doc_id"),
          concat(lit("~!"), expr("substring(text, 3)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "audio", "pcm16")
      graft.multimodal.Multimodal.audioNearDupByWindows(media,
          windowSamples = 32, minShared = 2)
        .orderBy("id_a", "id_b")
    }),
      // Per-window sample chain mirrored: window w = k DIV 32, in-window
      // band c = k MOD 32 (single-sample stripes, weight 1), the same
      // floor-mod-65536 ×131 spread and mid-range bit, DISTINCT per-row
      // signatures, equi-join containment count ≥ 2.
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 70000000, '~!' || substr(text, 3) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 13 = 0 AND length(text) >= 200),
        |sm AS (SELECT doc_id, unnest(range(0, length(text) // 2)) AS k, text
        |       FROM docs),
        |ss AS (SELECT doc_id, k,
        |        CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
        |       FROM (SELECT doc_id, k,
        |         ascii(substr(text, CAST(2 * k + 1 AS INTEGER), 1))
        |         + 256 * ascii(substr(text, CAST(2 * k + 2 AS INTEGER), 1)) AS raw
        |        FROM sm)),
        |gs AS (SELECT doc_id, k // 32 AS w, k % 32 AS c, s AS sv FROM ss),
        |wr AS (SELECT doc_id, w,
        |        LEAST(32, (length(text) // 2) - 32 * w) AS wn
        |       FROM (SELECT doc_id, text,
        |         unnest(range(0, ((length(text) // 2) + 31) // 32)) AS w
        |        FROM docs)),
        |allc AS (SELECT r.doc_id, r.w, r.wn, t.c FROM wr r
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.w, a.c,
        |          ((((COALESCE(g.sv, 0) + a.wn * (a.c + 1)) % 65536)
        |            + 65536) % 65536 * 131) % 65536 AS b
        |         FROM allc a LEFT JOIN gs g
        |         ON g.doc_id = a.doc_id AND g.w = a.w AND g.c = a.c),
        |bits AS (SELECT doc_id, w,
        |  string_agg(CASE WHEN b > 32767 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1, 2),
        |sig AS (SELECT DISTINCT doc_id, bs FROM bits),
        |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  COUNT(*) AS shared_windows
        | FROM sig x JOIN sig y ON x.bs = y.bs AND x.doc_id < y.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_windows FROM pairs WHERE shared_windows >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // Last-touch attribution: every purchase credits the latest
    // click/view/signup by the same user in the prior 7 days — one
    // user-keyed window pass (running struct-max, integer microsecond
    // arithmetic), no per-conversion joins, 'none' when nothing
    // in-window precedes it.
    BoardQuery("x_attribution", ((s, dir) =>
      graft.functions.Events.lastTouchAttribution(t(s, dir, "events"),
          "user_id", "ts", "event_type", Seq("click", "view", "signup"),
          "purchase", 7L * 86400L * 1000000L)
        .orderBy("event_id")),
      // The same one-window attribution: running struct-max over the
      // strictly-preceding RANGE frame (same-microsecond touches are
      // excluded, and cannot shadow an earlier valid touch), 7-day
      // microsecond gate, 'none' rows keep null touch columns.
      """WITH w AS (SELECT event_id, user_id, event_type, ts,
        |  max(CASE WHEN event_type IN ('click', 'view', 'signup') THEN
        |    {'us': epoch_us(ts), 'eid': event_id, 'et': event_type} END)
        |  OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM events)
        |SELECT event_id, user_id,
        | CASE WHEN touch IS NOT NULL
        |   AND epoch_us(ts) - touch.us <= 604800000000
        |  THEN touch.et ELSE 'none' END AS touch_type,
        | CASE WHEN touch IS NOT NULL
        |   AND epoch_us(ts) - touch.us <= 604800000000
        |  THEN touch.eid END AS touch_event,
        | CASE WHEN touch IS NOT NULL
        |   AND epoch_us(ts) - touch.us <= 604800000000
        |  THEN epoch_us(ts) - touch.us END AS gap_us
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),

    // Multi-touch attribution: per-user range join executed as the
    // (user, window-bin) equi-join — conversions explode over ≤ 2 bins,
    // exact time gate prunes; credit = 1/n_touches exact rational.
    BoardQuery("x_multitouch", ((s, dir) =>
      graft.functions.Events.linearAttribution(t(s, dir, "events"),
          "user_id", "ts", "event_type", Seq("click", "view", "signup"),
          "purchase", 7L * 86400L * 1000000L)
        .orderBy("event_id", "touch_event")),
      // The binned range join collapses to a plain inequality join in the
      // oracle; zero-touch conversions kept via LEFT JOIN, n over pairs.
      """WITH tch AS (SELECT user_id AS u, epoch_us(ts) AS ut,
        |  event_id AS touch_event, event_type AS touch_type
        | FROM events
        | WHERE event_type IN ('click', 'view', 'signup') AND ts IS NOT NULL),
        |cv AS (SELECT user_id, epoch_us(ts) AS uc, event_id
        | FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |p AS (SELECT cv.event_id, tch.touch_event, tch.touch_type,
        |  cv.uc - tch.ut AS gap_us
        | FROM cv JOIN tch ON tch.u = cv.user_id
        |  AND tch.ut BETWEEN cv.uc - 604800000000 AND cv.uc - 1),
        |pn AS (SELECT *, COUNT(*) OVER (PARTITION BY event_id) AS n_touches
        | FROM p)
        |SELECT cv.event_id, cv.user_id, pn.touch_event, pn.touch_type,
        | pn.gap_us, COALESCE(pn.n_touches, 0) AS n_touches
        |FROM cv LEFT JOIN pn ON pn.event_id = cv.event_id
        |ORDER BY cv.event_id, pn.touch_event""".stripMargin),

    // Per-session table (30-min gap): lag + running sum in one user-
    // keyed window pass, (user, session)-keyed agg — exact micros.
    BoardQuery("x_sessions", ((s, dir) =>
      graft.functions.Events.sessionize(t(s, dir, "events"),
          "user_id", "ts", gapUs = 1800000000L)
        .orderBy("user", "session_seq")),
      // Same lag + running-sum session ids, per-session min/max/count.
      """WITH m AS (SELECT user_id AS user, event_id, epoch_us(ts) AS us,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
        |    > 1800000000 THEN 1 ELSE 0 END AS new_s
        | FROM events WHERE ts IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sid AS (SELECT user, us,
        |  CAST(1 + SUM(new_s) OVER (PARTITION BY user ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_seq
        | FROM m)
        |SELECT user, session_seq, MIN(us) AS start_us, MAX(us) AS end_us,
        | count(*) AS n_events, MAX(us) - MIN(us) AS duration_us
        |FROM sid GROUP BY user, session_seq
        |ORDER BY user, session_seq""".stripMargin),

    // 3-step journey census: one user-keyed k-lag window pass, path-
    // keyed agg with map-side partials, minCount tail guard.
    BoardQuery("x_paths", ((s, dir) =>
      graft.functions.Events.pathCounts(t(s, dir, "events"),
          "user_id", "ts", "event_type", k = 3, minCount = 5L)
        .orderBy(col("n").desc, col("path"))),
      // Same k-lag chain: two lags over the (epoch_us, event_id) order,
      // full windows only, '>'-joined path strings.
      """WITH seq AS (SELECT
        |  lag(event_type, 2) OVER w AS s0,
        |  lag(event_type, 1) OVER w AS s1,
        |  event_type AS s2
        | FROM events WHERE ts IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT s0 || '>' || s1 || '>' || s2 AS path, count(*) AS n
        |FROM seq
        |WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
        |GROUP BY 1 HAVING count(*) >= 5
        |ORDER BY n DESC, path""".stripMargin),

    // First-order Markov transition census: one user-keyed lag pass,
    // pair-keyed agg with map-side partials (≤ #types² rows per
    // partition), exact integer counts — MLE probability = n/n_from
    // left to the consumer.
    BoardQuery("x_transitions", ((s, dir) =>
      graft.functions.Events.transitionCounts(t(s, dir, "events"),
          "user_id", "ts", "event_type")
        .orderBy("from_type", "to_type")),
      // The same lag pass: per-user (epoch_us, event_id) order, pair
      // counts, from-type rollup as a window over the aggregated table.
      """WITH seq AS (SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS from_type
        | FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM seq
        | WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
        |FROM c ORDER BY from_type, to_type""".stripMargin),

    // Gaps-and-islands streak census: longest consecutive same-type
    // run per (user, type), ties pinned on (ts, event_id) — the
    // adjacency signal (outage/bot runs) a plain count can't see.
    BoardQuery("x_streaks", ((s, dir) =>
      graft.functions.Events.streaks(t(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id")
        .orderBy("user_id", "event_type")),
      // The same two-window island decomposition, pinned (ts, event_id).
      """WITH b AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  - row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS island
        | FROM events),
        |i AS (SELECT user_id, event_type, island, COUNT(*) AS len
        | FROM b GROUP BY 1, 2, 3)
        |SELECT user_id, event_type, CAST(SUM(len) AS BIGINT) AS n_events,
        | COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
        |FROM i GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin),

    // Per-user CUSUM changepoint scan: running sum of deviations from
    // the user's own mean peaks at the level shift; pinned-order float
    // sequence (the r_window_running discipline), DECIMAL(28,9) mean.
    BoardQuery("x_cusum", ((s, dir) =>
      graft.functions.Events.cusumScan(t(s, dir, "events"),
          "user_id", "ts", "value", "event_id")
        .orderBy("user_id")),
      // CUSUM mirrored: DECIMAL(28,9) mean, the identical pinned-order
      // running float sum, argmax by (|S| desc, ts, event_id).
      """WITH base AS (SELECT user_id, ts, event_id, value AS v FROM events
        | WHERE value IS NOT NULL AND NOT isnan(value)),
        |m AS (SELECT user_id,
        |  CAST(SUM(CAST(v AS DECIMAL(28,9))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean,
        |  COUNT(*) AS n FROM base GROUP BY 1),
        |s AS (SELECT b.user_id, b.ts, b.event_id, m.n,
        |  SUM(b.v - m.mean) OVER (PARTITION BY b.user_id
        |    ORDER BY b.ts, b.event_id ROWS UNBOUNDED PRECEDING) AS cs
        | FROM base b JOIN m USING (user_id)),
        |x AS (SELECT user_id, n, cs, ts,
        |  MAX(cs) OVER (PARTITION BY user_id) AS smax,
        |  MIN(cs) OVER (PARTITION BY user_id) AS smin,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY abs(cs) DESC, ts, event_id) AS rk
        | FROM s)
        |SELECT user_id, n, ROUND(abs(cs), 9) AS cusum_peak,
        | ts AS peak_ts, ROUND(smax - smin, 9) AS cusum_range
        |FROM x WHERE rk = 1 ORDER BY user_id""".stripMargin),

    // DAU/MAU stickiness per observed day, trailing 30 days, exact
    // floor-ppm ratio — the deduped activity table explodes to the
    // days it supports instead of a 30× sliding re-scan of the stream.
    BoardQuery("x_stickiness", ((s, dir) =>
      graft.functions.Events.stickiness(t(s, dir, "events"),
          "user_id", "ts", windowDays = 30)
        .orderBy("day")),
      // Same dedup-then-explode decomposition in SQL.
      """WITH ud AS (
        | SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dau AS (SELECT d AS day, COUNT(*) AS dau FROM ud GROUP BY d),
        |sup AS (SELECT DISTINCT u, d + j AS day FROM ud,
        | (SELECT unnest(range(0, 30)) AS j)),
        |mau AS (SELECT day, COUNT(*) AS mau FROM sup GROUP BY day)
        |SELECT dau.day, dau.dau, mau.mau,
        | (dau.dau * 1000000) // mau.mau AS stickiness_ppm
        |FROM dau JOIN mau ON dau.day = mau.day
        |ORDER BY dau.day""".stripMargin),

    // Cohort LTV curves: per (cohort day, day offset) active users,
    // day value and the cohort's cumulative value — decimal-summed,
    // cumsum over the aggregated grid only.
    BoardQuery("x_cohort_value", ((s, dir) =>
      graft.functions.Events.cohortValue(t(s, dir, "events"),
          "user_id", "ts", "value")
        .orderBy("cohort_day", "day_offset")),
      // Same integer day floor, decimal day sums, grid-sized cumsum.
      """WITH ev AS (
        | SELECT user_id AS u, epoch_us(ts) // 86400000000 AS d,
        |  COALESCE(CAST(value AS DECIMAL(28,6)), 0) AS v
        | FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT u, MIN(d) AS d0 FROM ev GROUP BY u),
        |g AS (SELECT f.d0 AS cohort_day, ev.d - f.d0 AS day_offset,
        |  COUNT(DISTINCT ev.u) AS n_users, SUM(ev.v) AS dv
        | FROM ev JOIN f ON ev.u = f.u GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_users,
        | CAST(dv AS DOUBLE) AS day_value,
        | CAST(SUM(dv) OVER (PARTITION BY cohort_day ORDER BY day_offset
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS cum_value
        |FROM g ORDER BY cohort_day, day_offset""".stripMargin),

    // Per-user exact spending trend: least-squares slope of value
    // against the hour index since 2024-01-01 (fixture epoch; offsets
    // non-negative so div == floor in both engines), emitted as the
    // exact rational slope_num/slope_den in value-micro-units per hour.
    BoardQuery("x_trend", ((s, dir) =>
      graft.functions.Events.trendStats(
          t(s, dir, "events").where(col("ts").isNotNull)
            .withColumn("hour_idx", expr(
              "(unix_micros(ts) - 1704067200000000L) div 3600000000L")),
          "user_id", "hour_idx", "value")
        .select(col("user_id"), col("n"),
          big(col("sum_x"), "sum_x"),
          big(col("sum_y_micro"), "sum_y_micro"),
          big(col("sum_xy_micro"), "sum_xy_micro"),
          big(col("sum_xx"), "sum_xx"),
          big(col("slope_num"), "slope_num"),
          big(col("slope_den"), "slope_den"))
        .orderBy("user_id")),
      // Same micro-unit scaling, HUGEINT products (int128 exact), finals
      // narrowed to BIGINT (mirrors the engine's big() guard).
      """WITH p AS (
        | SELECT user_id,
        |  CAST((epoch_us(ts) - 1704067200000000) // 3600000000
        |    AS HUGEINT) AS x,
        |  CAST(floor(value * 1000000.0) AS HUGEINT) AS y
        | FROM events
        | WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
        |   AND abs(value) <= 9200000000000.0),
        |a AS (
        | SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x * y) AS sxy, SUM(x * x) AS sxx
        | FROM p GROUP BY user_id)
        |SELECT user_id, n,
        | CAST(sx AS BIGINT) AS sum_x,
        | CAST(sy AS BIGINT) AS sum_y_micro,
        | CAST(sxy AS BIGINT) AS sum_xy_micro,
        | CAST(sxx AS BIGINT) AS sum_xx,
        | CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        | CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
        |FROM a ORDER BY user_id""".stripMargin),

    // Market-basket association pairs over orders: parts co-occurring
    // in ≥ 2 orders, with exact support counts and floor-ppm
    // confidences — pair generation is the order-keyed self-equi-join
    // (never an item cross product), oversized baskets guarded out.
    BoardQuery("x_basket_pairs", ((s, dir) =>
      graft.functions.Events.associationPairs(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy("item_a", "item_b")),
      // Same mining universe: distinct (order, part) membership, baskets
      // over 1000 items excluded everywhere, pair counts from the basket
      // self-join, confidences as exact floor parts-per-million.
      """WITH m AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT bk FROM m GROUP BY bk HAVING COUNT(*) <= 1000),
        |kept AS (SELECT m.bk, m.it FROM m JOIN sized USING (bk)),
        |itn AS (SELECT it, COUNT(*) AS n FROM kept GROUP BY it),
        |tot AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM kept),
        |p AS (SELECT l.it AS item_a, r.it AS item_b, COUNT(*) AS pair_n
        | FROM kept l JOIN kept r ON l.bk = r.bk AND l.it < r.it
        | GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_a, item_b, pair_n, a.n AS a_n, b.n AS b_n,
        | t.n_baskets,
        | (pair_n * 1000000) // a.n AS conf_ab_ppm,
        | (pair_n * 1000000) // b.n AS conf_ba_ppm
        |FROM p JOIN itn a ON p.item_a = a.it
        | JOIN itn b ON p.item_b = b.it, tot t
        |ORDER BY item_a, item_b""".stripMargin),

    // Multimodal plumbing: opaque binary column + typed metadata (the
    // decode itself is stubbed in graft.multimodal; here the oracle-
    // checkable byte-level layer).
    BoardQuery("x_multimodal_bytes", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        col("n_chars"))
        .orderBy("doc_id")),
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal decode pipeline: text→binary blob→stubbed image decode →
    // per-media stats (rows-only; the stub codec is engine-specific).
    BoardQuery("x_multimodal_decode", ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMediaTable(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "image", "png")
      graft.multimodal.Multimodal.decodeImages(media).orderBy("media_id")
    }),
      // The stub codec derives (width, height, mean_luma) from
      // java.util.Arrays.hashCode of the UTF-8 bytes — a 31-polynomial fold
      // DuckDB reproduces exactly with list_reduce over ascii codes (the
      // synthetic corpus is pure ASCII, asserted by the length guard), so
      // even the stubbed decode path is value-checked, not just row-counted.
      """WITH h0 AS (
        | SELECT doc_id AS media_id,
        |  list_reduce(
        |    list_prepend(1::BIGINT, list_transform(range(1, length(text)+1),
        |      i -> ascii(substr(text, i, 1))::BIGINT)),
        |    (a, b) -> ((a * 31 + b) % 4294967296 + 4294967296) % 4294967296) AS hu
        | FROM documents),
        |h1 AS (
        | SELECT media_id,
        |  CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END AS h
        | FROM h0)
        |SELECT media_id,
        | CAST(16 + abs(h % 1024) AS INTEGER) AS width,
        | CAST(16 + abs(CAST((h - (h % 1024)) / 1024 AS BIGINT) % 1024) AS INTEGER) AS height,
        | CAST(abs(h % 256) AS DOUBLE) AS mean_luma
        |FROM h1 ORDER BY media_id""".stripMargin),
  )
}
