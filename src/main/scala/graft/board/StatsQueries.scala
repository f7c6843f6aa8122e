package graft
package board

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Helpers._

/** Statistics over [[graft.functions.Stats]]: drift, tests,
  * calibration, agreement, quantiles, profiles and sketches.
  */
private[graft] object StatsQueries {

  val queries: Seq[BoardQuery] = Seq(

    // Mergeable-sketch rollup (Datasketches HLL): per-nation sketches of
    // distinct customers, UNIONED up to region level without rescanning
    // the fact table — the pattern that makes multi-granularity distinct
    // counts affordable at 100 TB (sketch bytes roll up; raw keys don't
    // have to). Self-verifying like x_approx_distinct: output is the
    // exact count (nations partition customers, so regional distinct =
    // sum of per-nation distincts) plus a within-tolerance flag on the
    // merged estimate; the sketch never needs cross-engine agreement.
    BoardQuery("x_hll_rollup", ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val perNation = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_nationkey"))
        .agg(expr("hll_sketch_agg(c_custkey)").as("sk"),
          countDistinct(col("c_custkey")).as("exact_n"))
      perNation.groupBy(col("n_regionkey"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          sum(col("exact_n")).as("exact_customers"))
        .select(col("n_regionkey"), col("exact_customers"),
          (abs(col("est") - col("exact_customers")).cast("double") /
            col("exact_customers") <= lit(0.05)).as("within_tol"))
        .orderBy("n_regionkey")
    }),
      // The sketch estimate is engine-specific; the oracle checks the exact
      // counts and that the merged estimate stayed within tolerance (TRUE
      // on the oracle side by construction of the flag).
      """SELECT n_regionkey, COUNT(DISTINCT c_custkey) AS exact_customers,
        |       TRUE AS within_tol
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // Time-series resample: per-user hourly grid (gap-fill via sequence +
    // explode — no driver-side time loop) with forward-filled values
    // (last ignoreNulls over an ordered frame). Grid generation and fill
    // both shuffle only on user_id; no step is corpus-quadratic.
    BoardQuery("x_resample", ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(dsum(col("value"), 6).as("v"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"),
          last(col("v"), ignoreNulls = true).over(
            Window.partitionBy(col("user_id")).orderBy(col("h"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("v_filled"))
        .orderBy("user_id", "h")
    }),
      """WITH hourly AS (
        | SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |        CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        | FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT g.user_id, g.h,
        |       LAST_VALUE(v IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM grid g LEFT JOIN hourly USING (user_id, h)
        |ORDER BY g.user_id, g.h""".stripMargin),

    // Distribution drift between two corpus slices over a fixed
    // reference binning: exact per-bin counts, |p_a−p_b| as an exact
    // rational numerator over the common denominator — no float ratio,
    // no log; nBins-sized exchanges only.
    BoardQuery("x_drift", ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.functions.Stats.histogramDrift(
          d.where(pmod(col("doc_id"), lit(3)) =!= 0),
          d.where(pmod(col("doc_id"), lit(2)) === 0),
          "n_chars", nBins = 24, lo = 0.0, hi = 600.0)
        .select(col("bin").cast("long").as("bin"), col("lo_edge"),
          col("n_a"), col("n_b"), big(col("l1_num"), "l1_num"),
          col("n_a_tot"), col("n_b_tot"))
        .orderBy("bin")
    }),
      // Same fixed binning (floor of identical double ops, edge clamp);
      // HUGEINT cross products internally, every output column narrowed
      // to BIGINT/DOUBLE (no int128 type survives to the gate's hasher).
      """WITH g AS (SELECT unnest(range(0, 24)) AS bin),
        |ha AS (SELECT LEAST(23, GREATEST(0,
        |    CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 25.0) AS INT)))
        |    AS bin, count(*) AS n_a
        | FROM documents WHERE doc_id % 3 <> 0 AND n_chars IS NOT NULL
        | GROUP BY 1),
        |hb AS (SELECT LEAST(23, GREATEST(0,
        |    CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 25.0) AS INT)))
        |    AS bin, count(*) AS n_b
        | FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
        | GROUP BY 1),
        |j AS (SELECT g.bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        | FROM g LEFT JOIN ha ON ha.bin = g.bin LEFT JOIN hb ON hb.bin = g.bin),
        |tt AS (SELECT CAST(SUM(n_a) AS BIGINT) AS n_a_tot,
        |  CAST(SUM(n_b) AS BIGINT) AS n_b_tot FROM j)
        |SELECT bin, CAST(0.0 + bin * 25.0 AS DOUBLE) AS lo_edge, n_a, n_b,
        | CAST(ABS(CAST(n_a AS HUGEINT) * n_b_tot
        |   - CAST(n_b AS HUGEINT) * n_a_tot) AS BIGINT) AS l1_num,
        | n_a_tot, n_b_tot
        |FROM j, tt ORDER BY bin""".stripMargin),

    // Per-language drift over the same fixed binning: a global
    // histogram can read flat while one language's distribution walks
    // away — the grid is (observed langs) x (all 12 bins), empty bins
    // at zero, per-group exact totals and l1 numerators.
    BoardQuery("x_drift_by_group", ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.functions.Stats.histogramDrift(
          d.where(pmod(col("doc_id"), lit(3)) =!= 0),
          d.where(pmod(col("doc_id"), lit(2)) === 0),
          "n_chars", nBins = 12, lo = 0.0, hi = 600.0, groupCols = Seq("lang"))
        .select(col("lang"), col("bin").cast("long").as("bin"),
          col("lo_edge"), col("n_a"), col("n_b"),
          big(col("l1_num"), "l1_num"), col("n_a_tot"), col("n_b_tot"))
        .orderBy("lang", "bin")
    }),
      // Per-group drift mirror: (observed langs) x (generate_series bins)
      // grid, identical double-arithmetic binning, per-group HUGEINT
      // cross products narrowed at the edge.
      """WITH g AS (SELECT DISTINCT lang AS lg FROM documents
        |  WHERE lang IS NOT NULL
        |    AND n_chars IS NOT NULL AND (doc_id % 3 <> 0 OR doc_id % 2 = 0)),
        |grid AS (SELECT lg, CAST(b AS INT) AS bin
        | FROM g, generate_series(0, 11) AS t(b)),
        |ha AS (SELECT lang AS lg, LEAST(11, GREATEST(0,
        |    CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 50.0) AS INT)))
        |    AS bin, count(*) AS n_a
        | FROM documents WHERE doc_id % 3 <> 0 AND lang IS NOT NULL
        |   AND n_chars IS NOT NULL
        | GROUP BY 1, 2),
        |hb AS (SELECT lang AS lg, LEAST(11, GREATEST(0,
        |    CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 50.0) AS INT)))
        |    AS bin, count(*) AS n_b
        | FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
        |   AND n_chars IS NOT NULL
        | GROUP BY 1, 2),
        |j AS (SELECT grid.lg, grid.bin, COALESCE(n_a, 0) AS n_a,
        |  COALESCE(n_b, 0) AS n_b
        | FROM grid LEFT JOIN ha ON ha.lg = grid.lg AND ha.bin = grid.bin
        |   LEFT JOIN hb ON hb.lg = grid.lg AND hb.bin = grid.bin),
        |tt AS (SELECT lg, CAST(SUM(n_a) AS BIGINT) AS n_a_tot,
        |  CAST(SUM(n_b) AS BIGINT) AS n_b_tot FROM j GROUP BY 1)
        |SELECT j.lg AS lang, CAST(j.bin AS BIGINT) AS bin,
        | CAST(0.0 + j.bin * 50.0 AS DOUBLE) AS lo_edge, n_a, n_b,
        | CAST(ABS(CAST(n_a AS HUGEINT) * n_b_tot
        |   - CAST(n_b AS HUGEINT) * n_a_tot) AS BIGINT) AS l1_num,
        | n_a_tot, n_b_tot
        |FROM j JOIN tt ON j.lg = tt.lg ORDER BY lang, bin""".stripMargin),

    // Pre-flight join audit: exact inner-join cardinality + hottest
    // key from the two key-count tables — the join itself never runs,
    // fact bodies never shuffle.
    BoardQuery("x_join_card", ((s, dir) =>
      graft.functions.Stats.joinCardinality(
          t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey")
        .select(big(col("n_pairs"), "n_pairs"), col("n_keys_matched"),
          big(col("max_key_pairs"), "max_key_pairs"), col("hottest_key"))),
      // Count-table join mirror; hottest key ties to the largest string.
      """WITH ca AS (SELECT l_orderkey AS k, count(*) AS na FROM lineitem
        |  WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |cb AS (SELECT o_orderkey AS k, count(*) AS nb FROM orders
        |  WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |p AS (SELECT ca.k, CAST(na AS HUGEINT) * nb AS pp
        | FROM ca JOIN cb ON ca.k = cb.k),
        |m AS (SELECT CAST(k AS VARCHAR) AS k, pp FROM p
        | ORDER BY pp DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
        |SELECT CAST(COALESCE((SELECT SUM(pp) FROM p), 0) AS BIGINT) AS n_pairs,
        | (SELECT COUNT(*) FROM p) AS n_keys_matched,
        | CAST(COALESCE((SELECT pp FROM m), 0) AS BIGINT) AS max_key_pairs,
        | (SELECT k FROM m) AS hottest_key""".stripMargin),

    // Winsorize the event values at the exact discrete 2nd/98th
    // percentile cuts: order statistics found by histogram bisection
    // (never a global sort), map-only clamp with literal cuts; output
    // doubles are element selections, so cross-engine bit-exact.
    BoardQuery("x_winsorize", ((s, dir) =>
      graft.functions.Stats.winsorize(
          t(s, dir, "events").select(col("event_id"), col("value")),
          "value", 0.02, 0.98, "v_w")
        .orderBy("event_id")),
      // Cuts mirrored as OFFSET element selection at rank ceil(p·n)−1 —
      // the same discrete convention, no interpolation to diverge.
      """WITH v AS (SELECT value AS x FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT COUNT(*) AS c FROM v),
        |cl AS (SELECT x FROM v ORDER BY x LIMIT 1 OFFSET
        |  (SELECT GREATEST(CAST(ceil(0.02 * c) AS BIGINT) - 1, 0) FROM n)),
        |ch AS (SELECT x FROM v ORDER BY x LIMIT 1 OFFSET
        |  (SELECT LEAST(c - 1,
        |     GREATEST(CAST(ceil(0.98 * c) AS BIGINT) - 1, 0)) FROM n)),
        |o AS (SELECT event_id, value,
        |  CASE WHEN value IS NULL OR isnan(value) THEN value
        |   ELSE GREATEST((SELECT x FROM cl),
        |     LEAST((SELECT x FROM ch), value)) END AS v_w
        | FROM events)
        |SELECT event_id, value, v_w,
        | CASE WHEN value IS NULL OR isnan(value) THEN FALSE
        |  ELSE value <> v_w END AS v_w_clipped
        |FROM o ORDER BY event_id""".stripMargin),

    // Per-language winsorization: cuts computed independently per
    // group from ONE group-keyed window pass (values sort within their
    // group, never globally), #groups-sized cut table joined back.
    BoardQuery("x_winsorize_lang", ((s, dir) =>
      graft.functions.Stats.winsorizeByGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("n_chars")),
          "n_chars", "lang", 0.05, 0.95, "v_w")
        .orderBy("doc_id")),
      // Same per-group rank selection: row_number + group count in one
      // window, value at rank LEAST(n, GREATEST(1, ceil(p·n))).
      """WITH v AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x
        |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
        |r AS (SELECT g, x,
        |  row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS n FROM v),
        |cuts AS (SELECT g,
        |  MAX(CASE WHEN rn = LEAST(n, GREATEST(1,
        |    CAST(ceil(0.05 * n) AS BIGINT))) THEN x END) AS lo,
        |  MAX(CASE WHEN rn = LEAST(n, GREATEST(1,
        |    CAST(ceil(0.95 * n) AS BIGINT))) THEN x END) AS hi
        | FROM r GROUP BY g)
        |SELECT d.doc_id, d.lang, d.n_chars,
        | CASE WHEN d.n_chars IS NULL OR c.lo IS NULL
        |  THEN CAST(d.n_chars AS DOUBLE)
        |  ELSE GREATEST(c.lo, LEAST(c.hi, CAST(d.n_chars AS DOUBLE))) END AS v_w,
        | CASE WHEN d.n_chars IS NULL OR c.lo IS NULL THEN FALSE
        |  ELSE CAST(d.n_chars AS DOUBLE) <> GREATEST(c.lo,
        |    LEAST(c.hi, CAST(d.n_chars AS DOUBLE))) END AS v_w_clipped
        |FROM documents d LEFT JOIN cuts c ON d.lang IS NOT DISTINCT FROM c.g
        |ORDER BY d.doc_id""".stripMargin),

    // Co-missingness census: nulls planted on two independent cadences
    // (event_id % 7 and % 5), pattern = null-mask string per row — the
    // "are these columns missing TOGETHER" audit in one aggregation.
    BoardQuery("x_missingness", ((s, dir) =>
      graft.functions.Stats.missingness(
          t(s, dir, "events").select(
            when(pmod(col("event_id"), lit(7)) === 0,
              lit(null).cast("double")).otherwise(col("value")).as("value"),
            when(pmod(col("event_id"), lit(5)) === 0,
              lit(null).cast("string"))
              .otherwise(col("event_type")).as("event_type"),
            col("user_id")),
          Seq("value", "event_type", "user_id"))
        .orderBy("pattern")),
      // Same planted cadences, same mask construction.
      """WITH base AS (SELECT
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS t,
        |  user_id AS u FROM events),
        |p AS (SELECT
        |  (CASE WHEN v IS NULL OR isnan(v) THEN '1' ELSE '0' END) ||
        |  (CASE WHEN t IS NULL THEN '1' ELSE '0' END) ||
        |  (CASE WHEN u IS NULL THEN '1' ELSE '0' END) AS pattern
        | FROM base)
        |SELECT pattern, COUNT(*) AS n,
        | CAST(length(pattern) - length(replace(pattern, '1', ''))
        |   AS BIGINT) AS n_null_cols
        |FROM p GROUP BY pattern ORDER BY pattern""".stripMargin),

    // Monotone-drift audit: exact Spearman rank-correlation pieces of
    // value against event time — ranks assigned WITHOUT a global sort
    // (two-level bucket decomposition), doubled through ties, rho as an
    // exact integer rational.
    BoardQuery("x_spearman", ((s, dir) =>
      graft.functions.Stats.spearmanPieces(
          t(s, dir, "events").select(
            expr("unix_micros(ts)").as("t_us"), col("value")),
          "t_us", "value")
        .select(col("n"), big(col("sum_d2_4x"), "sum_d2_4x"),
          big(col("rho_num"), "rho_num"), big(col("rho_den"), "rho_den"))),
      // The oracle's global RANK() windows ARE the naive plan the
      // operator decomposes; 2·avg-rank = 2·RANK() + tie_count − 1.
      """WITH base AS (
        | SELECT CAST(epoch_us(ts) AS DOUBLE) AS a, value AS b FROM events
        | WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT
        |  2 * RANK() OVER (ORDER BY a)
        |    + COUNT(*) OVER (PARTITION BY a) - 1 AS r2a,
        |  2 * RANK() OVER (ORDER BY b)
        |    + COUNT(*) OVER (PARTITION BY b) - 1 AS r2b
        | FROM base),
        |s AS (SELECT COUNT(*) AS n,
        |  SUM(CAST(r2a - r2b AS HUGEINT) * (r2a - r2b)) AS d2
        | FROM r)
        |SELECT n, CAST(d2 AS BIGINT) AS sum_d2_4x,
        | CAST(2 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
        |   - 3 * d2 AS BIGINT) AS rho_num,
        | CAST(2 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
        |   AS BIGINT) AS rho_den
        |FROM s""".stripMargin),

    // One-number calibration close over the same inputs as
    // x_reliability: ECE = sum n_b|acc-conf|/N with the per-bin term
    // pinned-order doubles over exact pieces, bin sum in
    // DECIMAL(30,15).
    BoardQuery("x_ece", ((s, dir) =>
      graft.functions.Stats.expectedCalibrationError(
        t(s, dir, "documents").select(
          (pmod(col("n_chars"), lit(100)).cast("double") / lit(100.0))
            .as("score"),
          (col("lang") === "en").as("label")),
        "score", "label", nBins = 10, lo = 0.0, hi = 1.0)),
      // ECE mirrored on the x_reliability chain: same binning and
      // DECIMAL(28,9) score sums, per-bin |acc - conf| term in the
      // identical pinned order, DECIMAL(30,15) bin sum, one close
      // division.
      """WITH base AS (
        | SELECT CAST(n_chars % 100 AS DOUBLE) / 100.0 AS s,
        |  (lang = 'en') AS y
        | FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |   AND abs(CAST(n_chars % 100 AS DOUBLE) / 100.0) < 1e19),
        |b AS (SELECT CAST(FLOOR(LEAST(CAST(9 AS DOUBLE), GREATEST(
        |    CAST(0 AS DOUBLE),
        |    (s - CAST(0.0 AS DOUBLE)) / CAST(0.1 AS DOUBLE)))) AS BIGINT)
        |    AS bin, s, y
        | FROM base),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  SUM(CAST(s AS DECIMAL(28,9))) AS ssum
        | FROM b GROUP BY bin),
        |t AS (SELECT n, CAST(n AS DOUBLE) * abs(
        |   CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |     - CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE)) AS term
        | FROM g WHERE n > 0)
        |SELECT CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_bins_used,
        | ROUND(CAST(SUM(CAST(term AS DECIMAL(30,15))) AS DOUBLE)
        |   / CAST(SUM(n) AS DOUBLE), 9) AS ece
        |FROM t""".stripMargin),

    // Exact two-sample Kolmogorov-Smirnov D between the click and
    // purchase value distributions — shape-shift detection at equal
    // moments, as the exact integer rational max|n_b cumA - n_a cumB|
    // over n_a n_b. Two-level bucketed cumsums, no global sort.
    BoardQuery("x_ks_test", ((s, dir) =>
      graft.functions.Stats.ksStatistic(
        t(s, dir, "events"), "value", "event_type", "click", "purchase")),
      // KS mirrored with naive global windows (the oracle IS the plan
      // the operator decomposes); HUGEINT window sums and cross products
      // cast back at the close.
      """WITH base AS (
        | SELECT value AS v, event_type AS g FROM events
        | WHERE value IS NOT NULL AND NOT isnan(value)
        |   AND event_type IN ('click', 'purchase')),
        |vals AS (SELECT v,
        |  SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
        |  SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cb
        | FROM base GROUP BY 1),
        |c AS (SELECT v,
        |  SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
        |  SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
        | FROM vals),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
        |  CAST(SUM(cb) AS BIGINT) AS n2 FROM vals)
        |SELECT n1 AS n_a, n2 AS n_b,
        | CAST(MAX(abs(n2 * fa - n1 * fb)) AS BIGINT) AS d_num,
        | n1 * n2 AS d_den,
        | ROUND(CAST(CAST(MAX(abs(n2 * fa - n1 * fb)) AS BIGINT) AS DOUBLE)
        |   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 9) AS d
        |FROM c, t GROUP BY n1, n2""".stripMargin),

    // Cramer's V close of the priority x status contingency: sparse
    // chi2 via the unobserved-cells-contribute-e identity, exact
    // integer pieces, DECIMAL(30,15) term sum, IEEE sqrt.
    BoardQuery("x_cramers_v", ((s, dir) =>
      graft.functions.Stats.cramersV(
        t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")),
      // Cramer's V mirrored: same sparse-grid chi2 identity, the
      // identical pinned cell term, DECIMAL(30,15) sum, nullif floor.
      """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
        |  COUNT(*) AS o FROM orders
        | WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        | GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |  COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c FROM cells),
        |t AS (SELECT n, r, c, CAST(SUM(CAST(
        |   ((CAST(o AS DOUBLE)
        |      - (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE)
        |      - (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE)))
        |   / ((CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE))
        |   - (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE)
        |  AS DECIMAL(30,15))) AS DOUBLE) AS tt
        | FROM cells JOIN ra USING (a) JOIN cb USING (b), tot
        | GROUP BY 1, 2, 3)
        |SELECT n, r, c,
        | ROUND(tt + CAST(n AS DOUBLE), 9) AS chi2,
        | ROUND(sqrt(((tt + CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |   / nullif(CAST(LEAST(r - 1, c - 1) AS DOUBLE), 0.0)), 9)
        |   AS cramers_v
        |FROM t""".stripMargin),

    // Mutual information between document language and source (nats),
    // marginal entropies and geometric-mean NMI: every ln input an
    // integral double (o*n, r*c), cell terms in DECIMAL(30,15).
    BoardQuery("x_mutual_info", ((s, dir) =>
      graft.functions.Stats.categoricalMI(
        t(s, dir, "documents"), "lang", "source")),
      // MI mirrored: ln only ever sees the integral products o*n and
      // r*c, cell/marginal terms in DECIMAL(30,15), pinned closes.
      """WITH cells AS (SELECT lang AS a, source AS b, COUNT(*) AS o
        | FROM documents
        | WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |mi AS (SELECT n, CAST(SUM(CAST(CAST(o AS DOUBLE) *
        |   (ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
        |    - ln(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS mi
        | FROM cells JOIN ra USING (a) JOIN cb USING (b), tot GROUP BY 1),
        |ha AS (SELECT n, CAST(SUM(CAST(CAST(ra AS DOUBLE) *
        |   (ln(CAST(n AS DOUBLE)) - ln(CAST(ra AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS ha FROM ra, tot GROUP BY 1),
        |hb AS (SELECT n, CAST(SUM(CAST(CAST(cb AS DOUBLE) *
        |   (ln(CAST(n AS DOUBLE)) - ln(CAST(cb AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS hb FROM cb, tot GROUP BY 1)
        |SELECT mi.n,
        | ROUND(mi.mi / CAST(mi.n AS DOUBLE), 9) AS mi,
        | ROUND(ha.ha / CAST(mi.n AS DOUBLE), 9) AS h_a,
        | ROUND(hb.hb / CAST(mi.n AS DOUBLE), 9) AS h_b,
        | ROUND((mi.mi / CAST(mi.n AS DOUBLE))
        |   / nullif(sqrt((ha.ha / CAST(mi.n AS DOUBLE))
        |     * (hb.hb / CAST(mi.n AS DOUBLE))), 0.0), 9) AS nmi
        |FROM mi JOIN ha USING (n) JOIN hb USING (n)""".stripMargin),

    // One-way ANOVA of event value across hour-of-day: eta-squared +
    // F — "is the time-of-day profile real structure?" before anyone
    // fits a seasonal model. One group-keyed aggregation; decimal
    // sums, pinned closes, nullif degeneracy guards.
    BoardQuery("x_anova", ((s, dir) =>
      graft.functions.Stats.anovaOneWay(
        t(s, dir, "events").select(hour(col("ts")).as("hod"), col("value")),
        "value", "hod")),
      // ANOVA mirrored: identical decimal ladders and pinned SS trees.
      """WITH base AS (SELECT hour(ts) AS g, value AS v FROM events
        | WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT g, COUNT(*) AS ng,
        |  CAST(SUM(CAST(v AS DECIMAL(28,9))) AS DOUBLE) AS sg,
        |  SUM(CAST(v * v AS DECIMAL(30,15))) AS sq
        | FROM base GROUP BY 1),
        |a AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, COUNT(*) AS n_groups,
        |  CAST(SUM(CAST(sg AS DECIMAL(28,9))) AS DOUBLE) AS s,
        |  CAST(SUM(sq) AS DOUBLE) AS sv2,
        |  CAST(SUM(CAST((sg * sg) / CAST(ng AS DOUBLE) AS DECIMAL(30,15)))
        |    AS DOUBLE) AS bsum
        | FROM g)
        |SELECT n, n_groups,
        | ROUND(bsum - (s * s) / CAST(n AS DOUBLE), 3) AS ss_between,
        | ROUND(sv2 - (s * s) / CAST(n AS DOUBLE), 3) AS ss_total,
        | ROUND((bsum - (s * s) / CAST(n AS DOUBLE))
        |   / nullif(sv2 - (s * s) / CAST(n AS DOUBLE), 0.0), 9) AS eta_sq,
        | ROUND(((bsum - (s * s) / CAST(n AS DOUBLE))
        |     / nullif(CAST(n_groups AS DOUBLE) - 1.0, 0.0))
        |   / nullif(((sv2 - (s * s) / CAST(n AS DOUBLE))
        |       - (bsum - (s * s) / CAST(n AS DOUBLE)))
        |     / nullif(CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE), 0.0),
        |     0.0), 9) AS f_stat
        |FROM a""".stripMargin),

    // Hill tail-index of order totals over the top-101 order stats:
    // exact-cent values so ln only sees integral doubles, k log-ratios
    // in DECIMAL(30,15) — alpha <= 2 means the tail has no variance
    // and mean-based planning is fiction. Pairs with x_gini.
    BoardQuery("x_hill", ((s, dir) =>
      graft.functions.Stats.hillTailIndex(
        t(s, dir, "orders"), "o_totalprice", "o_orderkey",
        k = 100, scale = 2)),
      // Hill mirrored: exact cents, the same top-101 total order,
      // integral-double ln ladder in DECIMAL(30,15).
      """WITH u AS (SELECT o_orderkey AS id,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS u
        | FROM orders),
        |t AS (SELECT id, u, row_number() OVER (ORDER BY u DESC, id) AS rn
        |  FROM u WHERE u > 0 ORDER BY u DESC, id LIMIT 101),
        |thr AS (SELECT u AS thr FROM t WHERE rn = 101)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k,
        | CAST(MAX(thr.thr) AS BIGINT) AS threshold_units,
        | ROUND(CAST(SUM(CAST(ln(CAST(t.u AS DOUBLE))
        |     - ln(CAST(thr.thr AS DOUBLE)) AS DECIMAL(30,15))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE), 9) AS hill,
        | ROUND(CAST(COUNT(*) AS DOUBLE)
        |   / nullif(CAST(SUM(CAST(ln(CAST(t.u AS DOUBLE))
        |     - ln(CAST(thr.thr AS DOUBLE)) AS DECIMAL(30,15))) AS DOUBLE),
        |     0.0), 9) AS alpha
        |FROM t, thr WHERE t.rn <= 100""".stripMargin),

    // Benford first-digit audit of order totals: exact-cent leading
    // digits (integer string, never double formatting) vs the baked
    // log10(1+1/d) expectations, per-digit chi2 terms — the
    // fabricated-data/unit-mixing tripwire.
    BoardQuery("x_benford", ((s, dir) =>
      graft.functions.Stats.benfordCensus(
        t(s, dir, "orders"), "o_totalprice", scale = 2)),
      // Benford mirrored: exact cents, INTEGER-string leading digit, the
      // same nine baked literals, pinned-order chi2 terms.
      """WITH u AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS u
        |  FROM orders),
        |d AS (SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit
        |  FROM u WHERE u > 0),
        |c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
        |g AS (SELECT digit, CAST(e AS DOUBLE) AS exp_share FROM (VALUES
        |  (1, 0.3010299956639812), (2, 0.17609125905568124),
        |  (3, 0.12493873660829992), (4, 0.09691001300805642),
        |  (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129),
        |  (9, 0.04575749056067514)) v(digit, e)),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c)
        |SELECT g.digit, COALESCE(c.n_obs, 0) AS n_obs,
        | ROUND(CAST(COALESCE(c.n_obs, 0) AS DOUBLE) / CAST(t.n AS DOUBLE),
        |   9) AS obs_share,
        | g.exp_share,
        | ROUND(((CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
        |     - CAST(t.n AS DOUBLE) * g.exp_share)
        |   * (CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
        |     - CAST(t.n AS DOUBLE) * g.exp_share))
        |  / (CAST(t.n AS DOUBLE) * g.exp_share), 9) AS chi2_term
        |FROM g LEFT JOIN c ON c.digit = g.digit, t
        |ORDER BY g.digit""".stripMargin),

    // Revenue-concentration audit: Gini + top-1/top-10 shares of
    // customer spend — the skew report that decides salting and
    // per-stratum sampling caps. Spend sums in DECIMAL(18,2), Gini
    // blocks are exact integer cents, the close is pinned-order
    // doubles.
    BoardQuery("x_gini", ((s, dir) =>
      graft.functions.Stats.giniConcentration(
        t(s, dir, "orders"), "o_custkey", "o_totalprice",
        scale = 2, topN = 10)),
      // Gini mirrored in exact integer cents: DECIMAL(18,2) spend sums
      // ×100 → BIGINT units, ascending/descending row_number ranks with
      // the complementary tie-break, rank·unit in DECIMAL(19,0)×(19,0),
      // pinned-order double close.
      """WITH pk AS (SELECT o_custkey AS k,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS u
        | FROM orders GROUP BY 1),
        |r AS (SELECT k, u,
        |  row_number() OVER (ORDER BY u ASC, k ASC) AS r,
        |  row_number() OVER (ORDER BY u DESC, k DESC) AS rd FROM pk),
        |a AS (SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(u) AS BIGINT) AS total_units,
        |  CAST(SUM(CAST(r AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)))
        |    AS DOUBLE) AS s1,
        |  MAX(u) AS m,
        |  CAST(SUM(CASE WHEN rd <= 10 THEN u ELSE 0 END) AS BIGINT) AS tn
        | FROM r)
        |SELECT n_keys, total_units,
        | ROUND((2.0 * s1
        |     - (CAST(n_keys AS DOUBLE) + 1.0) * CAST(total_units AS DOUBLE))
        |   / (CAST(n_keys AS DOUBLE) * CAST(total_units AS DOUBLE)), 9)
        |   AS gini,
        | ROUND(CAST(m AS DOUBLE) / CAST(total_units AS DOUBLE), 9)
        |   AS top1_share,
        | ROUND(CAST(tn AS DOUBLE) / CAST(total_units AS DOUBLE), 9)
        |   AS topn_share
        |FROM a""".stripMargin),

    // Column-dependence audit: the orders priority×status contingency
    // table with the exact cross-product dependence score per cell —
    // the "is this feature leaking into that label/split" census.
    BoardQuery("x_contingency", ((s, dir) =>
      graft.functions.Stats.contingency(
          t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")
        .withColumn("dep", big(col("dep"), "dep"))
        .orderBy("o_orderpriority", "o_orderstatus")),
      // Same census; HUGEINT cross-products internally, dep narrowed to
      // BIGINT at the edge (mirrors the engine's big() guard).
      """WITH cells AS (
        | SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS n_ab
        | FROM orders
        | WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        | GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM cells GROUP BY a),
        |cb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM cells GROUP BY b),
        |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_total FROM cells)
        |SELECT c.a AS o_orderpriority, c.b AS o_orderstatus, c.n_ab,
        | ra.n_a, cb.n_b, tot.n_total,
        | CAST(abs(CAST(c.n_ab AS HUGEINT) * tot.n_total
        |   - CAST(ra.n_a AS HUGEINT) * cb.n_b) AS BIGINT) AS dep
        |FROM cells c JOIN ra ON c.a = ra.a JOIN cb ON c.b = cb.b, tot
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin),

    // Exact ROC-AUC of a score against a label via the Mann–Whitney
    // rank-sum identity — doubled average ranks (ties count ½), no
    // global sort, the AUC as an exact integer rational; finals
    // narrowed to BIGINT per the §2.7 gate convention.
    BoardQuery("x_auc", ((s, dir) =>
      graft.functions.Stats.aucPieces(
          t(s, dir, "documents").select(
            col("n_chars").cast("double").as("score"),
            (col("lang") === "en").as("label")),
          "score", "label")
        .select(col("n_pos"), col("n_neg"),
          big(col("sum_r2_pos"), "sum_r2_pos"),
          big(col("auc_num"), "auc_num"),
          big(col("auc_den"), "auc_den"))),
      // The same doubled-rank convention as x_spearman's oracle; HUGEINT
      // rank sums narrowed to BIGINT at the edge.
      """WITH base AS (
        | SELECT CAST(n_chars AS DOUBLE) AS s, (lang = 'en') AS y
        | FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |r AS (SELECT y,
        |  2 * RANK() OVER (ORDER BY s)
        |    + COUNT(*) OVER (PARTITION BY s) - 1 AS r2
        | FROM base),
        |agg AS (SELECT
        |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |  SUM(CASE WHEN y THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS sr2
        | FROM r)
        |SELECT n_pos, n_neg, CAST(sr2 AS BIGINT) AS sum_r2_pos,
        | CAST(sr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT)
        |   AS auc_num,
        | CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS BIGINT) AS auc_den
        |FROM agg""".stripMargin),

    // Confusion report of a shipped gate (pred = long doc, label = en):
    // exact tp/fp/tn/fn, precision/recall/F1/accuracy as floor ppm,
    // degenerate denominators NULL (never a fabricated 0 or 1).
    BoardQuery("x_confusion", ((s, dir) =>
      graft.functions.Stats.confusionStats(
        t(s, dir, "documents").select(
          (col("n_chars") >= 200).as("pred"),
          (col("lang") === "en").as("label")),
        "pred", "label")),
      // Same gate, same floor-ppm rationals; NULL rows excluded + counted.
      """WITH base AS (SELECT (n_chars >= 200) AS p, (lang = 'en') AS y
        |  FROM documents),
        |a AS (SELECT
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL AND p AND y
        |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL AND p AND NOT y
        |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL
        |    AND NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL AND NOT p AND y
        |    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN p IS NULL OR y IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_excluded
        | FROM base)
        |SELECT tp, fp, tn, fn, n_excluded,
        | CASE WHEN tp + fp > 0
        |      THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
        | CASE WHEN tp + fn > 0
        |      THEN (tp * 1000000) // (tp + fn) END AS recall_ppm,
        | CASE WHEN 2 * tp + fp + fn > 0
        |      THEN (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_ppm,
        | CASE WHEN tp + fp + tn + fn > 0
        |      THEN ((tp + tn) * 1000000) // (tp + fp + tn + fn)
        | END AS accuracy_ppm
        |FROM a""".stripMargin),

    // Calibration reliability table: fixed-width score bins, exact
    // per-bin positives (floor-ppm rate), decimal-summed mean score —
    // "does a 0.7 mean 70%". Empty bins emitted, never silently holed.
    BoardQuery("x_reliability", ((s, dir) =>
      graft.functions.Stats.reliabilityDiagram(
          t(s, dir, "documents").select(
            (pmod(col("n_chars"), lit(100)).cast("double") / lit(100.0))
              .as("score"),
            (col("lang") === "en").as("label")),
          "score", "label", nBins = 10, lo = 0.0, hi = 1.0)
        .orderBy("bin")),
      // Same fixed binning; lo_edge/binning mirror the engine's DOUBLE
      // arithmetic op-for-op (0.1 is inexact in binary — a decimal-typed
      // 0.1·bin would round differently), mean via DECIMAL(28,9) sum.
      """WITH base AS (
        | SELECT CAST(n_chars % 100 AS DOUBLE) / 100.0 AS s,
        |  (lang = 'en') AS y
        | FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |   AND abs(CAST(n_chars % 100 AS DOUBLE) / 100.0) < 1e19),
        |b AS (SELECT CAST(FLOOR(LEAST(CAST(9 AS DOUBLE), GREATEST(
        |    CAST(0 AS DOUBLE),
        |    (s - CAST(0.0 AS DOUBLE)) / CAST(0.1 AS DOUBLE)))) AS BIGINT)
        |    AS bin, s, y
        | FROM base),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  SUM(CAST(s AS DECIMAL(28,9))) AS ssum
        | FROM b GROUP BY bin),
        |grid AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bin)
        |SELECT grid.bin,
        | CAST(0.0 AS DOUBLE) + CAST(grid.bin AS DOUBLE) * CAST(0.1 AS DOUBLE)
        |   AS lo_edge,
        | COALESCE(g.n, 0) AS n,
        | COALESCE(g.n_pos, 0) AS n_pos,
        | CASE WHEN COALESCE(g.n, 0) > 0
        |      THEN (COALESCE(g.n_pos, 0) * 1000000) // g.n END AS frac_pos_ppm,
        | CAST(g.ssum AS DOUBLE) / CAST(g.n AS DOUBLE) AS mean_score
        |FROM grid LEFT JOIN g ON g.bin = grid.bin
        |ORDER BY grid.bin""".stripMargin),

    // Per-language AUC: one Mann–Whitney row per slice (ranks within
    // group via the grouped two-level decomposition — no global or
    // per-group sort), because a global 0.9 can hide a coin-flip score
    // on one language; finals narrowed to BIGINT per the §2.7 gate.
    BoardQuery("x_auc_by_group", ((s, dir) =>
      graft.functions.Stats.aucPieces(
          t(s, dir, "documents").select(col("lang"),
            col("n_chars").cast("double").as("score"),
            (pmod(col("doc_id"), lit(2)) === 0).as("label")),
          "score", "label", groupCols = Seq("lang"))
        .select(col("lang"), col("n_pos"), col("n_neg"),
          big(col("sum_r2_pos"), "sum_r2_pos"),
          big(col("auc_num"), "auc_num"),
          big(col("auc_den"), "auc_den"))
        .orderBy("lang")),
      // Per-group mirror of x_auc: the same doubled-rank algebra with
      // RANK/COUNT windows partitioned by the slice.
      """WITH base AS (
        | SELECT lang AS g, CAST(n_chars AS DOUBLE) AS s,
        |  (doc_id % 2 = 0) AS y
        | FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  AND doc_id IS NOT NULL),
        |r AS (SELECT g, y,
        |  2 * RANK() OVER (PARTITION BY g ORDER BY s)
        |    + COUNT(*) OVER (PARTITION BY g, s) - 1 AS r2
        | FROM base),
        |agg AS (SELECT g,
        |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |  SUM(CASE WHEN y THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS sr2
        | FROM r GROUP BY g)
        |SELECT g AS lang, n_pos, n_neg, CAST(sr2 AS BIGINT) AS sum_r2_pos,
        | CAST(sr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT)
        |   AS auc_num,
        | CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS BIGINT) AS auc_den
        |FROM agg ORDER BY lang""".stripMargin),

    // Per-language confusion report of the shipped gate — the form a
    // per-slice quality gate is monitored in; one group-keyed
    // aggregation with map-side partials.
    BoardQuery("x_confusion_by_group", ((s, dir) =>
      graft.functions.Stats.confusionStats(
          t(s, dir, "documents").select(col("lang"),
            (col("n_chars") >= 200).as("pred"),
            (pmod(col("doc_id"), lit(2)) === 0).as("label")),
          "pred", "label", groupCols = Seq("lang"))
        .orderBy("lang")),
      // Per-group mirror of x_confusion: same exact counts and floor-ppm
      // rationals, grouped by the slice.
      """WITH base AS (SELECT lang AS g, (n_chars >= 200) AS p,
        |  (doc_id % 2 = 0) AS y
        | FROM documents WHERE lang IS NOT NULL),
        |a AS (SELECT g,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL AND p AND y
        |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL AND p AND NOT y
        |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL
        |    AND NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  CAST(SUM(CASE WHEN p IS NOT NULL AND y IS NOT NULL AND NOT p AND y
        |    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN p IS NULL OR y IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_excluded
        | FROM base GROUP BY g)
        |SELECT g AS lang, tp, fp, tn, fn, n_excluded,
        | CASE WHEN tp + fp > 0
        |      THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
        | CASE WHEN tp + fn > 0
        |      THEN (tp * 1000000) // (tp + fn) END AS recall_ppm,
        | CASE WHEN 2 * tp + fp + fn > 0
        |      THEN (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_ppm,
        | CASE WHEN tp + fp + tn + fn > 0
        |      THEN ((tp + tn) * 1000000) // (tp + fp + tn + fn)
        | END AS accuracy_ppm
        |FROM a ORDER BY lang""".stripMargin),

    // Per-language calibration table: "0.7 means 70%" must hold per
    // slice; full (group × bin) grid emitted for every group with
    // eligible rows.
    BoardQuery("x_reliability_by_group", ((s, dir) =>
      graft.functions.Stats.reliabilityDiagram(
          t(s, dir, "documents").select(col("lang"),
            (pmod(col("n_chars"), lit(100)).cast("double") / lit(100.0))
              .as("score"),
            (pmod(col("doc_id"), lit(2)) === 0).as("label")),
          "score", "label", nBins = 10, lo = 0.0, hi = 1.0,
          groupCols = Seq("lang"))
        .orderBy("lang", "bin")),
      // Per-group mirror of x_reliability: same double-space clamp and
      // floor ppm; the grid is every observed group × all ten bins.
      """WITH base AS (
        | SELECT lang AS g, CAST(n_chars % 100 AS DOUBLE) / 100.0 AS s,
        |  (doc_id % 2 = 0) AS y
        | FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |   AND doc_id IS NOT NULL
        |   AND abs(CAST(n_chars % 100 AS DOUBLE) / 100.0) < 1e19),
        |b AS (SELECT g, CAST(FLOOR(LEAST(CAST(9 AS DOUBLE), GREATEST(
        |    CAST(0 AS DOUBLE),
        |    (s - CAST(0.0 AS DOUBLE)) / CAST(0.1 AS DOUBLE)))) AS BIGINT)
        |    AS bin, s, y
        | FROM base),
        |gr AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  SUM(CAST(s AS DECIMAL(28,9))) AS ssum
        | FROM b GROUP BY g, bin),
        |grid AS (SELECT DISTINCT g, CAST(bb.b AS BIGINT) AS bin
        |  FROM gr CROSS JOIN (SELECT unnest(range(0, 10)) AS b) bb)
        |SELECT grid.g AS lang, grid.bin,
        | CAST(0.0 AS DOUBLE) + CAST(grid.bin AS DOUBLE) * CAST(0.1 AS DOUBLE)
        |   AS lo_edge,
        | COALESCE(gr.n, 0) AS n,
        | COALESCE(gr.n_pos, 0) AS n_pos,
        | CASE WHEN COALESCE(gr.n, 0) > 0
        |      THEN (COALESCE(gr.n_pos, 0) * 1000000) // gr.n
        | END AS frac_pos_ppm,
        | CAST(gr.ssum AS DOUBLE) / CAST(gr.n AS DOUBLE) AS mean_score
        |FROM grid LEFT JOIN gr ON gr.g = grid.g AND gr.bin = grid.bin
        |ORDER BY lang, grid.bin""".stripMargin),

    // Equal-frequency decile feature: bucket index from 9 exact
    // order-statistic cuts resolved by bisection (no global sort —
    // the scale-honest ntile), assignment a map-only projection.
    BoardQuery("x_qbucket", ((s, dir) =>
      graft.functions.Stats.quantileBucket(
          t(s, dir, "events").select(col("event_id"), col("value")),
          "value", nBuckets = 10)
        .orderBy("event_id")),
      // The oracle's one global window IS the naive plan the operator
      // avoids; cuts at 1-based ranks (i·n)//10 + 1, bucket = #cuts ≤ v.
      {
      val inList = (1 to 9).map(i => s"($i * n) // 10 + 1").mkString(", ")
      s"""WITH elig AS (SELECT value AS v FROM events
         | WHERE value IS NOT NULL AND NOT isnan(value)),
         |nn AS (SELECT COUNT(*) AS n FROM elig),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM elig),
         |cuts AS (SELECT r.v FROM r, nn WHERE r.rn IN ($inList))
         |SELECT e.event_id, e.value,
         | CASE WHEN e.value IS NOT NULL AND NOT isnan(e.value)
         |      THEN (SELECT COUNT(*) FROM cuts c WHERE c.v <= e.value)
         | END AS bucket
         |FROM events e ORDER BY event_id""".stripMargin
    }),

    // Per-language decile feature — the cuts computed independently
    // per group (one global grid is wrong across languages with
    // different length scales); one group-keyed window pass reduced to
    // a #langs-sized cut-array table, assignment map-only.
    BoardQuery("x_qbucket_by_lang", ((s, dir) =>
      graft.functions.Stats.quantileBucketByGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("n_chars")),
          "n_chars", "lang", nBuckets = 10)
        .orderBy("doc_id")),
      // Grouped form of the x_qbucket convention: 1-based ranks
      // (i·n)//10 + 1 PER GROUP (IN dedupes collapsed ranks), bucket =
      // #cuts ≤ v within the row's group; docs of a group with no
      // eligible values keep a NULL bucket via the correlated count
      // guard.
      {
      val inList = (1 to 9).map(i => s"($i * n) // 10 + 1").mkString(", ")
      s"""WITH elig AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v
         | FROM documents
         | WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |r AS (SELECT g, v,
         |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         |  COUNT(*) OVER (PARTITION BY g) AS n FROM elig),
         |cuts AS (SELECT g, v FROM r WHERE rn IN ($inList))
         |SELECT d.doc_id, d.lang, d.n_chars,
         | CASE WHEN d.n_chars IS NOT NULL
         |       AND NOT isnan(CAST(d.n_chars AS DOUBLE))
         |       AND EXISTS (SELECT 1 FROM cuts c
         |                   WHERE c.g IS NOT DISTINCT FROM d.lang)
         |      THEN (SELECT COUNT(*) FROM cuts c
         |            WHERE c.g IS NOT DISTINCT FROM d.lang
         |              AND c.v <= CAST(d.n_chars AS DOUBLE))
         | END AS bucket
         |FROM documents d ORDER BY doc_id""".stripMargin
    }),

    // Group-median imputation: nulls planted deterministically
    // (event_id % 7), filled with the type's exact lower-median value;
    // the was_filled flag marks rows a consumer must still handle.
    BoardQuery("x_impute", ((s, dir) =>
      graft.functions.Stats.imputeByGroup(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            when(pmod(col("event_id"), lit(7)) === 0,
              lit(null).cast("double"))
              .otherwise(col("value")).as("value")),
          "value", "event_type", strategy = "median")
        .orderBy("event_id")),
      // Same planted nulls, same lower-median rank selection.
      """WITH base AS (SELECT event_id, event_type,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        | FROM events),
        |elig AS (SELECT event_type AS g, value AS v FROM base
        | WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS n FROM elig),
        |f AS (SELECT g, v AS fill FROM r WHERE rn = (n + 1) // 2)
        |SELECT b.event_id, b.event_type, b.value,
        | CASE WHEN b.value IS NOT NULL AND NOT isnan(b.value) THEN b.value
        |      ELSE f.fill END AS imputed,
        | (NOT (b.value IS NOT NULL AND NOT isnan(b.value)))
        |   AND f.fill IS NOT NULL AS imputed_was_filled
        |FROM base b LEFT JOIN f ON b.event_type = f.g
        |ORDER BY event_id""".stripMargin),

    // Robust per-type outlier flags: Hampel rule |v − med| > 3·mad with
    // both medians as exact lower-median order statistics — one wild
    // value can't drag the fences the way a z-score's mean/stddev can.
    BoardQuery("x_outliers", ((s, dir) =>
      graft.functions.Stats.madOutliers(
          t(s, dir, "events").select(
            col("event_id"), col("event_type"), col("value")),
          "value", "event_type", k = 3.0)
        .orderBy("event_id")),
      // Both medians as the element at rank (n+1)//2 — value ties make
      // the selected VALUE deterministic whatever the tie order.
      """WITH base AS (SELECT event_id, event_type, value FROM events),
        |elig AS (SELECT event_type AS g, value AS v FROM base
        | WHERE value IS NOT NULL AND NOT isnan(value)),
        |r1 AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS n FROM elig),
        |med AS (SELECT g, v AS med FROM r1 WHERE rn = (n + 1) // 2),
        |d AS (SELECT b.event_type AS g, ABS(b.value - m.med) AS dv
        | FROM base b JOIN med m ON b.event_type = m.g
        | WHERE b.value IS NOT NULL AND NOT isnan(b.value)),
        |r2 AS (SELECT g, dv, row_number() OVER (PARTITION BY g ORDER BY dv) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS n FROM d),
        |mad AS (SELECT g, dv AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT b.event_id, b.event_type, b.value, m.med, md.mad,
        | CASE WHEN b.value IS NOT NULL AND NOT isnan(b.value)
        |       AND m.med IS NOT NULL AND md.mad IS NOT NULL
        |      THEN ABS(b.value - m.med) > 3.0 * md.mad END AS is_outlier
        |FROM base b LEFT JOIN med m ON b.event_type = m.g
        | LEFT JOIN mad md ON b.event_type = md.g
        |ORDER BY event_id""".stripMargin),

    // k-anonymity audit on customer quasi-identifiers: every
    // (nation, segment) combination shared by fewer than 10 customers
    // is a linkable group; the dataset-level verdict (row/group census,
    // achieved anonymity k) rides every row as constant columns.
    BoardQuery("x_kanon", ((s, dir) =>
      graft.functions.Stats.kAnonymity(
          t(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment")),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("c_nationkey", "c_mktsegment")),
      // One QI census, 1-row summary joined onto the risky groups.
      """WITH census AS (
        | SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_n
        | FROM customer GROUP BY 1, 2),
        |s AS (SELECT CAST(SUM(group_n) AS BIGINT) AS n_rows,
        |  COUNT(*) AS n_groups, MIN(group_n) AS anonymity_k FROM census)
        |SELECT c.c_nationkey, c.c_mktsegment, c.group_n,
        | s.n_rows, s.n_groups, s.anonymity_k
        |FROM census c, s WHERE c.group_n < 10
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // Corpus-overlap estimation from two k-row KMV sketches: two
    // overlapping corpus slices (membership overlap ⇒ shared distinct
    // texts), Jaccard estimated from the bottom-k md5 union sample.
    // Each sketch costs one hash-only distinct; everything after joins
    // ≤ k-row frames — the "how much of yesterday's crawl is in
    // today's?" answer without a corpus×corpus join.
    BoardQuery("x_corpus_overlap", ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.functions.Stats.kmvOverlap(
        d.where(pmod(col("doc_id"), lit(3)) =!= 0),
        d.where(pmod(col("doc_id"), lit(2)) === 0),
        "text", k = 128)
    }),
      // KMV sketches are bottom-128 distinct md5 hex values per slice;
      // union sample = bottom-128 of their union; shared = members of both.
      """WITH ska AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 3 <> 0 AND text IS NOT NULL ORDER BY h LIMIT 128),
        |skb AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 2 = 0 AND text IS NOT NULL ORDER BY h LIMIT 128),
        |sku AS (SELECT DISTINCT h FROM
        |  (SELECT h FROM ska UNION ALL SELECT h FROM skb) u
        |  ORDER BY h LIMIT 128),
        |sh AS (SELECT COUNT(*) AS n_shared FROM sku
        |  WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
        |ku AS (SELECT COUNT(*) AS k_used FROM sku)
        |SELECT k_used, n_shared,
        | ROUND(CAST(n_shared AS DOUBLE) / k_used, 9) AS est_jaccard
        |FROM ku, sh""".stripMargin),

    // Count–min sketch over the token stream (depth 4 × width 512,
    // md5-position convention) probed for five words: est ≥ true count
    // always (flagged in-row), and both engines derive the IDENTICAL
    // sketch, so est itself hash-matches. The sketch is the mergeable
    // per-shard frequency artifact; the probe joins a ≤ 2048-row frame.
    BoardQuery("x_cms_words", ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("word"))
      val sk = graft.functions.Stats.cmsBuild(toks, "word", 4, 512, "cms")
      val probes = Seq("data", "join", "window", "sort", "nosuchword")
      val truth = toks.where(col("word").isin(probes: _*))
        .groupBy(col("word").as("key"))
        .agg(count(lit(1)).as("true_cnt"))
      graft.functions.Stats.cmsEstimate(sk, probes, 4, 512, "cms")
        .join(truth, Seq("key"), "left")
        .select(col("key"), col("est"),
          coalesce(col("true_cnt"), lit(0L)).as("true_cnt"),
          (col("est") >= coalesce(col("true_cnt"), lit(0L))).as("never_under"))
        .orderBy("key")
    }),
      // The identical count–min sketch derived independently: positions =
      // md5('cms:'||r||':'||word) first-12-hex fold mod 512, cells by
      // group-count, estimates = min over the 4 rows (0 for empty cells).
      """WITH tk AS (
        | SELECT unnest(CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS word
        | FROM documents),
        |cells AS (
        | SELECT CAST(r AS INTEGER) AS r,
        |  list_reduce(list_transform(range(1, 13), i ->
        |    CAST(strpos('0123456789abcdef', substr(
        |      md5('cms:' || CAST(r AS VARCHAR) || ':' || word),
        |      CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) % 512 AS pos,
        |  word
        | FROM tk, range(0, 4) t(r)),
        |sk AS (SELECT r, pos, count(*) AS cnt FROM cells GROUP BY 1, 2),
        |probes(key) AS (VALUES ('data'), ('join'), ('window'), ('sort'),
        |  ('nosuchword')),
        |ppos AS (
        | SELECT key, CAST(r AS INTEGER) AS r,
        |  list_reduce(list_transform(range(1, 13), i ->
        |    CAST(strpos('0123456789abcdef', substr(
        |      md5('cms:' || CAST(r AS VARCHAR) || ':' || key),
        |      CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) % 512 AS pos
        | FROM probes, range(0, 4) t(r)),
        |est AS (SELECT key, MIN(COALESCE(sk.cnt, 0)) AS est
        | FROM ppos LEFT JOIN sk USING (r, pos) GROUP BY key),
        |tru AS (SELECT word AS key, count(*) AS true_cnt FROM tk
        | WHERE word IN ('data', 'join', 'window', 'sort', 'nosuchword')
        | GROUP BY 1)
        |SELECT key, est, COALESCE(true_cnt, 0) AS true_cnt,
        | est >= COALESCE(true_cnt, 0) AS never_under
        |FROM est LEFT JOIN tru USING (key) ORDER BY key""".stripMargin),

    // Declarative data-quality audit: five expectations over documents
    // (incl. a cross-column consistency rule and key uniqueness) in one
    // aggregate pass, pivoted to rows engine-side.
    BoardQuery("x_expect", ((s, dir) =>
      graft.functions.Stats.expectations(t(s, dir, "documents"),
        Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "lang_known" -> col("lang").isin("en", "de", "es", "fr", "zh"),
          "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
          "text_nonempty" -> (length(col("text")) > 0)),
        uniqueCols = Seq("doc_id_unique" -> "doc_id"))),
      // The audit's five rules evaluated directly; violation = predicate
      // false OR null (the engine's null-hostile convention), uniqueness =
      // non-null rows beyond the first per value.
      """WITH t AS (SELECT count(*) AS n_rows,
        |  SUM(CASE WHEN NOT COALESCE(doc_id IS NOT NULL, FALSE)
        |    THEN 1 ELSE 0 END) AS v1,
        |  SUM(CASE WHEN NOT COALESCE(lang IN ('en','de','es','fr','zh'),
        |    FALSE) THEN 1 ELSE 0 END) AS v2,
        |  SUM(CASE WHEN NOT COALESCE(n_chars = length(text), FALSE)
        |    THEN 1 ELSE 0 END) AS v3,
        |  SUM(CASE WHEN NOT COALESCE(length(text) > 0, FALSE)
        |    THEN 1 ELSE 0 END) AS v4,
        |  count(doc_id) - count(DISTINCT doc_id) AS v5
        | FROM documents),
        |rules AS (
        | SELECT 'doc_id_not_null' AS rule, n_rows,
        |   CAST(v1 AS BIGINT) AS n_violations FROM t
        | UNION ALL SELECT 'doc_id_unique', n_rows, CAST(v5 AS BIGINT) FROM t
        | UNION ALL SELECT 'lang_known', n_rows, CAST(v2 AS BIGINT) FROM t
        | UNION ALL SELECT 'n_chars_consistent', n_rows,
        |   CAST(v3 AS BIGINT) FROM t
        | UNION ALL SELECT 'text_nonempty', n_rows, CAST(v4 AS BIGINT) FROM t)
        |SELECT rule, n_rows, n_violations, n_violations = 0 AS pass
        |FROM rules ORDER BY rule""".stripMargin),

    // Cohen's kappa per language over planted double-annotation: rater 2
    // disagrees on every 4th doc (one class up, mod 3), each rater skips
    // its own stripe (nulls excluded, not a class). Exact integer core
    // (n·o − e)/(n² − e), one double division LAST.
    BoardQuery("x_kappa", ((s, dir) => {
      val r1 = when(col("doc_id") % 13 === 0, lit(null).cast("long"))
        .otherwise((col("doc_id") * 7) % 3)
      val r2 = when(col("doc_id") % 17 === 0, lit(null).cast("long"))
        .otherwise(when(col("doc_id") % 4 === 0, (r1 + 1) % 3)
          .otherwise(r1))
      graft.functions.Stats.cohenKappaByGroup(
          t(s, dir, "documents").select(col("lang"), r1.as("r1"),
            r2.as("r2")),
          "lang", "r1", "r2")
        .orderBy("lang")
    }),
      // Cohen's kappa: the same planted raters, marginals joined on
      // (lang, label), the exact integer core with the single double
      // division last — NULLIF guards the degenerate n² = e case.
      """WITH lab AS (SELECT lang,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE (doc_id * 7) % 3 END AS r1,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN ((CASE WHEN doc_id % 13 = 0
        |         THEN NULL ELSE (doc_id * 7) % 3 END) + 1) % 3
        |       ELSE CASE WHEN doc_id % 13 = 0 THEN NULL
        |         ELSE (doc_id * 7) % 3 END END AS r2
        | FROM documents),
        |p AS (SELECT * FROM lab WHERE r1 IS NOT NULL AND r2 IS NOT NULL),
        |base AS (SELECT lang, COUNT(*) AS n,
        |  SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS o
        | FROM p GROUP BY 1),
        |m1 AS (SELECT lang, r1 AS l, COUNT(*) AS n1 FROM p GROUP BY 1, 2),
        |m2 AS (SELECT lang, r2 AS l, COUNT(*) AS n2 FROM p GROUP BY 1, 2),
        |e AS (SELECT m1.lang, SUM(n1 * n2) AS e FROM m1
        |  JOIN m2 ON m1.lang = m2.lang AND m1.l = m2.l GROUP BY 1)
        |SELECT base.lang, CAST(n AS BIGINT) AS n,
        | CAST(o AS BIGINT) AS n_agree,
        | ROUND((CAST(n AS DOUBLE) * CAST(o AS DOUBLE) - CAST(e AS DOUBLE))
        |   / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |     - CAST(e AS DOUBLE), CAST(0.0 AS DOUBLE)), 9) AS kappa
        |FROM base JOIN e ON base.lang = e.lang
        |ORDER BY base.lang""".stripMargin),

    // Fleiss' kappa per language over a planted 3-rater panel in long
    // format: raters 2 and 3 defect on their own doc_id stripes (one
    // and two classes up, mod 4). The exact integer core runs in
    // DECIMAL(38,0) / HUGEINT with the single double division last.
    BoardQuery("x_fleiss", ((s, dir) => {
      val r1 = (col("doc_id") * 3) % 4
      val r2 = when(col("doc_id") % 5 === 0, (r1 + 1) % 4).otherwise(r1)
      val r3 = when(col("doc_id") % 7 === 0, (r1 + 2) % 4).otherwise(r1)
      val longFmt = t(s, dir, "documents").select(col("lang"),
        col("doc_id"), explode(array(r1, r2, r3)).as("label"))
      graft.functions.Stats.fleissKappaByGroup(longFmt, "lang", "doc_id",
          "label")
        .orderBy("lang")
    }),
      // Fleiss' kappa: the same planted panel unnested, the integer core
      // (D(A−B) − B(n−1)C) / (B(n−1)(D−C)) in HUGEINT mirroring the
      // engine's DECIMAL(38,0), NULLIF guarding pe = 1.
      """WITH r AS (SELECT lang, doc_id, unnest([
        |   (doc_id * 3) % 4,
        |   CASE WHEN doc_id % 5 = 0 THEN ((doc_id * 3) % 4 + 1) % 4
        |        ELSE (doc_id * 3) % 4 END,
        |   CASE WHEN doc_id % 7 = 0 THEN ((doc_id * 3) % 4 + 2) % 4
        |        ELSE (doc_id * 3) % 4 END]) AS label
        | FROM documents),
        |c AS (SELECT lang, doc_id, label, COUNT(*) AS c
        | FROM r GROUP BY 1, 2, 3),
        |it AS (SELECT lang, doc_id, SUM(c) AS n, SUM(c * c) AS ai
        | FROM c GROUP BY 1, 2),
        |pg AS (SELECT lang, COUNT(*) AS nn, MIN(n) AS nr, SUM(ai) AS a
        | FROM it GROUP BY 1),
        |mg AS (SELECT lang, label, SUM(c) AS m FROM c GROUP BY 1, 2),
        |cg AS (SELECT lang,
        |  SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS cc
        | FROM mg GROUP BY 1)
        |SELECT pg.lang, CAST(nn AS BIGINT) AS n_items,
        | CAST(nr AS BIGINT) AS n_raters,
        | ROUND(CAST(CAST(nn * nr AS HUGEINT) * CAST(nn * nr AS HUGEINT)
        |     * CAST(a - nn * nr AS HUGEINT)
        |   - CAST(nn * nr AS HUGEINT) * CAST(nr - 1 AS HUGEINT) * cc
        |   AS DOUBLE)
        |  / NULLIF(CAST(CAST(nn * nr AS HUGEINT) * CAST(nr - 1 AS HUGEINT)
        |   * (CAST(nn * nr AS HUGEINT) * CAST(nn * nr AS HUGEINT) - cc)
        |   AS DOUBLE), CAST(0.0 AS DOUBLE)), 9) AS kappa
        |FROM pg JOIN cg ON pg.lang = cg.lang
        |ORDER BY pg.lang""".stripMargin),

    // Column profiling census over lineitem: rows/nulls/exact distinct
    // per column, one aggregation job for all columns — DESCRIBE-class
    // schema QA. Exact mode (approxRsd = 0); the 100 TB sketch mode is
    // x_profile_approx below.
    BoardQuery("x_profile", ((s, dir) =>
      graft.functions.Stats.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_shipdate", "l_linestatus"))),
      """SELECT "column", n_rows, n_nulls, n_distinct FROM (
        | SELECT 0 AS ord, 'l_orderkey' AS "column", COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(l_orderkey) AS n_nulls,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct FROM lineitem
        | UNION ALL SELECT 1, 'l_partkey', COUNT(*), COUNT(*) - COUNT(l_partkey),
        |  COUNT(DISTINCT l_partkey) FROM lineitem
        | UNION ALL SELECT 2, 'l_suppkey', COUNT(*), COUNT(*) - COUNT(l_suppkey),
        |  COUNT(DISTINCT l_suppkey) FROM lineitem
        | UNION ALL SELECT 3, 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
        |  COUNT(DISTINCT l_returnflag) FROM lineitem
        | UNION ALL SELECT 4, 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
        |  COUNT(DISTINCT l_shipdate) FROM lineitem
        | UNION ALL SELECT 5, 'l_linestatus', COUNT(*), COUNT(*) - COUNT(l_linestatus),
        |  COUNT(DISTINCT l_linestatus) FROM lineitem)
        |ORDER BY ord""".stripMargin),

    // Stats-maintenance append ritual (the ivf/band/tfidf shape on the
    // profile side): yesterday's slice reduces ONCE to exactly
    // mergeable sufficient statistics (decimal sums, counts, min/max)
    // persisted as a #columns-row parquet artifact; today's arrivals
    // fold in by addition — equal to a full rescan bit-for-bit, which
    // is precisely what the oracle computes. Nulls planted on
    // event_id % 7 exercise the completeness census.
    BoardQuery("x_moments_append", ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
        when(pmod(col("event_id"), lit(7)) === 0,
          lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      val cols = Seq("user_id", "value")
      val old = e.where(pmod(col("event_id"), lit(10)) < 7)
      val arr = e.where(pmod(col("event_id"), lit(10)) >= 7)
      val tmp = scratchDir("graft-moments")
      graft.functions.Stats.momentsBuild(old, cols)
        .write.mode("overwrite").parquet(tmp)
      graft.functions.Stats.momentsAppend(s.read.parquet(tmp), arr, cols)
        .select(col("column"), col("n_rows"), col("n_nulls"), col("n"),
          col("sum").cast("double").as("sum_v"),
          col("sum_sq").cast("double").as("sum_sq"),
          col("vmin"), col("vmax"))
        .orderBy("column")
    }),
      // One stats row per column, ordinal-pinned order; COUNT(DISTINCT)
      // excludes nulls in both engines.
      // The oracle IS the full rescan the ritual avoids: moments over
      // history ∪ arrivals directly — merge ≡ rescan is the claim under
      // test. Decimal accumulation mirrored at scale 6 (NOT 15: Spark
      // decimalizes a double via its shortest string, DuckDB via the
      // exact binary expansion — at scale 15 the two round different
      // per-value decimals and 10k-value sums drift ~1e-11; at scale 6
      // both agree for ≤6-fractional-digit values, see momentsBuild);
      // the v*v product is one double op before the decimal cast on
      // both engines, double narrowing only at the end.
      """WITH base AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        | FROM events)
        |SELECT "column", n_rows, n_nulls, n, sum_v, sum_sq, vmin, vmax
        |FROM (
        | SELECT 'user_id' AS "column", COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(user_id) AS n_nulls,
        |  COUNT(CASE WHEN user_id IS NOT NULL
        |    AND NOT isnan(CAST(user_id AS DOUBLE)) THEN 1 END) AS n,
        |  CAST(COALESCE(SUM(CAST(CASE WHEN user_id IS NOT NULL
        |    AND NOT isnan(CAST(user_id AS DOUBLE))
        |    THEN CAST(user_id AS DOUBLE) END AS DECIMAL(30,6))),
        |    0) AS DOUBLE) AS sum_v,
        |  CAST(COALESCE(SUM(CAST(CASE WHEN user_id IS NOT NULL
        |    AND NOT isnan(CAST(user_id AS DOUBLE))
        |    THEN CAST(user_id AS DOUBLE) * CAST(user_id AS DOUBLE)
        |    END AS DECIMAL(30,6))), 0) AS DOUBLE) AS sum_sq,
        |  MIN(CAST(user_id AS DOUBLE)) AS vmin,
        |  MAX(CAST(user_id AS DOUBLE)) AS vmax
        | FROM base
        | UNION ALL
        | SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
        |  COUNT(CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |    THEN 1 END),
        |  CAST(COALESCE(SUM(CAST(CASE WHEN value IS NOT NULL
        |    AND NOT isnan(value) THEN value END AS DECIMAL(30,6))),
        |    0) AS DOUBLE),
        |  CAST(COALESCE(SUM(CAST(CASE WHEN value IS NOT NULL
        |    AND NOT isnan(value) THEN value * value
        |    END AS DECIMAL(30,6))), 0) AS DOUBLE),
        |  MIN(CASE WHEN NOT isnan(value) THEN value END),
        |  MAX(CASE WHEN NOT isnan(value) THEN value END)
        | FROM base)
        |ORDER BY "column"""".stripMargin),

    // The profile's 100 TB mode, self-verifying (the x_approx_distinct
    // pattern): approxRsd > 0 swaps exact count_distinct (an Expand —
    // the scan × #columns into an exchange carrying the distinct VALUES)
    // for HLL++ sketches (KB-bounded state, no Expand). The query emits
    // the EXACT counts plus |approx − exact| ≤ 3·rsd·exact flags; the
    // oracle recomputes the exact counts and asserts the flags TRUE —
    // the estimate itself never needs cross-engine agreement.
    BoardQuery("x_profile_approx", ((s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      val rsd = 0.02
      val li = t(s, dir, "lineitem")
      val ex = graft.functions.Stats.profile(li, cols)
      val ap = graft.functions.Stats.profile(li, cols, approxRsd = rsd)
        .select(col("column"), col("n_distinct").as("__approx"))
      ex.join(ap, "column")
        .select(col("column"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          (abs(col("__approx") - col("n_distinct")).cast("double")
            <= lit(3 * rsd) * col("n_distinct").cast("double")).as("within_tol"))
        .orderBy("column")
    }),
      // Exact counts recomputed; the HLL++ estimates are asserted only
      // through the within-3·rsd flags (the x_approx_distinct convention).
      // Presentation order is BY COLUMN NAME (the query joins exact ×
      // approx, losing the ordinal).
      """SELECT "column", n_rows, n_nulls, n_distinct, TRUE AS within_tol FROM (
        | SELECT 'l_orderkey' AS "column", COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(l_orderkey) AS n_nulls,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct FROM lineitem
        | UNION ALL SELECT 'l_partkey', COUNT(*), COUNT(*) - COUNT(l_partkey),
        |  COUNT(DISTINCT l_partkey) FROM lineitem
        | UNION ALL SELECT 'l_suppkey', COUNT(*), COUNT(*) - COUNT(l_suppkey),
        |  COUNT(DISTINCT l_suppkey) FROM lineitem
        | UNION ALL SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
        |  COUNT(DISTINCT l_returnflag) FROM lineitem)
        |ORDER BY "column"""".stripMargin),

    // Sketch aggregation, self-verifying: the HLL++ estimate is engine-
    // specific, but |approx − exact| / exact ≤ 3·rsd is a deterministic
    // property of the (deterministic) sketch on this data — so the query
    // outputs the exact counts plus the within-tolerance flags, and the
    // oracle asserts the flags are true. The estimate itself never needs
    // cross-engine agreement.
    BoardQuery("x_approx_distinct", ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_orderkey")).as("ao"))
        .select(col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts")
            <= lit(0.15)).as("parts_within_tol"),
          (abs(col("ao") - col("exact_orders")).cast("double") / col("exact_orders")
            <= lit(0.15)).as("orders_within_tol"))),
      """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
        | COUNT(DISTINCT l_orderkey) AS exact_orders,
        | TRUE AS parts_within_tol, TRUE AS orders_within_tol
        |FROM lineitem""".stripMargin),

    // Approximate quantiles (KLL-style mergeable sketch — the one-pass,
    // fixed-memory path; r_percentile is the exact sort-based dual).
    // Self-verifying like x_approx_distinct: approx_percentile's rank
    // error is bounded by its accuracy parameter, so the query outputs
    // exact quantiles plus within-tolerance flags the oracle asserts.
    BoardQuery("x_approx_quantile", ((s, dir) => {
      // Exact side runs the scale-safe distributed selection
      // (Stats.exactQuantiles: bucket-refinement passes keeping only
      // metadata-sized counts) rather than `percentile(...)`, whose final
      // merge buffers every distinct value on one reducer. Values are
      // identical bit-for-bit (StatsSpec pins this).
      val l = t(s, dir, "lineitem")
      val ex = graft.functions.Stats.exactQuantiles(
        l, "l_extendedprice", Seq(0.5, 0.95, 0.99))
      val approx = expr(
        "approx_percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D), 10000)")
      l.agg(approx.as("ap"))
        .select(
          round(lit(ex(0)), 4).as("p50"),
          round(lit(ex(1)), 4).as("p95"),
          round(lit(ex(2)), 4).as("p99"),
          (abs(element_at(col("ap"), 1).cast("double") - lit(ex(0))) /
            lit(ex(0)) <= lit(0.02)).as("p50_within_tol"),
          (abs(element_at(col("ap"), 2).cast("double") - lit(ex(1))) /
            lit(ex(1)) <= lit(0.02)).as("p95_within_tol"),
          (abs(element_at(col("ap"), 3).cast("double") - lit(ex(2))) /
            lit(ex(2)) <= lit(0.02)).as("p99_within_tol"))
    }),
      // Exact interpolated quantiles match Spark's `percentile`; the sketch
      // side is asserted through the tolerance flags only.
      """WITH q AS (
        | SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
        |   [0.5, 0.95, 0.99]) AS ex
        | FROM lineitem)
        |SELECT ROUND(ex[1], 4) AS p50, ROUND(ex[2], 4) AS p95,
        | ROUND(ex[3], 4) AS p99,
        | TRUE AS p50_within_tol, TRUE AS p95_within_tol, TRUE AS p99_within_tol
        |FROM q""".stripMargin),
  )
}
