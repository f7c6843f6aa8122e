package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact order statistics.
  *
  * Spark's `percentile(...)` aggregate is exact but buffers a
  * value→count map whose FINAL merge holds every distinct value on one
  * reducer — fine at 10⁶ rows, an OOM at 10¹² distinct doubles. This is
  * the scale-safe exact path: iterative bucket refinement (the classic
  * distributed selection algorithm), where every pass keeps only
  * O(intervals × buckets) counts — metadata, never rows — and the final
  * step collects one provably-small interval.
  *
  *  - Pass 0: count + min/max.
  *  - Each refinement pass histograms the pending intervals into
  *    `buckets` equal-width sub-ranges (ONE scan covers all pending ranks
  *    — intervals are disjoint, so a row maps to ≤1 (interval, bucket)
  *    cell), then walks the tiny count table to find each rank's
  *    sub-range and its exact row count.
  *  - When a rank's interval holds ≤ `maxCollect` rows (or collapses to a
  *    single double), its values are fetched and the rank read off
  *    exactly. Range shrinks ×`buckets` per pass, so passes are
  *    O(log_buckets(range/ulp)) — ≤ 5 in practice even for adversarial
  *    distributions.
  *
  * Reference capability note: go-sif computes quantiles only via a full
  * user-side Reduce (operations/transform/reduce.go:16-44) — single-node
  * state, same scale wall as Spark's `percentile`.
  */
object Stats {

  // A rank's state: the CLOSED value interval [lo, hi] known to contain
  // it, its offset among that interval's rows, and the interval's row
  // count. Intervals are always observed per-bucket [min, max] ranges
  // (or the global [min, max]), so they are attained at both ends and
  // disjoint across siblings — ordered bucket ranges cannot interleave.
  private final case class Pending(rank: Long, lo: Double, hi: Double,
                                   offset: Long, size: Long)

  /** Per-column data-profiling census (the `DESCRIBE`-class platform
    * feature): one row per column with total rows, null count and
    * distinct count — the completeness/cardinality report that drives
    * join-key selection, partition-key choice and schema QA. ONE scan:
    * all columns' aggregates ride a single aggregation job with map-side
    * partials.
    *
    * The scale mode is a PARAMETER, not a comment: `approxRsd = 0`
    * (default) is exact `count_distinct` — Spark plans the multi-column
    * form as Expand (the scan multiplied by #columns into a partial-
    * distinct exchange that carries the distinct VALUES themselves);
    * right when the counts are contractual, ruinous when one column is a
    * unique id over 100 TB (every id shuffles, × columns). `approxRsd >
    * 0` swaps in `approx_count_distinct` (HLL++): per-column sketch
    * state is KB-bounded, the exchange carries sketches not values, and
    * no Expand multiplies the scan — the 100 TB profile. The approx
    * mode's tolerance is oracled by x_profile_approx (exact value +
    * within-3·rsd flag, the x_approx_distinct self-verifying pattern).
    *
    * @param approxRsd 0 for exact distinct counts; otherwise the target
    *   relative standard deviation of the HLL++ estimate (e.g. 0.02)
    * @return (column, n_rows, n_nulls, n_distinct) in `columns` order
    *   (pinned by an ordinal column so the output order is part of the
    *   contract), distinct counts EXCLUDING null (count-distinct
    *   semantics in both engines)
    */
  def profile(df: DataFrame, columns: Seq[String],
              approxRsd: Double = 0.0): DataFrame = {
    require(columns.nonEmpty, "profile needs at least one column")
    require(approxRsd >= 0.0 && approxRsd < 1.0,
      s"approxRsd must be in [0, 1): $approxRsd")
    // Aggregate aliases are ORDINAL (__nd_0, __nd_1, …), never the raw
    // column name, and input references are backtick-quoted: a name
    // containing a dot (legal in DataFrames) would otherwise round-trip
    // through col()'s parser as a nested-field path and fail analysis.
    def ref(c: String) = col(s"`${c.replace("`", "``")}`")
    val aggs = columns.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(lit(1)).as(s"__n_$i"),
        count(when(ref(c).isNull, lit(1))).as(s"__nn_$i"),
        (if (approxRsd == 0.0) count_distinct(ref(c))
         else approx_count_distinct(ref(c), approxRsd)).as(s"__nd_$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = columns.zipWithIndex.map { case (c, i) =>
      one.select(lit(i).as("__ord"), lit(c).as("column"),
        col(s"__n_$i").as("n_rows"), col(s"__nn_$i").as("n_nulls"),
        col(s"__nd_$i").as("n_distinct"))
    }
    stacked.reduce(_ union _).orderBy("__ord")
      .select("column", "n_rows", "n_nulls", "n_distinct")
  }

  /** Mergeable per-column moments profile — the build half of the
    * stats-maintenance ritual ([[momentsAppend]]): one scan reduces
    * each column to the EXACTLY mergeable sufficient statistics
    * `(n_rows, n_nulls, n, sum, sum_sq, vmin, vmax)`, so tomorrow's
    * arrivals fold into yesterday's persisted profile by addition —
    * mean/variance are consumer-side arithmetic and the history is
    * never rescanned. The merge is exact because the sums accumulate
    * in DECIMAL(30,15) (order-free, associative — the
    * [[graft.functions.Corpus.unigramNll]] discipline), not in
    * floating point; min/max merge by comparison. `n` counts eligible
    * (non-null, non-NaN) values — the moments' own denominator —
    * while `n_rows`/`n_nulls` keep the completeness census.
    * Distinct counts are deliberately ABSENT: they don't merge
    * exactly ([[profile]] rescans; the HLL rollup is the mergeable
    * sketch path).
    *
    * `sumScale` is the decimal scale of the accumulators and a
    * CROSS-ENGINE contract, deliberately coarser than the usual
    * (30,15): Spark converts a double to decimal through its SHORTEST
    * string ("376.43") while other engines expand the binary value
    * exactly (376.42999999999999545…), so at scale 15 the two round
    * DIFFERENT per-value decimals and a large sum drifts at ~1e-11
    * (measured: x_moments_append failed by one final-double ulp at
    * sf0.01 with scale 15). At scale 6 both paths round to the same
    * decimal for any value with ≤ 6 fractional digits — the
    * money-like columns this profile is for; sums of such values are
    * then EXACT and merge exactly.
    *
    * Scale shape: ONE aggregation job with map-side partials (all
    * columns ride the same pass, the [[profile]] shape); the artifact
    * is #columns rows however large the slice.
    *
    * @return (ord, column, n_rows, n_nulls, n, sum, sum_sq, vmin,
    *         vmax) in `columns` order; sum/sum_sq
    *         DECIMAL(30, sumScale) — the artifact keeps the exact
    *         decimals, a final consumer narrows to double
    */
  def momentsBuild(df: DataFrame, columns: Seq[String],
                   sumScale: Int = 6): DataFrame = {
    require(columns.nonEmpty, "momentsBuild needs at least one column")
    require(sumScale >= 0 && sumScale <= 15,
      s"sumScale must be in [0, 15]: $sumScale")
    val d3015 = org.apache.spark.sql.types.DecimalType(30, sumScale)
    def ref(c: String) = col(s"`${c.replace("`", "``")}`")
    val aggs = columns.zipWithIndex.flatMap { case (c, i) =>
      val v = ref(c).cast("double")
      val elig = when(ref(c).isNotNull && !isnan(v), v)
      // cast-survivor counts ride along so overflow is DETECTED, not
      // silently absorbed: a value past DECIMAL(30,scale)'s range casts
      // to null under non-ANSI evaluation and would otherwise drop out
      // of the sum while still counting in n — the exactness contract
      // demands a loud failure instead
      Seq(count(lit(1)).as(s"__n_$i"),
        count(when(ref(c).isNull, lit(1))).as(s"__nn_$i"),
        count(elig).as(s"__ne_$i"),
        count(elig.cast(d3015)).as(s"__nc_$i"),
        count((elig * elig).cast(d3015)).as(s"__ncq_$i"),
        sum(elig.cast(d3015)).cast(d3015).as(s"__s_$i"),
        sum((elig * elig).cast(d3015)).cast(d3015).as(s"__sq_$i"),
        min(elig).as(s"__mn_$i"),
        max(elig).as(s"__mx_$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    columns.zipWithIndex.map { case (c, i) =>
      // fail-loud overflow guard (the knNll raise_error-on-the-totals
      // ethos): per-value cast nulls (__nc/__ncq < __ne) or a null
      // TOTAL with eligible rows (the sum itself overflowed the
      // decimal) abort; only the legitimate empty case coalesces to 0
      def guarded(s: Column, castCnt: Column, what: String): Column =
        when(castCnt =!= col(s"__ne_$i") ||
            (col(s"__ne_$i") > 0L && s.isNull),
          raise_error(lit(s"momentsBuild: $what of column '$c' " +
            s"overflows DECIMAL(30,$sumScale) — lower sumScale or " +
            "pre-scale the column")))
          .otherwise(coalesce(s, lit(0).cast(d3015)))
      one.select(lit(i.toLong).as("ord"), lit(c).as("column"),
        col(s"__n_$i").as("n_rows"), col(s"__nn_$i").as("n_nulls"),
        col(s"__ne_$i").as("n"),
        guarded(col(s"__s_$i"), col(s"__nc_$i"), "sum").as("sum"),
        guarded(col(s"__sq_$i"), col(s"__ncq_$i"), "sum of squares")
          .as("sum_sq"),
        col(s"__mn_$i").as("vmin"), col(s"__mx_$i").as("vmax"))
    }.reduce(_ unionAll _)
  }

  /** Fold a batch of arrivals into a persisted [[momentsBuild]]
    * profile — the stats-family append ritual (the ivf / minhash-band /
    * tfidf index-maintenance shape): counts and decimal sums ADD,
    * min/max COMPARE, and the result is bit-identical to a full
    * rescan of history ∪ arrivals (decimal addition is associative;
    * spec- and oracle-pinned). Refuses loudly when the artifact's
    * column set differs from the requested one — filing arrivals
    * under a different schema would silently corrupt the profile
    * (the frozen-params contract every append ritual carries). The
    * artifact read is #columns rows (bounded), the arrivals cost one
    * [[momentsBuild]] scan; history is never touched. The accumulator
    * scale is FROZEN in the artifact's schema and read from it here —
    * the arrival batch files at the stored scale, never a caller-
    * supplied one (the frozen-params contract, structurally).
    */
  def momentsAppend(profile: DataFrame, arrivals: DataFrame,
                    columns: Seq[String]): DataFrame = {
    val storedScale = profile.schema("sum").dataType match {
      case d: org.apache.spark.sql.types.DecimalType => d.scale
      case other => throw new IllegalArgumentException(
        s"momentsAppend: artifact 'sum' column is $other, not DECIMAL " +
          "— not a momentsBuild artifact")
    }
    val d3015 = org.apache.spark.sql.types.DecimalType(30, storedScale)
    // #columns rows by construction — the bounded-collect guard. The
    // arrival build REUSES the artifact's (ord → column) assignment,
    // not the caller's list order: the rows merge on (ord, column), so
    // building the arrivals in a reordered caller list would file each
    // column under a different ord and silently split every column
    // into two half-profiles instead of one merged row.
    val stored = profile.select(col("ord"), col("column")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    require(stored.map(_._2).toSet == columns.toSet,
      s"momentsAppend: artifact columns ${stored.map(_._2).toSet} do " +
        s"not match requested $columns — rebuild or fix the column " +
        "list (mixed-schema appends corrupt the profile)")
    profile.select(col("ord"), col("column"), col("n_rows"),
        col("n_nulls"), col("n"), col("sum").cast(d3015).as("sum"),
        col("sum_sq").cast(d3015).as("sum_sq"), col("vmin"), col("vmax"))
      .unionAll(momentsBuild(arrivals, stored.map(_._2), storedScale))
      .groupBy(col("ord"), col("column"))
      .agg(sum(col("n_rows")).cast("long").as("n_rows"),
        sum(col("n_nulls")).cast("long").as("n_nulls"),
        sum(col("n")).cast("long").as("n"),
        sum(col("sum")).cast(d3015).as("__ms"),
        sum(col("sum_sq")).cast(d3015).as("__msq"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"))
      // both inputs carry non-null sums (momentsBuild's guard), so a
      // null merged total means the MERGE overflowed the decimal —
      // fail loudly, never a silent null profile
      .select(col("ord"), col("column"), col("n_rows"), col("n_nulls"),
        col("n"),
        when(col("__ms").isNull, raise_error(lit(
          "momentsAppend: merged sum overflows " +
            s"DECIMAL(30,$storedScale) — rebuild at a lower sumScale")))
          .otherwise(col("__ms")).as("sum"),
        when(col("__msq").isNull, raise_error(lit(
          "momentsAppend: merged sum of squares overflows " +
            s"DECIMAL(30,$storedScale) — rebuild at a lower sumScale")))
          .otherwise(col("__msq")).as("sum_sq"),
        col("vmin"), col("vmax"))
  }

  /** K-minimum-values (KMV) sketch of a column: the `k` smallest DISTINCT
    * `md5` values — the mergeable bottom-k sketch of Bar-Yossef et al.
    * (RANDOM '02) / Beyer et al. (SIGMOD '07), in the engine's portable
    * hash convention (hex strings compare lexicographically ≡
    * numerically, so any engine derives the identical sketch). Nulls are
    * excluded (no distinct identity to hash).
    *
    * Shuffle profile: one hash-only distinct (32-byte hex, bodies never
    * shuffle) + per-partition top-k heaps merged on the driver
    * (TakeOrderedAndProject) — the sketch is k rows no matter the corpus
    * size, and two sketches merge by unioning and re-taking the bottom-k,
    * which is what makes per-shard / per-day sketches composable without
    * re-reading the data.
    */
  def kmvSketch(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"sketch size must be >= 1, got $k")
    df.select(md5(col(valueCol).cast("string")).as("kmv_hash"))
      .where(col("kmv_hash").isNotNull)
      .distinct()
      .orderBy("kmv_hash")
      .limit(k)
  }

  /** Corpus-overlap estimation from two KMV sketches — "how much of
    * yesterday's crawl is in today's?" answered from two k-row artifacts
    * instead of a corpus×corpus join. The bottom-k of the UNION of the
    * sketches is a uniform sample of the distinct-value union (each hash
    * is a uniform draw), so the fraction of it present in BOTH sketches
    * is the standard KMV Jaccard estimator Ĵ = |S_k(A∪B) ∩ Â ∩ B̂| / k
    * (Beyer et al., SIGMOD '07), with standard error ≈ √(J(1−J)/k).
    *
    * Every stage after the two sketches joins ≤ k-row frames; the only
    * data-sized work is building the sketches themselves (one hash-only
    * distinct each — and persisted sketches skip even that).
    *
    * @return one row: `k_used` (=min(k, |A∪B| distinct) — the union
    *   sketch size actually realized), `n_shared`, and
    *   `est_jaccard = round(n_shared/k_used, 9)`
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, valueCol: String,
                 k: Int): DataFrame = {
    // The sketches are k rows BY CONSTRUCTION — fetching them is the
    // point of a sketch (ship two k-row artifacts, not two corpora), so
    // the union/intersection runs driver-side: two jobs total instead of
    // re-running each sketch subtree under every set operation.
    val skA = kmvSketch(a, valueCol, k).collect().map(_.getString(0)).toSet
    val skB = kmvSketch(b, valueCol, k).collect().map(_.getString(0)).toSet
    val unionK = (skA ++ skB).toSeq.sorted.take(k)
    val kUsed = unionK.size.toLong
    val shared = unionK.count(h => skA(h) && skB(h)).toLong
    val est = if (kUsed == 0L) Double.NaN
      else BigDecimal(shared.toDouble / kUsed)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = a.sparkSession
    import spark.implicits._
    Seq((kUsed, shared, est)).toDF("k_used", "n_shared", "est_jaccard")
  }

  /** Bucket position of `value` in count–min row `row`: fold the first
    * 12 hex chars of `md5(seed:row:value)` to a 48-bit integer, mod
    * `width` — the engine's portable-hash convention ([[kmvSketch]],
    * `Corpus.hashSplit`), so any engine derives the identical sketch.
    */
  private def cmsPos(value: org.apache.spark.sql.Column, row: Int,
                     width: Int, seed: String): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(lit(s"$seed:$row:"), value)), 1, 12),
      16, 10).cast("long"), lit(width.toLong))

  /** Count–min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) of a
    * column's value frequencies: `depth` hash rows × `width` buckets,
    * materialized as a DataFrame `(r, pos, cnt)` of NON-EMPTY cells —
    * ≤ depth×width rows no matter the corpus size. Point estimates never
    * underestimate; overestimate ≤ 2N/width with prob ≥ 1−2^−depth.
    *
    * Why a sketch when [[profile]] can count exactly: the sketch is a
    * bounded-size MERGEABLE artifact. Per-shard / per-day sketches add
    * cell-wise ([[cmsMerge]]) without re-reading data — the rolling
    * "token frequency over the last 30 crawls" a 100 TB pipeline keeps
    * warm, where 30 exact counts would each shuffle the corpus' full
    * distinct set ([[kmvSketch]]'s argument, applied to frequencies).
    *
    * Shuffle profile, two shapes by `preAggregate`:
    *  - `true` (default, right for token/word streams): count per VALUE
    *    first (map-side combined, vocabulary-sized exchange), then hash
    *    each distinct value once — md5 cost is depth × |vocab|, not
    *    depth × |rows| (a 7× wall-clock cut on the fixture's token
    *    stream). Wrong shape when values are near-unique: the value agg
    *    would exchange the full distinct set.
    *  - `false` (right for high-cardinality columns — ids, urls): hash
    *    every row, aggregate straight on (r, pos) — the exchange is
    *    ≤ depth×width partial cells per partition NO MATTER the
    *    cardinality; values themselves never shuffle.
    * Both produce the identical sketch. Nulls are excluded (no distinct
    * identity to count).
    */
  def cmsBuild(df: DataFrame, valueCol: String, depth: Int = 4,
               width: Int = 1024, seed: String = "cms",
               preAggregate: Boolean = true): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth out of [1,8]: $depth")
    require(width >= 2, s"width too small: $width")
    val v = col(valueCol).cast("string")
    def cells(value: org.apache.spark.sql.Column) = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmsPos(value, r, width, seed).as("pos")))
    if (preAggregate)
      df.where(v.isNotNull)
        .groupBy(v.as("__v")).agg(count(lit(1)).as("__c"))
        .select(explode(array(cells(col("__v")): _*)).as("rp"), col("__c"))
        .groupBy(col("rp.r").as("r"), col("rp.pos").as("pos"))
        .agg(sum(col("__c")).as("cnt"))
    else
      df.where(v.isNotNull)
        .select(explode(array(cells(v): _*)).as("rp"))
        .groupBy(col("rp.r").as("r"), col("rp.pos").as("pos"))
        .agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise sum of two count–min sketches with identical
    * (depth, width, seed) — the merge that makes per-shard sketches
    * composable. Sketch-sized work only.
    */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("r", "pos").agg(sum("cnt").as("cnt"))

  /** Point-frequency estimates for `keys` from a built sketch: per key,
    * min over the depth rows of the key's cell count (0 when a cell is
    * empty — the key was never seen on that row). Keys are a small probe
    * list by contract; the join is against a ≤ depth×width-row frame
    * (auto-broadcast), so estimation never touches the corpus.
    */
  def cmsEstimate(sketch: DataFrame, keys: Seq[String], depth: Int = 4,
                  width: Int = 1024, seed: String = "cms"): DataFrame = {
    require(keys.nonEmpty, "probe needs at least one key")
    val spark = sketch.sparkSession
    import spark.implicits._
    val cells = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmsPos(col("key"), r, width, seed).as("pos")))
    keys.distinct.toDF("key")
      .select(col("key"), explode(array(cells: _*)).as("rp"))
      .select(col("key"), col("rp.r").as("r"), col("rp.pos").as("pos"))
      .join(sketch, Seq("r", "pos"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Declarative data-quality audit (the Deequ/expectations pattern):
    * evaluate every rule over the corpus in ONE aggregate pass and
    * return `(rule, n_rows, n_violations, pass)` per rule, ordered by
    * rule name. A rule is `(name, predicate-that-valid-rows-satisfy)`;
    * a row violates it when the predicate is false OR null (null-hostile
    * on purpose: `n_chars = length(text)` over a null row is unknown,
    * and an audit that counts unknown as pass certifies garbage).
    *
    * `uniqueCols` adds key-uniqueness rules: violations = non-null rows
    * beyond the first per value (`count(col) − count(distinct col)`).
    * These share the same single pass but carry distinct-state — at
    * 100 TB scale the distinct shuffle is the dominant cost, which is
    * why uniqueness is opt-in rather than a default rule.
    *
    * Shuffle profile: one partial-aggregated scan producing a single
    * #rules-wide row, pivoted to rows driver-free via an inline-array
    * explode. Predicates fuse into the scan projection (codegen), so
    * the audit costs one read of the columns the rules touch.
    */
  def expectations(df: DataFrame,
                   rules: Seq[(String, org.apache.spark.sql.Column)],
                   uniqueCols: Seq[(String, String)] = Nil): DataFrame = {
    require(rules.nonEmpty || uniqueCols.nonEmpty, "audit needs >= 1 rule")
    val names = rules.map(_._1) ++ uniqueCols.map(_._1)
    require(names.distinct.size == names.size, s"duplicate rule names: $names")
    val violAggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)).as(s"__v_$i") }
    val uniqAggs = uniqueCols.zipWithIndex.map { case ((_, c), i) =>
      (count(col(c)) - count_distinct(col(c))).as(s"__u_$i") }
    val aggs = violAggs ++ uniqAggs :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val cells = rules.indices.map(i =>
        struct(lit(rules(i)._1).as("rule"), col(s"__v_$i").as("n_violations"))) ++
      uniqueCols.indices.map(i =>
        struct(lit(uniqueCols(i)._1).as("rule"), col(s"__u_$i").as("n_violations")))
    one.select(col("__n"), explode(array(cells: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("__n").as("n_rows"),
        col("r.n_violations").as("n_violations"),
        (col("r.n_violations") === 0L).as("pass"))
      .orderBy("rule")
  }

  /** Exact linear-interpolation quantiles (the `percentile()` /
    * `quantile_cont` definition: index p·(n−1) over the sorted values,
    * fractional index interpolated). Nulls and NaNs are excluded.
    *
    * Runs jobs eagerly and returns the values (they are driver-sized by
    * definition).
    */
  def exactQuantiles(df: DataFrame, valueCol: String, probs: Seq[Double],
                     buckets: Int = 4096, maxCollect: Int = 1 << 20): Seq[Double] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must be in [0,1]: $probs")
    require(buckets >= 2 && maxCollect >= 1)
    val (vals, n, gLo, gHi) = headPass(df, valueCol)
    require(n > 0, s"no non-null values in $valueCol")

    // 0-based fractional positions; the integer ranks we must materialize.
    val positions = probs.map(p => p * (n - 1))
    val needed: Seq[Long] = positions
      .flatMap(pos => Seq(math.floor(pos).toLong, math.ceil(pos).toLong))
      .distinct.sorted
    val resolved = resolveRanks(vals, n, gLo, gHi, needed, buckets, maxCollect)

    positions.map { pos =>
      val (kLo, kHi) = (math.floor(pos).toLong, math.ceil(pos).toLong)
      val (vLo, vHi) = (resolved(kLo), resolved(kHi))
      if (kLo == kHi) vLo else vLo + (pos - kLo) * (vHi - vLo)
    }
  }

  /** The EXACT data values at the given 0-based sorted ranks (nulls and
    * NaNs excluded) — [[exactQuantiles]]' rank-resolution core without
    * the interpolation step: every returned double is a value that
    * OCCURS in the column, which is what order-statistic consumers
    * ([[winsorize]]'s cut points, discrete quantiles) need for
    * cross-engine bit-exactness — no interpolation arithmetic to
    * diverge, just element selection.
    */
  def exactValueAtRanks(df: DataFrame, valueCol: String, ranks: Seq[Long],
                        buckets: Int = 4096,
                        maxCollect: Int = 1 << 20): Map[Long, Double] = {
    require(ranks.nonEmpty && ranks.forall(_ >= 0L),
      s"ranks must be non-negative: $ranks")
    require(buckets >= 2 && maxCollect >= 1)
    val (vals, n, gLo, gHi) = headPass(df, valueCol)
    require(n > 0, s"no non-null values in $valueCol")
    require(ranks.forall(_ < n), s"rank out of range (n=$n): $ranks")
    resolveRanks(vals, n, gLo, gHi, ranks.distinct.sorted, buckets,
      maxCollect).toMap
  }

  /** The head pass every order-statistic path starts with: the
    * column's non-null, non-NaN doubles as `v`, their count, and their
    * min/max (NaN when the count is 0) — ONE scan that both sizes the
    * rank arithmetic and seeds [[resolveRanks]]' bisection.
    */
  private def headPass(df: DataFrame,
                       valueCol: String): (DataFrame, Long, Double, Double) = {
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
    val head = vals.agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
      max(col("v")).as("hi")).head()
    val n = head.getLong(0)
    if (n == 0L) (vals, 0L, Double.NaN, Double.NaN)
    else (vals, n, head.getDouble(1), head.getDouble(2))
  }

  private def resolveRanks(vals: DataFrame, n: Long, gLo: Double,
                           gHi: Double, needed: Seq[Long], buckets: Int,
                           maxCollect: Int)
      : scala.collection.Map[Long, Double] = {
    var pending: Seq[Pending] = needed.map(r => Pending(r, gLo, gHi, r, n))
    val resolved = scala.collection.mutable.Map[Long, Double]()

    var guard = 0
    while (pending.nonEmpty) {
      guard += 1
      require(guard <= 64, s"exactQuantiles failed to converge: $pending")
      // An interval is terminal when it is a point, small enough to fetch,
      // or too narrow to subdivide (sub-ulp width breaks the ±1 floor
      // correction below — and such a span holds only a handful of
      // distinct doubles anyway, so the distinct-fetch is bounded).
      val (small, big) = pending.partition(p =>
        p.lo == p.hi || p.size <= maxCollect ||
          p.lo + (p.hi - p.lo) / buckets == p.lo)
      small.groupBy(p => (p.lo, p.hi)).foreach {
        case ((lo, hi), ps) =>
          if (lo == hi) ps.foreach(p => resolved(p.rank) = lo)
          else {
            // distinct values + multiplicities: driver memory is bounded by
            // DISTINCT doubles in the interval, not rows
            val hist = vals.where(col("v") >= lo && col("v") <= hi)
              .groupBy(col("v")).agg(count(lit(1)).as("c"))
              .orderBy(col("v")).collect()
              .map(r => (r.getDouble(0), r.getLong(1)))
            ps.foreach { p =>
              var cum = 0L; var i = 0; var found = false
              while (!found && i < hist.length) {
                cum += hist(i)._2
                if (p.offset < cum) { resolved(p.rank) = hist(i)._1; found = true }
                i += 1
              }
              require(found,
                s"rank ${p.rank}: offset ${p.offset} beyond interval [$lo,$hi]")
            }
          }
      }
      pending = big
      if (pending.nonEmpty) {
        // ONE scan histograms every pending interval. Intervals descend
        // from disjoint buckets, so each row lands in ≤1 cell.
        val intervals = pending.map(p => (p.lo, p.hi)).distinct
        val iExpr = intervals.zipWithIndex.foldLeft(lit(-1)) {
          case (acc, ((lo, hi), i)) =>
            when(col("v") >= lo && col("v") <= hi, lit(i)).otherwise(acc)
        }
        // Bucket boundaries are driver-computed literal doubles, and the
        // floor-based index is corrected by comparing against those exact
        // literals — so a row's counted bucket and the next pass's child
        // interval filter [xs(b), xs(b+1)) use IDENTICAL arithmetic. (A
        // bare floor can disagree with the comparison by 1 ulp, silently
        // shifting every offset after the misassigned row.)
        val boundsFor: ((Double, Double)) => IndexedSeq[Double] = {
          case (lo, hi) =>
            val w = (hi - lo) / buckets
            (0 to buckets).map(j =>
              if (j == 0) lo else if (j == buckets) hi else lo + j * w)
        }
        val bExpr = intervals.zipWithIndex.foldLeft(lit(0)) {
          case (acc, (ivl @ (lo, hi), i)) =>
            val xs = boundsFor(ivl)
            val bnds = typedLit(xs)
            val idx0 = least(lit(buckets - 1), greatest(lit(0),
              floor((col("v") - lit(lo)) / lit((hi - lo) / buckets)).cast("int")))
            val corrected =
              when(col("v") < element_at(bnds, idx0 + 1), idx0 - 1)
                .when(idx0 < buckets - 1 &&
                  col("v") >= element_at(bnds, least(idx0 + 2, lit(buckets + 1))),
                  idx0 + 1)
                .otherwise(idx0)
            when(col("iv") === i, corrected).otherwise(acc)
        }
        // min/max per cell lets the child clamp to the OBSERVED value
        // range — an all-equal bucket (heavy duplicates) collapses to a
        // point immediately instead of bisecting toward it for dozens of
        // passes, and sparse tails shrink by value, not by bucket width.
        val cells = vals.withColumn("iv", iExpr).where(col("iv") >= 0)
          .withColumn("bk", bExpr)
          .groupBy(col("iv"), col("bk"))
          .agg(count(lit(1)).as("c"), min(col("v")).as("mn"), max(col("v")).as("mx"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) ->
            ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
        pending = pending.map { p =>
          val ivl = (p.lo, p.hi)
          val iv = intervals.indexOf(ivl)
          var cum = 0L; var bk = 0; var res: Pending = null
          while (res == null && bk < buckets) {
            val (c, mn, mx) = cells.getOrElse((iv, bk), (0L, 0.0, 0.0))
            if (p.offset < cum + c) {
              // the child is the bucket's OBSERVED [min, max] — a closed
              // interval holding exactly the bucket's rows (neighbor
              // buckets cannot intersect it: value ranges are ordered)
              res = Pending(p.rank, mn, mx, p.offset - cum, c)
            }
            cum += c; bk += 1
          }
          require(res != null, s"rank ${p.rank}: offset ${p.offset} beyond interval")
          res
        }
      }
    }
    resolved
  }

  /** Exact equi-join cardinality WITHOUT running the join — the
    * pre-flight audit for "will this join explode": inner-join output
    * rows = Σ_k cnt_a(k)·cnt_b(k), computed over the two key-count
    * tables (each #distinct-keys-sized — metadata next to the fact
    * tables they summarize). Returns one row:
    * (n_pairs, n_keys_matched, max_key_pairs, hottest_key) — n_pairs
    * in DECIMAL (a skewed 10¹²×10¹² key overflows any long),
    * `hottest_key` the key contributing the most output rows (ties to
    * the largest key string — deterministic), the number a skew-join
    * salt or AQE threshold decision actually needs.
    *
    * Null keys never join (SQL semantics), so they are excluded — the
    * estimate matches what the real join would produce exactly.
    *
    * Scale shape: two map-side-combined count aggregations, one
    * count-table equi-join, one 1-row rollup. The fact tables shuffle
    * only their 8-byte keys; bodies stay in place.
    */
  def joinCardinality(a: DataFrame, b: DataFrame, keyA: String,
                      keyB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ca = a.where(col(keyA).isNotNull)
      .groupBy(col(keyA).as("__k")).agg(count(lit(1)).as("__na"))
    val cb = b.where(col(keyB).isNotNull)
      .groupBy(col(keyB).as("__k")).agg(count(lit(1)).as("__nb"))
    ca.join(cb, "__k")
      .select(col("__k"), (col("__na").cast(dec) * col("__nb")).as("__p"))
      .agg(sum(col("__p")).as("__sum"), count(lit(1)).as("n_keys_matched"),
        max(struct(col("__p"), col("__k").cast("string").as("k"))).as("__m"))
      .select(
        coalesce(col("__sum"), lit(0).cast(dec)).as("n_pairs"),
        col("n_keys_matched"),
        coalesce(col("__m.__p"), lit(0).cast(dec)).as("max_key_pairs"),
        col("__m.k").as("hottest_key"))
  }

  /** Per-group robust outlier flags via the median-absolute-deviation
    * rule: a row is an outlier when `|value − med| > k·mad`, with `med`
    * the group's lower-median VALUE and `mad` the lower median of the
    * group's absolute deviations — the clipping/fences answer that,
    * unlike z-scores, one wild value cannot drag (both med and mad have
    * a 50% breakdown point; the Hampel filter convention, k ≈ 3).
    * "Lower median" = the element at sorted position `(n+1) div 2` —
    * an ORDER STATISTIC of occurring values (the [[winsorize]]
    * exactness discipline), so both medians, every deviation
    * (one IEEE subtract), and the `k·mad` gate (one IEEE multiply) are
    * bit-reproducible across engines and partitionings.
    *
    * Null/NaN values pass through with a NULL verdict (they have no
    * position in the order statistics and don't shift anyone's rank);
    * rows of a group with no eligible values report null med/mad. A
    * group that is > 50% one value has mad = 0 — every deviation > 0
    * then flags, the documented sharpness of the MAD rule on
    * low-variance data.
    *
    * Scale shape: two group-keyed window passes (values sort within
    * their group's partitions, never globally) each reduced to a
    * #groups-sized median table that joins back on the group key
    * (broadcast when small). For ONE giant group, compose
    * [[exactValueAtRanks]]' bisection twice instead — same statistic,
    * bounded memory, no sort.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k >= 0.0, s"negative k: $k")
    val eligible = col(valueCol).isNotNull && !isnan(col(valueCol))
    val med = lowerMedianBy(
      df.where(eligible).select(col(groupCol).as("__g"), col(valueCol).as("__v")),
      "__g", "__v", "med")
    val withMed = df.join(med, df(groupCol) === med("__g"), "left").drop("__g")
    val mad = lowerMedianBy(
      withMed.where(eligible && col("med").isNotNull)
        .select(col(groupCol).as("__g"),
          abs(col(valueCol) - col("med")).as("__d")),
      "__g", "__d", "mad")
    withMed.join(mad, withMed(groupCol) === mad("__g"), "left").drop("__g")
      .withColumn("is_outlier",
        when(eligible && col("med").isNotNull && col("mad").isNotNull,
          abs(col(valueCol) - col("med")) > lit(k) * col("mad"))
          .otherwise(lit(null).cast("boolean")))
  }

  /** Schema diff between two corpus versions — the metadata rung next
    * to [[graft.functions.Corpus.snapshotDiff]] (row-level) and
    * [[histogramDrift]] (value-level): one row per column that was
    * added, removed, type-changed, or nullability-changed between `a`
    * and `b`, with both sides' types spelled out. Purely driver-side
    * metadata (no job runs); an empty result ⇔ schemas are identical
    * in the compared dimensions. Column order changes are NOT flagged
    * (column identity is by name — the convention of every by-name
    * operator here).
    */
  def schemaDiff(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    // Spark permits duplicate column names (join outputs); a by-name
    // diff over them would silently keep the LAST field per name and
    // could report "identical" across a real conflict — fail loudly
    def dupes(s: org.apache.spark.sql.types.StructType): Seq[String] =
      s.map(_.name).groupBy(identity).collect {
        case (n, occ) if occ.size > 1 => n
      }.toSeq.sorted
    val dup = (dupes(a.schema) ++ dupes(b.schema)).distinct
    require(dup.isEmpty,
      s"schemaDiff needs unique column names; duplicated: ${dup.mkString(", ")}")
    val am = a.schema.map(f => f.name -> f).toMap
    val bm = b.schema.map(f => f.name -> f).toMap
    val rows =
      (am.keySet -- bm.keySet).toSeq.sorted.map { c =>
        Row(c, "removed", am(c).dataType.simpleString, null,
          am(c).nullable.toString, null)
      } ++
      (bm.keySet -- am.keySet).toSeq.sorted.map { c =>
        Row(c, "added", null, bm(c).dataType.simpleString,
          null, bm(c).nullable.toString)
      } ++
      (am.keySet & bm.keySet).toSeq.sorted.flatMap { c =>
        val (fa, fb) = (am(c), bm(c))
        if (fa.dataType != fb.dataType)
          Some(Row(c, "type_changed", fa.dataType.simpleString,
            fb.dataType.simpleString, fa.nullable.toString,
            fb.nullable.toString))
        else if (fa.nullable != fb.nullable)
          Some(Row(c, "nullability_changed", fa.dataType.simpleString,
            fb.dataType.simpleString, fa.nullable.toString,
            fb.nullable.toString))
        else None
      }
    val schema = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("change", StringType, nullable = false),
      StructField("type_a", StringType), StructField("type_b", StringType),
      StructField("nullable_a", StringType), StructField("nullable_b", StringType)))
    a.sparkSession.createDataFrame(
      a.sparkSession.sparkContext.parallelize(rows), schema)
  }

  /** Missingness-pattern census: one row per distinct null-mask over
    * `cols` with its row count — the CO-missingness view [[profile]]'s
    * per-column null counts can't give (three columns each 10% null is
    * a different dataset when they're null TOGETHER: one broken
    * ingestion path vs three independent ones; imputation and row-drop
    * decisions hinge on exactly this). The mask is a string like
    * `"101"` in `cols` order (1 = missing), so patterns read directly
    * against the column list; per-pattern `n` plus each pattern's
    * null-column count `n_null_cols` for quick sorting. NaN counts as
    * missing for float/double columns (consistent with every eligible-
    * value gate in this file).
    *
    * Scale shape: ONE aggregation keyed on the mask (map-side
    * partials; the exchange carries ≤ 2^|cols| distinct masks, a
    * metadata-sized census regardless of row count).
    */
  def missingness(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val isMissing = (c: String) => {
      val dt = df.schema(c).dataType
      val base = col(s"`${c.replace("`", "``")}`")
      val miss = dt match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          base.isNull || isnan(base)
        case _ => base.isNull
      }
      when(miss, lit("1")).otherwise(lit("0"))
    }
    df.select(concat_ws("", cols.map(isMissing): _*).as("pattern"))
      .groupBy(col("pattern")).agg(count(lit(1)).as("n"))
      .withColumn("n_null_cols",
        (length(col("pattern")) -
          length(regexp_replace(col("pattern"), "1", ""))).cast("long"))
  }

  /** SQL fragment: exact floor parts-per-million `num·10⁶ div den`,
    * NULL when `den` is not positive (the degenerate-denominator
    * convention — never a fabricated 0 or 1), with a raise_error guard
    * on the numerator: past |num| ≈ 9.22·10¹² the int64 product
    * `num · 10⁶` would wrap SILENTLY. The repo reasons about 10¹³-row
    * extremes in its docs, so at that scale the report must die
    * loudly, not skew quietly (the `big()` convention). Shared by
    * every floor-ppm emitter (confusion/reliability/stickiness/
    * confidence/TTR/retrieval/vocab-coverage).
    */
  def ppmSql(num: String, den: String): String =
    s"CASE WHEN ($den) > 0 THEN (CASE " +
      s"WHEN ($num) BETWEEN -9223372036854L AND 9223372036854L " +
      s"THEN CAST(($num) AS BIGINT) * 1000000L " +
      s"ELSE CAST(raise_error(concat('ppm int64 overflow: ', " +
      s"CAST(($num) AS STRING))) AS BIGINT) END) div ($den) END"

  /** [[headPass]] + [[resolveRanks]] for ranks that depend on n —
    * callers that need n AND rank values pay ONE scan for the head
    * stats instead of a count job plus [[exactValueAtRanks]]'
    * internal recount. Empty input yields (0, empty) instead of
    * throwing, so callers keep their empty-frame semantics.
    */
  private def valueAtFractionRanks(df: DataFrame, valueCol: String,
                                   ranksOf: Long => Seq[Long])
      : (Long, Map[Long, Double]) = {
    val (vals, n, lo, hi) = headPass(df, valueCol)
    val ranks = ranksOf(n).distinct.filter(r => r >= 0L && r < n).sorted
    if (ranks.isEmpty) (n, Map.empty)
    else (n, resolveRanks(vals, n, lo, hi, ranks, 4096, 1 << 20).toMap)
  }

  /** Order-statistic bucket of the double column `__v`: the number of
    * ~`buckets` exact cuts (the values at ranks `i·n div buckets` of
    * `df`'s `valueCol`) that are ≤ `__v` — the value axis split into
    * near-equal-count buckets with no global sort, the first level of
    * [[avgRank2x]]' and [[ksStatistic]]'s two-level cumsums.
    */
  private def orderStatBucket(df: DataFrame, valueCol: String,
                              buckets: Int): Column = {
    val (_, byRank) = valueAtFractionRanks(df, valueCol,
      m => (1 until buckets).map(i => i * m / buckets))
    val cuts = byRank.keys.toSeq.sorted.map(byRank)
    if (cuts.isEmpty) lit(0)
    else size(filter(array(cuts.map(lit(_)): _*),
      c => c <= col("__v").cast("double")))
  }

  /** Doubled average rank (2·avg-rank stays integer through ties) of
    * every distinct value of `valueCol` within its `groupCols` group
    * (`Nil`: one group, the whole frame), WITHOUT a global or
    * per-group sort: values bucket by ~`buckets` exact order-statistic
    * cuts, the cumsum runs per (group, bucket) over the DISTINCT-value
    * table, and bucket offsets come from a (#groups × ≤buckets)-row
    * broadcast rollup (the packOffsets/calibrateScores two-level
    * decomposition, applied to the value axis). The cuts stay GLOBAL —
    * one shared order-statistic pass; per-group cuts would cost one
    * bisection per group — so under group↔value correlation they can't
    * balance every group's buckets, but each window partition is still
    * bounded by its bucket's distinct values. Grouped use assumes
    * slice-like group cardinality (languages, sources): the offset
    * table must broadcast. Returns (`groupCols`…, `__v`, `outCol`) for
    * join-back on the group and value.
    */
  private def avgRank2x(df: DataFrame, valueCol: String, outCol: String,
                        groupCols: Seq[String] = Nil,
                        buckets: Int = 32): DataFrame = {
    val gs = groupCols.map(col)
    val vals = df.groupBy(gs :+ col(valueCol).as("__v"): _*)
      .agg(count(lit(1)).as("__nv"))
      .withColumn("__bk", orderStatBucket(df, valueCol, buckets))
    val smallerInBucket = coalesce(
      sum(col("__nv")).over(Window.partitionBy(gs :+ col("__bk"): _*)
        .orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    // ≤ #groups × buckets rows: the offset window is metadata-sized
    // (the Compaction band-offset precedent)
    val offs = vals.groupBy(gs :+ col("__bk"): _*)
      .agg(sum(col("__nv")).as("__bt"))
      .select(gs ++ Seq(col("__bk"), coalesce(sum(col("__bt")).over(
        Window.partitionBy(gs: _*).orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__boff")): _*)
    vals.join(broadcast(offs), groupCols :+ "__bk")
      .select(gs ++ Seq(col("__v"),
        // min rank = offset+smaller+1; 2·avg = 2·min + (n_v − 1)
        (lit(2L) * (col("__boff") + smallerInBucket + 1L) +
          col("__nv") - 1L).as(outCol)): _*)
  }

  /** `df` without the rows that have a null in any of `groupCols` —
    * the grouped metrics' contract (a row that can't name its slice
    * can't drift it); `Nil` (SQL's `GROUP BY ()`) keeps every row.
    */
  private def keyed(df: DataFrame, groupCols: Seq[String]): DataFrame =
    groupCols.foldLeft(df)((d, g) => d.where(col(g).isNotNull))

  /** Exact ROC-AUC pieces via the Mann–Whitney rank-sum identity —
    * the one-number ranking quality of a score against a boolean label
    * ("does the quality model actually rank good docs above bad"),
    * computed EXACTLY and without a global sort:
    * `AUC = (Σ 2·r⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻)` where `2·r⁺` are the
    * positives' DOUBLED average ranks over the pooled scores (the
    * [[spearmanPieces]] tie convention — average ranks make ties
    * contribute exactly ½, the standard AUC-with-ties definition).
    * Output is one row of exact integers per group: `n_pos`, `n_neg`,
    * `sum_r2_pos`, and the rational `auc_num / auc_den`
    * (`auc_den = 2·n⁺·n⁻`; 0 ⇔ one class is absent, AUC undefined,
    * the row still reports its counts). Rows with null/NaN score or
    * null label are excluded (pairwise-complete). All products in
    * DECIMAL(38,0) — at 10¹⁰ rows the rank sum (≤ 2n²) overflows
    * int64, never this; oracled callers narrow at the query edge per
    * the no-int128 gate convention.
    *
    * `groupCols` gives one row PER GROUP (language, source, …) with
    * ranks counted within the group, because quality-gate drift is
    * per-slice in practice: a corpus-global AUC of 0.9 can hide a
    * coin-flip score on one language. The group columns lead the
    * output under their own names; rows with a null group are
    * excluded. `Nil` is the global form: one row, honest zero counts
    * on empty input.
    *
    * Scale shape: ONE ranking via [[avgRank2x]]'s two-level
    * decomposition (distinct-value census + per-bucket cumsum + a
    * ≤ #groups × buckets-row offset rollup — no global or per-group
    * sort), a value join-back, one group-keyed aggregation.
    */
  def aucPieces(df: DataFrame, scoreCol: String, labelCol: String,
                groupCols: Seq[String] = Nil): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val gs = groupCols.map(col)
    // base feeds the ranking (head pass + bisection + census) and the
    // final join — snapshot once (the spearmanPieces discipline)
    val basePlan = keyed(df, groupCols)
      .select(gs ++ Seq(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__y")): _*)
      .where(col("__s").isNotNull && !isnan(col("__s")) &&
        col("__y").isNotNull)
    val base = Snapshots.snapshot(basePlan)
    val ranks = avgRank2x(base.select(gs :+ col("__s").as("__v"): _*),
      "__v", "__r2", groupCols)
    val nPosD = col("n_pos").cast(d38)
    // coalesce: an empty eligible set reports honest zeros (den 0 ⇒
    // undefined AUC), not a row of nulls — SUM over nothing is null
    base.join(ranks.withColumnRenamed("__v", "__s"), groupCols :+ "__s")
      .groupBy(gs: _*)
      .agg(
        coalesce(sum(when(col("__y"), 1L).otherwise(0L)), lit(0L))
          .as("n_pos"),
        coalesce(sum(when(col("__y"), 0L).otherwise(1L)), lit(0L))
          .as("n_neg"),
        coalesce(sum(when(col("__y"), col("__r2")).otherwise(lit(0L))
          .cast(d38)), lit(0L).cast(d38)).cast(d38).as("sum_r2_pos"))
      .select(gs ++ Seq(col("n_pos"), col("n_neg"), col("sum_r2_pos"),
        (col("sum_r2_pos") - nPosD * (nPosD + lit(1L).cast(d38)))
          .cast(d38).as("auc_num"),
        (lit(2L).cast(d38) * nPosD * col("n_neg").cast(d38))
          .cast(d38).as("auc_den")): _*)
  }

  /** Binary-gate confusion report — the deployment-side companion to
    * [[aucPieces]] (AUC evaluates the SCORE; this evaluates the
    * thresholded GATE actually shipped): one row of exact counts
    * (tp/fp/tn/fn) per group plus precision/recall/F1 as exact floor
    * parts-per-million — `f1_ppm = 2·tp·10⁶ div (2·tp + fp + fn)`, the
    * algebraic form that needs no intermediate ratio. Degenerate
    * denominators (no predicted positives / no actual positives /
    * nothing at all) yield NULL ppm, never a fabricated 0 or 1 — a
    * gate that predicts nothing positive has UNDEFINED precision, and
    * pretending otherwise hides exactly the failure this report
    * exists to catch. Rows with a null on either side are excluded
    * and reported in `n_excluded`.
    *
    * `groupCols` reports the gate PER GROUP — the form a per-language
    * quality gate is actually monitored in — with the group columns
    * first and null groups excluded; `Nil` gives the one global row.
    *
    * Scale shape: ONE map-only classification pass reduced to a
    * group-keyed aggregate with map-side partials — nothing shuffles
    * but four counters per group.
    */
  def confusionStats(df: DataFrame, predCol: String, labelCol: String,
                     groupCols: Seq[String] = Nil): DataFrame = {
    val p = col(predCol).cast("boolean")
    val y = col(labelCol).cast("boolean")
    val both = p.isNotNull && y.isNotNull
    val gs = groupCols.map(col)
    // coalesce: a fully empty input reports honest zero counts (SUM
    // over nothing is null)
    keyed(df, groupCols).groupBy(gs: _*)
      .agg(
        coalesce(sum(when(both && p && y, 1L).otherwise(0L)), lit(0L))
          .as("tp"),
        coalesce(sum(when(both && p && !y, 1L).otherwise(0L)), lit(0L))
          .as("fp"),
        coalesce(sum(when(both && !p && !y, 1L).otherwise(0L)), lit(0L))
          .as("tn"),
        coalesce(sum(when(both && !p && y, 1L).otherwise(0L)), lit(0L))
          .as("fn"),
        coalesce(sum(when(both, 0L).otherwise(1L)), lit(0L))
          .as("n_excluded"))
      .select(gs ++ Seq(col("tp"), col("fp"), col("tn"), col("fn"),
        col("n_excluded"),
        expr(ppmSql("tp", "tp + fp")).as("precision_ppm"),
        expr(ppmSql("tp", "tp + fn")).as("recall_ppm"),
        expr(ppmSql("2L * tp", "2L * tp + fp + fn")).as("f1_ppm"),
        expr(ppmSql("tp + tn", "tp + fp + tn + fn")).as("accuracy_ppm")): _*)
  }

  /** Calibration reliability table — [[aucPieces]] tells you the score
    * RANKS well; this tells you whether its VALUES mean what they say:
    * scores bucket into `nBins` fixed-width bins over [lo, hi) (edge
    * values clamp to the boundary bins, the [[histogramDrift]]
    * convention), and each bin reports how often the label is actually
    * true — a calibrated score has `frac_pos ≈ bin center`. Exact
    * integer counts, `frac_pos_ppm` the exact floor rational, and the
    * bin's mean score decimal-accumulated (order-free) then emitted as
    * one double divide. Empty bins are emitted with zero counts (a
    * reliability curve with silent holes misreads as calibrated).
    * Null/NaN scores and null labels are excluded.
    *
    * `groupCols` gives the table PER GROUP — "a 0.7 means 70%" must
    * hold per language, not just on the corpus average: the group
    * columns lead, null groups are excluded, and the grid is every
    * (group, bin) cell of the groups with ≥ 1 eligible row (a group
    * whose rows are all excluded has nothing to calibrate). `Nil` emits
    * the full bin grid, even over an empty input.
    *
    * Scale shape: one map-only binning pass + a (group, bin)-keyed
    * aggregation; the grid is the aggregated table's distinct groups ×
    * nBins — metadata-sized (globally, a broadcast nBins-row range).
    */
  def reliabilityDiagram(df: DataFrame, scoreCol: String, labelCol: String,
                         nBins: Int, lo: Double, hi: Double,
                         groupCols: Seq[String] = Nil): DataFrame = {
    require(nBins >= 1, s"need at least one bin: $nBins")
    require(lo < hi, s"need lo < hi: ($lo, $hi)")
    val w = (hi - lo) / nBins
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val gs = groupCols.map(col)
    // |s| < 10¹⁹ gates the DECIMAL(28,9) mean accumulation the same way
    // NaN is gated: a wilder score would clamp into a boundary bin but
    // its decimal cast would null out of the bin's sum while still
    // counting into n — the silent-skew failure the trendStats gate
    // closes; such a score has no meaningful place on a [lo, hi)
    // calibration axis anyway, so the row is excluded outright
    val binned = keyed(df, groupCols)
      .select(gs ++ Seq(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__y")): _*)
      .where(col("__s").isNotNull && !isnan(col("__s")) &&
        abs(col("__s")) < lit(1e19) && col("__y").isNotNull)
      // clamp in DOUBLE space BEFORE floor/cast: a wild-but-gated score
      // (|s| up to 1e19) would overflow any integer cast of the raw
      // floor; least/greatest on the double ratio pins it into
      // [0, nBins-1] first, so floor's long result is always in range
      .select(gs ++ Seq(floor(least(lit((nBins - 1).toDouble), greatest(lit(0.0),
        (col("__s") - lit(lo)) / lit(w)))).as("bin"),
        col("__s"), col("__y")): _*)
      .groupBy(gs :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__s").cast(dec)).as("__ssum"))
    val spark = df.sparkSession
    import spark.implicits._
    val bins = spark.createDataset(0 until nBins).toDF("b")
      .select(col("b").cast("long").as("bin"))
    // GROUP BY () has its one group even over no rows: the full grid
    val grid = if (groupCols.isEmpty) bins
      else binned.select(gs: _*).distinct().crossJoin(bins)
    grid.join(binned, groupCols :+ "bin", "left")
      .select(gs ++ Seq(col("bin"), (lit(lo) + col("bin") * lit(w)).as("lo_edge"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        expr(ppmSql("coalesce(n_pos, 0L)", "n")).as("frac_pos_ppm"),
        (col("__ssum").cast("double") / col("n").cast("double"))
          .as("mean_score")): _*)
  }

  /** Exact Spearman rank-correlation pieces between two numeric
    * columns — the continuous companion to [[contingency]]'s
    * categorical dependence audit (with `x = epoch time` it reads as a
    * Mann–Kendall-style monotone-drift measure). Ranks use the classic
    * average-rank-over-ties convention, carried as DOUBLED ranks so
    * ties never create a fraction; the output is one row of exact
    * integers: `n`, `sum_d2_4x` = Σ(2rₐ − 2r_b)², and the rho rational
    * `rho_num / rho_den` with `rho_den = 2n(n²−1)` and
    * `rho_num = rho_den − 3·sum_d2_4x` (the Σd² formula — the common
    * practical variant; Pearson-on-ranks tie correction is the
    * caller's refinement if they need it). Rows where either column is
    * null/NaN are excluded first (pairwise-complete), so both rankings
    * run over the same row set.
    *
    * Scale shape: each ranking is [[avgRank2x]]'s two-level
    * decomposition — a distinct-value census, per-bucket cumsum
    * windows, a ≤buckets-row offset rollup — never a global sort; the
    * rank tables join back on the value and one 1-row aggregation
    * finishes. At 10¹⁰ rows the n³ term still fits DECIMAL(38,0).
    */
  def spearmanPieces(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // base feeds two rankings (each: head pass + bisection passes +
    // distinct-value census) and the final join — snapshot it once so
    // none of those jobs replays the caller's upstream (the
    // tokenShiftTopK/associationPairs discipline)
    val basePlan = df.select(col(aCol).cast("double").as("__a"),
        col(bCol).cast("double").as("__b"))
      .where(col("__a").isNotNull && !isnan(col("__a")) &&
        col("__b").isNotNull && !isnan(col("__b")))
    val base = Snapshots.snapshot(basePlan)
    val ra = avgRank2x(base.select(col("__a").as("__v")), "__v", "__r2a")
    val rb = avgRank2x(base.select(col("__b").as("__v")), "__v", "__r2b")
    // every multiplication happens in DECIMAL(38,0): at fleet scale
    // n² and a squared doubled-rank difference (up to 4n²) both
    // overflow Long — the oracle's HUGEINT products would then diverge
    // from silently wrapped 64-bit math
    val d = (col("__r2a") - col("__r2b")).cast(d38)
    val nD = col("n").cast(d38)
    base
      .join(ra.withColumnRenamed("__v", "__a"), Seq("__a"))
      .join(rb.withColumnRenamed("__v", "__b"), Seq("__b"))
      .agg(count(lit(1)).as("n"),
        sum(d * d).cast(d38).as("sum_d2_4x"))
      .select(col("n"), col("sum_d2_4x"),
        (lit(2L).cast(d38) * nD * (nD * nD - lit(1L).cast(d38)) -
          lit(3L).cast(d38) * col("sum_d2_4x")).cast(d38).as("rho_num"),
        (lit(2L).cast(d38) * nD * (nD * nD - lit(1L).cast(d38)))
          .cast(d38).as("rho_den"))
  }

  /** Column-dependence census over two categorical columns — the
    * contingency table with an EXACT dependence score per cell:
    * `dep = |n_ab·N − n_a·n_b|`, the common-denominator numerator of
    * `|P(a,b) − P(a)·P(b)|` (the [[graft.functions.Corpus.tokenShiftTopK]]
    * / pmiTopK discipline: a DECIMAL(38,0) cross product instead of a
    * float ratio, so the ranking is engine- and order-exact). The
    * feature-leakage audit: a (feature, label) or (split, source) pair
    * whose cells score high is dependent — e.g. a train/test split
    * correlated with a quality column means the eval set isn't
    * exchangeable. Independent columns score every cell near 0. Null
    * rows are excluded (SQL joins couldn't carry a null category
    * consistently, and joinCardinality set the "nulls never join"
    * convention).
    *
    * Scale shape: the [[cellCensus]] (one (a, b)-keyed count with
    * map-side partials, two #cells-sized marginal rollups of it) and a
    * 1-row total broadcast — the fact table is scanned once and
    * shuffles only its two-column projection.
    */
  def contingency(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val (cells, ra, cb, tot) = cellCensus(df, aCol, bCol)
    cells.join(ra, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(broadcast(tot))
      .select(col("__a").as(aCol), col("__b").as(bCol), col("__o").as("n_ab"),
        col("__ra").cast("long").as("n_a"),
        col("__cb").cast("long").as("n_b"),
        col("__n").cast("long").as("n_total"),
        abs(col("__o").cast(d38) * col("__n").cast(d38) -
          col("__ra").cast(d38) * col("__cb").cast(d38)).cast(d38).as("dep"))
  }

  /** The categorical census [[contingency]], [[cramersV]] and
    * [[categoricalMI]] share, as `(cells, rows, columns, total)`: the
    * (`__a`, `__b`)-keyed cell counts `__o` over the rows where both
    * columns are non-null (map-side combined — the fact table is
    * scanned once and shuffles only its two-column projection), the
    * row and column marginals (`__a`, `__ra`, `__b1`) and (`__b`,
    * `__cb`, `__a1`) rolled up from the CELL table, never the fact
    * table again, and the 1-row total `__n`. `__b1`/`__a1` name each
    * marginal row's first cell, so a pass over the cells can count the
    * marginal rows without a distinct aggregate.
    */
  private def cellCensus(df: DataFrame, aCol: String, bCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cells = df.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__o"))
    (cells,
      cells.groupBy(col("__a"))
        .agg(sum(col("__o")).as("__ra"), min(col("__b")).as("__b1")),
      cells.groupBy(col("__b"))
        .agg(sum(col("__o")).as("__cb"), min(col("__a")).as("__a1")),
      cells.agg(sum(col("__o")).as("__n")))
  }

  /** Equal-frequency bucketing (quantile discretization): each row gets
    * the bucket index of its value among `nBuckets − 1` cut points
    * computed as EXACT order statistics — `cut_i` = the value at
    * 0-based sorted rank `(i·n) div nBuckets` — so the feature a model
    * trains on is reproducible bit-for-bit across engines and runs
    * (the [[winsorize]] exactness discipline). `bucket(v)` = number of
    * cuts ≤ v, in [0, nBuckets − 1]; heavy repeated values make buckets
    * legitimately unequal (counts, not interpolation, decide). Null/NaN
    * values get a null bucket and shift no ranks.
    *
    * Scale shape: the cuts resolve via [[exactValueAtRanks]]' bisection
    * (a few counting passes, NO global sort — the single-reducer
    * `ntile()` window this op replaces is exactly what doesn't survive
    * 100 TB), then assignment is a map-only projection against the
    * ≤ nBuckets-sized cut literal.
    */
  def quantileBucket(df: DataFrame, valueCol: String, nBuckets: Int,
                     outCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val eligible = col(valueCol).isNotNull && !isnan(col(valueCol))
    // one head pass covers the count AND seeds the bisection
    val (n, byRank) = valueAtFractionRanks(df, valueCol,
      m => (1 until nBuckets).map(i => i * m / nBuckets))
    require(n > 0, s"no non-null values in $valueCol")
    // one cut per DISTINCT rank (equal-VALUE cuts from different ranks
    // stay — the bucket index then honestly skips past the heavy value)
    val cuts = byRank.keys.toSeq.sorted.map(byRank)
    val cutsArr = array(cuts.map(lit(_)): _*)
    df.withColumn(outCol,
      when(eligible,
        size(filter(cutsArr, c => c <= col(valueCol).cast("double")))
          .cast("long"))
        .otherwise(lit(null).cast("long")))
  }

  /** Per-group equal-frequency bucketing — [[quantileBucket]] with the
    * cut points computed INDEPENDENTLY per group (per-language
    * perplexity terciles, per-source score deciles: one global cut
    * grid is wrong the moment the groups have different scales — the
    * CCNet head/middle/tail split is exactly this op at nBuckets = 3).
    * Same discrete convention as the global form: within each group,
    * `cut_i` = the value at 1-based sorted rank `(i·n) div nBuckets
    * + 1`, one cut per DISTINCT rank (equal-VALUE cuts from different
    * ranks stay — the bucket index then honestly skips past the heavy
    * value), `bucket(v)` = number of cuts ≤ v in [0, nBuckets − 1].
    * Null/NaN values get a null bucket and shift no ranks; rows of a
    * group with NO eligible values get a null bucket; a null GROUP is
    * its own group (SQL grouping semantics).
    *
    * Scale shape ([[winsorizeByGroup]]'s): the cuts come from ONE
    * group-keyed window pass (values sort within their group's
    * partitions, never globally) reduced to a #groups-sized cut-array
    * table joined back on the group key (broadcast when small);
    * assignment is a map-only filter against the ≤ (nBuckets−1)-long
    * per-group array. Right when groups are many and individually
    * bounded; for ONE giant group, [[quantileBucket]]'s bisection does
    * the same job with no sort at all.
    */
  def quantileBucketByGroup(df: DataFrame, valueCol: String,
                            groupCol: String, nBuckets: Int,
                            outCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val v = col(valueCol).cast("double")
    val eligible = col(valueCol).isNotNull && !isnan(v)
    val ranked = rankWithin(df.where(eligible)
      .select(col(groupCol).as("__g"), v.as("__x")), "__g", "__x")
    // 1-based cut ranks, deduped per group (n < nBuckets collapses
    // neighbouring ranks — fewer, not duplicated, cuts)
    val rankSet = array_distinct(array((1 until nBuckets).map(i =>
      expr(s"($i * __n) div $nBuckets + 1").cast("long")): _*))
    val cuts = ranked
      .where(array_contains(rankSet, col("__rn").cast("long")))
      .groupBy(col("__g"))
      .agg(sort_array(collect_list(col("__x"))).as("__cuts"))
    df.join(cuts, df(groupCol) <=> cuts("__g"), "left")
      .withColumn(outCol,
        when(eligible && col("__cuts").isNotNull,
          size(filter(col("__cuts"), c => c <= v)).cast("long"))
          .otherwise(lit(null).cast("long")))
      .drop("__g", "__cuts")
  }

  /** `in` + `__rn`, the 1-based position of `v` in ascending order
    * within its `g` group, and `__n`, the group's row count — the one
    * group-keyed window pass (values sort within their group's
    * partitions, never globally) behind every per-group order
    * statistic here. Ties among equal values may take either position,
    * but the VALUE at a position is deterministic whatever the tie
    * order.
    */
  private def rankWithin(in: DataFrame, g: String, v: String): DataFrame =
    in.withColumn("__rn", row_number().over(
        Window.partitionBy(col(g)).orderBy(col(v))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(g))))

  /** Per-group lower-median (element at sorted position `(n+1) div 2`)
    * — the exact order statistic [[madOutliers]] and [[imputeByGroup]]
    * share: one [[rankWithin]] pass reduced to a #groups-sized table.
    */
  private def lowerMedianBy(in: DataFrame, g: String, v: String,
                            out: String): DataFrame =
    rankWithin(in, g, v)
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col(g), col(v).as(out))

  /** Per-group null/NaN imputation — fill each ineligible value with
    * its group's exact statistic: `median` (lower-median order
    * statistic — robust, always an occurring value) or `mode` (most
    * frequent value, ties to the smallest — the categorical-ish
    * choice). Adds `outCol` (the filled value) and `outCol_was_filled`;
    * rows of a group with NO eligible values stay null with the flag
    * false (inventing a value across groups would be a silent lie —
    * the flag tells the consumer which rows still need a strategy).
    *
    * Scale shape: one group-keyed pass (ranked window for median, a
    * (group, value) count + per-group top-1 for mode) reduced to a
    * #groups-sized fill table joined back on the group key (broadcast
    * when small). The [[winsorizeByGroup]] caveat applies: for ONE
    * giant group use [[exactValueAtRanks]]' bisection instead.
    */
  def imputeByGroup(df: DataFrame, valueCol: String, groupCol: String,
                    strategy: String = "median",
                    outCol: String = "imputed"): DataFrame = {
    require(strategy == "median" || strategy == "mode",
      s"unknown strategy: $strategy (median|mode)")
    val w = org.apache.spark.sql.expressions.Window
    val eligible = col(valueCol).isNotNull && !isnan(col(valueCol))
    val fills =
      if (strategy == "median")
        lowerMedianBy(
          df.where(eligible)
            .select(col(groupCol).as("__g"), col(valueCol).as("__v")),
          "__g", "__v", "__fill")
      else
        df.where(eligible)
          .groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__rn", row_number().over(
            w.partitionBy(col("__g")).orderBy(col("__c").desc, col("__v").asc)))
          .where(col("__rn") === 1)
          .select(col("__g"), col("__v").as("__fill"))
    df.join(fills, df(groupCol) === fills("__g"), "left").drop("__g")
      .withColumn(outCol,
        when(eligible, col(valueCol)).otherwise(col("__fill")))
      .withColumn(s"${outCol}_was_filled",
        !eligible && col("__fill").isNotNull)
      .drop("__fill")
  }

  /** k-anonymity audit over quasi-identifier columns — the re-
    * identification pre-flight for a corpus about to be shared or
    * trained on: every QI combination shared by FEWER than `k` rows is
    * a group whose members a joiner could single out. Returns one row
    * per at-risk group (its QI values + `group_n`), each row also
    * carrying the dataset-level verdict as constant columns (the
    * kCore-flag convention — the audit's summary travels IN the
    * result, not in a side channel): `n_rows`/`n_groups` over the
    * whole census and `anonymity_k` = the SMALLEST group size, i.e.
    * the k for which the dataset actually IS k-anonymous. An empty
    * result ⇔ the data is k-anonymous at the requested k.
    *
    * Null QI values form their own groups (SQL grouping semantics) —
    * a null birthdate shared by 3 rows is exactly as linkable as any
    * other 3-row combination.
    *
    * Scale shape: ONE census aggregation over the QI key (map-side
    * partials; the exchange carries QI tuples + counts, never rows),
    * a 1-row summary aggregate over the census, and the risky filter
    * on the same census — the fact table shuffles nothing but its QI
    * projection.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2: $k")
    val census = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
    val summary = census.agg(
      sum(col("group_n")).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("group_n")).as("anonymity_k"))
    census.where(col("group_n") < k)
      .crossJoin(broadcast(summary))
  }

  /** Per-group winsorization — [[winsorize]] with the cut points
    * computed INDEPENDENTLY per group (per-language length clipping,
    * per-source score clipping: one global cut is wrong the moment the
    * groups have different scales). Same discrete `ceil(p·n)` order-
    * statistic convention, same element-selection exactness.
    *
    * Scale shape differs from the global form: the cuts come from ONE
    * group-keyed window pass (rank + per-group count inside the same
    * sorted window — values sort within their group's partitions, never
    * globally) producing a #groups-sized cut table that joins back on
    * the group key (map-side after the aggregation, broadcast when
    * small). Right when groups are many and individually bounded; for
    * ONE giant group, [[winsorize]]'s bisection does the same job with
    * bounded memory and no sort at all.
    *
    * Null/NaN VALUES pass through unclamped (flag false) and don't
    * shift ranks; rows of a group with no clampable values pass
    * through; a null GROUP is its own group (SQL grouping semantics).
    */
  def winsorizeByGroup(df: DataFrame, valueCol: String, groupCol: String,
                       pLow: Double, pHigh: Double,
                       outCol: String = "winsorized"): DataFrame = {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1: ($pLow, $pHigh)")
    val v = col(valueCol).cast("double")
    val ranked = rankWithin(df.select(col(groupCol).as("__g"), v.as("__x"))
      .where(col("__x").isNotNull && !isnan(col("__x"))), "__g", "__x")
    def rank1(p: Double): Column =
      least(col("__n"), greatest(lit(1L), ceil(lit(p) * col("__n")).cast("long")))
    val cuts = ranked
      .groupBy(col("__g"))
      .agg(max(when(col("__rn") === rank1(pLow), col("__x"))).as("__lo"),
        max(when(col("__rn") === rank1(pHigh), col("__x"))).as("__hi"))
    val clamped = greatest(col("__lo"), least(col("__hi"), v))
    df.join(cuts, df(groupCol) <=> cuts("__g"), "left")
      .withColumn(outCol,
        when(v.isNull || isnan(v) || col("__lo").isNull, v).otherwise(clamped))
      .withColumn(s"${outCol}_clipped",
        when(v.isNull || isnan(v) || col("__lo").isNull, lit(false))
          .otherwise(v =!= col(outCol)))
      .drop("__g", "__lo", "__hi")
  }

  /** Distribution drift between two corpus versions, as exact integers —
    * "did the new crawl shift?" at the level `snapshotDiff` (row
    * identity) and `profile` (single-corpus moments) can't see. Both
    * sides histogram over the SAME fixed reference binning (explicit
    * [lo, hi) × nBins — fixed edges are the production convention:
    * yesterday's report stays comparable when today's outliers move),
    * values outside the range clamp into the edge bins.
    *
    * Per bin: (bin, lo_edge, n_a, n_b, l1_num, n_a_tot, n_b_tot) where
    * `l1_num = |n_a·n_b_tot − n_b·n_a_tot|` in DECIMAL — the numerator
    * of |p_a − p_b| over the common denominator n_a_tot·n_b_tot, so the
    * L1 drift (and any PSI-style score) is a consumer-side exact
    * rational; no log, no float ratio in the output (the
    * [[graft.functions.Corpus.pmiTopK]] discipline). Empty bins appear
    * with zero counts — a bin present in A and absent in B is exactly
    * the signal.
    *
    * `groupCols` detects the shift PER GROUP (language, source, domain
    * bucket): drift is per-slice in practice, and a global histogram
    * can read flat while one language's distribution walks away. The
    * group columns lead, the totals are each GROUP's own, null groups
    * are excluded, and the grid is (groups observed on either side) ×
    * (all bins); `Nil` emits the full bin grid, even over empty inputs.
    * The streaming dual is [[graft.streaming.MicroBatch.streamingDrift]]
    * with side A frozen.
    *
    * Scale shape: two (group, bin)-keyed aggregations with map-side
    * partials (exchanges carry ≤ groups·nBins rows), one grid join and
    * a groups-sized totals join (globally, a broadcast 1-row total) —
    * corpus size never shuffles.
    */
  def histogramDrift(a: DataFrame, b: DataFrame, valueCol: String,
                     nBins: Int, lo: Double, hi: Double,
                     groupCols: Seq[String] = Nil): DataFrame = {
    require(nBins >= 1, s"need at least one bin: $nBins")
    require(lo < hi, s"need lo < hi: ($lo, $hi)")
    val w = (hi - lo) / nBins
    val gs = groupCols.map(col)
    def binned(df: DataFrame, out: String): DataFrame =
      keyed(df, groupCols)
        .select(gs :+ col(valueCol).cast("double").as("__x"): _*)
        .where(col("__x").isNotNull && !isnan(col("__x")))
        .select(gs :+ least(lit(nBins - 1), greatest(lit(0),
          floor((col("__x") - lit(lo)) / lit(w)).cast("int"))).as("bin"): _*)
        .groupBy(gs :+ col("bin"): _*).agg(count(lit(1)).as(out))
    val spark = a.sparkSession
    import spark.implicits._
    val ga = binned(a, "n_a")
    val gb = binned(b, "n_b")
    val bins = spark.createDataset(0 until nBins).toDF("bin")
    // GROUP BY () has its one group even over no rows: the full grid
    val grid = if (groupCols.isEmpty) bins
      else ga.select(gs: _*).unionByName(gb.select(gs: _*)).distinct()
        .crossJoin(bins)
    val joined = grid
      .join(ga, groupCols :+ "bin", "left")
      .join(gb, groupCols :+ "bin", "left")
      .select(gs ++ Seq(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b")): _*)
    val totals = joined.groupBy(gs: _*).agg(sum(col("n_a")).as("n_a_tot"),
      sum(col("n_b")).as("n_b_tot"))
    val withTotals = if (groupCols.isEmpty) joined.crossJoin(broadcast(totals))
      else joined.join(totals, groupCols)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    withTotals
      .select(gs ++ Seq(col("bin"), (lit(lo) + col("bin") * lit(w)).as("lo_edge"),
        col("n_a"), col("n_b"),
        abs(col("n_a").cast(dec) * col("n_b_tot") -
          col("n_b").cast(dec) * col("n_a_tot")).as("l1_num"),
        col("n_a_tot"), col("n_b_tot")): _*)
  }

  /** Winsorization: clamp a numeric column to its [pLow, pHigh]
    * DISCRETE quantile cuts — the standard heavy-tail guard before any
    * mean/variance-based scoring (a single corrupt 1e308 length can
    * poison a z-scored quality signal; clipping at the 1st/99th
    * percentile bounds the damage without dropping rows).
    *
    * Cuts are ORDER STATISTICS of the data (rank `ceil(p·n)`, 1-based,
    * over the non-null non-NaN values — the lower discrete-quantile
    * convention), found exactly by [[exactValueAtRanks]]' histogram
    * bisection: every cut is a value that occurs in the column, and the
    * clamp is pure element selection (greatest/least) — no arithmetic
    * on the values, so output doubles are bit-identical on any engine.
    *
    * Scale shape: a handful of driver-coordinated counting passes to
    * resolve two ranks (each a full-scan aggregate with bounded driver
    * state — never a global sort), then ONE map-only clamp pass with
    * the cuts as literals. Nulls/NaNs pass through unclamped.
    *
    * @return `df` + `outCol` (the clamped value) + `outCol_clipped`
    */
  def winsorize(df: DataFrame, valueCol: String, pLow: Double,
                pHigh: Double, outCol: String = "winsorized"): DataFrame = {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1: ($pLow, $pHigh)")
    // one head pass seeds both the rank arithmetic and the bisection
    // (the valueAtFractionRanks sharing — no separate count scan)
    def rank0(n: Long)(p: Double): Long =
      math.min(n - 1, math.max(0L, math.ceil(p * n).toLong - 1L))
    val (n, cuts) = valueAtFractionRanks(df, valueCol,
      m => Seq(rank0(m)(pLow), rank0(m)(pHigh)))
    require(n > 0, s"no non-null values in $valueCol")
    val (loCut, hiCut) = (cuts(rank0(n)(pLow)), cuts(rank0(n)(pHigh)))
    val v = col(valueCol).cast("double")
    val clamped = greatest(lit(loCut), least(lit(hiCut), v))
    df.withColumn(outCol,
        when(v.isNull || isnan(v), v).otherwise(clamped))
      .withColumn(s"${outCol}_clipped",
        when(v.isNull || isnan(v), lit(false)).otherwise(v =!= col(outCol)))
  }

  /** Fleiss' κ per group — chance-corrected agreement for PANELS
    * (Fleiss 1971): the n ≥ 2 raters are interchangeable and enter as
    * per-item label counts c_ij, the shape a 3-way or 5-way annotation
    * batch actually lands in. Input is LONG format: one row per (item,
    * assignment); rater identity never matters. Exact integer core —
    * with A = Σᵢⱼ c²ᵢⱼ, B = N·n, C = Σⱼ m²ⱼ (label marginals), D = B²:
    *
    *   κ = (D·(A−B) − B·(n−1)·C) / (B·(n−1)·(D−C))
    *
    * (the textbook (P̄−P̄ₑ)/(1−P̄ₑ) over the common denominator), all
    * products in DECIMAL(38,0) so nothing rounds before the ONE double
    * division — bit-exact cross-engine, the [[cohenKappaByGroup]]
    * discipline at panel scale. κ is null when D = C (all mass on one
    * label: chance agreement is total).
    *
    * Fleiss is UNDEFINED over ragged panels: a group whose items carry
    * different assignment counts fails loudly (filter incomplete items
    * upstream — silently averaging mixed n misstates P̄ₑ), as does a
    * single-rater group (n−1 = 0). Null labels are excluded BEFORE the
    * completeness check, so a null shows up as raggedness, not as a
    * label class — INCLUDING an item whose labels are ALL null: it
    * keeps its seat in the item census with assignment count 0 and
    * trips the same ragged refusal (it must not silently vanish from
    * n_items, and it must not count as a labeled item either).
    *
    * Shuffle profile: one (group, item, label) cell aggregation with
    * map-side partials, then everything is item- or label-space sized
    * (two rollups, one group join). Bodies never shuffle.
    *
    * @return (groupCol, n_items, n_raters, kappa); a NULL group key
    *         drops with the equi-join (coalesce upstream if ungrouped
    *         rows must score)
    */
  def fleissKappaByGroup(df: DataFrame, groupCol: String, itemCol: String,
                         labelCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = col(groupCol)
    // null-label assignments form their own cell so a fully-unlabeled
    // item still reaches the item census (with __n = 0 → raggedness),
    // but they never contribute to counts or marginals
    val allCells = df
      .groupBy(g, col(itemCol).as("__it"), col(labelCol).as("__lb"))
      .agg(count(lit(1)).as("__c"))
    val cells = allCells.where(col("__lb").isNotNull)
    val items = allCells.groupBy(g, col("__it"))
      .agg(sum(when(col("__lb").isNotNull, col("__c")).otherwise(0L))
          .as("__n"),
        sum(when(col("__lb").isNotNull, col("__c") * col("__c"))
          .otherwise(0L)).as("__ai"))
    val perG = items.groupBy(g).agg(
      count(lit(1)).as("__N"),
      min(col("__n")).as("__nmin"), max(col("__n")).as("__nmax"),
      sum(col("__ai")).as("__A"))
    val cG = cells.groupBy(g, col("__lb")).agg(sum(col("__c")).as("__m"))
      .groupBy(g).agg(sum(col("__m").cast(d38) * col("__m").cast(d38))
        .as("__C"))
    val n = when(col("__nmin") =!= col("__nmax"),
        raise_error(concat(lit("fleissKappaByGroup: ragged panel in " +
          "group "), g.cast("string"),
          lit(" (item assignment counts span "),
          col("__nmin").cast("string"), lit(".."),
          col("__nmax").cast("string"),
          lit(") — Fleiss' kappa is undefined over mixed n; filter " +
            "incomplete items first"))))
      .when(col("__nmin") < 2L,
        raise_error(concat(lit("fleissKappaByGroup: group "),
          g.cast("string"),
          lit(" has single-rater items — kappa needs n >= 2"))))
      .otherwise(col("__nmin"))
    perG.join(cG, Seq(groupCol))
      .withColumn("__nr", n)
      .select(g, col("__N").cast("long").as("n_items"),
        col("__nr").cast("long").as("n_raters"),
        round({
          val b = (col("__N") * col("__nr")).cast(d38)
          val d = b * b
          val num = d * (col("__A") - col("__N") * col("__nr")).cast(d38) -
            b * (col("__nr") - lit(1L)).cast(d38) * col("__C")
          val den = b * (col("__nr") - lit(1L)).cast(d38) * (d - col("__C"))
          num.cast("double") / nullif(den.cast("double"), lit(0.0))
        }, 9).as("kappa"))
  }

  /** Cohen's κ per group — the inter-annotator agreement statistic a
    * labeling pipeline's QA loop runs per language / task / batch
    * (κ = chance-corrected agreement between two raters; Cohen 1960).
    * Exact integer core, no probability-space accumulation:
    *
    *   κ = (n·o − e) / (n² − e)
    *
    * with n = labeled pairs, o = agreements, e = Σ_k n1ₖ·n2ₖ (the
    * expected-agreement mass from the two raters' marginals). The one
    * double division happens LAST on exact integral inputs (n ≤ 2²⁶
    * keeps every product < 2⁵³ — beyond that the factors are still
    * pinned), so a SQL oracle reproduces κ bit-for-bit. Rows where
    * either label is null are excluded (unlabeled ≠ a label class —
    * the [[contingency]] convention). κ is null when n² = e (both
    * raters constant and equal: chance agreement is total, the
    * statistic is undefined) and null for groups with n = 0.
    *
    * Shuffle profile: one (group, l1, l2) cell aggregation with
    * map-side partials, two marginal rollups of the CELL table (≤
    * #groups·#labels rows, never the data again), one (group, label)
    * equi-join of the marginals, two group-keyed rollups. Bodies never
    * shuffle; everything after the first aggregation is label-space
    * sized.
    *
    * @return (groupCol, n, n_agree, kappa) — one row per group with ≥ 1
    *         labeled pair; a NULL group key drops with the equi-joins
    *         (coalesce the key upstream if ungrouped rows must score)
    */
  def cohenKappaByGroup(df: DataFrame, groupCol: String, r1Col: String,
                        r2Col: String): DataFrame = {
    val g = col(groupCol)
    val cells = df
      .where(col(r1Col).isNotNull && col(r2Col).isNotNull)
      .groupBy(g, col(r1Col).as("__l1"), col(r2Col).as("__l2"))
      .agg(count(lit(1)).as("__c"))
    val base = cells.groupBy(g).agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__l1") === col("__l2"), col("__c")).otherwise(0L))
        .as("__o"))
    val m1 = cells.groupBy(g, col("__l1").as("__l"))
      .agg(sum(col("__c")).as("__n1"))
    val m2 = cells.groupBy(g, col("__l2").as("__l"))
      .agg(sum(col("__c")).as("__n2"))
    val e = m1.join(m2, Seq(groupCol, "__l"))
      .groupBy(g).agg(sum(col("__n1") * col("__n2")).as("__e"))
    base.join(e, Seq(groupCol))
      .select(g, col("__n").cast("long").as("n"),
        col("__o").cast("long").as("n_agree"),
        round(
          (col("__n").cast("double") * col("__o").cast("double")
            - col("__e").cast("double")) /
          nullif(col("__n").cast("double") * col("__n").cast("double")
            - col("__e").cast("double"), lit(0.0)), 9).as("kappa"))
  }

  /** Expected calibration error — the one-number close of
    * [[reliabilityDiagram]] (Naeini et al. 2015): over non-empty bins,
    * `ECE = Σ n_b·|acc_b − conf_b| / N` with `acc = n_pos/n` and
    * `conf = mean_score`. The scalar a quality-gate dashboard alerts
    * on where the diagram is the drill-down. Same binning, same
    * exclusions, same DECIMAL(28,9) score sums as the diagram; the
    * per-bin term is pinned-order doubles over exact pieces and the
    * bin sum accumulates in DECIMAL(30,15) (order-free across the
    * ≤nBins rows). Scale shape: the diagram's map-only pass + a
    * ≤nBins-row close.
    *
    * @return one row: (n, n_bins_used, ece)
    */
  def expectedCalibrationError(df: DataFrame, scoreCol: String,
                               labelCol: String, nBins: Int,
                               lo: Double, hi: Double): DataFrame = {
    val rel = reliabilityDiagram(df, scoreCol, labelCol, nBins, lo, hi)
      .where(col("n") > 0)
    val term = col("n").cast("double") *
      abs(col("n_pos").cast("double") / col("n").cast("double") -
        col("mean_score"))
    rel.agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins_used"),
        sum(term.cast(org.apache.spark.sql.types.DecimalType(30, 15)))
          .cast("double").as("__num"))
      .select(col("n"), col("n_bins_used"),
        round(col("__num") / col("n").cast("double"), 9).as("ece"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the
    * `valueCol` distributions of `groupA` and `groupB`:
    * `D = max_v |F_A(v) − F_B(v)|`, emitted as the exact integer
    * rational `d_num/d_den = max|n_b·cumA(v) − n_a·cumB(v)| / n_a·n_b`
    * plus the one correctly-rounded double division — the
    * distribution-shift test that catches what a mean/variance drift
    * check can't (shape changes at equal moments).
    *
    * No global sort: distinct values bucket by exact order-statistic
    * cuts over the combined sample, both cumulative counts run per
    * bucket with a ≤buckets-row offset rollup (the avgRank2x two-level
    * decomposition with two cumsums). Exactness bound: the cross
    * products stay in LONG, exact while n_a·n_b < 2⁶³ (and the double
    * D is one division of integers — correctly rounded anywhere).
    * A group with zero rows yields a null D (0/0), not a crash; with
    * no eligible row in either group there is no row at all.
    *
    * @return one row: (n_a, n_b, d_num, d_den, d)
    */
  def ksStatistic(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String,
                  buckets: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val base = df.select(col(valueCol).cast("double").as("__v"),
        col(groupCol).cast("string").as("__g"))
      .where(col("__v").isNotNull && !isnan(col("__v")) &&
        (col("__g") === groupA || col("__g") === groupB))
    val vals = base.groupBy(col("__v"))
      .agg(sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("__cb"))
    val bv = vals.withColumn("__bk", orderStatBucket(base, "__v", buckets))
    def cum(c: String) = sum(col(c)).over(w.partitionBy(col("__bk"))
      .orderBy(col("__v")).rowsBetween(w.unboundedPreceding, 0))
    def off(c: String) = coalesce(sum(col(c)).over(
      w.orderBy(col("__bk")).rowsBetween(w.unboundedPreceding, -1)), lit(0L))
    val offs = bv.groupBy(col("__bk"))
      .agg(sum(col("__ca")).as("__ba"), sum(col("__cb")).as("__bb"))
      .select(col("__bk"), off("__ba").as("__offa"), off("__bb").as("__offb"))
    val tot = bv.agg(sum(col("__ca")).as("__n1"), sum(col("__cb")).as("__n2"))
    bv.join(broadcast(offs), Seq("__bk"))
      .select((col("__offa") + cum("__ca")).as("__fa"),
        (col("__offb") + cum("__cb")).as("__fb"))
      .crossJoin(broadcast(tot))
      .groupBy(col("__n1").as("n_a"), col("__n2").as("n_b"))
      .agg(max(abs(col("__n2") * col("__fa") - col("__n1") * col("__fb")))
        .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("n_a") * col("n_b")).as("d_den"),
        round(col("d_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 9)
          .as("d"))
  }

  /** Cramér's V association strength between two categorical columns —
    * the [0,1]-normalized close of the [[contingency]] table (Cramér
    * 1946): `V = sqrt((χ²/n) / min(r−1, c−1))`. The column-dependence
    * summary that decides whether a stratification key is redundant
    * (V ≈ 1: the two keys stratify identically; V ≈ 0: independent).
    *
    * χ² over the FULL r×c grid without materializing zero cells: an
    * unobserved cell contributes exactly its expectation `e`, and
    * Σ_grid e = n, so `χ² = Σ_observed[(o−e)²/e − e] + n` — observed
    * cells only, the sparse-grid identity. Counts are exact integers;
    * each cell term is pinned-order doubles (`e = r·c/n` one divide),
    * terms accumulate in DECIMAL(30,15), and sqrt is IEEE
    * correctly-rounded. Null categories are excluded (a row that can't
    * name its cell can't associate). 1×k tables have min(r−1,c−1) = 0:
    * V reads NULL by the nullif convention.
    *
    * Scale shape: the [[cellCensus]], its two marginal rollups
    * broadcast back, a scalar close that also counts r and c. Nothing
    * corpus-sized shuffles twice.
    *
    * @return one row: (n, r, c, chi2, cramers_v); no row when no input
    *         row names both categories
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (cells, ra, cb, tot) = cellCensus(df, aCol, bCol)
    val e = (col("__ra").cast("double") * col("__cb").cast("double")) /
      col("__n").cast("double")
    val term = ((col("__o").cast("double") - e) *
      (col("__o").cast("double") - e)) / e - e
    val chi2 = cells
      .join(broadcast(ra), Seq("__a")).join(broadcast(cb), Seq("__b"))
      .crossJoin(broadcast(tot))
      .groupBy(col("__n"))
      .agg(sum(term.cast(org.apache.spark.sql.types.DecimalType(30, 15)))
          .cast("double").as("__t"),
        // r and c are the marginal tables' row counts, each row counted
        // at its first cell — no distinct aggregate, so no Expand
        count(when(col("__b") === col("__b1"), 1)).as("r"),
        count(when(col("__a") === col("__a1"), 1)).as("c"))
      .select(col("__n").as("n"), col("r"), col("c"),
        (col("__t") + col("__n").cast("double")).as("__chi2"))
    chi2.select(col("n"), col("r"), col("c"),
      round(col("__chi2"), 9).as("chi2"),
      round(sqrt((col("__chi2") / col("n").cast("double")) /
        nullif(least(col("r") - 1L, col("c") - 1L).cast("double"),
          lit(0.0))), 9).as("cramers_v"))
  }

  /** Mutual information (nats) between two categorical columns, with
    * both marginal entropies and the geometric-mean-normalized NMI —
    * the information-theoretic dual of [[cramersV]] (V measures
    * deviation from independence; MI measures the bits one key yields
    * about the other — the redundancy check for stratification and
    * split keys, and the leakage check between a feature and a label).
    *
    *   MI = Σ_cells (o/n)·ln(o·n/(r·c)),  H(a) = Σ (r/n)·ln(n/r)
    *
    * decomposed so every `ln` input is an INTEGRAL double (`o·n` and
    * `r·c` are exact integer products below 2⁵³ — the proven-safe
    * class; zero cells contribute nothing by continuity). Cell terms
    * accumulate in DECIMAL(30,15); the closing divisions and
    * `NMI = MI/sqrt(H_a·H_b)` are pinned-order doubles, nullif-guarded
    * for the single-category degeneracies (H = 0 → NMI NULL).
    *
    * Scale shape = [[cramersV]]: cell-keyed count, marginal rollups of
    * the cell table, scalar close.
    *
    * @return one row: (n, mi, h_a, h_b, nmi); no row when no input row
    *         names both categories
    */
  def categoricalMI(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d3015 = org.apache.spark.sql.types.DecimalType(30, 15)
    val (cells, ra, cb, tot) = cellCensus(df, aCol, bCol)
    val miTerm = col("__o").cast("double") *
      (log(col("__o").cast("double") * col("__n").cast("double")) -
        log(col("__ra").cast("double") * col("__cb").cast("double")))
    val mi = cells
      .join(broadcast(ra), Seq("__a")).join(broadcast(cb), Seq("__b"))
      .crossJoin(broadcast(tot))
      .groupBy(col("__n"))
      .agg(sum(miTerm.cast(d3015)).cast("double").as("__mi"))
    def entropy(m: DataFrame, cnt: String) = m.crossJoin(broadcast(tot))
      .groupBy(col("__n"))
      .agg(sum((col(cnt).cast("double") *
        (log(col("__n").cast("double")) - log(col(cnt).cast("double"))))
        .cast(d3015)).cast("double").as("__h"))
      .select(col("__n"), col("__h"))
    val ha = entropy(ra, "__ra").withColumnRenamed("__h", "__ha")
    val hb = entropy(cb, "__cb").withColumnRenamed("__h", "__hb")
    mi.join(ha, Seq("__n")).join(hb, Seq("__n"))
      .select(col("__n").as("n"),
        round(col("__mi") / col("__n").cast("double"), 9).as("mi"),
        round(col("__ha") / col("__n").cast("double"), 9).as("h_a"),
        round(col("__hb") / col("__n").cast("double"), 9).as("h_b"),
        round((col("__mi") / col("__n").cast("double")) /
          nullif(sqrt((col("__ha") / col("__n").cast("double")) *
            (col("__hb") / col("__n").cast("double"))), lit(0.0)), 9)
          .as("nmi"))
  }

  /** One-way ANOVA variance decomposition of `valueCol` across
    * `groupCol` — η² ("how much of the variance does the grouping
    * explain") and the F statistic. The seasonality-strength /
    * slice-effect audit: η² of value across hour-of-day tells you
    * whether a time-of-day profile is real structure or noise before
    * anyone builds a seasonal model on it.
    *
    *   SS_total = Σv² − (Σv)²/n,  SS_between = Σ_g S_g²/n_g − (Σv)²/n
    *
    * Determinism: per-group sums accumulate in DECIMAL(28,9) and
    * squared values in DECIMAL(30,15) (order-free); the ≤|groups|
    * per-group terms re-accumulate in DECIMAL(30,15); every closing
    * ratio is pinned-order doubles with nullif degeneracy guards
    * (single group → F NULL, zero variance → η² NULL). Null/NaN
    * values and null groups are excluded.
    *
    * Scale shape: ONE group-keyed aggregation (map-side partials) +
    * a groups-sized close. Nothing else shuffles.
    *
    * @return one row: (n, n_groups, ss_between, ss_total, eta_sq,
    *         f_stat)
    */
  def anovaOneWay(df: DataFrame, valueCol: String,
                  groupCol: String): DataFrame = {
    val d289 = org.apache.spark.sql.types.DecimalType(28, 9)
    val d3015 = org.apache.spark.sql.types.DecimalType(30, 15)
    val base = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v")))
    val groups = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"),
        sum(col("__v").cast(d289)).cast("double").as("__sg"),
        sum((col("__v") * col("__v")).cast(d3015)).as("__sq"))
    val agg = groups.agg(
      sum(col("__ng")).as("n"),
      count(lit(1)).as("n_groups"),
      sum(col("__sg").cast(d289)).cast("double").as("__s"),
      sum(col("__sq")).cast("double").as("__sv2"),
      sum(((col("__sg") * col("__sg")) / col("__ng").cast("double"))
        .cast(d3015)).cast("double").as("__bsum"))
    val nD = col("n").cast("double")
    val kD = col("n_groups").cast("double")
    val ssT = col("__sv2") - (col("__s") * col("__s")) / nD
    val ssB = col("__bsum") - (col("__s") * col("__s")) / nD
    // SS values round at 3 decimals, not the usual 9: double→decimal
    // casts of FULL-MANTISSA doubles differ across engines by ~1e-15
    // relative (measured: DuckDB shortest-string vs exact-expansion
    // paths diverge on ~1% of values at a truncating scale), so an
    // SS in the 1e7 range carries ~1e-9 absolute ladder noise — a
    // 9-decimal presentation round would sit INSIDE the noise band
    // and flip, while 3 decimals leaves a 5e-4 guard. The O(1)
    // ratios below keep round-9.
    agg.select(col("n"), col("n_groups"),
      round(ssB, 3).as("ss_between"), round(ssT, 3).as("ss_total"),
      round(ssB / nullif(ssT, lit(0.0)), 9).as("eta_sq"),
      round((ssB / nullif(kD - lit(1.0), lit(0.0))) /
        nullif((ssT - ssB) / nullif(nD - kD, lit(0.0)), lit(0.0)), 9)
        .as("f_stat"))
  }

  /** Hill tail-index estimator over the top `k+1` order statistics
    * (Hill 1975): `H = (1/k)·Σ_{i≤k} (ln x_i − ln x_{k+1})`, `α = 1/H`
    * — the heavy-tail audit that complements [[giniConcentration]]
    * (Gini says "concentrated"; α says HOW heavy the tail law is —
    * α ≤ 2 means variance doesn't even exist and mean-based capacity
    * planning is fiction). Values convert to exact integer units
    * (DECIMAL(18,`scale`)·10^scale) so every `ln` input is an
    * integral double (the proven-safe class); the k log-ratios sum in
    * DECIMAL(30,15); ranking ties break on `idCol` so the top-k SET
    * is total-ordered. Non-positive values are excluded (no tail).
    *
    * Scale shape: one TakeOrdered top-(k+1) (per-partition heaps — no
    * global sort), then (k+1)-row arithmetic.
    *
    * @return one row: (k, threshold_units, hill, alpha)
    */
  def hillTailIndex(df: DataFrame, valueCol: String, idCol: String,
                    k: Int = 100, scale: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val unitsPer = BigInt(10).pow(scale).toLong
    val d3015 = org.apache.spark.sql.types.DecimalType(30, 15)
    val top = df.select(col(idCol).as("__id"),
        (col(valueCol).cast(
          org.apache.spark.sql.types.DecimalType(18, scale)) *
          lit(unitsPer)).cast("long").as("__u"))
      .where(col("__u") > 0)
      .orderBy(col("__u").desc, col("__id").asc)
      .limit(k + 1)
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__u").desc, col("__id").asc)))
    val thr = top.where(col("__rn") === (k + 1))
      .select(col("__u").as("__thr"))
    top.where(col("__rn") <= k)
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("k"), max(col("__thr")).as("threshold_units"),
        sum((log(col("__u").cast("double")) -
          log(col("__thr").cast("double"))).cast(d3015))
          .cast("double").as("__hsum"))
      .select(col("k"), col("threshold_units"),
        round(col("__hsum") / col("k").cast("double"), 9).as("hill"),
        round(col("k").cast("double") /
          nullif(col("__hsum"), lit(0.0)), 9).as("alpha"))
  }

  /** Benford first-digit census (Benford 1938; the classic
    * fabricated-data / unit-mixing tripwire for financial and metric
    * columns): values convert to exact integer units
    * (DECIMAL(18,`scale`)·10^scale, the [[giniConcentration]]
    * convention), the leading digit comes from the INTEGER's decimal
    * string (engine-identical, unlike double formatting), and each
    * digit row carries its observed share plus the Pearson chi²
    * term against the Benford expectation `log₁₀(1+1/d)` — baked as
    * nine shared decimal literals, so no runtime transcendental; a
    * consumer sums the nine terms into the test statistic. Zero and
    * negative values have no leading digit and are excluded.
    *
    * Exactness: counts are exact integers; shares and chi² terms are
    * pinned-order doubles over those integers and the baked literals.
    * Scale shape: one map-only digit projection + a 9-key aggregation;
    * the 9-row grid and 1-row total broadcast.
    *
    * @return 9 rows: (digit, n_obs, obs_share, exp_share, chi2_term)
    */
  def benfordCensus(df: DataFrame, valueCol: String,
                    scale: Int = 2): DataFrame = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0,6], got $scale")
    val unitsPer = BigInt(10).pow(scale).toLong
    val counts = df
      .select((col(valueCol).cast(
          org.apache.spark.sql.types.DecimalType(18, scale)) *
        lit(unitsPer)).cast("long").as("__u"))
      .where(col("__u") > 0)
      .select(substring(col("__u").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("__c"))
    val spark = df.sparkSession
    import spark.implicits._
    val grid = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514).toDF("digit", "exp_share")
    val tot = counts.agg(sum(col("__c")).as("__n"))
    val oD = coalesce(col("__c"), lit(0L)).cast("double")
    val nD = col("__n").cast("double")
    grid.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("__c"), lit(0L)).as("n_obs"),
        round(oD / nD, 9).as("obs_share"), col("exp_share"),
        round(((oD - nD * col("exp_share")) * (oD - nD * col("exp_share")))
          / (nD * col("exp_share")), 9).as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** Concentration report over per-key totals: the Gini coefficient
    * plus top-1/top-`topN` shares — the "how skewed is this
    * dimension?" audit (revenue per customer, documents per domain,
    * tokens per source) that decides whether a downstream join needs
    * salting and whether a sampling plan needs per-stratum caps.
    *
    * Exactness: per-key totals sum in DECIMAL(18,`scale`) and convert
    * to integer UNITS (10^scale per value unit, e.g. cents), so every
    * rank, share numerator and the Gini building blocks are exact
    * integers; Σ rank·unit accumulates in DECIMAL(38,0). The closing
    * Gini/share arithmetic is pinned-order doubles over
    * correctly-rounded casts of those exact integers — bit-identical
    * on any engine and partitioning. With ranks ascending by
    * (units, key):
    *
    *   gini = (2·Σ r·u − (n+1)·Σu) / (n·Σu)
    *
    * (0 = uniform, (n−1)/n = one key holds everything). Requires
    * non-negative values (a refund-heavy ledger needs netting
    * upstream; Gini over signed totals is not a concentration).
    *
    * Shuffle profile: one key-keyed aggregation (map-side partials),
    * then two row_number windows over the KEY-cardinality frame (the
    * documented key-sized global sort — for corpus-scale key spaces
    * rank via the two-level range-bucket offsets discipline of
    * [[Corpus.epochShuffle]] before this rollup) and a 1-row close.
    *
    * @return one row: (n_keys, total_units, gini, top1_share,
    *         topn_share)
    */
  def giniConcentration(df: DataFrame, keyCol: String, valueCol: String,
                        scale: Int = 2, topN: Int = 10): DataFrame = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0,6], got $scale")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val unitsPer = BigInt(10).pow(scale).toLong
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val perKey = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(col(valueCol).cast(
        org.apache.spark.sql.types.DecimalType(18, scale))).as("__w"))
      .select(col("__k"),
        (col("__w") * lit(unitsPer)).cast("long").as("__u"))
    val ranked = perKey
      .withColumn("__r",
        row_number().over(Window.orderBy(col("__u").asc, col("__k").asc)))
      .withColumn("__rd",
        row_number().over(Window.orderBy(col("__u").desc, col("__k").desc)))
    val a = ranked.agg(
      count(lit(1)).as("n_keys"),
      sum(col("__u")).as("total_units"),
      sum(col("__r").cast(d19) * col("__u").cast(d19))
        .cast("double").as("__s1"),
      max(col("__u")).as("__m"),
      sum(when(col("__rd") <= topN, col("__u")).otherwise(lit(0L)))
        .as("__tn"))
    val nD = col("n_keys").cast("double")
    val stD = col("total_units").cast("double")
    a.select(col("n_keys"), col("total_units"),
      round((lit(2.0) * col("__s1") - (nD + lit(1.0)) * stD) / (nD * stD), 9)
        .as("gini"),
      round(col("__m").cast("double") / stD, 9).as("top1_share"),
      round(col("__tn").cast("double") / stD, 9).as("topn_share"))
  }
}
