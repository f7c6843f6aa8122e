package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

@graft.Heavy // top-tier suite by measured wall time; excluded from `sbt smoke`
class StatsSpec extends SparkSpec {

  test("profile: null-aware counts, distinct excludes nulls, order pinned") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("x", LongType), StructField("y", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "a"), Row(1L, null), Row(null, "b"), Row(2L, "a"))),
      schema)
    val out = Stats.profile(df, Seq("y", "x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq( // caller's order, not schema order
      ("y", 4L, 1L, 2L), ("x", 4L, 1L, 2L)))
  }

  test("profile: dotted column names survive (ordinal aliases), approx mode bounded") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a column whose NAME contains a dot — legal in DataFrames; raw-name
    // aliases round-tripped through col() would parse it as a nested path
    val schema = StructType(Seq(StructField("a.b", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 100L).map(i => Row(i % 37))), schema)
    val exact = Stats.profile(df, Seq("a.b")).collect().head
    assert((exact.getString(0), exact.getLong(1), exact.getLong(2),
      exact.getLong(3)) == (("a.b", 100L, 0L, 37L)))
    // approx mode: HLL++ estimate within 3·rsd of exact
    val ap = Stats.profile(df, Seq("a.b"), approxRsd = 0.05).collect().head
    assert(ap.getLong(1) == 100L && ap.getLong(2) == 0L)
    assert(math.abs(ap.getLong(3) - 37L) <= 3 * 0.05 * 37L + 1)
  }

  private val probs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.95, 1.0)

  private def reference(df: org.apache.spark.sql.DataFrame, c: String): Seq[Double] = {
    val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    df.selectExpr(s"percentile($c, $arr) AS q").head()
      .getSeq[Double](0).toSeq
  }

  private def check(df: org.apache.spark.sql.DataFrame, c: String,
                    buckets: Int, clue: String): Unit = {
    val got = Stats.exactQuantiles(df, c, probs, buckets = buckets,
      maxCollect = 50)
    val want = reference(df, c)
    probs.indices.foreach { i =>
      assert(got(i) == want(i) ||
        math.abs(got(i) - want(i)) <= math.ulp(want(i)) * 4,
        s"$clue buckets=$buckets p=${probs(i)}: ${got(i)} vs ${want(i)}")
    }
  }

  test("exactQuantiles equals percentile() on uniform, skewed, and discrete data") {
    import spark.implicits._
    val uniform = spark.range(10001).select((col("id") * 17 % 10007).cast("double").as("v"))
    val skewed = spark.range(5000).select(
      (pow(col("id").cast("double") / 100.0, 3) - lit(1234.5)).as("v"))
    // heavy duplicates: only 7 distinct values
    val discrete = spark.range(9999).select((col("id") % 7).cast("double").as("v"))
    for (b <- Seq(4, 64, 4096)) {
      check(uniform, "v", b, "uniform")
      check(skewed, "v", b, "skewed")
      check(discrete, "v", b, "discrete")
    }
  }

  test("exactQuantiles: nulls and NaNs excluded, negatives, single value") {
    import spark.implicits._
    val df = Seq[Option[Double]](Some(-5.0), None, Some(Double.NaN), Some(3.5),
      Some(-5.0), Some(100.25)).toDF("v")
    val got = Stats.exactQuantiles(df, "v", Seq(0.0, 0.5, 1.0), buckets = 4)
    assert(got == Seq(-5.0, (-5.0 + 3.5) / 2, 100.25))
    val one = Seq(42.0).toDF("v")
    assert(Stats.exactQuantiles(one, "v", Seq(0.0, 0.37, 1.0)) == Seq(42.0, 42.0, 42.0))
  }

  test("exactQuantiles: adversarial near-identical doubles (sub-ulp intervals)") {
    import spark.implicits._
    val base = 1.0e15
    val df = (0 until 2000).map(i => base + (i % 3).toDouble).toDF("v")
    check(df, "v", 4, "near-identical")
  }

  test("exactQuantiles on lineitem matches percentile() bit-for-bit") {
    val l = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val got = Stats.exactQuantiles(l, "l_extendedprice", Seq(0.5, 0.95, 0.99),
      maxCollect = 100)
    val arr = "array(0.5D, 0.95D, 0.99D)"
    val want = l.selectExpr(s"percentile(l_extendedprice, $arr) AS q")
      .head().getSeq[Double](0).toSeq
    assert(got == want, s"$got vs $want")
  }

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("kmvSketch: bottom-k distinct hashes, null-free, MERGEABLE") {
    import spark.implicits._
    val a = (1 to 60).map(i => s"v$i") ++ Seq("v1", "v2") // dups collapse
    val df = (a.map(Option.apply) :+ None).toDF("x")
    val k = 8
    val got = Stats.kmvSketch(df, "x", k).collect().map(_.getString(0)).toSeq
    val want = a.distinct.map(md5hex).sorted.take(k)
    assert(got == want)
    // merge property: sketch(A ∪ B) == bottom-k of (sketch(A) ∪ sketch(B))
    val b = (40 to 100).map(i => s"v$i")
    val skA = got.toSet
    val skB = Stats.kmvSketch(b.toDF("x"), "x", k)
      .collect().map(_.getString(0)).toSet
    val merged = (skA ++ skB).toSeq.sorted.take(k)
    val direct = Stats.kmvSketch((a ++ b).toDF("x"), "x", k)
      .collect().map(_.getString(0)).toSeq
    assert(merged == direct)
  }

  test("kmvOverlap: exact Jaccard when k covers the union; sliced fixture sane") {
    import spark.implicits._
    // |A|=60, |B|=40, |A∩B|=20 → J = 20/80
    val a = (1 to 60).map(i => s"d$i").toDF("x")
    val b = (41 to 80).map(i => s"d$i").toDF("x")
    val r = Stats.kmvOverlap(a, b, "x", k = 200).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((80L, 20L)))
    assert(r.getDouble(2) == 0.25)
    // k below the union size: k_used = k, estimate in [0, 1]
    val s = Stats.kmvOverlap(a, b, "x", k = 16).collect().head
    assert(s.getLong(0) == 16L && s.getDouble(2) >= 0.0 && s.getDouble(2) <= 1.0)
  }

  /** Independent CMS position: fold 12 md5 hex chars, mod width. */
  private def cmsPosRef(v: String, r: Int, width: Int, seed: String): Long =
    java.lang.Long.parseLong(
      md5hex(s"$seed:$r:$v").substring(0, 12), 16) % width

  test("cmsBuild cells = exact bucket counts; estimate never underestimates") {
    import spark.implicits._
    val vals = (1 to 500).map(i => s"w${i % 37}") // 37 keys, skewed by mod
    val df = (vals.map(Option.apply) :+ None).toDF("x")
    val (depth, width) = (3, 16) // narrow on purpose: force collisions
    val sk = Stats.cmsBuild(df, "x", depth, width, seed = "t")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // reference sketch
    val truth = vals.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val refCells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for ((k, c) <- truth; r <- 0 until depth)
      refCells((r, cmsPosRef(k, r, width, "t"))) =
        refCells.getOrElse((r, cmsPosRef(k, r, width, "t")), 0L) + c
    assert(sk == refCells.toMap)
    // estimates: ≥ true count for present keys, = min over rows
    val est = Stats.cmsEstimate(
        Stats.cmsBuild(df, "x", depth, width, seed = "t"),
        truth.keys.toSeq :+ "absent", depth, width, seed = "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, c) =>
      assert(est(k) >= c, s"underestimate for $k: ${est(k)} < $c") }
    val refEst = truth.keys.map(k => k ->
      (0 until depth).map(r => refCells((r, cmsPosRef(k, r, width, "t")))).min)
    refEst.foreach { case (k, e) => assert(est(k) == e) }
    // absent key: min over its cells (0 if any cell empty)
    val absentCells = (0 until depth)
      .map(r => refCells.getOrElse((r, cmsPosRef("absent", r, width, "t")), 0L))
    assert(est("absent") == absentCells.min)
  }

  test("expectations: null counts as violation, uniqueness, one-pass pivot") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("s", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 10L, "a"), Row(2L, -3L, "b"), Row(2L, null, "c"),
      Row(null, 5L, null), Row(4L, 7L, "a"))), schema)
    val got = Stats.expectations(df,
        Seq("id_not_null" -> col("id").isNotNull,
          "v_positive" -> (col("v") > 0)),
        uniqueCols = Seq("id_unique" -> "id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // v_positive: -3 fails, null v fails (null-hostile); id_unique:
    // duplicate id=2 contributes 1 extra non-null row; null id ignored
    assert(got.toSeq == Seq(
      ("id_not_null", 5L, 1L, false),
      ("id_unique", 5L, 1L, false),
      ("v_positive", 5L, 2L, false)))
    val clean = Stats.expectations(df.where(col("id").isNotNull && col("id") =!= 2),
      Seq("id_not_null" -> col("id").isNotNull))
      .collect().head
    assert(clean.getBoolean(3))
  }

  test("histogramDrift: fixed edges, out-of-range clamps, empty bins, exact rational") {
    import spark.implicits._
    val a = Seq(-5.0, 0.0, 1.0, 10.0, 11.0, 99.0).toDF("x") // bins (w=10): 0,0,0,1,1,3(clamp? 99/10=9→clamp 3)
    val b = Seq(5.0, 25.0, 35.0, 200.0).toDF("x")           // bins: 0,2,3,3(clamp)
    val got = Stats.histogramDrift(a, b, "x", nBins = 4, lo = 0.0, hi = 40.0)
      .collect().map(r => r.getInt(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3),
          r.getDecimal(4).longValueExact(), r.getLong(5), r.getLong(6))))
      .toMap
    // a: -5→0, 0→0, 1→0, 10→1, 11→1, 99→3 ; b: 5→0, 25→2, 35→3, 200→3
    assert(got == Map(
      0 -> ((0.0, 3L, 1L, 3L * 4 - 1L * 6, 6L, 4L)),
      1 -> ((10.0, 2L, 0L, 2L * 4, 6L, 4L)),
      2 -> ((20.0, 0L, 1L, 6L, 6L, 4L)),
      3 -> ((30.0, 1L, 2L, math.abs(1L * 4 - 2L * 6), 6L, 4L))))
    // L1 drift = sum(l1_num) / (n_a_tot * n_b_tot) = (6+8+6+8)/24
    assert(got.values.map(_._4).sum == 28L)
  }

  // the by-group family convention: every group's rows equal the
  // ungrouped op run on that slice; null groups excluded; a group
  // observed in only one side still emits its full bin range
  test("histogramDriftByGroup: each group row == histogramDrift on that slice") {
    import spark.implicits._
    val a = Seq(("en", -5.0), ("en", 1.0), ("en", 11.0), ("de", 25.0),
      ("de", 99.0), (null.asInstanceOf[String], 7.0)).toDF("g", "x")
    val b = Seq(("en", 5.0), ("en", 35.0), ("fr", 12.0),
      (null.asInstanceOf[String], 1.0)).toDF("g", "x")
    val got = Stats.histogramDrift(a, b, "x",
        nBins = 4, lo = 0.0, hi = 40.0, groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4),
          r.getDecimal(5).longValueExact(), r.getLong(6), r.getLong(7))))
      .toMap
    // observed groups en/de/fr × 4 bins; nulls gone
    assert(got.keySet.map(_._1) == Set("en", "de", "fr"))
    assert(got.size == 12)
    Seq("en", "de", "fr").foreach { g =>
      val slice = Stats.histogramDrift(
          a.where(col("g") <=> g).select(col("x")),
          b.where(col("g") <=> g).select(col("x")),
          "x", nBins = 4, lo = 0.0, hi = 40.0)
        .collect().map(r => r.getInt(0) ->
          ((r.getDouble(1), r.getLong(2), r.getLong(3),
            r.getDecimal(4).longValueExact(), r.getLong(5), r.getLong(6))))
        .toMap
      (0 until 4).foreach { bin =>
        assert(got((g, bin)) == slice(bin), s"group $g bin $bin")
      }
    }
    // fr appears only in side b: full bin range, n_a_tot = 0
    assert(got(("fr", 1))._2 == 0L && got(("fr", 1))._3 == 1L &&
      got(("fr", 1))._5 == 0L)
  }

  test("exactValueAtRanks returns occurring values at exact sorted positions") {
    import spark.implicits._
    val xs = Seq(5.0, 1.0, 9.0, 3.0, 3.0, 7.0, 2.0)
    val df = xs.toDF("x")
    val got = Stats.exactValueAtRanks(df, "x", Seq(0L, 3L, 6L))
    val sorted = xs.sorted
    assert(got == Map(0L -> sorted(0), 3L -> sorted(3), 6L -> sorted(6)))
    intercept[IllegalArgumentException] {
      Stats.exactValueAtRanks(df, "x", Seq(7L))
    }
  }

  test("winsorize: cuts are order statistics, clamp is element selection, nulls pass") {
    import spark.implicits._
    // 100 values 1..100 plus an outlier pair and a null
    val df = ((1 to 100).map(_.toDouble) ++ Seq(1e9, -1e9))
      .map(Option(_)).:+(None).toDF("x")
    val out = Stats.winsorize(df, "x", 0.02, 0.98, "w")
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
        Option(r.get(1)).map(_.asInstanceOf[Double]), r.getBoolean(2)))
    // n=102: lo rank ceil(.02*102)=3 → 3rd smallest = 2.0 (after -1e9, 1.0)
    // hi rank ceil(.98*102)=100 → 100th = 99.0
    val m = out.map(t => t._1 -> (t._2, t._3)).toMap
    assert(m(Some(-1e9)) == (Some(2.0), true))
    assert(m(Some(1e9)) == (Some(99.0), true))
    assert(m(Some(1.0)) == (Some(2.0), true))
    assert(m(Some(50.0)) == (Some(50.0), false))
    assert(m(Some(99.0)) == (Some(99.0), false))
    assert(m(Some(100.0)) == (Some(99.0), true))
    assert(m(None) == (None, false))
  }

  test("joinCardinality equals the real join's count; nulls excluded; empty → zeros") {
    import spark.implicits._
    val a = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None).toDF("k")
    val b = Seq(Some(1L), Some(2L), Some(2L), Some(4L), None).toDF("k")
    val r = Stats.joinCardinality(a, b, "k", "k").head()
    val real = a.as("x").join(b.as("y"), col("x.k") === col("y.k")).count()
    assert(r.getDecimal(0).longValueExact() == real && real == 4L)
    assert(r.getLong(1) == 2L) // keys 1 and 2 match
    assert(r.getDecimal(2).longValueExact() == 2L) // both keys contribute 2
    assert(r.getString(3) == "2") // tie on pairs → largest key string
    val empty = Stats.joinCardinality(a.where(col("k") > 10), b, "k", "k").head()
    assert(empty.getDecimal(0).longValueExact() == 0L && empty.getLong(1) == 0L
      && empty.isNullAt(3))
  }

  test("winsorizeByGroup ≡ independent per-group winsorize; null group is a group") {
    import spark.implicits._
    val df = ((1 to 50).map(i => (Some("a"), Some(i.toDouble))) ++
      Seq((Some("a"), Some(1e6))) ++
      (1 to 20).map(i => (Some("b"), Some(i * 100.0))) ++
      Seq((None: Option[String], Some(7.0)), (Some("a"), None: Option[Double])))
      .toDF("g", "x")
    val got = Stats.winsorizeByGroup(df, "x", "g", 0.05, 0.95, "w")
      .collect().map(r => (Option(r.get(0)).map(_.toString),
        Option(r.get(1)).map(_.asInstanceOf[Double])) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))))
      .toMap
    // group a: n=51; lo rank ceil(.05*51)=3 → 3.0; hi rank ceil(.95*51)=49 → 49.0
    assert(got((Some("a"), Some(1e6))) == ((Some(49.0), true)))
    assert(got((Some("a"), Some(1.0))) == ((Some(3.0), true)))
    assert(got((Some("a"), Some(25.0))) == ((Some(25.0), false)))
    // group b: n=20; lo rank 1 → 100.0; hi rank 19 → 1900.0
    assert(got((Some("b"), Some(2000.0))) == ((Some(1900.0), true)))
    assert(got((Some("b"), Some(500.0))) == ((Some(500.0), false)))
    // null group: its own singleton group — rank 1 both cuts, unclipped
    assert(got((None, Some(7.0))) == ((Some(7.0), false)))
    // null value passes through
    assert(got((Some("a"), None)) == ((None, false)))
    // per-group cuts equal the global winsorize run on that group alone
    val aOnly = Stats.winsorize(df.where(col("g") === "a"), "x", 0.05, 0.95, "w")
      .collect().map(r => Option(r.get(1)).map(_.asInstanceOf[Double]) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(aOnly(Some(1e6)) == Some(49.0) && aOnly(Some(1.0)) == Some(3.0))
  }

  test("kAnonymity: risky groups only, null QI is a group, summary constant") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("zip", StringType), StructField("age", IntegerType)))
    val rows = Seq(
      Row("94110", 30), Row("94110", 30), Row("94110", 30), // safe at k=3
      Row("94110", 31), Row("94110", 31),                   // risky (2)
      Row(null, 40), Row(null, 40),                         // null QI risky (2)
      Row("10001", 55))                                     // risky (1)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = Stats.kAnonymity(df, Seq("zip", "age"), k = 3)
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(
      (Some("94110"), 31) -> ((2L, 8L, 4L, 1L)),
      (None, 40)          -> ((2L, 8L, 4L, 1L)),
      (Some("10001"), 55) -> ((1L, 8L, 4L, 1L))))
    // a projection whose every group reaches k yields an empty report
    assert(Stats.kAnonymity(
      df.where(col("zip").isNull || col("zip") === "94110"),
      Seq("zip"), k = 2).count() == 0L)
  }

  test("madOutliers: robust fences, zero-mad sharpness, null verdict null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("v", DoubleType)))
    val rows = Seq(
      // group a: med=2, mad=1 → only the 100 flags (|98| > 3)
      Row(1L, "a", 1.0), Row(2L, "a", 2.0), Row(3L, "a", 3.0),
      Row(4L, "a", 100.0),
      // group b: >50% one value → mad=0, any deviation flags
      Row(5L, "b", 5.0), Row(6L, "b", 5.0), Row(7L, "b", 5.0),
      Row(8L, "b", 6.0),
      // group c: only a null value → null med/mad, null verdict
      Row(9L, "c", null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = Stats.madOutliers(df, "v", "g").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getBoolean(5))))).toMap
    assert(out(1L) == ((Some(2.0), Some(1.0), Some(false))))
    assert(out(4L) == ((Some(2.0), Some(1.0), Some(true))))
    assert(out(5L) == ((Some(5.0), Some(0.0), Some(false))))
    assert(out(8L) == ((Some(5.0), Some(0.0), Some(true))))
    assert(out(9L) == ((None, None, None)))
  }

  test("spearmanPieces: perfect +/-1, tie average ranks, NaN rows excluded") {
    import spark.implicits._
    def pieces(rows: Seq[(Double, Double)]) = {
      val r = Stats.spearmanPieces(rows.toDF("a", "b"), "a", "b").head()
      (r.getLong(0), r.getDecimal(1).longValueExact,
        r.getDecimal(2).longValueExact, r.getDecimal(3).longValueExact)
    }
    // perfect monotone → d2 0, rho = 1 exactly
    assert(pieces(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)))
      == ((3L, 0L, 48L, 48L)))
    // perfect inverse → rho_num = −rho_den
    assert(pieces(Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)))
      == ((3L, 32L, -48L, 48L)))
    // tie: b = (5,5,9) → doubled avg ranks (3,3,6); NaN row excluded
    assert(pieces(Seq((1.0, 5.0), (2.0, 5.0), (3.0, 9.0),
      (4.0, Double.NaN))) == ((3L, 2L, 42L, 48L)))
  }

  test("schemaDiff: added/removed/type/nullability changes; identical schemas empty") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sa = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("gone", StringType),
      StructField("widened", IntegerType),
      StructField("relaxed", StringType, nullable = false)))
    val sb = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("widened", LongType),
      StructField("relaxed", StringType, nullable = true),
      StructField("fresh", DoubleType)))
    def empty(s: StructType) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], s)
    val out = Stats.schemaDiff(empty(sa), empty(sb)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("gone" -> "removed", "fresh" -> "added",
      "widened" -> "type_changed", "relaxed" -> "nullability_changed"))
    assert(Stats.schemaDiff(empty(sa), empty(sa)).count() == 0L)
  }

  test("missingness: pattern census exact, NaN is missing, backtick column survives") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", DoubleType), StructField("b.x", StringType)))
    val rows = Seq(
      Row(1.0, "s"), Row(1.0, "s"),          // 00 ×2
      Row(null, "s"),                         // 10
      Row(Double.NaN, null),                  // 11 (NaN counts as missing)
      Row(2.0, null))                         // 01
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = Stats.missingness(df, Seq("a", "b.x")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      "00" -> ((2L, 0L)), "10" -> ((1L, 1L)),
      "11" -> ((1L, 2L)), "01" -> ((1L, 1L))))
  }

  test("spearmanPieces ≡ driver brute force on seeded data with heavy ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // draw from a SMALL value domain so ties are everywhere
    val rows = Seq.fill(300)((rnd.nextInt(7).toDouble, rnd.nextInt(5).toDouble))
    def rank2x(vs: Seq[Double]): Map[Double, Long] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val first = sorted.indexOf(v) + 1L
        val cnt = sorted.count(_ == v).toLong
        v -> (2L * first + cnt - 1L)
      }.toMap
    }
    val (ra, rb) = (rank2x(rows.map(_._1)), rank2x(rows.map(_._2)))
    val expectD2 = rows.map { case (a, b) =>
      val d = ra(a) - rb(b); d * d
    }.sum
    val r = Stats.spearmanPieces(rows.toDF("a", "b"), "a", "b").head()
    assert(r.getLong(0) == 300L)
    assert(r.getDecimal(1).longValueExact == expectD2)
  }

  test("quantileBucket ≡ driver brute force; buckets monotone in value") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(257)(rnd.nextInt(40).toDouble) // heavy ties
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val nB = 8
    val out = Stats.quantileBucket(df, "v", nB).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val n = vs.length.toLong
    val sorted = vs.sorted
    val cuts = (1 until nB).map(i => i * n / nB).distinct
      .map(r => sorted(r.toInt))
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(out(i.toLong) == cuts.count(_ <= v).toLong, s"value $v")
    }
    // monotone: a larger value never lands in a smaller bucket
    val byV = vs.zipWithIndex.map { case (v, i) => v -> out(i.toLong) }.sorted
    assert(byV.sliding(2).forall(p => p.head._2 <= p.last._2))
  }

  test("contingency: independent columns score zero, dependent cells score the gap") {
    import spark.implicits._
    // perfectly independent 2×2: every cell n·N − r·c = 4·16 − 8·8 = 0
    val ind = Seq.tabulate(16)(i => (s"a${i % 2}", s"b${(i / 2) % 2}"))
      .toDF("x", "y")
    val zero = Stats.contingency(ind, "x", "y").collect()
      .map(r => r.getDecimal(6).longValueExact)
    assert(zero.forall(_ == 0L) && zero.length == 4)
    // fully dependent: a0→b0, a1→b1 (2 rows each); null rows excluded
    val dep = Seq(
      (Some("a0"), Some("b0")), (Some("a0"), Some("b0")),
      (Some("a1"), Some("b1")), (Some("a1"), Some("b1")),
      (None, Some("b9")), (Some("a9"), None)).toDF("x", "y")
    val out = Stats.contingency(dep, "x", "y").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDecimal(6).longValueExact))).toMap
    // each cell: |2·4 − 2·2| = 4
    assert(out == Map(
      ("a0", "b0") -> ((2L, 2L, 2L, 4L, 4L)),
      ("a1", "b1") -> ((2L, 2L, 2L, 4L, 4L))))
  }

  test("quantileBucket: order-statistic cuts, boundary goes down, null bucket null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val rows = (1 to 10).map(i => Row(i.toLong, i.toDouble)) :+ Row(11L, null)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = Stats.quantileBucket(df, "v", nBuckets = 4).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // n=10, cuts at 0-based ranks 2,5,7 → values 3,6,8; bucket = #cuts ≤ v
    val expect = Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 2L, 7L -> 2L, 8L -> 3L, 9L -> 3L, 10L -> 3L)
    expect.foreach { case (id, b) => assert(out(id) == Some(b), s"id $id") }
    assert(out(11L).isEmpty)
  }

  test("quantileBucketByGroup ≡ quantileBucket on each group's slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // three groups with deliberately different scales + heavy ties
    val rows = (0 until 300).map { i =>
      val g = Seq("en", "zh", "de")(i % 3)
      val v = g match {
        case "en" => rnd.nextInt(40).toDouble
        case "zh" => 1000.0 + rnd.nextInt(7)   // heavy ties
        case _    => rnd.nextDouble() * 5
      }
      (i.toLong, g, v)
    }
    val df = rows.toDF("id", "g", "v")
    val got = Stats.quantileBucketByGroup(df, "v", "g", nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    Seq("en", "zh", "de").foreach { g =>
      val slice = rows.filter(_._2 == g).map(t => (t._1, t._3)).toDF("id", "v")
      val expect = Stats.quantileBucket(slice, "v", nBuckets = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      expect.foreach { case (id, b) =>
        assert(got(id) == b, s"group $g id $id")
      }
    }
  }

  test("quantileBucketByGroup: null group is a group, gated rows and empty groups null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("v", DoubleType)))
    val rows = Seq(
      Row(1L, "a", 1.0), Row(2L, "a", 2.0), Row(3L, "a", 3.0),
      Row(4L, "a", 4.0),
      Row(5L, null, 1.0), Row(6L, null, 10.0),
      Row(7L, "a", null), Row(8L, "a", Double.NaN),
      Row(9L, "empty", null)) // group with no eligible values
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = Stats.quantileBucketByGroup(df, "v", "g", nBuckets = 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // group a: n=4, cut at 1-based rank (1·4)div2+1=3 → value 3.0
    assert(out(1L) == Some(0L) && out(2L) == Some(0L))
    assert(out(3L) == Some(1L) && out(4L) == Some(1L))
    // null group: n=2, cut at rank 2 → 10.0
    assert(out(5L) == Some(0L) && out(6L) == Some(1L))
    // gated values and eligible-empty groups stay null
    assert(out(7L).isEmpty && out(8L).isEmpty && out(9L).isEmpty)
  }

  test("momentsAppend ≡ rebuild on the union; mixed column sets refuse") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("a", DoubleType),
      StructField("b", LongType)))
    val oldRows = Seq(
      Row(1L, 1.5, 10L), Row(2L, -2.25, 20L), Row(3L, null, 30L),
      Row(4L, Double.NaN, null))
    val newRows = Seq(
      Row(5L, 7.125, 40L), Row(6L, null, 50L), Row(7L, 0.0, 60L))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val cols = Seq("a", "b")
    val appended = Stats.momentsAppend(
        Stats.momentsBuild(df(oldRows), cols), df(newRows), cols)
      .collect().map(r => r.getString(1) -> r.toSeq.drop(1)).toMap
    val rebuilt = Stats.momentsBuild(df(oldRows ++ newRows), cols)
      .collect().map(r => r.getString(1) -> r.toSeq.drop(1)).toMap
    assert(appended == rebuilt)
    // spot-check the census against hand counts: a has 2 nulls, 1 NaN
    // (counted in n_rows, absent from n_nulls AND from n)
    val a = Stats.momentsBuild(df(oldRows ++ newRows), cols).collect()
      .find(_.getString(1) == "a").get
    assert(a.getLong(2) == 7L && a.getLong(3) == 2L && a.getLong(4) == 4L)
    assert(a.getDouble(7) == -2.25 && a.getDouble(8) == 7.125)
    // frozen-schema contract: filing arrivals under a different column
    // list must refuse, not corrupt
    val err = intercept[IllegalArgumentException] {
      Stats.momentsAppend(
        Stats.momentsBuild(df(oldRows), Seq("a")), df(newRows), cols)
    }
    assert(err.getMessage.contains("do not match"))
    // a REORDERED caller list must not split columns across ords: the
    // arrival build files under the artifact's ord assignment
    val reordered = Stats.momentsAppend(
        Stats.momentsBuild(df(oldRows), cols), df(newRows), cols.reverse)
      .collect().map(r => r.getString(1) -> r.toSeq.drop(1)).toMap
    assert(reordered == rebuilt)
  }

  test("momentsBuild: decimal overflow fails loudly, never a silent zero") {
    import spark.implicits._
    // epoch-micro magnitudes: v*v ~ 2.9e30 > DECIMAL(30,6)'s 1e24 cap.
    // Under ANSI (Spark 4 default) the cast itself throws
    // NUMERIC_VALUE_OUT_OF_RANGE; under non-ANSI it NULLS the value and
    // the in-plan guard raises "overflows" instead of reporting a
    // sum_sq of 0 with n = 2. Either way: loud, never silent.
    val df = Seq(1.7e15, 2.0e15).toDF("v")
    val e = intercept[Exception] {
      Stats.momentsBuild(df, Seq("v")).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("overflows") ||
      chain.contains("cannot be represented as Decimal"), chain)
    // non-ANSI sessions take the guard path — pin it explicitly
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e2 = intercept[Exception] {
        Stats.momentsBuild(df, Seq("v")).collect()
      }
      val chain2 = Iterator.iterate[Throwable](e2)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain2.contains("overflows"), chain2)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
    // in-range magnitudes still build fine
    val ok = Stats.momentsBuild(Seq(1.0e8, 2.0e8).toDF("v"), Seq("v"))
      .head()
    assert(ok.getLong(4) == 2L &&
      BigDecimal(ok.getDecimal(6)).compare(BigDecimal("5.0e16")) == 0)
  }

  test("imputeByGroup: median and mode fills, NaN replaced, empty group stays null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("v", DoubleType)))
    val rows = Seq(
      Row(1L, "a", 1.0), Row(2L, "a", 3.0), Row(3L, "a", null),
      Row(4L, "b", 2.0), Row(5L, "b", 2.0), Row(6L, "b", 3.0),
      Row(7L, "b", Double.NaN),
      Row(8L, "c", null)) // group with no eligible values
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    def got(strategy: String) =
      Stats.imputeByGroup(df, "v", "g", strategy).collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getBoolean(4)))).toMap
    val med = got("median")
    assert(med(3L) == ((Some(1.0), true)))  // lower median of {1,3}
    assert(med(7L) == ((Some(2.0), true)))  // NaN counts as missing
    assert(med(8L) == ((None, false)))      // nothing to fill from
    assert(med(1L) == ((Some(1.0), false)))
    val mode = got("mode")
    assert(mode(3L) == ((Some(1.0), true))) // tie {1,3} → smallest
    assert(mode(7L) == ((Some(2.0), true))) // 2.0 occurs twice
    intercept[IllegalArgumentException] {
      Stats.imputeByGroup(df, "v", "g", "mean")
    }
  }

  test("cmsMerge ≡ sketch of the concatenated corpus") {
    import spark.implicits._
    val a = (1 to 200).map(i => s"k${i % 11}").toDF("x")
    val b = (1 to 300).map(i => s"k${i % 7}").toDF("x")
    val (depth, width) = (4, 32)
    val merged = Stats.cmsMerge(
        Stats.cmsBuild(a, "x", depth, width), Stats.cmsBuild(b, "x", depth, width))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Stats.cmsBuild(a.unionAll(b), "x", depth, width)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)
    // both shuffle shapes produce the identical sketch
    val rowPath = Stats.cmsBuild(a.unionAll(b), "x", depth, width,
        preAggregate = false)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rowPath == direct)
  }

  test("aucPieces: Mann–Whitney identity, ties count half, one-class degenerate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("s", DoubleType), StructField("y", BooleanType)))
    def run(rows: Seq[Row]): (Long, Long, java.math.BigDecimal,
        java.math.BigDecimal, java.math.BigDecimal) = {
      val r = Stats.aucPieces(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema), "s", "y").head()
      (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3),
        r.getDecimal(4))
    }
    // perfect separation → AUC 1: num == den
    val (p1, n1, _, num1, den1) = run(Seq(
      Row(1.0, false), Row(2.0, false), Row(3.0, true), Row(4.0, true)))
    assert(p1 == 2L && n1 == 2L)
    assert(num1.longValueExact == 8L && den1.longValueExact == 8L)
    // tie between a positive and a negative contributes exactly half:
    // scores [1,1,2], labels [F,T,T] → AUC 3/4
    val (_, _, sr2, num2, den2) = run(Seq(
      Row(1.0, false), Row(1.0, true), Row(2.0, true)))
    assert(sr2.longValueExact == 9L) // 2·avg ranks: 3 (tied pair) + 6
    assert(num2.longValueExact == 3L && den2.longValueExact == 4L)
    // reversed scores → AUC 0
    val (_, _, _, num3, _) = run(Seq(
      Row(4.0, false), Row(3.0, false), Row(1.0, true), Row(2.0, true)))
    assert(num3.longValueExact == 0L)
    // one class absent → den 0 (undefined), counts still honest
    val (p4, n4, _, _, den4) = run(Seq(Row(1.0, true), Row(2.0, true)))
    assert(p4 == 2L && n4 == 0L && den4.longValueExact == 0L)
    // null/NaN rows excluded
    val (p5, n5, _, _, _) = run(Seq(
      Row(Double.NaN, true), Row(null, true), Row(1.0, false), Row(2.0, true)))
    assert(p5 == 1L && n5 == 1L)
  }

  test("confusionStats: exact counts, floor ppm, degenerate denominators stay NULL") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("p", BooleanType), StructField("y", BooleanType)))
    def run(rows: Seq[Row]) = {
      val r = Stats.confusionStats(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema), "p", "y").head()
      ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
        (5 to 8).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
    }
    // tp=2 fp=1 tn=1 fn=1: precision 2/3, recall 2/3, f1 4/6, acc 3/5
    val (c1, m1) = run(Seq(Row(true, true), Row(true, true), Row(true, false),
      Row(false, false), Row(false, true), Row(null, true), Row(true, null)))
    assert(c1 == ((2L, 1L, 1L, 1L, 2L)))
    assert(m1 == Seq(Some(666666L), Some(666666L), Some(666666L), Some(600000L)))
    // gate that predicts nothing positive: precision UNDEFINED, not 0
    val (c2, m2) = run(Seq(Row(false, true), Row(false, false)))
    assert(c2 == ((0L, 0L, 1L, 1L, 0L)))
    assert(m2 == Seq(None, Some(0L), Some(0L), Some(500000L)))
    // empty input: everything NULL except zero counts
    val (c3, m3) = run(Seq(Row(null, null)))
    assert(c3 == ((0L, 0L, 0L, 0L, 1L)))
    assert(m3 == Seq(None, None, None, None))
  }

  test("reliabilityDiagram: clamped bins, floor ppm, empty bins emitted, decimal mean") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("s", DoubleType), StructField("y", BooleanType)))
    val rows = Seq(
      Row(0.05, true), Row(0.05, false), Row(-0.3, false), // clamp low → bin 0
      Row(0.95, true), Row(1.2, true),                     // clamp high → bin 9
      Row(null, true), Row(Double.NaN, false))             // excluded
    val out = Stats.reliabilityDiagram(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema),
        "s", "y", nBins = 10, lo = 0.0, hi = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(out.size == 10) // every bin present, empty or not
    assert(out(0L) == ((3L, 1L, Some(333333L), Some(-0.2 / 3.0))))
    assert(out(9L) == ((2L, 2L, Some(1000000L), Some(2.15 / 2.0))))
    (1L to 8L).foreach(b => assert(out(b) == ((0L, 0L, None, None)), s"bin $b"))
  }

  test("ppmSql: exact floor ppm, NULL degenerate denominator, loud int64 overflow") {
    import spark.implicits._
    val df = Seq((1L, 3L), (0L, 0L), (2L, 0L)).toDF("n", "d")
    val out = df.selectExpr(Stats.ppmSql("n", "d") + " AS p")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq == Seq(Some(333333L), None, None))
    // numerator past the wrap point dies loudly, never silently skews
    val wild = Seq((9223372036855L, 10L)).toDF("n", "d")
    val e = intercept[Exception](
      wild.selectExpr(Stats.ppmSql("n", "d") + " AS p").collect())
    assert(e.getMessage.contains("ppm int64 overflow"))
    // the guard boundary itself still computes exactly
    val edge = Seq((9223372036854L, 7L)).toDF("n", "d")
    assert(edge.selectExpr(Stats.ppmSql("n", "d") + " AS p")
      .head().getLong(0) == 9223372036854L * 1000000L / 7L)
  }

  test("per-group eval trio: each group's row equals the ungrouped op run on that slice") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("s", DoubleType),
      StructField("pred", BooleanType), StructField("y", BooleanType)))
    // ties within and across groups, a degenerate all-positive group,
    // null group/score/label rows
    val rows = Seq(
      Row("a", 0.1, true, true), Row("a", 0.1, false, false),
      Row("a", 0.7, true, true), Row("a", 0.9, false, false),
      Row("b", 0.1, true, true), Row("b", 0.5, true, false),
      Row("b", 0.5, false, true), Row("b", 0.5, true, false),
      Row("c", 0.3, true, true), Row("c", 0.8, true, true), // one class
      Row(null, 0.4, true, true),                           // null group
      Row("a", null, true, true), Row("a", 0.2, true, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      schema)
    val key = (r: Row) => r.getString(0)

    val aucG = Stats.aucPieces(df, "s", "y", groupCols = Seq("g"))
      .collect().map(r => key(r) -> r.toSeq.tail).toMap
    val confG = Stats.confusionStats(df, "pred", "y", groupCols = Seq("g"))
      .collect().map(r => key(r) -> r.toSeq.tail).toMap
    val relG = Stats.reliabilityDiagram(df, "s", "y",
        nBins = 4, lo = 0.0, hi = 1.0, groupCols = Seq("g"))
      .collect().groupBy(key).map { case (g, rs) =>
        g -> rs.sortBy(_.getLong(1)).map(_.toSeq.tail).toSeq }
    assert(aucG.keySet == Set("a", "b", "c"))
    assert(confG.keySet == Set("a", "b", "c"))
    assert(relG.keySet == Set("a", "b", "c"))
    Seq("a", "b", "c").foreach { g =>
      val slice = df.where(col("g") === g)
      assert(aucG(g) == Stats.aucPieces(slice, "s", "y").head().toSeq,
        s"auc group $g")
      assert(confG(g) ==
        Stats.confusionStats(slice, "pred", "y").head().toSeq
          .take(confG(g).size),
        s"confusion group $g (excluded null-group rows differ by design)")
      assert(relG(g) == Stats.reliabilityDiagram(slice, "s", "y", 4, 0.0, 1.0)
        .orderBy("bin").collect().map(_.toSeq).toSeq,
        s"reliability group $g")
    }
    // degenerate group: AUC undefined ⇒ den 0, confusion recall defined
    assert(aucG("c").last == java.math.BigDecimal.valueOf(0).setScale(0))
  }

  test("reliabilityDiagram: wild-but-gated scores clamp into boundary bins, no integer overflow") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("s", DoubleType), StructField("y", BooleanType)))
    // |s| far past int32·binWidth but under the 1e19 gate: the clamp
    // must happen in DOUBLE space, before any integer cast
    val rows = Seq(
      Row(9.0e18, true), Row(-9.0e18, false), Row(0.5, true),
      Row(1.0e19, true)) // past the gate → excluded outright
    val out = Stats.reliabilityDiagram(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema),
        "s", "y", nBins = 10, lo = 0.0, hi = 1.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(9L) == ((1L, 1L))) // 9e18 clamped high
    assert(out(0L) == ((1L, 0L))) // -9e18 clamped low
    assert(out(5L) == ((1L, 1L)))
    assert(out.values.map(_._1).sum == 3L) // 1e19 excluded by the gate
  }

  test("fleissKappaByGroup == probability-space Fleiss 1971 reference") {
    import spark.implicits._
    // 12 items × 3 raters over 3 labels with planted disagreement
    val rows = (0 until 12).flatMap { i =>
      val base = (i * 5) % 3
      val l2 = if (i % 4 == 0) (base + 1) % 3 else base
      val l3 = if (i % 3 == 0) (base + 2) % 3 else base
      Seq(("g", i.toLong, base.toLong), ("g", i.toLong, l2.toLong),
        ("g", i.toLong, l3.toLong))
    }
    // independent reference: textbook P̄/P̄ₑ in probability space
    val byItem = rows.groupBy(_._2).values.toSeq
    val nI = byItem.size; val nR = 3
    val po = byItem.map { it =>
      val cs = it.groupBy(_._3).values.map(_.size)
      cs.map(c => c * (c - 1)).sum.toDouble / (nR * (nR - 1))
    }.sum / nI
    val pe = rows.groupBy(_._3).values
      .map(v => math.pow(v.size.toDouble / (nI * nR), 2)).sum
    val want = (po - pe) / (1 - pe)
    val got = Stats.fleissKappaByGroup(rows.toDF("g", "item", "label"),
        "g", "item", "label")
      .head()
    assert(got.getLong(1) == nI && got.getLong(2) == nR)
    assert(math.abs(got.getDouble(3) - want) < 1e-9,
      s"${got.getDouble(3)} vs $want")
  }

  test("fleissKappaByGroup: ragged/single-rater refuse; unanimous is null") {
    import spark.implicits._
    val ragged = Seq(("g", 1L, 0L), ("g", 1L, 1L), ("g", 2L, 0L))
    val e1 = intercept[Exception] {
      Stats.fleissKappaByGroup(ragged.toDF("g", "item", "label"),
        "g", "item", "label").collect()
    }
    assert(Iterator.iterate[Throwable](e1)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString
      .contains("ragged panel"))
    val solo = Seq(("g", 1L, 0L), ("g", 2L, 1L))
    val e2 = intercept[Exception] {
      Stats.fleissKappaByGroup(solo.toDF("g", "item", "label"),
        "g", "item", "label").collect()
    }
    assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString
      .contains("n >= 2"))
    // every assignment the same label: pe = 1, kappa undefined → null
    val flat = (1L to 4L).flatMap(i => Seq(("g", i, 7L), ("g", i, 7L)))
    val out = Stats.fleissKappaByGroup(flat.toDF("g", "item", "label"),
      "g", "item", "label").head()
    assert(out.isNullAt(3), "pe = 1 must yield null, not NaN")
    // an item whose labels are ALL null keeps its seat in the item
    // census with assignment count 0 — raggedness, never a silent drop
    val allNull = Seq(("g", 1L, Some(0L)), ("g", 1L, Some(1L)),
      ("g", 2L, None), ("g", 2L, None))
    val e3 = intercept[Exception] {
      Stats.fleissKappaByGroup(allNull.toDF("g", "item", "label"),
        "g", "item", "label").collect()
    }
    assert(Iterator.iterate[Throwable](e3)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString
      .contains("ragged panel"),
      "fully-unlabeled item must surface as raggedness")
  }

  test("cohenKappaByGroup: textbook 2x2 value, null exclusion, degenerate null") {
    import spark.implicits._
    // Cohen 1960-style worked example: a=20 agree-yes, d=15 agree-no,
    // b=5 (r1 yes/r2 no), c=10 → po=0.7, pe=0.5, kappa = 0.4 exactly
    val g1 = Seq.fill(20)(("g1", "y", "y")) ++ Seq.fill(15)(("g1", "n", "n")) ++
      Seq.fill(5)(("g1", "y", "n")) ++ Seq.fill(10)(("g1", "n", "y"))
    // a group with unlabeled rows: the nulls must not count as a class
    val g2 = Seq(("g2", "y", "y"), ("g2", "y", null), ("g2", null, "n"),
      ("g2", "y", "n"))
    // degenerate: both raters constant and equal → pe = 1, kappa null
    val g3 = Seq.fill(4)(("g3", "y", "y"))
    val out = Stats.cohenKappaByGroup(
        (g1 ++ g2 ++ g3).toDF("g", "r1", "r2"), "g", "r1", "r2")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out("g1") == ((50L, 35L, Some(0.4))), out("g1").toString)
    assert(out("g2")._1 == 2L && out("g2")._2 == 1L, out("g2").toString)
    // g2 by hand (nulls excluded): pairs (y,y),(y,n) → n=2, o=1;
    // marginals r1={y:2}, r2={y:1,n:1} → e = 2·1 = 2 (only shared
    // labels contribute) → kappa = (2·1−2)/(4−2) = 0
    assert(out("g2")._3 == Some(0.0), out("g2").toString)
    assert(out("g3") == ((4L, 4L, None)), "pe=1 must yield null, not NaN")
  }

  test("expectedCalibrationError: perfect calibration 0, hand value") {
    import spark.implicits._
    val perfect = Seq((0.5, true), (0.5, true), (0.5, false), (0.5, false))
      .toDF("s", "y")
    val p = Stats.expectedCalibrationError(perfect, "s", "y", 10, 0.0, 1.0)
      .collect()(0)
    assert(p.getLong(0) == 4L && p.getLong(1) == 1L && p.getDouble(2) == 0.0)
    // two bins: bin0 holds 2 rows at conf .05 acc 0 (term .1), bin9
    // holds 2 rows at conf .95 acc 1 (term .1) -> ece = .2/4 = .05
    val off = Seq((0.05, false), (0.05, false), (0.95, true), (0.95, true))
      .toDF("s", "y")
    val o = Stats.expectedCalibrationError(off, "s", "y", 10, 0.0, 1.0)
      .collect()(0)
    assert(o.getLong(1) == 2L, o.toString)
    assert(math.abs(o.getDouble(2) - 0.05) < 1e-9, o.toString)
  }

  test("ksStatistic: identical 0, disjoint 1, fuzz vs a naive merge") {
    import spark.implicits._
    val same = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 1.0), ("B", 2.0), ("B", 3.0)).toDF("g", "v")
    val s0 = Stats.ksStatistic(same, "v", "g", "A", "B").collect()(0)
    assert(s0.getLong(2) == 0L && s0.getDouble(4) == 0.0, s0.toString)
    val disj = Seq(("A", 1.0), ("A", 2.0), ("B", 5.0), ("B", 6.0),
      ("B", 7.0), ("C", 9.0)).toDF("g", "v")
    val s1 = Stats.ksStatistic(disj, "v", "g", "A", "B").collect()(0)
    assert(s1.getLong(0) == 2L && s1.getLong(1) == 3L, "C excluded")
    assert(s1.getLong(2) == 6L && s1.getDouble(4) == 1.0, s1.toString)
    // fuzz: discrete values force ties across and within groups
    val rnd = new scala.util.Random(1511)
    val rows = (0 until 500).map(_ =>
      (if (rnd.nextBoolean()) "A" else "B",
        (rnd.nextInt(17) + (if (rnd.nextBoolean()) 0.5 else 0.0))))
    val got = Stats.ksStatistic(rows.toDF("g", "v"), "v", "g", "A", "B")
      .collect()(0)
    val a = rows.filter(_._1 == "A").map(_._2)
    val b = rows.filter(_._1 == "B").map(_._2)
    val merged = (a ++ b).distinct.sorted
    val dnum = merged.map(v => math.abs(
      b.size.toLong * a.count(_ <= v) - a.size.toLong * b.count(_ <= v))).max
    assert(got.getLong(0) == a.size.toLong && got.getLong(1) == b.size.toLong)
    assert(got.getLong(2) == dnum, s"d_num ${got.getLong(2)} want $dnum")
    assert(got.getLong(3) == a.size.toLong * b.size.toLong)
  }

  test("cramersV: perfect 1, independent 0, sparse-grid identity vs full grid") {
    import spark.implicits._
    val perfect = (Seq.fill(5)(("x", "x")) ++ Seq.fill(5)(("y", "y")))
      .toDF("a", "b")
    val p = Stats.cramersV(perfect, "a", "b").collect()(0)
    assert(p.getDouble(4) == 1.0 && p.getLong(1) == 2L && p.getLong(2) == 2L)
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Stats.cramersV(indep, "a", "b").collect()(0)
    assert(i.getDouble(3) == 0.0 && i.getDouble(4) == 0.0, i.toString)
    // 1xk table: min(r-1, c-1) = 0 -> NULL V
    val one = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    assert(Stats.cramersV(one, "a", "b").collect()(0).isNullAt(4))
    // sparse identity vs a dense full-grid chi2 on fuzzed data with
    // genuinely empty cells
    val rnd = new scala.util.Random(1512)
    val rows = (0 until 400).map { _ =>
      val a = rnd.nextInt(5)
      (s"a$a", s"b${if (a < 2) rnd.nextInt(3) else 2 + rnd.nextInt(4)}")
    }
    val got = Stats.cramersV(rows.toDF("a", "b"), "a", "b").collect()(0)
    val n = rows.size.toDouble
    val ra = rows.groupBy(_._1).map { case (k, v) => k -> v.size }
    val cb = rows.groupBy(_._2).map { case (k, v) => k -> v.size }
    val oMap = rows.groupBy(identity).map { case (k, v) => k -> v.size }
    val chi2 = (for (a <- ra.keys; b <- cb.keys) yield {
      val e = ra(a).toDouble * cb(b).toDouble / n
      val o = oMap.getOrElse((a, b), 0).toDouble
      ((o - e) * (o - e)) / e
    }).sum
    assert(oMap.size < ra.size * cb.size, "fuzz must have empty cells")
    assert(math.abs(got.getDouble(3) - chi2) < 1e-6,
      s"chi2 ${got.getDouble(3)} vs dense $chi2")
  }

  test("categoricalMI: independence 0, identity NMI 1, MI = H") {
    import spark.implicits._
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Stats.categoricalMI(indep, "a", "b").collect()(0)
    assert(i.getDouble(1) == 0.0, i.toString)
    val ident = (Seq.fill(6)(("x", "x")) ++ Seq.fill(4)(("y", "y")))
      .toDF("a", "b")
    val d = Stats.categoricalMI(ident, "a", "b").collect()(0)
    assert(d.getDouble(1) == d.getDouble(2) && d.getDouble(2) == d.getDouble(3),
      d.toString)
    assert(d.getDouble(4) == 1.0, "identical keys read NMI 1")
    val h = 0.6 * math.log(10.0 / 6.0) + 0.4 * math.log(10.0 / 4.0)
    assert(math.abs(d.getDouble(2) - h) < 1e-9, d.toString)
    // single-category column: H = 0 -> NMI NULL, MI 0
    val degen = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    val g = Stats.categoricalMI(degen, "a", "b").collect()(0)
    assert(g.getDouble(1) == 0.0 && g.isNullAt(4), g.toString)
  }

  test("anovaOneWay: hand decomposition, perfect separation, degeneracies") {
    import spark.implicits._
    // a:[0,2] b:[4,6] -> SSt 20, SSb 16, eta .8, F = 16/((20-16)/2) = 8
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 4.0), ("b", 6.0))
      .toDF("g", "v")
    val got = Stats.anovaOneWay(df, "v", "g").collect()(0)
    assert(got.getLong(0) == 4L && got.getLong(1) == 2L)
    assert(got.getDouble(2) == 16.0 && got.getDouble(3) == 20.0)
    assert(got.getDouble(4) == 0.8 && got.getDouble(5) == 8.0, got.toString)
    // zero within-variance: eta 1, F divides by zero -> NULL
    val sep = Seq(("a", 1.0), ("a", 1.0), ("b", 3.0), ("b", 3.0))
      .toDF("g", "v")
    val s = Stats.anovaOneWay(sep, "v", "g").collect()(0)
    assert(s.getDouble(4) == 1.0 && s.isNullAt(5), s.toString)
    // one group: SSb 0, F NULL (k-1 = 0)
    val one = Seq(("a", 1.0), ("a", 5.0)).toDF("g", "v")
    val o = Stats.anovaOneWay(one, "v", "g").collect()(0)
    assert(o.getDouble(2) == 0.0 && o.isNullAt(5), o.toString)
  }

  test("hillTailIndex: hand log-ratios, exclusion, tie-pinned top set") {
    import spark.implicits._
    val df = Seq((1L, 8.0), (2L, 4.0), (3L, 2.0), (4L, 1.0),
      (5L, 0.0), (6L, -3.0)).toDF("id", "v")
    val got = Stats.hillTailIndex(df, "v", "id", k = 2).collect()(0)
    assert(got.getLong(0) == 2L && got.getLong(1) == 200L, got.toString)
    def d15(x: Double) =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hsum = (d15(math.log(800.0) - math.log(200.0)) +
      d15(math.log(400.0) - math.log(200.0))).toDouble
    assert(got.getDouble(2) == r9(hsum / 2.0), got.toString)
    assert(got.getDouble(3) == r9(2.0 / hsum), got.toString)
  }

  test("benfordCensus: hand digits, zero/negative exclusion, grid fill") {
    import spark.implicits._
    // cents: 150, 1999, 95, 100, skip 0 and -3.50
    val df = Seq(1.50, 19.99, 0.95, 1.00, 0.0, -3.50).toDF("v")
    val got = Stats.benfordCensus(df, "v").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.size == 9, "all nine digits present")
    assert(got(1) == ((3L, 0.75)), got(1).toString)   // 150, 1999, 100
    assert(got(9) == ((1L, 0.25)), got(9).toString)   // 95
    assert((2 to 8).forall(d => got(d)._1 == 0L), "zero-filled grid")
    // chi2 term for digit 1 recomputed independently (pinned order)
    val row1 = Stats.benfordCensus(df, "v").collect()(0)
    val p = 0.3010299956639812; val n = 4.0; val o = 3.0
    val want = BigDecimal(((o - n * p) * (o - n * p)) / (n * p))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row1.getDouble(4) == want, "chi2 term")
  }

  test("giniConcentration: uniform 0, single-holder (n-1)/n, hand shares") {
    import spark.implicits._
    val uni = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0)).toDF("k", "v")
    val g0 = Stats.giniConcentration(uni, "k", "v", topN = 2).collect()(0)
    assert(g0.getLong(0) == 4L && g0.getLong(1) == 2000L, g0.toString)
    assert(g0.getDouble(2) == 0.0, "uniform ledger has gini 0")
    assert(g0.getDouble(3) == 0.25 && g0.getDouble(4) == 0.5, g0.toString)
    val solo = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 8.0)).toDF("k", "v")
    val g1 = Stats.giniConcentration(solo, "k", "v", topN = 1).collect()(0)
    assert(g1.getDouble(2) == 0.75, "single holder reads (n-1)/n")
    assert(g1.getDouble(3) == 1.0 && g1.getDouble(4) == 1.0)
  }

  test("giniConcentration matches an independent driver formula on fuzzed ledgers") {
    import spark.implicits._
    val rnd = new scala.util.Random(1510)
    val rows = (1L to 300L).flatMap { k =>
      (0 until rnd.nextInt(4)).map(_ => (k, rnd.nextInt(100000) / 100.0))
    }
    val got = Stats.giniConcentration(rows.toDF("k", "v"), "k", "v")
      .collect()(0)
    val per = rows.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(x => math.round(x._2 * 100)).sum
    }.toSeq
    val asc = per.sortBy { case (k, u) => (u, k) }
    val desc = per.sortBy { case (k, u) => (-u, -k) }
    val n = per.size.toDouble
    val st = per.map(_._2).sum
    val s1 = asc.zipWithIndex.map { case ((_, u), i) =>
      BigInt(i + 1) * BigInt(u) }.sum.toDouble
    def r9(v: Double) =
      BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == per.size.toLong && got.getLong(1) == st)
    assert(got.getDouble(2) ==
      r9((2.0 * s1 - (n + 1.0) * st.toDouble) / (n * st.toDouble)), "gini")
    assert(got.getDouble(3) == r9(per.map(_._2).max.toDouble / st.toDouble))
    assert(got.getDouble(4) ==
      r9(desc.take(10).map(_._2).sum.toDouble / st.toDouble), "top10")
  }
}
