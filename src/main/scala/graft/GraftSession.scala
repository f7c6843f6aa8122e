package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.api.GraftFrame
import graft.plans.{NgramHashes, NgramMinHash, SimHash64, HyperplaneLshBucket}

/** The engine's front door: a tuned SparkSession plus the graft function
  * surface registered for SQL use.
  *
  * Capability parity: the reference's session is `cluster.CreateNode` +
  * worker bootstrapping (reference cluster/node.go:123-150) — all of that
  * is Spark's driver/executor layer here. What remains is configuration
  * tuned for the workload shape and registering our native expressions so
  * `spark.sql("SELECT simhash64(...)")` works — SQL being the surface the
  * reference never had.
  */
object GraftSession {

  /** Scale-minded defaults:
    *  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
    *  - shuffle partitions sized to the machine, not Spark's legacy 200
    *  - UTC session timezone (cross-engine reproducibility)
    */
  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // coalescePartitions.minPartitionSize stays at Spark's default. An
      // earlier 16 KB floor (meant to keep small-but-CPU-heavy rescore
      // exchanges spread) was A/B-measured at sf0.1 across 15 queries,
      // 2 runs per config: the floor helped nothing (every rescore-heavy
      // ANN query was equal or faster WITHOUT it — their operators now
      // spread explicitly where it matters) and taxed small queries by
      // blocking AQE from coalescing tiny shuffles (t1_map 1.70→0.96 s,
      // x_pq_ann 3.00→2.43 s, x_knn_join 1.90→1.40 s). Measured, not
      // guessed: see VERDICT r6 item 7.
      .config("spark.sql.session.timeZone", "UTC")
      // Whole-stage-codegen compile cache sized for a many-query session:
      // the default 100 entries cannot even hold ONE of the heavy
      // analytical plans (x_mkn_nll compiles 126 units), so every
      // re-invocation re-runs janino on the whole query — measured 744
      // units recompiled across a 25-query second pass at the default vs
      // 122 at this size. Static conf (read once per JVM); a -D system
      // property set at launch wins, which is also the A/B lever.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "16384"))
      // Cached plans keep AQE (broadcast conversion, coalescing) while
      // materializing: Snapshots.snapshot persists its input around the
      // reliable checkpoint (see there), and without this flag the cache
      // build would fall back to the static planner — losing exactly the
      // runtime join decisions the snapshot's upstream (ANN pipelines,
      // pair joins) depends on.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")

  def create(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    registerFunctions(spark)
    registerOptimizations(spark)
    spark
  }

  /** The individual checks behind [[validateScaleConf]], over explicit
    * inputs so the policy is unit-testable without mutating a shared
    * SparkContext (a checkpoint directory cannot be UNset once set).
    * Returns human-readable violations; empty = compliant.
    */
  def scaleConfViolations(hasCheckpointDir: Boolean,
                          requireReliable: Boolean,
                          aqeEnabled: Boolean,
                          skewJoinEnabled: Boolean,
                          broadcastThresholdBytes: Long,
                          shufflePartitions: Int,
                          defaultParallelism: Int): Seq[String] = Seq(
    Option.when(!hasCheckpointDir)(
      "no checkpoint directory: every lineage-cutting op (graph loops, " +
        "rank decompositions, fused curation passes) falls back to " +
        "localCheckpoint() — executor-memory blocks that die with their " +
        "executor and cannot be recomputed past the lineage cut. Call " +
        "spark.sparkContext.setCheckpointDir(<reliable path>)"),
    Option.when(!requireReliable)(
      s"${graft.functions.Snapshots.RequireReliableKey} is not true: a " +
        "future session (or a code path that loses the directory) would " +
        "degrade to localCheckpoint() SILENTLY instead of failing loud. " +
        "Set it so the deployment says 'reliable or nothing'"),
    Option.when(!aqeEnabled)(
      "spark.sql.adaptive.enabled=false: runtime re-planning, skew-join " +
        "splitting and partition coalescing are off — the engine's " +
        "operators assume AQE outside their explicitly scoped loops"),
    Option.when(!skewJoinEnabled)(
      "spark.sql.adaptive.skewJoin.enabled=false: one hot key serializes " +
        "its whole join partition at 100 TB"),
    Option.when(broadcastThresholdBytes <= 0L)(
      "autoBroadcastJoinThreshold disabled (<= 0): dimension tables, " +
        "probe batches and sketch indexes would all shuffle-join"),
    Option.when(broadcastThresholdBytes > (1L << 31))(
      s"autoBroadcastJoinThreshold $broadcastThresholdBytes > 2 GiB: " +
        "past Spark's broadcast-table hard limit; driver OOM risk"),
    Option.when(shufflePartitions < defaultParallelism)(
      s"spark.sql.shuffle.partitions=$shufflePartitions < cluster " +
        s"parallelism $defaultParallelism: shuffles leave cores idle " +
        "before AQE can coalesce anything")
  ).flatten

  /** Unparseable ≠ disabled: aliasing a malformed
    * autoBroadcastJoinThreshold onto -1 would tell the operator to
    * "enable broadcasting" when the real fix is the typo'd string.
    * Runtime `conf.set` validates the value, but spark-defaults.conf /
    * --conf at launch can still deliver garbage — surface it as its own
    * violation, with a placeholder default so the threshold checks
    * don't ALSO fire a misleading disabled/oversized message.
    */
  private[graft] def parseBroadcastThreshold(
      thresholdStr: String): (Long, Option[String]) = {
    // plain longs first: byteStringAsBytes rejects negatives, but "-1"
    // is the documented disable value and must reach the disabled check
    val parsed = thresholdStr.trim.toLongOption.orElse(
      try Some(org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(thresholdStr))
      catch { case _: Exception => None })
    (parsed.getOrElse(10L * 1024 * 1024),
      Option.when(parsed.isEmpty)(
        s"spark.sql.autoBroadcastJoinThreshold='$thresholdStr' is " +
          "unparseable (expected bytes or a size like '32MB')"))
  }

  /** 100 TB preflight — ONE call before a cluster run that turns the
    * deployment checklist into a loud failure instead of a silent
    * degradation: reliable checkpoints (directory set AND the
    * [[graft.functions.Snapshots.RequireReliableKey]] fail-loud
    * contract armed), AQE + skew-join splitting on, a sane broadcast
    * threshold, shuffle parallelism at least the cluster's. On
    * success it prints the per-operator scale levers a deployment
    * should size deliberately (they all have measured-at-sf0.1
    * defaults but 100 TB wants explicit choices). `failFast = false`
    * returns the violation list instead of throwing — the report
    * form for notebooks.
    */
  def validateScaleConf(spark: SparkSession,
                        failFast: Boolean = true): Seq[String] = {
    val sc = spark.sparkContext
    val (threshold, parseViolation) = parseBroadcastThreshold(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    val violations = parseViolation.toSeq ++ scaleConfViolations(
      hasCheckpointDir = sc.getCheckpointDir.isDefined,
      requireReliable = spark.conf
        .get(graft.functions.Snapshots.RequireReliableKey, "false").toBoolean,
      aqeEnabled = spark.conf
        .get("spark.sql.adaptive.enabled", "true").toBoolean,
      skewJoinEnabled = spark.conf
        .get("spark.sql.adaptive.skewJoin.enabled", "true").toBoolean,
      broadcastThresholdBytes = threshold,
      shufflePartitions = spark.conf
        .get("spark.sql.shuffle.partitions", "200").toInt,
      defaultParallelism = sc.defaultParallelism)
    if (violations.isEmpty)
      // the levers a 100 TB run should set deliberately, one place
      System.err.println(
        """[graft] scale preflight OK. Levers to size for the run:
          |  ANN:    ivfIndex/ivfProbeIndex nCentroids + nProbe (recall/cost),
          |          knnJoinBlocked margin + saltBuckets (skew spread)
          |  Dedup:  Dedup.lshPlan picks (numHashes, rowsPerBand) from a
          |          target Jaccard S-curve; minhashBandIndexBuild freezes it
          |  Text:   removeFrequentUnits maxDfRatio, heavyHitters support,
          |          budgetSelect/packOffsets bucket counts
          |  Joins:  spark.graft.rangeJoin.binWidth (range-join rewrite),
          |          broadcast() hints on probe batches"""
          .stripMargin)
    else if (failFast)
      throw new IllegalStateException(
        ("scale preflight FAILED:" +: violations.map("  - " + _))
          .mkString("\n"))
    violations
  }

  /** Install graft's optimizer rules on a live session (idempotent).
    * Currently: the opt-in binned range-join rewrite
    * ([[graft.plans.RangeJoinRewrite]], enabled by setting
    * `spark.graft.rangeJoin.binWidth`).
    */
  def registerOptimizations(spark: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.PlanBridge
      .addOptimization(spark, graft.plans.RangeJoinRewrite)

  /** Register graft's native expressions in the session's FunctionRegistry
    * so they are callable from SQL text, not just the Scala DSL.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash64",
      exprs => SimHash64(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("ngram_minhash",
      exprs => NgramMinHash(exprs(0), exprInt(exprs(1)), exprInt(exprs(2))), "scala_udf")
    reg.createOrReplaceTempFunction("ngram_hashes",
      exprs => NgramHashes(exprs(0), exprInt(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("ngram_hashes_all",
      exprs => graft.plans.NgramHashesAll(exprs(0), exprInt(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("lsh_bucket",
      exprs => HyperplaneLshBucket(exprs(0), exprInt(exprs(1)), 42L), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_signature",
      exprs => graft.plans.MinHashSignature(exprs(0), exprInt(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fingerprints",
      exprs => graft.plans.WinnowFingerprints(exprs(0), exprInt(exprs(1)), exprInt(exprs(2))), "scala_udf")
    // md5_prefix_anchors(text, k, byteCutoff) / xx_mod_anchors(text, k,
    // density): the content-defined anchor selectors behind substring
    // dedup + span decontamination, from SQL text.
    reg.createOrReplaceTempFunction("md5_prefix_anchors",
      exprs => graft.plans.Md5PrefixAnchors(exprs(0), exprInt(exprs(1)), exprInt(exprs(2))), "scala_udf")
    reg.createOrReplaceTempFunction("xx_mod_anchors",
      exprs => graft.plans.XxModAnchors(exprs(0), exprInt(exprs(1)), exprInt(exprs(2))), "scala_udf")
    // bpe_merge_pair(tokens, left, right): one greedy BPE merge pass —
    // chain in rank order to encode against a trained merge table.
    reg.createOrReplaceTempFunction("bpe_merge_pair",
      exprs => graft.plans.BpeMergePair(exprs(0), exprString(exprs(1)), exprString(exprs(2))), "scala_udf")
    // funnel_reach(events, array(steps...), windowUs): the deep-funnel
    // per-user kernel from SQL text — events as array<struct<us, t>>,
    // steps as a foldable string-array literal.
    reg.createOrReplaceTempFunction("funnel_reach",
      exprs => graft.plans.FunnelReach(exprs(0),
        exprStringArray(exprs(1)).toIndexedSeq, exprLong(exprs(2))), "scala_udf")
    // unigram_viterbi(word, array(pieces...), array(logps...), maxPieceLen):
    // the unigram-LM segmentation kernel from SQL text — vocabulary rides
    // as two parallel foldable array literals (plan-time state in the DSL
    // path too).
    reg.createOrReplaceTempFunction("unigram_viterbi",
      exprs => graft.plans.UnigramViterbi(exprs(0),
        exprStringArray(exprs(1)).toIndexedSeq,
        exprDoubleArray(exprs(2)).toIndexedSeq, exprInt(exprs(3))), "scala_udf")
    // argmax_dot(vec, flat_centroids, dim): the IVF/PQ assignment kernel
    // from SQL text — centroids as a foldable array literal (they are
    // plan-time literals in the DSL path too, so SQL loses nothing).
    reg.createOrReplaceTempFunction("argmax_dot",
      exprs => graft.plans.ArgMaxDot(exprs(0), exprDoubleArray(exprs(1)),
        exprInt(exprs(2))), "scala_udf")
    // argmax_dot_exact(vec, flat_centroids, dim): the k-means assignment
    // kernel (two-phase exact-decimal argmax) from SQL text.
    reg.createOrReplaceTempFunction("argmax_dot_exact",
      exprs => graft.plans.ArgMaxDotExact(exprs(0), exprDoubleArray(exprs(1)),
        exprInt(exprs(2))), "scala_udf")
    // char_entropy_stats(text) → struct(n, s): the map-side census behind
    // Corpus.charEntropy; entropy = ln(n) − s/n in plain SQL.
    reg.createOrReplaceTempFunction("char_entropy_stats",
      exprs => graft.plans.CharEntropyStats(exprs.head), "scala_udf")
    // script_profile(text) → struct of Unicode-block counts: the
    // pre-tokenizer multilingual router from SQL text.
    reg.createOrReplaceTempFunction("script_profile",
      exprs => graft.plans.ScriptProfile(exprs.head), "scala_udf")
    // dot_f(a, b): the single-pass float-array dot kernel — the SQL user's
    // building block for cosine scoring without the interpreted HOF tax.
    reg.createOrReplaceTempFunction("dot_f",
      exprs => graft.plans.DotProductF(exprs(0), exprs(1)), "scala_udf")
    // multi_match_counts(text, array(phrases...)): the Aho–Corasick
    // blocklist kernel from SQL text — phrase list as a foldable
    // string-array literal (plan-time automaton state in the DSL path
    // too); element i counts phrase i, replace()-count semantics.
    reg.createOrReplaceTempFunction("multi_match_counts",
      exprs => graft.plans.MultiMatchCounts(exprs(0),
        exprStringArray(exprs(1)).toIndexedSeq), "scala_udf")
    // unicode_normalize(text, 'NFC'|'NFD'|'NFKC'|'NFKD'): the corpus-
    // hygiene normalizer Spark's builtin surface lacks.
    reg.createOrReplaceTempFunction("unicode_normalize",
      exprs => graft.plans.UnicodeNormalize(exprs(0),
        exprString(exprs(1))), "scala_udf")
    // mixture_copy_ids(stratum, key, map('en', 2.2, …), defaultWeight):
    // the DoReMi mixture resample from SQL text — returns the copy-id
    // array a row contributes (null when it contributes nothing), so the
    // whole resample is `LATERAL VIEW explode(mixture_copy_ids(...))`.
    // Weights ride as a foldable map literal (plan-time state in the DSL
    // path too); the expression tree is built by the SAME code as the
    // DSL, so SQL and DSL results are identical by construction.
    reg.createOrReplaceTempFunction("mixture_copy_ids",
      exprs => org.apache.spark.sql.graftbridge.ColumnBridge.expressionEager(
        spark,
        graft.functions.Corpus.mixtureCopyIds(
          org.apache.spark.sql.graftbridge.ColumnBridge.column(exprs(0)),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(exprs(1)),
          exprStringDoubleMap(exprs(2)),
          exprDouble(exprs(3)))), "scala_udf")
    // interleaveByWeight / heavyHitters stay DSL-only by design: each is
    // a multi-stage PLAN (two-level bucket-rank decomposition; two-pass
    // Misra–Gries sketch + exact recount), not a scalar expression — a
    // SQL scalar registration would have to hide stages with the wrong
    // scale shape. The blessed SQL route is the DSL entry point over a
    // registered view (see README "SQL surface").
    // StopwordProfileArgmax still carries Seq[Seq[String]] profile state —
    // exposed through the Scala DSL only.
  }

  private def exprDouble(e: org.apache.spark.sql.catalyst.expressions.Expression): Double =
    e.eval(null) match {
      case d: java.lang.Double => d.doubleValue
      case f: java.lang.Float => f.doubleValue
      case i: java.lang.Integer => i.doubleValue
      case l: java.lang.Long => l.doubleValue
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(s"expected numeric literal, got $other")
    }

  /** Evaluate a foldable `map(string, numeric)` literal (SQL `map(…)`). */
  private def exprStringDoubleMap(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Map[String, Double] = {
    require(e.foldable, s"expected a foldable map literal, got $e")
    val valueType = e.dataType match {
      case org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType, vt, _) => vt
      case other => throw new IllegalArgumentException(
        s"expected map<string, numeric> literal, got ${other.catalogString}")
    }
    e.eval(null) match {
      case m: org.apache.spark.sql.catalyst.util.MapData =>
        val keys = m.keyArray.toObjectArray(org.apache.spark.sql.types.StringType)
        val vals = m.valueArray.toObjectArray(valueType)
        keys.zip(vals).map { case (k, v) =>
          k.toString -> (v match {
            case d: java.lang.Double => d.doubleValue
            case f: java.lang.Float => f.doubleValue
            case i: java.lang.Integer => i.doubleValue
            case l: java.lang.Long => l.doubleValue
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case other => throw new IllegalArgumentException(
              s"expected numeric map value, got $other")
          })
        }.toMap
      case other => throw new IllegalArgumentException(
        s"expected map literal, got $other")
    }
  }

  private def exprString(e: org.apache.spark.sql.catalyst.expressions.Expression): String =
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(s"expected string literal, got $other")
    }

  private def exprInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"expected int literal, got $other")
    }

  private def exprLong(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
    e.eval(null) match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(s"expected long literal, got $other")
    }

  /** Evaluate a foldable string-array argument (SQL `array('a','b')`). */
  private def exprStringArray(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Array[String] = {
    require(e.foldable, s"expected a foldable array literal, got $e")
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType).map {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"expected string array element, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
  }

  /** Evaluate a foldable numeric-array argument (SQL `array(…)` literal)
    * to the flat centroid table [[graft.plans.ArgMaxDot]] expects.
    */
  private def exprDoubleArray(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Array[Double] = {
    require(e.foldable, s"expected a foldable array literal, got $e")
    val elemType = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(t, _) => t
      case other => throw new IllegalArgumentException(
        s"expected array literal, got ${other.catalogString}")
    }
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(elemType).map {
          case d: java.lang.Double => d.doubleValue
          case f: java.lang.Float => f.doubleValue
          case i: java.lang.Integer => i.doubleValue
          case l: java.lang.Long => l.doubleValue
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"expected numeric array element, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
  }

  /** Read one of the standard tables, normalizing storage quirks (the
    * events table stores TIMESTAMP(NANOS), which Spark reads only as long
    * — converted here via exact integer division to microseconds).
    *
    * Plans are cached per (session, dir, table): a DataFrame is an
    * immutable logical plan, and re-building it re-lists the path and
    * re-reads the parquet footer — a fixed tax per query invocation that
    * adds up across an 89-query bench suite. Keyed on session identity so
    * a plan never leaks into a different session's analyzer.
    */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (System.identityHashCode(spark), dir, name)
    val cached = tableCache.get(key)
    // identity re-check guards the (astronomically unlikely) hash collision
    if (cached != null && (cached._1 eq spark)) cached._2
    else {
      // bound the cache: entries strongly reference sessions and analyzed
      // plans, so an unbounded map would pin every stopped test session's
      // heap. A wholesale clear past the cap is fine — rebuilding is one
      // footer re-read.
      if (tableCache.size >= 256) tableCache.clear()
      val df = readTableUncached(spark, dir, name)
      tableCache.put(key, (spark, df))
      df
    }
  }

  /** Scan-parallelism floor for expensive per-row operators (guide §2.5
    * input skew — "one huge unsplittable file... repartition immediately
    * after the read"): a table written as one parquet row group cannot
    * split below the row-group boundary, so a map-only kernel over it
    * serializes on ONE task regardless of cores. When `df`'s physical
    * plan is exchange-free and its leaf scans yield fewer partitions than
    * `defaultParallelism`, returns `df.repartition(par, keys: _*)`
    * (round-robin without keys); otherwise `df` unchanged.
    *
    * Decided from the plan, never by running it: under AQE any plan that
    * needs a shuffle or a subquery is wrapped in AdaptiveSparkPlanExec,
    * and asking it for `rdd` partitions would execute every upstream
    * stage at construction time. Such inputs keep the partitioning AQE
    * gives them. Leaf split counts come from the scans' input RDDs
    * (file listing, checkpoint or local rows — no job); a leaf that
    * cannot report one (a cached relation) leaves the input untouched.
    * At real scale scans arrive with ≫ cores partitions and the branch
    * is self-disabling.
    */
  private[graft] def spreadScan(df: DataFrame, keys: Column*): DataFrame = {
    import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = df.queryExecution.executedPlan
    val par = df.sparkSession.sparkContext.defaultParallelism
    val exchangeFree = !plan.exists {
      case _: Exchange | _: AdaptiveSparkPlanExec => true
      case p => p.subqueries.nonEmpty
    }
    val splits = if (!exchangeFree) Nil else plan.collectLeaves().map {
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case s: DataSourceV2ScanExecBase => Some(s.inputRDD.getNumPartitions)
      case s: CodegenSupport => Some(s.inputRDDs().map(_.getNumPartitions).sum)
      case _ => None
    }
    val leafParts = Option.when(exchangeFree && splits.forall(_.isDefined))(
      splits.flatten.sum)
    val fire = leafParts.exists(_ < par)
    if (log.isDebugEnabled)
      log.debug(s"spreadScan fired=$fire exchangeFree=$exchangeFree " +
        s"leafPartitions=${leafParts.getOrElse("unknown")} par=$par " +
        s"keys=${keys.mkString(",")}")
    if (!fire) df
    else if (keys.isEmpty) df.repartition(par)
    else df.repartition(par, keys: _*)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.GraftSession")

  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String),
      (SparkSession, DataFrame)]()

  private def readTableUncached(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") readEvents(spark, s"$dir/$name.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Schema-adaptive events read: coerce `ts` from whatever the fixture's
    * physical encoding IS to the session's TimestampType, instead of
    * hard-coding one historical encoding. The fixture has stored `ts` as
    * int64 nanoseconds (requires the legacy nanosAsLong flag to read at
    * all) and as native `timestamp[us]` (reads as TIMESTAMP_NTZ) at
    * different times; a reader pinned to either breaks on the other.
    * Mirrors the reference's declared-schema coercion at parse time
    * (reference datasource/parser/dsv/dsv_utils.go:11-116): the declared
    * type is fixed, the raw encoding is whatever the data says.
    */
  private def readEvents(spark: SparkSession, path: String): DataFrame = {
    // Probe with a plain read first. Nanos-annotated INT64 parquet is the
    // one encoding a plain read rejects outright (Illegal Parquet type),
    // and it throws eagerly at schema inference — treat that as the
    // signal for the legacy-shim path rather than pattern-matching on
    // exception text.
    val plain =
      try {
        val df = spark.read.parquet(path); df.schema; Some(df)
      } catch { case _: Exception => None }
    plain match {
      case Some(df) => normalizeEventsTs(df)
      case None =>
        // Scoped per-read: the legacy flag is set on a *cloned* session
        // (shared SparkContext, private SQLConf) that the file relation
        // captures, instead of mutating the caller's session conf — which
        // would silently change how unrelated code in the same session
        // reads nanos-timestamp parquet. (A read-level .option() does not
        // reach the executor-side parquet schema converter.)
        val scoped = spark.newSession()
        scoped.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        normalizeEventsTs(scoped.read.parquet(path))
    }
  }

  /** Coerce an events frame's `ts` column to the session TimestampType
    * based on what the frame's schema says it is. Public so streaming
    * reads over the same fixture can share the coercion (a readStream
    * resolves its own schema and hits the same drift).
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType =>
        // raw int64 (or the legacy nanosAsLong read): the fixture's
        // convention is epoch nanoseconds
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // session timezone is UTC, so this cast reinterprets the same
        // microsecond value as an instant — no wall-clock shift
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported fixture encoding $other")
    }
  }

  /** Expected logical column families per fixture table, AFTER readTable
    * normalization. Families (not exact Catalyst types) because the
    * adaptive reader absorbs encoding drift within a family — e.g.
    * events.ts has been int64-nanos, nanos-annotated, and timestamp[us]
    * across fixture generations, all normalizing to the timestamp family.
    * Drift OUTSIDE a family is what this check diagnoses by name.
    */
  private val expectedFixtureSchemas: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  private def typeFamily(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => "int"
      case LongType => "bigint"
      case FloatType | DoubleType => "double"
      case StringType => "string"
      case TimestampType | TimestampNTZType | DateType => "timestamp"
      case ArrayType(FloatType | DoubleType, _) => "array<float>"
      case other => other.simpleString
    }
  }

  /** Diagnose fixture-schema drift the adaptive readers cannot absorb.
    * Returns one human message per problem, naming the table.column and
    * both types — so a regenerated fixture fails in seconds with "events.ts:
    * expected timestamp, got string", not as a silently shrinking query
    * board (the round-6 failure mode). Empty result = fixture compatible.
    */
  def fixtureSchemaDrift(spark: SparkSession, dir: String): Seq[String] =
    expectedFixtureSchemas.flatMap { case (table, want) =>
      val actual =
        try Right(readTable(spark, dir, table).schema)
        catch { case e: Exception =>
          Left(s"$table: unreadable — ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(200))
        }
      actual match {
        case Left(msg) => Seq(msg)
        case Right(schema) =>
          val byName = schema.fields.map(f => f.name -> f.dataType).toMap
          want.flatMap { case (colName, family) =>
            byName.get(colName) match {
              case None =>
                Some(s"$table.$colName: missing (expected $family)")
              case Some(dt) if typeFamily(dt) != family =>
                Some(s"$table.$colName: expected $family, got ${dt.simpleString}")
              case _ => None
            }
          }
      }
    }

  /** Register the standard testdata tables as SQL views over a scale dir. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      try readTable(spark, dir, n).createOrReplaceTempView(n)
      catch { case _: Exception => () } // missing table in a custom dir
    }
  }

  /** SQL passthrough returning the chainable frame. */
  def sql(spark: SparkSession, query: String): GraftFrame =
    GraftFrame(spark.sql(query))
}
