package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the library's own session defaults (AQE, shuffle sizing, the
    // small-exchange coalescing floor, registered functions/rules) are
    // part of what is being measured — build through GraftSession
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.registerFunctions(spark)
    GraftSession.registerOptimizations(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    // Noop sink: materializes every output column and keeps ORDER BYs in
    // the plan (a bare count() would let Catalyst prune projections and
    // EliminateSorts drop the sorts — timing work the query never did).
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // JVM/codegen warmup outside the timed loop: the first queries of a
    // cold session otherwise pay ~5-10s of classloading + JIT that has
    // nothing to do with query cost.
    (1 to 2).foreach { _ =>
      try run("t7_reduce") catch { case _: Throwable => () }
    }
    // Best-of-2 per query: a single timing is hostage to transient machine
    // contention (GC storms, co-tenant load); the min of two runs is the
    // query's actual cost. The two passes are *interleaved* — all queries
    // once, then all again — so a contention window minutes wide still
    // can't poison both samples of the same query.
    // A query that throws yields None — NEVER a time. Round 6 showed why:
    // a query dying at analysis in 0.07s was recorded as a 0.07s success
    // and read as a 30× "speedup" on the bench board.
    def timed(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { run(name); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop anything a query left cached so later timings measure their
      // own work, not a predecessor's leaked storage-memory pressure.
      spark.catalog.clearCache()
      if (ok) Some(dt) else None
    }
    val only = SparkEntry.querySubset
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    // min-of-N (default 2, SPARK_GRAFT_BENCH_REPEAT to raise): same-commit
    // driver-vs-local runs have disagreed by up to 4.6× on individual
    // queries under suite-level contention, generating phantom watch-list
    // regressions two rounds running; the min is the query's actual cost
    // and every raw pass is persisted so spread is auditable.
    // toIntOption, not toInt: a typo'd env var must not kill the whole
    // bench run with a NumberFormatException (ADVICE r12)
    val repeatEnv = sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
    // Low-core default is ONE pass: the driver's 8-core scaling run
    // timed out (rc 124) three rounds running because a min-of-2+
    // 280-query suite that takes ~51 min at 32 cores cannot fit the
    // same window at 8. SPARK_GRAFT_BENCH_REPEAT still wins when set —
    // the measurement itself (noop sink, interleaved passes, per-query
    // min) is unchanged, only the default pass count at low core
    // counts.
    val lowCore = cpus.toIntOption.exists(_ <= 8)
    val repeat = repeatEnv.flatMap(_.trim.toIntOption) match {
      case Some(n) => n.max(1)
      case None =>
        repeatEnv.foreach(v => System.err.println(
          s"[bench] unparseable SPARK_GRAFT_BENCH_REPEAT='$v', using default"))
        if (lowCore) 1 else 2
    }
    // Machine load bracketing each pass (VERDICT r13 item 6): driver
    // re-runs under co-tenant contention have read up to 2× the
    // builder's best pass — with the 1-minute loadavg persisted per
    // pass, a contended sample is machine-distinguishable from a code
    // regression in ONE artifact, no forensic cross-referencing.
    def loadAvg(): Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.rint(l * 100) / 100 // -1.0 where the platform has no loadavg
    }
    def runPass(): (Map[String, Option[Double]], Double, Double) = {
      val l0 = loadAvg()
      val p = names.map(n => n -> timed(n)).toMap
      (p, l0, loadAvg())
    }
    var passes: Seq[(Map[String, Option[Double]], Double, Double)] =
      (1 to repeat).map(_ => runPass())
    // Adaptive escalation (VERDICT r12 item 7): driver-side same-commit
    // runs have disagreed by 1.31× total under contention. When the
    // recorded passes' totals (over queries successful in every pass)
    // spread past 15%, one more interleaved pass runs and the per-query
    // min is taken over three samples instead of two. The decision is
    // recorded in the persisted artifact ("adaptive_pass": true) so a
    // 3-run record is distinguishable from a 2-run one.
    def passTotals(ps: Seq[(Map[String, Option[Double]], Double, Double)]): Seq[Double] = {
      val common = names.filter(n => ps.forall(_._1(n).isDefined))
      ps.map(p => common.flatMap(p._1(_)).sum)
    }
    val spread0 = {
      val t = passTotals(passes).filter(_ > 0)
      if (t.size >= 2) t.max / t.min else 1.0
    }
    val adaptive = repeat >= 2 && spread0 > 1.15
    if (adaptive) {
      System.err.println(f"[bench] pass totals spread ${spread0}%.2f× > 1.15× — running one more pass")
      passes = passes :+ runPass()
    }
    // min over the successful samples; "failed" only if no pass ran it
    val results: Map[String, Option[Double]] = names.map { n =>
      n -> passes.flatMap(_._1(n)).minOption
    }.toMap
    // stdout values are rounded half-up to 3 decimals (ms resolution —
    // far below run-to-run noise) to shrink the contract line; the
    // persisted file artifact keeps full precision for audit.
    def ms(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def passJson(p: Map[String, Option[Double]], fmt: Double => String): String =
      obj(p.toSeq.sortBy(_._1).map {
        case (k, Some(v)) => k -> fmt(v)
        case (k, None)    => k -> "\"failed\""
      })
    val failed = results.collect { case (k, None) => k }.toSeq.sorted
    val total = results.values.flatten.sum
    // Key order matters for the driver, not for JSON: the artifact store
    // keeps only a 2000-char TAIL of stdout, and at 280 queries the line
    // is several KB — with the aggregate fields (value, sf, failed,
    // passes) LAST, a truncated tail still ends with the totals. The
    // stdout line and the persisted record share these keys in this
    // order; `passes` tells a single-pass low-core total from a min-of-N.
    def contract(fmt: Double => String): Seq[(String, String)] = Seq(
      "metric" -> "\"total\"", "unit" -> "\"sec\"",
      "queries" -> passJson(results, fmt), "value" -> fmt(total),
      "sf" -> s"\"$sfDir\"", "failed" -> failed.size.toString,
      "passes" -> passes.size.toString)
    val line = obj(contract(ms))
    // the persisted artifact additionally carries every raw pass, each
    // bracketed by its 1-minute loadavg (the stdout contract line
    // stays min-only and parseable as before)
    val runsJson = passes.map { case (p, l0, l1) =>
      obj(Seq("load_start" -> l0.toString, "load_end" -> l1.toString,
        "queries" -> passJson(p, _.toString)))
    }.mkString("[", ",", "]")
    val fileLine = obj(contract(_.toString) ++
      Seq("adaptive_pass" -> adaptive.toString, "runs" -> runsJson))
    // The one-line stdout contract stays; ALSO persist the full per-query
    // JSON to a file (stdout tail-capture truncates a 160-query map, which
    // cost round 7 its round-over-round record for 90 queries). Path
    // overridable for ad-hoc runs; failures are non-fatal — the artifact
    // is a nice-to-have, the stdout line is the contract.
    // A SCOPED run (SPARK_GRAFT_QUERIES set) must never clobber the full
    // record — round 9's restore commit exists because it did exactly
    // that. Subsets default to /tmp; only unscoped runs land in-repo.
    val defaultOut =
      if (only.isDefined) "/tmp/graft_bench_subset.json"
      else "/root/repo/BENCH_FULL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        fileLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full per-query JSON written to $outPath")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(line)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
