package graft

/** Physical-plan regression tests: the plan *shape* is part of each
  * operator's contract at 100 TB (a correct-but-quadratic plan is a
  * failure), so the properties verified by hand in past rounds are pinned
  * here — pushdown reaching the scan, dimension joins broadcasting,
  * candidate generation staying equi-join-sized, top-k avoiding a global
  * sort.
  */
@graft.Heavy // top-tier suite by measured wall time; excluded from `sbt smoke`
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.queryExecution.executedPlan.toString
  }

  // A name declared twice would shadow one query and could pair the
  // survivor with the other's oracle. The index step is the one place
  // records meet, so it must refuse the twin by name; a query without an
  // oracle no longer compiles (BoardQuery's oracle is required).
  test("board index: a duplicate query name fails loudly, the real board has none") {
    val q = SparkEntry.board("t1_map")
    val e = intercept[IllegalArgumentException](SparkEntry.index(
      Seq(q, SparkEntry.board("a3_count"), q.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains("t1_map") && !e.getMessage.contains("a3_count"),
      e.getMessage)
    assert(SparkEntry.index(SparkEntry.records).size == SparkEntry.records.size)
  }

  // Object vals initialize in source order: an oracle that interpolates
  // a CTE val declared further down its file splices the word null.
  test("board oracles splice no uninitialized helper val") {
    val spliced = SparkEntry.oracleSql.collect {
      case (n, sql) if "\\bnull\\b".r.findFirstIn(sql).isDefined => n
    }
    assert(spliced.isEmpty, s"oracles with a spliced null: ${spliced.toSeq.sorted}")
  }

  // plan nodes named `name` (whole-stage-codegen ids stripped)
  private def nodes(p: String, name: String): Int = p.linesIterator.count { l =>
    val node = l.dropWhile(" :+-".contains(_)).replaceFirst("^\\*\\(\\d+\\) ", "")
    node == name || node.startsWith(name + " ") || node.startsWith(name + "(")
  }

  private def assertJoinCounts(pins: Seq[(String, (Int, Int, Int))]): Unit =
    pins.foreach { case (q, want) =>
      val p = plan(q)
      val got = (nodes(p, "Exchange"), nodes(p, "BroadcastHashJoin"),
        nodes(p, "SortMergeJoin"))
      assert(got == want, s"$q (Exchange, BroadcastHashJoin, SortMergeJoin):\n$p")
    }

  // Shuffle and join counts of the n-gram LM scorers and the TF-IDF
  // index build/append/probe plans at sf0.001: a change that adds an
  // Exchange or turns a broadcast into a sort-merge join fails here by
  // query name, without a plan text dump to diff.
  test("n-gram LM and TF-IDF index plans: pinned Exchange / BroadcastHashJoin / SortMergeJoin counts") {
    assertJoinCounts(Seq(
      "x_bigram_nll" -> ((8, 4, 0)),
      "x_jm_nll" -> ((8, 4, 0)),
      "x_trigram_nll" -> ((10, 6, 0)),
      "x_kn_nll" -> ((23, 8, 0)),
      "x_mkn_nll" -> ((36, 7, 1)),
      "x_tfidf_probe" -> ((21, 6, 1)),
      "x_tfidf_append" -> ((6, 4, 0))))
  }

  // The Stats family's shuffle and join counts at sf0.001, global and
  // grouped forms side by side: the rank, census and grid scaffolds
  // each show up here when they gain an Exchange or lose a broadcast.
  test("Stats family plans: pinned Exchange / BroadcastHashJoin / SortMergeJoin counts") {
    assertJoinCounts(Seq(
      "x_auc" -> ((6, 2, 0)),
      "x_auc_by_group" -> ((7, 2, 0)),
      "x_confusion" -> ((1, 0, 0)),
      "x_confusion_by_group" -> ((2, 0, 0)),
      "x_reliability" -> ((2, 1, 0)),
      "x_reliability_by_group" -> ((3, 1, 0)),
      "x_drift" -> ((6, 4, 0)),
      "x_drift_by_group" -> ((11, 5, 0)),
      "x_spearman" -> ((11, 4, 0)),
      "x_ks_test" -> ((8, 1, 0)),
      "x_contingency" -> ((8, 2, 0)),
      "x_mutual_info" -> ((18, 4, 0))))
    // the rankings and the KS cumsums run per order-statistic bucket:
    // no global sort
    Seq("x_auc", "x_spearman", "x_ks_test").foreach { q =>
      val p = plan(q)
      assert(!p.contains("rangepartitioning"), s"$q sorts globally:\n$p")
    }
  }

  // approx_percentile merges sketches, not values: a partial aggregate
  // per task, one SinglePartition exchange of the sketch buffers, and
  // the final merge
  test("x_approx_quantile: one ObjectHashAggregate pair around one SinglePartition exchange") {
    val p = plan("x_approx_quantile")
    assert(nodes(p, "ObjectHashAggregate") == 2, p)
    assert(nodes(p, "Exchange") == 1 && "Exchange SinglePartition".r.findAllIn(p).size == 1, p)
  }

  // r and c count the marginal tables' rows: a distinct aggregate would
  // plan an Expand whose column order changes between runs
  test("x_cramers_v: no Expand, so the plan text is the same on every run") {
    val p = plan("x_cramers_v")
    assert(nodes(p, "Expand") == 0, p)
  }

  test("t3_filter: predicate pushdown and column pruning reach the scan") {
    val p = plan("t3_filter")
    assert(p.contains("PushedFilters: ["), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("PushedFilters: []"))
    // 17-column lineitem, 5-column output: the scan must not read them all
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(scanCols.nonEmpty && scanCols.split(",").length <= 8,
      s"scan reads too many columns: $scanCols")
  }

  test("r_join: dimension joins broadcast, no shuffle of the small sides") {
    assert(plan("r_join").contains("BroadcastHashJoin"))
  }

  test("x_tfidf_topk: inverted-index equi-join candidates, WindowGroupLimit top-k") {
    val p = plan("x_tfidf_topk")
    assert(!p.contains("CartesianProduct"),
      s"tfidf retrieval fell back to all-pairs:\n$p")
    // the only nested loops allowed are the 1-row corpus-count stat
    // broadcasts (`crossJoin(broadcast(nDocs))`, the bm25 shape): one per
    // replay of the posting lineage in the diamond (posting ×2 / norms /
    // qn — identical subtrees AQE collapses via ReusedExchange at run
    // time). Each is a Cross build of a single-row IdentityBroadcastMode;
    // a data×data fallback would be an Inner/condition-free BNLJ.
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 4,
      s"unexpected nested loop in tfidf retrieval:\n$p")
    // candidate generation must be the hash equi-join on the gram hash
    assert(p.contains("BroadcastHashJoin [__th"),
      s"inverted-index join is not a hash equi-join:\n$p")
    // the rank <= k filter over the per-query window must stay partial +
    // final top-k heaps, never a full scored-candidate sort+shuffle
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"tfidf top-k lost the per-partition heap:\n$p")
  }

  test("dedup/ANN candidate generation is equi-join-sized (no nested loop)") {
    Seq("x_simhash", "x_minhash_neardup", "x_lsh_ann", "x_ngram_jaccard",
        "x_embed_neardup", "x_fuzzy_join")
      .foreach { q =>
        assert(!plan(q).contains("BroadcastNestedLoopJoin"),
          s"$q fell back to an all-pairs nested loop")
        assert(!plan(q).contains("CartesianProduct"),
          s"$q fell back to a cartesian product")
      }
  }

  test("round-10 ops: equi-join-sized candidates, no rescan window frames") {
    Seq("x_dbscan", "x_linkage", "x_multitouch", "x_transitions",
        "x_paths", "x_sessions", "x_compaction", "x_interpolate")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q fell back to an all-pairs nested loop")
        assert(!p.contains("CartesianProduct"),
          s"$q fell back to a cartesian product")
      }
    // the interpolation carries must be GROWING frames: an (unbounded
    // following) frame is Spark's per-row partition rescan — O(span²)
    // per key (the 37 s regression this pin prevents)
    assert(!plan("x_interpolate").toLowerCase.contains("unboundedfollowing"),
      "interpolate reintroduced a rescan (unbounded following) frame")
  }

  test("round-10 second wave: every pair generator and join is equi-keyed") {
    // x_sssp / x_kanon / x_token_shift intentionally carry 1-row
    // broadcast cross joins (converged flag / audit summary / corpus
    // totals — the kCore convention), which plan as
    // BroadcastNestedLoopJoin by design; they still must not produce a
    // CartesianProduct (a data×data cross would never broadcast)
    val oneRowBroadcasts = Set("x_sssp", "x_kanon", "x_token_shift",
      "x_basket_pairs", "x_contingency")
    Seq("x_sssp", "x_basket_pairs", "x_kanon", "x_trend", "x_outliers",
        "x_impute", "x_retrieval_eval", "x_token_shift", "x_qbucket",
        "x_diversity", "x_funnel_latency", "r_hopping_window",
        "x_contingency", "x_spearman", "x_missingness",
        "x_temporal_split", "x_cohort_value", "x_stickiness")
      .foreach { q =>
        val p = plan(q)
        if (!oneRowBroadcasts(q))
          assert(!p.contains("BroadcastNestedLoopJoin"),
            s"$q fell back to an all-pairs nested loop")
        assert(!p.contains("CartesianProduct"),
          s"$q fell back to a cartesian product")
      }
    // the diversity census must stay a pure scan projection: the ONLY
    // exchange allowed anywhere in the plan is the presentation sort's
    // own rangepartitioning — a hash or single-partition exchange means
    // an array op leaked into a shuffle stage (plans print root-first,
    // so the census sits BELOW the sort line, not above it)
    val divPlan = plan("x_diversity")
    assert(!divPlan.contains("Exchange hashpartitioning") &&
      !divPlan.contains("Exchange SinglePartition"),
      "diversity census leaked a non-presentation shuffle")
    // spearman's whole point is rank assignment WITHOUT a global sort —
    // its plan must contain no global Sort at all (its windows sort
    // within bucket partitions; printed as `Sort [...], false, 0`)
    assert(!plan("x_spearman").linesIterator.exists(l =>
      l.contains("Sort [") && l.contains("], true, 0")),
      "spearman reintroduced a global sort")
  }

  test("r_asof_broadcast: custom exec present, probe side never shuffled") {
    val p = plan("r_asof_broadcast")
    assert(p.contains("BroadcastAsOfJoin"), p)
    // The reference side may aggregate (its own exchange) and the final
    // presentation ORDER BY sorts — but the probe side must reach the
    // custom node unshuffled. In tree text the probe (left) subtree's
    // lines are ':'-prefixed under the join node.
    val probeLines = p.linesIterator
      .dropWhile(!_.contains("BroadcastAsOfJoin")).drop(1)
      .takeWhile(_.trim.startsWith(":"))
      .mkString("\n")
    assert(probeLines.nonEmpty, s"could not isolate probe subtree:\n$p")
    assert(!probeLines.contains("Exchange"),
      s"probe side shuffled under the broadcast as-of join:\n$probeLines")
  }

  test("x_range_join: BETWEEN predicate runs as an equi-join on bins") {
    val p = plan("x_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join fell back to a nested loop")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashJoin"), s"expected a hash join on bin ids:\n$p")
  }

  test("x_decontam: inverted-index join, no nested loop, no gram strings shuffled") {
    val p = plan("x_decontam")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("a1_collect: bounded top-k runs as TakeOrderedAndProject, not a global sort") {
    assert(plan("a1_collect").contains("TakeOrderedAndProject"))
  }

  test("x_bloom_join: probe evaluates scan-side, below the join") {
    val p = plan("x_bloom_join")
    // the probe must appear in a Filter above the lineitem scan, not in
    // the join condition — i.e. rows drop before the exchange
    val idxProbe = p.indexOf("bloom_might_contain")
    val idxJoin = p.indexOf("Join")
    assert(idxProbe >= 0, s"no bloom probe in plan:\n$p")
    assert(idxJoin >= 0 && idxJoin < idxProbe,
      "probe should sit in the scan-side subtree printed below the join")
  }

  test("x_heavy_hitters: recount aggregates partially before its exchange") {
    // two-pass plan: this checks the recount pass (pass 2), which must be
    // partial/final HashAggregate on the candidate tokens
    val p = plan("x_heavy_hitters")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x_hll_rollup: nation join broadcasts; sketches aggregate in two levels") {
    val p = plan("x_hll_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hll_union_agg") || p.contains("HllUnionAgg"), p)
  }

  test("native sketch expressions run inside whole-stage codegen") {
    // the simhash64 projection must carry the *(n) whole-stage-codegen
    // marker — a CodegenFallback would break the span and run the stage
    // interpreted. (AQE hides codegen markers in unexecuted plans, so it
    // is toggled off for this one plan build.)
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val p = plan("x_simhash")
      val line = p.linesIterator.find(_.contains("simhash64")).getOrElse("")
      assert(line.nonEmpty, s"no simhash64 projection in plan:\n$p")
      assert(line.trim.matches(".*\\*\\(\\d+\\).*"),
        s"sketch projection not codegen'd: $line")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
  // VERDICT r4 item 2: the exact-decimal HOF cosine must never score the
  // whole corpus — the native kernel prunes to a bounded candidate set
  // first, and only the survivors pay the interpreted rescore.
  test("x_cosine_topk: native-kernel prune feeds a bounded exact rescore") {
    val p = plan("x_cosine_topk")
    // the whole-corpus projection scores with the native dot kernel…
    val pruneLine = p.linesIterator.find(l =>
      l.contains("Project") && l.contains("dot_f(")).getOrElse("")
    assert(pruneLine.nonEmpty, s"native prune kernel missing from plan:\n$p")
    // …and is free of the interpreted exact-decimal HOF (aggregate over
    // zip_with) — that one may only run above the bounded top-k
    assert(!pruneLine.contains("aggregate("),
      s"exact-decimal HOF in the whole-corpus projection:\n$pruneLine")
    // both phases are bounded top-k (TakeOrderedAndProject, limits 50 and
    // 10), never a global Sort of scored rows
    assert(p.contains("TakeOrderedAndProject(limit=50"), p)
    assert(p.contains("TakeOrderedAndProject(limit=10"), p)
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Sort ")),
      s"unexpected global sort:\n$p")
  }
  test("x_mixture: the resample is map-only — only the presentation sort exchanges") {
    val p = plan("x_mixture")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange (output sort), got $exchanges:\n$p")
    assert(p.contains("rangepartitioning"), p) // and it IS the sort
    assert(p.contains("Generate explode"), p)  // copies expand in the scan stage
  }

  // VERDICT r5 item 1: a rank window partitioned by the bare source
  // column funnels each source's whole row set through one task (~20 TB
  // per task at 100 TB with a handful of sources). The two-level bucket
  // decomposition keys every data-sized window on (source, hash-prefix
  // bucket) instead.
  test("x_interleave: rank windows key on (source, bucket), never source alone") {
    val p = plan("x_interleave")
    val rankLines = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("row_number"))
      .toSeq
    assert(rankLines.nonEmpty, s"no rank window in plan:\n$p")
    rankLines.foreach { l =>
      assert(l.contains("__b"),
        s"rank window partitioned by the bare source column: $l")
    }
  }

  // budgetSelect's running sum must stay bucket-decomposed: a data-sized
  // sum window with NO partition key is the one-reducer global cumsum
  // the operator exists to avoid (packOffsets' scale argument).
  test("x_budget_select: the data-sized sum window keys on the score bucket") {
    val p = plan("x_budget_select")
    // the per-row (score-ordered) running sum must list the bucket as its
    // partition key BEFORE the score ordering; a bare score-ordered window
    // is the global single-reducer cumsum. The only other sum window is
    // the nBuckets-row base-offset prefix sum (tiny, bucket-ordered).
    val scoreWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("__score"))
      .toSeq
    assert(scoreWindows.nonEmpty, s"no score-ordered running-sum window:\n$p")
    scoreWindows.foreach { l =>
      val bk = l.indexOf("__bk")
      assert(bk >= 0 && bk < l.indexOf("__score"),
        s"score-ordered window not partitioned by the bucket: $l")
    }
  }

  // VERDICT r5 item 5: x_lsh_ann used to run a full count() pass just to
  // size its LSH bit count; sizing now comes from the scan's catalog
  // estimate, so CONSTRUCTING the query must launch zero Spark jobs.
  test("x_lsh_ann: query construction runs zero jobs (catalog-estimate sizing)") {
    // warm the table read first: the initial parquet open runs one
    // schema-inference job that belongs to table loading, not sizing
    SparkEntry.queries("x_lsh_ann")(spark, sf())
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("x_lsh_ann")(spark, sf())
      // job-start events post within ms of a driver-side action; give the
      // async bus ample time to surface one before asserting absence
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 0, s"query construction launched $jobs job(s)")
  }

  // VERDICT r5 item 6: exactKPerStratum and the PQ codebook init rely on
  // Spark inferring a per-partition top-k heap from the `rank <= k`
  // filter directly above the rank window (WindowGroupLimit). An
  // innocent expression change between filter and window would silently
  // restore the full per-partition sort — pin the optimization in both
  // physical plans.
  // Round-14 queries: pin each one's scale-critical plan property so a
  // future refactor that silently degrades it fails here, not at 100×.
  test("round-14 ops: window heaps, map-only censors, no cartesian") {
    // revisit scheduling and anchor top-k: per-key rank filters must
    // stay WindowGroupLimit heaps (never a global sort)
    Seq("x_revisit", "x_anchor_text").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost its per-key top-k heap:\n${p.take(2000)}")
    }
    // the PII census is a map-only projection: nothing may shuffle
    // except the presentation sort
    val pii = plan("x_pii_census")
    assert("Exchange".r.findAllIn(pii).size <= 2,
      s"x_pii_census gained a shuffle beyond the presentation sort:\n$pii")
    // fastText inference and the mojibake chain are map-only too:
    // literal weight table / replace chain inside the scan projection,
    // no joins, nothing beyond the presentation sort
    Seq("x_fasttext", "x_mojibake", "x_mixed_script",
        "x_url_features", "x_langid_scored").foreach { q =>
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).size <= 2,
        s"$q gained a shuffle beyond the presentation sort:\n$p")
      assert(!p.contains("Join"), s"$q gained a join:\n$p")
    }
    // kappa/fleiss/mkn: label-space joins, never a cartesian; mkn's
    // 1-row scalar frames ride BroadcastNestedLoopJoin by design
    Seq("x_kappa", "x_fleiss", "x_mkn_nll", "x_compaction_dirs").foreach {
      q => assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("rank-filter top-k plans run as WindowGroupLimit, not a full sort") {
    import org.apache.spark.sql.functions.{col, lit, struct, slice}
    // x_sample_k drives exactKPerStratum end-to-end
    val pSample = plan("x_sample_k")
    assert(pSample.contains("WindowGroupLimit"),
      s"exactKPerStratum lost the per-partition top-k heap:\n$pSample")
    // PQ codebook init: same (j, sub) shape productQuantize builds
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val d = 8
    val subs = e.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array((0 until 8).map(j =>
          struct(lit(j).as("j"), slice(col("embedding"), j * d + 1, d).as("sub"))): _*))
      .as("s")).select(col("s.j").as("j"), col("s.sub").as("sub"))
    val pInit = graft.functions.Similarity.codebookInit(subs, 32)
      .queryExecution.executedPlan.toString
    assert(pInit.contains("WindowGroupLimit"),
      s"PQ codebook init lost the per-partition top-k heap:\n$pInit")
  }

  // VERDICT r5 item 2: the blocked kNN join must never fall back to a
  // broadcast nested loop or cartesian of queries × corpus — candidate
  // generation is the coarse-bucket hash equi-join, and candidates reduce
  // through a partial (pre-exchange) + final WindowGroupLimit top-k'
  // heap, so the exchange never carries all scored pairs. (The operator
  // plan is pinned directly: the x_knn_blocked QUERY also computes the
  // in-query exact flag via knnJoin, whose tiny-query broadcast nested
  // loop is intentional.)
  test("knnJoinBlocked plan: bucket equi-join, no nested loop, partial top-k'") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = e.where(col("vec_id") % 20 === 0)
    val p = graft.functions.Similarity.knnJoinBlocked(queries, e,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 16, margin = 40, saltBuckets = 2,
      excludeSelf = true)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"blocked kNN fell back to a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"))
    // candidate top-k' must run as Partial (before the exchange) + Final
    // WindowGroupLimit heaps — if InferWindowGroupLimit ever stops firing
    // (e.g. the rank filter drifts off the window output), the full
    // scored-pair set would sort AND shuffle
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"candidate top-k' not a partial+final WindowGroupLimit:\n$p")
  }

  // The per-row kernels spread their exchange-free, single-split scan
  // input with exactly one round-robin exchange (GraftSession.spreadScan,
  // decided from the plan); the blocked kNN spreads its query side by
  // __qid so each query's scored pairs co-locate.
  test("spread callers: one round-robin kernel spread, __qid-hash kNN spread") {
    Seq("x_fasttext", "x_readability", "x_gopher_gate", "x_mojibake",
        "x_langid_scored").foreach { q =>
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("Exchange RoundRobinPartitioning")) == 1,
        s"$q: expected exactly one round-robin spread:\n$p")
    }
    val knn = plan("x_knn_blocked")
    assert("Exchange hashpartitioning\\(__qid#\\d+L?, \\d+\\), REPARTITION_BY_NUM".r
      .findFirstIn(knn).nonEmpty, s"blocked kNN lost its __qid spread:\n$knn")
  }

  test("x_ivf_probe: DPP prunes the cluster-partitioned postings, query side broadcasts") {
    val p = plan("x_ivf_probe")
    // the persisted-index claim made executable: probing a cluster-
    // partitioned parquet index must plan a dynamic-partition-pruning
    // filter on the postings scan (only probed lists are read) with the
    // broadcast query batch feeding it — and never a nested loop
    assert(p.contains("dynamicpruning"),
      s"postings scan lost its partition pruning:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  // The Similarity-family facts once read off plan text dumps.
  test("x_ivf_probe / x_ivf_append: per-query partial+final top-5 heaps, broadcast query side") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    Seq("x_ivf_probe", "x_ivf_append").foreach { q =>
      val exec = SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
      val p = exec.toString
      // the per-query rank filter runs as heaps on both sides of the
      // __qid exchange, never as a sort of every scored candidate
      Seq("Partial", "Final").foreach { mode =>
        assert(("WindowGroupLimit \\[__qid#\\d+L\\], \\[cos#\\d+ DESC NULLS LAST, " +
            s"id#\\d+L ASC NULLS FIRST\\], row_number\\(\\), 5, $mode").r
          .findFirstIn(p).nonEmpty, s"$q lost its $mode top-5 heap:\n$p")
      }
      // the query batch, exploded over its probes, is the broadcast build
      // side of the cluster join; the postings stream
      val root = exec match { case a: AdaptiveSparkPlanExec => a.initialPlan; case e => e }
      val probeJoin = root.collect { case j: BroadcastHashJoinExec => j }.filter { j =>
        val build = if (j.buildSide == BuildRight) j.right else j.left
        build.find(_.isInstanceOf[GenerateExec]).nonEmpty
      }
      assert(probeJoin.nonEmpty, s"$q: query side not broadcast:\n$p")
    }
  }

  test("x_knn_graph, x_semdedup, x_quantize: equi-join candidates, no nested loop; quantize map-only") {
    def equiJoined(name: String, p: String, key: String): Unit = {
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name candidates fell back to a nested loop:\n$p")
      assert(s"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[$key#\\d+".r
        .findFirstIn(p).nonEmpty, s"$name: no equi-join on $key:\n$p")
    }
    equiJoined("x_knn_graph", plan("x_knn_graph"), "__b")
    // x_semdedup's executed plan starts at the component snapshot, so its
    // candidate generator is pinned with the query's arguments
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    equiJoined("x_semdedup pairs", graft.functions.Similarity.cosineNearDupBlocked(
        e, "vec_id", "embedding", "label", minCos = 0.35, saltBuckets = 4)
      .queryExecution.executedPlan.toString, "blk")
    val exchanges = plan("x_quantize").linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"x_quantize is no longer map-only:\n${exchanges.mkString("\n")}")
  }

  test("x_funnel_deep: one data-sized exchange (the per-user group), histogram tiny") {
    val p = plan("x_funnel_deep")
    // events shuffle ONCE into per-user groups; everything after the
    // kernel is reach-histogram-sized. The exchanges over the raw event
    // table must number exactly one (hashpartitioning on the user key).
    val exchanges = "Exchange hashpartitioning\\(([^,]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.count(_.startsWith("__u")) == 1,
      s"expected exactly one user-keyed exchange, got $exchanges")
    assert(!p.contains("CartesianProduct"))
  }

  test("x_perplexity: hash-keyed partial aggs; the only broadcast is the 1-row total") {
    val p = plan("x_perplexity")
    // token instances must collapse map-side (partial HashAggregate)
    // before any exchange — otherwise every instance row shuffles
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"tf/count aggregations not partial+final:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-total scalar rides a broadcast (BNLJ over ONE row is the
    // intended shape); the token join itself must be a hash equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"token-count join is not an equi-join:\n$p")
  }

  test("x_knn_join: candidates reduce through partial aggregation, queries broadcast") {
    val p = plan("x_knn_join")
    // the bounded top-k' aggregator must run partial (map-side) + final —
    // otherwise the shuffle carries every scored pair
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"top-k aggregation not partial/final:\n$p")
    // the query side rides a broadcast, the corpus is never re-shuffled
    // for scoring
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("x_dedup_incremental: fingerprint anti-join broadcasts the index side") {
    val p = plan("x_dedup_incremental")
    // the index is hash-sized — it must broadcast; new-corpus bodies must
    // not shuffle for the anti-join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"index anti-join not a broadcast hash join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"new-batch bodies shuffled for the index anti-join:\n$p")
  }

  test("x_c4_gate: the whole gate is map-only — no exchange before the sort") {
    val p = plan("x_c4_gate")
    // exactly the presentation ORDER BY's rangepartitioning exchange;
    // the derivation + gate must add none
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"c4 gate introduced a non-sort exchange:\n${exchanges.mkString("\n")}")
  }

  // calibrateScores' rank must stay bucket-decomposed — a row_number
  // window partitioned by the bare group puts each whole language in one
  // reducer (the packOffsets scale argument, again).
  test("x_score_calibrate: the data-sized rank window keys on (group, bucket)") {
    val p = plan("x_score_calibrate")
    val scoreWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("__score"))
      .toSeq
    assert(scoreWindows.nonEmpty, s"no score-ordered rank window:\n$p")
    scoreWindows.foreach { l =>
      val bk = l.indexOf("__bk")
      assert(bk >= 0 && bk < l.indexOf("__score"),
        s"score-ordered window not partitioned by the bucket: $l")
    }
  }

  // substring dedup's candidate generation is hash-keyed aggregation +
  // equi-joins; nothing in the plan may degrade to a nested loop, and
  // the anchor selection must run as the native expression (one compiled
  // pass), not an interpreted per-position HOF filter.
  test("x_substring_dedup: equi-joins only, native anchor expression") {
    val p = plan("x_substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup degraded to a nested loop:\n$p")
    assert(p.contains("md5_prefix_anchors"),
      s"anchor positions not computed by the native expression:\n$p")
  }

  // VERDICT r12 item 1b: the 457 KB-plan / 23.7 s CollapseProject cliff
  // (x_link_graph, round 12) showed up as a plan string an order of
  // magnitude bigger than its peers, stuffed with re-inlined regexp_
  // nodes. tools.PlanDump prints the numbers for a human; this is the
  // FAILING gate. Every declared query: no CartesianProduct, plan under
  // a global ceiling; the regex-heavy URL/HTML queries additionally pin
  // tight per-query planChars/regexNodes budgets so a dropped barrier
  // (e.g. someone removing the pin inside urlCanonicalize) fails here,
  // not in a 7× bench regression two rounds later.
  test("whole board: no cartesian product, plan size under ceilings") {
    // measured r13 (post-internal-pin): x_link_graph 39.7 KB / 629
    // regex nodes, x_url_canon 15.0 KB / 238, x_domain_stats 16.4 KB /
    // 238, x_resolve_links 9.7 KB / 151, x_html_extract 4.6 KB / 24;
    // board-wide max 89.5 KB (x_ivfpq_ann, zero regex). Ceilings are
    // ~1.3-2× measured — loose enough for optimizer drift, tight
    // enough that one re-inlined canonicalize chain (>10× today's
    // node count) trips immediately.
    val charCeil = Map(
      "x_link_graph" -> 50000, "x_url_canon" -> 30000,
      "x_domain_stats" -> 30000, "x_resolve_links" -> 20000,
      "x_html_extract" -> 10000, "x_psl_domains" -> 40000)
    val regexCeil = Map(
      "x_link_graph" -> 800, "x_url_canon" -> 350,
      "x_domain_stats" -> 350, "x_resolve_links" -> 250,
      "x_html_extract" -> 50)
    val globalCharCeil = 200000
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val p = plan(q)
      val chars = p.length
      val regexes = "regexp_".r.findAllIn(p).length
      Seq(
        Option.when(p.contains("CartesianProduct"))(s"$q: CartesianProduct"),
        Option.when(chars > charCeil.getOrElse(q, globalCharCeil))(
          s"$q: planChars=$chars > ${charCeil.getOrElse(q, globalCharCeil)}"),
        regexCeil.get(q).collect { case c if regexes > c =>
          s"$q: regexNodes=$regexes > $c" }
      ).flatten
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("x_pack_spans: no window keys on the bare global order") {
    val p = plan("x_pack_spans")
    // both data-sized windows must partition by the bucket column — a
    // bare ORDER BY window is the single-reducer scale-killer
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
      .filterNot(_.contains("WindowGroupLimit"))
    assert(windows.nonEmpty, s"expected window operators:\n$p")
    val dataSized = windows.filterNot(_.contains("__bucket"))
    // the only bucket-free window is the #buckets-sized offset prefix sum
    assert(dataSized.size <= 1,
      s"data-sized window without bucket partitioning:\n${windows.mkString("\n")}")
  }
}
