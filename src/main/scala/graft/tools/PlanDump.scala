package graft.tools

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the before/after plan evidence an optimization round commits next to
  * its bench numbers (`plans/r<N>/<query>_{before,after}.txt`) — and
  * print each query's one-line plan-shape audit, so a new operator's
  * plan is inspected, not assumed.
  *
  * Usage: PlanDump <outDir> <suffix> <query>[,query...]
  * (SPARK_GRAFT_SF_DIR picks the scale dir, default sf0.1 so plan
  * shapes match the bench; SPARK_GRAFT_CPUS the master width.)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val usage = "PlanDump <outDir> <suffix> <query>[,query...]"
    val (outDir, suffix, qcsv) = args match {
      case Array(o, s, q) => (o, s, q)
      case _ => DevArgs.usage(usage)
    }
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = DevArgs.cpus(usage)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    graft.GraftSession.registerFunctions(spark)
    graft.GraftSession.registerOptimizations(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt")
      java.nio.file.Files.write(p,
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $p (${plan.length} chars)")
      println(summary(q, df.queryExecution.executedPlan.toString))
    }
    spark.stop()
  }

  /** Exchange and join-strategy counts of an executed plan, with its size
    * and regex-node count: the x_link_graph round-12 lesson — a collapsed
    * expensive projection shows up as a plan orders of magnitude bigger
    * than its peers.
    */
  private def summary(q: String, plan: String): String = {
    def n(p: String) = p.r.findAllIn(plan).length
    s"$q: exchanges=${n("Exchange")} " +
      s"broadcastJoins=${n("BroadcastHashJoin")} " +
      s"sortMergeJoins=${n("SortMergeJoin")} " +
      s"nestedLoop=${n("BroadcastNestedLoopJoin")} " +
      s"cartesian=${n("CartesianProduct")} " +
      s"planChars=${plan.length} regexNodes=${n("regexp_")}"
  }
}
