package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Recall budget probe for the blocked/cascaded ANN operators at driver
  * scale factors — run BEFORE pinning an oracle recall flag (the x_pq_ann
  * round-5 lesson: the near-orthogonal corpus is ANN-adversarial; verify
  * the budget where the gate runs, not where it's cheap).
  *
  * Round-6 measurements (this corpus, nCentroids=16):
  * knnJoinBlocked recall at sf0.1 — nProbe 4/8/12/14/16 →
  * 0.60/0.83/0.95/0.98/1.00; ivfPqTopK — nProbe 8/12/16 → 0.4/0.6/1.0.
  * Sub-exhaustive probing cannot pin a hash oracle here, so the oracled
  * queries run the structurally-exact regime and probe-limited recall is
  * spec-covered instead.
  *
  * Usage: RecallProbe <sfDir> (SPARK_GRAFT_CPUS the master width).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val usage = "RecallProbe <sfDir>"
    val dir = args match {
      case Array(d) => d
      case _ => DevArgs.usage(usage)
    }
    val cpus = DevArgs.cpus(usage)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    println(s"[probe] $dir embeddings n=$n")

    val queries = e.where(pmod(col("vec_id"), lit(50)) === 0)
    val nq = queries.count()
    for (nProbe <- Seq(4, 8, 12, 14, 16); iters <- Seq(0, 1)) {
      val blocked = Similarity.knnJoinBlocked(queries, e,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = nProbe, kmeansIters = iters,
        margin = 40, saltBuckets = 2, excludeSelf = true)
      val exact = Similarity.knnJoin(queries, e,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, excludeSelf = true)
      val hit = blocked.as("b").join(exact.as("x"),
        col("b.query_id") === col("x.query_id") &&
          col("b.neighbor_id") === col("x.neighbor_id")).count()
      val want = nq * 5
      println(s"[probe] knnJoinBlocked nProbe=$nProbe iters=$iters recall=$hit/$want" +
        (if (hit == want) " OK" else " MISS"))
    }

    val qvec = e.where(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val bf = Similarity.bruteForceTopK(e, "vec_id", "embedding", qvec, 10, exact = true)
      .collect().map(_.getLong(0)).toSet
    for (nProbe <- Seq(4, 8, 12, 16); adcTopN <- Seq(200, 400, 800)) {
      val got = Similarity.ivfPqTopK(e, "vec_id", "embedding", qvec, k = 10,
        nCentroids = 16, nProbe = nProbe, kmeansIters = 0,
        m = 8, codebookK = 256, lloydIters = 1, adcTopN = adcTopN)
        .collect().map(_.getLong(0)).toSet
      val hit = (got intersect bf).size
      println(s"[probe] ivfPqTopK nProbe=$nProbe adcTopN=$adcTopN recall=$hit/10" +
        (if (hit == 10) " OK" else " MISS"))
    }
    spark.stop()
  }
}
