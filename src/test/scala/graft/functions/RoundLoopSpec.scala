package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The [[RoundLoop]] contract, with its size gate forced to each side on
  * one small graph: no test or bench input reaches the ≥ 4M-row side.
  * The gate counts only `sized`, so a cheap range of
  * [[RoundLoop.PinnedMinRows]] rows forces the pinned side while the
  * graph and the step stay small.
  */
class RoundLoopSpec extends SparkSpec {

  private val aqe = "spark.sql.adaptive.enabled"

  // min-label propagation over a 3-component graph, two rounds
  private def loop(pinned: Boolean, staticPlans: Boolean = false,
                   inRound: () => Unit = () => ()): DataFrame = {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("src", "dst")
    val init = edges.select(col("src").as("id")).union(edges.select(col("dst")))
      .distinct().withColumn("label", col("id"))
    val sized = if (pinned) spark.range(RoundLoop.PinnedMinRows).toDF() else edges
    RoundLoop.run(sized, rounds = 2, init, staticPlans = staticPlans) { (round, s) =>
      inRound()
      round.cut(s.union(edges.join(s, edges("src") === s("id"))
          .select(col("dst").as("id"), col("label")))
        .groupBy("id").agg(min(col("label")).as("label")), "id")
    }
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pinned side fails loud without a checkpoint dir; bounded side and staticPlans loops run; same rows") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    withConf(Snapshots.RequireReliableKey -> "true") {
      val e = intercept[IllegalStateException](loop(pinned = true).collect())
      assert(e.getMessage.contains(Snapshots.RequireReliableKey))
      assert(rows(loop(pinned = false)) ==
        Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 10L -> 10L, 11L -> 10L,
          20L -> 20L))
    }
    assert(rows(loop(pinned = true)) == rows(loop(pinned = false)))
    // without a dir a staticPlans loop skips the count: bounded side
    withConf(Snapshots.RequireReliableKey -> "true") {
      assert(rows(loop(pinned = true, staticPlans = true)) ==
        rows(loop(pinned = false)))
    }
  }

  test("AQE is off in the rounds as the policy says and restored, also when a round throws") {
    def seen(pinned: Boolean, staticPlans: Boolean): Set[String] = {
      val in = scala.collection.mutable.Set.empty[String]
      loop(pinned, staticPlans, () => in += spark.conf.get(aqe))
      assert(spark.conf.get(aqe) == "true")
      in.toSet
    }
    withConf(aqe -> "true") {
      assert(seen(pinned = true, staticPlans = false) == Set("false"))
      assert(seen(pinned = false, staticPlans = false) == Set("true"))
      assert(seen(pinned = false, staticPlans = true) == Set("false"))
      intercept[RuntimeException](
        loop(pinned = false, staticPlans = true, () => sys.error("round failed")))
      assert(spark.conf.get(aqe) == "true")
      withConf(Snapshots.RequireReliableKey -> "true") {
        intercept[IllegalStateException](loop(pinned = true))
      }
      assert(spark.conf.get(aqe) == "true")
    }
  }
}
