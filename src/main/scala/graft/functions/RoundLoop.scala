package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The round loop behind the graph fixpoints ([[Graph.pageRank]],
  * [[Graph.personalizedPageRank]], [[Graph.shortestPathsInt]],
  * [[Graph.propagateLabels]], [[Graph.kCore]],
  * [[Dedup.connectedComponents]]). sif has no iterative operator; its
  * users build fixpoints from repeated reduce rounds, and this is the one
  * place where such a round begins and ends.
  *
  * The discipline:
  *  - loop inputs are PINNED snapshots ([[pin]]): hash-partitioned and
  *    sorted on the round join's key. A checkpoint keeps the plan's
  *    partitioning and ordering, so every round's merge join reads its
  *    pinned sides with zero exchange and zero sort. The setup snapshots
  *    materialize with the caller's AQE setting: the caller's upstream
  *    (often a join or ANN pair pipeline) wants AQE's broadcast and skew
  *    decisions.
  *  - ONE size count of a loop table against [[PinnedMinRows]] picks the
  *    side. Below it, round state is bounded and node-sized, and each cut
  *    is a [[Snapshots.boundedLocal]] one (executor memory, one job per
  *    cut: on a small table a reliable write would dominate the round,
  *    and re-running after an executor loss is cheaper than the
  *    durability). At or above it, each cut is a reliable
  *    [[Snapshots.snapshot]] (a lost executor costs one round, not the
  *    run), re-pinned on the caller's key.
  *  - AQE is scoped off for the loop jobs under one of two policies.
  *    `staticPlans` loops (the PageRanks) run every round with AQE off.
  *    They cut only every [[RankCutEvery]]-th round, and with AQE on each
  *    cut re-planned the whole lineage since the last one, re-optimizing
  *    the same chained join+agg rounds over and over (measured 12.9 s vs
  *    7.9 s at sf0.1). Gating them on size instead, as the other loops
  *    are, took x_pagerank's timed median from 1.43 s to 1.71 s and its
  *    jobs from 19 to 33 (graph_loops benchmark, 5 pairs on a 4-vCPU
  *    VM). The other loops cut every round, and turn AQE off only at or
  *    above the threshold: below it AQE's runtime small-side broadcasts
  *    ARE the best plan (a kept-list or label table broadcast into the
  *    edge scan; kCore's 4-round peel measured ~2.7× faster at sf0.1
  *    than the pinned static path on its few-thousand-row tables).
  *
  * Nothing here releases a snapshot: `Dataset.unpersist` frees only
  * `persist()`/`cache()` entries, never a `localCheckpoint()` or a
  * reliable checkpoint. The returned state is backed by the final cut,
  * which lives until the caller's frame is unreachable (local checkpoint
  * blocks) or the checkpoint dir is cleaned (reliable files).
  */
private[functions] object RoundLoop {

  /** Loop tables at or above this row count take the pinned path. ~4M
    * longs is the order where a loop table stops being comfortably
    * broadcastable.
    */
  val PinnedMinRows: Long = 4000000L

  /** PageRank and PPR cut every 3rd round (and the last). Full-suite
    * bench: x_pagerank took 9.99 s at 5 vs 6.12 s at 3 (an isolated
    * 6.7-vs-7.0 reading that favoured 5 did not survive in-suite), and
    * x_ppr 10.7 s at 5 vs 6.0 s at 3 (its rounds carry the teleport
    * column through every join, and a 5-round unmaterialized chain
    * recomputes it per consumer). Loop constants trust full-suite
    * numbers only.
    */
  val RankCutEvery: Int = 3

  /** The setup snapshot of a loop input: hash-partitioned and sorted on
    * `key`, then [[Snapshots.snapshot]].
    */
  def pin(df: DataFrame, key: String): DataFrame =
    Snapshots.snapshot(df.repartition(col(key)).sortWithinPartitions(key))

  /** Round `i` (1-based) of a loop; `pinned` is the size gate's side. */
  final class Round private[RoundLoop] (val i: Int, pinned: Boolean,
                                        cuts: Boolean) {
    /** This round's lineage cut of `df` (the identity on a round that
      * does not cut). The pinned side re-pins on `pinKey` when one is
      * given; `eager = false` leaves a bounded cut for the caller's next
      * action to materialize.
      */
    def cut(df: DataFrame, pinKey: String = "", eager: Boolean = true): DataFrame =
      if (!cuts) df
      else if (!pinned) Snapshots.boundedLocal(df, eager)
      else if (pinKey.isEmpty) Snapshots.snapshot(df)
      else pin(df, pinKey)
  }

  /** Run `step` for rounds 1..`rounds`, stopping early once `until`
    * holds, from `init`. `sized` is the loop table the gate counts; its
    * session scopes AQE. Rounds cut every `cutEvery`-th round and the
    * last. No count when `rounds` is 0, nor for a `staticPlans` loop
    * without a checkpoint dir: the PageRanks cut without a re-pin key,
    * so there both sides are one `localCheckpoint` under AQE off and the
    * count would choose nothing.
    */
  def run[S](sized: DataFrame, rounds: Int, init: S,
             staticPlans: Boolean = false, cutEvery: Int = 1,
             until: S => Boolean = (_: S) => false)(step: (Round, S) => S): S = {
    val gated = rounds > 0 &&
      !(staticPlans && sized.sparkSession.sparkContext.getCheckpointDir.isEmpty)
    val pinned = gated && sized.count() >= PinnedMinRows
    def loop(): S = {
      var s = init
      var i = 1
      while (i <= rounds && !until(s)) {
        s = step(new Round(i, pinned, i % cutEvery == 0 || i == rounds), s)
        i += 1
      }
      s
    }
    if (staticPlans || pinned) aqeOff(sized.sparkSession)(loop()) else loop()
  }

  /** Run `body` with AQE off, restoring the caller's setting on every
    * exit path. Conf scoping is session-global for the duration: the
    * engine's entry points run queries sequentially.
    */
  def aqeOff[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }
}
