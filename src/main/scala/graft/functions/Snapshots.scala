package graft.functions

import org.apache.spark.sql.DataFrame

/** The one snapshot contract behind every lineage-cutting op (graph
  * loops, rank decompositions, fused curation passes, pair pipelines).
  *
  * With a checkpoint directory set (`sc.setCheckpointDir`) a snapshot
  * lands on *reliable* storage: losing an executor costs one round, not
  * a recompute storm over the whole lineage. Without one, the default
  * is `localCheckpoint()` — executor-memory blocks that die with their
  * executor and whose lineage truncation is irrecoverable. That default
  * is fine on local mode and a hazard on a 100 TB cluster run, so the
  * contract is made explicit: set
  * `spark.graft.requireReliableCheckpoints=true` and every snapshotting
  * op FAILS LOUDLY at the first snapshot instead of silently degrading
  * — the deployment says "reliable or nothing", the engine obeys.
  */
object Snapshots {

  /** Session conf key: `true` ⇒ a snapshot without a checkpoint
    * directory throws instead of falling back to executor memory.
    */
  val RequireReliableKey = "spark.graft.requireReliableCheckpoints"

  private def hasDir(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  private def requireReliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(RequireReliableKey, "false").toBoolean

  /** Materialize `df` and cut its lineage: reliable checkpoint when a
    * directory is set; otherwise `localCheckpoint`, unless the session
    * demands reliability — then fail loud (see [[RequireReliableKey]]).
    *
    * The reliable path persists the input around the checkpoint: an eager
    * `Dataset.checkpoint()` runs TWO jobs — the materializing count, then
    * the checkpoint writer, which re-runs the full lineage to write the
    * partition files (the documented RDD.checkpoint recompute). Without
    * the pin every snapshotting op paid its entire upstream (ANN pair
    * pipelines, edge joins, dedup candidate generation) twice per cut.
    * MEMORY_AND_DISK, not the MEMORY_ONLY default: an over-memory
    * snapshot must spill, not evict-and-recompute (which would silently
    * undo the fix at exactly the scale where it matters). The cache is
    * released as soon as the checkpoint files are written — it never
    * outlives the second job. Measured at sf0.1: x_pagerank's edge+setup
    * snapshots compute once instead of twice (see OPTIMIZATION_r15.md).
    */
  def snapshot(df: DataFrame): DataFrame =
    if (hasDir(df)) {
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint()
      finally cached.unpersist(blocking = false)
    }
    else if (requireReliable(df))
      throw new IllegalStateException(
        s"$RequireReliableKey=true but no checkpoint directory is set — " +
          "call spark.sparkContext.setCheckpointDir(<reliable path>) so " +
          "lineage cuts land on reliable storage instead of executor " +
          "memory, or unset the option to accept localCheckpoint()")
    else df.localCheckpoint()

  /** Lineage cut for state that is BOUNDED (vocab-, centroid-,
    * bucket-sized — never corpus-sized): executor memory by deliberate
    * choice, exempt from the reliable contract. Recomputing such a
    * table after an executor loss is cheaper than a filesystem write
    * per materialization would have been; callers name the bound in
    * their own doc. `eager = false` defers the materialization to the
    * caller's next action over the result.
    */
  def boundedLocal(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)
}
