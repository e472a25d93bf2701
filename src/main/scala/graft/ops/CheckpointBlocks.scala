package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Storage hygiene for eagerly-checkpointed intermediates.
  *
  * `Dataset.localCheckpoint(eager = true)` persists the physical RDD's
  * blocks on the executors with NO lineage; nothing ever unpersists them, so
  * a long-lived session running many catalog queries accretes orphaned
  * storage until shutdown. These helpers find the checkpoint-backed RDD ids
  * inside a DataFrame's plan (the `LogicalRDD` leaves a checkpoint rewrites
  * the plan to) and release their blocks once the frame is no longer needed.
  *
  * Reliable `Dataset.checkpoint` frames write FILES, not storage blocks —
  * they never appear in `getPersistentRDDs`, so release() is a safe no-op
  * for them (checkpoint files are reaped by the context's shutdown hook).
  */
object CheckpointBlocks {

  /** Persisted RDD ids backing `df` (empty for non-checkpointed frames):
    * each `LogicalRDD` leaf's RDD and the persisted RDDs in its lineage, so
    * a leaf that unions checkpointed RDDs (a stream gate's result) names
    * the blocks behind it. A checkpoint truncates lineage, so the walk
    * stops there. */
  def rddIds(df: DataFrame): Seq[Int] = {
    def persisted(r: RDD[_]): Seq[Int] =
      (if (r.getStorageLevel != StorageLevel.NONE) Seq(r.id) else Nil) ++
        r.dependencies.flatMap(d => persisted(d.rdd))
    df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => persisted(r.rdd) }
      .flatten.distinct
  }

  /** Drop the storage blocks behind `df`. The frame is UNRECOMPUTABLE
    * afterwards (checkpoints have no lineage) — only call once every
    * consumer has executed. */
  def release(df: DataFrame): Unit = {
    val persistent = df.sparkSession.sparkContext.getPersistentRDDs
    rddIds(df).foreach(id => persistent.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Unpersist EVERY persistent RDD in the session except `keepIds` —
    * the end-of-query sweep a served session would run (covers GraphX's
    * internal caches and query-local checkpoints alike). */
  def sweep(spark: SparkSession, keepIds: Set[Int] = Set.empty): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keepIds.contains(id)) rdd.unpersist(blocking = false)
    }
}
