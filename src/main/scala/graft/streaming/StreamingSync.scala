package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.MergeStore

/** Continuous replication: the CDC stream driving [[MergeStore.sync]]'s
  * verb pair through foreachBatch — a replica that FOLLOWS its source
  * commit-by-commit instead of being advanced by scheduled sync() calls.
  * Cross-region table following, the streaming twin of q97.
  *
  * Unlike [[StreamingIvm]], no high-water-mark guard is needed: applying
  * a change batch to the replica is IDEMPOTENT (merging the same
  * post-images re-lands identical rows; deleting the same keys is a
  * no-op), and foreachBatch can only ever redeliver the LAST batch after
  * a crash — never an earlier one — so a replay converges to the same
  * replica state. Aggregation deltas don't have that luxury; upserts do.
  *
  * Scale shape: each micro-batch ships only its span's changed rows
  * (file-pruned at the source) and costs a file-granular merge/delete on
  * the replica — steady-state replication cost tracks the source's
  * commit rate, never either table's size.
  */
object StreamingSync {

  /** Start following `source` into `replica` (which must exist —
    * initialize it once from the source snapshot at `fromVersion`, the
    * deep-clone step, exactly like batch sync). AvailableNow by default
    * (catch up then stop); pass ProcessingTime for an always-on tail.
    * `maxVersionsPerBatch` bounds a post-downtime catch-up's per-batch
    * commit span (the CDC source's admission cap) — correctness is
    * unaffected either way (the terminal-change window composes across
    * batches exactly as within one). */
  def replicate(spark: SparkSession, source: String, replica: String,
                pk: Seq[String], fromVersion: Int, checkpoint: String,
                trigger: Trigger = Trigger.AvailableNow(),
                maxVersionsPerBatch: Int = 0): StreamingQuery = {
    require(MergeStore.exists(replica),
      s"replica $replica must be initialized from source version $fromVersion")
    MergeStoreCdc.readStream(spark, source, pk,
        includePreimages = false, fromVersion = Some(fromVersion),
        maxVersionsPerBatch = maxVersionsPerBatch)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdcBatch(batch, replica, pk)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Apply one CDC micro-batch to the replica: merge the arriving rows,
    * delete the departed keys. A multi-commit batch can carry several
    * changes for one key (delete@v1 then re-insert@v2) — only the
    * TERMINAL change per key (highest `_commit_version`) may apply, or
    * a delete-then-reinsert would end deleted. The terminal changes are
    * persisted for the call: the emptiness probes and both verbs read
    * them, and each would otherwise re-run the span read over the
    * source. Visible for specs. */
  def applyCdcBatch(batch: DataFrame, replica: String,
                    pk: Seq[String]): Unit = {
    val spark = batch.sparkSession
    // Robust to a pre-image-bearing feed (includePreimages = true):
    // update_preimage rows TIE their post-image on _commit_version, so
    // they must be dropped before the terminal-change window or
    // row_number could nondeterministically pick the stale pre-image.
    // replicate() builds the feed without pre-images; this keeps the
    // public batch-apply correct for any caller's feed.
    val events = batch
      .where(col(MergeStoreCdc.ChangeTypeCol) =!= "update_preimage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk.map(col): _*)
      .orderBy(col(MergeStoreCdc.CommitVersionCol).desc)
    val terminal = events
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn", MergeStoreCdc.CommitVersionCol)
      .cache()
    try {
      val upserts = terminal.where(col(MergeStoreCdc.ChangeTypeCol).isin(
        "insert", "update_postimage")).drop(MergeStoreCdc.ChangeTypeCol)
      val deletes = terminal
        .where(col(MergeStoreCdc.ChangeTypeCol) === "delete")
        .select(pk.map(col): _*).distinct()
      if (!upserts.isEmpty)
        MergeStore.merge(spark, upserts, replica, pk, maxRetries = 3)
      if (!deletes.isEmpty)
        MergeStore.delete(spark, replica, deletes, pk, maxRetries = 3)
    } finally terminal.unpersist(): Unit
  }
}
