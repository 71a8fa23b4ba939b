package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.MergeStore

/** Continuous replication: the CDC stream driving the same guarded
  * [[MergeStore.applyChanges]] commit as [[MergeStore.sync]] through
  * foreachBatch — a replica that FOLLOWS its source commit-by-commit
  * instead of being advanced by scheduled sync() calls. Cross-region
  * table following, the streaming twin of q97.
  *
  * Each non-empty micro-batch lands as ONE replica commit: its upserts,
  * its deletes and the replica's progress marker (`sync.applied`, the
  * newest source `_commit_version` the batch carries) in the same CAS.
  * A reader of the replica therefore only ever sees a state the source
  * had. The marker guards the commit: foreachBatch can redeliver the
  * last batch after a crash, and a batch the marker already covers is
  * dropped whole. Applying per-commit terminal changes is also
  * overlap-safe (re-merging the same post-images re-lands identical
  * rows; deleting the same keys is a no-op), so the guard needs no
  * exact base.
  *
  * Scale shape: each micro-batch ships only its span's changed rows
  * (file-pruned at the source) and costs one file-granular apply on
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
        applyCdcBatch(batch, replica, pk): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Apply one CDC micro-batch to the replica as one guarded
    * [[MergeStore.applyChanges]] commit: arriving rows upsert, departed
    * keys delete, and the marker advances to the batch's newest
    * `_commit_version`. A multi-commit batch can carry several changes
    * for one key (delete@v1 then re-insert@v2) — only the TERMINAL
    * change per key (highest `_commit_version`) may apply, or a
    * delete-then-reinsert would end deleted. The terminal changes are
    * persisted for the call: the marker read and the apply both read
    * them, and each would otherwise re-run the span read over the
    * source. Returns None for an empty batch (nothing is committed),
    * else the apply's stats — `skippedReplay` for a batch the marker
    * already covers. Visible for specs. */
  def applyCdcBatch(batch: DataFrame, replica: String,
                    pk: Seq[String]): Option[MergeStore.ApplyStats] = {
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
      .drop("__rn")
      .cache()
    try {
      // The newest change is always some key's terminal one; after it
      // lands, the replica holds the source's content at its version.
      val newest = terminal
        .agg(max(col(MergeStoreCdc.CommitVersionCol))).head()
      if (newest.isNullAt(0)) return None
      Some(MergeStore.applyFeed(spark, replica,
        terminal.drop(MergeStoreCdc.CommitVersionCol), pk,
        MergeStore.MarkerGuard(MergeStore.SyncAppliedKey, newest.getLong(0)),
        maxRetries = 3))
    } finally terminal.unpersist(): Unit
  }
}
