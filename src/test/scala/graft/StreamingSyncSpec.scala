package graft

import org.apache.spark.sql.functions._

import graft.store.MergeStore
import graft.streaming.{MergeStoreCdc, StreamingSync}

/** Continuous replication contract: a replica following the CDC stream
  * must equal the source after every catch-up run, resume from its
  * checkpoint (no re-shipping), resolve multi-commit batches to the
  * TERMINAL change per key — the delete-then-reinsert case that naive
  * merge-then-delete ordering gets wrong — and land each batch as one
  * marker-guarded commit.
  */
class StreamingSyncSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Long, hi: Long, tag: String) =
    spark.range(lo, hi).select(col("id"),
      concat(lit(tag + "-"), col("id")).as("payload"))

  private def snap(p: String) = MergeStore.read(spark, p)
    .select($"id", $"payload").as[(Long, String)].collect().sortBy(_._1).toSeq

  test("replica follows the source across runs; delete-then-reinsert lands inserted") {
    val t = tmpDir("ssync") + "/tbl"
    val r = tmpDir("ssync") + "/replica"
    val ck = tmpDir("ssync") + "/ck"
    MergeStore.init(spark, rows(0, 500, "v1"), t, numFiles = 4,
      clusterBy = Seq("id")) // v0
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 4,
      clusterBy = Seq("id")) // deep clone of v0

    // v1: delete a key range; v2: re-insert part of it with new payload.
    // One AvailableNow run sees BOTH commits in one batch — the replica
    // must end with the re-inserted rows present (terminal change wins).
    MergeStore.delete(spark, t, spark.range(100L, 120L).select(col("id")),
      pk = Seq("id")) // v1
    MergeStore.merge(spark, rows(100, 105, "back"), t, pk = Seq("id")) // v2
    StreamingSync.replicate(spark, t, r, Seq("id"), fromVersion = 0,
      checkpoint = ck).awaitTermination()
    assert(snap(r) == snap(t))
    assert(MergeStore.read(spark, r).where($"payload".startsWith("back"))
      .count() == 5)

    // More commits; resume from the same checkpoint.
    MergeStore.merge(spark, rows(0, 10, "v3"), t, pk = Seq("id")) // v3
    MergeStore.delete(spark, t, spark.range(490L, 500L).select(col("id")),
      pk = Seq("id")) // v4
    StreamingSync.replicate(spark, t, r, Seq("id"), fromVersion = 0,
      checkpoint = ck).awaitTermination()
    assert(snap(r) == snap(t))

    // Quiesced: another run changes nothing (replica version stable —
    // no empty commits shipped).
    val vBefore = MergeStore.version(r)
    StreamingSync.replicate(spark, t, r, Seq("id"), fromVersion = 0,
      checkpoint = ck).awaitTermination()
    assert(MergeStore.version(r) == vBefore && snap(r) == snap(t))
  }

  test("pre-image-bearing batch applies the POST-image (no commit-version tie)") {
    val t = tmpDir("ssync-pre") + "/tbl"
    val r = tmpDir("ssync-pre") + "/replica"
    MergeStore.init(spark, rows(0, 100, "v1"), t, numFiles = 2,
      clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 2,
      clusterBy = Seq("id"))
    MergeStore.merge(spark, rows(0, 20, "post"), t, pk = Seq("id")) // v1
    // An update's pre-image and post-image TIE on _commit_version; the
    // apply must never merge the stale pre-image.
    val batch = MergeStoreCdc.changesByCommit(spark, t, Seq("id"),
      includePreimages = true, fromVersion = 0, toVersion = 1)
    StreamingSync.applyCdcBatch(batch, r, Seq("id"))
    assert(snap(r) == snap(t))
    assert(MergeStore.read(spark, r).where($"payload".startsWith("post"))
      .count() == 20)
  }

  test("replayed batch application is idempotent (upsert semantics)") {
    val t = tmpDir("ssync-replay") + "/tbl"
    val r = tmpDir("ssync-replay") + "/replica"
    MergeStore.init(spark, rows(0, 100, "v1"), t, numFiles = 2,
      clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 2,
      clusterBy = Seq("id"))
    MergeStore.merge(spark, rows(0, 5, "v2"), t, pk = Seq("id")) // v1
    MergeStore.delete(spark, t, spark.range(50L, 60L).select(col("id")),
      pk = Seq("id")) // v2
    val batch = MergeStoreCdc.changesByCommit(spark, t, Seq("id"),
      includePreimages = false, fromVersion = 0, toVersion = 2)
    val first = StreamingSync.applyCdcBatch(batch, r, Seq("id"))
    assert(first.exists(!_.skippedReplay))
    val once = snap(r)
    val v = MergeStore.version(r)
    // A crash-replay redelivers the batch: the replica's marker already
    // covers it, so it is dropped whole and no version is added.
    val again = StreamingSync.applyCdcBatch(batch, r, Seq("id"))
    assert(again.exists(_.skippedReplay))
    assert(MergeStore.version(r) == v)
    assert(snap(r) == once && once == snap(t))
  }

  test("a batch carrying a column the replica lacks is refused whole") {
    val t = tmpDir("ssync-drift") + "/tbl"
    val r = tmpDir("ssync-drift") + "/replica"
    MergeStore.init(spark, rows(0, 50, "v1"), t, numFiles = 2,
      clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 2,
      clusterBy = Seq("id"))
    MergeStore.addColumn(spark, t, "note",
      org.apache.spark.sql.types.StringType) // v1
    MergeStore.merge(spark, rows(0, 5, "v2").withColumn("note", lit("n")),
      t, pk = Seq("id")) // v2
    val batch = MergeStoreCdc.changesByCommit(spark, t, Seq("id"),
      includePreimages = false, fromVersion = 0, toVersion = 2)
    val v = MergeStore.version(r)
    intercept[IllegalArgumentException](
      StreamingSync.applyCdcBatch(batch, r, Seq("id")))
    assert(MergeStore.version(r) == v)
    assert(MergeStore.markerValue(r, MergeStore.SyncAppliedKey).isEmpty)
    // Once the replica has the column, the same batch lands its values.
    MergeStore.addColumn(spark, r, "note",
      org.apache.spark.sql.types.StringType)
    assert(StreamingSync.applyCdcBatch(batch, r, Seq("id"))
      .exists(!_.skippedReplay))
    assert(MergeStore.read(spark, r).where($"note" === "n").count() == 5)
  }

  test("each non-empty batch is one replica commit holding a source state") {
    val t = tmpDir("ssync-atomic") + "/tbl"
    val r = tmpDir("ssync-atomic") + "/replica"
    val ck = tmpDir("ssync-atomic") + "/ck"
    MergeStore.init(spark, rows(0, 400, "v1"), t, numFiles = 4,
      clusterBy = Seq("id")) // v0
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 4,
      clusterBy = Seq("id"))
    val r0 = MergeStore.version(r).get
    // v1 mixes upserts (updates and inserts) with deletes in one commit;
    // v2 is a compaction, which carries no change; v3 deletes, v4
    // updates and deletes across files.
    MergeStore.applyChanges(spark, t,
      rows(0, 20, "u1").unionByName(rows(400, 410, "n1")),
      spark.range(100L, 130L).select(col("id")), pk = Seq("id")) // v1
    MergeStore.compact(spark, t, targetFiles = 2, clusterBy = Seq("id")) // v2
    MergeStore.delete(spark, t, spark.range(300L, 320L).select(col("id")),
      pk = Seq("id")) // v3
    MergeStore.applyChanges(spark, t, rows(200, 210, "u4"),
      spark.range(0L, 5L).union(spark.range(390L, 395L)).select(col("id")),
      pk = Seq("id")) // v4
    val sourceStates = (0 to MergeStore.version(t).get).map(v =>
      MergeStore.read(spark, t, Some(v)).select($"id", $"payload")
        .as[(Long, String)].collect().sortBy(_._1).toSeq).toSet
    StreamingSync.replicate(spark, t, r, Seq("id"), fromVersion = 0,
      checkpoint = ck, maxVersionsPerBatch = 1).awaitTermination()
    assert(snap(r) == snap(t))
    // Three commits carried changes: three replica versions, no more.
    val head = MergeStore.version(r).get
    assert(head == r0 + 3)
    // No replica version ever exposed a merged-but-not-deleted state.
    (r0 to head).foreach { v =>
      val got = MergeStore.read(spark, r, Some(v)).select($"id", $"payload")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(sourceStates.contains(got), s"replica v$v is no source state")
    }
  }
}
