package graft

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** Merge-on-read DELETE via deletion vectors (Delta DVs / Iceberg
  * positional deletes): doomed row POSITIONS land in per-file sidecars
  * committed through the manifest CAS — no data-file rewrite — and
  * every reader (read, readSubset-backed verbs, readSkipping, scans,
  * change feed) applies them as a broadcast anti-join on parquet's
  * stable `_metadata.row_index`. COW rewrites materialize vectors;
  * purgeDeletes does it eagerly.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private val N = 10000
  private val FILES = 8

  private def base = spark.range(N.toLong).select(col("id"),
    (col("id") % 97).cast("int").as("grp"),
    concat(lit("v1-"), col("id")).as("payload"))

  private def freshTable(tag: String): String = {
    val t = tmpDir(tag) + "/tbl"
    MergeStore.init(spark, base, t, FILES, clusterBy = Seq("id"))
    t
  }

  test("deleteWhereMor: no file rewrite, reads hide the rows, reruns are no-ops") {
    val t = freshTable("dv-basic")
    val filesBefore = MergeStore.liveFiles(t)
    val st = MergeStore.deleteWhereMor(spark, t, col("id") % 100 === 7)
    assert(st.rowsDeleted == 100 && st.filesRewritten > 0)
    assert(MergeStore.version(t).contains(1))
    assert(MergeStore.liveFiles(t) == filesBefore, "MOR must not rewrite files")
    val back = MergeStore.read(spark, t)
    assert(back.count() == N - 100)
    assert(back.where(col("id") % 100 === 7).count() == 0)
    // Survivors bit-exact: same rows as a from-scratch filter.
    assert(back.orderBy("id").collect().toSeq ==
      base.where(col("id") % 100 =!= 7).orderBy("id").collect().toSeq)
    // Rerun: already-marked rows never re-match — no new commit at all.
    val st2 = MergeStore.deleteWhereMor(spark, t, col("id") % 100 === 7)
    assert(st2.rowsDeleted == 0 && MergeStore.version(t).contains(1))
  }

  test("second MOR delete on the same files supersedes: one sidecar, union positions") {
    val t = freshTable("dv-union")
    MergeStore.deleteWhereMor(spark, t, col("id") < 50)
    MergeStore.deleteWhereMor(spark, t, col("id") >= 50 && col("id") < 80)
    assert(MergeStore.read(spark, t).count() == N - 80)
    assert(MergeStore.read(spark, t).where(col("id") < 80).count() == 0)
    // Time travel still sees each stage exactly.
    assert(MergeStore.read(spark, t, Some(0)).count() == N)
    assert(MergeStore.read(spark, t, Some(1)).count() == N - 50)
  }

  test("deleteMor by key set; NULL-safe; MOR and COW deletes compose") {
    val t = freshTable("dv-keys")
    val st = MergeStore.deleteMor(spark, t,
      Seq(1L, 5L, 999999L).toDF("id"), pk = Seq("id"))
    assert(st.rowsDeleted == 2) // absent key is a no-op
    // A COW deleteWhere on the DV-bearing table must NOT resurrect
    // MOR-deleted rows in the files it rewrites.
    MergeStore.deleteWhere(spark, t, col("id") % 97 === 3)
    val back = MergeStore.read(spark, t)
    assert(back.where(col("id").isin(1L, 5L)).count() == 0,
      "COW rewrite resurrected MOR-deleted rows")
    assert(back.orderBy("id").collect().toSeq ==
      base.where(!col("id").isin(1L, 5L) && col("id") % 97 =!= 3)
        .orderBy("id").collect().toSeq)
  }

  test("merge on a DV-bearing table: upsert of a deleted key is a fresh insert") {
    val t = freshTable("dv-merge")
    MergeStore.deleteMor(spark, t, Seq(42L).toDF("id"), pk = Seq("id"))
    MergeStore.merge(spark,
      Seq((42L, 0, "reborn"), (43L, 1, "updated")).toDF("id", "grp", "payload"),
      t, pk = Seq("id"))
    val back = MergeStore.read(spark, t)
      .where(col("id").isin(42L, 43L))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    assert(back == Map(42L -> "reborn", 43L -> "updated"))
    assert(MergeStore.read(spark, t).where(col("id") === 42L).count() == 1)
  }

  test("readSkipping, scanForKeys and updateWhere all apply vectors") {
    val t = freshTable("dv-readers")
    MergeStore.deleteWhereMor(spark, t, col("id") % 10 === 0)
    assert(MergeStore.readSkipping(spark, t).count() == N - N / 10)
    assert(MergeStore.readSkipping(spark, t)
      .where(col("id") < 100).count() == 90)
    assert(MergeStore.scanForKeys(spark, t,
      Seq(10L, 11L).toDF("id"), Seq("id")).count() == 1)
    val st = MergeStore.updateWhere(spark, t, col("id") < 20,
      Map("payload" -> lit("u")))
    assert(st.rowsUpdated == 18, s"got ${st.rowsUpdated}") // 0 and 10 are DV'd
    assert(MergeStore.read(spark, t)
      .where(col("payload") === "u").count() == 18)
    assert(MergeStore.read(spark, t).where(col("id") === 10L).count() == 0)
  }

  test("change feed: a MOR delete emits exactly its delete pre-images") {
    val t = freshTable("dv-cdc")
    MergeStore.deleteWhereMor(spark, t, col("id") % 500 === 3) // v1
    val feed = MergeStore.changes(spark, t, 0, 1, pk = Seq("id"))
    val got = feed.select($"id", $"_change_type").as[(Long, String)]
      .collect().toSet
    assert(got == (0 until N).filter(_ % 500 == 3)
      .map(i => (i.toLong, "delete")).toSet)
    // Span composition across MOR + merge: net terminal changes.
    MergeStore.merge(spark,
      Seq((3L, 0, "back")).toDF("id", "grp", "payload"), t,
      pk = Seq("id")) // v2: re-inserts a deleted key
    val span = MergeStore.changes(spark, t, 0, 2, pk = Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(span.contains((3L, "update_postimage")), // deleted then re-added = net update
      s"expected net update for re-inserted key, got ${span.filter(_._1 == 3L)}")
  }

  test("purgeDeletes materializes: rows unchanged, vectors gone, feed silent") {
    val t = freshTable("dv-purge")
    MergeStore.deleteWhereMor(spark, t, col("id") % 7 === 0) // v1
    val beforeRows = MergeStore.read(spark, t).orderBy("id").collect().toSeq
    val rewritten = MergeStore.purgeDeletes(spark, t) // v2
    assert(rewritten > 0)
    assert(MergeStore.dvMeta(t).isEmpty, "vectors must be gone after purge")
    assert(MergeStore.read(spark, t).orderBy("id").collect().toSeq == beforeRows)
    // Purge is pure layout: the typed feed across it emits nothing.
    assert(MergeStore.changes(spark, t, 1, 2, pk = Seq("id")).count() == 0)
    // Idempotent.
    assert(MergeStore.purgeDeletes(spark, t) == 0)
  }

  test("threshold purge rewrites only heavily-buried files; light vectors stay") {
    val t = freshTable("dv-threshold") // 8 files, id-clustered
    // Heavy burial in the low-id files (40% of their rows), one light
    // mark in the high range (~0.08% of its file).
    MergeStore.deleteWhereMor(spark, t,
      col("id") < (N / 4) && col("id") % 5 < 2) // 40% of files 0-1
    MergeStore.deleteMor(spark, t, Seq((N - 1).toLong).toDF("id"),
      pk = Seq("id"))
    val markedBefore = MergeStore.dvMeta(t).keys.toSet
    val expect = MergeStore.read(spark, t).orderBy("id").collect().toSeq
    val rewritten = MergeStore.purgeDeletes(spark, t,
      minDeletedFraction = 0.2)
    assert(rewritten > 0 && rewritten < markedBefore.size,
      s"expected a partial purge, rewrote $rewritten of ${markedBefore.size}")
    val remaining = MergeStore.dvMeta(t)
    assert(remaining.nonEmpty, "the lightly-marked file must keep its vector")
    assert(MergeStore.read(spark, t).orderBy("id").collect().toSeq == expect)
    // Full purge finishes the job.
    assert(MergeStore.purgeDeletes(spark, t) == remaining.size)
    assert(MergeStore.dvMeta(t).isEmpty)
    assert(MergeStore.read(spark, t).orderBy("id").collect().toSeq == expect)
  }

  test("restore across MOR deletes revives rows; the feed shows inserts back") {
    val t = freshTable("dv-restore")
    MergeStore.deleteWhereMor(spark, t, col("id") < 100) // v1
    MergeStore.restore(spark, t, 0) // v2: rows revived
    assert(MergeStore.read(spark, t).count() == N)
    val feed = MergeStore.changes(spark, t, 1, 2, pk = Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed == (0 until 100).map(i => (i.toLong, "insert")).toSet,
      s"restore feed wrong: ${feed.take(5)}")
    // And restoring back ONTO the deleted state keeps the vector.
    MergeStore.restore(spark, t, 1) // v3
    assert(MergeStore.read(spark, t).count() == N - 100)
  }

  test("clone carries vectors; vacuum reclaims superseded sidecars only") {
    val t = freshTable("dv-clone")
    MergeStore.deleteWhereMor(spark, t, col("id") < 10) // v1, sidecars @v1
    MergeStore.cloneTable(spark, t, s"$t-clone")
    assert(MergeStore.read(spark, s"$t-clone").count() == N - 10)
    // Supersede the source's sidecars, then vacuum head-only.
    MergeStore.deleteWhereMor(spark, t, col("id") >= 10 && col("id") < 20) // v2
    MergeStore.vacuum(t, retainVersions = 1, graceMillis = 0)
    assert(MergeStore.read(spark, t).count() == N - 20,
      "head unreadable after vacuum — a live sidecar was reclaimed")
    // The clone is isolated: its own hard-linked sidecar survives.
    assert(MergeStore.read(spark, s"$t-clone").count() == N - 10)
    // Vacuumed history: time travel to v1 must now fail (its sidecar
    // superseded and reclaimed) — or still count correctly if retained.
    intercept[Exception] {
      MergeStore.read(spark, t, Some(1)).count()
    }
  }

  test("updateWhereMor: post-images appended, old images buried, feed nets to updates") {
    val t = freshTable("dv-mor-upd")
    val filesBefore = MergeStore.liveFiles(t)
    val st = MergeStore.updateWhereMor(spark, t, col("id") % 200 === 3,
      Map("payload" -> concat(lit("upd-"), col("id"))))
    assert(st.rowsUpdated == 50)
    // Old files all carried; post-images append SIZED BY MATCHED VOLUME
    // (one file per affected input file, like purgeDeletes) — a broad
    // UPDATE must never funnel its whole rewrite through one task.
    assert(MergeStore.liveFiles(t).toSet.intersect(filesBefore.toSet)
      == filesBefore.toSet)
    val appended = MergeStore.liveFiles(t).filterNot(filesBefore.contains)
    assert(appended.size > 1 && appended.size <= st.filesRewritten,
      s"appended ${appended.size} files for ${st.filesRewritten} marked")
    // Every appended file carries its own stats lines (data skipping
    // keeps working on the post-image rows).
    val meta = MergeStore.manifestMeta(t)
    assert(appended.forall(f => meta.contains(s"n:$f:id")),
      "appended post-image file missing null-count stats")
    val back = MergeStore.read(spark, t)
    assert(back.count() == N) // update, not delete
    assert(back.where(col("payload").startsWith("upd-")).count() == 50)
    assert(back.where(col("id") === 3L).select("payload")
      .collect()(0).getString(0) == "upd-3")
    // The typed feed nets the buried/appended pair into updates.
    val feed = MergeStore.changes(spark, t, 0, 1, pk = Seq("id"),
      includePreimages = true)
    val byType = feed.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("update_postimage" -> 50L,
      "update_preimage" -> 50L), s"got $byType")
    // A second MOR update composes (supersede + another append).
    MergeStore.updateWhereMor(spark, t, col("id") === 3L,
      Map("payload" -> lit("again")))
    assert(MergeStore.read(spark, t).where(col("id") === 3L)
      .select("payload").collect()(0).getString(0) == "again")
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("each MOR verb equals its COW twin: rows and change-type counts") {
    val pred = col("id") % 200 === 3
    val keys = Seq(3L, 203L, 9803L, 999999L).toDF("id")
    val set = Map("payload" -> concat(lit("upd-"), col("id")))
    // input -> run(table, mor)
    val inputs: Seq[(String, (String, Boolean) => Unit)] = Seq(
      "predicate delete" -> { (t, mor) =>
        (if (mor) MergeStore.deleteWhereMor(spark, t, pred)
         else MergeStore.deleteWhere(spark, t, pred)): Unit },
      "key delete" -> { (t, mor) =>
        (if (mor) MergeStore.deleteMor(spark, t, keys, Seq("id"))
         else MergeStore.delete(spark, t, keys, Seq("id"))): Unit },
      "update" -> { (t, mor) =>
        (if (mor) MergeStore.updateWhereMor(spark, t, pred, set)
         else MergeStore.updateWhere(spark, t, pred, set)): Unit })
    inputs.foreach { case (name, run) =>
      val tag = name.replace(' ', '-')
      val mor = freshTable(s"dv-twin-$tag")
      val cow = freshTable(s"dv-twin-$tag-cow")
      run(mor, true)
      run(cow, false)
      assert(MergeStore.dvMeta(mor).nonEmpty && MergeStore.dvMeta(cow).isEmpty,
        name)
      assert(MergeStore.read(spark, mor).orderBy("id").collect().toSeq ==
        MergeStore.read(spark, cow).orderBy("id").collect().toSeq, name)
      def typeCounts(t: String): Map[String, Long] =
        MergeStore.changes(spark, t, 0, 1, pk = Seq("id"),
          includePreimages = true).groupBy("_change_type").count()
          .as[(String, Long)].collect().toMap
      val want = typeCounts(cow)
      assert(want.nonEmpty && typeCounts(mor) == want, s"$name: $want")
    }
  }

  test("optimistic concurrency: racing MOR delete and merge both land via retry") {
    val t = freshTable("dv-occ")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fDel = Future {
      MergeStore.deleteWhereMor(spark, t, col("id") < 50, maxRetries = 5)
    }
    val fMerge = Future {
      MergeStore.merge(spark,
        Seq((100000L, 0, "new")).toDF("id", "grp", "payload"),
        t, pk = Seq("id"), maxRetries = 5)
    }
    val del = Await.result(fDel, 120.seconds)
    Await.result(fMerge, 120.seconds)
    assert(del.rowsDeleted == 50)
    assert(MergeStore.version(t).contains(2)) // both committed, serialized
    val back = MergeStore.read(spark, t)
    assert(back.count() == N - 50 + 1)
    assert(back.where(col("id") < 50).count() == 0)
    assert(back.where(col("id") === 100000L).count() == 1)
  }

  test("incremental view maintenance follows MOR deletes through the feed") {
    val t = freshTable("dv-ivm")
    val view = tmpDir("dv-ivm") + "/view"
    val spec = graft.operators.IncrementalView.IvmSpec(
      groupBy = Seq("grp"), sums = Nil)
    graft.operators.IncrementalView.initView(spark, t, view, spec)
    MergeStore.deleteWhereMor(spark, t, col("grp") === 13) // kills one group
    graft.operators.IncrementalView.refresh(spark, t, view, spec)
    val got = graft.operators.IncrementalView.readView(spark, view, spec)
      .select($"grp".cast("int"), $"n_rows").as[(Int, Long)].collect().toMap
    val want = base.where(col("grp") =!= 13).groupBy("grp").count()
      .select($"grp".cast("int"), $"count").as[(Int, Long)].collect().toMap
    assert(got == want)
  }
}
