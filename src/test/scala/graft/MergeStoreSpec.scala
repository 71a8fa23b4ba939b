package graft

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** File-granular COW MERGE contract: only files holding matched keys are
  * rewritten, commits are manifest-atomic, reruns are idempotent, vacuum
  * drops superseded files without disturbing readers of the new version.
  * The measured write amplification lands in SCALE.md §MERGE.
  */
class MergeStoreSpec extends SparkSpec {
  import spark.implicits._

  private val N = 10000
  private val FILES = 16

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def freshTable(): String = {
    val target = tmpDir("merge-store") + "/tbl"
    MergeStore.init(spark, base, target, FILES, clusterBy = Seq("id"))
    target
  }

  test("diff between versions: update post-images + inserts, file-pruned") {
    val t = freshTable() // v0
    val updates = spark.range(100L, 105L)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit("v2-"), col("id")).as("payload"))
      .union(spark.range(N.toLong, N + 3L)
        .select(col("id"), (col("id") % 97).cast("int").as("grp"),
          concat(lit("new-"), col("id")).as("payload")))
    MergeStore.merge(spark, updates, t, pk = Seq("id")) // v1
    val d = MergeStore.diff(spark, t, 0, 1)
      .select($"id", $"payload").as[(Long, String)].collect().toSet
    // Exactly the merged batch's rows — updated post-images + inserts;
    // untouched rows cancel (and their files are never read: the diff
    // scans only files unique to one manifest).
    val want = (100L until 105L).map(i => (i, s"v2-$i")).toSet ++
      (N.toLong until N + 3L).map(i => (i, s"new-$i")).toSet
    assert(d == want)
    // Unchanged survivor rows of the rewritten files must NOT appear
    // (they ride the replacement files but cancel against their old copy).
    assert(d.count(_._2.startsWith("v1-")) == 0)
    // A compaction is a pure layout rewrite: diff across it is empty.
    MergeStore.compact(spark, t, targetFiles = 4, clusterBy = Seq("id")) // v2
    assert(MergeStore.diff(spark, t, 1, 2).count() == 0)
  }

  test("init + read: manifest-committed files roundtrip the data") {
    val t = freshTable()
    val back = MergeStore.read(spark, t)
    assert(back.count() == N)
    assert(back.columns.toSeq == Seq("id", "grp", "payload"))
    assert(MergeStore.liveFiles(t).size == FILES)
  }

  test("merge rewrites ONLY the files containing matched keys") {
    val t = freshTable()
    // 10 keys from one narrow range → they live in 1-2 of the 16
    // range-clustered files.
    val updates = spark.range(100L, 110L)
      .select(col("id"), lit(7).cast("int").as("grp"),
        concat(lit("v2-"), col("id")).as("payload"))
    val stats = MergeStore.merge(spark, updates, t, Seq("id"))
    assert(stats.filesTotal == FILES)
    assert(stats.filesRewritten >= 1 && stats.filesRewritten <= 2,
      s"expected 1-2 affected files, got ${stats.filesRewritten}")
    assert(stats.rowsUpdated == 10 && stats.rowsInserted == 0)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N) // pure update: no growth
    assert(after.where(col("id") === 105L).select("payload")
      .as[String].head() == "v2-105")
    assert(after.where(col("id") === 9000L).select("payload")
      .as[String].head() == "v1-9000") // untouched file carried over
    assert(after.where(col("payload").startsWith("v2-")).count() == 10)
  }

  test("merge inserts unmatched keys; idempotent rerun is a no-op update") {
    val t = freshTable()
    val batch = Seq(
      (N.toLong + 1, 3, "new-a"), (N.toLong + 2, 4, "new-b"),
      (42L, 42, "v2-42")).toDF("id", "grp", "payload")
    val s1 = MergeStore.merge(spark, batch, t, Seq("id"))
    assert(s1.rowsInserted == 2 && s1.rowsUpdated == 1)
    assert(MergeStore.read(spark, t).count() == N + 2)
    val s2 = MergeStore.merge(spark, batch, t, Seq("id"))
    assert(s2.rowsInserted == 0 && s2.rowsUpdated == 3)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N + 2)
    assert(after.where(col("id") === 42L).select("payload")
      .as[String].head() == "v2-42")
  }

  test("intra-batch order: highest ordCol wins a duplicate-PK batch") {
    val t = freshTable()
    val dup = Seq((7L, 0, "stale", 1L), (7L, 0, "fresh", 2L))
      .toDF("id", "grp", "payload", "load_seq")
    MergeStore.merge(spark, dup, t, Seq("id"), ordCols = Seq("load_seq"))
    assert(MergeStore.read(spark, t).where(col("id") === 7L)
      .select("payload").as[String].head() == "fresh")
  }

  test("vacuum removes superseded files; the committed version is intact") {
    val t = freshTable()
    val updates = spark.range(0L, 5L)
      .select(col("id"), lit(0).cast("int").as("grp"),
        concat(lit("v2-"), col("id")).as("payload"))
    val stats = MergeStore.merge(spark, updates, t, Seq("id"))
    val removed = MergeStore.vacuum(t, graceMillis = 0)
    assert(removed == stats.filesRewritten) // exactly the replaced files
    val after = MergeStore.read(spark, t)
    assert(after.count() == N)
    assert(after.where(col("id") === 3L).select("payload")
      .as[String].head() == "v2-3")
  }

  test("vacuum retention: readers within the window survive, older fail clean") {
    val t = freshTable() // v0
    MergeStore.merge(spark, spark.range(0L, 5L)
      .select(col("id"), lit(0).cast("int").as("grp"),
        concat(lit("v2-"), col("id")).as("payload")), t, Seq("id")) // v1
    MergeStore.merge(spark, spark.range(5L, 9L)
      .select(col("id"), lit(0).cast("int").as("grp"),
        concat(lit("v3-"), col("id")).as("payload")), t, Seq("id")) // v2
    MergeStore.vacuum(t, retainVersions = 2, graceMillis = 0)
    // v1 is inside the window: its full snapshot must still read — the
    // guarantee an OCC reader pinned just behind head depends on.
    assert(MergeStore.read(spark, t, Some(1)).count() == N)
    assert(MergeStore.read(spark, t, Some(2)).count() == N)
    // v0 is below the floor: manifest removed, so the failure is a clear
    // missing-version error at lookup, never a mid-scan file-not-found.
    intercept[Exception] { MergeStore.read(spark, t, Some(0)).count() }
    assert(MergeStore.liveFiles(t, Some(2)).nonEmpty)
  }

  private def batch(prefix: String, ids: Seq[Long]) =
    ids.toDF("id")
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(s"$prefix-"), col("id")).as("payload"))

  test("optimistic concurrency: a stale writer's commit is rejected") {
    val t = freshTable() // v0
    // Writer B wins the race while A is still reading snapshot v0.
    MergeStore.merge(spark, batch("b", Seq(1L, 2L)), t, pk = Seq("id")) // v1
    val ex = intercept[java.util.ConcurrentModificationException] {
      MergeStore.merge(spark, batch("a", Seq(2L, 3L)), t, pk = Seq("id"),
        snapshotVersion = Some(0))
    }
    assert(ex.getMessage.contains("conflict"))
    // The lost commit changed nothing visible: head is still B's v1, and
    // A's staged-but-unreferenced data files are vacuumable orphans.
    val rows = MergeStore.read(spark, t)
      .where(col("id").isin(1L, 2L, 3L))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    assert(rows(1L) == "b-1" && rows(2L) == "b-2" && rows(3L) == "v1-3")
    assert(MergeStore.vacuum(t, graceMillis = 0) > 0)
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("optimistic concurrency: the loser replays and both writers land") {
    val t = freshTable() // v0
    MergeStore.merge(spark, batch("b", Seq(1L, 2L)), t, pk = Seq("id")) // v1
    // Same lost race, but with retries: A recomputes against B's head.
    val stats = MergeStore.merge(spark, batch("a", Seq(2L, 3L)), t,
      pk = Seq("id"), maxRetries = 1, snapshotVersion = Some(0))
    assert(stats.rowsUpdated == 2 && stats.rowsInserted == 0)
    val rows = MergeStore.read(spark, t)
      .where(col("id").isin(1L, 2L, 3L))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    // B's non-contended row survives; the contended key 2 is last-write-
    // wins (A replayed AFTER B committed); A's other row landed.
    assert(rows(1L) == "b-1" && rows(2L) == "a-2" && rows(3L) == "a-3")
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("optimistic concurrency: two racing threads both land with retries") {
    val t = freshTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      val a = Future(MergeStore.merge(spark, batch("ta", 10L to 19L), t,
        pk = Seq("id"), maxRetries = 5))
      val b = Future(MergeStore.merge(spark, batch("tb", 20L to 29L), t,
        pk = Seq("id"), maxRetries = 5))
      Await.result(a, 5.minutes); Await.result(b, 5.minutes)
    } finally pool.shutdown()
    // Disjoint key ranges: whatever the commit order, both batches must
    // be fully present and the table size unchanged.
    val rows = MergeStore.read(spark, t)
      .where(col("id").between(10L, 29L))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    (10L to 19L).foreach(i => assert(rows(i) == s"ta-$i"))
    (20L to 29L).foreach(i => assert(rows(i) == s"tb-$i"))
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("schema evolution: evolving merge appends columns, strict default refuses") {
    val t = freshTable() // (id, grp, payload)
    val evolved = spark.range(3L, 6L)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit("v2-"), col("id")).as("payload"),
        (col("id") * 10).cast("double").as("score"))
    // Strict default: a drifted producer fails loudly, table unchanged.
    intercept[Exception] { MergeStore.merge(spark, evolved, t, Seq("id")) }
    assert(MergeStore.read(spark, t).columns.toSeq ==
      Seq("id", "grp", "payload"))
    // Evolving merge: column appended; untouched rows read null there.
    val stats = MergeStore.merge(spark, evolved, t, Seq("id"),
      allowSchemaEvolution = true)
    assert(stats.rowsUpdated == 3)
    val after = MergeStore.read(spark, t)
    assert(after.columns.sorted.toSeq ==
      Seq("grp", "id", "payload", "score"))
    assert(after.count() == N)
    assert(after.where(col("id") === 4L).select("score")
      .as[Double].head() == 40.0)
    assert(after.where(col("id") === 1000L).select("score")
      .as[java.lang.Double].head() == null)
    // Diff across the evolution boundary still cancels carried rows.
    val d = MergeStore.diff(spark, t, 0, 1)
      .select($"id", $"payload").as[(Long, String)].collect().toSet
    assert(d == (3L until 6L).map(i => (i, s"v2-$i")).toSet)
    // A later NON-evolving merge against the evolved table: the batch
    // must now carry all four columns (strict projection), and rows it
    // does not touch keep their score.
    val plain = spark.range(3L, 4L)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        lit("v3-3").as("payload"), lit(99.0).as("score"))
    MergeStore.merge(spark, plain, t, Seq("id"))
    assert(MergeStore.read(spark, t).where(col("id") === 4L)
      .select("score").as[Double].head() == 40.0)
  }

  test("time travel + compaction: old versions readable until vacuum") {
    val t = freshTable() // v0
    val updates = spark.range(50L, 55L)
      .select(col("id"), lit(1).cast("int").as("grp"),
        concat(lit("v2-"), col("id")).as("payload"))
    MergeStore.merge(spark, updates, t, Seq("id")) // v1
    // pre-merge version still shows the original payloads
    val v0 = MergeStore.read(spark, t, version = Some(0))
    assert(v0.where(col("id") === 52L).select("payload")
      .as[String].head() == "v1-52")
    assert(MergeStore.read(spark, t).where(col("id") === 52L)
      .select("payload").as[String].head() == "v2-52")
    // compaction: pure layout rewrite into 4 files, content unchanged
    MergeStore.compact(spark, t, targetFiles = 4, clusterBy = Seq("id")) // v2
    assert(MergeStore.liveFiles(t).size == 4)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N)
    assert(after.where(col("id") === 52L).select("payload")
      .as[String].head() == "v2-52")
    // vacuum reclaims every file only older versions referenced
    assert(MergeStore.vacuum(t, graceMillis = 0) > 0)
    assert(MergeStore.read(spark, t).count() == N)
    intercept[Exception] { // time travel is gone after vacuum, loudly
      MergeStore.read(spark, t, version = Some(0)).count()
    }
  }

  test("delete by keys rewrites only affected files; reruns are no-ops") {
    val t = freshTable() // v0, 16 range-clustered files
    // 5 keys in one narrow range → 1-2 affected files out of 16.
    val doomed = (100L until 105L).toDF("id")
    val stats = MergeStore.delete(spark, t, doomed, pk = Seq("id"))
    assert(stats.filesTotal == FILES)
    assert(stats.filesRewritten >= 1 && stats.filesRewritten <= 2)
    assert(stats.rowsDeleted == 5)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N - 5)
    assert(after.where(col("id").between(100L, 104L)).count() == 0)
    assert(after.where(col("id") === 99L).count() == 1)
    assert(after.where(col("id") === 105L).count() == 1)
    // Rerun: the keys are gone, so no file matches → no rewrite, no new
    // version — the idempotence a replayed removal-request batch needs.
    val v = MergeStore.liveFiles(t).size
    val again = MergeStore.delete(spark, t, doomed, pk = Seq("id"))
    assert(again.rowsDeleted == 0 && again.filesRewritten == 0)
    assert(MergeStore.liveFiles(t).size == v)
    assert(MergeStore.read(spark, t).count() == N - 5)
  }

  test("deleteWhere: predicate TRUE dies, NULL and FALSE survive") {
    val target = tmpDir("merge-store") + "/tbl"
    val withNulls = spark.range(100L)
      .select(col("id"),
        when(col("id") % 3 === 0, col("id") % 7).cast("int").as("grp"))
    MergeStore.init(spark, withNulls, target, 4, clusterBy = Seq("id"))
    // grp < 3: TRUE for some, NULL for two-thirds — SQL DELETE keeps NULL.
    val stats = MergeStore.deleteWhere(spark, target, col("grp") < 3)
    val after = MergeStore.read(spark, target)
    val expectKilled = (0L until 100L)
      .count(i => i % 3 == 0 && (i % 7) < 3)
    assert(stats.rowsDeleted == expectKilled)
    assert(after.count() == 100 - expectKilled)
    assert(after.where(col("grp").isNull).count() ==
      (0L until 100L).count(_ % 3 != 0)) // NULL rows all survived
  }

  test("delete + compact + vacuum: the row stays gone") {
    val t = freshTable() // v0
    MergeStore.delete(spark, t, Seq(42L).toDF("id"), pk = Seq("id")) // v1
    MergeStore.compact(spark, t, targetFiles = 4, clusterBy = Seq("id")) // v2
    MergeStore.vacuum(t, graceMillis = 0)
    val after = MergeStore.read(spark, t)
    // Compaction reads the post-delete head — it must not resurrect the
    // row from superseded files, and vacuum reclaims those files.
    assert(after.count() == N - 1)
    assert(after.where(col("id") === 42L).count() == 0)
  }

  test("delete loses the CAS race and replays against the new head") {
    val t = freshTable() // v0
    // Writer B commits v1 while the delete is pinned on v0.
    MergeStore.merge(spark, batch("b", Seq(200L, 201L)), t, pk = Seq("id"))
    val stats = MergeStore.delete(spark, t, Seq(200L, 300L).toDF("id"),
      pk = Seq("id"), maxRetries = 1, snapshotVersion = Some(0))
    assert(stats.rowsDeleted == 2)
    val rows = MergeStore.read(spark, t)
    assert(rows.where(col("id").isin(200L, 300L)).count() == 0)
    // B's other update survived the replayed delete.
    assert(rows.where(col("id") === 201L).select("payload")
      .as[String].head() == "b-201")
    assert(rows.count() == N - 2)
  }

  test("changes: typed feed emits inserts, update post-images, and deletes") {
    val t = freshTable() // v0
    MergeStore.merge(spark, batch("u", Seq(10L, 11L))
      .union(batch("new", Seq(N.toLong))), t, pk = Seq("id")) // v1
    MergeStore.delete(spark, t, Seq(11L, 500L).toDF("id"), pk = Seq("id")) // v2
    val feed = MergeStore.changes(spark, t, 0, 2, pk = Seq("id"))
      .select($"id", $"payload", $"_change_type")
      .as[(Long, String, String)].collect().toSet
    // Key 11 was updated in v1 then deleted in v2: across 0→2 it is a
    // pure delete (pre-image is the v0 row — the only copy in removed
    // files not superseded by an added file).
    assert(feed == Set(
      (N.toLong, s"new-$N", "insert"),
      (10L, "u-10", "update_postimage"),
      (11L, "v1-11", "delete"),
      (500L, "v1-500", "delete")))
    // Per-step feeds see the intermediate update.
    val step1 = MergeStore.changes(spark, t, 0, 1, pk = Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(step1 == Set((N.toLong, "insert"), (10L, "update_postimage"),
      (11L, "update_postimage")))
    val step2 = MergeStore.changes(spark, t, 1, 2, pk = Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(step2 == Set((11L, "delete"), (500L, "delete")))
    // A pure compaction is layout-only: the typed feed is empty too.
    MergeStore.compact(spark, t, targetFiles = 4, clusterBy = Seq("id")) // v3
    assert(MergeStore.changes(spark, t, 2, 3, pk = Seq("id")).count() == 0)
  }

  test("changes: a NULL-key row classifies by its own side only") {
    // A key with a NULL component never equi-matches, so the feed
    // classifies such a row purely by the side it sits on: an updated
    // NULL-key row is a delete (old image) plus an insert (new image),
    // never an update pre/post-image pair — with or without pre-images
    // — and a compaction still nets it to nothing.
    val t = tmpDir("merge-nullkey") + "/tbl"
    MergeStore.init(spark, spark.range(200L).select(col("id"),
      when(col("id") % 50 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 7).cast("int")).as("grp"),
      concat(lit("v1-"), col("id")).as("payload")),
      t, 4, clusterBy = Seq("id")) // v0
    MergeStore.updateWhere(spark, t, col("id").isin(50L, 51L),
      Map("payload" -> concat(lit("u-"), col("id").cast("string")))) // v1
    MergeStore.compact(spark, t, targetFiles = 2, clusterBy = Seq("id")) // v2
    def feed(from: Int, to: Int, pre: Boolean) =
      MergeStore.changes(spark, t, from, to, pk = Seq("id", "grp"),
        includePreimages = pre)
        .select($"id", $"payload", $"_change_type")
        .as[(Long, String, String)].collect().toSet
    Seq(false, true).foreach { pre =>
      val complete = Set((51L, "u-51", "update_postimage")) ++
        (if (pre) Set((51L, "v1-51", "update_preimage")) else Set.empty)
      val nullKey = Set((50L, "u-50", "insert"), (50L, "v1-50", "delete"))
      assert(feed(0, 1, pre) == complete ++ nullKey,
        s"includePreimages=$pre")
      assert(feed(0, 2, pre) == complete ++ nullKey,
        s"span across the compaction, includePreimages=$pre")
      assert(feed(1, 2, pre).isEmpty,
        s"compaction must net to nothing, includePreimages=$pre")
    }
  }

  test("applyChanges: merge + delete + metadata land in ONE atomic commit") {
    val t = freshTable() // v0
    val ups = spark.range(0L, 5L)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit("up-"), col("id")).as("payload"))
      // Key 42 is ALSO in the delete set: delete-then-upsert composition
      // means it must end PRESENT with the new payload.
      .union(spark.range(42L, 43L)
        .select(col("id"), (col("id") % 97).cast("int").as("grp"),
          concat(lit("up-"), col("id")).as("payload")))
    val dels = spark.range(40L, 45L).select(col("id"))
    val v0 = MergeStore.version(t).get
    val stats = MergeStore.applyChanges(spark, t, ups, dels, pk = Seq("id"),
      meta = Map("ivm.applied" -> "7"))
    // Exactly one version: merge, delete, and marker are not separable.
    assert(MergeStore.version(t).get == v0 + 1)
    // User metadata rides the commit (stats lines share the namespace
    // under their reserved 's:'/stats.cols keys — filtered here).
    assert(MergeStore.userManifestMeta(t)
      == Map("ivm.applied" -> "7"))
    assert(stats.rowsUpserted == 6)
    assert(stats.rowsDeleted == 4) // 40,41,43,44 — not the re-upserted 42
    val back = MergeStore.read(spark, t)
    assert(back.where($"id".between(40, 44) && $"id" =!= 42).count() == 0)
    assert(back.where($"id" === 42).select("payload").as[String].head()
      == "up-42")
    assert(back.where($"id" < 5).select("payload").as[String].collect()
      .forall(_.startsWith("up-")))
    assert(back.count() == N - 4)
    // liveFiles never surfaces metadata lines as file names.
    assert(MergeStore.liveFiles(t).forall(_.endsWith(".parquet")))
  }

  test("applyChanges with nothing to do makes a metadata-only commit") {
    val t = freshTable() // v0
    val v0 = MergeStore.version(t).get
    val files0 = MergeStore.liveFiles(t)
    val none = spark.range(0L).select(col("id"),
      col("id").cast("int").as("grp"), col("id").cast("string").as("payload"))
    MergeStore.applyChanges(spark, t, none,
      spark.range(0L).select(col("id")), pk = Seq("id"),
      meta = Map("ivm.applied" -> "3"))
    // Same file list, next version, marker advanced — and the row-level
    // change feed across the metadata-only commit is empty.
    assert(MergeStore.version(t).get == v0 + 1)
    assert(MergeStore.liveFiles(t) == files0)
    assert(MergeStore.userManifestMeta(t)
      == Map("ivm.applied" -> "3"))
    assert(MergeStore.changes(spark, t, v0, v0 + 1, pk = Seq("id"))
      .count() == 0)
    // Without metadata there is nothing to record: no commit at all.
    MergeStore.applyChanges(spark, t, none,
      spark.range(0L).select(col("id")), pk = Seq("id"))
    assert(MergeStore.version(t).get == v0 + 1)
  }

  test("applyChanges' one probe counts what the merge+delete pair counts") {
    def rowsOf(lo: Long, hi: Long, tag: String) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(tag + "-"), col("id")).as("payload"))
    def snap(t: String) = MergeStore.read(spark, t)
      .select($"id", $"grp", $"payload").as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq
    // Updates in the first file, inserts past the end, deletes in a
    // middle file: each verb of the pair rewrites its own file.
    val ups = rowsOf(0L, 5L, "up").unionByName(rowsOf(20000L, 20003L, "new"))
    val dels = spark.range(5000L, 5004L).select(col("id"))
    val fused = freshTable()
    val pair = freshTable()
    val st = MergeStore.applyChanges(spark, fused, ups, dels, pk = Seq("id"))
    val m = MergeStore.merge(spark, ups, pair, pk = Seq("id"))
    val d = MergeStore.delete(spark, pair, dels, pk = Seq("id"))
    assert(st.filesRewritten == m.filesRewritten + d.filesRewritten)
    assert(st.rowsUpserted == m.rowsInserted + m.rowsUpdated)
    assert(st.rowsUpserted == 8)
    assert(st.rowsDeleted == d.rowsDeleted && st.rowsDeleted == 4)
    assert(snap(fused) == snap(pair))
    // A key in both sets ends present and is not counted as deleted; its
    // file is rewritten once.
    val both = MergeStore.applyChanges(spark, fused, rowsOf(7000L, 7001L,
      "again"), spark.range(7000L, 7001L).select(col("id")), pk = Seq("id"))
    assert(both.filesRewritten == 1)
    assert(both.rowsUpserted == 1 && both.rowsDeleted == 0)
    assert(MergeStore.read(spark, fused).where($"id" === 7000L)
      .select("payload").as[String].collect().toSeq == Seq("again-7000"))
  }

  test("applyChanges: an emptying delete writes no file; absent keys commit nothing") {
    val t = tmpDir("merge-store") + "/tbl"
    MergeStore.init(spark, base.where($"id" < 40L), t, 4,
      clusterBy = Seq("id"))
    val files0 = MergeStore.liveFiles(t)
    val firstKeys = spark.read.parquet(s"$t/data/${files0.head}")
      .select("id").as[Long].collect().toSeq
    def onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
      .count()
    val disk0 = onDisk
    val noUps = base.limit(0)
    // A delete-only batch that empties its one affected file: the file
    // leaves the list and no (empty) replacement is written.
    val st = MergeStore.applyChanges(spark, t, noUps, firstKeys.toDF("id"),
      pk = Seq("id"))
    assert(st.filesRewritten == 1 && st.rowsDeleted == firstKeys.size)
    assert(MergeStore.liveFiles(t) == files0.tail)
    assert(onDisk == disk0)
    assert(MergeStore.read(spark, t).count() == 40 - firstKeys.size)
    // Deleting keys the table does not hold, with no metadata to record,
    // commits nothing.
    val v = MergeStore.version(t).get
    val none = MergeStore.applyChanges(spark, t, noUps,
      spark.range(500L, 505L).select(col("id")), pk = Seq("id"))
    assert(none == MergeStore.ApplyStats(3, 0, 0L, 0L))
    assert(MergeStore.version(t).contains(v))
  }

  test("merge's stats and rows match the semi-join and anti-join counts on a twin") {
    val Cols = Seq("id", "grp", "payload")
    def rowsOf(lo: Long, hi: Long, tag: String) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(tag + "-"), col("id")).as("payload"))
    def clustered(): String = {
      val t = tmpDir("merge-pin") + "/tbl"
      MergeStore.init(spark, rowsOf(0L, 400L, "v1"), t, 4,
        clusterBy = Seq("id"))
      t
    }
    def withDupKey(): String = {
      val t = clustered()
      MergeStore.append(spark, rowsOf(5L, 6L, "dup"), t): Unit
      t
    }
    def statsLess(): String = {
      val t = tmpDir("merge-pin") + "/tbl"
      MergeStore.init(spark, rowsOf(0L, 400L, "v1"), t, 4)
      t
    }
    val nullKey = Seq[(Option[Long], Int, String)]((None, 1, "null-key"),
      (Some(3L), 3, "up-3"), (Some(500L), 5, "new-500"))
      .toDF("id", "grp", "payload")
    val dupBatch = Seq((7L, 0, "stale", 1L), (7L, 0, "fresh", 2L),
      (401L, 1, "new-stale", 5L), (401L, 1, "new-fresh", 9L))
      .toDF("id", "grp", "payload", "load_seq")
    val evolving = rowsOf(100L, 103L, "v2")
      .unionByName(rowsOf(600L, 602L, "new"))
      .withColumn("score", (col("id") * 10).cast("double"))
    // (case, table, batch, ordCols, allowSchemaEvolution)
    val cases = Seq(
      ("duplicated table key", withDupKey _,
        rowsOf(4L, 7L, "v2").unionByName(rowsOf(450L, 452L, "new")),
        Nil, false),
      ("NULL-key batch row", clustered _, nullKey, Nil, false),
      ("duplicate-PK batch with ordCols", clustered _, dupBatch,
        Seq("load_seq"), false),
      ("evolving batch", clustered _, evolving, Nil, true),
      ("stats-less table", statsLess _,
        rowsOf(200L, 204L, "v2").unionByName(rowsOf(900L, 901L, "new")),
        Nil, false))
    def rowSet(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.mkString("|")).sorted.toSeq
    cases.foreach { case (name, table, batch, ordCols, evolve) =>
      val t = table()
      val twin = t + "-twin"
      MergeStore.cloneTable(spark, t, twin)
      // The parent's definitions: NULL keys dropped, the highest ordCols
      // row kept per key, then a semi-join (live rows whose key is
      // upserted), an anti-join (batch keys the table lacks), and the
      // files holding a matched key.
      val keyed = batch.where(col("id").isNotNull)
      val deduped =
        if (ordCols.isEmpty) keyed
        else keyed.withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("id")
              .orderBy(ordCols.map(col(_).desc): _*)))
          .where(col("__rn") === 1).drop("__rn")
      val keys = deduped.select("id")
      val live = MergeStore.read(spark, twin)
      val wantUpdated = live.join(keys, Seq("id"), "left_semi").count()
      val wantInserted = keys.join(live, Seq("id"), "left_anti").count()
      val wantRewritten = MergeStore.liveFiles(twin).count(f =>
        !spark.read.parquet(s"$twin/data/$f").select("id")
          .join(keys, Seq("id"), "left_semi").isEmpty)
      val cols = if (evolve) Cols :+ "score" else Cols
      val wantRows = rowSet(
        live.join(keys, Seq("id"), "left_anti")
          .unionByName(deduped.drop(ordCols.filterNot(Cols.contains): _*),
            allowMissingColumns = true), cols)
      val st = MergeStore.merge(spark, batch, t, pk = Seq("id"),
        ordCols = ordCols, allowSchemaEvolution = evolve)
      assert((st.filesRewritten, st.rowsInserted, st.rowsUpdated) ==
        ((wantRewritten, wantInserted, wantUpdated)), name)
      assert(rowSet(MergeStore.read(spark, t), cols) == wantRows, name)
    }
  }

  test("merge and applyChanges record a nullable batch column as nullable") {
    import org.apache.spark.sql.types.{DataType, StructType}
    def recorded(t: String): Map[String, Boolean] =
      DataType.fromJson(MergeStore.manifestMeta(t)("schema"))
        .asInstanceOf[StructType].fields.map(f => f.name -> f.nullable).toMap
    // `payload` is NOT NULL in the table (a concat of non-null inputs);
    // the batch declares it nullable and carries a NULL.
    val batch = Seq[(Long, Int, String)]((3L, 3, null), (N.toLong, 1, "new"))
      .toDF("id", "grp", "payload")
    val merged = freshTable()
    val applied = freshTable()
    val table = recorded(merged)
    assert(!table("id") && !table("payload"))
    MergeStore.merge(spark, batch, merged, pk = Seq("id"))
    MergeStore.applyChanges(spark, applied, batch,
      spark.range(0L).select(col("id")), pk = Seq("id"))
    // Both verbs widen the recorded column to nullable and keep the
    // columns the batch also declares NOT NULL as the table had them.
    val want = table + ("payload" -> true)
    assert(recorded(merged) == want)
    assert(recorded(applied) == want)
    assert(MergeStore.read(spark, applied).where(col("id") === 3L)
      .where(col("payload").isNull).count() == 1)
  }

  test("changes/diff over a vacuumed span fail with the named retention error") {
    val t = freshTable() // v0
    MergeStore.merge(spark, batch("b1", Seq(1L)), t, pk = Seq("id")) // v1
    MergeStore.merge(spark, batch("b2", Seq(2L)), t, pk = Seq("id")) // v2
    MergeStore.vacuum(t, retainVersions = 2, graceMillis = 0) // keeps v1, v2
    val e = intercept[IllegalStateException] {
      MergeStore.changes(spark, t, 0, 2, pk = Seq("id"))
    }
    assert(e.getMessage.contains("vacuumed") &&
      e.getMessage.contains("retainVersions"))
    intercept[IllegalStateException] { MergeStore.diff(spark, t, 0, 1) }
    // A span wholly inside retention still reads fine.
    assert(MergeStore.changes(spark, t, 1, 2, pk = Seq("id")).count() == 1)
  }

  test("vacuum grace window protects an in-flight writer's staged files") {
    val t = freshTable() // v0
    MergeStore.merge(spark, batch("b", Seq(1L)), t, pk = Seq("id")) // v1
    // Superseded v0 files are brand-new (this test just wrote them): a
    // default-grace vacuum must NOT reclaim them — they are
    // indistinguishable from a rival writer's staged-not-yet-committed
    // files. With the window waived, they are reclaimed as before.
    assert(MergeStore.vacuum(t) == 0)
    assert(MergeStore.vacuum(t, graceMillis = 0) > 0)
  }
}
