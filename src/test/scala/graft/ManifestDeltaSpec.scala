package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** Incremental manifests + periodic checkpoints: commit metadata must
  * be O(changes), not O(live files). Ordinary commits write DELTA
  * manifests (only added/removed files and changed metadata lines vs
  * the parent); every interval-th commit (and v0) is a full snapshot
  * bounding the reconstruction walk; vacuum materializes the retention
  * floor as a `.ckpt` sidecar so time travel inside the window never
  * loses its base. Reads, time travel, markers, and the change feed
  * must be bit-identical to the full-snapshot format throughout.
  */
class ManifestDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8000
  private val FILES = 16

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def fresh(tag: String,
                    meta: Map[String, String] = Map.empty): String = {
    val t = tmpDir(tag) + "/tbl"
    MergeStore.init(spark, base, t, FILES, clusterBy = Seq("id"),
      meta = meta)
    t
  }

  private def manifestLines(t: String, v: Int): Seq[String] =
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_manifest", s"v$v.list")).asScala.toSeq

  private def isDelta(t: String, v: Int): Boolean =
    manifestLines(t, v).headOption.contains("#graft.manifest=delta")

  private def trickle(t: String, round: Long): Unit =
    MergeStore.merge(spark, spark.range(round * 10, round * 10 + 5)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(s"r$round-"), col("id")).as("payload")), t, Seq("id"))

  test("trickle commits are deltas; reads and time travel are exact") {
    val t = fresh("md-basic")
    assert(!isDelta(t, 0), "v0 must be a full snapshot")
    (1L to 5L).foreach(trickle(t, _))
    (1 to 5).foreach(v => assert(isDelta(t, v), s"v$v should be a delta"))
    // Head state: every round's last write wins.
    val rows = MergeStore.read(spark, t)
      .where(col("id") < 60).select($"id", $"payload")
      .as[(Long, String)].collect().toMap
    assert(rows(12L) == "r1-12") // round 1 wrote 10..14, never overwritten
    assert(rows(52L) == "r5-52")
    assert(MergeStore.read(spark, t).count() == N)
    // Time travel reconstructs any intermediate version exactly.
    assert(MergeStore.read(spark, t, Some(2))
      .where($"id" === 22L).select($"payload").as[String].head() == "r2-22")
    assert(MergeStore.read(spark, t, Some(0))
      .where($"id" === 22L).select($"payload").as[String].head() == "v1-22")
    // Reconstructed metadata still holds every live file's stats lines
    // even though the DELTA manifest itself carries only the fresh ones.
    val meta = MergeStore.manifestMeta(t)
    MergeStore.liveFiles(t).foreach(f =>
      assert(meta.contains(s"n:$f:id"), s"missing carried stats for $f"))
  }

  test("delta manifests carry only the CHANGES — O(changes) bytes") {
    val t = fresh("md-bytes")
    trickle(t, 1L)
    val lines = manifestLines(t, 1)
    // The delta must not restate carried files or their stats lines:
    // a 5-row key-local merge against a 16-file table touches one file.
    val adds = lines.count(_.startsWith("+"))
    val removes = lines.count(_.startsWith("-"))
    assert(adds >= 1 && adds <= 3, s"adds=$adds")
    assert(removes >= 1 && removes <= 3, s"removes=$removes")
    // Carried (untouched) files' stats lines are absent from the delta
    // but present in the reconstructed state.
    val carried = MergeStore.liveFiles(t, Some(0)).toSet
      .intersect(MergeStore.liveFiles(t, Some(1)).toSet)
    assert(carried.nonEmpty)
    carried.foreach { f =>
      assert(!lines.exists(_.contains(f)), s"delta restates carried $f")
      assert(MergeStore.manifestMeta(t).contains(s"n:$f:id"))
    }
    // And the delta is small in absolute terms vs the full v0.
    val v0Bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "_manifest", "v0.list"))
    val v1Bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "_manifest", "v1.list"))
    assert(v1Bytes < v0Bytes / 2,
      s"delta $v1Bytes bytes vs full $v0Bytes — not incremental")
  }

  test("every interval-th commit is a full snapshot bounding the walk") {
    val t = fresh("md-interval", Map("ckpt.interval" -> "4"))
    (1L to 9L).foreach(trickle(t, _))
    (1 to 9).foreach { v =>
      if (v % 4 == 0) assert(!isDelta(t, v), s"v$v should be full")
      else assert(isDelta(t, v), s"v$v should be a delta")
    }
    assert(MergeStore.read(spark, t).count() == N)
    // A version right past a checkpoint reconstructs from it.
    assert(MergeStore.read(spark, t, Some(5))
      .where($"id" === 52L).select($"payload").as[String].head() ==
      "r5-52")
  }

  test("vacuum materializes the floor as a checkpoint; travel works") {
    val t = fresh("md-vacuum")
    (1L to 5L).foreach(trickle(t, _)) // v1..v5, all deltas
    assert(isDelta(t, 3))
    MergeStore.vacuum(t, retainVersions = 3, graceMillis = 0) // floor v3
    // v3's manifest chain lost its base manifests — the ckpt sidecar
    // must have been materialized before they were dropped.
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, "_manifest", "v3.ckpt")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, "_manifest", "v0.list")))
    // Everything inside the window reads exactly.
    assert(MergeStore.read(spark, t).count() == N)
    assert(MergeStore.read(spark, t, Some(3))
      .where($"id" === 32L).select($"payload").as[String].head() == "r3-32")
    assert(MergeStore.read(spark, t, Some(4))
      .where($"id" === 42L).select($"payload").as[String].head() == "r4-42")
    // Below the floor: fails at manifest lookup, not mid-scan.
    intercept[Exception] { MergeStore.read(spark, t, Some(1)).count() }
    // Verbs keep working across the boundary (commit diffs against the
    // reconstructed head; the next vacuum advances the floor ckpt).
    trickle(t, 6L)
    assert(MergeStore.read(spark, t)
      .where($"id" === 62L).select($"payload").as[String].head() == "r6-62")
    MergeStore.vacuum(t, retainVersions = 2, graceMillis = 0)
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("full snapshots past the size threshold compress; mixed tables read exactly") {
    // Force compression for everything: threshold 1 byte.
    System.setProperty("graft.manifest.compress.threshold", "1")
    val t = try {
      val t = fresh("md-gzip") // v0: full snapshot → compressed
      (1L to 5L).foreach(trickle(t, _))
      t
    } finally System.clearProperty("graft.manifest.compress.threshold")
    def isGzip(p: java.nio.file.Path): Boolean = {
      val b = java.nio.file.Files.readAllBytes(p)
      b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b
    }
    val m0 = java.nio.file.Paths.get(t, "_manifest", "v0.list")
    assert(isGzip(m0), "the full v0 snapshot should be gzip past threshold")
    // Deltas stay plain text whatever the threshold — already O(changes).
    assert(!isGzip(java.nio.file.Paths.get(t, "_manifest", "v1.list")))
    assert(isDelta(t, 1))
    // Reads reconstruct through the compressed base exactly.
    assert(MergeStore.read(spark, t).count() == N)
    assert(MergeStore.read(spark, t).where($"id" === 12L)
      .select($"payload").as[String].head() == "r1-12")
    assert(MergeStore.read(spark, t, Some(0)).where($"id" === 12L)
      .select($"payload").as[String].head() == "v1-12")
    // Stats metadata reconstructs too (skipping still works).
    assert(MergeStore.scanRange(spark, t, "id", Some(10L), Some(14L))
      .count() == 5)
    // Vacuum's floor checkpoint compresses and still serves time travel.
    System.setProperty("graft.manifest.compress.threshold", "1")
    try MergeStore.vacuum(t, retainVersions = 3, graceMillis = 0)
    finally System.clearProperty("graft.manifest.compress.threshold")
    val ckpt = java.nio.file.Paths.get(t, "_manifest", "v3.ckpt")
    assert(java.nio.file.Files.exists(ckpt) && isGzip(ckpt))
    assert(MergeStore.read(spark, t, Some(3)).where($"id" === 32L)
      .select($"payload").as[String].head() == "r3-32")
    // Below the threshold (the default 64 KB), snapshots stay plain
    // text: small tables keep hand-readable manifests.
    val plain = fresh("md-plain")
    assert(!isGzip(java.nio.file.Paths.get(plain, "_manifest", "v0.list")))
    assert(MergeStore.read(spark, plain).count() == N)
  }

  test("markers, restore, and the change feed work through deltas") {
    val t = fresh("md-feed")
    trickle(t, 1L)
    // A metadata-only marker commit is a tiny delta.
    MergeStore.applyChanges(spark, t,
      upserts = MergeStore.read(spark, t).limit(0),
      deleteKeys = MergeStore.read(spark, t).limit(0).select("id"),
      pk = Seq("id"), meta = Map("follower.mark" -> "7"))
    assert(isDelta(t, 2))
    assert(manifestLines(t, 2).size <= 3, "marker delta should be tiny")
    assert(MergeStore.markerValue(t, "follower.mark").contains("7"))
    // The typed feed across delta commits is exact.
    val feed = MergeStore.changes(spark, t, 0, 1, Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed == (10L to 14L).map((_, "update_postimage")).toSet)
    // RESTORE publishes a delta that re-adds the old files.
    MergeStore.restore(spark, t, 0) // v3
    assert(MergeStore.read(spark, t)
      .where($"id" === 12L).select($"payload").as[String].head() == "v1-12")
    assert(MergeStore.read(spark, t).count() == N)
  }
}
