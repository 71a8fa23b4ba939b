package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** In-commit timestamps (Delta's ICT): the commit instant rides inside
  * the manifest as `#graft.ts=`, stamped by commit() itself, monotonic
  * by construction — so TIMESTAMP AS OF and the change feed's
  * `_commit_timestamp` survive anything that rewrites file mtimes
  * (backup/restore, rsync, object-store migration). */
class InCommitTimestampSpec extends SparkSpec {
  import spark.implicits._

  private val N = 4000

  private def base = spark.range(N.toLong)
    .select(col("id"), concat(lit("v1-"), col("id")).as("payload"))

  private def trickle(t: String, round: Long): Unit =
    MergeStore.merge(spark, spark.range(round * 10, round * 10 + 5)
      .select(col("id"), concat(lit(s"r$round-"), col("id")).as("payload")),
      t, Seq("id"))

  test("commits stamp monotonic timestamps; history survives mtime tampering") {
    val t = tmpDir("ict-basic") + "/tbl"
    MergeStore.init(spark, base, t, 4, clusterBy = Seq("id"))
    (1L to 4L).foreach(trickle(t, _))
    val h = MergeStore.history(t)
    assert(h.map(_._1) == (0 to 4))
    assert(h.sliding(2).forall { case Seq(a, b) => b._2 > a._2 },
      s"in-commit timestamps must be STRICTLY increasing: $h")
    // Every version's reconstructed meta carries its own stamp, and
    // history() serves exactly it.
    h.foreach { case (v, ms) =>
      assert(MergeStore.manifestMeta(t, Some(v)).get("graft.ts")
        .contains(ms.toString), s"v$v history/stamp mismatch")
    }
    // The copy/restore scenario: scramble every manifest mtime. File
    // times are NOT commit state — history must not move.
    val dir = Paths.get(t, "_manifest")
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.toSeq.foreach { p =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(1000000000L + p.getFileName.toString.length))
    }
    assert(MergeStore.history(t) == h,
      "history must come from the in-commit stamps, not mtimes")
    // Time travel by timestamp keyed on the recorded instants works.
    val (v2, ts2) = h(2)
    assert(MergeStore.versionAt(t, ts2).contains(v2))
    assert(MergeStore.readAsOf(spark, t, ts2)
      .where($"id" === 12L).select($"payload").as[String].head() ==
      "r1-12")
  }

  test("parquet snapshots carry the stamp in the footer") {
    System.setProperty("graft.manifest.compress.threshold", "1")
    try {
      val t = tmpDir("ict-pq") + "/tbl"
      MergeStore.init(spark, base, t, 4, clusterBy = Seq("id"),
        meta = Map("ckpt.interval" -> "2"))
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      trickle(t, 1L) // v2: checkpoint slot (delta + async sidecar)
      MergeStore.drainCheckpoints()
      val sidecar = Paths.get(t, "_manifest", "v2.ckpt")
      assert(graft.store.ParquetCkpt.isParquetFile(sidecar))
      val h = MergeStore.history(t)
      assert(h(2)._2.toString ==
        MergeStore.manifestMeta(t, Some(2))("graft.ts"),
        "history must serve the in-commit stamp")
      assert(graft.store.ParquetCkpt.commitTsOf(sidecar)
        .contains(h(2)._2),
        "the parquet sidecar's FOOTER must carry the same stamp — the " +
          "durable instant an object-store migration preserves")
      assert(h.sliding(2).forall { case Seq(a, b) => b._2 > a._2 })
    } finally System.clearProperty("graft.manifest.compress.threshold")
  }

  test("graft.ckpt.interval is per-table policy") {
    val t = tmpDir("ict-interval") + "/tbl"
    MergeStore.init(spark, base, t, 4, clusterBy = Seq("id")) // v0
    MergeStore.setPolicy(t, "graft.ckpt.interval", Some("3")) // v1
    (1L to 5L).foreach(trickle(t, _)) // v2..v6
    def isDelta(v: Int): Boolean = new String(Files.readAllBytes(
      Paths.get(t, "_manifest", s"v$v.list")), "UTF-8")
      .startsWith("#graft.manifest=delta")
    assert(isDelta(1) && isDelta(2), "off-interval commits stay deltas")
    assert(!isDelta(3) && !isDelta(6), "v3/v6 are full under interval 3")
    assert(isDelta(4) && isDelta(5))
    assert(MergeStore.read(spark, t).count() == N)
    // Validation refuses garbage.
    val e = intercept[Exception] {
      MergeStore.setPolicy(t, "graft.ckpt.interval", Some("0"))
    }
    assert(e.getMessage.contains(">= 1"), e.getMessage)
  }
}
