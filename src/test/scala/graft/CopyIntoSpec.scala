package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** COPY INTO — idempotent bulk-file ingest (the public Delta COPY INTO
  * design): every offered source file lands EXACTLY ONCE however many
  * times the command re-runs, because the dedup ledger (`cp:` manifest
  * lines) rides the same CAS commit as the data files. Contracts
  * pinned here: skip-on-rerun, pattern/hidden-file filtering, FORCE
  * re-load, append-contract refusals and constraint gating, zero-row
  * ledger advance, ledger carry through later verbs, the concurrent
  * same-source race (exactly once across racing writers), and the SQL
  * spelling. */
class CopyIntoSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as ONE parquet file named `name` under `dir`. */
  private def sourceFile(dir: String, name: String,
                         df: org.apache.spark.sql.DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val stage = tmpDir("cp-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val one = Files.list(Paths.get(stage)).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.move(one, Paths.get(dir, name)): Unit
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"),
      concat(lit("r-"), col("id")).as("payload"))

  private def freshTable(prefix: String): String = {
    val t = tmpDir(prefix) + "/tbl"
    MergeStore.init(spark, rows(0L, 100L), t, 2, clusterBy = Seq("id"))
    t
  }

  test("loads a glob once; re-runs skip; only NEW files load after") {
    val t = freshTable("cp-base")
    val src = tmpDir("cp-src")
    sourceFile(src, "a.parquet", rows(1000L, 1100L))
    sourceFile(src, "b.parquet", rows(1100L, 1200L))
    val st1 = MergeStore.copyInto(spark, t, s"$src/*.parquet")
    assert(st1.filesLoaded == 2 && st1.filesSkipped == 0 &&
      st1.rowsLoaded == 200L, st1.toString)
    // The reported version is the commit that carries this call's
    // ledger lines: its parent has none of them.
    def ledger(v: Int) = MergeStore.manifestMeta(t, Some(v)).keys
      .filter(_.startsWith("cp:")).toSet
    val v1 = st1.version.get
    assert(ledger(v1).size == 2 && ledger(v1 - 1).isEmpty, st1.toString)
    assert(MergeStore.read(spark, t).count() == 300L)
    // Idempotent re-run: nothing loads, no version churn.
    val headBefore = MergeStore.version(t).get
    val st2 = MergeStore.copyInto(spark, t, s"$src/*.parquet")
    assert(st2.filesLoaded == 0 && st2.filesSkipped == 2 &&
      st2.rowsLoaded == 0L, st2.toString)
    assert(MergeStore.version(t).get == headBefore,
      "an all-skipped re-run must not commit")
    // A third file appears: ONLY it loads.
    sourceFile(src, "c.parquet", rows(1200L, 1250L))
    val st3 = MergeStore.copyInto(spark, t, s"$src/*.parquet")
    assert(st3.filesLoaded == 1 && st3.filesSkipped == 2 &&
      st3.rowsLoaded == 50L, st3.toString)
    assert(MergeStore.read(spark, t).count() == 350L)
    assert(MergeStore.read(spark, t).where($"id" >= 1000L).count() == 250L)
  }

  test("pattern filters by file name; hidden and _ files never load") {
    val t = freshTable("cp-pat")
    val src = tmpDir("cp-src-pat")
    sourceFile(src, "events-01.parquet", rows(1000L, 1010L))
    sourceFile(src, "events-02.parquet", rows(1010L, 1020L))
    sourceFile(src, "other.parquet", rows(2000L, 2010L))
    sourceFile(src, "_committed.parquet", rows(3000L, 3010L))
    sourceFile(src, ".hidden.parquet", rows(4000L, 4010L))
    val st = MergeStore.copyInto(spark, t, s"$src/*.parquet",
      filePattern = Some("events-\\d+\\.parquet"))
    assert(st.filesLoaded == 2 && st.rowsLoaded == 20L, st.toString)
    assert(MergeStore.read(spark, t).where($"id" >= 2000L).count() == 0L)
    // Without the pattern, the hidden/_ files STILL never load.
    val st2 = MergeStore.copyInto(spark, t, s"$src/*.parquet")
    assert(st2.filesLoaded == 1 && st2.filesSkipped == 2, st2.toString)
    assert(MergeStore.read(spark, t).where($"id" >= 3000L).count() == 0L)
  }

  test("force re-loads ledgered files (rows land twice, Delta's FORCE)") {
    val t = freshTable("cp-force")
    val src = tmpDir("cp-src-force")
    sourceFile(src, "a.parquet", rows(1000L, 1050L))
    MergeStore.copyInto(spark, t, s"$src/a.parquet"): Unit
    val st = MergeStore.copyInto(spark, t, s"$src/a.parquet",
      force = true)
    assert(st.filesLoaded == 1 && st.filesSkipped == 0, st.toString)
    assert(MergeStore.read(spark, t).where($"id" === 1000L).count() == 2L)
  }

  test("append contract holds: drifted source refuses, constraints gate the batch") {
    val t = freshTable("cp-gate")
    val src = tmpDir("cp-src-gate")
    sourceFile(src, "drift.parquet", rows(1000L, 1010L)
      .withColumn("extra", lit(1)))
    val e = intercept[Exception] {
      MergeStore.copyInto(spark, t, s"$src/drift.parquet")
    }
    assert(e.getMessage.contains("extra"), e.getMessage)
    // A constraint rejects the WHOLE batch; nothing ledgers, so a
    // corrected re-run loads.
    MergeStore.addConstraint(spark, t, "pos", "id >= 0")
    val src2 = tmpDir("cp-src-gate2")
    sourceFile(src2, "bad.parquet",
      spark.range(1L).select(lit(-5L).as("id"),
        lit("bad").as("payload")))
    val e2 = intercept[Exception] {
      MergeStore.copyInto(spark, t, s"$src2/bad.parquet")
    }
    assert(e2.getMessage.contains("pos"), e2.getMessage)
    assert(MergeStore.read(spark, t).count() == 100L,
      "rejected batch must leave the table untouched")
    // Nothing ledgered: the re-offered file refuses AGAIN (it was
    // never marked loaded), instead of silently skipping.
    intercept[Exception] {
      MergeStore.copyInto(spark, t, s"$src2/*.parquet")
    }: Unit
  }

  test("a zero-row source file ledgers via a metadata-only commit") {
    val t = freshTable("cp-empty")
    val src = tmpDir("cp-src-empty")
    sourceFile(src, "empty.parquet", rows(0L, 0L))
    val before = MergeStore.version(t).get
    val st = MergeStore.copyInto(spark, t, s"$src/empty.parquet")
    assert(st.filesLoaded == 1 && st.rowsLoaded == 0L, st.toString)
    assert(MergeStore.version(t).get == before + 1,
      "the ledger must advance even when nothing landed")
    assert(MergeStore.liveFiles(t).size ==
      MergeStore.liveFiles(t, Some(before)).size,
      "no empty data file may land")
    val st2 = MergeStore.copyInto(spark, t, s"$src/empty.parquet")
    assert(st2.filesLoaded == 0 && st2.filesSkipped == 1, st2.toString)
  }

  test("the ledger survives later verbs and a compaction") {
    val t = freshTable("cp-carry")
    val src = tmpDir("cp-src-carry")
    sourceFile(src, "a.parquet", rows(1000L, 1050L))
    MergeStore.copyInto(spark, t, s"$src/a.parquet"): Unit
    MergeStore.merge(spark, rows(40L, 60L), t, Seq("id"))
    MergeStore.deleteWhere(spark, t, col("id") === 1005L)
    MergeStore.compact(spark, t, 2, clusterBy = Seq("id"))
    val st = MergeStore.copyInto(spark, t, s"$src/a.parquet")
    assert(st.filesLoaded == 0 && st.filesSkipped == 1,
      s"ledger must carry through merge/delete/compact: $st")
    assert(MergeStore.read(spark, t).where($"id" === 1005L).count() == 0L)
  }

  test("racing same-source copies land the rows exactly once") {
    val t = freshTable("cp-race")
    val src = tmpDir("cp-src-race")
    sourceFile(src, "a.parquet", rows(1000L, 1100L))
    sourceFile(src, "b.parquet", rows(1100L, 1200L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[MergeStore.CopyStats] {
          def call(): MergeStore.CopyStats =
            MergeStore.copyInto(spark, t, s"$src/*.parquet",
              maxRetries = 8)
        })
      }
      val stats = futures.map(_.get())
      assert(stats.map(_.filesLoaded).sum == 2,
        s"exactly one loader per file across the race: $stats")
      assert(MergeStore.read(spark, t).where($"id" >= 1000L).count()
        == 200L, "rows must land exactly once")
    } finally pool.shutdown()
  }

  test("CALL graft.system.copy_into speaks it from SQL") {
    val t = freshTable("cp-sql")
    val src = tmpDir("cp-src-sql")
    sourceFile(src, "a.parquet", rows(1000L, 1040L))
    graft.store.GraftCatalog.register("db.cpt", t)
    try {
      val r = spark.sql(
        s"CALL graft.system.copy_into('db.cpt', '$src/*.parquet')")
        .collect().head
      assert(r.getInt(1) == 1 && r.getInt(2) == 0 &&
        r.getLong(3) == 40L, r.toString)
      val r2 = spark.sql(
        s"CALL graft.system.copy_into('db.cpt', '$src/*.parquet')")
        .collect().head
      assert(r2.getInt(1) == 0 && r2.getInt(2) == 1, r2.toString)
      assert(spark.sql("SELECT count(*) AS n FROM graft.db.cpt")
        .collect().head.getLong(0) == 140L)
    } finally graft.store.GraftCatalog.unregister("db.cpt")
  }
}
