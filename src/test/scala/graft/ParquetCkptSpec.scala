package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** Parquet manifest checkpoints (`graft.ckpt.format=parquet`): the
  * columnar, predicate-readable snapshot encoding. Contracts pinned
  * here:
  *
  *   - a parquet snapshot round-trips the ENTIRE manifest state byte-
  *     exactly (files, stats, null counts, sizes, DVs, blooms, schema,
  *     policies) — a policy-on table and a policy-off twin driven by
  *     identical verbs reconstruct identical states;
  *   - text, gzip, and parquet snapshots mix freely in one chain
  *     (readers sniff magic, never names); time travel and skipping
  *     work through a parquet base;
  *   - vacuum's retention-floor `.ckpt` honors the same policy;
  *   - COLD probes (candidateFiles, fileSizes) on an un-memoized chain
  *     bottoming at a parquet checkpoint — a manifest-only copy of the
  *     table, whose path the reconstruction memo has never seen — match
  *     the warm reconstruction exactly, reading no data file.
  */
class ParquetCkptSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8000
  private val FILES = 16

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def trickle(t: String, round: Long): Unit =
    MergeStore.merge(spark, spark.range(round * 10, round * 10 + 5)
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(s"r$round-"), col("id")).as("payload")), t, Seq("id"))

  private def listPath(t: String, v: Int) =
    Paths.get(t, "_manifest", s"v$v.list")

  private def isParquet(p: java.nio.file.Path): Boolean = {
    val b = Files.readAllBytes(p)
    b.length >= 4 && b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1'
  }

  private def withCkptProps[A](f: => A): A = {
    System.setProperty("graft.manifest.compress.threshold", "1")
    try f finally System.clearProperty("graft.manifest.compress.threshold")
  }

  /** A table whose full-snapshot cadence is `interval` commits. */
  private def initTable(t: String, interval: Int = 4): Unit =
    MergeStore.init(spark, base, t, FILES, clusterBy = Seq("id"),
      meta = Map("ckpt.interval" -> interval.toString))

  /** A copy of `t`'s manifest directory ALONE, under a fresh path: the
    * reconstruction memo (keyed by table path) has never seen it, and
    * with no data directory any probe answered from it provably read
    * no data file. */
  private def manifestOnlyCopy(t: String): String = {
    val copy = Paths.get(tmpDir("pq-cold-copy"), "tbl")
    val from = Paths.get(t, "_manifest")
    val to = copy.resolve("_manifest")
    Files.createDirectories(to)
    Files.list(from).forEach(p => Files.copy(p, to.resolve(p.getFileName)): Unit)
    copy.toString
  }

  test("interval slots stay cheap deltas; parquet checkpoints land as async sidecars; state round-trips vs a text twin") {
    withCkptProps {
      val tp = tmpDir("pq-twin-p") + "/tbl"
      val tt = tmpDir("pq-twin-t") + "/tbl"
      Seq(tp, tt).foreach(initTable(_))
      MergeStore.setPolicy(tp, "graft.ckpt.format", Some("parquet")) // v1
      MergeStore.setPolicy(tt, "graft.ckpt.format", Some("text")) // v1
      MergeStore.setPolicy(tp, "graft.pk", Some("id")) // v2
      MergeStore.setPolicy(tt, "graft.pk", Some("id")) // v2
      (1L to 6L).foreach { r => trickle(tp, r); trickle(tt, r) } // v3..v8
      MergeStore.deleteWhereMor(spark, tp, col("id") >= 7990) // v9: DVs
      MergeStore.deleteWhereMor(spark, tt, col("id") >= 7990)
      (7L to 9L).foreach { r => trickle(tp, r); trickle(tt, r) } // ..v12
      // v4, v8, v12 are the interval slots. The parquet-policy table's
      // SLOTS stay cheap text deltas (the columnar encode never rides
      // the commit path — Delta's protocol) and the parquet state
      // lands post-commit as a .ckpt sidecar; the text twin keeps
      // inline gzip full snapshots (threshold 1).
      MergeStore.drainCheckpoints()
      Seq(4, 8, 12).foreach { v =>
        assert(!isParquet(listPath(tp, v)),
          s"v$v slot must stay a text delta, not an inline parquet")
        val ck = Paths.get(tp, "_manifest", s"v$v.ckpt")
        assert(Files.exists(ck) && isParquet(ck),
          s"v$v parquet sidecar should have landed")
        assert(MergeStore.checkpointFormatOf(tp, v).contains("parquet"))
        assert(!isParquet(listPath(tt, v)), s"text twin v$v")
        assert(!Files.exists(Paths.get(tt, "_manifest", s"v$v.ckpt")),
          "text twin's full slot needs no sidecar")
      }
      assert(!isParquet(listPath(tp, 3)), "deltas stay text")
      // Equivalent state at every version (file names are UUIDs, so
      // compare per-file metadata as kind/value multisets; exact byte
      // fidelity is pinned by the synthetic round-trip test below).
      val drop = Set("ckpt.format", "graft.ts")
      (0 to 12).foreach { v =>
        assert(MergeStore.liveFiles(tp, Some(v)).size ==
          MergeStore.liveFiles(tt, Some(v)).size,
          s"live-file counts differ at v$v")
        // Per-file values depend on the (sampled, non-deterministic)
        // range partitioning, so the twins compare by per-kind COUNTS;
        // byte-exact fidelity is pinned by the synthetic test below.
        def canon(t: String) = MergeStore.manifestMeta(t, Some(v))
          .view.filterKeys(k => !drop.contains(k))
          .toSeq.map { case (k, value) =>
            val kind = k.takeWhile(_ != ':')
            if (kind == "dv" || kind == "z") (kind, "")
            else if (kind == "s" || kind == "n" || kind == "b")
              (s"$kind:${k.substring(k.lastIndexOf(':') + 1)}", "")
            else (k, value)
          }.sorted
        assert(canon(tp) == canon(tt), s"meta differs at v$v")
      }
      // Rows and skipping agree with the twin at head and in the past.
      assert(MergeStore.read(spark, tp).orderBy("id").collect().toSeq ==
        MergeStore.read(spark, tt).orderBy("id").collect().toSeq)
      assert(MergeStore.read(spark, tp, Some(8)).count() ==
        MergeStore.read(spark, tt, Some(8)).count())
      assert(MergeStore.scanRange(spark, tp, "id", Some(40L), Some(60L))
        .orderBy("id").collect().toSeq ==
        MergeStore.scanRange(spark, tt, "id", Some(40L), Some(60L))
          .orderBy("id").collect().toSeq)
      // The parquet base reconstructs stats lines for every live file.
      val meta = MergeStore.manifestMeta(tp, Some(8))
      MergeStore.liveFiles(tp, Some(8)).foreach(f =>
        assert(meta.contains(s"n:$f:id"), s"missing stats for $f at v8"))
      // DV lines survive the parquet encoding (v9+ read drops rows).
      assert(MergeStore.read(spark, tp).count() == N - 10)
    }
  }

  test("vacuum floor honors the parquet policy; travel at the floor works") {
    withCkptProps { // interval 100: everything after v0 is a delta
      val t = tmpDir("pq-vac") + "/tbl"
      initTable(t, interval = 100)
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      (1L to 5L).foreach(trickle(t, _)) // v2..v6, deltas
      MergeStore.vacuum(t, retainVersions = 3, graceMillis = 0) // floor v4
      val ckpt = Paths.get(t, "_manifest", "v4.ckpt")
      assert(Files.exists(ckpt) && isParquet(ckpt),
        "floor sidecar should be a parquet checkpoint")
      assert(MergeStore.read(spark, t, Some(4))
        .where($"id" === 32L).select($"payload").as[String].head() ==
        "r3-32")
      assert(MergeStore.read(spark, t).count() == N)
      intercept[Exception] { MergeStore.read(spark, t, Some(1)).count() }
      // Verbs keep committing on top of the parquet floor.
      trickle(t, 6L)
      assert(MergeStore.read(spark, t)
        .where($"id" === 62L).select($"payload").as[String].head() ==
        "r6-62")
    }
  }

  test("historyDetail reports delta slots; a pre-stamp parquet slot is refused") {
    withCkptProps {
      val t = tmpDir("pq-hist") + "/tbl"
      initTable(t)
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      (1L to 3L).foreach(trickle(t, _)) // v2..v4
      MergeStore.drainCheckpoints()
      val h = MergeStore.historyDetail(t)
      // The interval slot is an ordinary delta commit (added/removed
      // counts off its +/- lines); the parquet state is the sidecar.
      val v4 = h.find(_.version == 4).get
      assert(v4.format == "delta", v4.toString)
      assert(v4.addedFiles.exists(_ > 0))
      assert(MergeStore.checkpointFormatOf(t, 4).contains("parquet"))
      assert(h.find(_.version == 3).get.format == "delta")
      // A manifest SLOT that is itself a parquet file (an earlier
      // engine revision encoded the interval-th commit inline, before
      // the format stamp existed) is refused with the format error.
      import graft.store.ParquetCkpt
      val legacy = tmpDir("pq-hist-legacy") + "/tbl"
      Files.createDirectories(Paths.get(legacy, "_manifest"))
      val schemaJson = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))).json
      ParquetCkpt.write(Paths.get(legacy, "_manifest", "v0.list"),
        Seq("a.parquet", "b.parquet"),
        Map("schema" -> schemaJson, "graft.ts" -> "1755000000000"))
      val e = intercept[IllegalStateException] {
        MergeStore.historyDetail(legacy)
      }
      assert(e.getMessage.contains(legacy) &&
        e.getMessage.contains("predates manifest format"), e.getMessage)
    }
  }

  test("cold range probe engages and matches the warm reconstruction") {
    withCkptProps {
      val t = tmpDir("pq-cold") + "/tbl"
      initTable(t)
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      (1L to 5L).foreach(trickle(t, _)) // v2..v6: v4 slots the sidecar
      MergeStore.deleteWhere(spark, t, col("id").between(3000, 3100)) // v7
      MergeStore.drainCheckpoints() // v4's parquet sidecar must land
      val head = MergeStore.version(t).get
      val probes = Seq[(Option[Any], Option[Any])](
        (Some(40L), Some(60L)), (Some(7000L), None), (None, Some(25L)),
        (Some(3050L), Some(3050L)), (None, None))
      // Warm first (fills the memo), recording the normal-path answer.
      val warm = probes.map { case (lo, hi) =>
        MergeStore.candidateFiles(spark, t, "id", lo, hi, Some(head)) }
      // Cold: a fresh manifest-only copy per probe; the pruned parquet
      // path serves it.
      probes.zip(warm).foreach { case ((lo, hi), w) =>
        val c = MergeStore.candidateFiles(spark, manifestOnlyCopy(t), "id",
          lo, hi, Some(head))
        assert(c.sorted == w.sorted, s"cold/warm diverge for ($lo,$hi)")
      }
      // And the probe genuinely prunes on this clustered layout.
      val pruned = MergeStore.candidateFiles(spark, manifestOnlyCopy(t),
        "id", Some(40L), Some(60L), Some(head))
      assert(pruned.size < MergeStore.liveFiles(t, Some(head)).size)
      // A column with no stats: every live file stays a candidate.
      val noStats = MergeStore.candidateFiles(spark, manifestOnlyCopy(t),
        "payload", Some("a"), Some("b"), Some(head))
      assert(noStats.toSet == MergeStore.liveFiles(t, Some(head)).toSet)
    }
  }

  test("cold fileSizes matches warm with zero data-directory stats") {
    withCkptProps {
      val t = tmpDir("pq-sizes") + "/tbl"
      initTable(t)
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      (1L to 5L).foreach(trickle(t, _))
      MergeStore.drainCheckpoints() // v4's parquet sidecar must land
      val head = MergeStore.version(t).get
      val warm = MergeStore.fileSizes(t, Some(head)).sortBy(_._1)
      // The copy has no data directory: sizes come off the manifest.
      val cold = MergeStore.fileSizes(manifestOnlyCopy(t), Some(head))
        .sortBy(_._1)
      assert(cold == warm)
    }
  }

  test("string stats with URL-encoded specials round-trip through parquet") {
    withCkptProps {
      val t = tmpDir("pq-str") + "/tbl"
      val df = spark.range(400L).select(
        col("id"),
        concat(lit("k "), lpad(col("id").cast("string"), 4, "0"),
          lit(" %+é")).as("name"))
      MergeStore.init(spark, df, t, 4, clusterBy = Seq("name"),
        meta = Map("ckpt.interval" -> "2"))
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      MergeStore.merge(spark, spark.range(400L, 410L).select(col("id"),
        concat(lit("k "), lpad(col("id").cast("string"), 4, "0"),
          lit(" %+é")).as("name")), t, Seq("id")) // v2: checkpoint slot
      MergeStore.drainCheckpoints()
      assert(!isParquet(listPath(t, 2)), "slot stays a text delta")
      val sidecar = Paths.get(t, "_manifest", "v2.ckpt")
      assert(Files.exists(sidecar) && isParquet(sidecar))
      // Cold probe over the string column, bounds inside the domain.
      val cold = MergeStore.candidateFiles(spark, manifestOnlyCopy(t),
        "name", Some("k 0100"), Some("k 0120"), Some(2))
      val warm = MergeStore.candidateFiles(spark, t, "name",
        Some("k 0100"), Some("k 0120"), Some(2))
      assert(cold.sorted == warm.sorted)
      assert(cold.size < MergeStore.liveFiles(t, Some(2)).size)
      // The scan itself is exact through the parquet base.
      assert(MergeStore.scanRange(spark, t, "name",
        Some("k 0100 %+é"), Some("k 0104 %+é")).count() == 5)
    }
  }

  test("ParquetCkpt round-trips an adversarial synthetic state byte-exactly") {
    import graft.store.ParquetCkpt
    val files = Vector("a.parquet", "b.parquet", "c.parquet")
    val meta = Map(
      "schema" -> """{"type":"struct","fields":[]}""",
      "stats.cols" -> "id,name",
      "graft.pk" -> "id",
      "ckpt.format" -> "parquet",
      "constraint:ck" -> "id > 0",
      "txn:sink-7" -> "41",
      // Regular per-file lines — typed/raw folded into file rows.
      "s:a.parquet:id" -> "n 1 100",
      "s:b.parquet:id" -> "n -5 2.5",
      "s:a.parquet:name" -> "s k+%2B0 k+%C3%A9z", // URL-encoded specials
      "n:a.parquet:id" -> "0 100",
      "n:b.parquet:name" -> "3 50",
      "z:a.parquet" -> "12345",
      "dv:b.parquet" -> "b-xyz.dv 42",
      "b:a.parquet:id" -> "a-xyz.id.bloom",
      // Irregular lines — MUST fall back to generic rows untouched.
      "s:gone.parquet:id" -> "n 1 2", // non-live file
      "s:c.parquet:id" -> "garbage", // malformed stats value
      "z:b.parquet" -> "007", // non-canonical long text
      "z:nonlive.parquet" -> "9")
    val p = Paths.get(tmpDir("pq-rt"), "state.ckpt")
    ParquetCkpt.write(p, files, meta)
    assert(isParquet(p))
    val (fs, m) = ParquetCkpt.readState(p)
    assert(fs.sorted == files.sorted)
    assert(m == meta, "decoded state must equal the input byte-exactly")
    // The typed pruning columns behave: numeric probe over id.
    val pruned = ParquetCkpt.prunedFiles(p, "id", "n",
      Some("50"), Some("200")).get
    assert(pruned.toSet == Set("a.parquet", "c.parquet"),
      s"a overlaps, b's max 2.5 < 50 prunes, c (malformed) stays: $pruned")
    // String probe with URL-encoded bounds domain (decoded compare).
    val strPruned = ParquetCkpt.prunedFiles(p, "name", "s",
      Some("k 0"), None).get
    assert(strPruned.contains("a.parquet"))
    // Size read serves (file, size) with None for unlined files.
    val sz = ParquetCkpt.sizes(p).toMap
    assert(sz("a.parquet").contains(12345L))
    assert(sz("b.parquet").isEmpty && sz("c.parquet").isEmpty)
  }

  test("explicit checkpoint bounds the walk; CALL graft.system.checkpoint speaks it") {
    withCkptProps { // interval 100: nothing checkpoints by interval
      val t = tmpDir("pq-ckp") + "/tbl"
      initTable(t, interval = 100)
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      (1L to 3L).foreach(trickle(t, _)) // v2..v4, all deltas
      assert(MergeStore.checkpoint(t) == 4)
      val ckpt = Paths.get(t, "_manifest", "v4.ckpt")
      assert(Files.exists(ckpt) && isParquet(ckpt))
      assert(MergeStore.checkpoint(t) == 4, "idempotent")
      // The sidecar is now the cold probe's base at head.
      assert(MergeStore.candidateFiles(spark, manifestOnlyCopy(t), "id",
          Some(40L), Some(60L)).sorted ==
        MergeStore.candidateFiles(spark, t, "id", Some(40L), Some(60L)).sorted)
      assert(MergeStore.read(spark, t).count() == N)
      // The SQL spelling, on a later head.
      graft.store.GraftCatalog.register("db.ckp", t)
      trickle(t, 4L) // v5
      val r = spark.sql("CALL graft.system.checkpoint('db.ckp')")
        .collect().head
      assert(r.getInt(0) == 5 && r.getString(1) == "parquet", r.toString)
      assert(isParquet(Paths.get(t, "_manifest", "v5.ckpt")))
      // A version already backed by a full snapshot is a no-op.
      val r0 = spark.sql(
        "CALL graft.system.checkpoint('db.ckp', version => 0)")
        .collect().head
      assert(r0.getString(1) == "already-full", r0.toString)
      graft.store.GraftCatalog.unregister("db.ckp")
    }
  }

  test("a sidecar that never lands is harmless; the next interval slot self-heals") {
    withCkptProps {
      val t = tmpDir("pq-heal") + "/tbl"
      initTable(t)
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
      (1L to 3L).foreach(trickle(t, _)) // v2..v4 (interval slot)
      MergeStore.drainCheckpoints()
      val ck4 = Paths.get(t, "_manifest", "v4.ckpt")
      assert(Files.exists(ck4), "v4 sidecar should have landed")
      // Crash simulation: the async checkpointer died before landing.
      // A manifest-only copy stands in for the data directory's
      // reconstruction memo, which has seen the sidecar.
      Files.delete(ck4)
      val crashed = manifestOnlyCopy(t)
      // Correctness never depended on the sidecar — the walk just
      // folds the deltas back to v0's full snapshot.
      assert(MergeStore.liveFiles(crashed).sorted ==
        MergeStore.liveFiles(t).sorted)
      assert(MergeStore.read(spark, t).count() == N)
      assert(MergeStore.read(spark, t).where($"id" === 32L)
        .select($"payload").as[String].head() == "r3-32")
      assert(MergeStore.checkpointFormatOf(t, 4).isEmpty,
        "v4 is delta-backed with no sidecar")
      // The NEXT interval slot bounds everything before it.
      (4L to 7L).foreach(trickle(t, _)) // v5..v8 (next slot)
      MergeStore.drainCheckpoints()
      assert(MergeStore.checkpointFormatOf(t, 8).contains("parquet"))
      // The healed v8 sidecar serves a cold probe.
      assert(MergeStore.candidateFiles(spark, manifestOnlyCopy(t), "id",
          Some(40L), Some(60L)).sorted ==
        MergeStore.candidateFiles(spark, t, "id", Some(40L), Some(60L)).sorted)
    }
  }

  test("graft.ckpt.format validates; bad values refuse loudly") {
    val t = tmpDir("pq-pol") + "/tbl"
    MergeStore.init(spark, base.limit(100), t, 2)
    val e = intercept[Exception] {
      MergeStore.setPolicy(t, "graft.ckpt.format", Some("orc"))
    }
    assert(e.getMessage.contains("text") && e.getMessage.contains("parquet"))
    MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet"))
    assert(MergeStore.manifestMeta(t).get("ckpt.format")
      .contains("parquet"))
    MergeStore.setPolicy(t, "graft.ckpt.format", None) // unset works
    assert(!MergeStore.manifestMeta(t).contains("ckpt.format"))
  }
}
