package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store.{GraftCatalog, MergeStore, ParquetCkpt}

/** The manifest format stamp (`#graft.format=1`): every commit writes
  * it, so every full manifest, parquet checkpoint and vacuum `.ckpt`
  * floor carries it, and a table whose reconstruction base lacks it —
  * a table written before the stamp existed — is refused with one
  * error that names the table, on every read and every verb. */
class FormatStampSpec extends SparkSpec {
  import spark.implicits._

  private val N = 2000
  private val StampLine = "#graft.format=1"

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def batch(tag: String, ids: Seq[Long]) =
    ids.toDF("id").select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit(s"$tag-"), col("id")).as("payload"))

  private def text(p: Path): String = {
    val b = Files.readAllBytes(p)
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) {
      val gz = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      try new String(gz.readAllBytes(), "UTF-8") finally gz.close()
    } else new String(b, "UTF-8")
  }

  /** Every full base of `t` — text/gzip full manifests, text/gzip and
    * parquet `.ckpt` sidecars — with its encoding. Deltas are skipped:
    * they only restate keys that changed. */
  private def fullBases(t: String): Seq[(Path, String)] =
    Files.list(Paths.get(t, "_manifest")).iterator().asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") && (n.endsWith(".list") || n.endsWith(".ckpt"))
      }
      .flatMap { p =>
        if (ParquetCkpt.isParquetFile(p)) Some(p -> "parquet")
        else if (text(p).startsWith("#graft.manifest=delta")) None
        else Some(p -> "text")
      }

  private def assertStamped(t: String, after: String): Unit = {
    MergeStore.drainCheckpoints()
    assert(MergeStore.manifestMeta(t).get("graft.format").contains("1"),
      s"head of $t lost the stamp after $after")
    fullBases(t).foreach {
      case (p, "parquet") =>
        assert(ParquetCkpt.readState(p)._2.get("graft.format").contains("1"),
          s"parquet base $p lacks the stamp after $after")
        assert(ParquetCkpt.formatOf(p).contains("1"),
          s"parquet base $p footer lacks the stamp after $after")
      case (p, _) =>
        assert(text(p).split("\n").contains(StampLine),
          s"text base $p lacks the stamp after $after")
    }
  }

  private def refused(t: String, what: String)(f: => Any): Unit = {
    val e = intercept[Throwable](f)
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains(s"table at $t predates manifest format")),
      s"$what was not refused by the format check: $e")
  }

  test("every verb, both checkpoint encodings and the vacuum floor keep the stamp") {
    System.setProperty("graft.manifest.compress.threshold", "1")
    try Seq("text", "parquet").foreach { enc =>
      val t = tmpDir(s"stamp-verbs-$enc") + "/tbl"
      MergeStore.init(spark, base, t, 8, clusterBy = Seq("id"),
        meta = Map("ckpt.interval" -> "2", "ckpt.format" -> enc))
      assertStamped(t, "init")
      val verbs: Seq[(String, () => Any)] = Seq(
        "merge" -> (() => MergeStore.merge(spark,
          batch("m", 10L to 14L), t, Seq("id"))),
        "append" -> (() => MergeStore.append(spark,
          batch("a", N.toLong to N + 4L), t)),
        "deleteWhere" -> (() => MergeStore.deleteWhere(spark, t,
          col("id") === 3L)),
        "deleteWhereMor" -> (() => MergeStore.deleteWhereMor(spark, t,
          col("id") === 4L)),
        "updateWhere" -> (() => MergeStore.updateWhere(spark, t,
          col("id") === 5L, Map("payload" -> lit("u")))),
        "updateWhereMor" -> (() => MergeStore.updateWhereMor(spark, t,
          col("id") === 6L, Map("payload" -> lit("m")))),
        "purgeDeletes" -> (() => MergeStore.purgeDeletes(spark, t)),
        "applyChanges" -> (() => MergeStore.applyChanges(spark, t,
          batch("c", 20L to 22L), Seq(23L).toDF("id"), Seq("id"))),
        "addConstraint" -> (() => MergeStore.addConstraint(spark, t,
          "pos", "id >= 0")),
        "dropConstraint" -> (() => MergeStore.dropConstraint(spark, t,
          "pos")),
        "setPolicy" -> (() => MergeStore.setPolicy(t, "graft.pk",
          Some("id"))),
        "compactSmall" -> (() => MergeStore.compactSmall(spark, t,
          smallBytes = 1L << 30)),
        "compact" -> (() => MergeStore.compact(spark, t, 4,
          clusterBy = Seq("id"))),
        "restore" -> (() => MergeStore.restore(spark, t, 2)),
        "overwriteTable" -> (() => MergeStore.overwriteTable(spark,
          base, t)),
        "addColumn" -> (() => MergeStore.addColumn(spark, t, "extra",
          org.apache.spark.sql.types.LongType)),
        "renameColumn" -> (() => MergeStore.renameColumn(spark, t,
          "payload", "text")),
        "dropColumn" -> (() => MergeStore.dropColumn(spark, t, "extra")),
        "checkpoint" -> (() => MergeStore.checkpoint(t)))
      verbs.foreach { case (name, run) =>
        run()
        assertStamped(t, name)
      }
      // Vacuum with an odd (delta-backed, under interval 2) floor, so
      // the floor must materialize as a `.ckpt` sidecar.
      val head = MergeStore.version(t).get
      val floor = if ((head - 2) % 2 == 1) head - 2 else head - 3
      MergeStore.vacuum(t, retainVersions = head - floor + 1,
        graceMillis = 0)
      assertStamped(t, "vacuum")
      assert(Files.exists(Paths.get(t, "_manifest", s"v$floor.ckpt")),
        s"vacuum should have materialized the v$floor floor")
      val bases = fullBases(t)
      assert(bases.exists(_._2 == enc),
        s"the $enc table should hold a $enc full base: $bases")
      val clone = tmpDir(s"stamp-clone-$enc") + "/tbl"
      MergeStore.cloneTable(spark, t, clone)
      assertStamped(clone, "cloneTable")
    } finally System.clearProperty("graft.manifest.compress.threshold")
  }

  test("a fresh table made in any way carries the stamp") {
    val plain = tmpDir("stamp-plain") + "/tbl"
    MergeStore.init(spark, base, plain, 4)
    val clustered = tmpDir("stamp-cluster") + "/tbl"
    MergeStore.init(spark, base, clustered, 4, clusterBy = Seq("id"))
    val zordered = tmpDir("stamp-z") + "/tbl"
    MergeStore.init(spark, base, zordered, 4, zorderBy = Seq("id", "grp"))
    val wh = tmpDir("stamp-wh")
    System.setProperty("graft.catalog.warehouse", wh)
    val created = try {
      spark.sql("CREATE TABLE graft.fs.t (id BIGINT, v STRING)")
      s"$wh/fs/t"
    } finally System.clearProperty("graft.catalog.warehouse")
    Seq(plain, clustered, zordered, created).foreach { t =>
      assert(text(Paths.get(t, "_manifest", "v0.list")).split("\n")
        .contains(StampLine), s"v0 of $t lacks the stamp")
      assertStamped(t, "creation")
    }
    MergeStore.replaceTable(spark, batch("r", Seq(1L, 2L)), clustered)
    assertStamped(clustered, "replaceTable")
  }

  test("a table whose base lacks the stamp is refused by name everywhere") {
    val src = tmpDir("stamp-src") + "/tbl"
    MergeStore.init(spark, base, src, 4, clusterBy = Seq("id")) // v0 full
    MergeStore.merge(spark, batch("m", 10L to 14L), src, Seq("id")) // v1
    MergeStore.deleteWhereMor(spark, src, col("id") === 3L) // v2
    val ts = MergeStore.history(src).last._2
    // The pre-stamp table: a copy (a path the reconstruction memo has
    // never seen) whose only full base, v0, lost its stamp line.
    val t = tmpDir("stamp-old") + "/tbl"
    Files.walk(Paths.get(src)).iterator().asScala.toSeq.foreach { p =>
      val to = Paths.get(t).resolve(Paths.get(src).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    val v0 = Paths.get(t, "_manifest", "v0.list")
    Files.write(v0, text(v0).split("\n", -1).filterNot(_ == StampLine)
      .mkString("\n").getBytes("UTF-8"))
    refused(t, "read")(MergeStore.read(spark, t))
    refused(t, "read v0")(MergeStore.read(spark, t, Some(0)))
    refused(t, "readAsOf")(MergeStore.readAsOf(spark, t, ts))
    refused(t, "readSkipping")(MergeStore.readSkipping(spark, t))
    refused(t, "history")(MergeStore.history(t))
    refused(t, "historyDetail")(MergeStore.historyDetail(t))
    refused(t, "liveFiles")(MergeStore.liveFiles(t))
    refused(t, "fileSizes")(MergeStore.fileSizes(t))
    refused(t, "rowCount")(MergeStore.rowCount(spark, t))
    refused(t, "changes")(MergeStore.changes(spark, t, 0, 2, Seq("id")))
    refused(t, "merge")(MergeStore.merge(spark, batch("x", Seq(1L)), t,
      Seq("id")))
    refused(t, "append")(MergeStore.append(spark, batch("x", Seq(N + 1L)),
      t))
    refused(t, "deleteWhereMor")(MergeStore.deleteWhereMor(spark, t,
      col("id") === 1L))
    refused(t, "updateWhere")(MergeStore.updateWhere(spark, t,
      col("id") === 1L, Map("payload" -> lit("x"))))
    refused(t, "compact")(MergeStore.compact(spark, t, 2))
    refused(t, "setPolicy")(MergeStore.setPolicy(t, "graft.pk", Some("id")))
    refused(t, "restore")(MergeStore.restore(spark, t, 0))
    refused(t, "cloneTable")(MergeStore.cloneTable(spark, t,
      tmpDir("stamp-old-clone") + "/tbl"))
    refused(t, "init over it")(MergeStore.init(spark, base, t, 2))
    val filesBefore = Files.list(Paths.get(t, "data")).count()
    refused(t, "vacuum")(MergeStore.vacuum(t, graceMillis = 0))
    assert(Files.list(Paths.get(t, "data")).count() == filesBefore,
      "a refused vacuum must delete nothing")
    GraftCatalog.register("db.stampold", t)
    try refused(t, "SQL SELECT")(
      spark.sql("SELECT count(*) FROM graft.db.stampold").collect())
    finally GraftCatalog.unregister("db.stampold")
    // Nothing was committed by any refused verb.
    assert(MergeStore.version(t).contains(2))
  }
}
