package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.store.{GraftFileIndex, MergeStore}

/** RENAME COLUMN via column mapping: a metadata-only commit that pins
  * the field's on-disk (physical) name in the manifest schema, with
  * every reader/writer crossing the logical<->physical boundary once.
  * The tests drive the FULL verb surface over a renamed table — the
  * point of the mapping is that nothing downstream can tell a renamed
  * column from a born-with-that-name one.
  */
class RenameColumnSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8000
  private val FILES = 16

  private def base = spark.range(N.toLong).select(col("id"),
    (col("id") % 97).cast("int").as("grp"),
    concat(lit("v1-"), col("id")).as("payload"))

  private def freshTable(dir: String): String = {
    val t = tmpDir(dir) + "/tbl"
    MergeStore.init(spark, base, t, FILES, clusterBy = Seq("id"))
    t
  }

  private def plannedFiles(df: DataFrame): Seq[String] = {
    df.collect()
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collectFirst {
      case h: HadoopFsRelation if h.location.isInstanceOf[GraftFileIndex] =>
        h.location.asInstanceOf[GraftFileIndex]
    }.flatMap(_.lastPlannedFiles).getOrElse(
      fail("no GraftFileIndex listing in the plan"))
  }

  test("rename is metadata-only: same files, new name, same values") {
    val t = freshTable("ren-meta")
    val filesBefore = MergeStore.liveFiles(t)
    val v = MergeStore.renameColumn(spark, t, "payload", "text")
    assert(v == 1)
    assert(MergeStore.liveFiles(t) == filesBefore, "rename rewrote data")
    val back = MergeStore.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "grp", "text"))
    assert(back.select($"id", $"text").as[(Long, String)].collect()
      .forall { case (i, s) => s == s"v1-$i" })
    // Time travel below the rename still speaks the old name.
    assert(MergeStore.read(spark, t, Some(0)).columns.contains("payload"))
  }

  test("every verb continues on a renamed table, spelled in new names") {
    val t = freshTable("ren-verbs")
    MergeStore.renameColumn(spark, t, "grp", "bucket")
    // MERGE keyed on the (unrenamed) pk, batch spelled in NEW names.
    val batch = spark.range(100L, 140L).select(col("id"),
      lit(7).cast("int").as("bucket"),
      concat(lit("m-"), col("id")).as("payload"))
    MergeStore.merge(spark, batch, t, Seq("id"))
    // UPDATE and DELETE against the renamed column.
    MergeStore.updateWhere(spark, t, col("bucket") === 7 && col("id") < 120,
      Map("payload" -> concat(lit("u-"), col("id"))))
    MergeStore.deleteWhere(spark, t, col("bucket") === 7 && col("id") >= 130)
    val back = MergeStore.read(spark, t)
      .select($"id", $"bucket".cast("long"), $"payload")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    (0L until N.toLong).foreach { i =>
      // Post-merge bucket: 7 for the merged ids, else the natural i%97
      // (which is ALSO 7 for i % 97 == 7 — those rows match the
      // update/delete predicates like any other bucket-7 row).
      val bucket = if (i >= 100 && i < 140) 7L else i % 97
      val merged = i >= 100 && i < 140
      if (bucket == 7L && i >= 130) assert(!back.contains(i), s"$i survives")
      else if (bucket == 7L && i < 120) assert(back(i) == ((7L, s"u-$i")))
      else if (bucket == 7L && merged) assert(back(i) == ((7L, s"m-$i")))
      else if (bucket == 7L) assert(back(i) == ((7L, s"v1-$i")))
      else assert(back(i) == ((bucket, s"v1-$i")), s"bystander $i changed")
    }
    // MOR verbs too: vectors + appended post-images under the mapping.
    MergeStore.deleteWhereMor(spark, t, col("bucket") === 3)
    MergeStore.updateWhereMor(spark, t, col("bucket") === 4,
      Map("payload" -> lit("mor")))
    val after = MergeStore.read(spark, t)
    assert(after.where($"bucket" === 3).count() == 0)
    assert(after.where($"bucket" === 4 && $"payload" =!= "mor").count() == 0)
    assert(after.where($"bucket" === 5).count() ==
      base.where($"grp" === 5 && !($"id" >= 100 && $"id" < 140)).count())
    // Compaction keeps the mapping and the rows.
    MergeStore.compact(spark, t, 4, clusterBy = Seq("id"))
    assert(MergeStore.read(spark, t).columns.toSeq ==
      Seq("id", "bucket", "payload"))
    assert(MergeStore.read(spark, t).where($"bucket" === 3).count() == 0)
  }

  test("manifest skipping survives the rename: stats keys follow the name") {
    val t = freshTable("ren-skip")
    MergeStore.renameColumn(spark, t, "id", "key")
    // Plan-time pruning through the skipping relation, predicate in
    // the NEW name; listFiles translates physical->logical for stats.
    val skip = MergeStore.readSkipping(spark, t)
      .where(col("key") >= 1000 && col("key") < 2000)
    val planned = plannedFiles(skip)
    assert(planned.size < FILES / 2,
      s"rename broke stats pruning: planned ${planned.size} of $FILES")
    val expect = base.where($"id" >= 1000 && $"id" < 2000)
      .select($"id".as("key"), $"grp", $"payload")
    assert(skip.orderBy("key").collect().toSeq ==
      expect.orderBy("key").collect().toSeq)
    // The explicit scan verb prunes by the new name too.
    val ranged = MergeStore.scanRange(spark, t, "key", Some(500), Some(700))
    assert(ranged.count() == 201)
    // A post-rename merge writes files whose stats key by the NEW name.
    MergeStore.merge(spark, spark.range(N.toLong, N + 50L)
      .select(col("id").as("key"), lit(1).cast("int").as("grp"),
        lit("new").as("payload")), t, Seq("key"))
    val planned2 = plannedFiles(MergeStore.readSkipping(spark, t)
      .where(col("key") >= N.toLong))
    assert(planned2.size < FILES / 2, s"post-rename file un-pruned")
  }

  test("bloom sidecars survive the rename: point lookups keep pruning") {
    val t = tmpDir("ren-bloom") + "/tbl"
    val df = spark.range(N.toLong).select(col("id"),
      concat(lit("doc-"), col("id") * 131).as("doc"),
      (col("id") % 7).as("w"))
    MergeStore.init(spark, df, t, FILES, clusterBy = Seq("id"),
      bloomCols = Seq("doc"))
    MergeStore.renameColumn(spark, t, "doc", "doc_id")
    val probe = Seq("doc-131", "doc-262", "doc-39300")
    val skip = MergeStore.readSkipping(spark, t)
      .where(col("doc_id").isin(probe: _*))
    val planned = plannedFiles(skip)
    assert(planned.size < FILES,
      s"bloom keys stale after rename: planned ${planned.size}")
    assert(skip.count() == 3)
    assert(MergeStore.scanPoints(spark, t, "doc_id", probe).count() == 3)
  }

  test("chained and swapping renames compose; rename-back retires the mapping") {
    val t = freshTable("ren-chain")
    MergeStore.renameColumn(spark, t, "grp", "g2")     // grp -> g2
    MergeStore.renameColumn(spark, t, "payload", "grp") // payload -> grp (!)
    val back = MergeStore.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "g2", "grp"))
    assert(back.where($"grp" === "v1-7").select($"g2".cast("long"))
      .as[Long].head() == 7L)
    // Verbs under the swapped names.
    MergeStore.updateWhere(spark, t, col("id") === 7L,
      Map("grp" -> lit("swapped")))
    assert(MergeStore.read(spark, t).where($"id" === 7L)
      .select($"grp").as[String].head() == "swapped")
    // Rename back to the physical name: the mapping entry retires.
    MergeStore.renameColumn(spark, t, "grp", "payload")
    val schema = MergeStore.read(spark, t).schema
    assert(schema.fieldNames.toSeq == Seq("id", "g2", "payload"))
    assert(MergeStore.read(spark, t).where($"id" === 7L)
      .select($"payload").as[String].head() == "swapped")
  }

  test("restore below a rename restores the old name; feed across it is empty") {
    val t = freshTable("ren-restore")
    MergeStore.merge(spark, spark.range(N.toLong, N + 10L).select(col("id"),
      lit(0).cast("int").as("grp"), lit("x").as("payload")), t, Seq("id"))
    MergeStore.renameColumn(spark, t, "payload", "text")   // v2
    // A pure rename commit changes no content: the typed feed is empty.
    assert(MergeStore.changes(spark, t, 1, 2, Seq("id")).count() == 0)
    // A straddling span speaks the head's names and carries the data.
    val span = MergeStore.changes(spark, t, 0, 2, Seq("id"))
    assert(span.columns.contains("text") && !span.columns.contains("payload"))
    assert(span.where($"_change_type" === "insert").count() == 10)
    // RESTORE below the rename: the old name (and schema) return.
    MergeStore.restore(spark, t, 1)
    assert(MergeStore.read(spark, t).columns.toSeq ==
      Seq("id", "grp", "payload"))
    assert(MergeStore.read(spark, t).count() == N + 10)
  }

  test("refusals: constraints, duplicate names, legacy manifests, evolution collisions") {
    val t = freshTable("ren-refuse")
    MergeStore.addConstraint(spark, t, "grp_range", "grp BETWEEN 0 AND 96")
    val e1 = intercept[IllegalArgumentException] {
      MergeStore.renameColumn(spark, t, "grp", "bucket")
    }
    assert(e1.getMessage.contains("constraint"))
    MergeStore.dropConstraint(spark, t, "grp_range")
    MergeStore.renameColumn(spark, t, "grp", "bucket")
    intercept[IllegalArgumentException] {
      MergeStore.renameColumn(spark, t, "payload", "bucket") // taken
    }
    intercept[IllegalArgumentException] {
      MergeStore.renameColumn(spark, t, "gone", "x") // no such column
    }
    // The freed name is reserved ON DISK: evolving in a column called
    // `grp` would collide with the carried files' physical column.
    val evolved = spark.range(5L).select(col("id"),
      lit(1).cast("int").as("grp"))
    val e2 = intercept[IllegalArgumentException] {
      MergeStore.merge(spark, evolved, t, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e2.getMessage.contains("physical"))
    // EVERY commit now records the schema — even a stats-less
    // unclustered init — so rename works on such tables directly.
    val statless = tmpDir("ren-statless") + "/tbl"
    MergeStore.init(spark, base, statless, 4)
    MergeStore.renameColumn(spark, statless, "payload", "text")
    assert(MergeStore.read(spark, statless).columns.contains("text"))
    // A LEGACY manifest (written before the format stamp): model it by
    // stripping the stamp line. The table-wide format refusal fires
    // before the verb does anything.
    val legacy = tmpDir("ren-legacy") + "/tbl"
    MergeStore.init(spark, base, legacy, 4)
    val m0 = java.nio.file.Paths.get(legacy, "_manifest", "v0.list")
    val stripped = java.nio.file.Files.readAllLines(m0)
      .asScala.filterNot(_.startsWith("#graft.format=")).asJava
    java.nio.file.Files.write(m0, stripped)
    val e3 = intercept[IllegalStateException] {
      MergeStore.renameColumn(spark, legacy, "payload", "text")
    }
    assert(e3.getMessage.contains("predates manifest format"),
      e3.getMessage)
  }

  test("addColumn: metadata-only; null-filled reads; verbs land values") {
    val t = freshTable("add-col")
    val filesBefore = MergeStore.liveFiles(t)
    MergeStore.addColumn(spark, t, "score",
      org.apache.spark.sql.types.LongType)
    assert(MergeStore.liveFiles(t) == filesBefore, "addColumn rewrote data")
    val back = MergeStore.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "grp", "payload", "score"))
    assert(back.where($"score".isNotNull).count() == 0) // null-filled
    assert(MergeStore.readSkipping(spark, t)
      .where($"score".isNull).count() == N)
    // Writes land values in the new column; bystanders stay null.
    MergeStore.merge(spark, spark.range(10L).select(col("id"),
      lit(0).cast("int").as("grp"), lit("s").as("payload"),
      (col("id") * 11).as("score")), t, Seq("id"))
    MergeStore.updateWhere(spark, t, col("id") === 20L,
      Map("score" -> lit(999L)))
    val scored = MergeStore.read(spark, t)
      .where($"score".isNotNull).select($"id", $"score")
      .as[(Long, Long)].collect().toMap
    assert(scored.size == 11)
    assert(scored(3L) == 33L && scored(20L) == 999L)
    // Refusals: duplicate, and a renamed-away physical name.
    intercept[IllegalArgumentException] {
      MergeStore.addColumn(spark, t, "score",
        org.apache.spark.sql.types.LongType)
    }
    MergeStore.renameColumn(spark, t, "payload", "body")
    val e = intercept[IllegalArgumentException] {
      MergeStore.addColumn(spark, t, "payload",
        org.apache.spark.sql.types.StringType)
    }
    assert(e.getMessage.contains("physical"))
  }

  test("clone carries the mapping; IVM view follows a renamed source") {
    val t = freshTable("ren-clone")
    MergeStore.renameColumn(spark, t, "payload", "text")
    val dest = tmpDir("ren-clone-dst") + "/tbl"
    MergeStore.cloneTable(spark, t, dest)
    assert(MergeStore.read(spark, dest).columns.toSeq ==
      Seq("id", "grp", "text"))
    MergeStore.merge(spark, spark.range(3L).select(col("id"),
      lit(0).cast("int").as("grp"), lit("c").as("text")), dest, Seq("id"))
    assert(MergeStore.read(spark, dest).where($"text" === "c").count() == 3)
    assert(MergeStore.read(spark, t).where($"text" === "c").count() == 0)
  }
}
