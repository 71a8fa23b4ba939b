package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.store.MergeStore
import graft.streaming.MergeStoreCdc

/** The per-commit change feed of a span (`changesByCommit`, behind the
  * CDC stream, `table_changes` and the replica follower) against its
  * definition: the union over every commit `v` of `changes(v-1, v)`,
  * each renamed onto the span end's column names and tagged
  * `_commit_version`. The history below covers every way a commit can
  * change rows: COW rewrites, appends, deletion vectors set and
  * cleared, a content-neutral compaction, a rename and an added
  * column, NULL keys and a duplicated full row. Plus the plan shape:
  * one span classifies in a fixed number of exchanges, however many
  * commits it covers.
  */
class ChangesByCommitSpec extends SparkSpec {

  private val pk = Seq("id")

  private def rows(lo: Long, hi: Long, tag: String): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit(tag + "-"), col("id")).as("payload"))

  private def nullKeyRow(tag: String): DataFrame =
    spark.range(1).select(lit(null).cast("long").as("id"),
      lit(tag).as("payload"))

  /** The feed's definition, spelled out commit by commit. */
  private def perCommitUnion(t: String, fromV: Int, toV: Int,
                             pre: Boolean): DataFrame =
    (fromV + 1 to toV).map { v =>
      val toEnd = MergeStore.renameMapBetween(t, v, toV)
      val back = toEnd.map(_.swap)
      MergeStore.renameColumns(
        MergeStore.changes(spark, t, v - 1, v,
          pk.map(c => back.getOrElse(c, c)), pre), toEnd)
        .withColumn(MergeStoreCdc.CommitVersionCol, lit(v.toLong))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** A frame as a sorted multiset of rows over its sorted column names. */
  private def multiset(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq.sorted
    (cols, df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted)
  }

  /** One history through every kind of row change; built once. */
  private lazy val history: String = {
    val t = tmpDir("cbc-diff") + "/tbl"
    MergeStore.init(spark, rows(0, 40, "v0").unionByName(nullKeyRow("nk0")),
      t, numFiles = 4, clusterBy = pk) // v0
    MergeStore.merge(spark, rows(0, 1, "m1").unionByName(rows(5, 10, "m1"))
      .unionByName(rows(40, 43, "m1")), t, pk) // v1: COW merge
    MergeStore.append(spark, rows(50, 53, "a2")
      .unionByName(rows(1, 2, "v0")) // a duplicate of a live full row
      .unionByName(nullKeyRow("nk2")), t) // v2: append
    MergeStore.deleteWhereMor(spark, t, col("id").between(20, 24)) // v3
    MergeStore.updateWhereMor(spark, t, col("id").between(30, 32),
      Map("payload" -> lit("u4"))) // v4: MOR update
    MergeStore.updateWhereMor(spark, t, col("id").between(33, 34),
      Map("payload" -> col("payload"))) // v5: MOR update, same content
    MergeStore.compact(spark, t, targetFiles = 2, clusterBy = pk) // v6
    MergeStore.deleteWhereMor(spark, t,
      col("id").between(2, 3) || col("id").isNull) // v7: MOR delete
    MergeStore.restore(spark, t, 6) // v8: v7's positions revive
    MergeStore.renameColumn(spark, t, "payload", "body") // v9
    MergeStore.addColumn(spark, t, "note", StringType) // v10
    MergeStore.merge(spark, rows(7, 8, "m11").withColumnRenamed("payload",
      "body").withColumn("note", lit("n"))
      .unionByName(rows(60, 61, "m11").withColumnRenamed("payload", "body")
        .withColumn("note", lit("n"))), t, pk) // v11: merge, new schema
    MergeStore.delete(spark, t, spark.range(40L, 41L).select(col("id")),
      pk) // v12: COW delete
    assert(MergeStore.version(t).contains(12))
    t
  }

  test("changesByCommit equals the per-commit union of changes, with and without pre-images") {
    val t = history
    val head = 12
    for (pre <- Seq(false, true)) {
      val got = MergeStoreCdc.changesByCommit(spark, t, pk,
        includePreimages = pre, fromVersion = 0, toVersion = head)
      val want = perCommitUnion(t, 0, head, pre)
      assert(multiset(got) == multiset(want), s"includePreimages = $pre")
    }
    // The history reaches every change type the classifier emits, and
    // the content-neutral compaction contributes nothing.
    val feed = MergeStoreCdc.changesByCommit(spark, t, pk,
      includePreimages = true, fromVersion = 0, toVersion = head)
    val types = feed.select(MergeStoreCdc.ChangeTypeCol).distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("insert", "update_preimage", "update_postimage",
      "delete"))
    // Neither the same-content update nor the compaction changes a row.
    assert(feed.where(col(MergeStoreCdc.CommitVersionCol).isin(5L, 6L))
      .isEmpty)
    assert(feed.where(col(MergeStoreCdc.CommitVersionCol) === 8L &&
      col(MergeStoreCdc.ChangeTypeCol) === "insert").count() == 4)
  }

  test("columns appended inside a span precede the change columns") {
    val feed = MergeStoreCdc.changesByCommit(spark, history, pk,
      includePreimages = false, fromVersion = 0, toVersion = 12)
    assert(feed.columns.toSeq == Seq("id", "body", "note",
      MergeStoreCdc.ChangeTypeCol, MergeStoreCdc.CommitVersionCol))
  }

  test("diff of each commit is the row multiset its read gained") {
    val t = history
    (1 to 12).foreach { v =>
      val now = MergeStore.read(spark, t, Some(v))
      val was = now.limit(0).unionByName(MergeStore.renameColumns(
        MergeStore.read(spark, t, Some(v - 1)),
        MergeStore.renameMapBetween(t, v - 1, v)),
        allowMissingColumns = true)
      assert(multiset(MergeStore.diff(spark, t, v - 1, v)) ==
        multiset(now.exceptAll(was)), s"diff($v-1, $v)")
    }
    // A same-content MOR update marks and re-adds an identical row: the
    // table gained nothing.
    assert(MergeStore.diff(spark, t, 4, 5).isEmpty)
    assert(MergeStore.diff(spark, t, 0, 12).count() > 0)
  }

  test("changesByCommit plans a fixed number of shuffles, whatever the span length") {
    val t = tmpDir("cbc-plan") + "/tbl"
    MergeStore.init(spark, rows(0, 100, "v0"), t, numFiles = 4,
      clusterBy = pk) // v0
    (1 to 6).foreach { v =>
      MergeStore.merge(spark, rows(v * 10L, v * 10L + 3, s"m$v"), t, pk)
    }
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    def shuffles(toV: Int): Int =
      MergeStoreCdc.changesByCommit(spark, t, pk, includePreimages = true,
        fromVersion = 0, toVersion = toV).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
    try {
      val (two, six) = (shuffles(2), shuffles(6))
      assert(two > 0)
      assert(six <= two, s"$six shuffles over 6 commits against $two over 2")
    } finally prior match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
