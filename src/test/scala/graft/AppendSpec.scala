package graft

import org.apache.spark.sql.functions._

import graft.store.{GraftCatalog, MergeStore}

/** Blind APPEND — the highest-frequency ingest verb: zero key probe,
  * zero rewrite, stats on the batch only, and an EMPTY read set, so
  * concurrent appends NEVER recompute (they rebase onto any head with
  * unchanged policy). Plus its SQL spellings: INSERT INTO (positional
  * and column-list) and INSERT OVERWRITE.
  */
class AppendSpec extends SparkSpec {
  import spark.implicits._

  private val N = 6000

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def batch(tag: String, ids: Seq[Long]) =
    spark.createDataset(ids).toDF("id")
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(s"$tag-"), col("id")).as("payload"))

  private def fresh(tag: String): String = {
    val t = tmpDir(tag) + "/tbl"
    MergeStore.init(spark, base, t, 8, clusterBy = Seq("id"))
    t
  }

  test("append adds files without touching live ones; stats lines skip-index the batch") {
    val t = fresh("app-basic")
    val before = MergeStore.liveFiles(t).toSet
    val st = MergeStore.append(spark, batch("a", N.toLong until N + 500L),
      t, numFiles = 2)
    assert(st.rowsInserted == 500 && st.filesAdded == 2)
    assert(st.rebases == 0 && st.recomputes == 0)
    val after = MergeStore.liveFiles(t).toSet
    assert(before.subsetOf(after), "append must not rewrite a live file")
    assert((after -- before).size == 2)
    assert(MergeStore.read(spark, t).count() == N + 500)
    // The appended files carry fresh stats: a key probe into the new
    // range prunes to exactly the appended files.
    val cands = MergeStore.candidateFiles(spark, t, "id",
      Some(N.toLong + 10), Some(N.toLong + 20))
    assert(cands.toSet.subsetOf(after -- before),
      s"probe into the appended range planned old files: $cands")
    assert(MergeStore.scanRange(spark, t, "id", Some(N.toLong + 10),
      Some(N.toLong + 20)).count() == 11)
  }

  test("append is blind: duplicate keys land as duplicate rows (SQL INSERT)") {
    val t = fresh("app-dup")
    MergeStore.append(spark, batch("dup", 100L to 104L), t)
    assert(MergeStore.read(spark, t).where($"id" === 100L).count() == 2)
    assert(MergeStore.read(spark, t).count() == N + 5)
  }

  test("strict batch contract: drifted producer refuses; constraint gate fires") {
    val t = fresh("app-strict")
    val drifted = batch("d", Seq(1L)).withColumn("extra", lit(1))
    val e = intercept[IllegalArgumentException] {
      MergeStore.append(spark, drifted, t)
    }
    assert(e.getMessage.contains("extra"))
    // TYPE drift: a STRING id would brick every carried file's read if
    // its type were recorded as the table schema — refuse loudly. A
    // loss-free up-cast (INT into the BIGINT id) aligns silently.
    val typeDrift = batch("d", Seq(2L))
      .withColumn("id", concat(lit("x"), col("id")))
    val e2 = intercept[RuntimeException] {
      MergeStore.append(spark, typeDrift, t)
    }
    assert(e2.getMessage.contains("type-drifted"), e2.getMessage)
    val e3 = intercept[RuntimeException] {
      MergeStore.merge(spark, typeDrift, t, Seq("id"))
    }
    assert(e3.getMessage.contains("type-drifted"), e3.getMessage)
    val up = MergeStore.append(spark,
      batch("up", Seq(900000L)).withColumn("id", lit(900000).cast("int")),
      t)
    assert(up.rowsInserted == 1)
    assert(MergeStore.read(spark, t).where($"id" === 900000L).count() == 1)
    assert(MergeStore.read(spark, t).schema("id").dataType ==
      org.apache.spark.sql.types.LongType,
      "an up-cast batch must not narrow the table schema")
    // An EMPTY batch commits nothing: no version churn for idempotent
    // rerunners, no empty data file.
    val vBefore = MergeStore.version(t).get
    val empty = MergeStore.append(spark, base.where(lit(false)), t)
    assert(empty.rowsInserted == 0 && empty.filesAdded == 0)
    assert(MergeStore.version(t).get == vBefore,
      "empty append must not commit a version")
    MergeStore.addConstraint(spark, t, "grp_pos", "grp >= 0")
    intercept[IllegalStateException] {
      MergeStore.append(spark,
        batch("c", Seq(1L)).withColumn("grp", lit(-5)), t)
    }
    assert(MergeStore.read(spark, t).count() == N + 1)
  }

  test("concurrent appends: every loser rebases, zero recomputes, nothing lost") {
    val t = fresh("app-race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val results = try {
      (0 until 4).map { i =>
        Future(MergeStore.append(spark,
          batch(s"r$i", (N + i * 1000L) until (N + i * 1000L + 100L)), t))
      }.map(Await.result(_, 5.minutes)).toList
    } finally pool.shutdown()
    assert(results.map(_.recomputes).sum == 0,
      s"append must never recompute on a disjoint race: $results")
    // (Losers rebase — how many lost is scheduling-dependent; the
    // deterministic single-loser pin above asserts rebases == 1.)
    assert(MergeStore.read(spark, t).count() == N + 400)
    (0 until 4).foreach { i =>
      assert(MergeStore.read(spark, t)
        .where($"payload".startsWith(s"r$i-")).count() == 100)
    }
  }

  test("pinned loser vs data rival: rebase (append read set is empty)") {
    val t = fresh("app-pin")
    // Rival merge rewrites a file after the pin.
    MergeStore.merge(spark, batch("riv", 10L to 19L), t, Seq("id"))
    // Append computed against v0 loses the CAS — but it read NOTHING,
    // so ANY data rival is disjoint: re-commit without recompute.
    val st = MergeStore.append(spark, batch("pin", 90000L until 90010L),
      t, snapshotVersion = Some(0))
    assert(st.rebases == 1 && st.recomputes == 0, s"$st")
    assert(MergeStore.read(spark, t)
      .where($"payload".startsWith("pin-")).count() == 10)
    assert(MergeStore.read(spark, t)
      .where($"payload".startsWith("riv-")).count() == 10)
  }

  test("a rival policy change forces recompute (rebase refused), retry lands") {
    val t = fresh("app-policy")
    // Rival adds a constraint: table policy drifts past the pin.
    MergeStore.addConstraint(spark, t, "grp_pos", "grp >= 0")
    // Pinned append loses the CAS; policy drift refuses the rebase.
    intercept[java.util.ConcurrentModificationException] {
      MergeStore.append(spark, batch("pin", 90000L until 90010L), t,
        snapshotVersion = Some(0))
    }
    val st = MergeStore.append(spark, batch("pin", 90000L until 90010L),
      t, maxRetries = 1, snapshotVersion = Some(0))
    assert(st.recomputes == 1, s"$st")
    assert(MergeStore.read(spark, t)
      .where($"payload".startsWith("pin-")).count() == 10)
  }

  test("overwriteTable replaces content in one commit; policy carries") {
    val t = fresh("app-ovw")
    MergeStore.addConstraint(spark, t, "grp_pos", "grp >= 0")
    val st = MergeStore.overwriteTable(spark,
      batch("ow", 0L until 100L), t, numFiles = 2)
    assert(st.rowsInserted == 100 && st.filesAdded == 2)
    val rows = MergeStore.read(spark, t)
    assert(rows.count() == 100)
    assert(rows.where(!$"payload".startsWith("ow-")).count() == 0)
    // Policy (constraints) carried through the overwrite commit.
    assert(MergeStore.constraints(t).contains("grp_pos"))
    intercept[IllegalStateException] {
      MergeStore.append(spark,
        batch("c", Seq(1L)).withColumn("grp", lit(-5)), t)
    }
    // Time travel still reaches the pre-overwrite content.
    assert(MergeStore.read(spark, t, Some(0)).count() == N)
  }

  test("INSERT INTO by SQL: positional, column-list with NULL fill, OVERWRITE") {
    val t = fresh("app-sql")
    GraftCatalog.register("app.events", t)
    val before = MergeStore.liveFiles(t).toSet
    spark.sql("INSERT INTO graft.app.events " +
      s"VALUES (${N + 1}, 5, 'sql-a'), (${N + 2}, 6, 'sql-b')")
    assert(MergeStore.read(spark, t).count() == N + 2)
    assert(before.subsetOf(MergeStore.liveFiles(t).toSet),
      "INSERT INTO must append, never rewrite")
    assert(MergeStore.read(spark, t).where($"id" === (N + 1).toLong)
      .select($"payload").as[String].head() == "sql-a")
    // Column list: unlisted columns NULL-fill; values cast to the
    // table's types (the literal below is an INT into a BIGINT id).
    spark.sql("INSERT INTO graft.app.events (id, payload) " +
      s"VALUES (${N + 3}, 'sql-c')")
    assert(MergeStore.read(spark, t).count() == N + 3)
    val row = MergeStore.read(spark, t).where($"id" === (N + 3).toLong)
      .select($"grp", $"payload").collect().head
    assert(row.isNullAt(0) && row.getString(1) == "sql-c")
    // INSERT INTO ... SELECT over a temp view.
    base.limit(3).select($"id" + 100000L as "id", $"grp", $"payload")
      .createOrReplaceTempView("app_sel_src")
    spark.sql("INSERT INTO graft.app.events SELECT * FROM app_sel_src")
    assert(MergeStore.read(spark, t).count() == N + 6)
    // OVERWRITE replaces everything.
    spark.sql("INSERT OVERWRITE graft.app.events SELECT * FROM app_sel_src")
    assert(MergeStore.read(spark, t).count() == 3)
    // Refusals: unknown column, arity mismatch.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("INSERT INTO graft.app.events (id, nope) VALUES (1, 2)")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("INSERT INTO graft.app.events VALUES (1, 2)")
    }
    assert(MergeStore.read(spark, t).count() == 3)
  }

  test("wide schemas: empty partitions still never commit (probe is not size-gated on small batches)") {
    // ~300 columns push a footer-only parquet file past the 16 KB size
    // gate — the small-batch path must probe row counts regardless.
    val wideCols = (1 to 300).map(i => lit(s"v$i").as(s"c$i"))
    val wide = spark.range(0L, 50L).select(col("id") +: wideCols: _*)
    val t = tmpDir("app-wide") + "/tbl"
    MergeStore.init(spark, wide, t, 2)
    val st = MergeStore.append(spark,
      spark.range(50L, 51L).select(col("id") +: wideCols: _*), t)
    assert(st.filesAdded == 1,
      s"wide-schema empty twin slipped through: $st")
    assert(MergeStore.read(spark, t).count() == 51)
  }

  test("empty partitions of a sparse batch never commit files") {
    val t = fresh("app-sparse")
    val before = MergeStore.liveFiles(t).toSet
    // spark.range over one row plans many partitions, all but one
    // empty; a trickle producer shaped like this must add exactly ONE
    // file per call, not an empty footer-only twin per partition.
    val st = MergeStore.append(spark,
      spark.range(N.toLong, N + 1L).select(col("id"),
        lit(1).cast("int").as("grp"), lit("one").as("payload")), t)
    assert(st.filesAdded == 1, st.toString)
    assert((MergeStore.liveFiles(t).toSet -- before).size == 1)
    assert(MergeStore.read(spark, t).count() == N + 1)
  }
}
