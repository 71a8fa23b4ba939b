package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.store.{GraftCatalog, GraftFileIndex, MergeStore}

/** The engine speaking SQL end to end: MergeStore tables registered in
  * the DSv2 catalog (`spark.sql.catalog.graft`), driven purely through
  * `spark.sql` — SELECT (with a plan assert that manifest skipping
  * pruned files), INSERT INTO / OVERWRITE, UPDATE, DELETE, MERGE INTO
  * (canonical, conditional, insert-only), CREATE TABLE [AS SELECT],
  * ALTER TABLE column evolution, SHOW TABLES, time travel, DROP.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val N = 20000
  private val FILES = 16

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  /** Init a clustered MergeStore table and register it as graft.db.<n>. */
  private def fresh(n: String): String = {
    val t = tmpDir(s"cat-$n") + "/tbl"
    MergeStore.init(spark, base, t, FILES, clusterBy = Seq("id"))
    GraftCatalog.register(s"db.$n", t)
    t
  }

  private def plannedFiles(df: DataFrame): Seq[String] = {
    df.collect()
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collectFirst {
      case h: HadoopFsRelation if h.location.isInstanceOf[GraftFileIndex] =>
        h.location.asInstanceOf[GraftFileIndex]
    }.flatMap(_.lastPlannedFiles)
      .getOrElse(fail("no GraftFileIndex in the plan — the catalog read " +
        "did not route through the skipping index"))
  }

  test("SELECT through the catalog: rows match read(); manifest skipping prunes files") {
    val t = fresh("sel")
    val df = spark.sql(
      "SELECT id, payload FROM graft.db.sel WHERE id BETWEEN 100 AND 120")
    assert(df.orderBy("id").collect().toSeq ==
      MergeStore.read(spark, t).where($"id".between(100, 120))
        .select($"id", $"payload").orderBy("id").collect().toSeq)
    val planned = plannedFiles(df)
    assert(planned.size < MergeStore.liveFiles(t).size,
      s"skipping must prune a clustered range probe: planned $planned")
    // Aggregations and joins over the catalog relation work too.
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.sel WHERE grp = 5")
      .as[Long].head() == base.where($"grp" === 5).count())
  }

  test("time travel: VERSION AS OF / TIMESTAMP AS OF pin the manifest") {
    val t = fresh("tt")
    MergeStore.deleteWhere(spark, t, $"id" < 1000L) // v1
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.tt VERSION AS OF 0")
      .as[Long].head() == N)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.tt")
      .as[Long].head() == N - 1000)
    val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .plusHours(1).toString.replace('T', ' ')
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.tt TIMESTAMP AS OF '$ts'")
      .as[Long].head() == N - 1000)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.tt VERSION AS OF 99").collect()
    }
  }

  test("INSERT INTO appends (no rewrite); INSERT OVERWRITE replaces; writeTo works") {
    val t = fresh("ins")
    val before = MergeStore.liveFiles(t).toSet
    spark.sql(
      s"INSERT INTO graft.db.ins VALUES (${N + 1}, 5, 'sql-a'), " +
        s"(${N + 2}, 6, 'sql-b')")
    assert(before.subsetOf(MergeStore.liveFiles(t).toSet),
      "INSERT INTO must append, never rewrite")
    assert(MergeStore.read(spark, t).count() == N + 2)
    assert(spark.sql(
      s"SELECT payload FROM graft.db.ins WHERE id = ${N + 1}")
      .as[String].head() == "sql-a")
    // DataFrame API writeTo → same append path.
    base.limit(3).select($"id" + 500000L as "id", $"grp", $"payload")
      .writeTo("graft.db.ins").append()
    assert(MergeStore.read(spark, t).count() == N + 5)
    // OVERWRITE replaces the content in one commit.
    spark.sql("INSERT OVERWRITE graft.db.ins " +
      s"SELECT id, grp, payload FROM graft.db.ins WHERE id >= 500000")
    assert(MergeStore.read(spark, t).count() == 3)
    // Time travel still sees the pre-overwrite table.
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.ins VERSION AS OF 0")
      .as[Long].head() == N)
  }

  test("UPDATE and DELETE through spark.sql dispatch the verbs") {
    val t = fresh("dml")
    val upd = spark.sql("UPDATE graft.db.dml " +
      "SET payload = concat('u-', id), grp = grp + 1 WHERE id % 100 = 3")
    assert(upd.as[Long].head() == N / 100)
    assert(MergeStore.read(spark, t).where($"id" === 103L)
      .select($"payload").as[String].head() == "u-103")
    val del = spark.sql("DELETE FROM graft.db.dml WHERE grp = 7")
    assert(del.as[Long].head() ==
      MergeStore.read(spark, t, Some(1)).where($"grp" === 7).count())
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.dml WHERE grp = 7")
      .as[Long].head() == 0)
    // Subqueries in DML conditions refuse loudly (they cannot
    // round-trip into the verb's own plan) — with the remedy named.
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.db.dml WHERE id IN " +
        "(SELECT id FROM graft.db.dml WHERE grp = 9)").collect()
    }
    assert(e.getMessage.contains("temp view"),
      s"want the named refusal, got: ${e.getMessage}")
  }

  test("MERGE INTO through spark.sql: canonical upsert, conditional, insert-only") {
    val t = fresh("mrg")
    spark.range(100L, 110L)
      .select(col("id"), lit(7).cast("int").as("grp"),
        concat(lit("m-"), col("id")).as("payload"))
      .union(spark.range(N.toLong, N + 5L)
        .select(col("id"), lit(8).cast("int").as("grp"),
          concat(lit("new-"), col("id")).as("payload")))
      .createOrReplaceTempView("cat_upd")
    val st = spark.sql("MERGE INTO graft.db.mrg t USING cat_upd s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect().head
    assert(st.getLong(0) == 10 && st.getLong(1) == 5)
    assert(MergeStore.read(spark, t).count() == N + 5)
    assert(MergeStore.read(spark, t).where($"id" === 105L)
      .select($"payload").as[String].head() == "m-105")
    // Conditional column-list UPDATE: only grp<50 rows take the update,
    // and only payload changes.
    val st2 = spark.sql("MERGE INTO graft.db.mrg t USING cat_upd s " +
      "ON t.id = s.id WHEN MATCHED AND t.grp < 50 THEN " +
      "UPDATE SET payload = concat(t.payload, '!')").collect().head
    assert(st2.getLong(0) ==
      spark.table("cat_upd").where($"grp" < 50).count())
    assert(MergeStore.read(spark, t).where($"id" === 105L)
      .select($"payload").as[String].head() == "m-105!",
      "grp=7 < 50: the conditional update must fire")
    // INSERT-only: matched rows untouched.
    val filesBefore = MergeStore.liveFiles(t).toSet
    val st3 = spark.sql("MERGE INTO graft.db.mrg t USING cat_upd s " +
      "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *").collect().head
    assert(st3.getLong(0) == 0 && st3.getLong(1) == 0,
      "everything matches now — nothing to insert")
    assert(MergeStore.liveFiles(t).toSet == filesBefore,
      "no-op insert-only merge must not rewrite matched files")
    assert(MergeStore.read(spark, t).where($"id" === 105L)
      .select($"payload").as[String].head() == "m-105!")
    // Insert column list that skips the ON-clause key refuses loudly
    // (it would land NULL-keyed rows the probes then ignore).
    val eIns = intercept[Exception] {
      spark.sql("MERGE INTO graft.db.mrg t USING cat_upd s " +
        "ON t.id = s.id WHEN NOT MATCHED THEN INSERT (payload) " +
        "VALUES (s.payload)").collect()
    }
    assert(eIns.getMessage.contains("key column"), eIns.getMessage)
  }

  test("conditional INSERT-only MERGE with a non-'s' source alias") {
    // The verb spells the insert condition over its own `s` alias; the
    // statement's source alias is arbitrary — `u` here. Regression for
    // the catalog route forgetting to re-alias before the filter.
    val t = fresh("insalias")
    spark.range(N.toLong, N + 10L)
      .select(col("id"), lit(9).cast("int").as("grp"),
        concat(lit("new-"), col("id")).as("payload"))
      .createOrReplaceTempView("cat_insalias")
    val st = spark.sql("MERGE INTO graft.db.insalias tgt " +
      "USING cat_insalias u ON tgt.id = u.id " +
      "WHEN NOT MATCHED AND u.grp = 9 AND u.id % 2 = 0 THEN INSERT *")
      .collect().head
    assert(st.getLong(0) == 0 && st.getLong(1) == 5, st.toString)
    assert(MergeStore.read(spark, t).where($"id" >= N).count() == 5)
    assert(MergeStore.read(spark, t)
      .where($"id" >= N && $"id" % 2 =!= 0).count() == 0,
      "condition-false unmatched rows must be filtered, not inserted")
  }

  test("MERGE ... NOT MATCHED BY SOURCE through spark.sql") {
    val t = fresh("bys")
    // Source keeps ids < 1000 (grp bumped); everything else with an odd
    // id is stale and must be deleted by the bySource action.
    base.where($"id" < 1000)
      .select($"id", ($"grp" + 100).cast("int").as("grp"), $"payload")
      .createOrReplaceTempView("cat_bys_src")
    val st = spark.sql("MERGE INTO graft.db.bys t USING cat_bys_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET grp = s.grp " +
      "WHEN NOT MATCHED BY SOURCE AND t.id % 2 = 1 THEN DELETE")
      .collect().head
    assert(st.getLong(0) == 1000)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N - (N - 1000) / 2)
    assert(after.where($"id" >= 1000 && $"id" % 2 === 1).count() == 0)
    assert(after.where($"id" === 5L).select($"grp").as[Int].head() == 105)
    assert(after.where($"id" === 1002L).count() == 1, "condition-false " +
      "unmatched rows must survive")
  }

  test("multi-clause MERGE through spark.sql: CDC-apply + conditional insert") {
    val t = fresh("cdcm")
    base.where($"id" < 300)
      .select($"id", ($"grp" + 100).cast("int").as("grp"), $"payload",
        ($"id" % 3 === 0).as("del"))
      .unionByName(spark.range(N.toLong, N + 10L)
        .select(col("id"), lit(7).cast("int").as("grp"),
          concat(lit("new-"), col("id")).as("payload"),
          (col("id") % 2 === 0).as("del")))
      .createOrReplaceTempView("cat_cdcm_src")
    val st = spark.sql("MERGE INTO graft.db.cdcm t USING cat_cdcm_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND s.del THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED AND NOT s.del THEN INSERT " +
      "(id, grp, payload) VALUES (s.id, s.grp, s.payload)")
      .collect().head
    assert(st.getLong(0) == 200) // 300 matched - 100 del-flagged
    assert(st.getLong(1) == 5)   // 10 unmatched, half del-filtered
    val after = MergeStore.read(spark, t)
    assert(after.count() == N - 100 + 5)
    assert(after.where($"id" < 300 && $"id" % 3 === 0).count() == 0)
    assert(after.where($"id" === 5L).select($"grp").as[Int].head() == 105)
  }

  test("MERGE WITH SCHEMA EVOLUTION through spark.sql: star upsert evolves") {
    val t = fresh("evo")
    base.where($"id" < 10)
      .unionByName(spark.range(N.toLong, N + 5L)
        .select(col("id"), lit(3).cast("int").as("grp"),
          concat(lit("new-"), col("id")).as("payload")))
      .withColumn("score", col("id").cast("double") / 2)
      .createOrReplaceTempView("cat_evo_src")
    val st = spark.sql(
      "MERGE WITH SCHEMA EVOLUTION INTO graft.db.evo t " +
        "USING cat_evo_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect().head
    assert(st.getLong(0) == 10 && st.getLong(1) == 5)
    val after = MergeStore.read(spark, t)
    assert(after.columns.contains("score"), "schema must evolve")
    assert(after.where($"score".isNotNull).count() == 15)
    assert(after.count() == N + 5)
    // The evolved column is queryable through the catalog read too.
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.evo " +
      "WHERE score IS NOT NULL").as[Long].head() == 15)
  }

  test("CREATE TABLE, append into it, CTAS, SHOW TABLES, DROP") {
    System.setProperty("graft.catalog.warehouse", tmpDir("cat-wh"))
    try {
      spark.sql("CREATE TABLE graft.wh.fresh " +
        "(id BIGINT, v STRING) TBLPROPERTIES ('graft.stats.cols'='id')")
      // Empty table reads as empty under the declared schema.
      assert(spark.sql("SELECT * FROM graft.wh.fresh").count() == 0)
      spark.sql("INSERT INTO graft.wh.fresh VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql(
        "SELECT v FROM graft.wh.fresh WHERE id = 2").as[String]
        .head() == "b")
      // The declared stats policy applied to the first append.
      val p = spark.sql("SELECT * FROM graft.wh.fresh")
      assert(MergeStore.statsColumns(
        System.getProperty("graft.catalog.warehouse") + "/wh/fresh")
        .contains("id"))
      assert(p.count() == 2)
      // CTAS.
      spark.sql("CREATE TABLE graft.wh.ct AS " +
        "SELECT id, v FROM graft.wh.fresh WHERE id = 1")
      assert(spark.sql("SELECT count(*) AS n FROM graft.wh.ct")
        .as[Long].head() == 1)
      val shown = spark.sql("SHOW TABLES IN graft.wh")
        .select("tableName").as[String].collect().toSet
      assert(Set("fresh", "ct").subsetOf(shown), s"SHOW TABLES: $shown")
      spark.sql("DROP TABLE graft.wh.ct")
      assert(!spark.catalog.tableExists("graft.wh.ct"))
    } finally System.clearProperty("graft.catalog.warehouse")
  }

  test("CREATE TABLE PARTITIONED BY maps onto the skip index: pruning on the partition column") {
    System.setProperty("graft.catalog.warehouse", tmpDir("cat-part-wh"))
    try {
      spark.sql("CREATE TABLE graft.wh.part (id BIGINT, year INT, " +
        "v STRING) PARTITIONED BY (year)")
      val p = System.getProperty("graft.catalog.warehouse") + "/wh/part"
      // The partition column joined the manifest skip index.
      assert(MergeStore.statsColumns(p).contains("year"))
      // Year-batched inserts (the natural ingest shape) give each file
      // a tight year range — a year probe must prune to that batch.
      Seq(2022, 2023, 2024).foreach { y =>
        spark.sql(s"INSERT INTO graft.wh.part SELECT id, $y, " +
          s"concat('r-', id) FROM range(${(y - 2022) * 100}, " +
          s"${(y - 2022) * 100 + 100})")
      }
      val probe = spark.sql(
        "SELECT id, v FROM graft.wh.part WHERE year = 2023")
      assert(probe.count() == 100)
      val planned = plannedFiles(probe)
      assert(planned.size < MergeStore.liveFiles(p).size,
        s"year probe must prune: planned ${planned.size} of " +
          s"${MergeStore.liveFiles(p).size}")
      // A non-identity transform keeps the loud refusal.
      val e = intercept[Exception] {
        spark.sql("CREATE TABLE graft.wh.bad (id BIGINT, ts TIMESTAMP) " +
          "PARTITIONED BY (days(ts))")
      }
      assert(e.getMessage.contains("not supported"))
    } finally System.clearProperty("graft.catalog.warehouse")
  }

  test("ALTER TABLE: ADD / RENAME / DROP COLUMN route to schema evolution") {
    val t = fresh("alt")
    spark.sql("ALTER TABLE graft.db.alt ADD COLUMN score DOUBLE")
    assert(spark.sql("SELECT score FROM graft.db.alt WHERE id = 1")
      .collect().head.isNullAt(0))
    spark.sql("ALTER TABLE graft.db.alt RENAME COLUMN payload TO body")
    assert(spark.sql("SELECT body FROM graft.db.alt WHERE id = 1")
      .as[String].head() == "v1-1")
    spark.sql("ALTER TABLE graft.db.alt DROP COLUMN grp")
    assert(!spark.sql("SELECT * FROM graft.db.alt").columns
      .contains("grp"))
    assert(MergeStore.read(spark, t).columns.toSet ==
      Set("id", "body", "score"))
  }

  test("MOR-registered tables route SQL UPDATE/DELETE through deletion vectors") {
    // The table's durable graft.mor policy alone decides the route: SET
    // TBLPROPERTIES records it as a metadata commit on the table.
    val t = fresh("morred")
    spark.sql(
      "ALTER TABLE graft.db.morred SET TBLPROPERTIES ('graft.mor'='true')")
    val filesBefore = MergeStore.liveFiles(t).toSet
    assert(spark.sql("DELETE FROM graft.db.morred WHERE id = 77")
      .as[Long].head() == 1)
    assert(MergeStore.liveFiles(t).toSet == filesBefore,
      "MOR delete must not rewrite data files")
    assert(MergeStore.dvMeta(t).nonEmpty)
    val upd = spark.sql(
      "UPDATE graft.db.morred SET payload = 'mor-up' WHERE id = 78")
    assert(upd.as[Long].head() == 1)
    assert(filesBefore.subsetOf(MergeStore.liveFiles(t).toSet),
      "MOR update buries + appends, never rewrites a live file")
    assert(spark.sql(
      "SELECT payload FROM graft.db.morred WHERE id = 78")
      .as[String].head() == "mor-up")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.morred").as[Long].head() ==
      N - 1)
    // A second name for the SAME path routes MOR too: the policy lives
    // in the table, not in the registration.
    GraftCatalog.register("db.morred_alias", t)
    val files2 = MergeStore.liveFiles(t).toSet
    assert(spark.sql("DELETE FROM graft.db.morred_alias WHERE id = 79")
      .as[Long].head() == 1)
    assert(spark.sql("UPDATE graft.db.morred_alias " +
      "SET payload = 'alias-up' WHERE id = 80").as[Long].head() == 1)
    assert(files2.subsetOf(MergeStore.liveFiles(t).toSet),
      "the alias lost the table's MOR routing")
    assert(MergeStore.read(spark, t).where($"id" === 80L)
      .select($"payload").as[String].head() == "alias-up")
    // Without the policy the same statements rewrite files
    // (copy-on-write) and mark no deletion vector.
    val c = fresh("cowred")
    val cowBefore = MergeStore.liveFiles(c).toSet
    assert(spark.sql("DELETE FROM graft.db.cowred WHERE id = 77")
      .as[Long].head() == 1)
    val cowAfterDel = MergeStore.liveFiles(c).toSet
    assert(!cowBefore.subsetOf(cowAfterDel),
      "a COW delete must replace the file holding the row")
    assert(spark.sql("UPDATE graft.db.cowred " +
      "SET payload = 'cow-up' WHERE id = 78").as[Long].head() == 1)
    assert(!cowAfterDel.subsetOf(MergeStore.liveFiles(c).toSet),
      "a COW update must replace the file holding the row")
    assert(MergeStore.dvMeta(c).isEmpty)
    assert(MergeStore.read(spark, c).count() == N - 1)
    // Durable MOR policy at birth: CREATE TABLE with 'graft.mor'
    // carries the flag through ordinary verb commits like a constraint.
    System.setProperty("graft.catalog.warehouse", tmpDir("cat-mor-wh"))
    try {
      spark.sql("CREATE TABLE graft.wh.mord (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.mor'='true', 'graft.stats.cols'='id')")
      spark.sql("INSERT INTO graft.wh.mord VALUES (1, 'a'), (2, 'b')")
      val p = System.getProperty("graft.catalog.warehouse") + "/wh/mord"
      val files = MergeStore.liveFiles(p).toSet
      spark.sql("DELETE FROM graft.wh.mord WHERE id = 1")
      assert(MergeStore.liveFiles(p).toSet == files,
        "created-with-mor table must delete via deletion vectors")
      assert(MergeStore.dvMeta(p).nonEmpty)
      assert(spark.sql("SELECT count(*) AS n FROM graft.wh.mord")
        .as[Long].head() == 1)
    } finally System.clearProperty("graft.catalog.warehouse")
  }

  test("deletion vectors apply through the catalog read") {
    val t = fresh("dv")
    MergeStore.deleteWhereMor(spark, t, $"id" === 42L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.dv WHERE id = 42")
      .as[Long].head() == 0)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.dv")
      .as[Long].head() == N - 1)
  }

  test("UPDATE by SQL == updateWhere: simultaneous SET, NULL predicate rows survive") {
    // grp is NULL on ids % 31 == 0: the WHERE is NULL there, so those
    // rows must survive untouched. SET is simultaneous — payload reads
    // the PRE-update grp although grp is assigned in the same statement.
    val nullable = base.withColumn("grp",
      when($"id" % 31 === 0, lit(null)).otherwise($"grp"))
    val t = tmpDir("cat-upd-null") + "/tbl"
    MergeStore.init(spark, nullable, t, FILES, clusterBy = Seq("id"))
    GraftCatalog.register("db.updnull", t)
    val n = spark.sql("UPDATE graft.db.updnull " +
      "SET payload = concat('u-', grp), grp = grp + 1 WHERE grp % 10 = 3")
      .as[Long].head()
    assert(n == nullable.where($"grp" % 10 === 3).count())
    // Twin table through the Scala verb: bit-identical result.
    val twin = tmpDir("cat-upd-twin") + "/tbl"
    MergeStore.init(spark, nullable, twin, FILES, clusterBy = Seq("id"))
    MergeStore.updateWhere(spark, twin, expr("grp % 10 = 3"),
      Map("payload" -> expr("concat('u-', grp)"), "grp" -> expr("grp + 1")))
    assert(MergeStore.read(spark, t).orderBy("id").collect().toSeq ==
      MergeStore.read(spark, twin).orderBy("id").collect().toSeq)
    val r3 = MergeStore.read(spark, t).where($"id" === 3L)
      .select($"grp", $"payload").collect().head
    assert(r3.getInt(0) == 4 && r3.getString(1) == "u-3")
    val r0 = MergeStore.read(spark, t).where($"id" === 0L)
      .select($"grp", $"payload").collect().head
    assert(r0.isNullAt(0) && r0.getString(1) == "v1-0",
      "a NULL-predicate row must survive unchanged")
  }

  test("sole WHEN MATCHED THEN DELETE through spark.sql removes the key set") {
    val t = fresh("mdel")
    spark.range(100L, 105L).select(col("id"))
      .createOrReplaceTempView("cat_doomed")
    val del = spark.sql("MERGE INTO graft.db.mdel t USING cat_doomed s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    assert(del.columns.toSeq == Seq("rows_deleted"))
    assert(del.as[Long].head() == 5)
    assert(MergeStore.read(spark, t).count() == N - 5)
    assert(MergeStore.read(spark, t).where($"id".between(100, 104))
      .count() == 0)
  }

  test("single-action MERGE keeps SQL semantics: insert-only and update-only") {
    val t = fresh("single")
    // Source overlaps the table on 100..104 and extends past N by 3.
    spark.range(100L, 105L)
      .select(col("id"), lit(1).cast("int").as("grp"),
        concat(lit("src-"), col("id")).as("payload"))
      .union(spark.range(N.toLong, N + 3L)
        .select(col("id"), lit(2).cast("int").as("grp"),
          concat(lit("src-"), col("id")).as("payload")))
      .createOrReplaceTempView("cat_single_src")
    // INSERT-only: matched rows must stay UNTOUCHED (a bare upsert
    // would overwrite 100..104 — the silent-wrong-data shape).
    val ins = spark.sql("MERGE INTO graft.db.single t " +
      "USING cat_single_src s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *").collect().head
    assert(ins.getLong(0) == 0 && ins.getLong(1) == 3, ins.toString)
    val afterIns = MergeStore.read(spark, t)
    assert(afterIns.count() == N + 3)
    assert(afterIns.where($"id" === 102L).select($"payload")
      .as[String].head() == "v1-102", "insert-only touched a matched row")
    assert(afterIns.where($"id" === N.toLong).select($"payload")
      .as[String].head() == s"src-$N")
    // UPDATE-only: unmatched source rows must be IGNORED — shrink the
    // table back so the source has genuinely unmatched rows again.
    MergeStore.deleteWhere(spark, t, col("id") >= N.toLong)
    val upd = spark.sql("MERGE INTO graft.db.single t " +
      "USING cat_single_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET *").collect().head
    assert(upd.getLong(0) == 5 && upd.getLong(1) == 0, upd.toString)
    val afterUpd = MergeStore.read(spark, t)
    assert(afterUpd.count() == N, "update-only inserted unmatched rows")
    assert(afterUpd.where($"id" === 102L).select($"payload")
      .as[String].head() == "src-102")
    assert(afterUpd.where($"id" >= N.toLong).count() == 0)
  }

  test("struct columns: nested-field references are field access, not qualifiers") {
    val t = tmpDir("cat-struct") + "/tbl"
    val df = spark.range(100L).select(col("id"),
      struct((col("id") % 5).cast("int").as("kind"),
        lit("m").as("tag")).as("meta"),
      concat(lit("v-"), col("id")).as("payload"))
    MergeStore.init(spark, df, t, 4, clusterBy = Seq("id"))
    GraftCatalog.register("db.nested", t)
    // Bare struct path in WHERE and in a SET value.
    spark.sql("UPDATE graft.db.nested " +
      "SET payload = concat('k-', meta.kind) WHERE meta.kind = 3")
    assert(MergeStore.read(spark, t).where($"id" === 3L)
      .select($"payload").as[String].head() == "k-3")
    // Alias-qualified struct path (3-part name): e.meta.kind.
    spark.sql("DELETE FROM graft.db.nested e WHERE e.meta.kind = 4")
    assert(MergeStore.read(spark, t).count() == 80)
    assert(MergeStore.read(spark, t)
      .where($"meta.kind" === 4).count() == 0)
    // MERGE conditions traverse struct fields on both sides.
    MergeStore.read(spark, t).limit(0).unionByName(
      spark.range(0L, 100L, 5L).select(col("id"),
        struct(lit(9).cast("int").as("kind"), lit("s").as("tag"))
          .as("meta"),
        lit("src").as("payload"))).createOrReplaceTempView("cat_struct_src")
    val st = spark.sql("MERGE INTO graft.db.nested t " +
      "USING cat_struct_src s ON t.id = s.id " +
      "WHEN MATCHED AND s.meta.kind > t.meta.kind THEN " +
      "UPDATE SET payload = concat(t.payload, '!'), meta = s.meta")
      .collect().head
    assert(st.getLong(0) ==
      MergeStore.read(spark, t).where($"id" % 5 === 0).count())
    assert(MergeStore.read(spark, t).where($"id" === 10L)
      .select($"meta.kind").as[Int].head() == 9)
    assert(MergeStore.read(spark, t).where($"id" === 10L)
      .select($"payload").as[String].head() == "v-10!")
  }

  test("refusals are loud: unknown table, unsupported shapes, constraints still gate") {
    val t = fresh("refuse")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("DELETE FROM graft.db.nope WHERE id = 1")
    }
    val evo = intercept[Exception] { // evolution is star-upsert-only
      spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.db.refuse t " +
        "USING graft.db.refuse s ON t.id = s.id " +
        "WHEN MATCHED AND s.grp = 1 THEN UPDATE SET *")
    }
    assert(evo.getMessage.contains("canonical star upsert only"),
      evo.getMessage)
    // The dispatched verb's own constraint gate still fires from SQL.
    MergeStore.addConstraint(spark, t, "grp_pos", "grp >= 0")
    intercept[IllegalStateException] {
      spark.sql("UPDATE graft.db.refuse SET grp = -1 WHERE id = 5")
    }
    assert(MergeStore.read(spark, t).where($"grp" < 0).count() == 0)
    // payload is NOT NULL in the table schema: the analyzer guards a
    // MERGE assignment of a nullable value, and the guard still refuses
    // a NULL at run time inside the verb's plan.
    spark.range(6L, 8L).select(col("id"), lit(null).cast("string")
      .as("payload")).createOrReplaceTempView("cat_null_src")
    val nm = intercept[Exception] {
      spark.sql("MERGE INTO graft.db.refuse t USING cat_null_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET payload = s.payload")
    }
    assert(nm.getMessage.contains("NOT NULL column"), nm.getMessage)
    assert(MergeStore.read(spark, t).where($"payload".isNull).count() == 0)
    // The same assignment through UPDATE is refused the same way.
    val nu = intercept[Exception] {
      spark.sql("UPDATE graft.db.refuse SET payload = CAST(NULL AS STRING) " +
        "WHERE id = 5")
    }
    assert(nu.getMessage.contains("NOT NULL column"), nu.getMessage)
    assert(MergeStore.read(spark, t).where($"payload".isNull).count() == 0)
  }
}
