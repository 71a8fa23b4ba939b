package graft

import org.apache.spark.sql.functions._

import graft.store.{GraftCatalog, MergeStore}
import graft.store.MergeStore.{InsertClause, MatchedDelete, MatchedUpdate}

/** Conditional + column-list MERGE actions — the Delta/Iceberg
  * `WHEN MATCHED AND cond THEN UPDATE SET c = e` family. The Scala verb
  * ([[MergeStore.mergeConditional]]) and its SQL spelling must agree
  * with the replayed relational algebra: condition FALSE/NULL keeps the
  * target row and discards the source row; unassigned columns keep
  * TARGET values; assigned values cast to the table's column types;
  * INSERT column lists NULL-fill; and the verb rebases/recomputes under
  * OCC exactly like plain merge.
  */
class ConditionalMergeSpec extends SparkSpec {
  import spark.implicits._

  private val N = 6000

  // ts drives the classic late-arrival condition: only a NEWER source
  // row may overwrite. ts NULL on ids % 31 == 0 exercises NULL-keeps.
  private def base = spark.range(N.toLong)
    .select(col("id"),
      when(col("id") % 31 === 0, lit(null))
        .otherwise(col("id") % 100).cast("long").as("ts"),
      (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def fresh(tag: String): String = {
    val t = tmpDir(tag) + "/tbl"
    MergeStore.init(spark, base, t, 8, clusterBy = Seq("id"))
    t
  }

  /** Register `t` in the graft catalog; returns the name SQL uses. */
  private def sqlName(t: String, name: String): String = {
    GraftCatalog.register(s"cm.$name", t)
    s"graft.cm.$name"
  }

  /** `WHEN NOT MATCHED THEN INSERT *`. */
  private val insertAll = Seq(InsertClause(None, None))

  // Source: ids 0..199 with ts = 50 (newer than target ts for ids whose
  // id % 100 < 50, older otherwise, NULL-vs-50 for % 31 ids) plus 10
  // genuinely new keys past N.
  private def source = spark.range(200L)
    .select(col("id"), lit(50L).as("ts"), lit(7).cast("int").as("grp"),
      concat(lit("src-"), col("id")).as("payload"))
    .union(spark.range(N.toLong, N + 10L)
      .select(col("id"), lit(50L).as("ts"), lit(8).cast("int").as("grp"),
        concat(lit("new-"), col("id")).as("payload")))

  test("conditional SET *: only strictly-newer source rows win; NULL condition keeps") {
    val t = fresh("cm-star")
    val st = MergeStore.mergeConditional(spark, source, t, Seq("id"),
      matchedActions = Seq(MatchedUpdate(Some(expr("s.ts > t.ts")), None)),
      insertClauses = insertAll)
    // Matched = 200; condition true only where target ts < 50 (NULL ts
    // rows fail the condition — kept).
    val expectedUpdated = base.where($"id" < 200 && $"ts" < 50).count()
    assert(st.rowsUpdated == expectedUpdated, s"$st vs $expectedUpdated")
    assert(st.rowsInserted == 10)
    val after = MergeStore.read(spark, t).cache()
    try {
      assert(after.count() == N + 10)
      // A strictly-older target row took the source whole.
      val won = base.where($"id" < 200 && $"ts" < 50)
        .select($"id").as[Long].collect().toSet
      assert(after.where($"id".isin(won.toSeq: _*))
        .where(!$"payload".startsWith("src-")).count() == 0)
      // NULL-ts and newer/equal targets survive UNCHANGED.
      assert(after.where($"id" < 200 && !$"id".isin(won.toSeq: _*))
        .where(!$"payload".startsWith("v1-")).count() == 0)
      assert(after.where($"id" === 31L).select($"ts").collect()
        .head.isNullAt(0), "NULL-condition row must keep its target ts")
      // Inserts landed whole.
      assert(after.where($"id" >= N.toLong)
        .where(!$"payload".startsWith("new-")).count() == 0)
    } finally after.unpersist()
  }

  test("column-list SET: unassigned columns keep target; values cast to table types") {
    val t = fresh("cm-cols")
    val st = MergeStore.mergeConditional(spark, source, t, Seq("id"),
      matchedActions = Seq(MatchedUpdate(Some(expr("s.ts > t.ts")),
        Some(Map(
          "payload" -> expr("concat(t.payload, '+', s.payload)"),
          // grp is INT in the table; the expression yields BIGINT — the
          // verb must store-assign (cast) it back to INT.
          "grp" -> expr("t.grp + s.grp"))))),
      insertClauses = Nil)
    assert(st.rowsInserted == 0)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N, "no insert clause must not add rows")
    assert(after.schema("grp").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // id=1: target ts=1 < 50 → updated; grp = (1 % 97) + 7; ts keeps
    // the TARGET's value (unassigned).
    val r = after.where($"id" === 1L)
      .select($"ts", $"grp", $"payload").collect().head
    assert(r.getLong(0) == 1L, "unassigned ts must keep the target value")
    assert(r.getInt(1) == 8)
    assert(r.getString(2) == "v1-1+src-1")
    // id=61 (61 % 100 = 61 >= 50): condition false → untouched.
    assert(after.where($"id" === 61L).select($"payload")
      .as[String].head() == "v1-61")
  }

  test("insertValues subset: unassigned insert columns are NULL, keys land") {
    val t = fresh("cm-insvals")
    val st = MergeStore.mergeConditional(spark, source, t, Seq("id"),
      // touch nothing matched
      matchedActions = Seq(MatchedUpdate(Some(lit(false)), None)),
      insertClauses = Seq(InsertClause(None, Some(Map(
        "id" -> expr("s.id"),
        "payload" -> expr("upper(s.payload)"))))))
    assert(st.rowsUpdated == 0 && st.rowsInserted == 10)
    val ins = MergeStore.read(spark, t).where($"id" >= N.toLong)
    assert(ins.count() == 10)
    val r = ins.where($"id" === N.toLong)
      .select($"ts", $"grp", $"payload").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getString(2) == s"NEW-$N")
    // Matched rows untouched under the always-false condition.
    assert(MergeStore.read(spark, t).where($"id" < 200)
      .where(!$"payload".startsWith("v1-")).count() == 0)
  }

  test("SQL spelling: WHEN MATCHED AND cond THEN UPDATE SET c = e + INSERT (cols) VALUES") {
    val t = fresh("cm-sql")
    val events = sqlName(t, "sql")
    source.createOrReplaceTempView("cm_src")
    val st = spark.sql(
      s"MERGE INTO $events tgt USING cm_src src ON tgt.id = src.id " +
        "WHEN MATCHED AND src.ts > tgt.ts THEN " +
        "UPDATE SET payload = concat(tgt.payload, '+', src.payload), " +
        "ts = src.ts " +
        "WHEN NOT MATCHED THEN INSERT (id, ts, payload) " +
        "VALUES (src.id, ts, lower(payload))").collect().head
    val expectedUpdated = base.where($"id" < 200 && $"ts" < 50).count()
    assert(st.getLong(0) == expectedUpdated && st.getLong(1) == 10)
    val after = MergeStore.read(spark, t)
    // Twin through the Scala verb on a second table: bit-identical.
    val twin = tmpDir("cm-sql-twin") + "/tbl"
    MergeStore.init(spark, base, twin, 8, clusterBy = Seq("id"))
    MergeStore.mergeConditional(spark, source, twin, Seq("id"),
      matchedActions = Seq(MatchedUpdate(Some(expr("s.ts > t.ts")),
        Some(Map(
          "payload" -> expr("concat(t.payload, '+', s.payload)"),
          "ts" -> expr("s.ts"))))),
      insertClauses = Seq(InsertClause(None, Some(Map(
        "id" -> expr("s.id"), "ts" -> expr("s.ts"),
        "payload" -> expr("lower(s.payload)"))))))
    assert(after.orderBy("id").collect().toSeq ==
      MergeStore.read(spark, twin).orderBy("id").collect().toSeq)
  }

  test("SQL conditional UPDATE SET * ; update-only conditional form") {
    val t = fresh("cm-sqlstar")
    val events = sqlName(t, "sqlstar")
    source.createOrReplaceTempView("cm_src2")
    val st = spark.sql(
      s"MERGE INTO $events t USING cm_src2 s ON t.id = s.id " +
        "WHEN MATCHED AND s.ts > t.ts THEN UPDATE SET *").collect().head
    assert(st.getLong(1) == 0, "update-only must not insert")
    val after = MergeStore.read(spark, t)
    assert(after.count() == N)
    assert(after.where($"id" === 1L).select($"payload")
      .as[String].head() == "src-1")
    assert(after.where($"id" === 61L).select($"payload")
      .as[String].head() == "v1-61")
  }

  test("OCC: a key-disjoint rival rebases a conditional merge; overlap recomputes") {
    val t = fresh("cm-occ")
    // Rival merges low keys, landing v1.
    MergeStore.merge(spark,
      spark.range(10L, 20L).select(col("id"), lit(999L).as("ts"),
        lit(1).cast("int").as("grp"),
        concat(lit("riv-"), col("id")).as("payload")),
      t, Seq("id"))
    // Conditional merge pinned at v0 over a FAR key range: disjoint
    // files → rebase, zero recompute.
    val far = spark.range(5000L, 5010L)
      .select(col("id"), lit(50L).as("ts"), lit(2).cast("int").as("grp"),
        concat(lit("cond-"), col("id")).as("payload"))
    val newer = Seq(MatchedUpdate(Some(expr("s.ts > t.ts")), None))
    val st = MergeStore.mergeConditional(spark, far, t, Seq("id"),
      matchedActions = newer, insertClauses = insertAll,
      snapshotVersion = Some(0))
    assert(st.rebases == 1 && st.recomputes == 0, s"$st")
    // Both rivals' effects visible.
    assert(MergeStore.read(spark, t)
      .where($"payload".startsWith("riv-")).count() == 10)
    assert(MergeStore.read(spark, t).where($"id" === 5001L)
      .select($"payload").as[String].head() == "cond-5001")
    // Overlapping pin recomputes with a retry (same key range as rival).
    val clash = spark.range(10L, 20L)
      .select(col("id"), lit(1000L).as("ts"), lit(3).cast("int").as("grp"),
        concat(lit("clash-"), col("id")).as("payload"))
    val st2 = MergeStore.mergeConditional(spark, clash, t, Seq("id"),
      matchedActions = newer, insertClauses = insertAll,
      snapshotVersion = Some(0), maxRetries = 2)
    assert(st2.recomputes >= 1, s"$st2")
    assert(MergeStore.read(spark, t).where($"id" === 11L)
      .select($"payload").as[String].head() == "clash-11",
      "recomputed conditional merge must see the rival's ts=999 and " +
        "still win with ts=1000")
  }

  test("bySource-ONLY statement: matched rows stay untouched (SQL said nothing about them)") {
    // No WHEN MATCHED clause at all: the statement's scope is only the
    // unmatched target rows — matched rows must survive byte-identical
    // even though their keys appear in the source.
    val t = fresh("cm-bys-only")
    source.createOrReplaceTempView("cm_bys_only_src")
    val st = spark.sql(s"MERGE INTO ${sqlName(t, "bys_only")} t " +
      "USING cm_bys_only_src s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE AND t.grp >= 90 THEN DELETE")
      .collect().head
    assert(st.getLong(0) == 0 && st.getLong(1) == 0, st.toString)
    // Exactly the condition-true unmatched rows are gone.
    val expectedDeleted = base.where($"id" >= 200 && $"grp" >= 90).count()
    val after = MergeStore.read(spark, t)
    assert(after.count() == N - expectedDeleted)
    assert(after.where($"grp" >= 90 && $"id" >= 200).count() == 0)
    // Matched rows (ids < 200) carry UNCHANGED — still v1 payloads.
    assert(after.where($"id" < 200 && !$"payload".startsWith("v1-"))
      .count() == 0)
    assert(after.where($"id" < 200).count() == 200)
  }

  test("NOT MATCHED BY SOURCE: conditional delete and update, via Scala and SQL") {
    val t = fresh("cm-bys")
    // Source covers ids 0..199 (+10 new); bySource DELETE removes
    // unmatched rows with grp >= 90, bySource semantics must leave
    // matched rows and condition-false unmatched rows alone.
    val st = MergeStore.mergeConditional(spark, source, t, Seq("id"),
      matchedActions = Seq(MatchedUpdate(Some(expr("s.ts > t.ts")), None)),
      insertClauses = Nil,
      notMatchedBySource = Some(MergeStore.BySourceAction(
        Some(expr("grp >= 90")), None)))
    val expectedDeleted =
      base.where($"id" >= 200 && $"grp" >= 90).count()
    assert(st.rowsDeleted == expectedDeleted, s"$st vs $expectedDeleted")
    val after = MergeStore.read(spark, t)
    assert(after.count() == N - expectedDeleted)
    assert(after.where($"id" >= 200 && $"grp" >= 90).count() == 0)
    // Matched rows with grp >= 90 SURVIVE (bySource never touches them).
    assert(after.where($"id" < 200 && $"grp" >= 90).count() ==
      base.where($"id" < 200 && $"grp" >= 90).count())
    // bySource UPDATE via SQL: unmatched rows tagged, matched rows
    // upserted, twin through the Scala verb bit-identical.
    val t2 = fresh("cm-bys-sql")
    val events = sqlName(t2, "bys_sql")
    source.createOrReplaceTempView("cm_bys_src")
    val st2 = spark.sql(
      s"MERGE INTO $events t USING cm_bys_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
        "WHEN NOT MATCHED BY SOURCE AND t.grp < 3 THEN " +
        "UPDATE SET payload = concat('stale-', t.payload)").collect().head
    // Nothing inserted, nothing deleted: the row count holds.
    assert(st2.getLong(1) == 0)
    assert(MergeStore.read(spark, t2).count() == N)
    val twin = tmpDir("cm-bys-twin") + "/tbl"
    MergeStore.init(spark, base, twin, 8, clusterBy = Seq("id"))
    MergeStore.mergeConditional(spark, source, twin, Seq("id"),
      matchedActions = Seq(MatchedUpdate(None,
        Some(Map("payload" -> expr("s.payload"))))),
      insertClauses = Nil,
      notMatchedBySource = Some(MergeStore.BySourceAction(
        Some(expr("grp < 3")),
        Some(Map("payload" -> expr("concat('stale-', payload)"))))))
    assert(MergeStore.read(spark, t2).orderBy("id").collect().toSeq ==
      MergeStore.read(spark, twin).orderBy("id").collect().toSeq)
    assert(MergeStore.read(spark, t2).where($"id" === 291L) // 291 % 97 == 0
      .select($"payload").as[String].head() == "stale-v1-291")
    assert(MergeStore.read(spark, t2).where($"id" === 100L)
      .select($"payload").as[String].head() == "src-100")
    // A source-side reference inside a bySource expression refuses.
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO $events t USING cm_bys_src s ON t.id = s.id " +
        "WHEN NOT MATCHED BY SOURCE AND s.grp = 1 THEN DELETE")
    }
    assert(e.getMessage.contains("`s`.`grp`"), e.getMessage)
  }

  test("stats counts fold into one tagged job: driver collects inside the verb stay bounded") {
    // The r13 shape ran a SEPARATE count job per stat arm (matched,
    // inserted, each bySource action), each re-reading the affected
    // subset. Folded, the verb's driver-side collects are exactly:
    // key-bounds probe, matched-affected files, bySource-affected
    // files, the ONE tagged counts job, and the fresh-stats lines —
    // independent of how many stat arms the statement carries.
    val collects = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.exists(si =>
            (si.name.startsWith("collect") || si.name.startsWith("count")) &&
              si.details.contains("mergeConditionalOnce")))
          collects.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // Three stat arms at once: matched updates + inserts + bySource.
      MergeStore.mergeConditional(spark, source, fresh("cm-jobs"),
        Seq("id"),
        matchedActions = Seq(MatchedUpdate(Some(expr("s.ts > t.ts")), None)),
        insertClauses = insertAll,
        notMatchedBySource = Some(MergeStore.BySourceAction(
          Some(expr("grp = 96")), None)))
      // Listener bus is async — drain it deterministically before
      // asserting (no fixed sleep: slow boxes would flake either way).
      org.apache.spark.graftshim.TestListenerBus.drain(spark.sparkContext)
      info(s"driver collects inside the verb: ${collects.get()}")
      // Measured baseline on this shape: the probes/stats collects run
      // on broadcast worker threads (different call-site details), so
      // the filter sees essentially the ONE tagged counts job. Three
      // per-arm count jobs coming back would trip this immediately.
      assert(collects.get() <= 3,
        s"expected the single folded counts job (<= 3 matching " +
          s"collects); got ${collects.get()} — a per-arm count job is back")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("multi-action matched clauses: the CDC-apply statement, Scala and SQL agree") {
    // WHEN MATCHED AND s.del THEN DELETE / WHEN MATCHED THEN UPDATE
    // SET * / WHEN NOT MATCHED AND NOT s.del THEN INSERT — the
    // canonical Delta CDC-apply form, via the Scala verb and as one
    // SQL statement; both must replay to identical tables.
    val cdcSrc = source.withColumn("del", col("id") % 10 === 0)
    val t = fresh("cm-cdc-scala")
    val st = MergeStore.mergeConditional(spark, cdcSrc, t, Seq("id"),
      matchedActions = Seq(
        MatchedDelete(Some(expr("s.del"))),
        MatchedUpdate(None, None)),
      insertClauses = Seq(InsertClause(Some(expr("not s.del")), None)))
    // Matched ids 0..199: 20 del-flagged delete, 180 update; unmatched
    // ids N..N+9: the one del-flagged row (N) is filtered, 9 insert.
    assert(st.rowsDeleted == 20, st.toString)
    assert(st.rowsUpdated == 180, st.toString)
    assert(st.rowsInserted == 9, st.toString)
    val t2 = fresh("cm-cdc-sql")
    cdcSrc.createOrReplaceTempView("cm_cdc_src")
    val sqlStats = spark.sql(
      s"MERGE INTO ${sqlName(t2, "cdc_sql")} t USING cm_cdc_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED AND s.del THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED AND NOT s.del THEN INSERT " +
        "(id, ts, grp, payload) VALUES (s.id, s.ts, s.grp, s.payload)")
      .collect().head
    assert(sqlStats.getLong(0) == 180 && sqlStats.getLong(1) == 9)
    assert(MergeStore.read(spark, t).orderBy("id").collect().toSeq ==
      MergeStore.read(spark, t2).orderBy("id").collect().toSeq)
    val after = MergeStore.read(spark, t)
    assert(after.count() == N - 20 + 9)
    assert(after.where($"id" % 10 === 0 && $"id" < 200).count() == 0)
    assert(after.where($"id" === 151L).select($"payload").as[String]
      .head() == "src-151")
  }

  test("matched clause order decides: first true condition wins; all-but-last must be conditioned") {
    val t = fresh("cm-order")
    val st = MergeStore.mergeConditional(spark, source, t, Seq("id"),
      matchedActions = Seq(
        MatchedUpdate(Some(expr("s.id < 100")),
          Some(Map("payload" -> expr("'first'")))),
        MatchedDelete(None)),
      insertClauses = Nil)
    assert(st.rowsUpdated == 100 && st.rowsDeleted == 100, st.toString)
    val after = MergeStore.read(spark, t)
    assert(after.where($"id" < 100 && $"payload" =!= "first").count() == 0)
    assert(after.where($"id" >= 100 && $"id" < 200).count() == 0)
    assert(after.count() == N - 100)
    // An unconditioned clause anywhere but last refuses loudly.
    val e = intercept[IllegalArgumentException] {
      MergeStore.mergeConditional(spark, source, t, Seq("id"),
        matchedActions = Seq(MatchedDelete(None), MatchedUpdate(None, None)),
        insertClauses = insertAll)
    }
    assert(e.getMessage.contains("unreachable"))
  }

  test("conditional INSERT inserts only passing unmatched rows; refusals: extra INSERT clause, target reference in INSERT values, foreign qualifier") {
    val t = fresh("cm-refuse")
    val events = sqlName(t, "refuse")
    source.createOrReplaceTempView("cm_src3")
    // WHEN NOT MATCHED AND cond THEN INSERT: source-only condition
    // filters the unmatched rows (ids N..N+9 are the unmatched ones;
    // only the even ones land).
    val r1 = spark.sql(
      s"MERGE INTO $events t USING cm_src3 s ON t.id = s.id " +
        "WHEN NOT MATCHED AND s.id % 2 = 0 THEN INSERT *").collect().head
    assert(r1.getLong(1) == 5)
    assert(MergeStore.read(spark, t).where($"id" >= N.toLong).count() == 5)
    assert(MergeStore.read(spark, t)
      .where($"id" >= N.toLong && $"id" % 2 =!= 0).count() == 0)
    // Multiple NOT MATCHED clauses on a fresh table: first true
    // condition claims the row — even new ids take the column-list
    // clause (grp = 100), the rest fall through to INSERT * (grp = 8).
    val t2 = fresh("cm-refuse2")
    val r2 = spark.sql(
      s"MERGE INTO ${sqlName(t2, "refuse2")} t USING cm_src3 s " +
        "ON t.id = s.id " +
        "WHEN NOT MATCHED AND s.id % 2 = 0 THEN INSERT " +
        "(id, ts, grp, payload) VALUES (s.id, s.ts, 100, s.payload) " +
        "WHEN NOT MATCHED THEN INSERT *").collect().head
    assert(r2.getLong(1) == 10)
    val newRows = MergeStore.read(spark, t2).where($"id" >= N.toLong)
    assert(newRows.where($"id" % 2 === 0 && $"grp" =!= 100).count() == 0)
    assert(newRows.where($"id" % 2 =!= 0 && $"grp" =!= 8).count() == 0)
    // An unconditioned insert clause anywhere but last refuses loudly —
    // Spark's parser enforces it for SQL; the verb enforces the same
    // contract for the Scala API.
    val e1 = intercept[Exception] {
      spark.sql(s"MERGE INTO $events t USING cm_src3 s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED AND s.grp = 8 THEN INSERT *")
    }
    assert(e1.getMessage.toLowerCase.contains("condition"))
    val e1b = intercept[IllegalArgumentException] {
      MergeStore.mergeConditional(spark, source, t, Seq("id"),
        matchedActions = Nil,
        insertClauses = Seq(
          InsertClause(None, None),
          InsertClause(Some(expr("grp = 8")), None)))
    }
    assert(e1b.getMessage.contains("unreachable"))
    // Scope refusals are the analyzer's: a target column in INSERT
    // values, or a qualifier naming neither side, does not resolve.
    val e2 = intercept[Exception] {
      spark.sql(s"MERGE INTO $events t USING cm_src3 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
        "WHEN NOT MATCHED THEN INSERT (id, payload) " +
        "VALUES (s.id, t.payload)")
    }
    assert(e2.getMessage.contains("`t`.`payload`"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"MERGE INTO $events t USING cm_src3 s ON t.id = s.id " +
        "WHEN MATCHED AND x.ts > t.ts THEN UPDATE SET *")
    }
    assert(e3.getMessage.contains("`x`.`ts`"), e3.getMessage)
    // ON-clause refusal names the offending conjunct.
    val e4 = intercept[Exception] {
      spark.sql(s"MERGE INTO $events t USING cm_src3 s ON t.id = s.id " +
        "AND t.ts < s.ts WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e4.getMessage.contains("offending conjunct") &&
      e4.getMessage.contains("WHEN MATCHED AND"))
  }
}
