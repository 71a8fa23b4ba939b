package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalView
import graft.operators.IncrementalView.IvmSpec
import graft.store.MergeStore

/** Incremental view maintenance contract: a materialized COUNT/SUM view
  * advanced purely from the pre-image-bearing change feed must equal a
  * from-scratch re-aggregation after EVERY commit — including group
  * birth, group death, measure-moving updates, group-moving updates,
  * compactions (no-op deltas), and replica sync. Exactness rides the
  * DECIMAL(30,4) accumulator, so full-vs-incremental can never diverge
  * by float association.
  */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IvmSpec(groupBy = Seq("grp"),
    sums = Seq("amount" -> "sum_amount"))

  private def rows(n: Long): DataFrame = spark.range(n)
    .select(col("id"), (col("id") % 7).cast("int").as("grp"),
      (col("id") * lit(1.25)).as("amount"))

  private def sorted(df: DataFrame): Seq[(Int, Long, java.math.BigDecimal)] =
    df.select(col("grp").cast("int"), col("n_rows"),
        col("sum_amount").cast("decimal(30,4)"))
      .as[(Int, Long, java.math.BigDecimal)].collect().sortBy(_._1).toSeq

  private def assertViewCurrent(t: String, view: String): Unit = {
    val got = sorted(MergeStore.read(spark, view))
    val want = sorted(IncrementalView.fullState(MergeStore.read(spark, t), spec))
    assert(got == want)
  }

  test("refresh chain equals full recompute across merge, delete, compact") {
    val t = tmpDir("ivm") + "/tbl"
    val view = tmpDir("ivm") + "/view"
    MergeStore.init(spark, rows(2000), t, numFiles = 8, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, spec)
    assertViewCurrent(t, view)

    // v1: updates that MOVE rows between groups and change the measure.
    val upd = rows(2000).where(col("id") % 13 === 0)
      .withColumn("grp", lit(3))
      .withColumn("amount", col("amount") + lit(10.5))
    MergeStore.merge(spark, upd, t, pk = Seq("id"))
    val s1 = IncrementalView.refresh(spark, t, view, spec)
    assert(s1.fromVersion == 0 && s1.toVersion == 1)
    assertViewCurrent(t, view)

    // v2: inserts into a brand-new group (group birth).
    val births = spark.range(2000L, 2100L)
      .select(col("id"), lit(99).cast("int").as("grp"),
        lit(2.5).as("amount"))
    MergeStore.merge(spark, births, t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, spec)
    assertViewCurrent(t, view)
    assert(MergeStore.read(spark, view).where(col("grp") === 99).count() == 1)

    // v3: delete the whole new group (group death — view row must GO,
    // not linger at zero).
    MergeStore.delete(spark, t,
      spark.range(2000L, 2100L).select(col("id")), pk = Seq("id"))
    val s3 = IncrementalView.refresh(spark, t, view, spec)
    assert(s3.groupsDeleted == 1)
    assertViewCurrent(t, view)
    assert(MergeStore.read(spark, view).where(col("grp") === 99).count() == 0)

    // v4: compaction — a pure layout rewrite nets a ZERO delta; refresh
    // must advance the high-water mark without touching any group.
    MergeStore.compact(spark, t, targetFiles = 4, clusterBy = Seq("id"))
    val s4 = IncrementalView.refresh(spark, t, view, spec)
    assert(s4.groupsUpserted == 0 && s4.groupsDeleted == 0)
    assert(IncrementalView.appliedVersion(view) ==
      MergeStore.version(t).get)
    assertViewCurrent(t, view)

    // Already-current refresh is a no-op.
    val s5 = IncrementalView.refresh(spark, t, view, spec)
    assert(s5.fromVersion == s5.toVersion)
  }

  test("a refresh is ONE view commit carrying the applied marker (no crash window)") {
    val t = tmpDir("ivm-atomic") + "/tbl"
    val view = tmpDir("ivm-atomic") + "/view"
    MergeStore.init(spark, rows(1000), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, spec)
    // initView's marker rides the init commit's manifest metadata
    // (next to the view's own data-skipping stats lines).
    assert(MergeStore.userManifestMeta(view)
      == Map("ivm.applied" -> "0"))
    // A commit that both updates groups AND kills one: the old path ran
    // merge, delete, and a marker write as three steps; now the view
    // must advance by exactly ONE version per refresh — merged groups,
    // emptied-group deletes, and the marker inseparable behind one CAS.
    MergeStore.merge(spark,
      spark.range(1000L, 1010L).select(col("id"),
        lit(55).cast("int").as("grp"), lit(1.0).as("amount")),
      t, pk = Seq("id")) // v1: group 55 born
    val vBefore = MergeStore.version(view).get
    IncrementalView.refresh(spark, t, view, spec)
    assert(MergeStore.version(view).get == vBefore + 1)
    assert(MergeStore.userManifestMeta(view)
      == Map("ivm.applied" -> "1"))
    assertViewCurrent(t, view)
    // Group death + group updates in one span: still exactly one commit.
    MergeStore.delete(spark, t,
      spark.range(1000L, 1010L).select(col("id")), pk = Seq("id")) // v2
    IncrementalView.refresh(spark, t, view, spec)
    assert(MergeStore.version(view).get == vBefore + 2)
    assert(IncrementalView.appliedVersion(view) == 2)
    assert(MergeStore.read(spark, view).where(col("grp") === 55).count() == 0)
    assertViewCurrent(t, view)
    // A compaction of the VIEW carries no marker; appliedVersion walks
    // back past it to the newest marked manifest.
    MergeStore.compact(spark, view, targetFiles = 2, clusterBy = Seq("grp"))
    assert(IncrementalView.appliedVersion(view) == 2)
  }

  test("refresh over a vacuumed source span raises the named retention error") {
    val t = tmpDir("ivm-vac") + "/tbl"
    val view = tmpDir("ivm-vac") + "/view"
    MergeStore.init(spark, rows(500), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, spec) // applied = 0
    MergeStore.merge(spark,
      rows(500).where(col("id") % 9 === 0)
        .withColumn("amount", col("amount") + lit(1.0)),
      t, pk = Seq("id")) // v1
    MergeStore.merge(spark,
      rows(500).where(col("id") % 11 === 0)
        .withColumn("amount", col("amount") + lit(2.0)),
      t, pk = Seq("id")) // v2
    MergeStore.vacuum(t, retainVersions = 1, graceMillis = 0) // only v2 left
    val e = intercept[IllegalStateException] {
      IncrementalView.refresh(spark, t, view, spec)
    }
    assert(e.getMessage.contains("vacuumed") &&
      e.getMessage.contains("retainVersions"))
  }

  test("refresh after a multi-commit gap applies the NET span delta once") {
    val t = tmpDir("ivm-gap") + "/tbl"
    val view = tmpDir("ivm-gap") + "/view"
    MergeStore.init(spark, rows(500), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, spec)
    // Three commits, ONE refresh: update then delete the same keys —
    // the span nets to a plain delete; double-counting the intermediate
    // update would corrupt the sums.
    val k = rows(500).where(col("id") % 10 === 0)
    MergeStore.merge(spark, k.withColumn("amount", col("amount") * 2), t,
      pk = Seq("id"))
    MergeStore.delete(spark, t, k.select(col("id")), pk = Seq("id"))
    MergeStore.merge(spark,
      spark.range(500L, 520L).select(col("id"),
        lit(1).cast("int").as("grp"), lit(4.0).as("amount")),
      t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, spec)
    assertViewCurrent(t, view)
  }

  test("filtered (sigma) view: updates crossing the selection boundary maintain exactly") {
    val fSpec = IvmSpec(Seq("grp"), Seq("amount" -> "sum_amount"),
      filter = Some(col("amount") >= 100.0))
    val t = tmpDir("ivm-filter") + "/tbl"
    val view = tmpDir("ivm-filter") + "/view"
    MergeStore.init(spark, rows(400), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, fSpec)
    def current(): Unit = {
      val got = sorted(MergeStore.read(spark, view))
      val want = sorted(
        IncrementalView.fullState(MergeStore.read(spark, t), fSpec))
      assert(got == want)
    }
    current()
    // One commit with all four crossings: INTO the selection (id 10:
    // 12.5 -> 150), OUT of it (id 300: 375 -> 10), staying in with a
    // measure change (id 320: 400 -> 410), staying out (id 20: 25 -> 30).
    val upd = Seq((10L, 150.0), (300L, 10.0), (320L, 410.0), (20L, 30.0))
      .toDF("id", "amount")
      .select(col("id"), (col("id") % 7).cast("int").as("grp"),
        col("amount"))
    MergeStore.merge(spark, upd, t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, fSpec)
    current()
    // Delete spanning both sides of the boundary.
    MergeStore.delete(spark, t,
      spark.range(150L, 250L).select(col("id")), pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, fSpec)
    current()
  }

  test("join view: grouped by a broadcast-dimension attribute, maintained from fact changes") {
    val dim = Seq((0, "alpha"), (1, "beta"), (2, "gamma"), (3, "alpha"),
      (4, "beta"), (5, "gamma"), (6, "delta"))
      .toDF("dkey", "region")
    val jSpec = IvmSpec(Seq("region"), Seq("amount" -> "sum_amount"),
      maxs = Seq("amount" -> "max_amount"),
      enrich = df => df.join(broadcast(dim), col("grp") === col("dkey"),
        "left").drop("dkey"))
    val t = tmpDir("ivm-join") + "/tbl"
    val view = tmpDir("ivm-join") + "/view"
    MergeStore.init(spark, rows(600), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, jSpec)
    def current(): Unit = {
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select(col("region"), col("n_rows"),
          col("sum_amount").cast("decimal(30,4)"),
          col("max_amount").cast("decimal(20,4)"))
        .as[(String, Long, java.math.BigDecimal, java.math.BigDecimal)]
        .collect().sortBy(_._1).toSeq
      assert(shape(MergeStore.read(spark, view)) ==
        shape(IncrementalView.fullState(MergeStore.read(spark, t), jSpec)))
    }
    current()
    // Fact update that MOVES rows across dimension groups (grp 1 -> 6,
    // beta -> delta) — pre-image departs beta (max may vacate:
    // recompute), post-image arrives in delta.
    MergeStore.merge(spark,
      rows(600).where(col("id") % 50 === 1).withColumn("grp", lit(6)),
      t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, jSpec)
    current()
    MergeStore.delete(spark, t,
      spark.range(0L, 100L).select(col("id")), pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, jSpec)
    current()
  }

  test("flatmap view: token counts maintained from document changes") {
    // enrich = deterministic explode (1 -> n): the corpus vocabulary as
    // an incrementally-maintained view — a pre-image explodes into
    // exactly the rows its arrival did, so subtraction cancels
    // token-for-token.
    val tSpec = IvmSpec(Seq("token"), sums = Nil,
      enrich = df => df.withColumn("token",
        explode(split(col("text"), " "))))
    val t = tmpDir("ivm-flat") + "/tbl"
    val view = tmpDir("ivm-flat") + "/view"
    val docs = spark.range(200).select(col("id"),
      concat_ws(" ", lit("w"), (col("id") % 11).cast("string"),
        (col("id") % 7).cast("string")).as("text"))
    MergeStore.init(spark, docs, t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, tSpec)
    def current(): Unit = {
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select(col("token"), col("n_rows"))
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      assert(shape(MergeStore.read(spark, view)) ==
        shape(IncrementalView.fullState(MergeStore.read(spark, t), tSpec)))
    }
    current()
    // Update rewrites some docs' text (tokens change sets), insert new
    // docs, then delete others — counts must track exactly.
    MergeStore.merge(spark,
      docs.where(col("id") % 13 === 0)
        .withColumn("text", concat(col("text"), lit(" extra extra"))),
      t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, tSpec)
    current()
    assert(MergeStore.read(spark, view)
      .where(col("token") === "extra").head().getAs[Long]("n_rows") ==
      2L * docs.where(col("id") % 13 === 0).count())
    MergeStore.delete(spark, t,
      spark.range(0L, 50L).select(col("id")), pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, tSpec)
    current()
  }

  test("min/max view: arrivals strengthen incrementally, departures recompute the group") {
    val eSpec = IvmSpec(Seq("grp"), Seq("amount" -> "sum_amount"),
      mins = Seq("amount" -> "min_amount"),
      maxs = Seq("amount" -> "max_amount"))
    val t = tmpDir("ivm-ext") + "/tbl"
    val view = tmpDir("ivm-ext") + "/view"
    MergeStore.init(spark, rows(700), t, numFiles = 8, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, eSpec)
    def current(): Unit = {
      val got = MergeStore.read(spark, view)
        .select(col("grp").cast("int"), col("n_rows"),
          col("sum_amount").cast("decimal(30,4)"),
          col("min_amount").cast("decimal(20,4)"),
          col("max_amount").cast("decimal(20,4)"))
        .as[(Int, Long, java.math.BigDecimal, java.math.BigDecimal,
          java.math.BigDecimal)].collect().sortBy(_._1).toSeq
      val want = IncrementalView
        .fullState(MergeStore.read(spark, t), eSpec)
        .select(col("grp").cast("int"), col("n_rows"),
          col("sum_amount").cast("decimal(30,4)"),
          col("min_amount").cast("decimal(20,4)"),
          col("max_amount").cast("decimal(20,4)"))
        .as[(Int, Long, java.math.BigDecimal, java.math.BigDecimal,
          java.math.BigDecimal)].collect().sortBy(_._1).toSeq
      assert(got == want)
    }
    current()
    // Arrival-only commit: inserts with a new global max per group —
    // the incremental least/greatest path.
    MergeStore.merge(spark,
      spark.range(700L, 750L).select(col("id"),
        (col("id") % 7).cast("int").as("grp"),
        (col("id") * lit(10.0)).as("amount")),
      t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, eSpec)
    current()
    // Departure commit: delete exactly the rows holding each group's
    // max (the 700-749 inserts) — the removed-extremum case only a
    // group recompute can answer.
    MergeStore.delete(spark, t,
      spark.range(700L, 750L).select(col("id")), pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, eSpec)
    current()
    // Update that LOWERS a group's min holder (id 0: amount 0 -> 500):
    // pre-image departs, group recomputes, min moves to the runner-up.
    MergeStore.merge(spark,
      Seq((0L, 0, 500.0)).toDF("id", "grp", "amount"), t, pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, eSpec)
    current()
  }

  test("avg view: hidden sum/count accumulators track SQL AVG across mutations") {
    val aSpec = IvmSpec(Seq("grp"), sums = Nil,
      avgs = Seq("amount" -> "avg_amount"))
    val t = tmpDir("ivm-avg") + "/tbl"
    val view = tmpDir("ivm-avg") + "/view"
    // Null measures: AVG must skip them (COUNT(x), not COUNT(*)).
    val base = rows(600).withColumn("amount",
      when(col("id") % 17 === 0, lit(null)).otherwise(col("amount")))
    MergeStore.init(spark, base, t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, aSpec)
    MergeStore.merge(spark,
      rows(600).where(col("id") % 5 === 0)
        .withColumn("amount", col("amount") * 3), t, pk = Seq("id")) // v1
    IncrementalView.refresh(spark, t, view, aSpec)
    MergeStore.delete(spark, t,
      spark.range(0L, 100L).select(col("id")), pk = Seq("id")) // v2
    IncrementalView.refresh(spark, t, view, aSpec)
    val got = IncrementalView.readView(spark, view, aSpec)
      .select(col("grp").cast("int"), col("avg_amount"))
      .as[(Int, Double)].collect().toMap
    val want = MergeStore.read(spark, t)
      .groupBy("grp").agg(avg(col("amount")).as("a"))
      .select(col("grp").cast("int"), col("a"))
      .as[(Int, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, v) =>
      assert(math.abs(v - want(g)) < 1e-9, s"group $g: $v vs ${want(g)}") }
  }

  test("distinct-count composition: sub-view rows ARE the distinct pairs; departures kill values") {
    val dSpec = IncrementalView.distinctCountSpec(Seq("grp"), "bucket")
    val t = tmpDir("ivm-distinct") + "/tbl"
    val view = tmpDir("ivm-distinct") + "/view"
    def withBucket(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", (col("id") % 11).cast("int"))
    MergeStore.init(spark, withBucket(rows(400)), t, numFiles = 4,
      clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, dSpec)
    def check(): Unit = {
      val got = IncrementalView.readDistinctCount(spark, view, Seq("grp"))
        .select(col("grp").cast("int"), col("n_distinct"))
        .as[(Int, Long)].collect().toMap
      val want = MergeStore.read(spark, t)
        .groupBy("grp").agg(countDistinct(col("bucket")).as("n"))
        .select(col("grp").cast("int"), col("n"))
        .as[(Int, Long)].collect().toMap
      assert(got == want)
    }
    check()
    // Rewire buckets: some (grp, bucket) pairs die (sole contributor
    // moved), others are born.
    MergeStore.merge(spark,
      withBucket(rows(400)).where(col("id") % 7 === 0)
        .withColumn("bucket", lit(99)), t, pk = Seq("id")) // v1
    IncrementalView.refresh(spark, t, view, dSpec)
    check()
    // Delete everything in one bucket of one group: that distinct value
    // must disappear from exactly that group.
    MergeStore.delete(spark, t,
      MergeStore.read(spark, t)
        .where(col("grp") === 2 && col("bucket") === 3).select(col("id")),
      pk = Seq("id")) // v2
    IncrementalView.refresh(spark, t, view, dSpec)
    check()
  }

  test("maintainView: compaction + vacuum of a long-lived view preserves the applied marker") {
    val t = tmpDir("ivm-maint") + "/tbl"
    val view = tmpDir("ivm-maint") + "/view"
    MergeStore.init(spark, rows(800), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, spec, numFiles = 2)
    // Refreshes accrete files on the view: each merge births a brand-new
    // group, so no existing view file holds a matched key and
    // applyChanges lands the delta as NEW files NEXT TO the carried ones
    // (its affected-empty append path) — exactly how a long-lived
    // trickle view grows past any cap. (Updates to existing groups
    // rewrite affected files in place and do not accrete.)
    (1 to 6).foreach { i =>
      MergeStore.merge(spark,
        spark.range(800L + i * 100, 850L + i * 100)
          .select(col("id"), lit(100 + i).cast("int").as("grp"),
            (col("id") * lit(0.5)).as("amount")),
        t, pk = Seq("id"))
      IncrementalView.refresh(spark, t, view, spec)
    }
    val before = sorted(MergeStore.read(spark, view))
    val applied = IncrementalView.appliedVersion(view)
    assert(MergeStore.liveFiles(view).size > 2)
    // Compact + vacuum (waived grace, single writer): a BARE compact
    // carries no metadata, and head-only vacuum would then drop every
    // marked manifest — maintainView must carry the marker into the
    // compaction commit, so the high-water mark survives retention.
    assert(IncrementalView.maintainView(spark, view, spec,
      targetFiles = 2, maxLiveFiles = 2, vacuumGraceMillis = 0))
    assert(IncrementalView.appliedVersion(view) == applied)
    assert(sorted(MergeStore.read(spark, view)) == before)
    assert(MergeStore.liveFiles(view).size == 2)
    // The view keeps refreshing normally afterwards.
    MergeStore.delete(spark, t,
      spark.range(0L, 50L).select(col("id")), pk = Seq("id"))
    IncrementalView.refresh(spark, t, view, spec)
    assertViewCurrent(t, view)
    // Under the cap: maintenance is a no-op.
    assert(!IncrementalView.maintainView(spark, view, spec,
      targetFiles = 2, maxLiveFiles = 64))
  }

  test("distinct-count roster: all-NULL groups surface as zero (SQL COUNT(DISTINCT) parity)") {
    val dSpec = IncrementalView.distinctCountSpec(Seq("grp"), "bucket")
    val t = tmpDir("ivm-roster") + "/tbl"
    val view = tmpDir("ivm-roster") + "/view"
    // Group 2's bucket values are ALL NULL: SQL returns (2, 0); the
    // sub-view holds no (2, x) rows at all.
    val base = rows(300).withColumn("bucket",
      when(col("grp") === 2, lit(null).cast("int"))
        .otherwise((col("id") % 13).cast("int")))
    MergeStore.init(spark, base, t, numFiles = 2, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, dSpec)
    val bare = IncrementalView.readDistinctCount(spark, view, Seq("grp"))
      .select(col("grp").cast("int"), col("n_distinct"))
      .as[(Int, Long)].collect().toMap
    assert(!bare.contains(2)) // the documented divergence
    val roster = MergeStore.read(spark, t).select("grp")
    val got = IncrementalView.readDistinctCount(spark, view, Seq("grp"),
        groupRoster = Some(roster))
      .select(col("grp").cast("int"), col("n_distinct"))
      .as[(Int, Long)].collect().toMap
    val want = MergeStore.read(spark, t)
      .groupBy("grp").agg(count_distinct(col("bucket")).as("n"))
      .select(col("grp").cast("int"), col("n"))
      .as[(Int, Long)].collect().toMap
    assert(got == want)
    assert(got(2) == 0L)
  }

  test("marker guard: a rival maintainer's overlapping span drops, never double-applies") {
    val t = tmpDir("ivm-guard") + "/tbl"
    val view = tmpDir("ivm-guard") + "/view"
    MergeStore.init(spark, rows(500), t, numFiles = 4, clusterBy = Seq("id"))
    IncrementalView.initView(spark, t, view, spec)
    MergeStore.merge(spark, rows(500).where(col("id") % 5 === 0)
      .withColumn("amount", col("amount") + lit(1.0)), t, pk = Seq("id")) // v1
    MergeStore.merge(spark, rows(500).where(col("id") % 5 === 1)
      .withColumn("amount", col("amount") + lit(2.0)), t, pk = Seq("id")) // v2
    def delta(toV: Int) = IncrementalView.deltaState(
      MergeStore.changes(spark, t, 0, toV, pk = Seq("id"),
        includePreimages = true), spec)
    // Both maintainers read applied = 0. The full-span (0,2] delta is
    // built... but a rival per-commit stream lands the SUB-span (0,1]
    // first, moving the marker to 1.
    val fullDelta = delta(2)
    IncrementalView.applyDeltaToStore(spark, view, delta(1), spec, 1,
      expectedApplied = Some(0))
    assert(IncrementalView.appliedVersion(view) == 1)
    val afterSub = sorted(MergeStore.read(spark, view))
    // The loser's commit must be a DROPPED REPLAY: its base moved, and
    // even the not-yet-applied (1,2] half must not land from a delta
    // whose (0,1] half would double-apply the overlap.
    val (nUp, nDel) = IncrementalView.applyDeltaToStore(spark, view,
      fullDelta, spec, 2, expectedApplied = Some(0))
    assert(nUp == 0L && nDel == 0L)
    assert(IncrementalView.appliedVersion(view) == 1) // no marker regression
    assert(sorted(MergeStore.read(spark, view)) == afterSub)
    // A redelivered copy of the already-applied sub-span drops too.
    IncrementalView.applyDeltaToStore(spark, view, delta(1), spec, 1,
      expectedApplied = Some(0))
    assert(sorted(MergeStore.read(spark, view)) == afterSub)
    // Catch-up from the TRUE marker converges to the full recompute.
    IncrementalView.refresh(spark, t, view, spec)
    assertViewCurrent(t, view)
    assert(IncrementalView.appliedVersion(view) == 2)
  }

  test("changes with pre-images: typed feed carries old rows; compaction emits nothing") {
    val t = tmpDir("cdf-pre") + "/tbl"
    MergeStore.init(spark, rows(300), t, numFiles = 4, clusterBy = Seq("id"))
    MergeStore.merge(spark,
      rows(300).where(col("id") === 7)
        .withColumn("amount", lit(123.0)), t, pk = Seq("id"))
    val feed = MergeStore.changes(spark, t, 0, 1, pk = Seq("id"),
      includePreimages = true)
    val byType = feed.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("update_postimage" -> 1L, "update_preimage" -> 1L))
    val pre = feed.where(col("_change_type") === "update_preimage")
      .select(col("amount")).as[Double].head()
    assert(pre == 7 * 1.25) // the OLD measure, not the new one
    MergeStore.compact(spark, t, targetFiles = 2, clusterBy = Seq("id"))
    assert(MergeStore.changes(spark, t, 1, 2, pk = Seq("id"),
      includePreimages = true).count() == 0)
  }

  test("sync replicates a span change-feed-only and is idempotent") {
    val t = tmpDir("sync") + "/tbl"
    val r = tmpDir("sync") + "/replica"
    MergeStore.init(spark, rows(1000), t, numFiles = 8, clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 8,
      clusterBy = Seq("id")) // deep clone of v0
    MergeStore.merge(spark,
      rows(1000).where(col("id") % 9 === 0)
        .withColumn("amount", col("amount") + 1)
        .unionByName(spark.range(1000L, 1010L).select(col("id"),
          lit(2).cast("int").as("grp"), lit(9.0).as("amount"))),
      t, pk = Seq("id")) // v1
    MergeStore.delete(spark, t,
      spark.range(0L, 50L).select(col("id")), pk = Seq("id")) // v2
    val st = MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id"))
    assert(st.rowsDeleted == 50)
    def snap(p: String) = MergeStore.read(spark, p)
      .select($"id", $"grp", $"amount").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    assert(snap(r) == snap(t))
    // Re-applying the same span must change nothing (idempotence): the
    // replica's marker already covers it, so nothing is committed.
    val v = MergeStore.version(r)
    assert(MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id")).skippedReplay)
    assert(MergeStore.version(r) == v)
    assert(snap(r) == snap(t))
  }

  test("sync starts at the replica's marker, whatever fromVersion says") {
    val t = tmpDir("sync-stale") + "/tbl"
    val r = tmpDir("sync-stale") + "/replica"
    MergeStore.init(spark, rows(200), t, numFiles = 4, clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 4,
      clusterBy = Seq("id")) // deep clone of v0
    val r0 = MergeStore.version(r).get
    val extra = spark.range(1000L, 1003L).select(col("id"),
      lit(5).cast("int").as("grp"), lit(1.0).as("amount"))
    MergeStore.merge(spark, extra, t, pk = Seq("id")) // v1: 1000-1002 in
    MergeStore.sync(spark, t, r, 0, 1, pk = Seq("id"))
    assert(MergeStore.version(r).contains(r0 + 1))
    // The marker outlives compactions and a vacuum of the manifest that
    // first carried it.
    MergeStore.compact(spark, r, targetFiles = 2, clusterBy = Seq("id"))
    MergeStore.compact(spark, r, targetFiles = 3, clusterBy = Seq("id"))
    MergeStore.vacuum(r, retainVersions = 1, graceMillis = 0)
    val r1 = MergeStore.version(r).get
    // v2 deletes a key that v1 inserted and updates another: over the
    // span (0, 2] that key nets to nothing, so a sync that trusted the
    // stale fromVersion = 0 would keep it on the replica.
    MergeStore.applyChanges(spark, t,
      rows(200).where(col("id") === 3L).withColumn("amount", lit(-1.0)),
      spark.range(1000L, 1001L).select(col("id")), pk = Seq("id")) // v2
    val st = MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id"))
    assert(!st.skippedReplay && st.rowsDeleted == 1)
    assert(MergeStore.version(r).contains(r1 + 1))
    def snap(p: String) = MergeStore.read(spark, p)
      .select($"id", $"grp", $"amount").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    assert(snap(r) == snap(t))
    assert(MergeStore.read(spark, r).where(col("id") === 1000L).isEmpty)
  }

  test("sync refuses a source column the replica lacks; nothing commits") {
    val t = tmpDir("sync-drift") + "/tbl"
    val r = tmpDir("sync-drift") + "/replica"
    MergeStore.init(spark, rows(100), t, numFiles = 2, clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 2,
      clusterBy = Seq("id")) // deep clone of v0
    MergeStore.addColumn(spark, t, "note",
      org.apache.spark.sql.types.StringType) // v1
    MergeStore.merge(spark, rows(5).withColumn("note", lit("n")), t,
      pk = Seq("id")) // v2
    val v = MergeStore.version(r)
    val e = intercept[IllegalArgumentException](
      MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id")))
    assert(e.getMessage.contains("note"))
    // Neither the rows nor the marker moved: the values are not lost.
    assert(MergeStore.version(r) == v)
    assert(MergeStore.markerValue(r, MergeStore.SyncAppliedKey).isEmpty)
    MergeStore.addColumn(spark, r, "note",
      org.apache.spark.sql.types.StringType)
    MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id"))
    def snap(p: String) = MergeStore.read(spark, p)
      .select($"id", $"amount", $"note").as[(Long, Double, String)]
      .collect().sortBy(_._1).toSeq
    assert(snap(r) == snap(t))
    assert(MergeStore.read(spark, r).where($"note" === "n").count() == 5)
  }

  test("restore resets the replica's sync marker to the restored content") {
    val t = tmpDir("sync-restore") + "/tbl"
    val r = tmpDir("sync-restore") + "/replica"
    MergeStore.init(spark, rows(100), t, numFiles = 2, clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 2,
      clusterBy = Seq("id")) // deep clone of v0
    val r0 = MergeStore.version(r).get
    MergeStore.merge(spark, rows(3).withColumn("amount", lit(-1.0)), t,
      pk = Seq("id")) // v1
    MergeStore.sync(spark, t, r, 0, 1, pk = Seq("id"))
    MergeStore.delete(spark, t, spark.range(50L, 60L).select(col("id")),
      pk = Seq("id")) // v2
    MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id"))
    def snap(p: String) = MergeStore.read(spark, p)
      .select($"id", $"grp", $"amount").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    // Back to the clone: no marker, so the next sync starts at the
    // caller's clone version and ships the whole span again.
    MergeStore.restore(spark, r, r0)
    assert(MergeStore.markerValue(r, MergeStore.SyncAppliedKey).isEmpty)
    MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id"))
    assert(snap(r) == snap(t))
    // Back to the first sync's commit: the marker names source v1.
    MergeStore.restore(spark, r, r0 + 1)
    assert(MergeStore.markerValue(r, MergeStore.SyncAppliedKey)
      .contains("1"))
    MergeStore.sync(spark, t, r, 0, 2, pk = Seq("id"))
    assert(snap(r) == snap(t))
  }

  test("two first syncs racing on a replica with no marker: the loser skips whole") {
    val t = tmpDir("sync-race") + "/tbl"
    val r = tmpDir("sync-race") + "/replica"
    MergeStore.init(spark, rows(100), t, numFiles = 2, clusterBy = Seq("id"))
    MergeStore.init(spark, MergeStore.read(spark, t), r, numFiles = 2,
      clusterBy = Seq("id")) // deep clone of v0, no marker yet
    val k = spark.range(500L, 501L).select(col("id"),
      lit(1).cast("int").as("grp"), lit(1.0).as("amount"))
    MergeStore.merge(spark, k, t, pk = Seq("id")) // v1: key 500 in
    MergeStore.delete(spark, t, k.select(col("id")), pk = Seq("id")) // v2
    MergeStore.merge(spark, rows(3).withColumn("amount", lit(-1.0)), t,
      pk = Seq("id")) // v3
    // Both syncs read "no marker" and build their feeds from v0: A's
    // ends at v1 and carries key 500; B's ends at v3, where 500 nets
    // to nothing, so B applied on top of A would leave it behind.
    def apply(to: Int) = MergeStore.applyFeed(spark, r,
      MergeStore.changes(spark, t, 0, to, pk = Seq("id")), Seq("id"),
      MergeStore.MarkerGuard(MergeStore.SyncAppliedKey, to.toLong,
        expectUnset = true), maxRetries = 3)
    assert(!apply(1).skippedReplay)
    val v = MergeStore.version(r)
    assert(apply(3).skippedReplay)
    assert(MergeStore.version(r) == v)
    // A re-run starts at A's marker and converges.
    MergeStore.sync(spark, t, r, 0, 3, pk = Seq("id"))
    def snap(p: String) = MergeStore.read(spark, p)
      .select($"id", $"grp", $"amount").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    assert(snap(r) == snap(t))
  }
}
