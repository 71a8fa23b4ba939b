package graft

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** File-disjoint OCC conflict resolution: a merge that loses the
  * manifest CAS to a rival whose commits touched DISJOINT files must
  * RE-COMMIT its already-computed result (probe and rewrite run exactly
  * once — `rebases` counts, `recomputes` stays 0); a rival that touched
  * overlapping files forces the usual recompute. The deterministic
  * racing shape pins the loser's snapshot below the rival's commit,
  * exactly like MergeStoreSpec's conflict tests.
  */
class OccRebaseSpec extends SparkSpec {
  import spark.implicits._

  private val N = 10000
  private val FILES = 16

  private def base = spark.range(N.toLong)
    .select(col("id"), (col("id") % 97).cast("int").as("grp"),
      concat(lit("v1-"), col("id")).as("payload"))

  private def fresh(tag: String): String = {
    val t = tmpDir(tag) + "/tbl"
    MergeStore.init(spark, base, t, FILES, clusterBy = Seq("id"))
    t
  }

  private def batch(tag: String, ids: Seq[Long]) =
    spark.createDataset(ids).toDF("id")
      .select(col("id"), (col("id") % 97).cast("int").as("grp"),
        concat(lit(s"$tag-"), col("id")).as("payload"))

  test("key-disjoint loser rebases: no recompute, both merges land") {
    val t = fresh("occ-disjoint")
    // Rival A lands first against v0.
    val a = MergeStore.merge(spark, batch("a", 10L to 19L), t, Seq("id"))
    assert(a.rebases == 0 && a.recomputes == 0)
    // B computed against v0 (pinned), loses the CAS to A — but A's
    // rewrite touched only the low-key file, far from B's key range, so
    // B re-commits WITHOUT recomputation even with zero retries.
    val b = MergeStore.merge(spark, batch("b", 5000L to 5009L), t,
      Seq("id"), maxRetries = 0, snapshotVersion = Some(0))
    assert(b.rebases == 1, s"expected one rebase, got $b")
    assert(b.recomputes == 0)
    assert(b.rowsUpdated == 10 && b.rowsInserted == 0)
    // Both batches fully present; nothing lost or doubled.
    val rows = MergeStore.read(spark, t)
      .where(col("id").isin((10L to 19L) ++ (5000L to 5009L): _*))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    (10L to 19L).foreach(i => assert(rows(i) == s"a-$i"))
    (5000L to 5009L).foreach(i => assert(rows(i) == s"b-$i"))
    assert(MergeStore.read(spark, t).count() == N)
    // The rebased commit carried A's stats lines and its own — data
    // skipping still prunes for both ranges.
    assert(MergeStore.scanRange(spark, t, "id", Some(5000L), Some(5009L))
      .count() == 10)
  }

  test("overlapping loser recomputes: rebase refused, retry replays") {
    val t = fresh("occ-overlap")
    MergeStore.merge(spark, batch("a", 10L to 19L), t, Seq("id")) // v1
    // C targets the SAME file A rewrote: its computed survivors are
    // stale, so the rebase is refused — zero retries means CME...
    intercept[java.util.ConcurrentModificationException] {
      MergeStore.merge(spark, batch("c", 15L to 24L), t, Seq("id"),
        maxRetries = 0, snapshotVersion = Some(0))
    }
    // ...and with a retry the verb RECOMPUTES against the new head.
    val c = MergeStore.merge(spark, batch("c", 15L to 24L), t, Seq("id"),
      maxRetries = 1, snapshotVersion = Some(0))
    assert(c.recomputes == 1, s"expected one recompute, got $c")
    val rows = MergeStore.read(spark, t)
      .where(col("id").between(10L, 24L))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    (10L to 14L).foreach(i => assert(rows(i) == s"a-$i"))
    (15L to 24L).foreach(i => assert(rows(i) == s"c-$i"))
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("policy drift refuses rebase: a rival constraint forces replay") {
    val t = fresh("occ-policy")
    MergeStore.addConstraint(spark, t, "grp_ok", "grp >= 0") // v1
    // Disjoint FILES, but the rival changed table POLICY between the
    // loser's snapshot and its commit — the computed batch was never
    // validated against it, so rebase must refuse.
    intercept[java.util.ConcurrentModificationException] {
      MergeStore.merge(spark, batch("p", 5000L to 5004L), t, Seq("id"),
        maxRetries = 0, snapshotVersion = Some(0))
    }
    val p = MergeStore.merge(spark, batch("p", 5000L to 5004L), t,
      Seq("id"), maxRetries = 1, snapshotVersion = Some(0))
    assert(p.recomputes == 1 && p.rebases == 0)
  }

  test("MOR rival on probed files refuses rebase") {
    val t = fresh("occ-dv")
    // Rival buries rows INSIDE the loser's key range via a deletion
    // vector: file names are unchanged (checks 2 and 3 pass), but the
    // alive-row set the loser probed is stale — check 4 must catch it.
    MergeStore.deleteWhereMor(spark, t, col("id") === 5005L) // v1
    intercept[java.util.ConcurrentModificationException] {
      MergeStore.merge(spark, batch("d", 5000L to 5009L), t, Seq("id"),
        maxRetries = 0, snapshotVersion = Some(0))
    }
    val d = MergeStore.merge(spark, batch("d", 5000L to 5009L), t,
      Seq("id"), maxRetries = 1, snapshotVersion = Some(0))
    assert(d.recomputes == 1)
    // The recompute saw the MOR delete: 5005 is re-inserted by d.
    assert(MergeStore.read(spark, t).count() == N)
  }

  test("applyChanges rebases like merge: disjoint upsert+delete batch") {
    val t = fresh("occ-apply")
    MergeStore.merge(spark, batch("a", 10L to 19L), t, Seq("id")) // v1
    val st = MergeStore.applyChanges(spark, t,
      upserts = batch("u", 7000L to 7004L),
      deleteKeys = Seq(7100L).toDF("id"),
      pk = Seq("id"), meta = Map("mark" -> "1"),
      maxRetries = 0, snapshotVersion = Some(0))
    assert(st.rebases == 1 && st.recomputes == 0 && !st.skippedReplay,
      s"expected a clean rebase, got $st")
    assert(st.rowsUpserted == 5 && st.rowsDeleted == 1)
    val rows = MergeStore.read(spark, t)
      .where(col("id").between(7000L, 7004L))
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    (7000L to 7004L).foreach(i => assert(rows(i) == s"u-$i"))
    assert(MergeStore.read(spark, t).where($"id" === 7100L).count() == 0)
    assert(MergeStore.markerValue(t, "mark").contains("1"))
    // A's batch survived the rebase untouched.
    assert(MergeStore.read(spark, t).where($"payload" === "a-15").count() == 1)
  }

  test("COW delete and update rebase on disjoint files too") {
    val t = fresh("occ-cowverbs")
    MergeStore.merge(spark, batch("a", 10L to 19L), t, Seq("id")) // v1
    // Pinned DELETE WHERE on a far key range: the predicate's implied
    // bounds prune to files the rival never touched — rebase.
    val d = MergeStore.deleteWhere(spark, t,
      col("id").between(5000L, 5009L), maxRetries = 0,
      snapshotVersion = Some(0))
    assert(d.rebases == 1 && d.recomputes == 0, s"delete: $d")
    assert(d.rowsDeleted == 10)
    // Pinned UPDATE WHERE on another far range, against the new head's
    // rival history (two commits now) — still disjoint, still rebases.
    val u = MergeStore.updateWhere(spark, t,
      col("id").between(7000L, 7004L),
      Map("payload" -> concat(lit("upd-"), col("id"))),
      maxRetries = 0, snapshotVersion = Some(1))
    assert(u.rebases == 1 && u.recomputes == 0, s"update: $u")
    val back = MergeStore.read(spark, t)
    assert(back.count() == N - 10)
    assert(back.where(col("id").between(5000L, 5009L)).count() == 0)
    assert(back.where($"payload" === "upd-7002").count() == 1)
    assert(back.where($"payload" === "a-15").count() == 1)
  }

  test("MOR deletes on disjoint files both land without recompute") {
    val t = fresh("occ-morverbs")
    MergeStore.deleteWhereMor(spark, t, col("id") < 10) // v1, marks file0
    // Pinned MOR delete on a far range: different candidate files, so
    // the loser re-commits its sidecar lines onto the rival's manifest.
    val m = MergeStore.deleteWhereMor(spark, t,
      col("id").between(5000L, 5004L), maxRetries = 0,
      snapshotVersion = Some(0))
    assert(m.rebases == 1 && m.recomputes == 0, s"mor delete: $m")
    // BOTH verbs' vectors live in the head manifest.
    assert(MergeStore.dvMeta(t).size >= 2)
    assert(MergeStore.read(spark, t).count() == N - 10 - 5)
    // MOR update far from both: rebases as well, one commit.
    val mu = MergeStore.updateWhereMor(spark, t,
      col("id").between(8000L, 8002L),
      Map("payload" -> lit("mor-upd")), maxRetries = 0,
      snapshotVersion = Some(1))
    assert(mu.rebases == 1 && mu.recomputes == 0, s"mor update: $mu")
    val back = MergeStore.read(spark, t)
    assert(back.where($"payload" === "mor-upd").count() == 3)
    assert(back.count() == N - 10 - 5)
    // SAME-file MOR rivals must recompute: the loser's sidecar unioned
    // the parent's positions, which the rival superseded.
    val head = MergeStore.version(t).get
    val first = MergeStore.deleteWhereMor(spark, t, col("id") === 5005L,
      maxRetries = 0, snapshotVersion = Some(head)) // probes file8
    assert(first.rowsDeleted == 1)
    intercept[java.util.ConcurrentModificationException] {
      // rival on the same file, pinned below the first's commit
      MergeStore.deleteWhereMor(spark, t, col("id") === 5006L,
        maxRetries = 0, snapshotVersion = Some(head))
    }
    val r = MergeStore.deleteWhereMor(spark, t, col("id") === 5006L,
      maxRetries = 1)
    assert(r.rowsDeleted == 1)
    assert(MergeStore.read(spark, t).count() == N - 10 - 5 - 2)
  }

  test("every row-level verb replays a same-file CAS loss on the fresh head") {
    val keys = (30L to 34L).toDF("id")
    val hit = col("id").between(30L, 34L)
    val set = Map("payload" -> concat(lit("upd-"), col("id")))
    // verb -> run(table, maxRetries, pin) => (recomputes, rebases)
    val verbs: Seq[(String, (String, Int, Option[Int]) => (Int, Int))] = Seq(
      "delete" -> { (t, r, pin) =>
        val s = MergeStore.delete(spark, t, keys, Seq("id"), r, pin)
        (s.recomputes, s.rebases) },
      "deleteWhere" -> { (t, r, pin) =>
        val s = MergeStore.deleteWhere(spark, t, hit, r, pin)
        (s.recomputes, s.rebases) },
      "deleteMor" -> { (t, r, pin) =>
        val s = MergeStore.deleteMor(spark, t, keys, Seq("id"), r, pin)
        (s.recomputes, s.rebases) },
      "deleteWhereMor" -> { (t, r, pin) =>
        val s = MergeStore.deleteWhereMor(spark, t, hit, r, pin)
        (s.recomputes, s.rebases) },
      "updateWhere" -> { (t, r, pin) =>
        val s = MergeStore.updateWhere(spark, t, hit, set, r, pin)
        (s.recomputes, s.rebases) },
      "updateWhereMor" -> { (t, r, pin) =>
        val s = MergeStore.updateWhereMor(spark, t, hit, set, r, pin)
        (s.recomputes, s.rebases) })
    // The rival rewrites the file holding the verb's rows (v1); the
    // verb, pinned at v0, cannot rebase over it.
    def withRival(tag: String): String = {
      val t = fresh(tag)
      MergeStore.merge(spark, batch("a", 10L to 19L), t, Seq("id"))
      t
    }
    verbs.foreach { case (name, run) =>
      val t = withRival(s"occ-replay-$name")
      intercept[java.util.ConcurrentModificationException](run(t, 0, Some(0)))
      assert(run(t, 1, Some(0)) == ((1, 0)), s"$name: want one recompute")
      val serial = withRival(s"occ-replay-$name-serial")
      run(serial, 0, None)
      assert(MergeStore.read(spark, t).orderBy("id").collect().toSeq ==
        MergeStore.read(spark, serial).orderBy("id").collect().toSeq, name)
    }
  }

  test("threaded disjoint writers: every merge computes exactly once") {
    val t = fresh("occ-threads")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val ranges = Seq(0L until 10L, 2000L until 2010L,
      5000L until 5010L, 8000L until 8010L)
    val stats = try {
      val fs = ranges.zipWithIndex.map { case (r, i) =>
        Future(MergeStore.merge(spark, batch(s"t$i", r), t, Seq("id"),
          maxRetries = 5))
      }
      fs.map(Await.result(_, 5.minutes))
    } finally pool.shutdown()
    // Key-disjoint writers must never pay a replay: any lost CAS
    // resolves by rebase (separate clusters of a clustered table).
    assert(stats.forall(_.recomputes == 0),
      s"disjoint writers recomputed: $stats")
    ranges.zipWithIndex.foreach { case (r, i) =>
      val rows = MergeStore.read(spark, t)
        .where(col("id").isin(r: _*))
        .select($"payload").as[String].collect()
      assert(rows.forall(_.startsWith(s"t$i-")))
    }
    assert(MergeStore.read(spark, t).count() == N)
  }
}
