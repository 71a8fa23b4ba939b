package graft

import org.apache.spark.sql.functions._

import graft.store.MergeStore

/** CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT): declared
  * invariants stored as carried manifest policy, validated against the
  * existing table on add, enforced on every verb's NEW row content
  * with a loud pre-commit failure. NULL passes (SQL CHECK semantics);
  * NOT NULL is an explicit `c IS NOT NULL` constraint.
  */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(n: Int = 1000): String = {
    val t = tmpDir("constraints") + "/tbl"
    val df = spark.range(n.toLong).select(col("id"),
      (col("id") % 100).cast("int").as("score"),
      concat(lit("d-"), col("id")).as("name"))
    MergeStore.init(spark, df, t, numFiles = 4, clusterBy = Seq("id"))
    t
  }

  test("addConstraint validates existing rows and publishes policy metadata") {
    val t = freshTable()
    MergeStore.addConstraint(spark, t, "score_range",
      "score >= 0 AND score < 100")
    assert(MergeStore.constraints(t) ==
      Map("score_range" -> "score >= 0 AND score < 100"))
    // A constraint the table already violates is refused, no commit.
    val v = MergeStore.version(t).get
    val e = intercept[IllegalStateException] {
      MergeStore.addConstraint(spark, t, "impossible", "score > 50")
    }
    assert(e.getMessage.contains("impossible"))
    assert(MergeStore.version(t).contains(v))
    assert(MergeStore.constraints(t).size == 1)
  }

  test("a rejected merge or applyChanges leaves no cached batch behind") {
    val t = freshTable()
    MergeStore.addConstraint(spark, t, "score_range", "score < 100")
    val bad = Seq((5000L, 250, "bad")).toDF("id", "score", "name")
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty)
    intercept[IllegalStateException] {
      MergeStore.merge(spark, bad, t, pk = Seq("id"))
    }
    assert(cm.isEmpty)
    intercept[IllegalStateException] {
      MergeStore.applyChanges(spark, t, bad, Seq(1L).toDF("id"),
        pk = Seq("id"))
    }
    assert(cm.isEmpty)
  }

  test("merge: a violating batch is rejected loudly, table unchanged") {
    val t = freshTable()
    MergeStore.addConstraint(spark, t, "score_range",
      "score >= 0 AND score < 100")
    val v = MergeStore.version(t).get
    val bad = Seq((5000L, 250, "bad"), (5001L, 10, "ok"))
      .toDF("id", "score", "name")
    val e = intercept[IllegalStateException] {
      MergeStore.merge(spark, bad, t, pk = Seq("id"))
    }
    assert(e.getMessage.contains("score_range") &&
      e.getMessage.contains("no commit"))
    assert(MergeStore.version(t).contains(v)) // atomic: nothing landed
    assert(MergeStore.read(spark, t).where(col("id") === 5001L).count() == 0)
    // The clean batch lands fine afterwards.
    MergeStore.merge(spark,
      Seq((5001L, 10, "ok")).toDF("id", "score", "name"), t, pk = Seq("id"))
    assert(MergeStore.read(spark, t).count() == 1001)
  }

  test("NULL passes CHECK; explicit IS NOT NULL rejects nulls") {
    val t = freshTable()
    MergeStore.addConstraint(spark, t, "score_range", "score < 100")
    // NULL score: CHECK unknown → allowed.
    MergeStore.merge(spark,
      Seq((6000L, Option.empty[Int], "n")).toDF("id", "score", "name"),
      t, pk = Seq("id"))
    assert(MergeStore.read(spark, t)
      .where(col("id") === 6000L && col("score").isNull).count() == 1)
    MergeStore.addConstraint(spark, t, "name_nn", "name IS NOT NULL")
    intercept[IllegalStateException] {
      MergeStore.merge(spark,
        Seq((6001L, Option(5), Option.empty[String]))
          .toDF("id", "score", "name"),
        t, pk = Seq("id"))
    }
  }

  test("updateWhere: constraints see the post-SET image; applyChanges enforces too") {
    val t = freshTable()
    MergeStore.addConstraint(spark, t, "score_range", "score < 100")
    intercept[IllegalStateException] {
      MergeStore.updateWhere(spark, t, col("id") < 10,
        Map("score" -> (col("score") + 1000)))
    }
    // A SET that stays inside the invariant is fine.
    val st = MergeStore.updateWhere(spark, t, col("id") < 10,
      Map("score" -> lit(99)))
    assert(st.rowsUpdated == 10)
    intercept[IllegalStateException] {
      MergeStore.applyChanges(spark, t,
        upserts = Seq((7000L, 500, "x")).toDF("id", "score", "name"),
        deleteKeys = spark.emptyDataset[Long].toDF("id"),
        pk = Seq("id"))
    }
    // Deletes can't violate CHECK — a delete-only applyChanges passes.
    val ap = MergeStore.applyChanges(spark, t,
      upserts = Seq.empty[(Long, Int, String)].toDF("id", "score", "name"),
      deleteKeys = Seq(0L, 1L).toDF("id"), pk = Seq("id"))
    assert(ap.rowsDeleted == 2)
  }

  test("policy carries through verbs, restore and clone; drop removes it") {
    val t = freshTable()
    MergeStore.addConstraint(spark, t, "score_range", "score < 100")
    MergeStore.deleteWhere(spark, t, col("id") < 100)
    MergeStore.merge(spark,
      Seq((8000L, 1, "m")).toDF("id", "score", "name"), t, pk = Seq("id"))
    MergeStore.compact(spark, t, targetFiles = 2)
    assert(MergeStore.constraints(t).contains("score_range"),
      "constraint lost through verb commits")
    MergeStore.restore(spark, t, MergeStore.version(t).get - 2)
    assert(MergeStore.constraints(t).contains("score_range"),
      "constraint lost through restore")
    MergeStore.cloneTable(spark, t, s"$t-clone")
    assert(MergeStore.constraints(s"$t-clone").contains("score_range"),
      "constraint lost through clone")
    MergeStore.dropConstraint(spark, t, "score_range")
    assert(MergeStore.constraints(t).isEmpty)
    // Enforcement is gone with the policy.
    MergeStore.merge(spark,
      Seq((9000L, 999, "free")).toDF("id", "score", "name"),
      t, pk = Seq("id"))
    assert(MergeStore.read(spark, t)
      .where(col("score") === 999).count() == 1)
  }
}
