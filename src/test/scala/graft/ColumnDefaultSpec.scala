package graft

import org.apache.spark.sql.functions._

import graft.store.{GraftCatalog, MergeStore}

/** Column DEFAULT values (Spark's SUPPORT_COLUMN_DEFAULT_VALUE +
  * standard SQL semantics): declared in CREATE TABLE DDL or via ALTER
  * COLUMN ... SET/DROP DEFAULT, persisted in the manifest-recorded
  * schema's field metadata (Spark's own CURRENT_DEFAULT key), and
  * filled by the ANALYZER — omitted INSERT columns and the explicit
  * DEFAULT keyword resolve to the declared constant; the engine never
  * evaluates defaults at scan or write time. Contracts pinned here:
  * fill-on-insert, future-only SET DEFAULT (existing rows untouched,
  * pre-column rows stay NULL), DROP DEFAULT, carry through data
  * verbs, ADD COLUMN DEFAULT refusal, and bad-expression refusal. */
class ColumnDefaultSpec extends SparkSpec {
  import spark.implicits._

  private def withWarehouse[A](f: String => A): A = {
    val wh = tmpDir("def-wh")
    System.setProperty("graft.catalog.warehouse", wh)
    try f(wh)
    finally System.clearProperty("graft.catalog.warehouse")
  }

  test("CREATE with DEFAULT: omitted columns and the DEFAULT keyword fill") {
    withWarehouse { wh =>
      spark.sql("CREATE TABLE graft.dwh.t1 " +
        "(id BIGINT, s STRING DEFAULT 'x', n INT DEFAULT 40 + 2)")
      spark.sql("INSERT INTO graft.dwh.t1 (id) VALUES (1)")
      spark.sql("INSERT INTO graft.dwh.t1 VALUES (2, DEFAULT, DEFAULT)")
      spark.sql("INSERT INTO graft.dwh.t1 VALUES (3, 'y', 7)")
      spark.sql("INSERT INTO graft.dwh.t1 (n, id) VALUES (9, 4)")
      val rows = spark.sql("SELECT * FROM graft.dwh.t1 ORDER BY id")
        .collect().toSeq.map(_.toString)
      assert(rows == Seq("[1,x,42]", "[2,x,42]", "[3,y,7]", "[4,x,9]"),
        rows.toString)
      spark.sql("DROP TABLE graft.dwh.t1")
    }
  }

  test("SET DEFAULT is future-only; DROP DEFAULT returns to NULL fill") {
    withWarehouse { wh =>
      spark.sql("CREATE TABLE graft.dwh.t2 (id BIGINT, s STRING)")
      spark.sql("INSERT INTO graft.dwh.t2 (id) VALUES (1)") // pre-default
      spark.sql("ALTER TABLE graft.dwh.t2 ALTER COLUMN s SET DEFAULT 'd'")
      spark.sql("INSERT INTO graft.dwh.t2 (id) VALUES (2)") // filled
      spark.sql("ALTER TABLE graft.dwh.t2 ALTER COLUMN s DROP DEFAULT")
      spark.sql("INSERT INTO graft.dwh.t2 (id) VALUES (3)") // NULL again
      val rows = spark.sql("SELECT * FROM graft.dwh.t2 ORDER BY id")
        .collect().toSeq.map(_.toString)
      assert(rows == Seq("[1,null]", "[2,d]", "[3,null]"), rows.toString)
      spark.sql("DROP TABLE graft.dwh.t2")
    }
  }

  test("defaults survive data verbs (merge/delete) and ADD COLUMN + SET DEFAULT leaves old rows NULL") {
    withWarehouse { wh =>
      spark.sql("CREATE TABLE graft.dwh.t3 " +
        "(id BIGINT, s STRING DEFAULT 'x')")
      spark.sql("INSERT INTO graft.dwh.t3 VALUES (1, 'a'), (2, 'b')")
      val p = s"$wh/dwh/t3"
      // Data verbs between the DDL and the next insert: the recorded
      // schema must CARRY the default through their commits.
      MergeStore.merge(spark,
        Seq((2L, "b2")).toDF("id", "s"), p, Seq("id"))
      MergeStore.deleteWhere(spark, p, col("id") === 99L)
      spark.sql("INSERT INTO graft.dwh.t3 (id) VALUES (3)")
      assert(spark.sql(
        "SELECT s FROM graft.dwh.t3 WHERE id = 3").collect()
        .head.getString(0) == "x",
        "default must survive merge/delete commits")
      // ADD COLUMN then SET DEFAULT: rows written before the column
      // read NULL (the null-fill rule); only future inserts fill.
      spark.sql("ALTER TABLE graft.dwh.t3 ADD COLUMN tag STRING")
      spark.sql(
        "ALTER TABLE graft.dwh.t3 ALTER COLUMN tag SET DEFAULT 'new'")
      spark.sql("INSERT INTO graft.dwh.t3 (id, s) VALUES (4, 'c')")
      val rows = spark.sql(
        "SELECT id, tag FROM graft.dwh.t3 ORDER BY id")
        .collect().toSeq.map(_.toString)
      assert(rows == Seq("[1,null]", "[2,null]", "[3,null]", "[4,new]"),
        rows.toString)
      spark.sql("DROP TABLE graft.dwh.t3")
    }
  }

  test("ADD COLUMN with DEFAULT and non-constant defaults refuse loudly") {
    withWarehouse { wh =>
      spark.sql("CREATE TABLE graft.dwh.t4 (id BIGINT)")
      val e = intercept[Exception] {
        spark.sql(
          "ALTER TABLE graft.dwh.t4 ADD COLUMN bad STRING DEFAULT 'd'")
      }
      assert(e.getMessage.contains("SET DEFAULT"), e.getMessage)
      // The Scala route validates the expression (the SQL route is
      // pre-analyzed by Spark): garbage and non-castable refuse.
      val p = s"$wh/dwh/t4"
      val e2 = intercept[Exception] {
        MergeStore.setColumnDefault(spark, p, "id", Some("not_a_col"))
      }
      assert(e2.getMessage.contains("constant"), e2.getMessage)
      intercept[Exception] {
        MergeStore.setColumnDefault(spark, p, "nope", Some("1"))
      }: Unit
      spark.sql("DROP TABLE graft.dwh.t4")
    }
  }

  test("MERGE insert clauses and a column-list INSERT fill declared defaults") {
    withWarehouse { _ =>
      spark.sql("CREATE TABLE graft.dwh.t6 " +
        "(id BIGINT, s STRING DEFAULT 'x', n INT DEFAULT 5)")
      spark.sql("INSERT INTO graft.dwh.t6 VALUES (1, 'a', 1)")
      // MERGE: the column-list INSERT omits s and n —
      // the declared defaults fill them (standard SQL), not NULL.
      Seq(2L).toDF("id").createOrReplaceTempView("t6_src")
      spark.sql("MERGE INTO graft.dwh.t6 t USING t6_src s " +
        "ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)")
      // A column-list INSERT agrees.
      spark.sql("INSERT INTO graft.dwh.t6 (id) VALUES (3)"): Unit
      val rows = spark.sql("SELECT * FROM graft.dwh.t6 ORDER BY id")
        .collect().toSeq.map(_.toString)
      assert(rows == Seq("[1,a,1]", "[2,x,5]", "[3,x,5]"), rows.toString)
      spark.sql("DROP TABLE graft.dwh.t6")
    }
  }

  test("defaults survive a restore; the recorded schema carries the key") {
    withWarehouse { wh =>
      spark.sql("CREATE TABLE graft.dwh.t5 " +
        "(id BIGINT, s STRING DEFAULT 'x')")
      assert(MergeStore.manifestMeta(s"$wh/dwh/t5").get("schema")
        .exists(_.contains("CURRENT_DEFAULT")),
        "the manifest-recorded schema must carry the default")
      spark.sql("INSERT INTO graft.dwh.t5 (id) VALUES (1)")
      val p = s"$wh/dwh/t5"
      MergeStore.restore(spark, p, 0) // back to empty
      spark.sql("INSERT INTO graft.dwh.t5 (id) VALUES (2)")
      assert(spark.sql("SELECT s FROM graft.dwh.t5 WHERE id = 2")
        .collect().head.getString(0) == "x",
        "default must survive a restore")
      spark.sql("DROP TABLE graft.dwh.t5")
    }
  }
}
