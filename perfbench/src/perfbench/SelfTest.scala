package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Settings
import graft.registry.Registry
import graft.run.Runner
import graft.store.{CoreStore, MergeStore, RawStore}
import graft.streaming.StreamingSync

/** Self-tests of the ingest and table checks (`perfbench/selftest.py`
  * runs them): each check must accept the program's real output and
  * reject the same output deliberately corrupted. Returns the number of
  * checks that did not behave. */
object SelfTest {

  def run(dir: String): Int = {
    val spark = Main.session(dir, 2)
    val ctx = new Ctx(spark, new Tracer(spark, false, "selftest"), 7L, dir)
    var bad = 0
    def expect(name: String, reject: Boolean, problems: Seq[String]): Unit =
      if (problems.nonEmpty == reject)
        println(s"ok   $name: ${if (reject) s"rejected (${problems.head})" else "accepted"}")
      else {
        bad += 1
        println(s"FAIL $name: ${if (reject) "corrupted output accepted" else s"rejected: $problems"}")
      }

    // ingest: a first load and a re-ingest of a small generated endpoint.
    val data = new IngestData(7L, Seq(2019, 2020), 60, 20, 0.3)
    val root = s"$dir/wh"
    val st = Settings(apiBase = IngestData.ApiBase, warehouseRoot = root, rateLimitRps = 0,
      maxRetries = 1, rawPageSize = data.pageSize)
    val ep = Registry.directory
    Runner.loadEndpointYears(spark, ep, st, data.transport(1, ctx), 2019, 2020)
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    Runner.loadEndpointYears(spark, ep, st, data.transport(2, ctx), 2019, 2020)
    val cols = ep.columns.map(_.target)
    val rows = CoreStore.read(spark, root, ep.name).select(cols.map(col): _*).collect().toSeq
    val exp = data.expectedCore(2)
    expect("ingest core table", reject = false, Checks.coreRows(rows, cols, exp))
    val i = cols.indexOf("inst_name")
    val changed = rows.updated(0, Row.fromSeq(rows.head.toSeq.updated(i, "Changed Name")))
    expect("ingest core row with a changed value", reject = true, Checks.coreRows(changed, cols, exp))
    expect("ingest core row missing", reject = true, Checks.coreRows(rows.tail, cols, exp))
    val written = RawStore.read(spark, root, ep.name).collect()
      .filter(r => !r.getAs[java.sql.Timestamp]("ingested_at").before(t0))
      .map(r => (r.getAs[Int]("year"), r.getAs[Int]("page_number"))).toSet
    expect("ingest pages written on re-ingest", reject = false,
      Checks.pagesWritten(written, data.changedPages))
    val unchanged = data.years.flatMap(y => data.pages(1)(y).indices.map(p => (y, p + 1)))
      .find(p => !data.changedPages.contains(p)).get
    expect("ingest re-ingest that wrote an unchanged page", reject = true,
      Checks.pagesWritten(written + unchanged, data.changedPages))

    // table: a replica that missed a delete, an as-of read of the wrong
    // version, a change span with a wrong count.
    val t = s"$dir/t"
    val replica = s"$dir/replica"
    val m0: Fp.Model = scala.collection.immutable.HashMap((0L until 200L).map(k =>
      k -> ((k % 7).toInt, k * 3, s"v$k")): _*)
    MergeStore.init(spark, spark.range(200).select(col("id"), (col("id") % 7).cast("int").as("grp"),
      (col("id") * 3).as("val"), concat(lit("v"), col("id")).as("tag")), t, 2, clusterBy = Seq("id"))
    val v0 = MergeStore.version(t).get
    MergeStore.init(spark, MergeStore.read(spark, t), replica, 2, clusterBy = Seq("id"))
    MergeStore.deleteWhereMor(spark, t, col("id") < 20)
    val v1 = MergeStore.version(t).get
    val m1 = m0.filter(_._1 >= 20)
    expect("table replica that missed a delete", reject = true,
      Checks.snapshot("replica", Fp.of(MergeStore.read(spark, replica)), m1))
    StreamingSync.replicate(spark, t, replica, Seq("id"), v0, s"$dir/replica-ckpt",
      Trigger.AvailableNow()).awaitTermination()
    expect("table replica after catching up", reject = false,
      Checks.snapshot("replica", Fp.of(MergeStore.read(spark, replica)), m1))
    expect("table as-of read", reject = false,
      Checks.snapshot("as-of", Fp.of(MergeStore.read(spark, t, Some(v1))), m1))
    expect("table as-of read from the wrong version", reject = true,
      Checks.snapshot("as-of", Fp.of(MergeStore.read(spark, t, Some(v0))), m1))
    expect("table change span", reject = false, Checks.changeSpan(m0, m1, 0, 20))
    expect("table change span missing a delete", reject = true, Checks.changeSpan(m0, m1, 0, 19))

    spark.stop()
    bad
  }
}
