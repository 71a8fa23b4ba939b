package graft

import org.apache.spark.sql.functions._

import graft.core.Settings
import graft.registry.Registry
import graft.run.Runner
import graft.sources.HttpPagedSource
import graft.sources.HttpPagedSource.Transport
import graft.store.{CoreStore, LineageLog, RawStore}
import graft.operators.Upsert

/** End-to-end EP1→EP2 over a fake transport — the FIXTURES.md §A checklist:
  * alias keys, sentinel codes (int and string), whitespace blanks, malformed
  * ints, records missing `year` (page backfill), pagination with relative
  * `next`, retry-after-failure, rerun idempotence (hash guard preserves
  * ingested_at), core upsert last-write-wins, latest-per-key view.
  */
class PipelineSpec extends SparkSpec {

  private val settingsFor: String => Settings = root => Settings(
    apiBase = "https://fake.test/api/v1", warehouseRoot = root,
    rateLimitRps = 0, maxRetries = 3, rawPageSize = 2)

  // The fixture transport is shared with GoldViewsSpec/UrbanApiSourceSpec.
  private type FakeApi = FakeDirectoryApi

  test("EP1→EP2 end-to-end: raw pages, typed core, views, lineage") {
    val root = tmpDir("graft-pipe")
    val settings = settingsFor(root)
    val api = new FakeApi
    val entry = Runner.loadEndpointYears(
      spark, Registry.directory, settings, api, 2010, 2011)

    // EP1: pagination followed the relative next link.
    assert(api.calls.reverse.head.endsWith("/directory/2010/"))
    assert(api.calls.exists(_.endsWith("/2010/?page=2")))

    // Raw layer: pageSize=2 → both years chunk 3 records into pages of 2+1.
    val raw = RawStore.read(spark, root, "directory")
    assert(raw.count() == 4)
    val counts = raw.select("year", "page_number", "record_count")
      .orderBy("year", "page_number")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(counts == Seq((2010, 1, 2), (2010, 2, 1), (2011, 1, 2), (2011, 2, 1)))

    // Core layer: 6 rows, PK (unitid, year).
    val core = CoreStore.read(spark, root, "directory")
    assert(core.count() == 6)
    val r2011 = core.where(col("year") === 2011).orderBy("unitid").collect()

    // Alias drift: instnm/stabbr/lon/sector_cd resolved; strings trimmed;
    // year backfilled from the page for the record missing it.
    val a = r2011(0)
    assert(a.getAs[String]("inst_name") == "Alabama A & M University (renamed)")
    assert(a.getAs[String]("city") == "Normal")
    assert(a.getAs[String]("state_abbr") == "AL")
    assert(a.getAs[Int]("sector") == 1)
    assert(a.getAs[Double]("longitude") == -86.568502)
    assert(a.getAs[Int]("year") == 2011) // T7 backfill

    // Sentinel-vs-alias: instnm="-1" skipped → name="UAB"; stabbr="-2"
    // skipped → state="AL"; sector="-3" → null; fips="12.5" malformed → null.
    val b = r2011(1)
    assert(b.getAs[String]("inst_name") == "UAB")
    assert(b.getAs[String]("state_abbr") == "AL")
    assert(b.isNullAt(b.fieldIndex("sector")))
    assert(b.getAs[Int]("inst_control") == 1)
    assert(b.isNullAt(b.fieldIndex("fips")))

    // Numeric sentinels: -1/-2 ints null; latitude -3 (numeric double) null;
    // whitespace-only strings null.
    val c = r2011(2)
    assert(c.isNullAt(c.fieldIndex("inst_name")))
    assert(c.isNullAt(c.fieldIndex("city")))
    assert(c.isNullAt(c.fieldIndex("sector")))
    assert(c.isNullAt(c.fieldIndex("fips")))
    assert(c.isNullAt(c.fieldIndex("latitude")))

    // Q8 view: latest per unitid.
    val latest = Upsert.latestPerKey(core, Seq("unitid"), Seq(col("year")))
    assert(latest.count() == 4)
    assert(latest.where(col("unitid") === 100654).collect()(0)
      .getAs[Int]("year") == 2011)

    // Lineage: load_log row with counts; source_trace row per page.
    assert(entry.rows_inserted == 6 && entry.rows_updated == 0)
    assert(LineageLog.readLoadLog(spark, root).count() == 1)
    assert(LineageLog.readSourceTrace(spark, root).count() == 4)
  }

  test("rerun is idempotent: hash guard rewrites nothing, core unchanged") {
    val root = tmpDir("graft-rerun")
    val settings = settingsFor(root)
    Runner.loadEndpointYears(spark, Registry.directory, settings, new FakeApi, 2010, 2010)
    val ingestedBefore = RawStore.read(spark, root, "directory")
      .select("page_number", "ingested_at").orderBy("page_number").collect().toSeq

    Thread.sleep(5) // ensure a different wall-clock for any rewrite
    val entry2 = Runner.loadEndpointYears(spark, Registry.directory, settings, new FakeApi, 2010, 2010)

    // Hash guard: identical content → original ingested_at rows preserved.
    val ingestedAfter = RawStore.read(spark, root, "directory")
      .select("page_number", "ingested_at").orderBy("page_number").collect().toSeq
    assert(ingestedAfter == ingestedBefore)

    // Core upsert: same rows, updated-in-place counts.
    assert(CoreStore.read(spark, root, "directory").count() == 3)
    assert(entry2.rows_inserted == 0 && entry2.rows_updated == 3)
  }

  test("expression mapper == column mapper on every dirty shape") {
    import graft.flatten.PayloadExplode
    import spark.implicits._
    val pages = Seq(
      (2011, 1, """[
        {"unitid":100654,"instnm":"Alabama A & M University (renamed)","city":" Normal ","stabbr":"AL","sector_cd":1,"lat":"34.783368","lon":"-86.568502"},
        {"unitid":100663,"year":2011,"instnm":"-1","name":"UAB","stabbr":"-2","state":"AL","sector":"-3","control":"1","fips":"12.5"},
        {"unitid":999999,"year":2011,"inst_name":"   ","city":"","sector":-2,"fips":-1,"latitude":-3},
        {"unitid":1,"year":2011,"sector":"12.5","sector_cd":"3","zip5":" 35762 ","phone":"256-372-5000"}]"""))
      .toDF("year", "page_number", "payload")
    val viaExpr = PayloadExplode.toCore(pages, Registry.directory)
      .orderBy("unitid").collect().toSeq
    val viaCols = PayloadExplode.toCoreViaColumns(pages, Registry.directory)
      .orderBy("unitid").collect().toSeq
    assert(viaExpr == viaCols)
  }

  test("pick-then-cast: malformed first alias does NOT fall through") {
    import graft.flatten.PayloadExplode
    import spark.implicits._
    // Reference: _to_int(_pick(...)) picks "12.5" (non-missing), cast
    // fails → NULL; it never consults sector_cd (directory.py:132+).
    // A missing (-1) first alias IS skipped in favor of sector_cd.
    val pages = Seq((2020, 1,
      """[{"unitid":1,"year":2020,"sector":"12.5","sector_cd":"3"},
          {"unitid":2,"year":2020,"sector":"-1","sector_cd":"4"}]"""))
      .toDF("year", "page_number", "payload")
    val rows = PayloadExplode.toCore(pages, Registry.directory)
      .select("unitid", "sector").orderBy("unitid").collect()
    assert(rows(0).isNullAt(1), "malformed pick must not fall through")
    assert(rows(1).getInt(1) == 4, "sentinel pick must fall through")
  }

  test("intra-batch PK duplicates: the LAST record in page order wins") {
    import graft.flatten.PayloadExplode
    import graft.store.CoreStore
    import spark.implicits._
    val root = tmpDir("graft-lastwins")
    // Same (unitid, year) on page 1 and page 2 — reference executemany
    // applies in order, so page 2's name must survive (core_io.py:146-153).
    val pages = Seq(
      (2020, 1, """[{"unitid":7,"year":2020,"inst_name":"first"},
                    {"unitid":7,"year":2020,"inst_name":"second"}]"""),
      (2020, 2, """[{"unitid":7,"year":2020,"inst_name":"third"}]"""))
      .toDF("year", "page_number", "payload")
    val typed = PayloadExplode.toCore(pages, Registry.directory, withOrder = true)
    CoreStore.upsert(spark, typed, root, Registry.directory,
      intraBatchOrder = Seq("__page_number", "__pos"))
    val got = CoreStore.read(spark, root, "directory").collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("inst_name") == "third")
  }

  test("retry/backoff: transient failures recovered within maxRetries") {
    val root = tmpDir("graft-retry")
    val api = new FakeApi
    api.failuresToInject = 2
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val pages = HttpPagedSource.fetchYearPages(
      api, settingsFor(root), "college-university/ipeds/directory", 2011,
      sleeper = ms => { slept += ms; () })
    assert(pages.size == 1)
    assert(slept.toSeq == Seq(2000L, 4000L)) // 2^1, 2^2 seconds
  }

  test("retry exhaustion raises after maxRetries") {
    val api = new FakeApi
    api.failuresToInject = 99
    val e = intercept[RuntimeException] {
      HttpPagedSource.getWithRetries(api, "https://fake.test/x", 3, _ => ())
    }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("non-array results raises the TypeError contract") {
    val api = new Transport {
      override def get(url: String): String = """{"results":{"not":"array"},"next":null}"""
    }
    intercept[IllegalStateException] {
      HttpPagedSource.fetchYearPages(api, settingsFor(tmpDir("graft-na")), "p", 2020, _ => ())
    }
  }

  test("raw and core stores: an existing empty directory is still a first load") {
    val root = tmpDir("graft-emptydir")
    Seq(RawStore.path(root, "directory"), CoreStore.path(root, "directory"))
      .foreach(d => java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(d)))
    val entry = Runner.loadEndpointYears(spark, Registry.directory,
      settingsFor(root), new FakeApi, 2010, 2010)
    assert(entry.rows_inserted == 3 && entry.rows_updated == 0)
    assert(RawStore.read(spark, root, "directory").count() == 2)
    assert(CoreStore.read(spark, root, "directory").count() == 3)
  }

  test("raw and core stores: a corrupt target raises instead of reloading") {
    import scala.jdk.CollectionConverters._
    def corrupt(dir: String): Unit =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.write(p,
          "not parquet".getBytes("UTF-8")))
    // Raw: a corrupt page store must not be rewritten past the hash
    // guard as if it were empty.
    val rawRoot = tmpDir("graft-corrupt-raw")
    Runner.loadEndpointYears(spark, Registry.directory,
      settingsFor(rawRoot), new FakeApi, 2010, 2010)
    corrupt(RawStore.path(rawRoot, "directory"))
    intercept[Exception] {
      Runner.loadEndpointYears(spark, Registry.directory,
        settingsFor(rawRoot), new FakeApi, 2010, 2010)
    }
    // Core: a corrupt core table must not report every row inserted.
    val coreRoot = tmpDir("graft-corrupt-core")
    Runner.loadEndpointYears(spark, Registry.directory,
      settingsFor(coreRoot), new FakeApi, 2010, 2010)
    corrupt(CoreStore.path(coreRoot, "directory"))
    intercept[Exception] {
      Runner.loadEndpointYears(spark, Registry.directory,
        settingsFor(coreRoot), new FakeApi, 2010, 2010)
    }
    assert(LineageLog.readLoadLog(spark, coreRoot).count() == 1,
      "the failed core load must log no counts")
  }

  test("changed content IS rewritten (hash differs → page update)") {
    val root = tmpDir("graft-chg")
    val settings = settingsFor(root)
    Runner.loadEndpointYears(spark, Registry.directory, settings, new FakeApi, 2010, 2010)

    val changedApi = new FakeApi {
      override def get(url: String): String =
        super.get(url).replace("Amridge University", "Amridge University II")
    }
    Runner.loadEndpointYears(spark, Registry.directory, settings, changedApi, 2010, 2010)
    val core = CoreStore.read(spark, root, "directory")
    assert(core.where(col("inst_name") === "Amridge University II").count() == 1)
    assert(core.count() == 3)
  }
}
