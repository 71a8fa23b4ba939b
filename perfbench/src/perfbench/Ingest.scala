package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.core.Settings
import graft.registry.Registry
import graft.run.Runner
import graft.sources.HttpPagedSource
import graft.store.{CoreStore, RawStore}
import graft.views.GoldViews

/** IPEDS Directory-shaped API pages generated from a seed, in two
  * versions: `v1` for the first load and `v2` for the re-ingest, where a
  * fixed share of pages changed. Each record carries the value the core
  * table must hold for it after the cleaning rules of FIXTURES.md §A2
  * (sentinels, blanks, alias keys, alias + sentinel, malformed numerics,
  * missing year), worked out here by the generator and not by the
  * program. */
final class IngestData(seed: Long, val years: Seq[Int], institutions: Int,
                       val pageSize: Int, changedShare: Double) {
  import IngestData._

  private val mapper = new ObjectMapper()

  /** One generated record: its JSON and the core row it must produce
    * (columns not named are NULL). */
  final case class Rec(unitid: Int, year: Int, json: ObjectNode, expect: Map[String, Any])

  /** pages(version)(year) = the year's pages in API order. */
  val pages: Map[Int, Map[Int, IndexedSeq[IndexedSeq[Rec]]]] = {
    val rnd = new scala.util.Random(seed)
    val inst = (0 until institutions).map { i =>
      val state = States(rnd.nextInt(States.size))
      (100000 + i * 7, s"Institution ${rnd.nextInt(100000)} of $state", state,
        s"City${rnd.nextInt(500)}", 1 + rnd.nextInt(9),
        round6(25 + rnd.nextDouble() * 20), round6(-120 + rnd.nextDouble() * 50))
    }
    val v1 = years.map { y =>
      val present = inst.filter(_ => rnd.nextDouble() > 0.03)
      val recs = present.map { case (id, name, st, city, sector, lat, lon) =>
        record(rnd, id, y, name, st, city, sector, lat, lon)
      }
      // Duplicate keys: a stale copy early in the year, the final one last
      // (the batch resolves last-record-wins).
      val dups = present.filter(_ => rnd.nextDouble() < 0.02).map {
        case (id, name, st, city, sector, lat, lon) =>
          record(rnd, id, y, name + " (renamed)", st, city, sector, lat, lon)
      }
      y -> (recs ++ dups).grouped(pageSize).map(_.toIndexedSeq).toIndexedSeq
    }.toMap
    // Exactly the same share of each year's pages changes on every seed.
    val v2 = years.map { y =>
      val n = v1(y).size
      val changed = rnd.shuffle((0 until n).toVector)
        .take(math.max(1, math.round(changedShare * n).toInt)).toSet
      y -> v1(y).zipWithIndex.map { case (page, i) =>
        if (!changed(i)) page
        else page.map { r =>
          val name = r.expect("inst_name").asInstanceOf[String] + " Campus"
          val j = r.json.deepCopy()
          Seq("inst_name", "institution_name", "instnm").foreach(j.remove(_))
          j.put("inst_name", name)
          r.copy(json = j, expect = r.expect + ("inst_name" -> name))
        }
      }
    }.toMap
    Map(1 -> v1, 2 -> v2)
  }

  /** (year, page_number) of every page that differs between v1 and v2. */
  val changedPages: Set[(Int, Int)] = years.flatMap { y =>
    pages(1)(y).indices.filter(i => pages(1)(y)(i) ne pages(2)(y)(i)).map(i => (y, i + 1))
  }.toSet

  val recordsPerLoad: Long = years.map(y => pages(1)(y).map(_.size).sum.toLong).sum
  val pagesPerLoad: Long = years.map(y => pages(1)(y).size.toLong).sum

  /** The core table a load of `version` must leave: last record per
    * (unitid, year) in page order. */
  def expectedCore(version: Int): Map[(Int, Int), Map[String, Any]] = {
    val m = mutable.LinkedHashMap[(Int, Int), Map[String, Any]]()
    years.foreach(y => pages(version)(y).foreach(_.foreach(r => m((r.unitid, r.year)) = r.expect)))
    m.toMap
  }

  /** Response bodies by (version, year, page), serialized once. */
  private val bodies: Map[(Int, Int, Int), String] =
    for ((v, byYear) <- pages; (y, ps) <- byYear; (p, i) <- ps.zipWithIndex)
      yield {
        val body = mapper.createObjectNode()
        val arr = body.putArray("results")
        p.foreach(r => arr.add(r.json))
        if (i + 1 < ps.size) body.put("next", s"$ApiBase/$Path/$y/?page=${i + 2}")
        else body.putNull("next")
        (v, y, i + 1) -> mapper.writeValueAsString(body)
      }

  /** The in-memory API: serves `version`'s pages, timing itself into
    * `bench.transport` so generator time is never read as the program's. */
  def transport(version: Int, ctx: Ctx): HttpPagedSource.Transport = new HttpPagedSource.Transport {
    private val Url = """.*/(\d{4})/(?:\?page=(\d+))?$""".r
    def get(url: String): String = {
      val (body, s) = ctx.tracer.span("bench.transport", "bench") {
        url match {
          case Url(y, p) => bodies((version, y.toInt, Option(p).map(_.toInt).getOrElse(1)))
          case _ => throw new IllegalArgumentException(s"unexpected url $url")
        }
      }
      if (ctx.measuring) ctx.perRound.add("bench.transport_s", s)
      body
    }
  }

  private def record(rnd: scala.util.Random, id: Int, y: Int, name: String,
                     state: String, city: String, sector: Int,
                     lat: Double, lon: Double): Rec = {
    val j = mapper.createObjectNode()
    val e = mutable.Map[String, Any]("unitid" -> id, "year" -> y)
    j.put("unitid", id)
    if (rnd.nextDouble() < 0.03) () else j.put("year", y) // missing: page year
    // Name under one of its alias keys; sometimes the first alias holds a
    // sentinel and a later one the value.
    rnd.nextInt(10) match {
      case 0 => j.put("inst_name", "-1"); j.put("instnm", name)
      case 1 | 2 => j.put("instnm", name)
      case 3 => j.put("institution_name", name)
      case _ => j.put("inst_name", name)
    }
    e("inst_name") = name
    rnd.nextInt(20) match {
      case 0 => j.put("state_abbr", "")
      case 1 | 2 | 3 | 4 | 5 => j.put("stabbr", state); e("state_abbr") = state
      case _ => j.put("state_abbr", state); e("state_abbr") = state
    }
    if (rnd.nextInt(20) == 0) j.put("city", "   ")
    else { j.put("city", s" $city "); e("city") = city }
    rnd.nextInt(10) match {
      case 0 => j.put("sector", -1); j.put("sector_cd", sector); e("sector") = sector
      case 1 => j.put("sector", "-2")
      case _ => j.put("sector", sector); e("sector") = sector
    }
    j.put("latitude", lat); e("latitude") = lat
    rnd.nextInt(4) match {
      case 0 => j.put("lon", lon)
      case 1 => j.put("lng", lon)
      case _ => j.put("longitude", lon)
    }
    e("longitude") = lon
    if (rnd.nextInt(20) == 0) j.put("hbcu", "-3")
    else { val h = if (rnd.nextInt(30) == 0) 1 else 0; j.put("hbcu", h); e("hbcu") = h }
    if (rnd.nextInt(14) == 0) j.put("degree_granting", "12.5")
    else { val d = 1 + rnd.nextInt(2); j.put("degree_granting", d.toString); e("degree_granting") = d }
    val size = rnd.nextInt(6)
    j.put("inst_size", if (size == 0) -1 else size)
    if (size != 0) e("inst_size") = size
    val locale = Locales(rnd.nextInt(Locales.size))
    if (rnd.nextBoolean()) j.put("locale", locale) else j.put("urban_centric_locale", locale)
    e("urban_centric_locale") = locale
    val opeid = f"00${id % 100000}%05d00"
    j.put("opeid", opeid); e("opeid") = opeid
    if (rnd.nextInt(10) == 0) { j.put("date_closed", s"$y-06-30"); e("date_closed") = s"$y-06-30" }
    else j.put("date_closed", "-2")
    Rec(id, y, j, e.toMap)
  }
}

object IngestData {
  val ApiBase = "http://bench.invalid/api"
  val Path: String = Registry.directory.path
  val States: Seq[String] = Seq("AL", "AK", "AZ", "CA", "CO", "FL", "GA", "IL", "MA",
    "MI", "NY", "OH", "PA", "TX", "VA", "WA")
  val Locales: Seq[Int] = Seq(11, 12, 13, 21, 22, 23, 31, 32, 33, 41, 42, 43)
  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** `ingest`: the paper's pipeline. Each round starts from a fresh
  * warehouse: a first load through `Runner.loadEndpointYears` and a
  * `GoldViews` refresh, then a re-ingest of the same years in which a
  * fixed share of pages changed. Set-up runs `WarmCycles` untimed cycles
  * of the same data. */
final class Ingest extends Workload {
  /** Two years of 1,200 institutions in pages of 100, a tenth of the
    * pages changed on re-ingest. */
  val Years: Seq[Int] = 2019 to 2020
  val Institutions = 1200
  val PageSize = 100
  val ChangedShare = 0.1
  val WarmCycles = 1

  private var data: IngestData = _
  private val endpoint = Registry.directory
  private var root: String = _
  private var reingestStart: Timestamp = _
  private var loadS = 0.0
  private var reingestS = 0.0

  private def settings(root: String) =
    Settings(apiBase = IngestData.ApiBase, warehouseRoot = root, rateLimitRps = 0,
      maxRetries = 1, rawPageSize = PageSize)

  def setup(ctx: Ctx): Unit = {
    data = new IngestData(ctx.seed, Years, Institutions, PageSize, ChangedShare)
    Main.note("ingest data generated")
    (1 to WarmCycles).foreach { i =>
      cycle(ctx, data, s"warm$i")
      Main.note(s"warm-up cycle $i done")
    }
  }

  /** One load cycle into a fresh warehouse `<dir>/wh-<tag>`. */
  private def cycle(ctx: Ctx, data: IngestData, tag: String): Unit = {
    if (root != null) Main.deleteTree(root)
    root = s"${ctx.dir}/wh-$tag"
    val st = settings(root)
    val first = ctx.op("run.load_endpoint_years", "run") {
      Runner.loadEndpointYears(ctx.spark, endpoint, st, data.transport(1, ctx),
        data.years.head, data.years.last)
    }
    var load = ctx.lastOpS
    ctx.op("views.refresh", "views") {
      val core = CoreStore.read(ctx.spark, root, endpoint.name)
      GoldViews.refresh(GoldViews.institutionsLatest(core), s"$root/gold", "institutions_latest")
      GoldViews.refresh(GoldViews.yearlyKpis(core), s"$root/gold", "yearly_kpis")
    }
    load += ctx.lastOpS
    reingestStart = new Timestamp(System.currentTimeMillis())
    val again = ctx.op("run.load_endpoint_years", "run") {
      Runner.loadEndpointYears(ctx.spark, endpoint, st, data.transport(2, ctx),
        data.years.head, data.years.last)
    }
    if (ctx.measuring) {
      loadS += load
      reingestS += ctx.lastOpS
      Seq(first, again).flatten.foreach(e =>
        ctx.perRound.add("store.core_rows_upserted", (e.rows_inserted + e.rows_updated).toDouble))
    }
  }

  def round(ctx: Ctx, index: Int): Unit = cycle(ctx, data, s"r$index")

  def finish(ctx: Ctx, roundTimes: Seq[Double]): Unit = {
    val rounds = roundTimes.size
    ctx.figures.set("ingest_records_per_s", data.recordsPerLoad * rounds / loadS)
    ctx.figures.set("reingest_records_per_s", data.recordsPerLoad * rounds / reingestS)
    ctx.figures.set("ingest_disk_mb", Main.dirBytes(root) / (1024.0 * 1024.0))
    check(ctx)
  }

  /** Checks of the last cycle's warehouse against the generator. */
  private def check(ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions._
    val spark = ctx.spark
    // Raw: every generated record is held, and the re-ingest rewrote
    // exactly the pages the generator changed.
    val raw = RawStore.read(spark, root, endpoint.name)
      .select("year", "page_number", "record_count", "ingested_at").collect()
    val held = raw.map(_.getInt(2).toLong).sum
    ctx.check(held == data.recordsPerLoad,
      s"ingest: raw record_count total $held != generated ${data.recordsPerLoad}")
    val written = raw.filter(r => !r.getTimestamp(3).before(reingestStart))
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    Checks.pagesWritten(written, data.changedPages).foreach(p => ctx.fail(s"ingest: $p"))
    ctx.fixed.set("store.raw_pages_offered", data.pagesPerLoad.toDouble)
    ctx.fixed.set("store.raw_pages_written", written.size.toDouble)
    ctx.fixed.set("store.raw_guard_skip_ratio", 1.0 - written.size.toDouble / data.pagesPerLoad)
    // Core: equal to the generator's last-write-wins expectation.
    val expected = data.expectedCore(2)
    val cols = endpoint.columns.map(_.target)
    val rows = CoreStore.read(spark, root, endpoint.name).select(cols.map(col): _*).collect()
    Checks.coreRows(rows.toSeq, cols, expected).foreach(p => ctx.fail(s"ingest: $p"))
    // Gold: per-year institution counts.
    val kpis = spark.read.parquet(s"$root/gold/vw/yearly_kpis").collect()
      .map(r => r.getAs[Int]("year") -> r.getAs[Long]("n_institutions")).toMap
    val expKpis = expected.keys.groupBy(_._2).map { case (y, ks) => y -> ks.size.toLong }
    ctx.check(kpis == expKpis, s"ingest: yearly_kpis $kpis != $expKpis")
    // An unchanged re-run writes no page.
    val rerun = data.years.map(y => Runner.loadRawYear(spark, endpoint, settings(root),
      data.transport(2, ctx), y)).sum
    ctx.check(rerun == 0, s"ingest: an unchanged re-run wrote $rerun pages")
  }
}
