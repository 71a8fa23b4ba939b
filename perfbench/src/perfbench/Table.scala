package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.store.{GraftCatalog, MergeStore}
import graft.streaming.StreamingSync

/** Content of a table version as the checks compare it: row count and
  * sums over the rows of `id`, `grp`, `val` and `crc32(tag)`. A missed
  * delete changes the count; a row from another version changes a sum. */
final case class Fp(count: Long, ids: Long, grps: Long, vals: Long, tags: Long)

object Fp {
  type Model = HashMap[Long, (Int, Long, String)]

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** Fingerprint computed apart from the program, from the model. */
  def of(m: Model): Fp = m.foldLeft(Fp(0, 0, 0, 0, 0)) { case (f, (id, (g, v, t))) =>
    Fp(f.count + 1, f.ids + id, f.grps + g, f.vals + v, f.tags + crc(t))
  }

  /** Fingerprint of a table read, computed by one Spark aggregate. */
  def of(df: DataFrame): Fp = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
      coalesce(sum(col("grp").cast("long")), lit(0L)), coalesce(sum(col("val")), lit(0L)),
      coalesce(sum(crc32(col("tag").cast("binary"))), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }
}

/** `table`: the table format's write path beside its read path. A keyed
  * table (`id`, `grp`, `val`, `tag`) is written with `MergeStore.init`;
  * every round runs a fixed verb mix (a merge favouring recent keys, an
  * append, merge-on-read delete and update, one SQL statement through
  * the `graft` catalog) with reads between the writes (latest snapshot,
  * as-of reads near and several checkpoint intervals back, a `changes`
  * span, and a `StreamingSync` AvailableNow follower), then compacts,
  * drains the background checkpoints and vacuums. A
  * reference model (one immutable map per version) checks every read.
  * The mix is size-neutral: each round inserts as many keys as it
  * deletes, and the replica is compacted with the table, so rounds cost
  * the same however many a run makes. Set-up runs `WarmRounds` untimed
  * rounds on the same table. */
final class Table extends Workload {
  val InitRows = 20000
  val WarmRounds = 1
  val InitFiles = 4
  val CkptInterval = 2
  val MergeRecent = 300
  val MergeOld = 60
  val MergeNew = 40
  val AppendRows = 200
  val DeleteRows = MergeNew + AppendRows
  val UpdateRows = 100
  val SqlRows = 50
  val RetainVersions = 4 * CkptInterval
  val Pk = Seq("id")

  private val schema = StructType(Seq(StructField("id", LongType), StructField("grp", IntegerType),
    StructField("val", LongType), StructField("tag", StringType)))

  private var t: String = _
  private var replica: String = _
  private var rnd: scala.util.Random = _
  private var model: Fp.Model = HashMap.empty
  private val snaps = mutable.Map[Int, Fp.Model]()
  private var lo = 0L
  private var hi = 0L
  private var synced = 0
  private var commitS = 0.0
  private var commits = 0L
  private var readS = 0.0
  private var reads = 0L
  private var userRows = 0L
  private val seenFiles = mutable.Set[String]()
  private var writtenBytes = 0L

  private def head: Int = MergeStore.version(t).get

  private def frame(spark: SparkSession, rows: Seq[(Long, Int, Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (a, b, c, d) => Row(a, b, c, d) }.asJava, schema)

  private def row(id: Long, tag: String) = (id, rnd.nextInt(100), rnd.nextInt(1000000).toLong, tag)

  /** Record the model as the content of the table's head version. */
  private def commitModel(): Unit = snaps(head) = model

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    rnd = new scala.util.Random(ctx.seed)
    t = s"${ctx.dir}/table/t"
    replica = s"${ctx.dir}/table/replica"
    val init = (0L until InitRows).map(i => row(i, s"init-$i"))
    model = HashMap(init.map { case (i, g, v, s) => i -> (g, v, s) }: _*)
    lo = 0L; hi = InitRows.toLong
    MergeStore.init(spark, frame(spark, init), t, InitFiles, clusterBy = Pk,
      meta = Map("ckpt.interval" -> CkptInterval.toString))
    commitModel()
    GraftCatalog.register("bench.t", t)
    Main.note("table initialized")
    // Warm-up rounds leave out the follower, whose cost does not fall
    // with warm-up; the replica starts from the snapshot they leave.
    (1 to WarmRounds).foreach { i =>
      round(ctx, -i)
      Main.note(s"warm-up round $i done")
    }
    synced = head
    MergeStore.init(spark, MergeStore.read(spark, t), replica, InitFiles, clusterBy = Pk)
    Files.list(Paths.get(t, "data")).iterator().asScala.foreach(p => seenFiles += p.toString)
    Main.note("replica initialized")
  }

  /** A write: timed into `table_commits_per_s` and the model follows. */
  private def write[T](ctx: Ctx, layer: String, rows: Long)(body: => T)(apply: T => Unit): Unit = {
    ctx.op(layer, "store")(body).foreach { v =>
      apply(v)
      commitModel()
      if (ctx.measuring) {
        commitS += ctx.lastOpS; commits += 1; userRows += rows
        Files.list(Paths.get(t, "data")).iterator().asScala.foreach { p =>
          if (seenFiles.add(p.toString)) writtenBytes += Files.size(p)
        }
      }
    }
  }

  private def read[T](ctx: Ctx, layer: String, module: String)(body: => T): Option[T] = {
    val r = ctx.op(layer, module)(body)
    if (ctx.measuring && r.isDefined) { readS += ctx.lastOpS; reads += 1 }
    r
  }

  private def checkRead(ctx: Ctx, what: String, v: Int, got: Option[Fp]): Unit =
    got.foreach(g => Checks.snapshot(s"$what at v$v", g, snaps(v)).foreach(p => ctx.fail(s"table: $p")))

  def round(ctx: Ctx, index: Int): Unit = {
    val spark = ctx.spark
    val tag = s"r$index"
    // Merge: recent keys mostly, some old ones, some new.
    val recent = (1 to MergeRecent).map(_ => hi - 1 - rnd.nextInt(3000)).filter(_ >= lo)
    val old = (1 to MergeOld).map(_ => lo + rnd.nextInt((hi - lo).toInt).toLong)
    val ups = (recent ++ old).distinct.map(row(_, s"$tag-m")) ++
      (hi until hi + MergeNew).map(row(_, s"$tag-n"))
    hi += MergeNew
    write(ctx, "store.merge", ups.size)(MergeStore.merge(spark, frame(spark, ups), t, Pk)) { st =>
      ups.foreach { case (i, g, v, s) => model = model.updated(i, (g, v, s)) }
      ctx.perRound.add("store.files_rewritten", st.filesRewritten)
    }
    readLatest(ctx)
    // Append.
    val app = (hi until hi + AppendRows).map(row(_, s"$tag-a"))
    hi += AppendRows
    write(ctx, "store.append", app.size)(MergeStore.append(spark, frame(spark, app), t)) { st =>
      app.foreach { case (i, g, v, s) => model = model.updated(i, (g, v, s)) }
      ctx.perRound.add("store.files_added", st.filesAdded)
    }
    readAsOf(ctx, head - 2, "as-of recent")
    // Merge-on-read delete of the oldest keys.
    val dLo = lo
    lo += DeleteRows
    write(ctx, "store.delete_mor", DeleteRows)(MergeStore.deleteWhereMor(spark, t,
      col("id") >= dLo && col("id") < dLo + DeleteRows)) { st =>
      (dLo until dLo + DeleteRows).foreach(i => model = model.removed(i))
      ctx.perRound.add("store.dv_rows_marked", st.rowsDeleted)
    }
    changes(ctx)
    // Merge-on-read update of a key range.
    val uLo = lo + rnd.nextInt((hi - lo - UpdateRows).toInt)
    write(ctx, "store.update", UpdateRows)(MergeStore.updateWhereMor(spark, t,
      col("id") >= uLo && col("id") < uLo + UpdateRows,
      Map("val" -> (col("val") + 1), "tag" -> lit(s"$tag-u")))) { st =>
      (uLo until uLo + UpdateRows).foreach(i => model.get(i).foreach { case (g, v, _) =>
        model = model.updated(i, (g, v + 1, s"$tag-u")) })
      ctx.perRound.add("store.dv_rows_marked", st.rowsUpdated)
    }
    readAsOf(ctx, head - 3 * CkptInterval, "as-of old")
    // The same upsert spelled as SQL MERGE INTO through the catalog.
    val sLo = lo + rnd.nextInt((hi - lo - SqlRows).toInt)
    val src = (sLo until sLo + SqlRows).map(row(_, s"$tag-q"))
    frame(spark, src).createOrReplaceTempView("bench_src")
    write(ctx, "store.sql_dml", SqlRows)(spark.sql(s"MERGE INTO graft.bench.t t USING bench_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()) { _ =>
      src.foreach { case (i, g, v, s) => model = model.updated(i, (g, v, s)) }
    }
    val follower = index >= 0
    if (follower) sync(ctx)
    // Maintenance, every round.
    write(ctx, "store.compact", 0)(MergeStore.compact(spark, t, InitFiles, clusterBy = Pk))(_ => ())
    if (follower)
      ctx.op("store.compact", "store")(MergeStore.compact(spark, replica, InitFiles, clusterBy = Pk))
        .foreach(_ => if (ctx.measuring) { commitS += ctx.lastOpS; commits += 1 })
    write(ctx, "store.checkpoint_drain", 0)(MergeStore.drainCheckpoints())(_ => ())
    write(ctx, "store.vacuum", 0)(MergeStore.vacuum(t, RetainVersions, graceMillis = 0L))(_ => ())
  }

  private def readLatest(ctx: Ctx): Unit = {
    val v = head
    checkRead(ctx, "latest read", v, read(ctx, "store.read_latest", "store")(Fp.of(MergeStore.read(ctx.spark, t))))
  }

  private def readAsOf(ctx: Ctx, v: Int, what: String): Unit = {
    val floor = math.max(0, head - RetainVersions + 1)
    val at = math.max(v, floor)
    if (snaps.contains(at))
      checkRead(ctx, what, at, read(ctx, "store.read_asof", "store")(Fp.of(MergeStore.read(ctx.spark, t, Some(at)))))
  }

  /** A change span: count(v2) = count(v1) + inserts - deletes, and the
    * inserted and deleted keys are the model's. */
  private def changes(ctx: Ctx): Unit = {
    val v2 = head
    val v1 = math.max(v2 - 3, math.max(0, v2 - RetainVersions + 1))
    read(ctx, "store.changes", "store") {
      MergeStore.changes(ctx.spark, t, v1, v2, Pk).groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }.foreach { byType =>
      Checks.changeSpan(snaps(v1), snaps(v2), byType.getOrElse("insert", 0L),
        byType.getOrElse("delete", 0L)).foreach(p => ctx.fail(s"table: changes($v1, $v2): $p"))
    }
  }

  /** Catch the replica up with an AvailableNow follower; it must equal
    * the model at the source version it caught up to. */
  private def sync(ctx: Ctx): Unit = {
    val v = head
    read(ctx, "streaming.sync", "streaming") {
      val q = StreamingSync.replicate(ctx.spark, t, replica, Pk, synced,
        s"${ctx.dir}/table/replica-ckpt", Trigger.AvailableNow())
      q.awaitTermination()
      Fp.of(MergeStore.read(ctx.spark, replica))
    }.foreach { got =>
      synced = v
      Checks.snapshot(s"replica caught up to v$v", got, snaps(v)).foreach(p => ctx.fail(s"table: $p"))
    }
  }

  def finish(ctx: Ctx, roundTimes: Seq[Double]): Unit = {
    val mb = 1024.0 * 1024.0
    ctx.figures.set("table_commits_per_s", commits / commitS)
    ctx.figures.set("table_reads_per_s", reads / readS)
    ctx.figures.set("table_disk_mb", Main.dirBytes(t) / mb)
    ctx.fixed.set("store.log_mb", Main.dirBytes(s"$t/_manifest") / mb)
    val live = MergeStore.fileSizes(t).map(_._2).sum
    ctx.fixed.set("store.data_live_mb", live / mb)
    ctx.fixed.set("store.data_total_mb", Main.dirBytes(s"$t/data") / mb)
    // Bytes the writes put in data/ per byte of rows the user wrote,
    // a user row costing what a live row costs on disk.
    ctx.fixed.set("store.bytes_written_per_user_byte",
      writtenBytes / math.max(1.0, userRows * live.toDouble / model.size))
    // The final state once more: latest read against the model.
    Checks.snapshot("final latest", Fp.of(MergeStore.read(ctx.spark, t)), model)
      .foreach(p => ctx.fail(s"table: $p"))
  }
}
