package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.StreamingBatches
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.store.MergeStore

/** Structured-Streaming CDC source over a [[MergeStore]] table — tail
  * the table's commits as a typed change stream (Delta's
  * `readStream.option("readChangeFeed")` shape, rebuilt on the public
  * v1 Source API).
  *
  * The offset IS the manifest version: `getOffset` reports the current
  * head, and each micro-batch materializes the typed changes of every
  * version in its span, tagged `_commit_version` — exact per-commit
  * attribution, not a span-netted blur, classified in ONE pass over
  * the span ([[changesByCommit]]). All the scale arguments are the
  * change feed's own: a micro-batch scans only the files unique to its
  * versions' manifests, so tailing a trickle-merged 100 TB table costs
  * the trickle, never the table. Downstream, the same feed drives
  * [[graft.operators.IncrementalView]] deltas or [[MergeStore.sync]]
  * replication, now continuously.
  *
  * Exactly-once: versions are dense integers committed via manifest
  * CAS, and data files are immutable, so `changes` over a version span
  * is deterministic and replayable — a restarted query re-reading its
  * checkpointed offset range reproduces the identical batch, which is
  * the whole v1-source replay contract.
  *
  * Why the v1 API (`execution.streaming.Source`) and not DSv2
  * MicroBatchStream: getBatch returns a DataFrame, letting the batch be
  * DECLARED as the relational change-feed plan (file-pruned scans, one
  * signed aggregate and one key window) with Catalyst planning it per
  * micro-batch; a DSv2 PartitionReader would force hand-built row
  * scans, re-implementing the parquet reader outside the optimizer. Spark's own
  * FileStreamSource makes the same choice on the same API.
  */
object MergeStoreCdc {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Table schema + the two CDC columns, resolved at stream start.
    * Schema evolution mid-stream changes the feed's shape; restart the
    * query to pick up the evolved schema (Delta's contract too). */
  def cdcSchema(spark: SparkSession, path: String): StructType =
    MergeStore.read(spark, path).schema
      .add(ChangeTypeCol, StringType, nullable = false)
      .add(CommitVersionCol, LongType, nullable = false)

  /** The BATCH equivalent of a micro-batch span: the typed changes of
    * every commit in it, tagged `_commit_version` — by definition the
    * union over `v` of `changes(v-1, v)`. Shared by the source's
    * getBatch, the `table_changes` TVF and specs pinning
    * stream == batch.
    *
    * It is computed as ONE plan, whatever the span's length: each
    * commit contributes its signed sides ([[MergeStore.changeSides]]),
    * tagged with its version, and a single [[MergeStore
    * .classifyChanges]] pass classifies them all by `(pk,
    * _commit_version)` — one aggregate and one window on one shuffle,
    * where a union of per-commit `changes` plans paid its own for every
    * commit (and a micro-batch plans them all statically, AQE off).
    *
    * Each commit's sides speak ITS OWN version's logical names; a span
    * straddling a RENAME commit would union mismatched names and wedge
    * the stream on a span no restart can change, so every commit's
    * frame is aligned onto the SPAN END's names first — via the stable
    * physical names (`pk` is spelled in the span-end names). A span
    * straddling schema EVOLUTION null-fills the appended columns on
    * pre-evolution commits (allowMissingColumns — the same shape read()
    * gives their files); the data columns always precede
    * `_change_type` and `_commit_version`. */
  def changesByCommit(spark: SparkSession, path: String, pk: Seq[String],
                      includePreimages: Boolean,
                      fromVersion: Int, toVersion: Int): DataFrame = {
    require(toVersion > fromVersion,
      s"empty CDC span ($fromVersion, $toVersion] at $path")
    val sides = (fromVersion + 1 to toVersion).map { v =>
      MergeStore.renameColumns(
        MergeStore.changeSides(spark, path, v - 1, v),
        MergeStore.renameMapBetween(path, v, toVersion))
        .withColumn(CommitVersionCol, lit(v.toLong))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    MergeStore.classifyChanges(sides, pk, Seq(CommitVersionCol),
      includePreimages)
  }

  /** Open the change stream. `fromVersion`: emit commits AFTER this
    * version (default: the head at stream start — new changes only;
    * pass Some(0) to replay history from the initial snapshot).
    *
    * `maxVersionsPerBatch` (0 = unbounded) caps how many commits one
    * micro-batch may span. getBatch reads every commit's changed files
    * of its span in one plan, so a restart after long downtime would
    * otherwise drain the whole backlog as ONE micro-batch whose scan
    * and planning cost — and whose all-or-nothing reprocessing on
    * failure — grows linearly with the outage. Capped, an AvailableNow
    * catch-up drains in ceil(backlog / cap) ordinary batches with
    * identical final state (per-commit slicing is exact;
    * spec-pinned). Delta's maxFilesPerTrigger admission shape, in
    * commit units. */
  def readStream(spark: SparkSession, path: String, pk: Seq[String],
                 includePreimages: Boolean = false,
                 fromVersion: Option[Int] = None,
                 maxVersionsPerBatch: Int = 0): DataFrame = {
    val r = spark.readStream
      .format(classOf[MergeStoreCdcProvider].getName)
      .option("path", path)
      .option("pk", pk.mkString(","))
      .option("includePreimages", includePreimages.toString)
      .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
    fromVersion.foreach(v => r.option("fromVersion", v.toString))
    r.load()
  }

  /** [[readStream]] addressed by CATALOG TABLE NAME — the follower
    * route spelled entirely with names: the table resolves through
    * [[graft.store.GraftCatalog.resolvePath]] and the key columns
    * default to its durable `graft.pk` policy, so
    * `readStreamTable(spark, "db.t")` is the whole incantation.
    * Equivalently via options:
    * `spark.readStream.format("graft-cdc").option("table", "db.t")`. */
  def readStreamTable(spark: SparkSession, table: String,
                      pk: Seq[String] = Nil,
                      includePreimages: Boolean = false,
                      fromVersion: Option[Int] = None,
                      maxVersionsPerBatch: Int = 0): DataFrame = {
    val path = graft.store.GraftCatalog.resolvePath(spark, table)
    val keys = if (pk.nonEmpty) pk else MergeStore.tablePk(path)
    require(keys.nonEmpty,
      s"no key columns for the change stream of '$table' — pass pk, " +
        "or declare TBLPROPERTIES('graft.pk'='...') on the table")
    readStream(spark, path, keys, includePreimages, fromVersion,
      maxVersionsPerBatch)
  }
}

/** v1 source provider; registered in META-INF services as `graft-cdc`. */
class MergeStoreCdcProvider extends StreamSourceProvider with DataSourceRegister {
  import MergeStoreCdc._

  override def shortName(): String = "graft-cdc"

  /** `path` (a table directory) or `table` (a catalog name, resolved
    * through the registration-then-warehouse order). */
  private def path(parameters: Map[String, String]): String =
    parameters.get("path")
      .orElse(parameters.get("table").map(t =>
        graft.store.GraftCatalog.resolvePath(SparkSession.active, t)))
      .getOrElse(sys.error(
        "graft-cdc needs option 'path' (a MergeStore table directory) " +
          "or 'table' (a catalog table name, e.g. 'db.orders')"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), cdcSchema(sqlContext.sparkSession, path(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val p = path(parameters)
    // Key columns: the 'pk' option, else the table's durable graft.pk
    // policy — a SQL-declared table streams with no option at all.
    val pk = parameters.get("pk")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .orElse(Some(MergeStore.tablePk(p)).filter(_.nonEmpty))
      .getOrElse(sys.error(
        "graft-cdc needs option 'pk' (comma-separated key columns) — " +
          "or declare TBLPROPERTIES('graft.pk'='...') on the table"))
    new MergeStoreCdcSource(sqlContext.sparkSession, p, pk,
      parameters.get("includePreimages").exists(_.toBoolean),
      parameters.get("fromVersion").map(_.toInt), metadataPath,
      parameters.get("maxVersionsPerBatch").map(_.toInt).getOrElse(0))
  }
}

class MergeStoreCdcSource(spark: SparkSession, path: String,
                          pk: Seq[String], includePreimages: Boolean,
                          fromVersion: Option[Int], metadataPath: String,
                          maxVersionsPerBatch: Int = 0)
    extends Source with SupportsTriggerAvailableNow {
  import MergeStoreCdc._

  // ------------------------------------------------------------------
  // The start version — commits at or below it are never emitted — is
  // resolved ONCE per CHECKPOINT and persisted under the source's
  // checkpoint metadata dir (the FileStreamSource own-log pattern;
  // Delta's startingVersion semantic). Re-resolving `fromVersion = None`
  // to "the current head" at every source CREATION was wrong twice
  // over: commits landing while the query was down (checkpointed offset
  // < v <= restart-time head) were hidden behind the new start and an
  // AvailableNow run terminated without draining them; and the v1
  // restart contract — the engine re-calls getBatch(None, lastEnd) for
  // batch 0 both to re-initialize a source after a committed batch and
  // to RERUN an uncommitted one — needs the start that batch was
  // originally built against, or the rerun returns the wrong span.
  // ------------------------------------------------------------------

  /** Commits at or below this version are NOT emitted. First creation
    * under a checkpoint resolves it (explicit `fromVersion`, else the
    * current head — "new changes only") and persists it; every later
    * creation reads it back, so the stream's origin is a property of
    * the CHECKPOINT, not of when the process happened to restart.
    *
    * Persistence goes through Spark's own CheckpointFileManager (the
    * machinery the offset/commit logs use), NOT java.nio Paths: the
    * checkpoint may live on any Hadoop-visible scheme (hdfs://,
    * s3a://), where Paths.get(URI) throws FileSystemNotFoundException
    * and an fs.rename-based atomic write is the only portable one. */
  private val startVersion: Int = {
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    val dir = new org.apache.hadoop.fs.Path(metadataPath)
    val fm = CheckpointFileManager.create(dir,
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(dir, "graft-cdc-start.v")
    if (fm.exists(p)) {
      val in = fm.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
          .foreach(n => bytes.write(buf, 0, n))
        new String(bytes.toByteArray, "UTF-8").trim.toInt
      } finally in.close()
    } else {
      val v = fromVersion.getOrElse(MergeStore.version(path).getOrElse(0))
      fm.mkdirs(dir)
      // createAtomic publishes by rename: readers (and a racing twin of
      // this source) see the whole value or no file, never a torn one.
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      try {
        out.write(v.toString.getBytes("UTF-8")); out.close()
      } catch { case e: Throwable => out.cancel(); throw e }
      v
    }
  }

  override val schema: StructType = cdcSchema(spark, path)

  private def headOffset: Option[Long] =
    MergeStore.version(path).map(_.toLong).filter(_ > startVersion)

  /** Trigger.AvailableNow support (the FileStreamSource pattern): the
    * run processes commits up to the head CAPTURED AT START and then
    * terminates — commits racing in later belong to the next run. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headOffset.getOrElse(startVersion.toLong))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** End version of the last span getBatch built — the base the
    * per-batch admission cap advances from. Set by every getBatch call,
    * including the engine's restart re-initialization one, so after a
    * restart the cap resumes from the checkpoint's last end, not the
    * start. Never load-bearing for correctness (offsets are), only for
    * the cap's arithmetic. */
  @volatile private var lastBatchEnd: Option[Long] = None

  override def latestOffset(start: ConnectorOffset,
                            limit: ReadLimit): ConnectorOffset = {
    val availCapped = availableNowCap match {
      case Some(cap) => headOffset.map(math.min(_, cap))
        .filter(_ > startVersion)
      case None => headOffset
    }
    // Admission cap: one micro-batch spans at most maxVersionsPerBatch
    // commits past the last batch's end — a long-downtime backlog
    // drains in bounded batches instead of one backlog-sized plan.
    val capped =
      if (maxVersionsPerBatch <= 0) availCapped
      else {
        val base = lastBatchEnd.getOrElse(startVersion.toLong)
        availCapped.map(math.min(_, base + maxVersionsPerBatch))
          .filter(_ > startVersion)
      }
    capped.map(LongOffset(_)).orNull
  }

  override def reportLatestOffset(): ConnectorOffset =
    headOffset.map(LongOffset(_)).orNull

  override def getOffset: Option[V1Offset] =
    Option(latestOffset(null, null)).map(_.asInstanceOf[V1Offset])

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    // Both LongOffset and the checkpoint-restored SerializedOffset
    // round-trip through json — a bare long either way.
    val fromV = start.map(_.json.toLong.toInt).getOrElse(startVersion)
    val toV = end.json.toLong.toInt
    lastBatchEnd = Some(math.max(toV.toLong,
      lastBatchEnd.getOrElse(Long.MinValue)))
    // Belt and braces with changes()' stable-order contract: the
    // InternalRow wrap below is POSITIONAL, so align to the source
    // schema explicitly before dropping to rows.
    // An EQUAL span (toV == fromV) is always the benign no-op shape:
    // restart re-initialization replays getBatch(start, end) for the
    // last committed entry, and when that entry was a NO-DATA batch (a
    // watermark-advancing tick of a downstream stateful consumer) its
    // start and end offsets coincide — a healthy checkpoint must not
    // die here. With start ABSENT an empty span is likewise the batch-0
    // re-init (history at or below the persisted start). Only an
    // INVERTED span (toV < fromV) with a known start means the
    // checkpoint and the graft-cdc-start.v marker disagree — e.g. the
    // marker lost from a partially-copied checkpoint while the offset
    // log survived, re-resolving the start past committed offsets — and
    // a silent empty batch would SKIP the commits in between; fail
    // loudly instead.
    val batch =
      if (toV < fromV && start.isDefined)
        throw new IllegalStateException(
          s"graft-cdc at $path: inverted batch span ($fromV, $toV] — the " +
            "checkpoint's offset log and its graft-cdc-start.v marker " +
            "disagree (partially copied or hand-edited checkpoint?); " +
            "rebuild the consumer from a fresh checkpoint rather than " +
            "silently skipping the commits in between")
      else if (toV <= fromV)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else alignToStart(
        changesByCommit(spark, path, pk, includePreimages, fromV, toV))
    // v1 contract: the returned plan must be flagged streaming (see
    // SparkStreamingShim). Rows still compute lazily, inside the
    // micro-batch's own job.
    StreamingBatches.asStreamingBatch(spark, batch.queryExecution.toRdd,
      schema)
  }

  /** Align a span's feed onto the stream's START-resolved schema.
    * By name when every start column is present — the common case;
    * evolution-appended columns silently drop until restart (the
    * documented cdcSchema contract). A mid-stream RENAME commit keeps
    * every position and type and only changes names, so when start
    * names are missing but the feed's table columns match the start
    * schema position-for-position and type-for-type, alias them back:
    * the running stream keeps its start shape, a restart adopts the
    * new names (Delta's column-mapping CDC contract). Anything else —
    * a dropped column, a type change — fails loudly; restart to adopt
    * the new schema. The two CDC columns are engine-named and never
    * rename. */
  private def alignToStart(feed: DataFrame): DataFrame = {
    if (schema.fieldNames.forall(feed.columns.contains))
      return feed.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val tableFields = schema.fields.dropRight(2) // CDC cols trail
    val feedTable = feed.schema.fields.filterNot(f =>
      f.name == MergeStoreCdc.ChangeTypeCol ||
        f.name == MergeStoreCdc.CommitVersionCol)
    val positional = feedTable.length >= tableFields.length &&
      tableFields.indices.forall(i =>
        feedTable(i).dataType == tableFields(i).dataType)
    if (!positional)
      throw new IllegalStateException(
        s"graft-cdc at $path: the table's schema changed mid-stream in " +
          "a way the start-resolved shape cannot absorb (dropped " +
          "column or type change) — restart the query to adopt it")
    feed.select(tableFields.indices.map(i =>
      col(feedTable(i).name).as(tableFields(i).name)) :+
      col(MergeStoreCdc.ChangeTypeCol) :+
      col(MergeStoreCdc.CommitVersionCol): _*)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
}
