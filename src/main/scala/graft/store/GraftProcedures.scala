package graft.store

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance procedures for the SQL front door — Spark 4's
  * native `CALL` statement (DSv2 `ProcedureCatalog`) over the
  * MergeStore maintenance verbs, spelled the way Iceberg spells its
  * `system` procedures:
  *
  *   - `CALL graft.system.history(table => 'db.t')` — the commit log
  *     as rows with per-commit manifest encoding and file deltas
  *     ([[MergeStore.historyDetail]]), oldest first.
  *   - `CALL graft.system.details('db.t')` — one-row table summary
  *     (version, files, bytes, metadata-exact rows, DVs, policies).
  *   - `CALL graft.system.vacuum('db.t', retain_versions => 7)` —
  *     [[MergeStore.vacuum]]; returns the deleted-data-file count.
  *   - `CALL graft.system.compact('db.t', target_files => 8,
  *     zorder_by => 'a,b')` — [[MergeStore.compact]] bin-packing with
  *     optional Z-order / range clustering; returns the new version.
  *   - `CALL graft.system.optimize_small('db.t', small_bytes => n)` —
  *     [[MergeStore.compactSmall]], the incremental OPTIMIZE: only the
  *     small files rewrite; concurrent appends rebase.
  *   - `CALL graft.system.restore('db.t', version => 3)` —
  *     [[MergeStore.restore]]; commits a new head whose content is the
  *     old version's (time travel stays intact).
  *   - `CALL graft.system.clone_table(source => 'db.t',
  *     dest => 'db.t2')` — [[MergeStore.cloneTable]] zero-copy
  *     (hard-linked) clone at an optional pinned version.
  *
  * `SHOW PROCEDURES IN graft.system` and `DESCRIBE PROCEDURE
  * graft.system.vacuum` come free from the same registration. Results
  * surface as `LocalScan` rows — Spark's `InvokeProcedures` turns each
  * into a `LocalRelation`, which is the right scale shape: every
  * output here is metadata-sized (a version number, a count, the
  * commit log), never data. All data-scale work happens inside the
  * verbs, which plan distributed jobs.
  *
  * Reference scope: the reference has no maintenance surface at all
  * (its tables are Postgres, maintenance is `VACUUM` delegated to the
  * database) — this is the engine-native equivalent its BI-facing SQL
  * consumers (`architecture.md:152-158`) would reach for. */
object GraftProcedures {

  private val Namespace = Array("system")

  private def all(catalog: GraftCatalog): Seq[GraftProcedure] = Seq(
    new HistoryProcedure(catalog),
    new DetailsProcedure(catalog),
    new VacuumProcedure(catalog),
    new CompactProcedure(catalog),
    new OptimizeSmallProcedure(catalog),
    new RestoreProcedure(catalog),
    new CloneProcedure(catalog),
    new CheckpointProcedure(catalog),
    new CopyIntoProcedure(catalog))

  private val names = Seq("history", "details", "vacuum", "compact",
    "optimize_small", "restore", "clone_table", "checkpoint",
    "copy_into")

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Namespace) || namespace.isEmpty)
      names.map(n => Identifier.of(Namespace, n)).toArray
    else Array.empty

  def load(catalog: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace),
      s"unknown procedure namespace '${ident.namespace().mkString(".")}': " +
        "graft procedures live under 'system' " +
        "(CALL graft.system.<procedure>)")
    all(catalog).find(_.name == ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name()}': expected one of " +
          names.mkString(", ")))
  }

  /** One class per procedure; `bind` is identity (no overloading), and
    * `call` receives the arguments coerced to [[parameters]]' types in
    * declaration order with defaults filled — Spark's analyzer handles
    * named/positional forms and type coercion. */
  private abstract class GraftProcedure(catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    protected def in(name: String, dt: DataType): ProcedureParameter =
      ProcedureParameter.in(name, dt).build()
    protected def in(name: String, dt: DataType,
                     default: String): ProcedureParameter =
      ProcedureParameter.in(name, dt).defaultValue(default).build()

    protected def str(row: InternalRow, i: Int, param: String): String = {
      require(!row.isNullAt(i), s"procedure $name: '$param' is required")
      row.getUTF8String(i).toString
    }

    /** Comma-separated column list; NULL / '' → Nil. */
    protected def cols(row: InternalRow, i: Int): Seq[String] =
      if (row.isNullAt(i)) Nil
      else row.getUTF8String(i).toString.split(',')
        .map(_.trim).filter(_.nonEmpty).toSeq

    protected def existingPath(table: String): String = {
      val p = catalog.tablePath(table)
      require(MergeStore.exists(p),
        s"procedure $name: no committed MergeStore table at '$table' ($p)")
      p
    }

    protected def result(schema: StructType,
                         out: Seq[InternalRow]): JIterator[Scan] = {
      val materialized = out.toArray
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = materialized
      }
      java.util.List.of(scan).iterator()
    }

    protected def row(values: Any*): InternalRow =
      new GenericInternalRow(values.toArray)
  }

  private final class HistoryProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "history"
    override def description: String =
      "commit log of a MergeStore table, oldest first, retained " +
        "versions only: commit time, manifest encoding (full/delta), " +
        "per-commit added/removed file counts (delta) or the live-file " +
        "count (full) — read off the manifest bodies, never " +
        "reconstructed"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      result(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("commit_time", TimestampType, nullable = false),
          StructField("format", StringType, nullable = false),
          StructField("added_files", IntegerType),
          StructField("removed_files", IntegerType),
          StructField("live_files", IntegerType))),
        MergeStore.historyDetail(p).map { ci =>
          row(ci.version, ci.commitTimeMs * 1000L,
            UTF8String.fromString(ci.format),
            ci.addedFiles.map(Int.box).orNull,
            ci.removedFiles.map(Int.box).orNull,
            ci.liveFiles.map(Int.box).orNull)
        })
    }
  }

  private final class DetailsProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "details"
    override def description: String =
      "one-row table summary: head version, live files and bytes, " +
        "metadata-exact row count (NULL on stats-less tables), " +
        "deletion-vector count, MOR routing, constraint count, " +
        "skip-index policy"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      val spark = SparkSession.active
      val v = MergeStore.version(p).get
      val files = MergeStore.liveFiles(p, Some(v))
      // Sizes come from the manifest's z: lines — zero data-dir stat
      // calls.
      val bytes = MergeStore.fileSizes(p, Some(v)).map(_._2).sum
      result(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("live_files", IntegerType, nullable = false),
          StructField("total_bytes", LongType, nullable = false),
          StructField("row_count", LongType),
          StructField("deletion_vectors", IntegerType, nullable = false),
          StructField("mor", BooleanType, nullable = false),
          StructField("constraints", IntegerType, nullable = false),
          StructField("stats_cols", StringType))),
        // Every accessor pinned at v — a rival committing mid-call must
        // not mix two versions into one "summary" row.
        Seq(row(v, files.size, bytes,
          MergeStore.rowCount(spark, p, Some(v)).map(Long.box).orNull,
          MergeStore.dvMeta(p, Some(v)).size,
          GraftCatalog.isMor(p, Some(v)),
          MergeStore.constraints(p, Some(v)).size,
          Option(MergeStore.statsColumns(p, Some(v)))
            .filter(_.nonEmpty)
            .map(cs => UTF8String.fromString(cs.mkString(","))).orNull)))
    }
  }

  private final class VacuumProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "vacuum"
    override def description: String =
      "delete data files outside the retention window " +
        "(retain_versions manifests); grace_millis protects in-flight " +
        "writers — lower it only in single-writer maintenance windows"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("retain_versions", IntegerType, "1"),
      in("grace_millis", LongType, MergeStore.DefaultVacuumGraceMillis.toString),
      in("dry_run", BooleanType, "false"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      val dryRun = !input.isNullAt(3) && input.getBoolean(3)
      val deleted = MergeStore.vacuum(p,
        retainVersions = if (input.isNullAt(1)) 1 else input.getInt(1),
        graceMillis = if (input.isNullAt(2))
          MergeStore.DefaultVacuumGraceMillis else input.getLong(2),
        dryRun = dryRun)
      result(
        StructType(Seq(
          StructField("deleted_files", IntegerType, nullable = false),
          StructField("dry_run", BooleanType, nullable = false))),
        Seq(row(deleted, dryRun)))
    }
  }

  private final class CompactProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "compact"
    override def description: String =
      "rewrite the table into target_files files (bin-packing); " +
        "zorder_by (Morton) or cluster_by (range) lay the rewrite out " +
        "for data skipping; commits one new version"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("target_files", IntegerType),
      in("zorder_by", StringType, "NULL"),
      in("cluster_by", StringType, "NULL"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      require(!input.isNullAt(1),
        "procedure compact: 'target_files' is required")
      val v = MergeStore.compact(SparkSession.active, p, input.getInt(1),
        clusterBy = cols(input, 3), zorderBy = cols(input, 2))
      result(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("files", IntegerType, nullable = false))),
        Seq(row(v, MergeStore.liveFiles(p, Some(v)).size)))
    }
  }

  private final class OptimizeSmallProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "optimize_small"
    override def description: String =
      "incremental OPTIMIZE: bin-pack only the live files smaller " +
        "than small_bytes into ~target_file_bytes files (right-sized " +
        "files untouched; deletion vectors materialize); concurrent " +
        "appends rebase, never recompute"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("small_bytes", LongType),
      in("target_file_bytes", LongType, (128L << 20).toString),
      in("max_retries", IntegerType, "3"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      require(!input.isNullAt(1),
        "procedure optimize_small: 'small_bytes' is required")
      val st = MergeStore.compactSmall(SparkSession.active, p,
        input.getLong(1),
        targetFileBytes = if (input.isNullAt(2)) 128L << 20
          else input.getLong(2),
        maxRetries = if (input.isNullAt(3)) 3 else input.getInt(3))
      result(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("compacted", IntegerType, nullable = false),
          StructField("produced", IntegerType, nullable = false))),
        Seq(row(st.version, st.compacted, st.produced)))
    }
  }

  private final class RestoreProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "restore"
    override def description: String =
      "commit a new head whose content is an old version's (history " +
        "stays intact); pick the version by number or by timestamp " +
        "(resolved against the durable in-commit instants); reaches " +
        "only versions inside vacuum retention"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("version", IntegerType, "NULL"),
      in("timestamp", StringType, "NULL"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      val target = (input.isNullAt(1), input.isNullAt(2)) match {
        case (false, true) => input.getInt(1)
        case (true, false) =>
          val ts = input.getUTF8String(2).toString
          MergeStore.versionAt(p, GraftTableChanges.parseTsMillisArg(ts))
            .getOrElse(sys.error(
              s"restore: no commit at or before '$ts' is retained"))
        case _ => sys.error(
          "procedure restore: exactly one of 'version' and 'timestamp'")
      }
      val v = MergeStore.restore(SparkSession.active, p, target)
      result(
        StructType(Seq(
          StructField("new_version", IntegerType, nullable = false),
          StructField("restored_version", IntegerType, nullable = false))),
        Seq(row(v, target)))
    }
  }

  private final class CloneProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "clone_table"
    override def description: String =
      "zero-copy clone (hard-linked data files, fresh manifest) of a " +
        "table at its head or a pinned version; dest resolves through " +
        "the catalog (warehouse or registration) and must be empty"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("source", StringType), in("dest", StringType),
      in("version", IntegerType, "NULL"),
      in("timestamp", StringType, "NULL"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val src = existingPath(str(input, 0, "source"))
      val dest = catalog.tablePath(str(input, 1, "dest"))
      require(input.isNullAt(2) || input.isNullAt(3),
        "procedure clone_table: at most one of 'version' and 'timestamp'")
      // Resolve the head ONCE and clone at that pinned version — a
      // rival commit to the source mid-call must not make the reported
      // cloned_version diverge from the version actually cloned.
      val v = (if (input.isNullAt(2)) None else Some(input.getInt(2)))
        .orElse(if (input.isNullAt(3)) None else {
          val ts = input.getUTF8String(3).toString
          Some(MergeStore.versionAt(src,
            GraftTableChanges.parseTsMillisArg(ts)).getOrElse(sys.error(
            s"clone_table: no commit at or before '$ts' is retained")))
        })
        .orElse(MergeStore.version(src)).get
      MergeStore.cloneTable(SparkSession.active, src, dest, Some(v))
      result(
        StructType(Seq(
          StructField("cloned_version", IntegerType, nullable = false),
          StructField("dest_path", StringType, nullable = false))),
        Seq(row(v, UTF8String.fromString(dest))))
    }
  }

  private final class CheckpointProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "checkpoint"
    override def description: String =
      "materialize a version (head by default) as a .ckpt sidecar, " +
        "bounding every reader's reconstruction walk there without " +
        "waiting for the interval-th commit; honors the table's " +
        "graft.ckpt.format policy (parquet = columnar, " +
        "predicate-readable); no-op when already bounded"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("version", IntegerType, "NULL"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      val v = MergeStore.checkpoint(p,
        if (input.isNullAt(1)) None else Some(input.getInt(1)))
      val ckpt = java.nio.file.Paths.get(p, "_manifest", s"v$v.ckpt")
      val format =
        if (!java.nio.file.Files.exists(ckpt)) "already-full"
        else if (ParquetCkpt.isParquetFile(ckpt)) "parquet"
        else "text"
      result(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("format", StringType, nullable = false))),
        Seq(row(v, UTF8String.fromString(format))))
    }
  }

  private final class CopyIntoProcedure(catalog: GraftCatalog)
      extends GraftProcedure(catalog) {
    override def name: String = "copy_into"
    override def description: String =
      "idempotent bulk-file ingest (Delta's COPY INTO): load a source " +
        "path/glob into the table exactly once — re-runs skip files " +
        "already in the manifest ledger (force => true re-loads); " +
        "pattern is a regex the file name must fully match; text " +
        "formats read with the table's recorded schema"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("source", StringType),
      in("format", StringType, "'parquet'"),
      in("pattern", StringType, "NULL"),
      in("force", BooleanType, "false"))
    override def call(input: InternalRow): JIterator[Scan] = {
      val p = existingPath(str(input, 0, "table"))
      val st = MergeStore.copyInto(SparkSession.active, p,
        str(input, 1, "source"),
        format = if (input.isNullAt(2)) "parquet"
          else input.getUTF8String(2).toString,
        filePattern = if (input.isNullAt(3)) None
          else Some(input.getUTF8String(3).toString),
        force = !input.isNullAt(4) && input.getBoolean(4))
      result(
        StructType(Seq(
          StructField("version", IntegerType, nullable = true),
          StructField("files_loaded", IntegerType, nullable = false),
          StructField("files_skipped", IntegerType, nullable = false),
          StructField("rows_loaded", LongType, nullable = false))),
        Seq(row(st.version.map(Int.box).orNull, st.filesLoaded,
          st.filesSkipped, st.rowsLoaded)))
    }
  }
}
