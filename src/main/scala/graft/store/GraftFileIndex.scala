package graft.store

import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Planning-time data skipping for MergeStore tables, wired into
  * Catalyst the way Spark itself consumes file listings: a custom
  * [[FileIndex]] behind a parquet `HadoopFsRelation`, so
  * FileSourceStrategy hands `listFiles` the query's data filters and
  * the scan plans ONLY the files whose manifest stats / bloom sidecars
  * can hold a match (Delta's log-backed TahoeLogFileIndex pattern —
  * the skipping the explicit verbs `scanRange`/`scanPoints` do by hand
  * becomes automatic for ANY `.where`, any `spark.sql` over a temp
  * view, any join filter pushed by Catalyst).
  *
  * Why this shape at 100 TB: the index is built from the MANIFEST
  * alone — constructing the plan never lists the data directory or
  * opens a footer, and a selective predicate on a clustered /
  * Z-ordered / bloom-indexed column shrinks the scan to O(overlap)
  * files at plan time, composing with parquet row-group pruning and
  * column projection below it. Filters Spark keeps (it re-applies
  * every filter row-wise) make the pruning a pure superset — a miss
  * in extraction costs reads, never rows.
  *
  * The index pins ONE committed version at construction: a concurrent
  * writer advancing the table never shifts a running query's file set
  * (snapshot isolation), and time travel is just `version = Some(v)`.
  */
final class GraftFileIndex(spark: SparkSession, target: String,
                           val version: Int) extends FileIndex {

  private val files: Seq[String] = MergeStore.liveFiles(target, Some(version))

  // File lengths come from the manifest's `z:` size lines
  // ([[MergeStore.fileSizes]] — exact, recorded at commit), so building
  // the index makes ZERO data-directory metadata calls. Lengths must be
  // exact (split planning reads up to them) — the z: lines are
  // post-move stats, so they are. Modification time
  // is not manifest state; it is reported as the COMMIT time of the
  // pinned version (`_metadata.file_modification_time` on a skipping
  // read reflects the snapshot, not per-file mtimes).
  private val statuses: Map[String, FileStatusWithMetadata] = {
    val commitMs = MergeStore.commitTimeOf(target, version).getOrElse(0L)
    MergeStore.fileSizes(target, Some(version)).map { case (f, len) =>
      f -> FileStatusWithMetadata(new FileStatus(
        len, false, 1, 128L * 1024 * 1024,
        commitMs, new HadoopPath(MergeStore.dataDir(target).resolve(f).toUri)))
    }.toMap
  }

  /** Files the LAST `listFiles` call planned — a plan-audit hook for
    * specs (the FileSourceScanExec `numFiles` metric shows the same
    * number post-execution). */
  @volatile var lastPlannedFiles: Option[Seq[String]] = None

  override def rootPaths: Seq[HadoopPath] =
    Seq(new HadoopPath(MergeStore.dataDir(target).toUri))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val cand =
      MergeStore.candidatesForFilters(target, version, files, dataFilters)
    lastPlannedFiles = Some(cand)
    Seq(PartitionDirectory(InternalRow.empty, cand.map(statuses)))
  }

  override def inputFiles: Array[String] =
    files.map(f => MergeStore.dataDir(target).resolve(f).toString).toArray

  override def refresh(): Unit = () // version-pinned: nothing to refresh

  override def sizeInBytes: Long =
    statuses.valuesIterator.map(_.fileStatus.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)
}

object GraftFileIndex {

  /** The skipping read: a parquet relation over a [[GraftFileIndex]].
    * `readSkipping(t).where(p)` is row-identical to `read(t).where(p)`
    * but plans only manifest-candidate files; with no filters it is
    * exactly `read`. The manifest schema plans with zero footer reads
    * and null-fills evolved columns (same contract as [[MergeStore
    * .read]]). */
  def readSkipping(spark: SparkSession, target: String,
                   version: Option[Int] = None): DataFrame = {
    val v = version.orElse(MergeStore.version(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val index = new GraftFileIndex(spark, target, v)
    val schema = MergeStore.manifestSchema(target, v)
    // The relation speaks the files' PHYSICAL column names (a renamed
    // column keeps its on-disk name); the logical rename is an
    // alias-only projection ON TOP, so Catalyst still pushes user
    // predicates through it into listFiles — which translates the
    // physical attribute names back to the manifest's logical stats
    // keys (MergeStore.candidatesForFilters).
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = MergeStore.physicalSchema(schema),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    // Deletion vectors apply ON TOP of the skipping relation (the
    // anti-join's own filters still push into the scan); a DV-free
    // table gets the bare relation, plan unchanged.
    val dvApplied = MergeStore.applyDv(spark, target, v,
      spark.baseRelationToDataFrame(relation))
    val renames = MergeStore.logicalByPhysical(schema)
    if (renames.isEmpty) dvApplied
    else dvApplied.select(dvApplied.columns.map(c =>
      renames.get(c).map(l => org.apache.spark.sql.functions.col(c).as(l))
        .getOrElse(org.apache.spark.sql.functions.col(c))).toIndexedSeq: _*)
  }
}
