package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S3+S4: the raw (bronze) page store — partitioned parquet with the
  * reference's hash-guarded upsert semantics.
  *
  * Reference: one row per API page keyed (year, page_number) with a
  * content sha1; re-ingesting rewrites a page ONLY when its hash changed
  * (`ON CONFLICT ... DO UPDATE ... WHERE source_hash IS DISTINCT FROM
  * EXCLUDED.source_hash`, /root/reference/etl/raw_io.py:181-193). Unchanged
  * pages keep their original row — including `ingested_at` — and pages not
  * present in the new batch are never deleted.
  *
  * Spark realization (vanilla parquet, no table format): per-year dynamic
  * partition overwrite after a hash anti-join.
  *   - `year` partition column ≡ the reference's year index (raw_io.py:116):
  *     partition pruning replaces it.
  *   - the hash index (raw_io.py:115) needs no analogue: the guard is an
  *     anti-join, and parquet min/max stats cover hash point-lookups.
  *   - only partitions containing at least one changed/new page are
  *     rewritten (partitionOverwriteMode=dynamic — untouched years keep
  *     their files, preserving the reference's "reruns are no-ops" property
  *     byte-for-byte).
  * At 100 TB: the anti-join is broadcast-size (hashes only — ~50 B/page),
  * and rewrite cost is proportional to changed years, not table size.
  */
object RawStore {

  val pageKey: Seq[String] = Seq("year", "page_number")

  def path(root: String, endpoint: String): String = s"$root/raw/$endpoint"

  /** Whether `target` holds at least one data file — a file Spark
    * would read: no path component below `target` starts with `_` or
    * `.`, so a crashed writer's `_temporary/` does not count. It is the
    * ONLY condition under which a store load counts as a first load: a
    * target that holds data but fails to read is an error, never an
    * empty store (treating it as one would rewrite every page past the
    * hash guard, or report the whole core table as inserted). */
  private[store] def hasDataFiles(spark: SparkSession,
                                  target: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def holdsData(dir: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (!st.isDirectory || holdsData(st.getPath))
      }
    fs.exists(root) && holdsData(root)
  }

  /** Hash-guarded page upsert. `pages` columns: year, page_number,
    * source_url, source_hash, ingested_at, record_count, payload. */
  def upsertPages(spark: SparkSession, pages: DataFrame, root: String,
                  endpoint: String): Long = {
    val target = path(root, endpoint)
    val existing: Option[DataFrame] =
      if (hasDataFiles(spark, target)) Some(spark.read.parquet(target))
      else None

    existing match {
      case None =>
        pages.write.partitionBy("year").mode(SaveMode.Overwrite).parquet(target)
        pages.count()
      case Some(old) =>
        // Changed or brand-new pages: incoming rows whose (key, hash) triple
        // has no exact match — matching rows are skipped (hash guard).
        // Persisted: counted here, then read again by the rewrite.
        val changed = pages.alias("n").join(old.alias("o"),
          pageKey.map(k => col(s"n.$k") === col(s"o.$k")) :+
            (col("n.source_hash") === col("o.source_hash")) reduce (_ && _),
          "left_anti").cache()
        try {
          val nChanged = changed.count()
          if (nChanged > 0) {
            // Rewrite only affected years: survivors = old rows not
            // replaced by a changed row, plus the changed rows.
            val years = changed.select("year").distinct()
            val oldAffected = old.join(years, Seq("year"), "left_semi")
            val keptOld = oldAffected.alias("o").join(changed.alias("n"),
              pageKey.map(k => col(s"o.$k") === col(s"n.$k")) reduce (_ && _),
              "left_anti")
            val merged = keptOld.unionByName(changed.select(keptOld.columns.toIndexedSeq.map(col): _*))
            merged.write.partitionBy("year").mode(SaveMode.Overwrite).parquet(target)
          }
          nChanged
        } finally changed.unpersist(): Unit
    }
  }

  def read(spark: SparkSession, root: String, endpoint: String,
           years: Seq[Int] = Nil): DataFrame = {
    val df = spark.read.parquet(path(root, endpoint))
    if (years.isEmpty) df else df.where(col("year").isin(years: _*))
  }
}
