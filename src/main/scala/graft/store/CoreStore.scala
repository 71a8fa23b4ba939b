package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.registry.EndpointConfig

/** S6+S7: the core (silver) typed store — registry-driven schema, composite
  * PK enforced by dedup-on-write, idempotent last-write-wins upsert.
  *
  * Reference: generated `INSERT ... ON CONFLICT (pk) DO UPDATE SET
  * <non-pk>=EXCLUDED.<non-pk>` — full-field overwrite, newest batch wins
  * (/root/reference/etl/core_io.py:93-113). DDL comes from the registry
  * (core_io.py:26-54); the year + state_abbr indexes from notebook 20 map to
  * year partitioning + a state_abbr secondary sort on write (parquet min/max
  * stats then skip row-groups on state filters).
  *
  * Spark realization: incoming batch wins over existing rows per PK (batch
  * precedence flag), rewrite only the year partitions the batch touches.
  * At 100 TB the rewrite cost is O(touched years), and the PK dedup is one
  * hash shuffle with AQE skew handling.
  */
object CoreStore {

  def path(root: String, endpoint: String): String = s"$root/core/$endpoint"

  /** Upsert `rows` (already typed to `endpoint.schema`) into the store.
    *
    * `intraBatchOrder` names extra columns on `rows` (e.g. page/record
    * position from `PayloadExplode.toCore(withOrder=true)`) that order the
    * batch: among duplicate PKs the HIGHEST order wins, reproducing the
    * reference's executemany last-record-wins semantics
    * (core_io.py:146-153). Without it, an arbitrary-but-single row per PK
    * survives. Returns (inserted, updated), the load_log fields. */
  def upsert(spark: SparkSession, rows: DataFrame, root: String,
             endpoint: EndpointConfig,
             sortWithin: Option[String] = Some("state_abbr"),
             intraBatchOrder: Seq[String] = Nil): (Long, Long) = {
    val target = path(root, endpoint.name)
    val pk = endpoint.primaryKey
    require(pk.nonEmpty, s"endpoint ${endpoint.name} has no primary key")

    // PK null check: reference PKs are NOT NULL (core_io.py DDL).
    val incoming = rows.where(pk.map(col(_).isNotNull).reduce(_ && _))

    val existing: Option[DataFrame] =
      if (RawStore.hasDataFiles(spark, target)) Some(spark.read.parquet(target))
      else None

    val dataCols = endpoint.columns.map(_.target)
    val ordCols: Seq[Column] =
      if (intraBatchOrder.nonEmpty) intraBatchOrder.map(col)
      else Seq(monotonically_increasing_id())

    existing match {
      case None =>
        val deduped = Upsert.dedupByKey(incoming, pk, ordCols)
          .select(dataCols.map(col): _*)
        write(deduped, target, sortWithin)
        (count(spark, target), 0L)
      case Some(old) =>
        // The batch (raw read, explode, cleaning, mapping) feeds both
        // counts and the rewrite: derive it once.
        val batch = incoming.cache()
        try {
          val years = batch.select("year").distinct()
          val oldAffected = old.join(years, Seq("year"), "left_semi")
          // Old rows lose to ANY incoming row (__prec), so their order
          // columns are constant placeholders.
          val oldTagged = oldAffected.select(dataCols.map(col): _*)
            .withColumn("__prec", lit(0))
          val oldWithOrd = intraBatchOrder.foldLeft(oldTagged)(
            (df, c) => df.withColumn(c, lit(-1L)))
          val newTagged = batch
            .select((dataCols ++ intraBatchOrder).map(col): _*)
            .withColumn("__prec", lit(1))
          val merged = Upsert.dedupByKey(
              oldWithOrd.unionByName(newTagged), pk, col("__prec") +: ordCols)
            .select(dataCols.map(col): _*)
          val updated = batch.join(oldAffected, pk, "left_semi").count()
          val inserted = batch.join(oldAffected, pk, "left_anti")
            .select(pk.map(col): _*).distinct().count()
          write(merged, target, sortWithin)
          (inserted, updated)
        } finally batch.unpersist(): Unit
    }
  }

  private def write(df: DataFrame, target: String, sortWithin: Option[String]): Unit = {
    val sorted = sortWithin.filter(df.columns.contains)
      .map(c => df.sortWithinPartitions(col(c))).getOrElse(df)
    sorted.write.partitionBy("year").mode(SaveMode.Overwrite).parquet(target)
  }

  private def count(spark: SparkSession, target: String): Long =
    spark.read.parquet(target).count()

  /** Read the core table regardless of which sink wrote it: a committed
    * [[MergeStore]] manifest at the path means the merge layout (read
    * exactly the live files), otherwise CoreStore's partitioned parquet.
    * Either way the year filter prunes — partition pruning here,
    * parquet min/max on the range-clustered year column there. */
  def read(spark: SparkSession, root: String, endpoint: String,
           years: Seq[Int] = Nil): DataFrame = {
    val target = path(root, endpoint)
    val df =
      if (MergeStore.exists(target)) MergeStore.read(spark, target)
      else spark.read.parquet(target)
    if (years.isEmpty) df else df.where(col("year").isin(years: _*))
  }
}
