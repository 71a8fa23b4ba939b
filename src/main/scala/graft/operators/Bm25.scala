package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** BM25 keyword retrieval over a document corpus — the inverted-index
  * ranking primitive a curation stack needs next to its ANN stack
  * (retrieval-based decontamination, boilerplate hunting, eval-set
  * mining all start with "find the k docs that best match this query").
  * Okapi BM25 (Robertson & Sparck Jones), with the Lucene idf variant
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` so idf is always positive.
  *
  * The plan IS the inverted index, expressed relationally:
  *
  *   1. postings (term, doc, tf): one explode + map-side-combinable
  *      groupBy — the same shape a Lucene segment write shuffles into;
  *   2. doc lengths re-aggregate FROM the postings (already doc-keyed:
  *      `sum(tf)`), so the corpus text is tokenized exactly once;
  *   3. per-term df and the scalar (N, avgdl) are Heaps-bounded /
  *      single-row aggregates;
  *   4. the query set explodes to (query_id, term), joins idf, and
  *      BROADCASTS into the postings join — map-local over the corpus,
  *      touching only postings whose term some query mentions (the
  *      inverted-index seek, as partition-pruned join instead of a
  *      disk seek). A web-scale query log would flip `broadcastQueries
  *      = false` to a plain term-keyed shuffle join — same plan shape;
  *   5. one (query_id, doc) sum and a query-partitioned top-k window.
  *
  * Nothing is corpus-proportional on the driver; the only corpus-wide
  * shuffles are the postings aggregate and the final scoring groupBy,
  * both map-side combined. Scores are `round(_, 6)` at the edge and
  * ranked on the ROUNDED value (tie-break doc id) so ordering is
  * engine-exact — the q58 transcendental-parity convention.
  */
object Bm25 {

  /** Top-k docs per query. `queries`: (queryIdCol, queryTextCol) rows;
    * whitespace tokenization matches the corpus side. */
  def searchTopK(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, queryIdCol: String, queryTextCol: String,
                 k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                 broadcastQueries: Boolean = true): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val doclen = tf.groupBy(col(idCol)).agg(sum("tf").as("dl"))
    val stats = doclen.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = queries
      .select(col(queryIdCol), explode(split(col(queryTextCol), " ")).as("term"))
      .distinct()
      .join(df_, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col(queryIdCol), col("term"), col("idf"), col("avgdl"))
    val contrib = tf.join(doclen, idCol)
      .join(if (broadcastQueries) broadcast(qterms) else qterms, "term")
      .withColumn("c",
        col("idf") * col("tf").cast("double") * (lit(k1) + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    val scored = contrib.groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum("c"), 6).as("score"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // Persisted index: versioned snapshots + atomic commit, via the shared
  // [[graft.store.SnapshotStore]] protocol (Iceberg's snapshot-pointer
  // shape in miniature, MergeStore's CAS):
  //
  //   <indexDir>/snap-<N>/{postings,df,doclen,stats}/   immutable tables
  //   <indexDir>/_commits/v<N>                          commit markers
  //
  // A build/append stages a COMPLETE snapshot and publishes atomically —
  // a reader racing an append sees either the old index or the new one,
  // never a mix of old df with appended postings (the torn read the old
  // in-place mode("append") layout allowed). A losing writer gets
  // ConcurrentModificationException, same as a lost MergeStore merge.
  // Old snapshots stay readable (time travel) until
  // SnapshotStore.vacuum drops them.
  // ------------------------------------------------------------------

  import graft.store.SnapshotStore

  /** Highest committed snapshot version, if any. */
  def currentVersion(indexDir: String): Option[Int] =
    SnapshotStore.currentVersion(indexDir)

  /** The committed snapshot directory readers should scan (newest by
    * default) — fails loudly on an empty/uncommitted index dir. */
  def resolveSnapshot(indexDir: String, version: Option[Int] = None): String =
    SnapshotStore.resolve(indexDir, version)

  private def writeSnapshotTables(postings: DataFrame, stage: String,
                                  numFiles: Int): Unit = {
    postings.groupBy("term").agg(count(lit(1)).as("df"))
      .repartitionByRange(math.max(1, numFiles / 4), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$stage/df")
    val doclen = postings.groupBy("doc").agg(sum("tf").as("dl"))
    // doclen is one row PER DOCUMENT — corpus-sized, so it gets the same
    // doc-clustered multi-file layout as any corpus table (a coalesce(1)
    // here would funnel the whole corpus through one task). stats really
    // is one row; its coalesce(1) is fine.
    doclen.repartitionByRange(math.max(1, numFiles / 4), col("doc"))
      .sortWithinPartitions("doc")
      .write.mode("overwrite").parquet(s"$stage/doclen")
    doclen.agg(count(lit(1)).cast("double").as("n_docs"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
  }

  /** Materialize the inverted index as TABLES — the at-scale shape
    * ([[searchTopK]] recomputes postings per call, which is right for
    * one-shot curation jobs and wrong for a query workload; a real
    * retrieval deployment builds the index once and amortizes it):
    *
    *   - `postings/`  (term, doc, tf) — range-clustered + sorted on
    *     term, so every file and row group owns a contiguous term slice
    *     and a query's `term IN (...)` pushes into parquet stats and
    *     reads ONLY matched slices (the inverted-index seek as row-group
    *     pruning — the same lever as store.Layouts).
    *   - `df/`        (term, df) — same term clustering.
    *   - `doclen/`    (doc, dl) — doc-clustered (corpus-sized table).
    *   - `stats/`     1 row (n_docs, avgdl)
    *
    * Published as an atomic versioned snapshot (see the layout notes
    * above): readers never observe a half-written index. */
  /** Tokenize a batch into (doc, term, tf, seg) postings. `seg` is the
    * SEGMENT id — the snapshot version these postings publish under —
    * which is what makes tombstones revision-aware: a tombstone kills
    * postings with `seg <= max_seg` only, so an upsert can bury a doc's
    * old postings and land its new ones in ONE snapshot (Lucene's
    * per-segment deleted-docs, relationally). */
  private def tokenize(docs: DataFrame, idCol: String, textCol: String,
                       seg: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("seg", lit(seg.toLong))

  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 indexDir: String, numFiles: Int = 16,
                 meta: Map[String, String] = Map.empty): Int = {
    val parentV = currentVersion(indexDir).getOrElse(-1)
    val stage = SnapshotStore.stage(indexDir)
    tokenize(docs, idCol, textCol, seg = parentV + 1)
      .repartitionByRange(numFiles, col("term"))
      .sortWithinPartitions("term", "doc")
      .write.mode("overwrite").parquet(s"$stage/postings")
    val postings = docs.sparkSession.read.parquet(s"$stage/postings")
    writeSnapshotTables(postings, stage.toString, numFiles)
    SnapshotStore.writeMeta(stage, meta)
    SnapshotStore.publish(indexDir, stage, parentV)
  }

  /** Incremental index maintenance — the q77/IvfIndex.appendBatch
    * amortization applied to the inverted index: tokenize and append
    * ONLY the new batch's postings (range-clustered within the batch —
    * term pushdown still prunes, just across more files until a
    * compaction re-clusters globally), then recompute df/doclen/stats
    * FROM the postings (the recompute reads the index, not the corpus —
    * postings are token-proportional but already aggregated, and df is
    * Heaps-bounded — so each ingest costs the batch plus an index-sized
    * summary pass, never a corpus re-tokenize).
    *
    * The new snapshot CARRIES the previous snapshot's postings files by
    * hard link (immutable parquet, O(1) per file, zero data copied) and
    * adds the batch's files next to them; df/doclen/stats are rewritten
    * (index-summary-sized). The whole snapshot publishes atomically, so
    * a concurrent reader sees the pre-append or post-append index,
    * never appended postings with stale df. */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    indexDir: String, numFiles: Int = 4): Int = {
    val spark = newDocs.sparkSession
    val parentV = currentVersion(indexDir).getOrElse(
      sys.error(s"appendToIndex: no committed index at $indexDir"))
    val snap = resolveSnapshot(indexDir, Some(parentV))
    val prevPostings = java.nio.file.Paths.get(snap, "postings")
    val stage = SnapshotStore.stage(indexDir)
    // Tombstones carry forward unchanged. Re-inserting a TOMBSTONED id
    // is well-defined now that tombstones are segment-scoped (the new
    // postings' seg exceeds the tombstone's max_seg, the buried old ones
    // stay dead — nothing can resurrect); re-inserting a LIVE id remains
    // the caller's contract violation (doubled tf) — that revision verb
    // is [[upsertToIndex]].
    tombstones(spark, snap).foreach { t =>
      t.repartitionByRange(math.max(1, numFiles), col("doc"))
        .write.mode("overwrite").parquet(s"$stage/tombstones")
    }
    tokenize(newDocs, idCol, textCol, seg = parentV + 1)
      .repartitionByRange(numFiles, col("term"))
      .sortWithinPartitions("term", "doc")
      .write.mode("overwrite").parquet(s"$stage/postings")
    SnapshotStore.carryLink(prevPostings, stage.resolve("postings"),
      s"carry-$parentV-")
    writeSnapshotTables(effectivePostings(spark, stage.toString),
      stage.toString, numFiles)
    SnapshotStore.publish(indexDir, stage, parentV)
  }

  /** UPDATE documents in-place — revise without compacting: the batch's
    * ids are tombstoned AT the parent version (burying every posting
    * they have in the carried files) AND the batch's new postings land
    * as segment parent+1 in the SAME snapshot publish, above the
    * tombstone's reach. The doubled-tf hazard that made append refuse
    * revisions only existed because a doc-level tombstone couldn't
    * distinguish old postings from new; the segment scope removes it,
    * so a k-doc revision costs the batch plus the index-summary pass —
    * never an index rewrite. Summaries recompute exactly from the
    * effective postings, so scores over the final corpus are
    * bit-identical to an index built from scratch on it (spec-pinned;
    * the q105 oracle convention). Delta's MERGE semantics, index-shaped. */
  def upsertToIndex(newDocs: DataFrame, idCol: String, textCol: String,
                    indexDir: String, numFiles: Int = 4): Int =
    applyChangesToIndex(newDocs,
      newDocs.select(col(idCol)).limit(0), idCol, textCol, indexDir,
      numFiles)

  /** UPSERT `newDocs` and DELETE `doomedDocs` in ONE atomic snapshot
    * publish, with optional snapshot metadata — [[graft.store
    * .MergeStore.applyChanges]]'s transactional shape reaching the
    * inverted index: a change batch (a CDC micro-batch's terminal
    * per-doc changes) plus its progress marker commit together, so no
    * crash can separate "index revised" from "marker advanced". Both
    * verbs ride the segment-scoped tombstone mechanics: every batch id
    * (upserted OR doomed) that physically appears in carried postings
    * is tombstoned at the parent version, and the upserted docs' new
    * postings land as segment parent+1 in the same publish — above the
    * tombstone's reach, so a doc in BOTH sets ends PRESENT
    * (delete-then-upsert composition, exactly applyChanges' rule).
    * Summaries recompute from the effective postings; scores over the
    * final corpus are bit-identical to an index built from scratch on
    * it. Cost: the batch plus the index-summary pass, never a rewrite. */
  def applyChangesToIndex(newDocs: DataFrame, doomedDocs: DataFrame,
                          idCol: String, textCol: String, indexDir: String,
                          numFiles: Int = 4,
                          meta: Map[String, String] = Map.empty): Int = {
    val spark = newDocs.sparkSession
    val parentV = currentVersion(indexDir).getOrElse(
      sys.error(s"applyChangesToIndex: no committed index at $indexDir"))
    val snap = resolveSnapshot(indexDir, Some(parentV))
    val stage = SnapshotStore.stage(indexDir)
    val upsertIds = newDocs.select(col(idCol).as("doc")).distinct()
    val batchIds = upsertIds.unionByName(
      doomedDocs.select(col(doomedDocs.columns.head).as("doc")).distinct())
      .distinct()
    // Tombstone only batch ids that PHYSICALLY appear in carried
    // postings (live docs via doclen, dead-but-physical via the old
    // tombstone table) — a fresh id needs no marker. Batch-id rows
    // REPLACE any prior marker for the same doc: the new marker's
    // parentV covers every already-buried segment, and a stale
    // higher marker would wrongly bury the revision itself.
    val oldTomb = tombstones(spark, snap)
    val physicalDocs = spark.read.parquet(s"$snap/doclen").select(col("doc"))
      .unionByName(oldTomb.map(_.select(col("doc")))
        .getOrElse(spark.read.parquet(s"$snap/doclen").select(col("doc"))
          .limit(0)))
      .distinct()
    val batchMarkers = batchIds.join(physicalDocs, Seq("doc"), "left_semi")
      .withColumn("max_seg", lit(parentV.toLong))
    val allTomb = oldTomb
      .map(_.join(batchIds, Seq("doc"), "left_anti")
        .unionByName(batchMarkers))
      .getOrElse(batchMarkers)
    allTomb.repartitionByRange(math.max(1, numFiles), col("doc"))
      .write.mode("overwrite").parquet(s"$stage/tombstones")
    tokenize(newDocs, idCol, textCol, seg = parentV + 1)
      .repartitionByRange(numFiles, col("term"))
      .sortWithinPartitions("term", "doc")
      .write.mode("overwrite").parquet(s"$stage/postings")
    SnapshotStore.carryLink(java.nio.file.Paths.get(snap, "postings"),
      stage.resolve("postings"), s"carry-$parentV-")
    writeSnapshotTables(effectivePostings(spark, stage.toString),
      stage.toString, numFiles)
    SnapshotStore.writeMeta(stage, meta)
    SnapshotStore.publish(indexDir, stage, parentV)
  }

  /** Tombstone table of a snapshot, if it has one (created by
    * [[deleteFromIndex]]/[[upsertToIndex]], folded away by
    * [[compactIndex]]): (doc, max_seg) — postings of `doc` with
    * `seg <= max_seg` are dead. */
  private def tombstones(spark: SparkSession, snap: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(snap, "tombstones")
    if (!java.nio.file.Files.isDirectory(p)) None
    else Some(requireSegmented(spark.read.parquet(p.toString), "max_seg", snap))
  }

  /** The one refusal of a pre-segment index (doc-only tombstones,
    * postings without `seg`): those shapes predate revision-aware
    * tombstones and no current writer produces them. */
  private def requireSegmented(df: DataFrame, column: String,
                               snap: String): DataFrame = {
    require(df.columns.contains(column),
      s"BM25 index snapshot $snap predates segment ids (no '$column' " +
        "column) — rebuild the index with buildIndex")
    df
  }

  /** Read a snapshot's physical postings (term, doc, tf, seg) — one
    * footer's schema, never a mergeSchema sweep: every segment file of
    * an index shares it. */
  private def readPostings(spark: SparkSession, snap: String): DataFrame =
    requireSegmented(spark.read.parquet(s"$snap/postings"), "seg", snap)

  /** Drop tombstoned rows: a (doc, max_seg) marker kills that doc's
    * postings in segments AT OR BELOW it — later segments (an upsert's
    * revision) survive. */
  private def dropTombstoned(postings: DataFrame,
                             tomb: DataFrame): DataFrame = {
    val t = tomb.select(col("doc").as("__tdoc"), col("max_seg"))
    postings.join(t,
      postings("doc") === col("__tdoc") &&
        postings("seg") <= col("max_seg"), "left_anti")
  }

  /** Effective postings of a snapshot: physical rows minus tombstoned
    * (doc, segment) combinations — what every summary recompute and
    * every search must see. */
  private def effectivePostings(spark: SparkSession, snap: String): DataFrame = {
    val physical = readPostings(spark, snap)
    tombstones(spark, snap)
      .map(t => dropTombstoned(physical, t))
      .getOrElse(physical)
  }

  /** DELETE documents from the index WITHOUT rewriting the postings —
    * the compliance delete (MergeStore.delete's verb) reaching the
    * derived retrieval structure. Postings are TERM-clustered, so a
    * doomed doc's rows are smeared across every file and a physical
    * rewrite would cost the whole index per delete batch; the table-
    * format answer is a TOMBSTONE (Lucene's deleted-docs bitset,
    * Delta's deletion vectors): postings carry by hard link, the
    * doomed doc ids land in `tombstones/`, and df/doclen/stats are
    * recomputed EXACTLY from the effective (anti-joined) postings — one
    * index-sized pass, no corpus access, so scores over the survivors
    * are bit-identical to an index built without the victims
    * (spec-pinned). Search pays one anti-join of its term-pruned
    * postings slice against the tombstone set; [[compactIndex]] folds
    * tombstones into a physical rewrite and drops them. */
  def deleteFromIndex(spark: SparkSession, indexDir: String,
                      doomedDocs: DataFrame, numFiles: Int = 16): Int = {
    val parentV = currentVersion(indexDir).getOrElse(
      sys.error(s"deleteFromIndex: no committed index at $indexDir"))
    val snap = resolveSnapshot(indexDir, Some(parentV))
    val stage = SnapshotStore.stage(indexDir)
    val doomed = doomedDocs.select(col(doomedDocs.columns.head).as("doc"))
      .distinct()
      // Segment-scoped marker: kill every posting the doc has in any
      // CURRENTLY COMMITTED segment (all have seg <= parentV). A later
      // append/upsert of the same id legitimately re-adds the doc as a
      // fresh revision above this marker — deletion removes data, it
      // does not ban the id.
      .withColumn("max_seg", lit(parentV.toLong))
    val allTomb = tombstones(spark, snap)
      .map(_.join(doomed.select("doc"), Seq("doc"), "left_anti")
        .unionByName(doomed))
      .getOrElse(doomed)
    allTomb.repartitionByRange(math.max(1, numFiles / 8), col("doc"))
      .write.mode("overwrite").parquet(s"$stage/tombstones")
    SnapshotStore.carryLink(
      java.nio.file.Paths.get(snap, "postings"),
      stage.resolve("postings"), s"carry-$parentV-")
    writeSnapshotTables(effectivePostings(spark, stage.toString),
      stage.toString, numFiles)
    SnapshotStore.publish(indexDir, stage, parentV)
  }

  /** Re-cluster the postings globally and publish as a new snapshot —
    * the maintenance step the append path points at: each
    * [[appendToIndex]] adds batch-clustered files, so a query's term
    * IN-list prunes within every batch's files but must OPEN more files
    * per append; compaction restores one global term order (and the
    * per-file open count) without changing a single row's meaning. Any
    * tombstones FOLD here: the rewrite drops the tombstoned rows
    * physically, and the new snapshot carries no tombstone table.
    * df/doclen/stats are identical by construction but rewritten into
    * the snapshot so it stays self-contained. MergeStore.compact's
    * role, index-shaped. */
  def compactIndex(spark: SparkSession, indexDir: String,
                   numFiles: Int = 16,
                   meta: Map[String, String] = Map.empty): Int = {
    val parentV = currentVersion(indexDir).getOrElse(
      sys.error(s"compactIndex: no committed index at $indexDir"))
    val stage = SnapshotStore.stage(indexDir)
    effectivePostings(spark, resolveSnapshot(indexDir, Some(parentV)))
      .repartitionByRange(numFiles, col("term"))
      .sortWithinPartitions("term", "doc")
      .write.mode("overwrite").parquet(s"$stage/postings")
    val postings = spark.read.parquet(s"$stage/postings")
    writeSnapshotTables(postings, stage.toString, numFiles)
    // A maintenance rewrite carries its caller's metadata (a streaming
    // maintainer's progress marker must survive compaction + vacuum —
    // IncrementalView.maintainView's rule, index-shaped).
    SnapshotStore.writeMeta(stage, meta)
    SnapshotStore.publish(indexDir, stage, parentV)
  }

  /** Cap-gated index maintenance — the SCALE.md §"Segment hygiene"
    * trigger as code, MergeStore.maintain's shape for the inverted
    * index: compact ([[compactIndex]]) only when the live snapshot has
    * genuinely degraded, so steady trickle upserts don't pay a full
    * re-cluster per batch. Two measured triggers (bm25seg probe), both
    * free to check:
    *
    *   - file-count: live postings files exceed `maxPostingsFiles`
    *     (default 4 × `numFiles` — every append adds a segment's worth
    *     of files and each term probe opens every segment);
    *   - bury-ratio: physical postings rows exceed `maxBuryRatio` ×
    *     effective rows (row counts from parquet metadata / one
    *     metadata-only aggregate — buried revisions are bytes every
    *     term-slice scan reads before the tombstone anti-join drops
    *     them).
    *
    * Returns true iff a compaction ran. Call after [[upsertToIndex]] /
    * [[appendToIndex]] / [[deleteFromIndex]] batches, or on a
    * maintenance schedule. */
  def maintainIndex(spark: SparkSession, indexDir: String,
                    numFiles: Int = 16, maxPostingsFiles: Int = 0,
                    maxBuryRatio: Double = 2.0,
                    meta: Map[String, String] = Map.empty): Boolean = {
    val parentV = currentVersion(indexDir).getOrElse(
      sys.error(s"maintainIndex: no committed index at $indexDir"))
    val snap = resolveSnapshot(indexDir, Some(parentV))
    val cap = if (maxPostingsFiles > 0) maxPostingsFiles else 4 * numFiles
    val postingsDir = java.nio.file.Paths.get(snap, "postings")
    val fileCount = {
      val it = java.nio.file.Files.walk(postingsDir)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.count(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
      } finally it.close()
    }
    val degraded = fileCount > cap || {
      maxBuryRatio > 0 && tombstones(spark, snap).isDefined && {
        // Counts, not scans: parquet row counts come from footers, and
        // the effective count is one anti-join aggregate over (doc,
        // seg) metadata columns — never the term/tf payload.
        val physical = readPostings(spark, snap).count()
        val effective = effectivePostings(spark, snap).count()
        effective > 0 && physical.toDouble / effective > maxBuryRatio
      }
    }
    if (degraded) { compactIndex(spark, indexDir, numFiles, meta); true }
    else false
  }

  /** [[searchTopK]] against a persisted [[buildIndex]] layout: identical
    * scores and ranking, but the corpus never re-tokenizes — the query's
    * terms push into the term-clustered postings/df scans as an IN
    * filter, so IO is proportional to the MATCHED postings slices, not
    * the index. */
  def searchTopKIndexed(indexDir: String, queries: DataFrame,
                        queryIdCol: String, queryTextCol: String,
                        k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                        broadcastQueries: Boolean = true,
                        version: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    // Pin ONE committed snapshot for every sub-table read — all four
    // directories come from the same atomic publish, so a concurrent
    // append can never mix this query's postings with newer df/stats.
    val snap = resolveSnapshot(indexDir, version)
    // ONE driver roundtrip serves both the pushed IN-list and the
    // in-plan query-term table: the (query, term) set is QUERY-sized
    // (tiny — this method already collected the term list), and folding
    // the collected pairs back in as a literal local relation removes
    // the per-run distinct exchange the main plan otherwise
    // materializes as its own AQE stage job.
    val qtPlan = queries
      .select(col(queryIdCol), explode(split(col(queryTextCol), " ")).as("term"))
      .distinct()
    val qtRows = qtPlan.collect()
    val qterms0 = spark.createDataFrame(
      java.util.Arrays.asList(qtRows: _*), qtPlan.schema)
    val termList = qtRows.map(_.getString(1)).distinct.toSeq
    // Tombstoned (doc, segment) rows (deleteFromIndex/upsertToIndex)
    // are dead postings still physically present in the carried files;
    // the anti-join applies AFTER the term pruning, so it costs the
    // matched slice, not the index. df/doclen/stats were recomputed
    // effective at delete/upsert time.
    val prunedPhysical = readPostings(spark, snap)
      .where(col("term").isin(termList: _*))
    val postings = tombstones(spark, snap)
      .map(t => dropTombstoned(prunedPhysical, t))
      .getOrElse(prunedPhysical)
      .drop("seg")
    val df_ = spark.read.parquet(s"$snap/df")
      .where(col("term").isin(termList: _*))
    val doclen = spark.read.parquet(s"$snap/doclen")
    val stats = spark.read.parquet(s"$snap/stats")
    val qterms = qterms0
      .join(df_, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col(queryIdCol), col("term"), col("idf"), col("avgdl"))
    val contrib = postings.join(doclen, "doc")
      .join(if (broadcastQueries) broadcast(qterms) else qterms, "term")
      .withColumn("c",
        col("idf") * col("tf").cast("double") * (lit(k1) + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    val scored = contrib.groupBy(col(queryIdCol), col("doc"))
      .agg(round(sum("c"), 6).as("score"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col("doc"))
    scored.withColumn("rank", row_number().over(w).cast(IntegerType))
      .where(col("rank") <= k)
  }
}
