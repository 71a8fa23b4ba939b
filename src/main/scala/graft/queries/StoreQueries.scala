package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.IncrementalView
import graft.store.MergeStore

/** MergeStore's record-level verbs under the driver's DuckDB gate: the
  * compliance DELETE (key + predicate forms) and the typed change feed.
  * Each query materializes a small COW table from `documents`, runs the
  * verb sequence, and reads the result back — the oracle replays the same
  * relational algebra (anti-joins, unions) over the source table, so a
  * wrong rewrite (resurrected row, lost survivor, misclassified change)
  * breaks the hash match. Scale behavior (file-granular rewrites, CAS
  * commits, OCC races, vacuum) is pinned in MergeStoreSpec; these queries
  * pin the VISIBLE semantics.
  */
object StoreQueries extends QueryFamily {

  /** One prepared table per (sf dir, tag), built on first use — the q89
    * convention: repeated bench passes measure the READ of the verb's
    * result, not a per-invocation table rebuild, and nothing leaks a
    * table copy per pass. The verb sequences below are deterministic, so
    * first-pass and later-pass results are identical. `meta` is the
    * table policy recorded at init (e.g. its checkpoint interval). */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Temp directories of the prepared tables, deleted recursively when
    * the JVM exits — repeated Bench/Verify runs must not fill the temp
    * volume with one table copy per query per run. */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { dir =>
        try java.nio.file.Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
        catch { case _: java.io.IOException |
                     _: java.io.UncheckedIOException => () }
      }, "graft-prepared-table-cleanup"))

  private def preparedTable(s: org.apache.spark.sql.SparkSession,
                            dir: String, tag: String,
                            base: org.apache.spark.sql.DataFrame = null,
                            clusterBy: Seq[String] = Seq("doc_id"),
                            zorderBy: Seq[String] = Nil,
                            numFiles: Int = 8,
                            meta: Map[String, String] = Map.empty)
                           (mutate: String => Unit): String =
    tableCache.computeIfAbsent(s"$dir#$tag", _ => {
      cleanupHook
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-$tag")
      tempDirs.add(tmp)
      val target = tmp.toString + "/tbl"
      val df = Option(base).getOrElse(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
      MergeStore.init(s, df, target, numFiles = numFiles,
        clusterBy = if (zorderBy.nonEmpty) Nil else clusterBy,
        zorderBy = zorderBy, meta = meta)
      mutate(target)
      target
    })

  private val q91 = QueryDef(
    "q91_merge_delete",
    "MergeStore DELETE, both forms, against a COW table built from " +
      "documents: delete(keys) removes every doc_id % 17 == 0, then " +
      "deleteWhere removes length(text) > 400 — file-granular rewrites " +
      "with manifest CAS commits under the hood. The read-back must " +
      "equal the source minus both removal sets (SQL DELETE semantics: " +
      "predicate TRUE dies, FALSE/NULL survives).",
    (s, dir) => {
      val target = preparedTable(s, dir, "q91") { t =>
        MergeStore.delete(s, t,
          Tables.load(s, dir, "documents")
            .where(col("doc_id") % 17 === 0).select(col("doc_id")),
          pk = Seq("doc_id"))
        MergeStore.deleteWhere(s, t, length(col("text")) > 400)
      }
      MergeStore.read(s, target)
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, CAST(length(text) AS INTEGER) AS len
      FROM documents
      WHERE doc_id % 17 <> 0 AND NOT (length(text) > 400)
      ORDER BY doc_id"""))

  private val q92 = QueryDef(
    "q92_change_feed",
    "MergeStore typed change feed across three versions: v0 = documents, " +
      "v1 merges updates (doc_id % 13 == 0, text || ' v2') plus inserts " +
      "(doc_id shifted past any SF's id range), v2 deletes doc_id % 29 == 0 (not updated " +
      "keys). changes(0, 2) must emit exactly the inserts, the update " +
      "POST-images, and the delete PRE-images, tagged — files common to " +
      "both manifests are never scanned, and a pure compaction would " +
      "emit nothing (content-diffed post-images).",
    (s, dir) => {
      val target = preparedTable(s, dir, "q92") { t => // v0 = init
        val docs = Tables.load(s, dir, "documents")
        val updates = docs.where(col("doc_id") % 13 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
        val inserts = docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000000L).as("doc_id"),
            concat(lit("ins-"), col("doc_id")).as("text"))
        MergeStore.merge(s, updates.unionByName(inserts), t,
          pk = Seq("doc_id")) // v1
        MergeStore.delete(s, t,
          docs.where(col("doc_id") % 29 === 0 && col("doc_id") % 13 =!= 0)
            .select(col("doc_id")),
          pk = Seq("doc_id")) // v2
      }
      MergeStore.changes(s, target, 0, 2, pk = Seq("doc_id"))
        .select(col("doc_id"), col("_change_type"),
          length(col("text")).as("len"))
        .orderBy("doc_id", "_change_type")
    },
    Some("""
      SELECT doc_id, _change_type, len FROM (
        SELECT doc_id + 10000000000 AS doc_id, 'insert' AS _change_type,
               CAST(length('ins-' || doc_id) AS INTEGER) AS len
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, 'update_postimage',
               CAST(length(text || ' v2') AS INTEGER)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, 'delete', CAST(length(text) AS INTEGER)
        FROM documents WHERE doc_id % 29 = 0 AND doc_id % 13 <> 0)
      ORDER BY doc_id, _change_type"""))

  private val q96 = QueryDef(
    "q96_incremental_view",
    "Incremental view maintenance (Gupta & Mumick 1995): a KPI view " +
      "(count + exact decimal sum of o_totalprice per priority) over a " +
      "COW orders table is materialized ONCE, then advanced purely from " +
      "the pre-image-bearing change feed across two commits — a merge " +
      "that moves every o_orderkey % 7 == 0 order into priority " +
      "'9-MOVED', then a delete of o_orderkey % 11 == 0. Each refresh " +
      "scans only the span's changed files, aggregates +1/-1-weighted " +
      "deltas to one row per touched group, and merge/deletes the view " +
      "file-granularly. MIN/MAX ride along: arrival-only groups update " +
      "by least/greatest, groups a row departed from recompute from " +
      "the pinned source snapshot (the removed-extremum rule). The " +
      "oracle re-aggregates the final state from scratch — a drifted " +
      "delta (missed pre-image, resurrected group, stale extremum, " +
      "float association) breaks the hash.",
    (s, dir) => {
      val spec = IncrementalView.IvmSpec(
        groupBy = Seq("o_orderpriority"),
        sums = Seq("o_totalprice" -> "sum_price"),
        mins = Seq("o_totalprice" -> "min_price"),
        maxs = Seq("o_totalprice" -> "max_price"))
      val target = preparedTable(s, dir, "q96",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        val view = s"$t-view"
        IncrementalView.initView(s, t, view, spec) // reflects v0
        val moved = MergeStore.read(s, t)
          .where(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderpriority", lit("9-MOVED"))
        MergeStore.merge(s, moved, t, pk = Seq("o_orderkey")) // v1
        IncrementalView.refresh(s, t, view, spec)
        MergeStore.delete(s, t,
          MergeStore.read(s, t).where(col("o_orderkey") % 11 === 0)
            .select(col("o_orderkey")),
          pk = Seq("o_orderkey")) // v2
        IncrementalView.refresh(s, t, view, spec)
      }
      IncrementalView.readView(s, s"$target-view",
          IncrementalView.IvmSpec(Seq("o_orderpriority"),
            Seq("o_totalprice" -> "sum_price"),
            mins = Seq("o_totalprice" -> "min_price"),
            maxs = Seq("o_totalprice" -> "max_price")))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price,
             CAST(min(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS min_price,
             CAST(max(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS max_price
      FROM (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 0)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q97 = QueryDef(
    "q97_replica_sync",
    "Change-feed replication: a replica table is deep-cloned from the " +
      "source's v0 snapshot, then advanced by sync() shipping ONLY the " +
      "change feed of each span (v0→v1 merge of updates + inserts, " +
      "v1→v2 delete) — insert/update post-images MERGE, delete keys " +
      "DELETE, both file-granular on the replica. The read-back must " +
      "equal the source's final state: a lost update, resurrected " +
      "delete, or double-applied insert breaks the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q97") { t =>
        val docs = Tables.load(s, dir, "documents")
        val replica = s"$t-replica"
        MergeStore.init(s, MergeStore.read(s, t), replica,
          numFiles = 8, clusterBy = Seq("doc_id")) // clone of v0
        val updates = docs.where(col("doc_id") % 13 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
        val inserts = docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000000L).as("doc_id"),
            concat(lit("ins-"), col("doc_id")).as("text"))
        MergeStore.merge(s, updates.unionByName(inserts), t,
          pk = Seq("doc_id")) // v1
        MergeStore.sync(s, t, replica, 0, 1, pk = Seq("doc_id"))
        MergeStore.delete(s, t,
          docs.where(col("doc_id") % 29 === 0 && col("doc_id") % 13 =!= 0)
            .select(col("doc_id")),
          pk = Seq("doc_id")) // v2
        MergeStore.sync(s, t, replica, 1, 2, pk = Seq("doc_id"))
      }
      MergeStore.read(s, s"$target-replica")
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, len FROM (
        SELECT doc_id, CAST(length(text || ' v2') AS INTEGER) AS len
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, CAST(length(text) AS INTEGER)
        FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 29 <> 0
        UNION ALL
        SELECT doc_id + 10000000000, CAST(length('ins-' || doc_id) AS INTEGER)
        FROM documents WHERE doc_id % 13 = 0)
      ORDER BY doc_id"""))

  private val q101 = QueryDef(
    "q101_incremental_join_view",
    "Incremental JOIN view: revenue per NATION — the fact (orders) " +
      "enriched through two broadcast dimension joins (customer -> " +
      "nation) by the spec's row-local enrich hook, grouped by the " +
      "DIMENSION attribute n_name, maintained purely from fact-table " +
      "change feeds: v1 bumps every o_orderkey % 7 == 0 total by 100, " +
      "v2 deletes o_orderkey % 11 == 0. Pre-images enrich exactly as " +
      "their rows did on arrival (static dims), so subtraction is " +
      "exact. The oracle replays the joins + mutations from scratch.",
    (s, dir) => {
      def spec = {
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val nation = Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        IncrementalView.IvmSpec(
          groupBy = Seq("n_name"),
          sums = Seq("o_totalprice" -> "sum_price"),
          enrich = df => df
            .join(broadcast(cust), col("o_custkey") === col("c_custkey"),
              "left")
            .join(broadcast(nation),
              col("c_nationkey") === col("n_nationkey"), "left")
            .drop("c_custkey", "c_nationkey", "n_nationkey"))
      }
      val target = preparedTable(s, dir, "q101",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        val view = s"$t-view"
        IncrementalView.initView(s, t, view, spec)
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
          t, pk = Seq("o_orderkey")) // v1
        IncrementalView.refresh(s, t, view, spec)
        MergeStore.delete(s, t,
          MergeStore.read(s, t).where(col("o_orderkey") % 11 === 0)
            .select(col("o_orderkey")),
          pk = Seq("o_orderkey")) // v2
        IncrementalView.refresh(s, t, view, spec)
      }
      IncrementalView.readView(s, s"$target-view", spec)
        .orderBy("n_name")
    },
    Some("""
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(CASE WHEN o_orderkey % 7 = 0
                                THEN o_totalprice + 100.0
                                ELSE o_totalprice END
                           AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderkey % 11 <> 0
      GROUP BY n_name
      ORDER BY n_name"""))

  private val cdcRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private val q98 = QueryDef(
    "q98_cdc_stream",
    "CDC STREAMING source over the COW table (Delta readChangeFeed " +
      "shape on the v1 Source API): q92's commit sequence tailed by a " +
      "Structured Streaming query — offset = manifest version, each " +
      "micro-batch materializes that span's typed per-commit changes, " +
      "so the merge's rows arrive stamped _commit_version 1 and the " +
      "delete's 2. Replayed Trigger.AvailableNow into a memory sink; " +
      "the oracle is q92's relational replay plus exact commit " +
      "attribution — a mis-batched or double-emitted change breaks it.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q98") { t =>
        val docs = Tables.load(s, dir, "documents")
        val updates = docs.where(col("doc_id") % 13 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
        val inserts = docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000000L).as("doc_id"),
            concat(lit("ins-"), col("doc_id")).as("text"))
        MergeStore.merge(s, updates.unionByName(inserts), t,
          pk = Seq("doc_id")) // v1
        MergeStore.delete(s, t,
          docs.where(col("doc_id") % 29 === 0 && col("doc_id") % 13 =!= 0)
            .select(col("doc_id")),
          pk = Seq("doc_id")) // v2
      }
      val sink = s"q98_cdc_${cdcRuns.incrementAndGet()}"
      val ck = java.nio.file.Files
        .createTempDirectory("graft-q98-ck").toString
      val q = graft.streaming.MergeStoreCdc
        .readStream(s, target, pk = Seq("doc_id"), fromVersion = Some(0))
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink)
        .select(col("doc_id"), col("_change_type"), col("_commit_version"),
          length(col("text")).as("len"))
        .orderBy("doc_id", "_change_type")
    },
    Some("""
      SELECT doc_id, _change_type, _commit_version, len FROM (
        SELECT doc_id + 10000000000 AS doc_id, 'insert' AS _change_type,
               CAST(1 AS BIGINT) AS _commit_version,
               CAST(length('ins-' || doc_id) AS INTEGER) AS len
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, 'update_postimage', CAST(1 AS BIGINT),
               CAST(length(text || ' v2') AS INTEGER)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, 'delete', CAST(2 AS BIGINT),
               CAST(length(text) AS INTEGER)
        FROM documents WHERE doc_id % 29 = 0 AND doc_id % 13 <> 0)
      ORDER BY doc_id, _change_type"""))

  private val q107 = QueryDef(
    "q107_incremental_vocab",
    "Incremental CORPUS STATISTICS: the vocabulary (token -> count) as " +
      "a materialized view following the documents table's change feed " +
      "— the spec's enrich hook is a deterministic EXPLODE (1 row -> n " +
      "tokens), so a pre-image expands into exactly the rows its " +
      "arrival did and subtraction cancels token-for-token. v1 appends " +
      "' vocadd vocadd' to every doc_id % 13 == 0 (a brand-new token " +
      "group is born), v2 deletes doc_id % 29 == 0. Each refresh " +
      "re-tokenizes only the span's changed docs, never the corpus. " +
      "The oracle re-tokenizes the final state from scratch.",
    (s, dir) => {
      val spec = IncrementalView.IvmSpec(Seq("token"), sums = Nil,
        enrich = df => df.withColumn("token",
          explode(split(col("text"), " "))))
      val target = preparedTable(s, dir, "q107") { t =>
        val view = s"$t-view"
        IncrementalView.initView(s, t, view, spec)
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("doc_id") % 13 === 0)
            .withColumn("text", concat(col("text"), lit(" vocadd vocadd"))),
          t, pk = Seq("doc_id")) // v1
        IncrementalView.refresh(s, t, view, spec)
        MergeStore.delete(s, t,
          MergeStore.read(s, t).where(col("doc_id") % 29 === 0)
            .select(col("doc_id")),
          pk = Seq("doc_id")) // v2
        IncrementalView.refresh(s, t, view, spec)
      }
      IncrementalView.readView(s, s"$target-view",
          IncrementalView.IvmSpec(Seq("token"), sums = Nil))
        .orderBy("token")
    },
    Some("""
      SELECT token, CAST(count(*) AS BIGINT) AS n_rows FROM (
        SELECT unnest(string_split(
          CASE WHEN doc_id % 13 = 0 THEN text || ' vocadd vocadd'
               ELSE text END, ' ')) AS token
        FROM documents
        WHERE doc_id % 29 <> 0)
      GROUP BY token
      ORDER BY token"""))

  private val q109 = QueryDef(
    "q109_incremental_avg",
    "Incremental AVG: a KPI view (count + exact sum + AVG of " +
      "o_totalprice per priority) maintained purely from the change " +
      "feed — AVG desugars to a hidden exact-decimal SUM and a hidden " +
      "non-null COUNT, both ordinary ±-weighted accumulators, surfaced " +
      "as one double division at read. Same mutation script as q96 " +
      "(priority moves, then deletes); the oracle recomputes " +
      "sum(decimal)/count from scratch — a drifted hidden counter or a " +
      "float-associated sum breaks the hash.",
    (s, dir) => {
      val spec = IncrementalView.IvmSpec(
        groupBy = Seq("o_orderpriority"),
        sums = Seq("o_totalprice" -> "sum_price"),
        avgs = Seq("o_totalprice" -> "avg_price"))
      val target = preparedTable(s, dir, "q109",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        val view = s"$t-view"
        IncrementalView.initView(s, t, view, spec)
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("o_orderkey") % 7 === 0)
            .withColumn("o_orderpriority", lit("9-MOVED")),
          t, pk = Seq("o_orderkey")) // v1
        IncrementalView.refresh(s, t, view, spec)
        MergeStore.delete(s, t,
          MergeStore.read(s, t).where(col("o_orderkey") % 11 === 0)
            .select(col("o_orderkey")),
          pk = Seq("o_orderkey")) // v2
        IncrementalView.refresh(s, t, view, spec)
      }
      IncrementalView.readView(s, s"$target-view", spec)
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) /
               CAST(count(o_totalprice) AS DOUBLE) AS avg_price
      FROM (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN '9-MOVED'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 0)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q110 = QueryDef(
    "q110_incremental_distinct",
    "Incremental COUNT(DISTINCT): distinct customers per priority as a " +
      "COMPOSITION — a (priority, custkey) sub-view where each live " +
      "row IS one distinct pair (born with its first contributing " +
      "order, dead with its last via count-reaches-zero), rolled up as " +
      "a count of sub-view rows per priority at read time. v1 rewires " +
      "every o_orderkey % 7 == 0 to custkey % 50 (pairs die where the " +
      "moved order was the sole contributor, small-key pairs are " +
      "born), v2 deletes o_orderkey % 11 == 0. The oracle recomputes " +
      "count(DISTINCT) from scratch — a lingering dead pair or a " +
      "missed birth breaks the hash.",
    (s, dir) => {
      val spec = IncrementalView.distinctCountSpec(
        Seq("o_orderpriority"), "o_custkey")
      val target = preparedTable(s, dir, "q110",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_custkey")),
        clusterBy = Seq("o_orderkey")) { t =>
        val view = s"$t-view"
        IncrementalView.initView(s, t, view, spec)
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("o_orderkey") % 7 === 0)
            .withColumn("o_custkey", col("o_custkey") % 50),
          t, pk = Seq("o_orderkey")) // v1
        IncrementalView.refresh(s, t, view, spec)
        MergeStore.delete(s, t,
          MergeStore.read(s, t).where(col("o_orderkey") % 11 === 0)
            .select(col("o_orderkey")),
          pk = Seq("o_orderkey")) // v2
        IncrementalView.refresh(s, t, view, spec)
      }
      IncrementalView.readDistinctCount(s, s"$target-view",
          Seq("o_orderpriority"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
      FROM (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN o_custkey % 50
                    ELSE o_custkey END AS o_custkey
        FROM orders WHERE o_orderkey % 11 <> 0)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q111 = QueryDef(
    "q111_pruned_scan",
    "Manifest-level data skipping (Delta per-file stats / Iceberg " +
      "column bounds, on this engine's manifest): a COW orders table " +
      "range-clustered on o_orderkey carries per-file min/max inside " +
      "every commit CAS; after a merge bumps o_orderkey % 1000 == 0 " +
      "totals by 1 (rewritten files recompute their stats, carried " +
      "files keep theirs by reference), scanRange plans ONLY the files " +
      "overlapping [max/4, max/2] — no listing or footer round-trip " +
      "for the rest — then applies the exact predicate. The oracle " +
      "replays the mutation + range + aggregation from scratch: a " +
      "wrongly pruned file (lost rows) or stale stats (ghost rows) " +
      "breaks the hash.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q111",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("o_orderkey") % 1000 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
          t, pk = Seq("o_orderkey"))
      }
      val maxKey = MergeStore.read(s, target)
        .agg(max("o_orderkey")).collect()(0).getLong(0)
      MergeStore.scanRange(s, target, "o_orderkey",
          Some(maxKey / 4), Some(maxKey / 2))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(CASE WHEN o_orderkey % 1000 = 0
                                THEN o_totalprice + 1.0
                                ELSE o_totalprice END
                           AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderkey BETWEEN (SELECT max(o_orderkey) // 4 FROM orders)
                           AND (SELECT max(o_orderkey) // 2 FROM orders)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q112 = QueryDef(
    "q112_zorder_scan",
    "Z-ordered COW table + multi-dimensional data skipping: events laid " +
      "out on the Morton curve over (user_id, value) — EVERY z " +
      "dimension's per-file [min,max] tightens to ~numFiles^(-1/2) of " +
      "its domain, so the manifest stats prune a 2-dim box predicate " +
      "multiplicatively where lexicographic clustering serves only its " +
      "leading column (Delta OPTIMIZE ZORDER, committed through the " +
      "manifest CAS). scanRanges plans only box-overlapping files, then " +
      "applies the exact conjunction. The oracle replays the box + " +
      "aggregation from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q112",
        base = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        zorderBy = Seq("user_id", "value"), numFiles = 16)(_ => ())
      val maxU = MergeStore.read(s, target)
        .agg(max("user_id")).collect()(0).getLong(0)
      MergeStore.scanRanges(s, target, Map(
          "user_id" -> (Some(maxU / 4), Some(maxU / 2)),
          "value" -> (Some(50.0), Some(150.0))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(DecimalType(20, 4)))
            .cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
      FROM events
      WHERE user_id BETWEEN (SELECT max(user_id) // 4 FROM events)
                        AND (SELECT max(user_id) // 2 FROM events)
        AND value BETWEEN 50.0 AND 150.0
      GROUP BY event_type
      ORDER BY event_type"""))

  private val q113 = QueryDef(
    "q113_point_lookup",
    "Bloom-sidecar point lookups on an UNCLUSTERED column: orders laid " +
      "out by o_orderdate (the time-clustered shape a fact table " +
      "actually has) with per-file Bloom filters on o_custkey riding " +
      "the manifest commit — min/max stats are useless for a key " +
      "uncorrelated with the layout (every file spans the whole " +
      "domain), so a 'fetch these customers' batch consults the blooms " +
      "at plan time and reads only files that might hold a probed key " +
      "(no false negatives; false positives cost a read). scanPoints " +
      "then applies the exact IN. The oracle replays the lookup + " +
      "aggregation from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q113",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice")),
        clusterBy = Seq("o_orderdate"), numFiles = 16) { t =>
        // Enable blooms on the lookup key via the backfill path — also
        // pins compact(bloomCols=...) as the legacy-table upgrade.
        MergeStore.compact(s, t, targetFiles = 16,
          clusterBy = Seq("o_orderdate"), bloomCols = Some(Seq("o_custkey")))
      }
      val maxCust = MergeStore.read(s, target)
        .agg(max("o_custkey")).collect()(0).getLong(0)
      val keys = Seq(maxCust / 2, maxCust / 3, maxCust / 5)
      MergeStore.scanPoints(s, target, "o_custkey", keys)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM orders
      WHERE o_custkey IN ((SELECT max(o_custkey) // 2 FROM orders),
                          (SELECT max(o_custkey) // 3 FROM orders),
                          (SELECT max(o_custkey) // 5 FROM orders))
      GROUP BY o_custkey
      ORDER BY o_custkey"""))

  private val q115 = QueryDef(
    "q115_update_where",
    "Predicate UPDATE (the Delta/Iceberg copy-on-write UPDATE verb): " +
      "orders range-clustered on o_orderkey; UPDATE SET o_totalprice = " +
      "o_totalprice * 0.95, o_orderpriority = '9-SALE' WHERE " +
      "o_orderkey in [max/4, max/2] AND o_orderstatus = 'F'. The " +
      "affected-file probe is manifest-pruned by the bounds the " +
      "predicate IMPLIES (only files overlapping the key range are " +
      "ever opened); matching rows rewrite with every SET expression " +
      "seeing the OLD row, non-matching rows in rewritten files carry " +
      "verbatim, untouched files carry by reference into one manifest " +
      "CAS commit. The oracle replays the UPDATE as a CASE projection " +
      "from scratch — a missed row, double-applied SET, or clobbered " +
      "bystander breaks the hash.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q115",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        val maxKey = MergeStore.read(s, t)
          .agg(max("o_orderkey")).collect()(0).getLong(0)
        MergeStore.updateWhere(s, t,
          col("o_orderkey") >= maxKey / 4 &&
            col("o_orderkey") <= maxKey / 2 &&
            col("o_orderstatus") === "F",
          Map("o_totalprice" -> (col("o_totalprice") * 0.95),
            "o_orderpriority" -> lit("9-SALE")))
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderkey
                      BETWEEN (SELECT max(o_orderkey) // 4 FROM orders)
                          AND (SELECT max(o_orderkey) // 2 FROM orders)
                      AND o_orderstatus = 'F'
                    THEN '9-SALE' ELSE o_orderpriority
               END AS o_orderpriority,
               CASE WHEN o_orderkey
                      BETWEEN (SELECT max(o_orderkey) // 4 FROM orders)
                          AND (SELECT max(o_orderkey) // 2 FROM orders)
                      AND o_orderstatus = 'F'
                    THEN o_totalprice * 0.95 ELSE o_totalprice
               END AS o_totalprice
        FROM orders)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q116 = QueryDef(
    "q116_restore",
    "RESTORE to a committed version (Delta RESTORE — rollback as a " +
      "FORWARD commit): documents v0, a merge revises doc_id % 13 " +
      "(v1), a predicate delete removes doc_id % 29 (v2), restore(0) " +
      "publishes v3 re-referencing v0's files by name (zero data " +
      "movement, stats carried), and a post-restore merge then revises " +
      "doc_id % 17 (v4) — proving the restored table is a fully " +
      "functional head, not a frozen snapshot. The oracle is the base " +
      "corpus with ONLY the post-restore revision applied: a leaked " +
      "pre-restore revision, a row still missing from the rolled-back " +
      "delete, or a broken post-restore verb breaks the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q116") { t => // v0
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("doc_id") % 13 === 0)
            .withColumn("text", concat(col("text"), lit(" rev"))),
          t, pk = Seq("doc_id")) // v1
        MergeStore.deleteWhere(s, t, col("doc_id") % 29 === 0) // v2
        MergeStore.restore(s, t, 0) // v3
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("doc_id") % 17 === 0)
            .withColumn("text", concat(col("text"), lit(" post"))),
          t, pk = Seq("doc_id")) // v4
      }
      MergeStore.read(s, target)
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 17 = 0 THEN length(text || ' post')
                       ELSE length(text) END AS INTEGER) AS len
      FROM documents
      ORDER BY doc_id"""))

  private val q117 = QueryDef(
    "q117_clone",
    "Zero-copy CLONE (Delta CLONE with hard-linked data files): " +
      "documents v0 + a merge revising doc_id % 13 (v1) is cloned; the " +
      "CLONE then deletes doc_id % 23 while the SOURCE takes a later " +
      "revision of doc_id % 31 — the query reads the clone, whose " +
      "state must be exactly (v1 + its own delete), byte-isolated from " +
      "the source's divergence even though unrewritten files share " +
      "inodes. A clone that follows the source, loses the carried " +
      "revision, or breaks under its own verbs breaks the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q117") { t => // v0
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("doc_id") % 13 === 0)
            .withColumn("text", concat(col("text"), lit(" rev"))),
          t, pk = Seq("doc_id")) // v1
        MergeStore.cloneTable(s, t, s"$t-clone")
        MergeStore.deleteWhere(s, s"$t-clone", col("doc_id") % 23 === 0)
        MergeStore.merge(s, // source diverges AFTER the clone
          MergeStore.read(s, t).where(col("doc_id") % 31 === 0)
            .withColumn("text", concat(col("text"), lit(" src"))),
          t, pk = Seq("doc_id"))
      }
      MergeStore.read(s, s"$target-clone")
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 13 = 0 THEN length(text || ' rev')
                       ELSE length(text) END AS INTEGER) AS len
      FROM documents
      WHERE doc_id % 23 <> 0
      ORDER BY doc_id"""))

  private val q118 = QueryDef(
    "q118_skipping_read",
    "Automatic planning-time data skipping (GraftFileIndex — the " +
      "Delta log-backed FileIndex pattern): lineitem Z-ordered on " +
      "(l_orderkey, l_partkey); a plain readSkipping().where over a " +
      "key range AND a partkey cap plans only manifest-candidate " +
      "files — FileSourceStrategy hands the pushed conjuncts to " +
      "listFiles, min/max stats prune on BOTH z dimensions, no " +
      "explicit scan verb. The oracle replays the filtered aggregate " +
      "from scratch: a file wrongly pruned (lost rows) or a stale " +
      "listing breaks the hash.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q118",
        base = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
            col("l_extendedprice")),
        zorderBy = Seq("l_orderkey", "l_partkey"), numFiles = 16)(_ => ())
      val r = MergeStore.read(s, target)
        .agg(max("l_orderkey"), max("l_partkey")).collect()(0)
      val (hiO, hiP) = (r.getLong(0), r.getLong(1))
      MergeStore.readSkipping(s, target)
        .where(col("l_orderkey").between(hiO / 10, hiO / 5) &&
          col("l_partkey") <= hiP / 20)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(20, 4)))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("l_partkey")
    },
    Some("""
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM lineitem
      WHERE l_orderkey BETWEEN (SELECT max(l_orderkey) // 10 FROM lineitem)
                           AND (SELECT max(l_orderkey) // 5 FROM lineitem)
        AND l_partkey <= (SELECT max(l_partkey) // 20 FROM lineitem)
      GROUP BY l_partkey
      ORDER BY l_partkey"""))

  private val q119 = QueryDef(
    "q119_deletion_vectors",
    "Merge-on-read DELETE via deletion vectors (Delta DVs / Iceberg " +
      "positional deletes): documents takes a MOR predicate delete " +
      "(doc_id % 19, positions marked in per-file sidecars — ZERO data " +
      "files rewritten), then a MOR key-batch delete (doc_id % 31, " +
      "superseding sidecars with unioned positions), then a COW merge " +
      "revising doc_id % 13 — whose file rewrites MATERIALIZE the " +
      "affected vectors without resurrecting marked rows. The read " +
      "applies remaining vectors as a broadcast anti-join on parquet " +
      "row positions. The oracle replays all three against the source: " +
      "a resurrected row, a lost mark, or a misapplied vector breaks " +
      "the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q119") { t => // v0
        MergeStore.deleteWhereMor(s, t, col("doc_id") % 19 === 0) // v1
        MergeStore.deleteMor(s, t,
          Tables.load(s, dir, "documents")
            .where(col("doc_id") % 31 === 0).select(col("doc_id")),
          pk = Seq("doc_id")) // v2
        MergeStore.merge(s, // v3: COW rewrite materializes DVs
          MergeStore.read(s, t).where(col("doc_id") % 13 === 0)
            .withColumn("text", concat(col("text"), lit(" rev"))),
          t, pk = Seq("doc_id"))
      }
      MergeStore.read(s, target)
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 13 = 0 THEN length(text || ' rev')
                       ELSE length(text) END AS INTEGER) AS len
      FROM documents
      WHERE doc_id % 19 <> 0 AND doc_id % 31 <> 0
      ORDER BY doc_id"""))

  private val q120 = QueryDef(
    "q120_check_constraints",
    "CHECK constraints gate every write atomically (Delta ALTER TABLE " +
      "ADD CONSTRAINT): documents gets CHECK(length(text) > 0 AND " +
      "doc_id < 1e9); a merge whose batch violates it (one bad row " +
      "among 50 good ones) is REJECTED whole — no partial commit, " +
      "version unchanged — then a clean revision of doc_id % 13 " +
      "lands normally with the constraint carried. The oracle replays " +
      "ONLY the clean revision: any row of the rejected batch leaking " +
      "in (or the clean batch lost) breaks the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q120") { t => // v0
        MergeStore.addConstraint(s, t, "sane_doc",
          "length(text) > 0 AND doc_id < 1000000000") // v1
        val good = Tables.load(s, dir, "documents").limit(50)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        val bad = good.limit(1)
          .select((col("doc_id") + 1).as("doc_id"), lit("").as("text"))
        try {
          MergeStore.merge(s, good.unionByName(bad), t, pk = Seq("doc_id"))
          sys.error("violating merge must be rejected")
        } catch { case e: IllegalStateException
          if e.getMessage.contains("sane_doc") => () }
        MergeStore.merge(s, // v2: the clean revision
          MergeStore.read(s, t).where(col("doc_id") % 13 === 0)
            .withColumn("text", concat(col("text"), lit(" ok"))),
          t, pk = Seq("doc_id"))
      }
      MergeStore.read(s, target)
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 13 = 0 THEN length(text || ' ok')
                       ELSE length(text) END AS INTEGER) AS len
      FROM documents
      ORDER BY doc_id"""))

  private val q121 = QueryDef(
    "q121_mor_update",
    "Merge-on-read UPDATE (deletion vectors bury the old images, ONE " +
      "appended file carries the post-SET images — O(matched) for a " +
      "scattered compliance UPDATE, zero rewrites of the holding " +
      "files): orders clustered on o_orderkey takes updateWhereMor " +
      "SET o_totalprice *= 1.10, o_orderpriority = '9-ADJ' WHERE " +
      "o_orderstatus = 'P', then a MOR delete of o_orderkey % 41 — " +
      "vectors from BOTH verbs compose on the same table. The oracle " +
      "replays both as a projection + filter from scratch: a row " +
      "served from a buried image, a lost post-image, or a misapplied " +
      "vector breaks the hash.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q121",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        MergeStore.updateWhereMor(s, t, col("o_orderstatus") === "P",
          Map("o_totalprice" -> (col("o_totalprice") * 1.10),
            "o_orderpriority" -> lit("9-ADJ")))
        MergeStore.deleteWhereMor(s, t, col("o_orderkey") % 41 === 0)
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderstatus = 'P' THEN '9-ADJ'
                    ELSE o_orderpriority END AS o_orderpriority,
               CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 41 <> 0)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q122 = QueryDef(
    "q122_drop_column",
    "DROP COLUMN as a metadata-only commit (schema-in-the-log): " +
      "documents lands with (doc_id, text, lang, n_chars); lang is " +
      "dropped (no file rewritten — the recorded schema loses the " +
      "field and every reader's projection excludes it), then a merge " +
      "revises doc_id % 13 against the NARROWED schema, rewriting " +
      "some pre-drop files. The read-back must show exactly the " +
      "remaining columns with the revision applied; a resurrected " +
      "column or a verb tripping over the dropped field breaks the " +
      "hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q122",
        base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))) { t =>
        MergeStore.dropColumn(s, t, "lang")
        MergeStore.merge(s,
          MergeStore.read(s, t).where(col("doc_id") % 13 === 0)
            .withColumn("n_chars", col("n_chars") + 7),
          t, pk = Seq("doc_id"))
      }
      MergeStore.read(s, target)
        .select(col("doc_id"), length(col("text")).as("len"),
          col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, CAST(length(text) AS INTEGER) AS len,
             CASE WHEN doc_id % 13 = 0 THEN n_chars + 7
                  ELSE n_chars END AS n_chars
      FROM documents
      ORDER BY doc_id"""))

  private val q123 = QueryDef(
    "q123_rename_column",
    "RENAME COLUMN via column mapping (Delta column mapping / Iceberg " +
      "field ids): documents lands clustered on doc_id, then doc_id -> " +
      "document_id and text -> body as metadata-only commits — the " +
      "fields keep their on-disk names, recorded in the manifest " +
      "schema, and the per-file stats keys rewrite in the SAME commit. " +
      "A merge keyed on the RENAMED pk then revises doc_id % 7 " +
      "(manifest-pruned through the rewritten stats keys, new files " +
      "written under the physical names), and the final read goes " +
      "through readSkipping with a range predicate on the renamed " +
      "column — planning-time pruning across the logical->physical " +
      "translation. A stale stats key, a mapping lost by the merge's " +
      "recorded schema, or a reader resolving the wrong name breaks " +
      "the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q123",
        base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))) { t =>
        MergeStore.renameColumn(s, t, "doc_id", "document_id") // v1
        MergeStore.renameColumn(s, t, "text", "body")          // v2
        MergeStore.merge(s, // v3: revision keyed on the renamed pk
          MergeStore.read(s, t).where(col("document_id") % 7 === 0)
            .withColumn("n_chars", col("n_chars") + 100),
          t, pk = Seq("document_id"))
      }
      MergeStore.readSkipping(s, target)
        .where(col("document_id") % 5 =!= 0 && col("document_id") <= 1500)
        .select(col("document_id"), length(col("body")).as("len"),
          col("n_chars"))
        .orderBy("document_id")
    },
    Some("""
      SELECT doc_id AS document_id,
             CAST(length(text) AS INTEGER) AS len,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 100
                  ELSE n_chars END AS n_chars
      FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id <= 1500
      ORDER BY document_id"""))

  private val q126 = QueryDef(
    "q126_wap_publish",
    "Write-audit-publish: documents lands as the source table; a " +
      "zero-copy BRANCH stages a revision merge (doc_id % 9 gets ' wap' " +
      "appended) plus a predicate delete (doc_id % 23 = 0) while the " +
      "source stays untouched; an audit reads the branch; then " +
      "publishTable swaps the branch head onto the source as ONE " +
      "manifest CAS against the recorded branch point. The oracle " +
      "replays the staged verbs from scratch over the source input: a " +
      "publish that leaked early, lost a staged verb, or clobbered " +
      "the wrong base breaks the hash.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q126") { t =>
        val branch = java.nio.file.Files
          .createTempDirectory("graft-q126-br").toString + "/branch"
        MergeStore.branchTable(s, t, branch)
        MergeStore.merge(s,
          MergeStore.read(s, branch).where(col("doc_id") % 9 === 0)
            .withColumn("text", concat(col("text"), lit(" wap"))),
          branch, pk = Seq("doc_id"))
        MergeStore.deleteWhere(s, branch, col("doc_id") % 23 === 0)
        require(MergeStore.read(s, branch).count() > 0) // the audit
        MergeStore.publishTable(s, t, branch,
          meta = Map("audit.stamp" -> "q126"))
      }
      MergeStore.read(s, target)
        .select(col("doc_id"), length(col("text")).as("len"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 9 = 0 THEN length(text || ' wap')
                       ELSE length(text) END AS INTEGER) AS len
      FROM documents
      WHERE doc_id % 23 <> 0
      ORDER BY doc_id"""))

  private val q127 = QueryDef(
    "q127_metadata_count",
    "Metadata-only COUNT(*): documents lands clustered (per-file " +
      "null-count lines ride every commit), takes a COW delete of " +
      "doc_id % 13 = 0 and a MOR delete of doc_id % 17 = 0, and the " +
      "row count is answered from the MANIFEST alone — per-file " +
      "row counts from the n: lines minus the deletion-vector " +
      "sidecars' positions, zero data-file reads (at 100 TB a catalog " +
      "lookup instead of a job). The oracle recomputes the count from " +
      "scratch; a stale stats line, a missed vector, or a double-" +
      "counted file breaks the value.",
    (s, dir) => {
      val target = preparedTable(s, dir, "q127") { t =>
        MergeStore.deleteWhere(s, t, col("doc_id") % 13 === 0) // COW
        MergeStore.deleteWhereMor(s, t, col("doc_id") % 17 === 0) // MOR
      }
      val n = MergeStore.rowCount(s, target).getOrElse(
        sys.error("manifest row count unavailable — n: lines missing"))
      import s.implicits._
      Seq(n).toDF("n_rows")
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_rows
      FROM documents
      WHERE doc_id % 13 <> 0 AND doc_id % 17 <> 0"""))

  private val q128 = QueryDef(
    "q128_sql_verbs",
    "SQL text surface for the table verbs (graft.store.SqlVerbs): an " +
      "analyst-shaped UPDATE, DELETE FROM, and MERGE INTO run as plain " +
      "SQL strings through Spark's own parser and dispatch to the " +
      "MergeStore verbs — same COW rewrites, constraint gates, and " +
      "manifest CAS commits as the Scala API. Sequence: UPDATE marks " +
      "open orders ending in 3 (price * 1.1, priority '9-SQL'), DELETE " +
      "drops filled orders with key % 7 = 0, MERGE upserts a source " +
      "view of every key % 1000 = 1 re-prioritized 'M-SQL' (re-" +
      "inserting any the DELETE removed — delete-then-upsert " +
      "composition across statements). The oracle replays all three " +
      "statements as CASE/WHERE algebra from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = preparedTable(s, dir, "q128",
        base = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice")),
        clusterBy = Seq("o_orderkey")) { t =>
        val cat = Map("ord" -> t)
        graft.store.SqlVerbs.execute(s,
          "UPDATE ord SET o_totalprice = o_totalprice * 1.1, " +
            "o_orderpriority = '9-SQL' " +
            "WHERE o_orderstatus = 'O' AND o_orderkey % 10 = 3", cat)
        graft.store.SqlVerbs.execute(s,
          "DELETE FROM ord " +
            "WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0", cat)
        Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 1000 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"),
            lit("M-SQL").as("o_orderpriority"), col("o_totalprice"))
          .createOrReplaceTempView("q128_src")
        graft.store.SqlVerbs.execute(s,
          "MERGE INTO ord t USING q128_src s " +
            "ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *", cat)
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderkey % 1000 = 1 THEN 'M-SQL'
                    WHEN o_orderstatus = 'O' AND o_orderkey % 10 = 3
                      THEN '9-SQL'
                    ELSE o_orderpriority END AS o_orderpriority,
               CASE WHEN o_orderkey % 1000 = 1 THEN o_totalprice
                    WHEN o_orderstatus = 'O' AND o_orderkey % 10 = 3
                      THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0
                   AND o_orderkey % 1000 <> 1))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q129 = QueryDef(
    "q129_insert_append",
    "Blind APPEND (MergeStore.append) through its SQL spelling: INSERT " +
      "INTO ... SELECT lands the orders slice o_orderkey % 3 = 1 next " +
      "to a table initialized from the % 3 = 0 slice — zero key probe, " +
      "zero rewrite, stats on the batch only (the ingest-scale verb) — " +
      "then a MERGE upsert re-prioritizes % 6 = 0 to 'A-INS', proving " +
      "append-then-merge composition: the merge probes and rewrites " +
      "appended and initial files alike. The oracle replays the union " +
      "and the CASE override from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q129",
        base = Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 3 === 0)
          .select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        val cat = Map("ord" -> t)
        Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 3 === 1)
          .select(cols.map(col): _*)
          .createOrReplaceTempView("q129_src")
        graft.store.SqlVerbs.execute(s,
          "INSERT INTO ord SELECT * FROM q129_src", cat)
        MergeStore.merge(s,
          Tables.load(s, dir, "orders")
            .where(col("o_orderkey") % 6 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              lit("A-INS").as("o_orderpriority"), col("o_totalprice")),
          t, pk = Seq("o_orderkey"))
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderkey % 6 = 0 THEN 'A-INS'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders WHERE o_orderkey % 3 IN (0, 1))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q130 = QueryDef(
    "q130_conditional_merge",
    "Conditional + column-list MERGE (MergeStore.mergeConditional) as " +
      "SQL: WHEN MATCHED AND s.price > t.price * 1.5 THEN UPDATE SET " +
      "price, priority = 'C-SQL' — the late-arrival guard Delta users " +
      "write constantly; false/NULL keeps the target row — plus WHEN " +
      "NOT MATCHED THEN INSERT (cols) VALUES with NULL fill for the " +
      "unlisted status column. Source doubles the price for keys " +
      "% 20 = 3 (condition true) and halves it for the other matched " +
      "keys (condition false, target kept); keys % 1000 = 7 shifted by " +
      "5M are genuine inserts. The oracle replays the conditional " +
      "algebra from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q130",
        base = Tables.load(s, dir, "orders").select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        val cat = Map("ord" -> t)
        val docs = Tables.load(s, dir, "orders")
        docs.where(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"),
            (col("o_totalprice") *
              when(col("o_orderkey") % 20 === 3, lit(2.0))
                .otherwise(lit(0.5))).as("o_totalprice"))
          // Shift far past any plausible SF's key range — a collision
          // with a real orderkey would flip these rows from the INSERT
          // branch to the MATCHED branch and diverge from the oracle.
          .unionByName(docs.where(col("o_orderkey") % 1000 === 7)
            .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
              col("o_orderstatus"), col("o_orderpriority"),
              col("o_totalprice")))
          .createOrReplaceTempView("q130_src")
        graft.store.SqlVerbs.execute(s,
          "MERGE INTO ord t USING q130_src s " +
            "ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED AND s.o_totalprice > t.o_totalprice * 1.5 " +
            "THEN UPDATE SET o_totalprice = s.o_totalprice, " +
            "o_orderpriority = 'C-SQL' " +
            "WHEN NOT MATCHED THEN INSERT " +
            "(o_orderkey, o_orderpriority, o_totalprice) " +
            "VALUES (s.o_orderkey, 'N-SQL', s.o_totalprice)", cat)
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(when(col("o_orderstatus").isNull, 1)), lit(0))
            .cast("long").as("null_status"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CASE WHEN o_orderstatus IS NULL THEN 1
                                    END), 0) AS BIGINT) AS null_status,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 20 = 3 THEN 'C-SQL'
                    ELSE o_orderpriority END AS o_orderpriority,
               CASE WHEN o_orderkey % 20 = 3 THEN o_totalprice * 2.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT CAST(NULL AS VARCHAR), 'N-SQL', o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 7)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q131 = QueryDef(
    "q131_catalog_sql",
    "The DSv2 catalog end to end (graft.store.GraftCatalog): a " +
      "MergeStore table registered as graft.q131.ord, then INSERT INTO " +
      "... SELECT, UPDATE, DELETE FROM, and MERGE INTO all run as " +
      "plain spark.sql text — resolved by Spark's OWN analyzer against " +
      "the catalog, dispatched to the verbs by the injected analysis " +
      "rule — and the final SELECT itself plans through the " +
      "GraftFileIndex skipping read. The oracle replays the statement " +
      "sequence as relational algebra. Init = orders with even keys; " +
      "INSERT adds odd keys divisible by 5; UPDATE re-prioritizes " +
      "% 9 = 0; DELETE drops filled % 11 = 0; MERGE inserts the " +
      "% 1000 = 1 slice (never present: odd, not divisible by 5) as " +
      "'M-CAT'.",
    (s, dir) => {
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q131",
        base = Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 2 === 0)
          .select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        graft.store.GraftCatalog.register("q131.ord", t)
        Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
          .select(cols.map(col): _*)
          .createOrReplaceTempView("q131_ins")
        s.sql("INSERT INTO graft.q131.ord SELECT * FROM q131_ins")
        s.sql("UPDATE graft.q131.ord SET o_orderpriority = 'U-CAT' " +
          "WHERE o_orderkey % 9 = 0")
        s.sql("DELETE FROM graft.q131.ord " +
          "WHERE o_orderstatus = 'F' AND o_orderkey % 11 = 0")
        Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 1000 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"),
            lit("M-CAT").as("o_orderpriority"), col("o_totalprice"))
          .createOrReplaceTempView("q131_mrg")
        s.sql("MERGE INTO graft.q131.ord t USING q131_mrg s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      graft.store.GraftCatalog.register("q131.ord", target)
      s.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 AS sum_price
        FROM graft.q131.ord
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderkey % 9 = 0 THEN 'U-CAT'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders
        WHERE (o_orderkey % 2 = 0
               OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0))
          AND NOT (o_orderstatus = 'F' AND o_orderkey % 11 = 0)
        UNION ALL
        SELECT 'M-CAT', o_totalprice FROM orders
        WHERE o_orderkey % 1000 = 1)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q132 = QueryDef(
    "q132_merge_by_source",
    "MERGE ... WHEN NOT MATCHED BY SOURCE (the replication-reconcile " +
      "form: make the target mirror the source's key set): the source " +
      "is the orders slice o_orderkey % 4 = 0 re-prioritized 'K-SRC'; " +
      "matched rows take it, and target rows WITHOUT a source match " +
      "whose status is 'F' are DELETED by the bySource action — " +
      "condition false/NULL keeps. Runs as one SQL statement through " +
      "SqlVerbs; the oracle replays the algebra (matched override + " +
      "unmatched conditional anti-delete) from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q132",
        base = Tables.load(s, dir, "orders").select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        val cat = Map("ord" -> t)
        Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            lit("K-SRC").as("o_orderpriority"), col("o_totalprice"))
          .createOrReplaceTempView("q132_src")
        graft.store.SqlVerbs.execute(s,
          "MERGE INTO ord t USING q132_src s " +
            "ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F' " +
            "THEN DELETE", cat)
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderkey % 4 = 0 THEN 'K-SRC'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders
        WHERE o_orderkey % 4 = 0
           OR NOT (o_orderstatus = 'F'))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q133 = QueryDef(
    "q133_maintenance_call",
    "Table maintenance through Spark 4's native CALL statement (DSv2 " +
      "ProcedureCatalog on GraftCatalog): two DELETEs commit v1/v2, " +
      "then CALL graft.system.restore un-deletes the second slice " +
      "(a NEW head with v1's content), CALL graft.system.compact " +
      "Z-orders the table into 4 files, and CALL graft.system.vacuum " +
      "(retain 1, zero grace) reclaims every pre-compaction file — " +
      "restore must round-trip the content and compact+vacuum must " +
      "preserve it exactly, so the oracle is simply orders minus the " +
      "FIRST delete slice.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q133",
        base = Tables.load(s, dir, "orders").select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        graft.store.GraftCatalog.register("q133.ord", t)
        val cat = Map("ord" -> t)
        graft.store.SqlVerbs.execute(s, "DELETE FROM ord " +
          "WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0", cat)
        graft.store.SqlVerbs.execute(s,
          "DELETE FROM ord WHERE o_orderkey % 7 = 0", cat)
        s.sql("CALL graft.system.restore('q133.ord', version => 1)")
        s.sql("CALL graft.system.compact('q133.ord', " +
          "target_files => 4, zorder_by => 'o_orderkey,o_totalprice')")
        s.sql("CALL graft.system.vacuum('q133.ord', " +
          "retain_versions => 1, grace_millis => 0)")
      }
      MergeStore.read(s, target)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  private val q134 = QueryDef(
    "q134_optimize_small",
    "Incremental OPTIMIZE (MergeStore.compactSmall, Delta's bin-packing " +
      "shape) through CALL graft.system.optimize_small: three trickle " +
      "INSERT INTO appends pile small files onto a table initialized " +
      "from the orders % 3 = 2 slice, then the procedure bin-packs " +
      "every file under the byte threshold — rewriting ONLY those, " +
      "preserving content exactly — so the oracle is simply the base " +
      "slice plus the appended slices. A MOR delete before the " +
      "optimize pins that deletion vectors MATERIALIZE through the " +
      "rewrite (buried rows stay dead).",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q134",
        base = Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 3 === 2)
          .select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        graft.store.GraftCatalog.register("q134.ord", t)
        Seq(11, 12, 13).foreach { k =>
          Tables.load(s, dir, "orders")
            .where(col("o_orderkey") % 1000 === k)
            .select(cols.map(col): _*)
            .createOrReplaceTempView(s"q134_src_$k")
          s.sql(s"INSERT INTO graft.q134.ord SELECT * FROM q134_src_$k")
        }
        MergeStore.deleteWhereMor(s, t,
          col("o_orderstatus") === "F" && col("o_orderkey") % 9 === 0)
        s.sql("CALL graft.system.optimize_small('q134.ord', " +
          "small_bytes => 16384)")
      }
      MergeStore.read(s, target)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders
        WHERE o_orderkey % 3 = 2
        UNION ALL
        SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders
        WHERE o_orderkey % 1000 IN (11, 12, 13))
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 9 = 0)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  private val q135 = QueryDef(
    "q135_merge_multi_action",
    "Multi-clause MERGE — the canonical CDC-apply statement Delta " +
      "users write for change ingestion, as ONE SQL statement: WHEN " +
      "MATCHED AND s.del THEN DELETE / WHEN MATCHED THEN UPDATE SET " +
      "... / WHEN NOT MATCHED AND <cond> THEN INSERT (cols). Clauses " +
      "run per matched row in declaration order, first true condition " +
      "wins; the insert condition is source-only scope. Source: the " +
      "orders %5 slice with del = (status F) and doubled price, plus " +
      "shifted %1000=9 keys as insert candidates gated on price > " +
      "150000. The oracle replays delete+update+conditional-insert " +
      "algebra from scratch.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q135",
        base = Tables.load(s, dir, "orders").select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        val docs = Tables.load(s, dir, "orders")
        docs.where(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"),
            (col("o_orderstatus") === "F").as("del"),
            (col("o_totalprice") * 2).as("o_totalprice"))
          .unionByName(docs.where(col("o_orderkey") % 1000 === 9)
            .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
              lit(false).as("del"), col("o_totalprice")))
          .createOrReplaceTempView("q135_src")
        graft.store.SqlVerbs.execute(s,
          "MERGE INTO ord t USING q135_src s " +
            "ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED AND s.del THEN DELETE " +
            "WHEN MATCHED THEN UPDATE SET " +
            "o_orderpriority = 'M-CDC', o_totalprice = s.o_totalprice " +
            "WHEN NOT MATCHED AND s.o_totalprice > 150000 THEN INSERT " +
            "(o_orderkey, o_orderpriority, o_totalprice) " +
            "VALUES (s.o_orderkey, 'I-CDC', s.o_totalprice)",
          Map("ord" -> t))
      }
      MergeStore.read(s, target)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(when(col("o_orderstatus").isNull, 1)), lit(0))
            .cast("long").as("null_status"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CASE WHEN o_orderstatus IS NULL THEN 1
                                    END), 0) AS BIGINT) AS null_status,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN 'M-CDC'
                    ELSE o_orderpriority END AS o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE NOT (o_orderkey % 5 = 0 AND o_orderstatus = 'F')
        UNION ALL
        SELECT CAST(NULL AS VARCHAR), 'I-CDC', o_totalprice
        FROM orders
        WHERE o_orderkey % 1000 = 9 AND o_totalprice > 150000)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q136 = QueryDef(
    "q136_table_changes_sql",
    "The change feed spoken entirely in SQL: a replica catches up to " +
      "its primary with ONE statement — MERGE INTO rep USING (SELECT * " +
      "FROM table_changes('q136.ord', 1)) with delete/update/" +
      "conditional-insert clauses keyed on _change_type. table_changes " +
      "is the injected TVF (Delta's CDF spelling): its result is the " +
      "per-commit typed feed's LOGICAL PLAN (file-pruned scans, " +
      "_commit_version/_commit_timestamp attribution), composing with " +
      "MERGE like any subquery. Primary takes an UPDATE, a disjoint " +
      "DELETE, and an INSERT through SQL; the oracle replays the net " +
      "algebra — replica == primary == the replay.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      val target = preparedTable(s, dir, "q136",
        base = Tables.load(s, dir, "orders").select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey")) { t =>
        // The replica: an identical twin born from the same base.
        val rep = java.nio.file.Files
          .createTempDirectory("graft-q136-rep").toString + "/tbl"
        MergeStore.cloneTable(s, t, rep)
        graft.store.GraftCatalog.register("q136.ord", t)
        graft.store.GraftCatalog.register("q136.rep", rep)
        // Three SQL commits on the primary (disjoint key sets, so the
        // feed holds one change per key).
        s.sql("UPDATE graft.q136.ord SET o_orderpriority = 'U-TC' " +
          "WHERE o_orderkey % 9 = 0") // v1
        s.sql("DELETE FROM graft.q136.ord WHERE o_orderkey % 11 = 0 " +
          "AND o_orderkey % 9 <> 0 AND o_orderstatus = 'F'") // v2
        Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 1000 === 21)
          .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
            col("o_orderstatus"), lit("N-TC").as("o_orderpriority"),
            col("o_totalprice"))
          .createOrReplaceTempView("q136_ins")
        s.sql("INSERT INTO graft.q136.ord SELECT * FROM q136_ins") // v3
        // Replica catch-up: one SQL statement, keys from the TVF arg.
        s.sql("MERGE INTO graft.q136.rep t USING " +
          "(SELECT * FROM table_changes('q136.ord', 1, 3, 'o_orderkey')) s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED AND s._change_type = 'delete' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET " +
          "o_orderstatus = s.o_orderstatus, " +
          "o_orderpriority = s.o_orderpriority, " +
          "o_totalprice = s.o_totalprice " +
          "WHEN NOT MATCHED AND s._change_type <> 'delete' THEN INSERT " +
          "(o_orderkey, o_orderstatus, o_orderpriority, o_totalprice) " +
          "VALUES (s.o_orderkey, s.o_orderstatus, s.o_orderpriority, " +
          "s.o_totalprice)")
        // Convergence is part of the contract the oracle checks — the
        // replica IS the query result below.
        ()
      }
      require(MergeStore.exists(target)) // primary cached by preparedTable
      // The replica was registered during mutation; the registry is
      // JVM-global, so bench reruns re-resolve it by name.
      val rep = graft.store.GraftCatalog.resolvePath(s, "q136.rep")
      MergeStore.read(s, rep)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(20, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CASE WHEN o_orderkey % 9 = 0 THEN 'U-TC'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders
        WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 9 <> 0
                   AND o_orderstatus = 'F')
        UNION ALL
        SELECT 'N-TC', o_totalprice FROM orders
        WHERE o_orderkey % 1000 = 21)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  private val q137 = QueryDef(
    "q137_partitioned_create",
    "CREATE TABLE ... PARTITIONED BY (yr) maps onto the manifest skip " +
      "index (identity partition columns join the stats cols) — " +
      "year-batched INSERT INTO gives each file a tight yr range, so " +
      "the final year probe prunes files exactly the way a Hive " +
      "partition prunes directories, without per-value small files. " +
      "All DDL and DML are plain spark.sql through the catalog. The " +
      "oracle replays the derived-year filter from orders.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val target = tableCache.computeIfAbsent(s"$dir#q137", _ => {
        val t = java.nio.file.Files
          .createTempDirectory("graft-q137").toString + "/tbl"
        graft.store.GraftCatalog.register("q137.part", t)
        s.sql("CREATE TABLE graft.q137.part (o_orderkey BIGINT, yr INT, " +
          "o_totalprice DOUBLE) PARTITIONED BY (yr)")
        (1992 to 1995).foreach { y =>
          Tables.load(s, dir, "orders")
            .select(col("o_orderkey"),
              (lit(1992) + col("o_orderkey") % 4).cast("int").as("yr"),
              col("o_totalprice"))
            .where(col("yr") === y)
            .createOrReplaceTempView(s"q137_src_$y")
          s.sql(s"INSERT INTO graft.q137.part SELECT * FROM q137_src_$y")
        }
        t
      })
      graft.store.GraftCatalog.register("q137.part", target)
      s.sql("""
        SELECT yr, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 AS sum_price
        FROM graft.q137.part
        WHERE yr IN (1993, 1995)
        GROUP BY yr
        ORDER BY yr""")
    },
    Some("""
      SELECT yr, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price
      FROM (
        SELECT CAST(1992 + o_orderkey % 4 AS INTEGER) AS yr,
               o_totalprice
        FROM orders)
      WHERE yr IN (1993, 1995)
      GROUP BY yr
      ORDER BY yr"""))

  private val q138 = QueryDef(
    "q138_parquet_ckpt",
    "The full verb chain THROUGH a parquet manifest checkpoint " +
      "(graft.ckpt.format=parquet, the columnar predicate-readable " +
      "snapshot encoding — Delta's checkpoint design): update merge, " +
      "predicate delete, insert merge landing ON the interval-th " +
      "commit (whose SLOT stays a cheap text delta while the parquet " +
      "state materializes post-commit as an async .ckpt sidecar — " +
      "Delta's actual protocol), then a trickle delta on top. The " +
      "head read plans through the parquet-decoded state via catalog " +
      "SQL, and the v4_format column comes from checkpointFormatOf " +
      "after draining the async checkpointer — the oracle's constant " +
      "'parquet' fails the hash if the sidecar silently fell back to " +
      "text or never landed. The oracle replays the update/delete/" +
      "insert/update algebra from orders.",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
      // Interval 4 (a table property, set at init) puts the insert merge
      // on the full-snapshot slot; threshold 1 makes the policy decide
      // the encoding, not size.
      val target = preparedTable(s, dir, "q138",
        base = Tables.load(s, dir, "orders").select(cols.map(col): _*),
        clusterBy = Seq("o_orderkey"),
        meta = Map("ckpt.interval" -> "4")) { t =>
        System.setProperty("graft.manifest.compress.threshold", "1")
        try {
          val docs = Tables.load(s, dir, "orders").select(cols.map(col): _*)
          val priceT = docs.schema("o_totalprice").dataType
          MergeStore.setPolicy(t, "graft.ckpt.format", Some("parquet")) // v1
          MergeStore.merge(s, docs.where(col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              (col("o_totalprice") * 3).cast(priceT).as("o_totalprice")),
            t, Seq("o_orderkey")) // v2
          MergeStore.deleteWhere(s, t, col("o_orderkey") % 11 === 0) // v3
          MergeStore.merge(s, docs.where(col("o_orderkey") % 1000 === 3)
            .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
              lit("N").as("o_orderstatus"), col("o_totalprice")),
            t, Seq("o_orderkey")) // v4: parquet full snapshot
          MergeStore.merge(s, docs.where(col("o_orderkey") % 13 === 0 &&
              col("o_orderkey") % 11 =!= 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              (col("o_totalprice") + 1).cast(priceT).as("o_totalprice")),
            t, Seq("o_orderkey")) // v5: delta on the parquet base
          // Drain INSIDE the property scope: the async sidecar encode
          // re-reads the (test-overridden) size threshold at run time.
          MergeStore.drainCheckpoints()
        } finally System.clearProperty("graft.manifest.compress.threshold")
      }
      MergeStore.drainCheckpoints()
      val fmt = MergeStore.checkpointFormatOf(target, 4)
        .getOrElse("missing")
      graft.store.GraftCatalog.register("q138.ord", target)
      s.sql(s"""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 AS sum_price,
               '$fmt' AS v4_format
        FROM graft.q138.ord
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")
    },
    Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(price AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price,
             'parquet' AS v4_format
      FROM (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
                    WHEN o_orderkey % 7 = 0 THEN o_totalprice * 3
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 11 <> 0
        UNION ALL
        SELECT 'N' AS o_orderstatus, o_totalprice AS price
        FROM orders
        WHERE o_orderkey % 1000 = 3)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  private val q139 = QueryDef(
    "q139_copy_into",
    "COPY INTO — idempotent bulk-file ingest (the public Delta COPY " +
      "INTO design): a table born with one third of orders ingests a " +
      "2-file source dir carrying the other two thirds via " +
      "MergeStore.copyInto, whose cp: manifest ledger rides the same " +
      "CAS commit as the data files. EVERY query pass re-runs the " +
      "same COPY INTO and surfaces its (files_loaded, files_skipped) " +
      "as columns the oracle pins to (0, 2) — a re-run that loads " +
      "anything (broken ledger, double ingest) breaks both the " +
      "constants and the sums. The oracle replays plain orders.",
    (s, dir) => {
      val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
      def orders = Tables.load(s, dir, "orders").select(cols.map(col): _*)
      val target = preparedTable(s, dir, "q139",
        base = orders.where(col("o_orderkey") % 3 === 2),
        clusterBy = Seq("o_orderkey")) { t =>
        val src = java.nio.file.Paths.get(
          t.stripSuffix("/tbl"), "src")
        def put(name: String,
                df: org.apache.spark.sql.DataFrame): Unit = {
          import scala.jdk.CollectionConverters._
          val stage = java.nio.file.Files
            .createTempDirectory("q139-stage")
          df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val one = java.nio.file.Files.list(stage).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.createDirectories(src)
          java.nio.file.Files.move(one, src.resolve(name)): Unit
        }
        put("orders-a.parquet", orders.where(col("o_orderkey") % 3 === 0))
        put("orders-b.parquet", orders.where(col("o_orderkey") % 3 === 1))
        val st = MergeStore.copyInto(s, t, s"$src/*.parquet")
        require(st.filesLoaded == 2 && st.filesSkipped == 0,
          s"first COPY INTO must load both source files: $st")
      }
      // Re-offered EVERY pass: the ledger must skip both files.
      val st = MergeStore.copyInto(s, target,
        target.stripSuffix("/tbl") + "/src/*.parquet")
      graft.store.GraftCatalog.register("q139.ord", target)
      s.sql(s"""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 AS sum_price,
               ${st.filesLoaded} AS rerun_loaded,
               ${st.filesSkipped} AS rerun_skipped
        FROM graft.q139.ord
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")
    },
    Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
               AS sum_price,
             0 AS rerun_loaded, 2 AS rerun_skipped
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  private val q140 = QueryDef(
    "q140_column_defaults",
    "Column DEFAULT values, standard SQL semantics spoken through the " +
      "catalog (SUPPORT_COLUMN_DEFAULT_VALUE; the defaults live in " +
      "the manifest-recorded schema's field metadata and Spark's " +
      "ANALYZER fills them): CREATE TABLE with two DEFAULTed columns, " +
      "INSERT ... SELECT batches that omit one or both (analyzer " +
      "fills 'UNKNOWN'/3), then ALTER COLUMN SET DEFAULT 7 + DROP " +
      "DEFAULT flip the fill for the third batch (future-only — " +
      "earlier rows keep their stored values). The oracle replays the " +
      "three fills as constants over customer.",
    (s, dir) => {
      val target = tableCache.computeIfAbsent(s"$dir#q140", _ => {
        val t = java.nio.file.Files
          .createTempDirectory("graft-q140").toString + "/tbl"
        graft.store.GraftCatalog.register("q140.cust", t)
        s.sql("CREATE TABLE graft.q140.cust (c_custkey BIGINT, " +
          "c_mktsegment STRING DEFAULT 'UNKNOWN', " +
          "priority INT DEFAULT 3)")
        def src = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        src.where(col("c_custkey") % 3 === 0)
          .createOrReplaceTempView("q140_a")
        s.sql("INSERT INTO graft.q140.cust (c_custkey, c_mktsegment) " +
          "SELECT * FROM q140_a") // priority fills 3
        src.where(col("c_custkey") % 3 === 1).select(col("c_custkey"))
          .createOrReplaceTempView("q140_b")
        s.sql("INSERT INTO graft.q140.cust (c_custkey) " +
          "SELECT * FROM q140_b") // segment fills 'UNKNOWN', priority 3
        s.sql("ALTER TABLE graft.q140.cust " +
          "ALTER COLUMN priority SET DEFAULT 7")
        s.sql("ALTER TABLE graft.q140.cust " +
          "ALTER COLUMN c_mktsegment DROP DEFAULT")
        src.where(col("c_custkey") % 3 === 2).select(col("c_custkey"))
          .createOrReplaceTempView("q140_c")
        s.sql("INSERT INTO graft.q140.cust (c_custkey) " +
          "SELECT * FROM q140_c") // segment NULL now, priority 7
        t
      })
      graft.store.GraftCatalog.register("q140.cust", target)
      s.sql("""
        SELECT coalesce(c_mktsegment, '(none)') AS seg, priority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_key
        FROM graft.q140.cust
        GROUP BY seg, priority
        ORDER BY seg, priority""")
    },
    Some("""
      SELECT seg, priority, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(c_custkey) AS BIGINT) AS sum_key
      FROM (
        SELECT c_mktsegment AS seg, 3 AS priority, c_custkey
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT 'UNKNOWN', 3, c_custkey
        FROM customer WHERE c_custkey % 3 = 1
        UNION ALL
        SELECT '(none)', 7, c_custkey
        FROM customer WHERE c_custkey % 3 = 2)
      GROUP BY seg, priority
      ORDER BY seg, priority"""))

  private val q141 = QueryDef(
    "q141_replace_table",
    "CREATE OR REPLACE TABLE AS SELECT through the staging catalog " +
      "(StagingTableCatalog): the replace is ONE commit on the " +
      "existing manifest chain carrying the new definition whole " +
      "(new schema + content, policies reset), so VERSION AS OF " +
      "below the replace still reads the OLD table — Delta's " +
      "REPLACE, not the log-erasing drop+create fallback. The query " +
      "surfaces the head's aggregate under the REPLACED schema plus " +
      "the pre-replace version's row count read by time travel; the " +
      "oracle replays both from orders.",
    (s, dir) => {
      val target = tableCache.computeIfAbsent(s"$dir#q141", _ => {
        val t = java.nio.file.Files
          .createTempDirectory("graft-q141").toString + "/tbl"
        graft.store.GraftCatalog.register("q141.rt", t)
        s.sql("CREATE TABLE graft.q141.rt " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)") // v0
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .createOrReplaceTempView("q141_src")
        s.sql("INSERT INTO graft.q141.rt " +
          "SELECT o_orderkey, o_totalprice FROM q141_src " +
          "WHERE o_orderkey % 2 = 0") // v1
        s.sql("CREATE OR REPLACE TABLE graft.q141.rt AS " +
          "SELECT o_orderkey, o_orderstatus, o_totalprice + 1 AS lifted " +
          "FROM q141_src WHERE o_orderkey % 5 < 3") // v2: new definition
        t
      })
      graft.store.GraftCatalog.register("q141.rt", target)
      val preReplaceRows = s.sql(
        "SELECT CAST(count(*) AS BIGINT) FROM graft.q141.rt VERSION AS OF 1")
        .collect()(0).getLong(0)
      s.sql(s"""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(lifted AS DECIMAL(20,4))) AS DOUBLE)
                 AS sum_lifted,
               CAST($preReplaceRows AS BIGINT) AS pre_replace_rows
        FROM graft.q141.rt
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")
    },
    Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice + 1 AS DECIMAL(20,4)))
               AS DOUBLE) AS sum_lifted,
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_orderkey % 2 = 0) AS pre_replace_rows
      FROM orders
      WHERE o_orderkey % 5 < 3
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  override val defs: Seq[QueryDef] =
    Seq(q91, q92, q96, q97, q98, q101, q107, q109, q110, q111, q112,
      q113, q115, q116, q117, q118, q119, q120, q121, q122, q123, q126,
      q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137,
      q138, q139, q140, q141)
}
