package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.operators.{Bm25, HybridSearch, PhraseSearch, Similarity}

/** Keyword-retrieval queries: the inverted-index/BM25 side of the
  * retrieval stack (the ANN side lives in SimilarityQueries). The BM25
  * formula is pure SQL, so the DuckDB oracle mirrors it term by term —
  * same Lucene idf, same rounded-score ranking convention as q43/q58.
  */
object RetrievalQueries extends QueryFamily {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** One persisted BM25 index per sf dir, built on first use — q89 (and
    * Bench's warmup) measure INDEXED SEARCH, not a per-invocation index
    * rebuild, and repeated bench passes stop leaking a full index copy
    * each. The temp dir is process-scoped, reclaimed with the JVM's
    * tmpdir. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Resolve (building if absent) the persisted index for `dir`'s
    * documents table. Exposed so Bench can pre-build during warmup. */
  def indexFor(s: SparkSession, dir: String): String =
    indexCache.computeIfAbsent(dir, _ => {
      val d = graft.core.TempDirs.create("graft-bm25-index").toString
      Bm25.buildIndex(docs(s, dir), "doc_id", "text", d)
      d
    })

  /** Fixed benchmark query set, literal on both engines. Mixes the one
    * rare corpus term ("dup") with common ones so idf actually spreads. */
  private val querySet = Seq(
    0 -> "dup hash join",
    1 -> "merge sort batch",
    2 -> "slow scan filter",
    3 -> "vector window stream",
    4 -> "customer order value")

  /** The q76 BM25 oracle, shared VERBATIM by q89 (with a corpus
    * predicate by q105, with a revised corpus by q108): the persisted
    * index must reproduce the live formulation's scores exactly — over
    * exactly the docs (and revisions) it holds. */
  private def bm25OracleSqlOver(corpusSql: String): String =
    s"""
      WITH q(query_id, qtext) AS (VALUES
        ${querySet.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
      toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM ($corpusSql)),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      qterms AS (
        SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
        FROM q),
      qidf AS (
        SELECT query_id, term,
               ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
        FROM qterms JOIN df USING (term) CROSS JOIN stats),
      contrib AS (
        SELECT query_id, tf.doc_id,
               idf * CAST(tf AS DOUBLE) * 2.2 /
                 (CAST(tf AS DOUBLE) +
                  1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS c
        FROM tf JOIN dl USING (doc_id) JOIN qidf USING (term)),
      scored AS (
        SELECT query_id, doc_id, round(sum(c), 6) AS score
        FROM contrib GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, doc_id, score,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        FROM scored)
      SELECT query_id, rank, doc_id, score FROM ranked
      WHERE rank <= 10
      ORDER BY query_id, rank"""

  private def bm25OracleSqlWhere(corpusWhere: String): String =
    bm25OracleSqlOver(s"SELECT doc_id, text FROM documents WHERE $corpusWhere")

  private lazy val bm25OracleSql: String = bm25OracleSqlWhere("TRUE")

  private val q76 = QueryDef(
    "q76_bm25_topk",
    "BM25 keyword retrieval (Okapi, Lucene idf variant): top-10 docs per " +
      "query from an inverted index expressed relationally — postings " +
      "from one map-side-combinable aggregate, doc lengths re-aggregated " +
      "from the postings, Heaps-bounded df/idf, query terms broadcast " +
      "into the postings join so the corpus scan is map-local and " +
      "touches only query-matched terms. Ranked on the round(6) score, " +
      "tie-break doc_id — engine-exact.",
    (s, dir) => {
      import s.implicits._
      val qs = querySet.toDF("query_id", "qtext")
      Bm25.searchTopK(docs(s, dir), "doc_id", "text", qs, "query_id", "qtext",
          k = 10)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    },
    Some(bm25OracleSql))

  /** Phrase set for exact-phrase retrieval: trigrams verified present in
    * the corpus at multiple scale factors, plus one bigram so the
    * per-length union path is exercised. */
  private val phraseSet = Seq(
    0 -> "slow hash batch",
    1 -> "part filter scan",
    2 -> "row column sort",
    3 -> "stream table hash",
    4 -> "table key filter",
    5 -> "hash join")

  private val q80 = QueryDef(
    "q80_phrase_search",
    "Exact-phrase retrieval (contamination forensics: every doc " +
      "containing the exact quote): corpus explodes its L-gram multiset " +
      "once per distinct phrase length, phrases broadcast into a " +
      "gram-keyed join — map-local corpus scan, only matching " +
      "occurrences reach the (query, doc) count. Hit count + first " +
      "position per match.",
    (s, dir) => {
      import s.implicits._
      val qs = phraseSet.toDF("query_id", "phrase")
      PhraseSearch.phraseMatches(docs(s, dir), "doc_id", "text",
          qs, "query_id", "phrase")
        .select("query_id", "doc_id", "n_hits", "first_pos")
        .orderBy("query_id", "doc_id")
    },
    Some(s"""
      WITH q(query_id, phrase) AS (VALUES
        ${phraseSet.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
      toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      occ3 AS (
        SELECT doc_id, u.pos, u.gram FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
                   i -> struct_pack(pos := i - 1,
                     gram := a[i] || ' ' || a[i+1] || ' ' || a[i+2]))) AS u
          FROM toks)),
      occ2 AS (
        SELECT doc_id, u.pos, u.gram FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(a), 1)),
                   i -> struct_pack(pos := i - 1,
                     gram := a[i] || ' ' || a[i+1]))) AS u
          FROM toks)),
      m AS (
        SELECT query_id, doc_id, pos
        FROM q JOIN occ3 ON q.phrase = occ3.gram
        WHERE len(string_split(phrase, ' ')) = 3
        UNION ALL
        SELECT query_id, doc_id, pos
        FROM q JOIN occ2 ON q.phrase = occ2.gram
        WHERE len(string_split(phrase, ' ')) = 2)
      SELECT query_id, doc_id,
             CAST(count(*) AS INTEGER) AS n_hits,
             CAST(min(pos) AS INTEGER) AS first_pos
      FROM m GROUP BY 1, 2
      ORDER BY query_id, doc_id"""))

  /** Sequential double fold of an elementwise product, DuckDB side
    * (SimilarityQueries' convention — cosine_sim's exact fold order). */
  private def fold(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  private val q87 = QueryDef(
    "q87_hybrid_rrf",
    "Hybrid retrieval: BM25 lexical top-20 fused with exact-cosine " +
      "vector top-20 by reciprocal rank fusion (Cormack et al. 2009, " +
      "the modern search-stack default: RRF needs only ranks, never " +
      "calibrated scores). Queries carry BOTH a text (q76's set) and a " +
      "vector (the same ids' embeddings, q51's pattern). Fusion moves " +
      "no corpus data — a union of queries-x-k rank triples, one tiny " +
      "aggregate, one query-partitioned window; each side keeps its own " +
      "scale path. The lexical side reads the PERSISTED q89 index " +
      "(spec-pinned bit-identical to the live formulation) — a search " +
      "stack builds its inverted index once and every retrieval query " +
      "shares it, hybrid included.",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val qs = querySet.toDF("query_id", "qtext")
      val bm = Bm25.searchTopKIndexed(indexFor(s, dir), qs,
          "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc").as("doc_id"), col("rank"))
      val vec = Similarity.batchTopKNeighbors(s,
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          queryIds = querySet.map(_._1.toLong), k = 20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("vec_id"))).cast("int"))
        .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
          col("rank"))
      HybridSearch.rrfFuse(Seq(bm, vec), "query_id", "doc_id", "rank",
          k = 10)
        .select("query_id", "rank", "doc_id", "rrf", "n_sides")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH q(query_id, qtext) AS (VALUES
        ${querySet.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
      toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      qterms AS (
        SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
        FROM q),
      qidf AS (
        SELECT query_id, term,
               ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
        FROM qterms JOIN df USING (term) CROSS JOIN stats),
      contrib AS (
        SELECT query_id, tf.doc_id,
               idf * CAST(tf AS DOUBLE) * 2.2 /
                 (CAST(tf AS DOUBLE) +
                  1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS c
        FROM tf JOIN dl USING (doc_id) JOIN qidf USING (term)),
      scored AS (
        SELECT query_id, doc_id, round(sum(c), 6) AS score
        FROM contrib GROUP BY 1, 2),
      bm AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank
        FROM scored
        QUALIFY rank <= 20),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      qv AS (SELECT vec_id AS qid, v AS qvec FROM e
             WHERE vec_id IN (${querySet.map(_._1).mkString(", ")})),
      sc AS (SELECT qid, e.vec_id,
               round(${fold("e.v", "qvec")} /
                 (sqrt(${fold("e.v", "e.v")}) * sqrt(${fold("qvec", "qvec")})),
                 6) AS cosine
             FROM e CROSS JOIN qv),
      vr AS (SELECT qid AS query_id, vec_id AS doc_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, vec_id) AS rank
             FROM sc
             QUALIFY rank <= 20),
      fused AS (
        SELECT coalesce(b.query_id, v.query_id) AS query_id,
               coalesce(b.doc_id, v.doc_id) AS doc_id,
               round(coalesce(CAST(1 AS DOUBLE) / (60 + b.rank), 0)
                 + coalesce(CAST(1 AS DOUBLE) / (60 + v.rank), 0), 6) AS rrf,
               CAST((CASE WHEN b.rank IS NULL THEN 0 ELSE 1 END)
                 + (CASE WHEN v.rank IS NULL THEN 0 ELSE 1 END)
                 AS INTEGER) AS n_sides
        FROM bm b FULL OUTER JOIN vr v
          ON b.query_id = v.query_id AND b.doc_id = v.doc_id)
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank,
             doc_id, rrf, n_sides
      FROM fused
      QUALIFY rank <= 10
      ORDER BY query_id, rank"""))

  private val q89 = QueryDef(
    "q89_bm25_indexed",
    "BM25 against a PERSISTED inverted index (q76's scores from tables " +
      "instead of a per-call rebuild — the query-workload shape): " +
      "buildIndex materializes postings/df range-clustered + sorted on " +
      "term and the doclen/stats summaries; search pushes the query's " +
      "term IN list into the parquet scans, so IO is proportional to " +
      "the MATCHED postings slices, not the index (the inverted-index " +
      "seek as row-group pruning). Shares q76's oracle verbatim — the " +
      "index must reproduce the live formulation bit-for-bit.",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val indexDir = indexFor(s, dir)
      val qs = querySet.toDF("query_id", "qtext")
      Bm25.searchTopKIndexed(indexDir, qs, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("score"))
        .orderBy("query_id", "rank")
    },
    Some(bm25OracleSql))

  /** q105's index: built on the FULL corpus, then every doc_id % 13 == 0
    * tombstoned via [[Bm25.deleteFromIndex]] — its own cache entry (it
    * must never mutate q89's shared index). */
  private val deletedIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def deletedIndexFor(s: SparkSession, dir: String): String =
    deletedIndexCache.computeIfAbsent(dir, _ => {
      import org.apache.spark.sql.functions.col
      val d = graft.core.TempDirs.create("graft-bm25-del-index").toString
      Bm25.buildIndex(docs(s, dir), "doc_id", "text", d)
      Bm25.deleteFromIndex(s, d,
        docs(s, dir).where(col("doc_id") % 13 === 0).select(col("doc_id")))
      d
    })

  private val q105 = QueryDef(
    "q105_bm25_index_delete",
    "Compliance DELETE reaching the RETRIEVAL INDEX: the full-corpus " +
      "persisted BM25 index tombstones every doc_id % 13 == 0 (postings " +
      "carry by hard link — term-clustered files smear a doc across the " +
      "whole index, so a physical rewrite would cost the index per " +
      "batch; Lucene's deleted-docs / Delta's deletion-vector shape), " +
      "df/doclen/stats recomputed EXACTLY from the effective postings " +
      "in one index-only pass. The oracle is the live BM25 formulation " +
      "over the surviving documents — a stale df, leaked victim, or " +
      "drifted avgdl breaks the hash.",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val qs = querySet.toDF("query_id", "qtext")
      Bm25.searchTopKIndexed(deletedIndexFor(s, dir), qs,
          "query_id", "qtext", k = 10)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("score"))
        .orderBy("query_id", "rank")
    },
    Some(bm25OracleSqlWhere("doc_id % 13 <> 0")))

  /** q108's index: full corpus, then every doc_id % 13 == 0 REVISED via
    * [[Bm25.upsertToIndex]] (two new ' upserttok' occurrences each) —
    * one snapshot publish buries the old postings and lands the new. */
  private val upsertedIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def upsertedIndexFor(s: SparkSession, dir: String): String =
    upsertedIndexCache.computeIfAbsent(dir, _ => {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val d = graft.core.TempDirs.create("graft-bm25-upsert-index").toString
      Bm25.buildIndex(docs(s, dir), "doc_id", "text", d)
      Bm25.upsertToIndex(docs(s, dir).where(col("doc_id") % 13 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" upserttok upserttok")).as("text")),
        "doc_id", "text", d)
      d
    })

  private val q108 = QueryDef(
    "q108_bm25_index_upsert",
    "Document UPDATE reaching the RETRIEVAL INDEX without a compaction: " +
      "every doc_id % 13 == 0 is revised through Bm25.upsertToIndex — " +
      "the batch's ids get a SEGMENT-SCOPED tombstone (kills their " +
      "postings in all committed segments) and the revised postings " +
      "land one segment higher, both inside ONE snapshot publish " +
      "(Lucene's per-segment deleted-docs; Delta MERGE, index-shaped). " +
      "df/doclen/stats recompute from the effective postings, so the " +
      "oracle is the live BM25 formulation over the REVISED corpus — a " +
      "doubled tf (old postings leaking), stale df, or drifted " +
      "dl/avgdl breaks the hash.",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val qs = querySet.toDF("query_id", "qtext")
      Bm25.searchTopKIndexed(upsertedIndexFor(s, dir), qs,
          "query_id", "qtext", k = 10)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("score"))
        .orderBy("query_id", "rank")
    },
    Some(bm25OracleSqlOver(
      "SELECT doc_id, CASE WHEN doc_id % 13 = 0 " +
        "THEN text || ' upserttok upserttok' ELSE text END AS text " +
        "FROM documents")))

  /** q114's index: built by the CONTINUOUS pipeline — a MergeStore
    * documents table mutated across two commits (revise doc_id % 13,
    * then delete doc_id % 29 — overlapping ids net to a terminal
    * delete), then [[graft.streaming.StreamingSearch.follow]] catches
    * the index up from the CDC stream in one AvailableNow run. */
  private val streamedIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def streamedIndexFor(s: SparkSession, dir: String): String =
    streamedIndexCache.computeIfAbsent(dir, _ => {
      import org.apache.spark.sql.functions.{col, concat, lit}
      import graft.store.MergeStore
      import graft.streaming.StreamingSearch
      val root = graft.core.TempDirs.create("graft-bm25-stream").toString
      val t = s"$root/tbl"
      MergeStore.init(s, docs(s, dir).select(col("doc_id"), col("text")),
        t, numFiles = 8, clusterBy = Seq("doc_id")) // v0
      StreamingSearch.initIndex(s, t, s"$root/ix", "doc_id", "text")
      MergeStore.merge(s,
        docs(s, dir).where(col("doc_id") % 13 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" streamtok")).as("text")),
        t, pk = Seq("doc_id")) // v1
      MergeStore.delete(s, t,
        docs(s, dir).where(col("doc_id") % 29 === 0).select(col("doc_id")),
        pk = Seq("doc_id")) // v2
      StreamingSearch.follow(s, t, s"$root/ix", "doc_id", "text",
        checkpoint = s"$root/ck").awaitTermination()
      s"$root/ix"
    })

  private val q114 = QueryDef(
    "q114_stream_search",
    "CONTINUOUSLY MAINTAINED retrieval index: the documents table " +
      "mutates across two commits (doc_id % 13 revised with a new " +
      "token, doc_id % 29 deleted — ids in both net to a terminal " +
      "delete), and the BM25 index catches up from the CDC stream " +
      "(StreamingSearch.follow): per-doc terminal-change reduction, " +
      "one applyChangesToIndex publish per micro-batch carrying the " +
      "applied marker, summaries recomputed from effective postings. " +
      "The oracle is the live BM25 formulation over the composed final " +
      "corpus — a missed revision, resurrected victim, doubled tf, or " +
      "drifted df/avgdl anywhere in the CDC -> index pipeline breaks " +
      "the hash.",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val qs = querySet.toDF("query_id", "qtext")
      Bm25.searchTopKIndexed(streamedIndexFor(s, dir), qs,
          "query_id", "qtext", k = 10)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("score"))
        .orderBy("query_id", "rank")
    },
    Some(bm25OracleSqlOver(
      "SELECT doc_id, CASE WHEN doc_id % 13 = 0 " +
        "THEN text || ' streamtok' ELSE text END AS text " +
        "FROM documents WHERE doc_id % 29 <> 0")))

  override val defs: Seq[QueryDef] =
    Seq(q76, q80, q87, q89, q105, q108, q114)
}
