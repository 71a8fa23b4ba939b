package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.functions.{Curation, TextAnalysis}
import graft.operators.SequencePacking

/** Dataset-curation queries over `documents` — the steps between "cleaned
  * corpus" and "training batches": deterministic split assignment,
  * PII-style redaction, per-document salient terms, and token-budget
  * packing. Every formula is mirrored exactly in the DuckDB oracle
  * (integer counts, explicit double coercions, round at the edge).
  */
object CurationQueries extends QueryFamily {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val q41 = QueryDef(
    "q41_hash_split",
    "Deterministic 90/5/5 train/val/test split: md5(doc_id) bucket mod " +
      "100 — stable across runs, engines, partitionings, and cluster " +
      "sizes, so re-ingesting never moves a document between splits. " +
      "Aggregated per (split, lang) with id ranges.",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), col("lang"),
        Curation.splitLabel(col("doc_id")).as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split", "lang"),
    Some("""
      WITH b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                 % 100 AS bucket
        FROM documents)
      SELECT CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split,
             lang, count(*) AS n,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM b
      GROUP BY 1, 2
      ORDER BY split, lang"""))

  private val q42 = QueryDef(
    "q42_pii_redact",
    "PII-style redaction pass: digit runs of 3+ → <NUM>, email-shaped " +
      "tokens counted, and a names-dictionary scrub (whole-word terms → " +
      "<ENTITY>); per-doc redaction stats (match counts, length delta). " +
      "Pure codegen'd regex — at scale this is a map-only stage with " +
      "zero shuffle.",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        Curation.numberCount(col("text")).as("n_numbers"),
        Curation.emailCount(col("text")).as("n_emails"),
        Curation.entityCount(col("text")).as("n_entities"),
        length(col("text")).as("len_raw"),
        length(Curation.redactEntities(Curation.redactNumbers(col("text"))))
          .as("len_redacted"))
      .where(col("n_numbers") > 0 || col("n_emails") > 0
        || col("n_entities") > 0)
      .orderBy("doc_id"),
    Some(s"""
      WITH r AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '${Curation.numberPattern}'))
                 AS INTEGER) AS n_numbers,
               CAST(len(regexp_extract_all(text, '${Curation.emailPattern}'))
                 AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text, '${Curation.entityPattern}'))
                 AS INTEGER) AS n_entities,
               CAST(length(text) AS INTEGER) AS len_raw,
               CAST(length(regexp_replace(regexp_replace(text,
                 '${Curation.numberPattern}', '<NUM>', 'g'),
                 '${Curation.entityPattern}', '<ENTITY>', 'g'))
                 AS INTEGER) AS len_redacted
        FROM documents)
      SELECT * FROM r
      WHERE n_numbers > 0 OR n_emails > 0 OR n_entities > 0
      ORDER BY doc_id"""))

  private val q43 = QueryDef(
    "q43_tfidf_topterms",
    "Top-3 salient terms per document by tf-idf (linear idf = N/df " +
      "variant so the math is engine-exact without transcendental " +
      "functions): token explode → per-doc tf, corpus df, score, " +
      "partitioned-window top-k. The window partitions by doc_id — " +
      "fully distributed at any scale.",
    (s, dir) => {
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df_ = toks.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df_, "token").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * lit(1.0) * col("n_docs") / col("df"), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      scored.withColumn("rank", row_number().over(w).cast(IntegerType))
        .where(col("rank") <= 3)
        .select("doc_id", "rank", "token", "score")
        .orderBy("doc_id", "rank")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM toks GROUP BY doc_id, token),
      df AS (
        SELECT token, count(*) AS df
        FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token,
               round(((tf.tf * 1.0) * n.n_docs) / df.df, 6) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, token, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, token) AS INTEGER) AS rank
        FROM scored)
      SELECT doc_id, rank, token, score
      FROM ranked
      WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  private val q44 = QueryDef(
    "q44_seq_packing",
    "Sequence packing: streaming-fill documents into 512-token packs " +
      "within each language (pack = floor(preceding-tokens / 512) over a " +
      "doc_id-ordered running sum). Per-pack doc counts and token totals. " +
      "The window partitions by lang; a production pipeline would " +
      "partition by (lang, shard) for unbounded corpora.",
    (s, dir) => {
      val withTok = docs(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withTok
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tok")) / 512.0).cast(IntegerType))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("pack_tokens"))
        .orderBy("lang", "pack_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE length(text) - length(replace(text, ' ', '')) + 1
                    END AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, lang, n_tok,
               sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT lang,
             CAST(floor((cum - n_tok) / 512.0) AS INTEGER) AS pack_id,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
      FROM c
      GROUP BY lang, pack_id
      ORDER BY lang, pack_id"""))

  private val q47 = QueryDef(
    "q47_chunk_windows",
    "RAG-style context chunking: overlapping token windows (32 tokens, " +
      "stride 24) per document, 1-based chunk ids, rejoined text. The " +
      "token array is materialized in its OWN projection first, so the " +
      "per-chunk slice reads an attribute — not a derived expression " +
      "re-evaluated per element (the interpreted-lambda trap " +
      "STATUS_r1.md documents). Map-only: zero shuffle before the " +
      "output sort.",
    (s, dir) => {
      val win = 32; val stride = 24
      val toks = docs(s, dir).select(col("doc_id"),
        split(col("text"), " ").as("toks"))
      val nChunks = greatest(
        ceil((size(col("toks")) - win).cast(DoubleType) / stride)
          .cast(IntegerType) + 1,
        lit(1))
      toks
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), nChunks)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          array_join(slice(col("toks"), (col("chunk_id") - 1) * stride + 1, lit(win)), " ")
            .as("chunk_text"),
          size(slice(col("toks"), (col("chunk_id") - 1) * stride + 1, lit(win)))
            .as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(
                 CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER) + 1, 1) + 1))
                 AS chunk_id
        FROM t)
      SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
             array_to_string(toks[(chunk_id - 1) * 24 + 1 :
                                  (chunk_id - 1) * 24 + 32], ' ') AS chunk_text,
             CAST(len(toks[(chunk_id - 1) * 24 + 1 :
                           (chunk_id - 1) * 24 + 32]) AS INTEGER) AS n_tokens
      FROM c
      ORDER BY doc_id, chunk_id"""))

  private val stopList53 = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")

  private val q53 = QueryDef(
    "q53_curation_pipeline",
    "End-to-end corpus curation in ONE declarative plan: near-dup cluster " +
      "pruning keeping each cluster's HIGHEST-quality document (q63's " +
      "representative — what a production pipeline wants from dedup; " +
      "singletons via left join + coalesce), the composite quality gate " +
      "(>= 0.7) on the kept representative, and the deterministic md5 " +
      "train/val/test split — the compose-everything query a training " +
      "pipeline actually runs. Quality scoring feeds BOTH the " +
      "representative choice and the gate from one projection; the " +
      "oracle chains the q29/q49/q63/q41 CTE machinery.",
    (s, dir) => {
      val d = docs(s, dir)
      val clusters = graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
            n = 3, threshold = 0.8),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp"))
      // Widened for the same single-task quality-kernel reason as q63.
      graft.core.Par.widen(d).select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .where(col("rn") === 1 && col("quality") >= 0.7)
        .select(col("doc_id"), col("lang"), col("quality"),
          Curation.splitLabel(col("doc_id")).as("split"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
                 i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
             FROM toks),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT s1.doc_id AS id_a, s2.doc_id AS id_b,
                       count(*) AS inter
                FROM sh s1 JOIN sh s2
                  ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
                GROUP BY 1, 2),
      dup AS (SELECT id_a, id_b
              FROM pairs
              JOIN sizes na ON id_a = na.doc_id
              JOIN sizes nb ON id_b = nb.doc_id
              WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM dup
                UNION
                SELECT id_b AS src, id_a AS dst FROM dup),
      walk(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT g.dst, w.comp FROM walk w JOIN edges g ON g.src = w.id),
      comps AS (SELECT id AS doc_id, min(comp) AS comp FROM walk GROUP BY id),
      t AS (
        SELECT doc_id, lang, text,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE length(text) - length(replace(text, ' ', '')) + 1
                    END AS n_tok,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ($stopList53))) AS n_stop,
               length(text) - length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                 AS n_nonalpha
        FROM documents),
      scored AS (
        SELECT doc_id, lang,
               round(least(n_tok / 50.0, 1.0) * 0.4
                   + least(n_stop * 1.0 / nullif(n_tok, 0) * 5.0, 1.0) * 0.3
                   + greatest(0.0, 1.0 - n_nonalpha * 1.0 / nullif(length(text), 0) * 5.0) * 0.3,
                 6) AS quality,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                 % 100 AS bucket
        FROM t),
      sel AS (
        SELECT s.doc_id, s.lang, s.quality, s.bucket,
               row_number() OVER (
                 PARTITION BY coalesce(c.comp, s.doc_id)
                 ORDER BY s.quality DESC, s.doc_id) AS rn
        FROM scored s LEFT JOIN comps c ON c.doc_id = s.doc_id)
      SELECT doc_id, lang, quality,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM sel
      WHERE rn = 1 AND quality >= 0.7
      ORDER BY doc_id"""))

  private val q93 = QueryDef(
    "q93_pii_redaction",
    "PII scrub: deterministic PII (emails, SSNs, dashed phones, IPv4) is " +
      "planted into each document, then detected (regexp_count per type) " +
      "and redacted to type tokens — one chained regexp_replace codegen " +
      "projection, map-local, no shuffle, no UDF. Patterns live in the " +
      "Java-regex ∩ RE2 subset (no backrefs/lookaround: linear-time on " +
      "adversarial input), so the oracle replays them verbatim.",
    (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@example.com ip 10.0."),
          col("doc_id") % 256, lit("."), col("doc_id") % 100,
          lit(" call 555-0"),
          format_string("%02d", (col("doc_id") % 100).cast(IntegerType)),
          lit("-"),
          format_string("%04d", (col("doc_id") % 10000).cast(IntegerType)),
          lit(" ssn "),
          format_string("%03d", (col("doc_id") % 1000).cast(IntegerType)),
          lit("-"),
          format_string("%02d", (col("doc_id") % 100).cast(IntegerType)),
          lit("-"),
          format_string("%04d", (col("doc_id") % 10000).cast(IntegerType)))
          .as("text"))
      val counts = graft.functions.Pii.counts(col("text"))
      planted.select(
          Seq(col("doc_id")) ++
            counts.map { case (n, c) => c.cast(IntegerType).as(n) } ++
            Seq(graft.functions.Pii.redact(col("text")).as("redacted")): _*)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH planted AS (
        SELECT doc_id,
               text || ' contact u' || doc_id || '@example.com ip 10.0.' ||
               (doc_id % 256) || '.' || (doc_id % 100) ||
               ' call 555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
               '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
               '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
               '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '${graft.functions.Pii.EmailPattern}')) AS INTEGER) AS n_email,
             CAST(len(regexp_extract_all(text, '${graft.functions.Pii.SsnPattern}')) AS INTEGER) AS n_ssn,
             CAST(len(regexp_extract_all(text, '${graft.functions.Pii.PhonePattern}')) AS INTEGER) AS n_phone,
             CAST(len(regexp_extract_all(text, '${graft.functions.Pii.Ipv4Pattern}')) AS INTEGER) AS n_ip,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '${graft.functions.Pii.EmailPattern}', '[EMAIL]', 'g'),
               '${graft.functions.Pii.SsnPattern}', '[SSN]', 'g'),
               '${graft.functions.Pii.PhonePattern}', '[PHONE]', 'g'),
               '${graft.functions.Pii.Ipv4Pattern}', '[IP]', 'g') AS redacted
      FROM planted
      ORDER BY doc_id"""))

  private val q94 = QueryDef(
    "q94_chunk_packing",
    "Concatenate-and-chunk packing (GPT-style): the corpus as one global " +
      "token stream in doc_id order, cut into exact 512-token sequences; " +
      "docs straddle cuts. Per-sequence doc counts and token occupancy " +
      "(every sequence exactly 512 except the last). The Spark side runs " +
      "the DISTRIBUTED global running sum (range-partition + partition-" +
      "local prefix scan + broadcast offsets — never a single-partition " +
      "window); the oracle replays the naive single-node window, which " +
      "must agree exactly.",
    (s, dir) => {
      val spans = SequencePacking.chunkSpans(
        docs(s, dir).select(col("doc_id"), col("text")),
        ord = Seq(col("doc_id")),
        tokenCount = TextAnalysis.tokenCountWs(col("text")),
        windowTokens = 512)
      SequencePacking.chunkStats(spans, windowTokens = 512)
        .select(col("seq"), col("n_docs"), col("seq_tokens"))
        .orderBy("seq")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE length(text) - length(replace(text, ' ', '')) + 1
                    END AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cend
        FROM t),
      s AS (
        SELECT doc_id, cend - n_tok AS cstart, cend
        FROM c WHERE n_tok > 0),
      exploded AS (
        SELECT doc_id, cstart, cend,
               unnest(range(CAST(floor(cstart / 512) AS BIGINT),
                            CAST(floor((cend - 1) / 512) AS BIGINT) + 1))
                 AS seq
        FROM s),
      ex AS (
        SELECT doc_id, seq,
               least(cend, (seq + 1) * 512) -
                 greatest(cstart, seq * 512) AS tokens_in_seq
        FROM exploded)
      SELECT seq, count(*) AS n_docs,
             CAST(sum(tokens_in_seq) AS BIGINT) AS seq_tokens
      FROM ex
      GROUP BY seq
      ORDER BY seq"""))

  /** One export per sf dir (the q89/q91 caching convention): bench
    * passes measure the manifest READ, not a re-export per pass. */
  private val exportCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val q99 = QueryDef(
    "q99_shard_export",
    "Materialized training-shard export (WebDataset/MDS layout): the " +
      "corpus in the deterministic epoch-0 md5 shuffle order, cut " +
      "greedily at a 4096-token budget without splitting docs, written " +
      "one parquet file per shard with a manifest, the whole epoch " +
      "published as ONE atomic snapshot. The cut runs on the " +
      "DISTRIBUTED global running sum (q94's machinery over q78's " +
      "order); the query returns the PUBLISHED manifest, so a lost " +
      "doc, broken order, or drifted cut changes (shard_id, n_docs, " +
      "shard_tokens) and breaks the hash.",
    (s, dir) => {
      val root = exportCache.computeIfAbsent(dir, _ => {
        val r = graft.core.TempDirs.create("graft-q99").toString + "/export"
        graft.operators.ShardExport.export(s,
          docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", epoch = 0, budgetTokens = 4096, root = r)
        r
      })
      graft.operators.ShardExport.manifest(s, root)
        .orderBy("shard_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               md5('0:' || CAST(doc_id AS VARCHAR)) AS coin,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE length(text) - length(replace(text, ' ', '')) + 1
                    END AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY coin, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT CAST(floor((cum - n_tok) / 4096.0) AS INTEGER) AS shard_id,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS shard_tokens
      FROM c
      GROUP BY shard_id
      ORDER BY shard_id"""))

  override val defs: Seq[QueryDef] =
    Seq(q41, q42, q43, q44, q47, q53, q93, q94, q99)
}
