package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, round, row_number}

import graft.core.Tables
import graft.operators.{IvfIndex, PcaProjection, PqIndex, Similarity}
import graft.store.PqStore

/** North-star similarity search over `embeddings` (ARRAY<FLOAT>, dim 64).
  *
  * Oracle parity: both engines widen floats to double and fold
  * left-to-right (Spark: the fused codegen loop in CosineSimilarity;
  * DuckDB: list_reduce over CAST(v AS DOUBLE[])), so cosines are
  * bit-identical before the final round(6). Ordering and thresholds use
  * the rounded value with id tie-breaks — fully deterministic in both.
  */
object SimilarityQueries extends QueryFamily {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Sequential double fold of an elementwise product, DuckDB side. */
  private def fold(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  private val q25 = QueryDef(
    "q25_ann_bruteforce_topk",
    "Brute-force cosine top-k: the 10 nearest embeddings to vec_id=0 " +
      "(exactness baseline for ANN). Fused single-pass codegen cosine; " +
      "broadcast query vector; TakeOrdered top-k — no full sort.",
    (s, dir) => Similarity.topKNeighbors(s, emb(s, dir), "vec_id", "embedding",
      queryId = 0L, k = 10),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT e.vec_id,
             round(${fold("e.v", "qv")} /
               (sqrt(${fold("e.v", "e.v")}) * sqrt(${fold("qv", "qv")})), 6)
               AS cosine
      FROM e, q
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""))

  private val q26 = QueryDef(
    "q26_cosine_neardup_pairs",
    "Exact embedding near-dup: all pairs with cosine >= 0.42 (corpus max " +
      "is ~0.48). The all-pairs form is the correctness baseline the LSH " +
      "variant (q27) buckets.",
    (s, dir) => Similarity.cosineNearDupPairs(s, emb(s, dir), "vec_id",
        "embedding", threshold = 0.42)
      .orderBy("id_a", "id_b"),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sc AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(${fold("a.v", "b.v")} /
                 (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("b.v", "b.v")})), 6)
                 AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, cosine
      FROM sc
      WHERE cosine >= 0.42
      ORDER BY id_a, id_b"""))

  /** DuckDB twin of [[Similarity.lshNearDupPairs]]: the SAME hyperplane
    * literals (seeded RNG, injected verbatim — Double.toString round-trips
    * exactly) reproduce the identical sign bits, band keys, and candidate
    * set; candidates are then exact-cosine-verified just like the engine.
    * The engine's int8 prefilter runs at threshold−margin with a margin
    * that dominates the measured quantization error (QuantizeSpec), so it
    * never drops a >=threshold pair and the oracle can omit it. */
  private def lshOracle(numPlanes: Int, rowsPerBand: Int, dim: Int,
                        seed: Long, threshold: Double): String = {
    val planes = Similarity.hyperplanes(numPlanes, dim, seed)
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      planes AS (SELECT * FROM (VALUES $planeRows) t(pid, p)),
      bits AS (SELECT vec_id, pid,
                 CASE WHEN ${fold("v", "p")} >= 0 THEN 1 ELSE 0 END AS bit
               FROM e CROSS JOIN planes),
      bands AS (SELECT vec_id, pid // $rowsPerBand AS band,
                  string_agg(bit::VARCHAR, '' ORDER BY pid) AS bkey
                FROM bits GROUP BY vec_id, pid // $rowsPerBand),
      cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bkey = y.bkey
                   AND x.vec_id < y.vec_id),
      sc AS (SELECT id_a, id_b,
               round(${fold("a.v", "b.v")} /
                 (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("b.v", "b.v")})), 6)
                 AS cosine
             FROM cand JOIN e a ON id_a = a.vec_id JOIN e b ON id_b = b.vec_id)
      SELECT id_a, id_b, cosine FROM sc WHERE cosine >= $threshold
      ORDER BY id_a, id_b"""
  }

  private val q27 = QueryDef(
    "q27_ann_lsh_neardup",
    "Random-hyperplane LSH (16 planes, 8 bands of 2) near-dup at the same " +
      "0.42 threshold: bucketed candidate generation, int8-quantized " +
      "prefilter BEFORE the candidate distinct (the dominant shuffle at " +
      "moderate thresholds), exact verify of survivors. Approximate " +
      "recall by design (P(hit) ≈ 98.5% per pair at cos 0.42), but fully " +
      "deterministic: the oracle replicates the banding with identical " +
      "plane literals. Recall vs q26 additionally pinned in SimilaritySpec.",
    (s, dir) => Similarity.lshNearDupPairs(s, emb(s, dir), "vec_id",
        "embedding", threshold = 0.42, dim = 64,
        numPlanes = 16, rowsPerBand = 2)
      .orderBy("id_a", "id_b"),
    Some(lshOracle(numPlanes = 16, rowsPerBand = 2, dim = 64,
      seed = 42L, threshold = 0.42)))

  /** DuckDB twin of the q39 IVF pipeline, generated at Verify time: train
    * the SAME deterministic model (hash-ordered 4k sample, seed 42) on the
    * actual table, then inject centroid literals (Double.toString
    * round-trips exactly, like q27's planes) and the driver-side probe
    * list. Assignment parity: Spark's argmax is
    * array_position(max) - 1 — FIRST index achieving the max — replicated
    * as row_number() ORDER BY cs DESC, cid; null cosines (zero-norm)
    * coalesce to -2.0 on both sides. The probed-cluster filter is the
    * partition-pruning predicate, expressed as a literal IN list. */
  private def ivfOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val model = IvfIndex.train(e, "vec_id", "embedding", k = 16)
    val qv = e.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val probes = model.rankClusters(qv).take(4)
    val centRows = model.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cents AS (SELECT * FROM (VALUES $centRows) t(cid, c)),
      scored AS (
        SELECT e.vec_id, e.v, cents.cid,
               COALESCE(${fold("e.v", "c")} /
                 (sqrt(${fold("e.v", "e.v")}) * sqrt(${fold("c", "c")})), -2.0)
                 AS cs
        FROM e CROSS JOIN cents),
      asg AS (
        SELECT vec_id, v FROM (
          SELECT vec_id, v, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, cid) AS rn
          FROM scored)
        WHERE rn = 1 AND cid IN (${probes.mkString(", ")})),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT a.vec_id,
             round(${fold("a.v", "qv")} /
               (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("qv", "qv")})), 6)
               AS cosine
      FROM asg a, q
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""
  }

  /** One persisted IVF index per sf dir (the q89/q105 caching
    * convention): built once through [[graft.store.IvfStore]]'s atomic
    * snapshot protocol, reused by every later pass — so the ORACLED ANN
    * query exercises the transactional cluster-partitioned layout, and
    * the search resolves vectors AND model from one pinned snapshot. */
  private val ivfStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivfStoreDir(s: SparkSession, dir: String): String =
    ivfStoreCache.computeIfAbsent(dir, _ => {
      val d = graft.core.TempDirs.create("graft-ivf-q39")
        .toString
      val e = emb(s, dir)
      graft.store.IvfStore.init(s, e, "embedding",
        IvfIndex.train(e, "vec_id", "embedding", k = 16), d)
      d
    })

  private val q39 = QueryDef(
    "q39_ann_ivf_topk",
    "IVF ANN top-10 for vec_id=0: spherical k-means coarse quantizer " +
      "(k=16, driver-trained on a bounded sample), nearest-centroid " +
      "assignment in one codegen projection, search probes the 4 best " +
      "clusters only — at scale the probe is partition pruning over a " +
      "partitionBy(ivf_cluster) table, reading nprobe/k of the corpus. " +
      "The corpus here IS that table: IvfStore's committed snapshot " +
      "(atomic publish, version pinning), with the search resolving " +
      "vectors and centroids from the same snapshot so a model/version " +
      "mismatch is impossible. Approximate by design, but fully " +
      "deterministic: the oracle retrains the identical model at Verify " +
      "time and replicates assignment + probing with injected centroid " +
      "literals. IvfSpec additionally pins nprobe=k == exact brute " +
      "force and measured recall at nprobe=4.",
    (s, dir) => {
      val e = emb(s, dir)
      val indexDir = ivfStoreDir(s, dir)
      val qv = e.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
      graft.store.IvfStore.searchTopK(s, indexDir, "vec_id", "embedding",
        qv, k = 10, nprobe = 4)
    },
    None,
    oracleGen = Some((s, dir) => ivfOracle(s, dir)))

  private val q40 = QueryDef(
    "q40_quantized_neardup",
    "EXACT near-dup at the same 0.42 threshold through a block-grid " +
      "similarity join: rows hash into 16 blocks, every unordered pair " +
      "of blocks is one equi-join cell, the int8 quantized prefilter " +
      "evaluates inside the cell join, survivors are exact-verified " +
      "against the float vectors. Same n^2/2 pair evaluations as the " +
      "all-pairs baseline but with NO nested-loop join — work spreads " +
      "evenly over cells and only ~72-byte int8 codes shuffle. Replaces " +
      "the round-4 dense-banding shape, which MEASURED worse than " +
      "all-pairs here: at t=0.42 a 2-bit band key collides on ~25% of " +
      "random pairs, so 24 bands evaluated ~6x the pairs this grid " +
      "evaluates once (8x bench regression; LSH rho ~ 0.65 at this " +
      "threshold says no banding parameters win the exact join — " +
      "banding stays where it belongs, the approximate q27). Output is " +
      "exact by construction, so the oracle is the plain all-pairs SQL.",
    (s, dir) => Similarity.blockedNearDupPairs(s, emb(s, dir), "vec_id",
        "embedding", threshold = 0.42)
      .orderBy("id_a", "id_b"),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sc AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(${fold("a.v", "b.v")} /
                 (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("b.v", "b.v")})), 6)
                 AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, cosine
      FROM sc
      WHERE cosine >= 0.42
      ORDER BY id_a, id_b"""))

  /** Semantic-dedup clusters: [[lshOracle]]'s candidate+verify chain as
    * CTEs, then a recursive flood over the symmetric dup edges — the same
    * fixpoint [[graft.operators.Dedup.connectedComponents]] reaches. */
  private def clusterOracle(numPlanes: Int, rowsPerBand: Int, dim: Int,
                            seed: Long, threshold: Double): String = {
    val planes = Similarity.hyperplanes(numPlanes, dim, seed)
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""
      WITH RECURSIVE
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      planes AS (SELECT * FROM (VALUES $planeRows) t(pid, p)),
      bits AS (SELECT vec_id, pid,
                 CASE WHEN ${fold("v", "p")} >= 0 THEN 1 ELSE 0 END AS bit
               FROM e CROSS JOIN planes),
      bands AS (SELECT vec_id, pid // $rowsPerBand AS band,
                  string_agg(bit::VARCHAR, '' ORDER BY pid) AS bkey
                FROM bits GROUP BY vec_id, pid // $rowsPerBand),
      cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bkey = y.bkey
                   AND x.vec_id < y.vec_id),
      dup AS (SELECT id_a, id_b
              FROM cand JOIN e a ON id_a = a.vec_id JOIN e b ON id_b = b.vec_id
              WHERE round(${fold("a.v", "b.v")} /
                (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("b.v", "b.v")})), 6)
                >= $threshold),
      edges AS (SELECT id_a AS src, id_b AS dst FROM dup
                UNION
                SELECT id_b AS src, id_a AS dst FROM dup),
      walk(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT g.dst, w.comp FROM walk w JOIN edges g ON g.src = w.id)
      SELECT id AS vec_id, min(comp) AS cluster_id
      FROM walk
      GROUP BY id
      ORDER BY vec_id"""
  }

  private val q50 = QueryDef(
    "q50_semantic_clusters",
    "Semantic dedup: connected components over the LSH embedding near-dup " +
      "pairs (q27 params) — groups of mutually/transitively similar " +
      "embeddings collapse to one cluster_id (smallest member id), the " +
      "form a training pipeline consumes to keep one representative per " +
      "semantic duplicate group. Same min-label propagation as q49; the " +
      "oracle floods the identical banded pair set with a recursive CTE.",
    (s, dir) => graft.operators.Dedup.connectedComponents(
        Similarity.lshNearDupPairs(s, emb(s, dir), "vec_id", "embedding",
          threshold = 0.42, dim = 64, numPlanes = 16, rowsPerBand = 2),
        "id_a", "id_b")
      .select(col("id").as("vec_id"), col("comp").as("cluster_id"))
      .orderBy("vec_id"),
    Some(clusterOracle(numPlanes = 16, rowsPerBand = 2, dim = 64,
      seed = 42L, threshold = 0.42)))

  private val q51 = QueryDef(
    "q51_ann_batch_topk",
    "Similarity JOIN: top-3 nearest per query for a SET of query vectors " +
      "(vec_id 0-4) in one corpus scan — queries broadcast, ranking " +
      "shuffles by query id (balanced once the query set is non-trivial, " +
      "exactly when the batch form matters). Ranks on rounded cosine with " +
      "id tie-break, self-matches included (deterministic).",
    (s, dir) => Similarity.batchTopKNeighbors(s, emb(s, dir), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 3)
      .orderBy("qid", "cosine", "vec_id"),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      sc AS (SELECT qid, e.vec_id,
               round(${fold("e.v", "qv")} /
                 (sqrt(${fold("e.v", "e.v")}) * sqrt(${fold("qv", "qv")})), 6)
                 AS cosine
             FROM e CROSS JOIN q),
      r AS (SELECT qid, vec_id, cosine,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, vec_id) AS rn
            FROM sc)
      SELECT qid, vec_id, cosine FROM r WHERE rn <= 3
      ORDER BY qid, cosine, vec_id"""))

  private val q59 = QueryDef(
    "q59_knn_graph",
    "Exact kNN graph: every vector's top-5 neighbors by cosine. Block-grid " +
      "pair enumeration (each unordered pair scored ONCE in its one " +
      "equi-join cell — no BNL, no per-direction recompute), then a " +
      "cell-local top-k window that reuses the join's partitioning " +
      "(no extra shuffle) before the global per-src ranking. The exact " +
      "baseline approximate kNN-graph builds verify against.",
    (s, dir) => Similarity.knnGraph(s, emb(s, dir), "vec_id", "embedding",
        k = 5, blocks = 8)
      .orderBy("src", "rk"),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sc AS (SELECT a.vec_id AS src, b.vec_id AS dst,
               round(coalesce(${fold("a.v", "b.v")} /
                 (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("b.v", "b.v")})),
                 -2.0), 6) AS cosine
             FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      r AS (SELECT src, dst, cosine,
              CAST(row_number() OVER (PARTITION BY src
                ORDER BY cosine DESC, dst) AS INTEGER) AS rk
            FROM sc)
      SELECT src, dst, cosine, rk FROM r WHERE rk <= 5
      ORDER BY src, rk"""))

  /** Spark's round(col, 6) on DOUBLE: BigDecimal.valueOf + HALF_UP. */
  private def r6d(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** cosine_sim's eval, verbatim: sequential fold, floats widened per
    * element; zero norm → the -2.0 the operators coalesce nulls to. */
  private def cosFD(x: Array[Float], y: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) -2.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def cosFF(x: Array[Float], y: Array[Float]): Double =
    cosFD(x, y.map(_.toDouble))

  /** Driver-side twin of the q60 IVF-PQ pipeline, generated at Verify time
    * (q39/q32's literal-injection pattern): retrain the SAME deterministic
    * IVF + PQ models, recompute assignment/encode/ADC/re-rank with plain
    * Scala loops that mirror the expressions' fold order bit-for-bit
    * (float→double widening, sequential accumulation, BigDecimal HALF_UP
    * round — Double.toString round-trips exactly), and inject the expected
    * rows as a VALUES literal. The collect here is the bounded VERIFY
    * corpus (500/2k rows), oracle-side only — the engine never collects. */
  private def ivfpqOracle(s: SparkSession, dir: String): String = {
    import graft.operators.PqIndex
    val e = emb(s, dir)
    val (ivf, pq) = PqIndex.trainIvfResidual(e, "vec_id", "embedding",
      kIvf = 16, dim = 64, m = 8, ks = 16)
    val rows = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qv = rows.find(_._1 == 0L).get._2.map(_.toDouble)
    val probes = ivf.rankClusters(qv).take(4).toSet
    val lut = pq.pq.lutFor(qv)

    def r6 = r6d _
    def cos = cosFD _
    // IvfIndex.assign's argmax: array_position(max) - 1 = FIRST index.
    def cluster(v: Array[Float]): Int = {
      val cs = ivf.centroids.map(c => cos(v, c))
      cs.indexOf(cs.max)
    }
    // Residual ADC: code quantizes v − anchor(cell); score adds back the
    // per-cluster constant dot(q, anchor) — engine-side this is
    // `adc + when-chain literal`, same doubles in the same + order.
    val shortlist = rows.toSeq
      .filter { case (_, v) => probes(cluster(v)) }
      .map { case (id, v) =>
        val c = cluster(v)
        val r = pq.residualOf(v.map(_.toDouble), c)
        (id, r6(pq.pq.adcDot(pq.pq.encodeVec(r), lut) + pq.anchorDot(qv, c)))
      }
      .sortBy { case (id, adc) => (-adc, id) }
      .take(50)
    val expected = shortlist
      .map { case (id, adc) => (id, adc, r6(cos(rows.find(_._1 == id).get._2, qv))) }
      .sortBy { case (id, _, c) => (-c, id) }
      .take(10)
    val values = expected
      .map { case (id, adc, c) => s"($id, $adc, $c)" }.mkString(", ")
    s"""
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(adc AS DOUBLE) AS adc,
             CAST(cosine AS DOUBLE) AS cosine
      FROM (VALUES $values) t(vec_id, adc, cosine)
      ORDER BY cosine DESC, vec_id"""
  }

  /** One persisted IVF-PQ index per sf dir (the q39 IvfStore caching
    * convention): trained once with the deterministic
    * [[PqIndex.trainIvfResidual]] models the oracle twin retrains, then
    * committed through [[graft.store.PqStore]]'s atomic snapshot — so
    * q60 reads codes + codebooks from one pinned version instead of
    * re-encoding in-session per run. */
  private val pqStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def pqStoreDir(s: SparkSession, dir: String): String =
    pqStoreCache.computeIfAbsent(dir, _ => {
      val d = graft.core.TempDirs.create("graft-pq-q60")
        .toString
      val e = emb(s, dir)
      val (ivf, rm) = PqIndex.trainIvfResidual(e, "vec_id", "embedding",
        kIvf = 16, dim = 64, m = 8, ks = 16)
      PqStore.init(s, e, "embedding", ivf, rm, d)
      d
    })

  private val q60 = QueryDef(
    "q60_ann_ivfpq_topk",
    "IVF-PQ search (FAISS IndexIVFPQ shape, Spark-first): IVF probe " +
      "filter (partition pruning at scale) over vectors carrying 8-byte " +
      "RESIDUAL PQ codes (32x compression; codes quantize v - centroid, " +
      "the FAISS default — same code size, higher recall), ADC shortlist " +
      "via a query-side lookup table riding the codegen'd expression " +
      "plus the per-cluster dot(q, centroid) constant, exact-cosine " +
      "re-rank of the 50-row shortlist only. Oracle generated at Verify " +
      "time by retraining the identical deterministic models driver-side.",
    (s, dir) => {
      val e = emb(s, dir)
      val qv = e.where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
      // The corpus is PqStore's committed snapshot: codes AND the
      // codebooks/anchors that wrote them resolve from one pinned
      // version (a codes/codebooks mismatch is impossible by
      // construction) — the oracled query exercises the transactional
      // IVF-PQ layout, scores unchanged vs the in-session build
      // (PqStoreSpec pins bit-identity).
      PqStore.searchTopK(s, pqStoreDir(s, dir), "vec_id", "embedding",
          qv, k = 10, nprobe = 4, shortlist = 50)
        .orderBy(col("cosine").desc, col("vec_id"))
    },
    None,
    oracleGen = Some(ivfpqOracle))

  /** Driver-side twin of q61 (q60's pattern): retrain the deterministic
    * IVF model, replay per-row probe lists / cluster assignment / scoring
    * with plain Scala loops mirroring the expressions bit-for-bit, inject
    * expected rows as VALUES. Bounded by the verify corpus. */
  private def ivfKnnOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 16)
    val rows = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // probeLists' sort key, verbatim: (0.0 - coalesced cosine, cid) asc —
    // 0.0 - x, not -x, so a 0.0 cosine can't produce a -0.0 tie-break
    // divergence.
    def probes(v: Array[Float]): Seq[Int] =
      ivf.centroids.indices
        .map(i => (0.0 - cosFD(v, ivf.centroids(i)), i))
        .sorted.take(4).map(_._2)
    val byCluster: Map[Int, Seq[(Long, Array[Float])]] =
      rows.toSeq.groupBy { case (_, v) => probes(v).head }
    val expected = rows.toSeq.flatMap { case (src, v) =>
      probes(v)
        .flatMap(c => byCluster.getOrElse(c, Nil))
        .filter { case (dst, _) => dst != src }
        .map { case (dst, vd) => (dst, r6d(cosFF(v, vd))) }
        .sortBy { case (dst, c) => (-c, dst) }
        .take(5)
        .zipWithIndex
        .map { case ((dst, c), i) => (src, dst, c, i + 1) }
    }
    val values = expected
      .map { case (src, dst, c, rk) => s"($src, $dst, $c, $rk)" }
      .mkString(", ")
    s"""
      SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
             CAST(cosine AS DOUBLE) AS cosine, CAST(rk AS INTEGER) AS rk
      FROM (VALUES $values) t(src, dst, cosine, rk)
      ORDER BY src, rk"""
  }

  /** Driver-side twin of q73: retrain the corpus-trained model, replay
    * query probe lists against corpus cluster assignment (q61's loops,
    * two tables), inject expected rows as VALUES. */
  private def ivfKnnJoinOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val ivf = IvfIndex.train(e.where(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", k = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cRows = rows(e.where(col("vec_id") % 10 =!= 0))
    val qRows = rows(e.where(col("vec_id") % 10 === 0))
    def rank(v: Array[Float]): Seq[Int] =
      ivf.centroids.indices
        .map(i => (0.0 - cosFD(v, ivf.centroids(i)), i))
        .sorted.map(_._2)
    val byCluster: Map[Int, Seq[(Long, Array[Float])]] =
      cRows.toSeq.groupBy { case (_, v) => rank(v).head }
    val expected = qRows.toSeq.flatMap { case (src, v) =>
      rank(v).take(4)
        .flatMap(c => byCluster.getOrElse(c, Nil))
        .map { case (dst, vd) => (dst, r6d(cosFF(v, vd))) }
        .sortBy { case (dst, c) => (-c, dst) }
        .take(5)
        .zipWithIndex
        .map { case ((dst, c), i) => (src, dst, c, i + 1) }
    }
    val values = expected
      .map { case (src, dst, c, rk) => s"($src, $dst, $c, $rk)" }
      .mkString(", ")
    s"""
      SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
             CAST(cosine AS DOUBLE) AS cosine, CAST(rk AS INTEGER) AS rk
      FROM (VALUES $values) t(src, dst, cosine, rk)
      ORDER BY src, rk"""
  }

  private val q73 = QueryDef(
    "q73_ann_knn_join",
    "ANN kNN JOIN between two large tables (retrieval shape): every 10th " +
      "vector queries the corpus of the rest through the corpus-trained " +
      "IVF index — probe lists against cluster assignment, the same " +
      "cluster-keyed equi-join as q61, so neither side broadcasts (q51 " +
      "is the small-query-set alternative). Salt lever and co-located " +
      "layout apply unchanged; the oracle retrains the identical " +
      "deterministic model and replays both tables driver-side.",
    (s, dir) => {
      val e = emb(s, dir)
      val corpus = e.where(col("vec_id") % 10 =!= 0)
      val queries = e.where(col("vec_id") % 10 === 0)
      val ivf = IvfIndex.train(corpus, "vec_id", "embedding", k = 16)
      IvfIndex.knnJoinApprox(s, queries, "vec_id", corpus, "vec_id",
          "embedding", ivf, k = 5, nprobe = 4)
        .orderBy("src", "rk")
    },
    None,
    oracleGen = Some(ivfKnnJoinOracle))

  /** Driver-side twin of q74: retrain the deterministic model, replay the
    * struct-max assignment (max cosine, ties to the lowest cid — the
    * [[IvfIndex.assignScored]] contract), sort each cell ascending by
    * (rounded score, id), inject the bottom-5 shortlist as VALUES. */
  private def protoOutlierOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 16)
    val rows = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def best(v: Array[Float]): (Int, Double) =
      ivf.centroids.indices
        .map(i => (i, cosFD(v, ivf.centroids(i))))
        .maxBy { case (i, c) => (c, -i) }
    val expected = rows.toSeq
      .map { case (id, v) => val (c, cos) = best(v); (id, c, r6d(cos)) }
      .groupBy { case (_, c, _) => c }
      .toSeq.flatMap { case (c, rs) =>
        rs.sortBy { case (id, _, cos) => (cos, id) }
          .take(5).zipWithIndex
          .map { case ((id, _, cos), i) => (id, c, cos, i + 1) }
      }
    val values = expected
      .map { case (id, c, cos, rk) => s"($id, $c, $cos, $rk)" }
      .mkString(", ")
    s"""
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(ivf_cluster AS INTEGER) AS ivf_cluster,
             CAST(proto_cos AS DOUBLE) AS proto_cos,
             CAST(rk AS INTEGER) AS rk
      FROM (VALUES $values) t(vec_id, ivf_cluster, proto_cos, rk)
      ORDER BY ivf_cluster, rk"""
  }

  private val q74 = QueryDef(
    "q74_proto_outliers",
    "Prototypicality pruning shortlist (SSL-prototypes / SemDeDup / D4 " +
      "family): every embedding's cosine to its own IVF centroid is a " +
      "free byproduct of the assignment projection (assignScored — one " +
      "codegen struct-max, zero extra data movement at the " +
      "partitionBy(ivf_cluster) write), and the 5 LEAST prototypical " +
      "rows per cell are the semantic-outlier candidates a curation " +
      "pass would drop. WindowGroupLimit on the cluster key, co-located " +
      "with the clustered layout. Oracle retrains the deterministic " +
      "model and replays the shortlist driver-side.",
    (s, dir) => {
      val e = emb(s, dir)
      val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 16)
      val w = Window.partitionBy(col("ivf_cluster"))
        .orderBy(col("proto_cos"), col("vec_id"))
      IvfIndex.assignScored(s, e, "embedding", ivf)
        .select(col("vec_id"), col("ivf_cluster"),
          round(col("proto_cos"), 6).as("proto_cos"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .where(col("rk") <= 5)
        .orderBy("ivf_cluster", "rk")
    },
    None,
    oracleGen = Some(protoOutlierOracle))

  private val q61 = QueryDef(
    "q61_knn_graph_ivf",
    "Approximate kNN graph on the IVF index — the 100 TB path q59's exact " +
      "grid points to: each vector joins only rows assigned to its 4 " +
      "nearest clusters (equi-join on cluster id; co-located and " +
      "shuffle-free when both sides are the partitionBy(ivf_cluster) " +
      "table), cutting pair work from n²/2 to ~n²·nprobe/k = n²/4. Recall " +
      "vs the exact graph is measured in IvfSpec; the oracle retrains the " +
      "identical deterministic model and replays it driver-side.",
    (s, dir) => {
      val e = emb(s, dir)
      val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 16)
      IvfIndex.knnGraphApprox(s, e, "vec_id", "embedding", ivf,
          k = 5, nprobe = 4)
        .orderBy("src", "rk")
    },
    None,
    oracleGen = Some(ivfKnnOracle))

  /** Driver-side twin of q64: replay the nprobe=2 IVF graph (ivfKnnOracle's
    * loops), then one NN-descent round — undirected edges ∪
    * neighbors-of-neighbors, exact rescore, per-src top-k — with the same
    * round(6) + (cosine desc, dst) order the operator uses. */
  private def ivfKnnRefineOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 16)
    val rows = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val byId = rows.toMap
    def probes(v: Array[Float]): Seq[Int] =
      ivf.centroids.indices
        .map(i => (0.0 - cosFD(v, ivf.centroids(i)), i))
        .sorted.take(2).map(_._2)
    val byCluster: Map[Int, Seq[(Long, Array[Float])]] =
      rows.toSeq.groupBy { case (_, v) => probes(v).head }
    val baseEdges: Seq[(Long, Long)] = rows.toSeq.flatMap { case (src, v) =>
      probes(v)
        .flatMap(c => byCluster.getOrElse(c, Nil))
        .filter { case (dst, _) => dst != src }
        .map { case (dst, vd) => (dst, r6d(cosFF(v, vd))) }
        .sortBy { case (dst, c) => (-c, dst) }
        .take(5)
        .map { case (dst, _) => (src, dst) }
    }
    val undirected = (baseEdges ++ baseEdges.map(_.swap)).distinct
    val bySrc = undirected.groupBy(_._1)
    val non = undirected.flatMap { case (src, mid) =>
      bySrc.getOrElse(mid, Nil).map { case (_, dst) => (src, dst) }
    }
    val expected = (undirected ++ non).distinct
      .filter { case (src, dst) => src != dst }
      .groupBy(_._1).toSeq
      .flatMap { case (src, cs) =>
        cs.map { case (_, dst) => (dst, r6d(cosFF(byId(src), byId(dst)))) }
          .sortBy { case (dst, c) => (-c, dst) }
          .take(5)
          .zipWithIndex
          .map { case ((dst, c), i) => (src, dst, c, i + 1) }
      }
    val values = expected
      .map { case (src, dst, c, rk) => s"($src, $dst, $c, $rk)" }
      .mkString(", ")
    s"""
      SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
             CAST(cosine AS DOUBLE) AS cosine, CAST(rk AS INTEGER) AS rk
      FROM (VALUES $values) t(src, dst, cosine, rk)
      ORDER BY src, rk"""
  }

  private val q64 = QueryDef(
    "q64_knn_graph_refined",
    "NN-descent refinement (Dong et al., WWW 2011) over the IVF kNN " +
      "graph: one round of neighbors-of-neighbors candidates (undirected " +
      "edge self-join on the midpoint) rescored exactly, per-src top-k " +
      "recomputed. Candidates escape the probed IVF cells through graph " +
      "hops — recall recovers toward exact at n*k^2 cost, never n^2. " +
      "Base graph deliberately runs nprobe=2 (half q61's probe work) so " +
      "the refinement is doing real lifting; oracle replays both stages " +
      "driver-side on the retrained deterministic model.",
    (s, dir) => {
      val e = emb(s, dir)
      val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 16)
      val base = IvfIndex.knnGraphApprox(s, e, "vec_id", "embedding", ivf,
        k = 5, nprobe = 2)
      Similarity.knnGraphRefine(s, e, "vec_id", "embedding", base, k = 5)
        .orderBy("src", "rk")
    },
    None,
    oracleGen = Some(ivfKnnRefineOracle))

  private val q70 = QueryDef(
    "q70_knn_label_consistency",
    "Embedding-quality probe on ground-truth labels: each vector's 5-NN " +
      "majority label (votes desc, label asc tie-break) vs its own, " +
      "reported as per-label accuracy — the standard sanity check before " +
      "trusting an embedding column for semantic dedup or clustering. " +
      "Exercises the exact kNN graph; votes and the majority window both " +
      "ride the graph's src keying.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{avg, count, lit, round, row_number, when}
      val e = emb(s, dir)
      val lbl = e.select(col("vec_id"), col("label"))
      val g = Similarity.knnGraph(s, e, "vec_id", "embedding", k = 5, blocks = 8)
      val votes = g
        .join(lbl.select(col("vec_id").as("dst"), col("label").as("nbr_label")),
          "dst")
        .groupBy("src", "nbr_label")
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("votes").desc, col("nbr_label"))
      votes.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("src"), col("nbr_label").as("pred_label"))
        .join(lbl.select(col("vec_id").as("src"), col("label")), "src")
        .groupBy("label")
        .agg(count(lit(1)).cast("int").as("n"),
          round(avg(when(col("pred_label") === col("label"), 1.0)
            .otherwise(0.0)), 6).as("knn_label_accuracy"))
        .orderBy("label")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sc AS (SELECT a.vec_id AS src, b.vec_id AS dst,
               round(coalesce(${fold("a.v", "b.v")} /
                 (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("b.v", "b.v")})),
                 -2.0), 6) AS cosine
             FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      r AS (SELECT src, dst,
              row_number() OVER (PARTITION BY src
                ORDER BY cosine DESC, dst) AS rk
            FROM sc),
      nn AS (SELECT r.src, l.label AS nbr_label
             FROM r JOIN embeddings l ON r.dst = l.vec_id
             WHERE rk <= 5),
      votes AS (SELECT src, nbr_label, count(*) AS votes
                FROM nn GROUP BY 1, 2),
      pred AS (SELECT src, nbr_label AS pred_label,
                 row_number() OVER (PARTITION BY src
                   ORDER BY votes DESC, nbr_label) AS rn
               FROM votes),
      acc AS (SELECT o.label,
                     CASE WHEN p.pred_label = o.label THEN 1.0 ELSE 0.0 END AS hit
              FROM pred p JOIN embeddings o ON p.src = o.vec_id
              WHERE p.rn = 1)
      SELECT label, CAST(count(*) AS INTEGER) AS n,
             round(avg(hit), 6) AS knn_label_accuracy
      FROM acc
      GROUP BY label
      ORDER BY label"""))

  /** Generated oracle for q79: retrain the deterministic PCA model and
    * inject its components/centering constants as literals — DuckDB then
    * recomputes every projection from the parquet itself. The
    * list_reduce fold is left-associated like the native dot_product
    * accumulate, so the doubles agree bit-for-bit before round(6). */
  private def pcaOracle(s: SparkSession, dir: String): String = {
    val m = PcaProjection.train(emb(s, dir), "vec_id", "embedding",
      numComponents = 8)
    val pcs = m.components.indices.map { k =>
      val lits = m.components(k).mkString("[", ", ", "]::DOUBLE[]")
      s"round(${fold("v", s"($lits)")} - ${m.meanDot(k)}, 6) AS pc$k"
    }.mkString(",\n             ")
    s"""
      WITH e AS (SELECT vec_id, label, embedding,
                        embedding::DOUBLE[] AS v FROM embeddings)
      SELECT vec_id, label,
             $pcs
      FROM e
      ORDER BY vec_id"""
  }

  private val q79 = QueryDef(
    "q79_pca_project",
    "PCA dimensionality reduction (FAISS PCAMatrix/PCAR shape): project " +
      "64-dim embeddings onto the top-8 principal directions before " +
      "indexing — every downstream ANN structure and shuffle shrinks " +
      "8x. Deterministic bounded-sample driver training (covariance + " +
      "cyclic Jacobi), then ONE codegen'd dot_product per output dim " +
      "against literal components, with centering folded into a scalar " +
      "constant — no shuffle, no join, no centered copy of the corpus. " +
      "Oracle retrains the identical model and recomputes the " +
      "projections from parquet in SQL.",
    (s, dir) => {
      val e = emb(s, dir)
      val m = PcaProjection.train(e, "vec_id", "embedding", numComponents = 8)
      PcaProjection.project(e.select(col("vec_id"), col("label"),
          col("embedding")), "embedding", m)
        .drop("embedding")
        .orderBy("vec_id")
    },
    None,
    oracleGen = Some(pcaOracle))

  /** q81 oracle: q39's generated IVF twin with the label predicate
    * composed in — same retrained model, same injected centroid
    * literals and probe list, filter applied after assignment exactly
    * as the probe-first plan composes it into the scan. */
  private def ivfFilteredOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val model = IvfIndex.train(e, "vec_id", "embedding", k = 16)
    val qv = e.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val probes = model.rankClusters(qv).take(4)
    val centRows = model.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                 FROM embeddings),
      cents AS (SELECT * FROM (VALUES $centRows) t(cid, c)),
      scored AS (
        SELECT e.vec_id, e.v, e.label, cents.cid,
               COALESCE(${fold("e.v", "c")} /
                 (sqrt(${fold("e.v", "e.v")}) * sqrt(${fold("c", "c")})), -2.0)
                 AS cs
        FROM e CROSS JOIN cents),
      asg AS (
        SELECT vec_id, v FROM (
          SELECT vec_id, v, label, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, cid) AS rn
          FROM scored)
        WHERE rn = 1 AND cid IN (${probes.mkString(", ")}) AND label = 3),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT a.vec_id,
             round(${fold("a.v", "qv")} /
               (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("qv", "qv")})), 6)
               AS cosine
      FROM asg a, q
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""
  }

  private val q81 = QueryDef(
    "q81_ann_filtered_topk",
    "Metadata-filtered ANN (the RAG same-tenant/same-lang shape): top-10 " +
      "neighbors of vec_id=0 among label=3 rows only, probe-first — the " +
      "label predicate composes with the 4-cluster probe filter so BOTH " +
      "push into the scan of the partitionBy(ivf_cluster) table. " +
      "searchTopKWhere's planner flips to an exact filter-first scan when " +
      "a count over the filtered subset says the predicate is selective " +
      "(IvfSpec pins both paths and the flip); pinned probe-first here " +
      "for the deterministic oracle.",
    (s, dir) => {
      val e = emb(s, dir)
      // The q39 persisted snapshot IS this query's corpus: same table,
      // same deterministic model — the label predicate composes into
      // the snapshot scan, and the probe list comes from the SNAPSHOT's
      // model (bit-identical to retraining, pinned by StreamingIvfSpec).
      val indexDir = ivfStoreDir(s, dir)
      val indexed = graft.store.IvfStore.read(s, indexDir)
      val model = graft.store.IvfStore.model(s, indexDir)
      val qv = e.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
      IvfIndex.searchTopKWhere(s, indexed, "vec_id", "embedding", model, qv,
        k = 10, nprobe = 4,
        pred = org.apache.spark.sql.functions.col("label") === 3)
    },
    None,
    oracleGen = Some((s, dir) => ivfFilteredOracle(s, dir)))

  /** q106's oracle: q39's retrained-model replay, restricted to the
    * SURVIVING vectors (vec_id % 9 <> 0) in the assignment — the model
    * stays the one trained on the FULL corpus (deletion does not
    * retrain the quantizer; drift-triggered retraining is appendBatch's
    * separate lever), and the query vector is vec_id = 1 (a survivor). */
  private def ivfDeleteOracle(s: SparkSession, dir: String): String = {
    val e = emb(s, dir)
    val model = IvfIndex.train(e, "vec_id", "embedding", k = 16)
    val qv = e.where(org.apache.spark.sql.functions.col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val probes = model.rankClusters(qv).take(4)
    val centRows = model.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id % 9 <> 0),
      cents AS (SELECT * FROM (VALUES $centRows) t(cid, c)),
      scored AS (
        SELECT e.vec_id, e.v, cents.cid,
               COALESCE(${fold("e.v", "c")} /
                 (sqrt(${fold("e.v", "e.v")}) * sqrt(${fold("c", "c")})), -2.0)
                 AS cs
        FROM e CROSS JOIN cents),
      asg AS (
        SELECT vec_id, v FROM (
          SELECT vec_id, v, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, cid) AS rn
          FROM scored)
        WHERE rn = 1 AND cid IN (${probes.mkString(", ")})),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 1)
      SELECT a.vec_id,
             round(${fold("a.v", "qv")} /
               (sqrt(${fold("a.v", "a.v")}) * sqrt(${fold("qv", "qv")})), 6)
               AS cosine
      FROM asg a, q
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""
  }

  /** One deleted IvfStore per sf dir (the q89/q105 caching convention). */
  private val deletedIvfCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val q106 = QueryDef(
    "q106_ivf_index_delete",
    "Compliance DELETE reaching the VECTOR index, PARTITION-GRANULAR: " +
      "the IvfStore table is cluster-partitioned, so a doomed id lives " +
      "exactly where its assignment put it — only the affected cluster " +
      "partitions rewrite (anti-joined), everything else hard-link " +
      "carries into the new atomic snapshot (the text index needed " +
      "tombstones because term clustering smears docs across files; " +
      "here the layout already co-locates by the delete's unit). " +
      "Search over the survivors is exact by construction — no " +
      "query-time anti-join. Oracle: q39's retrained-model replay over " +
      "the surviving vectors, query vec_id = 1.",
    (s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = emb(s, dir)
      val indexDir = deletedIvfCache.computeIfAbsent(dir, _ => {
        val d = graft.core.TempDirs.create("graft-ivf-del").toString
        graft.store.IvfStore.init(s, e, "embedding",
          IvfIndex.train(e, "vec_id", "embedding", k = 16), d)
        graft.store.IvfStore.delete(s, d,
          e.where(col("vec_id") % 9 === 0).select(col("vec_id")), "vec_id")
        d
      })
      val qv = e.where(col("vec_id") === 1L)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
      // Vectors AND model resolve from the same pinned snapshot (the
      // delete carried the init model forward by hard link).
      graft.store.IvfStore.searchTopK(s, indexDir, "vec_id", "embedding",
        qv, k = 10, nprobe = 4)
    },
    None,
    oracleGen = Some((s, dir) => ivfDeleteOracle(s, dir)))

  override val defs: Seq[QueryDef] =
    Seq(q25, q26, q27, q39, q40, q50, q51, q59, q60, q61, q64, q70, q73, q74,
      q79, q81, q106)
}
