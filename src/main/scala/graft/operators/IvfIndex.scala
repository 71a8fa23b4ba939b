package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions

/** IVF (inverted-file) ANN index over an embedding column — the
  * partition-pruning scale path for similarity search (SURVEY.md §7 M4;
  * complements the LSH path in [[Similarity.lshNearDupPairs]]).
  *
  * FAISS-style three-step shape, re-expressed Spark-first:
  *
  *   1. [[train]]: spherical k-means on a BOUNDED deterministic sample,
  *      run on the driver (training never scans the corpus — FAISS trains
  *      IVF on ~max(10k, 50*k) samples regardless of corpus size).
  *   2. [[assign]]: one codegen'd projection adds the nearest-centroid id
  *      to every row. Centroids travel as literals — no shuffle, no join.
  *      At 100 TB the assigned table is written
  *      `partitionBy("ivf_cluster")` so probing is PARTITION PRUNING:
  *      a query touches nprobe/k of the files, not a full scan.
  *   3. [[searchTopK]]: rank centroids against the query ON THE DRIVER
  *      (k tiny), filter to the nprobe best clusters, exact cosine top-k
  *      inside them (TakeOrdered — no global sort).
  *
  * Approximate by design: a true neighbor assigned to an unprobed cluster
  * is missed. nprobe = k degenerates to exact brute force (pinned in
  * IvfSpec); recall at nprobe < k is pinned empirically there too.
  */
object IvfIndex {

  /** Trained coarse quantizer: unit-norm centroid vectors, id = array index. */
  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length

    /** Cluster ids ranked by cosine to `q` (descending), driver-side. */
    def rankClusters(q: Array[Double]): Array[Int] = {
      val qn = Model.normalize(q)
      centroids.indices
        .map(i => i -> Model.dot(centroids(i), qn))
        .sortBy { case (i, d) => (-d, i) }
        .map(_._1).toArray
    }
  }

  object Model {
    private[IvfIndex] def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    private[IvfIndex] def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(dot(v, v))
      if (n == 0.0) v.clone else v.map(_ / n)
    }
  }

  /** Spherical k-means over a deterministic hash-ordered sample of at most
    * `sampleN` vectors. Init = first k distinct sample vectors; `iters`
    * Lloyd rounds (assign by max dot against unit centroids, update =
    * renormalized mean). Fully deterministic for a given (data, seed).
    *
    * `sampleN <= 0` (the default) auto-scales the sample with k:
    * max(4096, 50*k), FAISS's training-points-per-centroid practice — so
    * the k ≈ sqrt(n) a 100 TB index wants (tens of thousands of
    * clusters) trains without tripping the sample-size require. The
    * sample stays bounded and driver-side either way: 50*k vectors at
    * k=65536, dim=64 is ~1.7 GB — the ceiling before a distributed
    * trainer is warranted.
    */
  def train(df: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int = 8, sampleN: Int = 0, seed: Long = 42L): Model = {
    val n = if (sampleN > 0) sampleN else math.max(4096, 50 * k)
    val raw: Array[Array[Double]] = df
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
      .orderBy(abs(hash(col("__id"), lit(seed))), col("__id"))
      .limit(n)
      .select("__v").collect()
      .map(_.getSeq[Double](0).toArray)
    trainFromRaw(raw, k, iters)
  }

  /** [[train]]'s Lloyd body over an already-collected raw sample — lets a
    * caller training BOTH an IVF model and a residual-PQ codebook from the
    * same hash-ordered sample (see PqIndex.trainIvfResidual) pay for ONE
    * sample-collect scan instead of two identical ones. Normalization and
    * zero-vector filtering happen here, so `raw` is the collect output
    * verbatim and `train(df, …)` ≡ `trainFromRaw(collect, …)` bit-for-bit.
    */
  def trainFromRaw(raw: Array[Array[Double]], k: Int,
                   iters: Int = 8): Model = {
    val sample: Array[Array[Double]] = raw
      .map(Model.normalize)
      .filter(v => Model.dot(v, v) > 0.0)
    require(sample.length >= k,
      s"IVF train: need >= $k non-zero sample vectors, got ${sample.length}")

    var centroids: Array[Array[Double]] = sample.take(k).map(_.clone)
    var round = 0
    while (round < iters) {
      val dim = centroids(0).length
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val d = Model.dot(centroids(c), v)
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty cluster: keep old centroid
        else Model.normalize(sums(c))
      }.toArray
      round += 1
    }
    Model(centroids)
  }

  /** Distributed spherical k-means — the trainer past [[train]]'s
    * driver-sample ceiling (SCALE.md: ~1.7 GB of sample at k=65536):
    * every Lloyd round runs over the FULL corpus as one Spark job. Per
    * round: the codegen'd nearest-centroid projection ([[assign]] —
    * centroids ride as literals, no shuffle), then a (cluster, dim)
    * partial-sum aggregate — map-side combinable, exactly k·dim rows
    * reach the driver, which renormalizes. Same first-k-by-hash init and
    * empty-cluster rule as [[train]].
    *
    * Two honest caveats, both documented in SCALE.md: float partial-sum
    * order varies with partitioning, so unlike [[train]] the result is
    * bit-deterministic only for a fixed layout — IvfSpec pins QUALITY
    * (mean assigned cosine) against the sampled trainer, not bytes; and
    * the centroid-literal projection bounds practical k at a few
    * thousand (codegen expression size) — past that, assignment becomes
    * a broadcast join against a centroid table. */
  def trainDistributed(spark: SparkSession, df: DataFrame, idCol: String,
                       vecCol: String, k: Int, iters: Int = 8,
                       seed: Long = 42L): Model = {
    // No cast on the vector column: cosine_sim widens float elements in
    // the kernel and Sum accumulates doubles, while an array<double> CAST
    // wrapped around the per-centroid cosine fan-out trips a Spark
    // codegen bug ("isNull_X is not an rvalue") that drops the whole
    // projection to interpreter mode.
    val data = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .where(col("__v").isNotNull).cache()
    try {
      val init = data
        .orderBy(abs(hash(col("__id"), lit(seed))), col("__id"))
        .limit(2 * k)
        .select(col("__v").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
        .map(Model.normalize)
        .filter(v => Model.dot(v, v) > 0.0)
        .take(k)
      require(init.length >= k,
        s"IVF trainDistributed: need >= $k non-zero vectors, got ${init.length}")
      var centroids: Array[Array[Double]] = init
      val dim = centroids(0).length
      // Per-dimension element_at sums instead of posexplode + (cluster,
      // pos) keys: one hash aggregate with dim map-side-combinable sum
      // columns, k result rows, and no Generate operator between the
      // centroid fan-out and the aggregate.
      val sumCols = (0 until dim).map(i =>
        sum(element_at(col("__v"), i + 1).cast("double")).as(s"__s$i")) :+
        count(lit(1)).as("__c")
      var round = 0
      while (round < iters) {
        val agg = assign(spark, data, "__v", Model(centroids))
          .groupBy("ivf_cluster")
          .agg(sumCols.head, sumCols.tail: _*)
          .collect()
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        agg.foreach { r =>
          val c = r.getInt(0)
          var i = 0
          while (i < dim) { sums(c)(i) = r.getDouble(i + 1); i += 1 }
          counts(c) = r.getLong(dim + 1)
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) centroids(c) // empty cluster: keep old
          else Model.normalize(sums(c))
        }.toArray
        round += 1
      }
      Model(centroids)
    } finally data.unpersist()
  }

  /** [[assign]] via a broadcast centroid TABLE — the large-k escape
    * hatch: the literal-centroid projection is practical to a few
    * thousand centroids (codegen expression size), past which the
    * centroids must travel as data. Each input row meets the broadcast
    * table (n·k slim (id, cid, cosine) triples — the honest cost of
    * large-k assignment; FAISS also computes n·k distances), and
    * max_by-style struct-max replicates [[assign]]'s exact argmax:
    * max(struct(cosine, -cid)) picks the highest cosine, ties to the
    * LOWEST cid, degenerate norms coalesce to -2.0 so zero vectors land
    * in cluster 0. The group-by collapses map-side (all of a row's k
    * triples sit in its own partition), so the shuffle carries n rows;
    * the id-keyed join back co-locates with an id-clustered layout.
    * Pinned bit-equal to [[assign]] in IvfSpec, tie cases included. */
  def assignBroadcast(spark: SparkSession, df: DataFrame, idCol: String,
                      vecCol: String, model: Model,
                      outCol: String = "ivf_cluster"): DataFrame = {
    VectorExpressions.register(spark)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val centSchema = StructType(Seq(
      StructField("__cid", IntegerType, nullable = false),
      StructField("__cvec", ArrayType(DoubleType), nullable = false)))
    val cents = spark.createDataFrame(
      model.centroids.zipWithIndex
        .map { case (c, i) => Row(i, c.toSeq) }.toList.asJava,
      centSchema)
    val best = df.select(col(idCol), col(vecCol))
      .join(broadcast(cents))
      .groupBy(col(idCol))
      .agg(max(struct(
        coalesce(call_function("cosine_sim", col(vecCol), col("__cvec")),
          lit(-2.0)).as("c"),
        (-col("__cid")).as("negcid"))).as("__best"))
      .select(col(idCol), (-col("__best.negcid")).cast("int").as(outCol))
    df.join(best, Seq(idCol))
  }

  /** Add `outCol` = nearest-centroid id. Single codegen'd projection over
    * literal centroids; zero/null vectors land in cluster 0. At scale,
    * write the result `partitionBy(outCol)`. */
  def assign(spark: SparkSession, df: DataFrame, vecCol: String, model: Model,
             outCol: String = "ivf_cluster"): DataFrame = {
    VectorExpressions.register(spark)
    val cosines = array(model.centroids.map { c =>
      coalesce(
        call_function("cosine_sim", col(vecCol), array(c.map(lit).toSeq: _*)),
        lit(-2.0))
    }.toSeq: _*)
    df.withColumn(outCol,
      (array_position(cosines, array_max(cosines)) - 1).cast("int"))
  }

  /** [[assign]] plus the PROTOTYPICALITY score: `scoreCol` = cosine to the
    * row's own nearest centroid — how typical the row is of its semantic
    * cell (the SSL-prototypes / SemDeDup / D4 pruning signal: Sorscher
    * et al. 2022 prune the least prototypical examples; Abbas et al.
    * 2023 dedup the most). One codegen'd struct-max projection over
    * literal centroids — the score is a FREE byproduct of the assignment
    * pass that already runs before the `partitionBy(ivf_cluster)` write,
    * so scoring 100 TB adds zero data movement. Tie-break matches
    * [[assign]]/[[assignBroadcast]] exactly: max cosine, ties to the
    * lowest cid; zero/null vectors land in cluster 0 with score -2. */
  def assignScored(spark: SparkSession, df: DataFrame, vecCol: String,
                   model: Model, clusterCol: String = "ivf_cluster",
                   scoreCol: String = "proto_cos"): DataFrame = {
    VectorExpressions.register(spark)
    val best = array_max(array(model.centroids.zipWithIndex.map { case (c, i) =>
      struct(
        coalesce(
          call_function("cosine_sim", col(vecCol), array(c.map(lit).toSeq: _*)),
          lit(-2.0)).as("c"),
        lit(-i).as("negcid"))
    }.toSeq: _*))
    df.withColumn("__best", best)
      .withColumn(clusterCol, (-col("__best.negcid")).cast("int"))
      .withColumn(scoreCol, col("__best.c"))
      .drop("__best")
  }

  /** Add `outCol` = the ids of the `nprobe` clusters nearest to each row's
    * vector, ranked by (cosine desc, cid) — the per-ROW generalization of
    * [[searchTopK]]'s driver-side probe list, for batch jobs where every
    * row is a query (kNN-graph builds). One codegen'd projection; element
    * 0 always equals [[assign]]'s cluster (same first-max tie-break). */
  def probeLists(spark: SparkSession, df: DataFrame, vecCol: String,
                 model: Model, nprobe: Int,
                 outCol: String = "ivf_probes"): DataFrame = {
    VectorExpressions.register(spark)
    val scored = array(model.centroids.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(0.0) - coalesce(
          call_function("cosine_sim", col(vecCol), array(c.map(lit).toSeq: _*)),
          lit(-2.0))).as("neg"),
        lit(i).as("cid"))
    }.toSeq: _*)
    df.withColumn(outCol,
      transform(slice(sort_array(scored), 1, nprobe), s => s.getField("cid")))
  }

  /** Approximate kNN graph — the 100 TB path [[graft.operators.Similarity.knnGraph]]'s
    * exact O(n²) grid points to. Every vector joins only the rows ASSIGNED
    * to its `nprobe` nearest clusters (an equi-join on cluster id — at
    * scale both sides are the `partitionBy(ivf_cluster)` table, so the
    * join co-locates with NO extra shuffle), then a per-src top-k window.
    * Pair work drops from n²/2 to ~n²·nprobe/k; recall is bounded by
    * cluster locality (a true neighbor assigned to an unprobed cluster is
    * missed — measured in IvfSpec against the exact graph). Deterministic
    * for a trained model, so the Verify oracle retrains and replays it
    * driver-side (q60's pattern).
    *
    * Skewed clusters are the known hazard (real embedding corpora are
    * Zipf-ish: one hot cluster serializes the n²·nprobe/k win away), and
    * `maxClusterSize` is the lever: clusters larger than it are SALTED
    * into ceil(size / maxClusterSize) sub-buckets — the assigned side
    * hashes each row into one sub-bucket, the probe side fans out across
    * all of them, and the join key becomes (cluster, salt), so a hot
    * cluster's pair work spreads over size/maxClusterSize partitions
    * instead of one. Unlike a drop cap (the `maxShingleDf` pattern in
    * [[Dedup]]), salting is EXACT: every (src, dst) pair still meets
    * exactly once (dst lands in one sub-bucket; src visits all), so the
    * output is bit-identical to the unsalted graph — no recall loss,
    * pinned in IvfSpec. Cluster sizes come from one k-row aggregate that
    * broadcasts; uniform corpora pay one broadcast join and nothing else
    * (nsalt = 1 everywhere). Wall-clock on a deliberately hot corpus is
    * recorded in SCALE.md §"Similarity / ANN" (the ivf-skew curve). */
  def knnGraphApprox(spark: SparkSession, df: DataFrame, idCol: String,
                     vecCol: String, model: Model, k: Int, nprobe: Int,
                     roundTo: Int = 6, maxClusterSize: Int = 0): DataFrame = {
    // Widened ONCE, feeding BOTH join sides: the exact rescore of every
    // probed candidate pair runs on whichever side the planner streams
    // (it broadcasts the other), so both must carry the scan-parallelism
    // fix — widening only one side just flips the build side onto the
    // remaining single-partition scan (graft.core.Par scaladoc).
    val src = graft.core.Par.widen(df)
    val assigned = assign(spark, src, vecCol, model)
      .select(col(idCol).as("dst"), col(vecCol).as("__vd"),
        col("ivf_cluster"))
    val probed = probeLists(spark, src, vecCol, model, nprobe)
      .select(col(idCol).as("src"), col(vecCol).as("__vq"),
        explode(col("ivf_probes")).as("__probe"))
    probeTopK(probed, assigned, excludeSelf = true, k, roundTo,
      maxClusterSize)
  }

  /** ANN kNN JOIN between two LARGE tables: for every query row, its
    * approximate k nearest corpus rows. [[Similarity.batchTopKNeighbors]]
    * (q51) broadcasts the query side — right only while queries are MBs;
    * here BOTH sides stream through the same cluster-keyed equi-join as
    * [[knnGraphApprox]] (train on the corpus, assign corpus rows once,
    * probe queries against `nprobe` cells), so a billion-query retrieval
    * join is ordinary shuffle work, co-located when the corpus is the
    * `partitionBy(ivf_cluster)` table. The same `maxClusterSize` salt
    * lever applies unchanged. Output: (src = query id, dst = corpus id,
    * cosine, rk <= k). */
  def knnJoinApprox(spark: SparkSession, queries: DataFrame, qIdCol: String,
                    corpus: DataFrame, cIdCol: String, vecCol: String,
                    model: Model, k: Int, nprobe: Int,
                    roundTo: Int = 6, maxClusterSize: Int = 0): DataFrame = {
    // NOT widened (unlike knnGraphApprox): measured at sf0.1, widening
    // either side here only added exchanges (q73 1.40 s -> 1.84 s) — the
    // query side is small by the operator's own shape (the big-query-set
    // retrieval join), so the pair scoring lands on the corpus-side
    // partitioning that the cluster equi-join already spreads.
    val assigned = assign(spark, corpus, vecCol, model)
      .select(col(cIdCol).as("dst"), col(vecCol).as("__vd"),
        col("ivf_cluster"))
    val probed = probeLists(spark, queries, vecCol, model, nprobe)
      .select(col(qIdCol).as("src"), col(vecCol).as("__vq"),
        explode(col("ivf_probes")).as("__probe"))
    probeTopK(probed, assigned, excludeSelf = false, k, roundTo,
      maxClusterSize)
  }

  /** Shared probe-join core: `probed` (src, __vq, __probe) against
    * `assigned` (dst, __vd, ivf_cluster), cluster-keyed equi-join with
    * the optional salt fan-out, exact rescore, per-src top-k.
    * `excludeSelf` is the self-join (kNN graph) case, where a row must
    * not consume one of its own k slots. */
  private def probeTopK(probed: DataFrame, assigned: DataFrame,
                        excludeSelf: Boolean, k: Int, roundTo: Int,
                        maxClusterSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def guard(c: Column): Column =
      if (excludeSelf) c && col("src") =!= col("dst") else c
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    val joined =
      if (maxClusterSize <= 0)
        probed.join(assigned,
          guard(col("__probe") === col("ivf_cluster")))
      else {
        val salts = assigned.groupBy(col("ivf_cluster"))
          .agg(count(lit(1)).as("__csz"))
          .select(col("ivf_cluster"),
            greatest(lit(1), ceil(col("__csz") / lit(maxClusterSize)))
              .cast("int").as("__nsalt"))
        val saltedDst = assigned
          .join(broadcast(salts), "ivf_cluster")
          .withColumn("__salt_d", pmod(hash(col("dst")), col("__nsalt")))
          .drop("__nsalt")
        val saltedSrc = probed
          .join(broadcast(salts.withColumnRenamed("ivf_cluster", "__probe")),
            "__probe")
          .withColumn("__salt_s",
            explode(sequence(lit(0), col("__nsalt") - 1)))
          .drop("__nsalt")
        saltedSrc.join(saltedDst,
          guard(col("__probe") === col("ivf_cluster") &&
            col("__salt_s") === col("__salt_d")))
      }
    joined
      .select(col("src"), col("dst"),
        round(coalesce(call_function("cosine_sim", col("__vq"), col("__vd")),
          lit(-2.0)), roundTo).as("cosine"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
  }

  /** Incremental index maintenance — the FAISS `add` story: assign the
    * new batch with the FROZEN model and append it to the
    * `partitionBy(clusterCol)` index table. Nothing already indexed is
    * rewritten (append touches only the partitions the batch lands in),
    * so continual ingest costs the BATCH, not a corpus-wide retrain +
    * rewrite — the same amortization as q77's persisted dedup signatures.
    * Assignment is row-independent and the model deterministic, so the
    * appended table is bit-identical to indexing the union at once
    * (pinned in IvfSpec). Retrain on a DRIFT signal, not a schedule:
    * when [[driftStat]] of arriving batches decays vs the value recorded
    * at train time, the frozen centroids no longer describe the data.
    *
    * That rule is wired in, not just documented: pass `retrainBelow`
    * (the decay factor, e.g. 0.9) and `baselineDrift` (the [[driftStat]]
    * recorded on the training distribution) and the append ALSO measures
    * the batch's drift and returns whether a retrain is due. The score is
    * [[assignScored]]'s free byproduct of the assignment the append runs
    * anyway — the batch is cached for the write + one 1-row aggregate,
    * so the trigger costs no extra scan of anything corpus-sized. The
    * decision comes back to the CALLER (returned, not acted on): a
    * retrain swaps the frozen model for all FUTURE batches and schedules
    * a background reindex, which is an orchestration step, not a side
    * effect an append should hide. */
  /** `appended`/`drift` are None on the trigger-off path (the plain
    * append runs no counting job at all — absent, never a sentinel). */
  final case class AppendResult(appended: Option[Long],
                                drift: Option[Double],
                                retrainDue: Boolean)

  def appendBatch(spark: SparkSession, batch: DataFrame, vecCol: String,
                  model: Model, indexDir: String,
                  clusterCol: String = "ivf_cluster",
                  retrainBelow: Double = 0.0,
                  baselineDrift: Double = Double.NaN): AppendResult =
    if (retrainBelow <= 0.0) {
      assign(spark, batch, vecCol, model, clusterCol)
        .write.mode("append").partitionBy(clusterCol).parquet(indexDir)
      AppendResult(None, None, retrainDue = false)
    } else {
      require(!baselineDrift.isNaN,
        "retrainBelow needs baselineDrift: record driftStat on the " +
          "training distribution at train time and pass it here")
      val scored = assignScored(spark, batch, vecCol, model, clusterCol)
      scored.cache()
      try {
        scored.drop("proto_cos")
          .write.mode("append").partitionBy(clusterCol).parquet(indexDir)
        val row = scored.agg(count(lit(1)), avg(col("proto_cos"))).head
        // Empty batch: avg aggregates to null — a benign no-op ingest
        // must not NPE after its (empty) write already succeeded.
        if (row.getLong(0) == 0L)
          AppendResult(Some(0L), None, retrainDue = false)
        else {
          val d = row.getDouble(1)
          AppendResult(Some(row.getLong(0)), Some(d),
            retrainDue = d < retrainBelow * baselineDrift)
        }
      } finally scored.unpersist()
    }

  /** Drift statistic for retrain scheduling: mean cosine of each vector
    * to its own nearest centroid ([[assignScored]]'s free byproduct,
    * averaged — one map-side-combinable aggregate, one row back). An
    * in-distribution batch reproduces the train-time value; a shifted
    * corpus scores measurably lower (IvfSpec pins the separation). The
    * operational rule: record `driftStat` on the training sample, retrain
    * when a batch drops below ~0.9× of it. */
  def driftStat(spark: SparkSession, df: DataFrame, vecCol: String,
                model: Model): Double =
    assignScored(spark, df, vecCol, model)
      .agg(avg(col("proto_cos"))).head.getDouble(0)

  /** Metadata-FILTERED ANN search — top-k among rows satisfying `pred`
    * (the RAG "same tenant / same lang / date range" shape; FAISS calls
    * it an IDSelector). Two plans, the classic vector-db planner choice:
    *
    *  - **filter-first** (selective predicates): brute-force exact
    *    cosine over the filtered subset, no cluster restriction. When
    *    the filter keeps only ~k·α rows, probing is pointless — most
    *    probed cells contain nothing that passes, and recall collapses
    *    because survivors hide in unprobed cells.
    *  - **probe-first** (broad predicates): the [[searchTopK]] partition
    *    pruning with `pred` composed into the scan filter — both push
    *    into the parquet scan of the `partitionBy(ivf_cluster)` table.
    *
    * `bruteForceUnder > 0` enables the planner: one COUNT over the
    * filtered subset (a column-pruned scan touching only `pred`'s
    * columns — the stats lookup a warehouse would answer from metadata)
    * decides the path. `bruteForceUnder = 0` pins probe-first, which is
    * what a deterministic-oracle query wants. */
  def searchTopKWhere(spark: SparkSession, indexed: DataFrame, idCol: String,
                      vecCol: String, model: Model, queryVec: Array[Double],
                      k: Int, nprobe: Int, pred: Column,
                      bruteForceUnder: Long = 0L,
                      clusterCol: String = "ivf_cluster",
                      roundTo: Int = 6): DataFrame = {
    VectorExpressions.register(spark)
    val filtered = indexed.where(pred)
    val base =
      if (bruteForceUnder > 0 && filtered.count() <= bruteForceUnder) filtered
      else {
        val probes = model.rankClusters(queryVec).take(nprobe)
        filtered.where(col(clusterCol).isin(probes.map(Integer.valueOf).toSeq: _*))
      }
    val qLit = array(queryVec.map(lit).toSeq: _*)
    base
      .select(col(idCol),
        round(call_function("cosine_sim", col(vecCol), qLit), roundTo)
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine top-k within the `nprobe` clusters nearest to `queryVec`.
    * The cluster filter is the partition-pruning predicate at scale. */
  def searchTopK(spark: SparkSession, indexed: DataFrame, idCol: String,
                 vecCol: String, model: Model, queryVec: Array[Double],
                 k: Int, nprobe: Int, clusterCol: String = "ivf_cluster",
                 roundTo: Int = 6): DataFrame = {
    val probes = model.rankClusters(queryVec).take(nprobe)
    VectorExpressions.register(spark)
    val qLit = array(queryVec.map(lit).toSeq: _*)
    indexed
      .where(col(clusterCol).isin(probes.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol),
        round(call_function("cosine_sim", col(vecCol), qLit), roundTo)
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }
}
