package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.queries._

/** `analytics`: the read-only queries of `SparkEntry.queries` over the
  * sf0.001 test fixtures (`perfbench/run.py` copies them to `<dir>/data`),
  * in a fixed order. A round is one pass; each query is one timed call
  * that builds the DataFrame and materializes every row through the
  * `noop` sink, after `clearCache()` so no query reads another's
  * persisted data. Set-up runs one untimed pass that writes every result
  * to parquet, which `perfbench/run.py` checks against the DuckDB
  * oracles. Every run measures at least two passes. */
object Analytics {
  /** The query set, in run order. See perfbench/README.md for the ones
    * left out and why. */
  val Queries: Seq[String] = Seq(
    "q11_window_running", "q22_ngram_jaccard_pairs", "q59_knn_graph",
    "q29_quality_score", "q30_lang_id", "q34_sessionize", "q36_asof_join",
    "q78_epoch_order", "q67_bigram_logprob", "q84_quality_classifier",
    "q86_bpe_tokenize", "q76_bm25_topk")

  private val families: Seq[(String, QueryFamily)] = Seq(
    "Compat" -> CompatQueries, "Extended" -> ExtendedQueries,
    "Pipeline" -> PipelineQueries, "Dedup" -> DedupQueries,
    "Similarity" -> SimilarityQueries, "Text" -> TextQueries,
    "StreamMultimodal" -> StreamMultimodalQueries,
    "StringCube" -> StringCubeQueries, "Sketch" -> SketchQueries,
    "AsOf" -> AsOfQueries, "RangeJoin" -> RangeJoinQueries,
    "Winnow" -> WinnowQueries, "Curation" -> CurationQueries,
    "Stats" -> StatsQueries, "Selection" -> SelectionQueries,
    "Quality" -> QualityQueries, "Retrieval" -> RetrievalQueries)

  lazy val familyOf: Map[String, String] =
    families.flatMap { case (f, q) => q.defs.map(_.name -> f) }.toMap
}

final class Analytics extends Workload {
  import Analytics._

  private var dataDir: String = _
  /** Seconds of each measured call, by query. */
  private val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
  private lazy val build = graft.SparkEntry.queries

  /** Entries in the CacheManager (persisted plans left behind). */
  private def cacheEntries(ctx: Ctx): Int =
    try {
      val cm = ctx.spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Seq[_]].size
    } catch { case _: Throwable => ctx.spark.sparkContext.getPersistentRDDs.size }

  override def minRounds: Int = 2

  def setup(ctx: Ctx): Unit = {
    dataDir = s"${ctx.dir}/data"
    val missing = Queries.filterNot(build.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    // The warm-up pass dumps every result for the oracle check.
    Queries.foreach { q =>
      ctx.spark.catalog.clearCache()
      try build(q)(ctx.spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.dir}/dump/$q")
      catch { case e: Throwable => ctx.fail(s"$q failed in the dump pass: ${e.getMessage}") }
    }
    val oracles = Queries.flatMap { q =>
      graft.SparkEntry.oracleGen.get(q).map(g => q -> g(ctx.spark, dataDir).trim)
        .orElse(graft.SparkEntry.oracleSql.get(q).map(q -> _))
    }
    ctx.check(oracles.size == Queries.size,
      s"queries without an oracle: ${Queries.filterNot(oracles.map(_._1).contains)}")
    Files.writeString(Paths.get(s"${ctx.dir}/dump/oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
    Main.note("dump pass done")
  }

  /** One pass over the query set; returns its total seconds. */
  private def pass(ctx: Ctx, materialize: Boolean): Double = {
    var total = 0.0
    Queries.foreach { q =>
      val measured = ctx.measuring
      ctx.spark.catalog.clearCache()
      val t0 = System.nanoTime()
      ctx.op(s"queries.${familyOf.getOrElse(q, "Other")}", "queries") {
        val (df, b) = ctx.tracer.span(s"queries.build:$q", "queries") {
          build(q)(ctx.spark, dataDir)
        }
        val (_, a) = ctx.tracer.span(s"queries.action:$q", "queries") {
          if (materialize) df.write.format("noop").mode("overwrite").save()
          else df.count()
        }
        if (ctx.measuring) {
          ctx.perRound.add("queries.build_s", b)
          ctx.perRound.add("queries.action_s", a)
          ctx.perRound.add("cache.entries_left", cacheEntries(ctx))
        }
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (measured && materialize) times(q) = times.getOrElse(q, Vector()) :+ s
      total += s
    }
    total
  }

  def round(ctx: Ctx, index: Int): Unit = pass(ctx, materialize = true)

  def finish(ctx: Ctx, roundTimes: Seq[Double]): Unit = {
    // A pass as the sum of each query's median call: a one-off stall in
    // one call does not move it.
    ctx.figures.set("analytics_pass_s", times.values.map(Main.median).sum)
    if (ctx.tracer.enabled) {
      // The same queries timed with count(), the action graft.Bench times,
      // to set beside the materialized figures.
      ctx.fixed.set("queries.count_s", pass(ctx, materialize = false))
    }
    ctx.spark.catalog.clearCache()
  }
}
