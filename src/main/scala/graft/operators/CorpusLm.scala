package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level unigram language-model scoring — the CCNet-style "how
  * typical of the corpus is this document" quality signal (reference
  * anchor: the same cheap-statistics discipline as the sentinel/missing
  * cleaning helpers in etl/mappers/directory.py:30-119, lifted to
  * corpus scope).
  *
  * p(token) = corpus count / corpus total; a document scores the average
  * (and minimum) natural-log probability of its tokens. Two passes over
  * one projected column:
  *
  *   1. vocabulary: groupBy(token) count — map-side combinable, and the
  *      result is bounded by word-type count (Heaps' law), NOT corpus
  *      size, so at 100 TB it still fits a broadcast;
  *   2. scoring: tokens equi-join the broadcast vocabulary (map-local, no
  *      shuffle of the corpus), then one groupBy(doc) aggregation.
  *
  * All math is double with round(6) at the edge — ln and the sum order
  * differ across engines only at ulp scale, which the rounding absorbs.
  */
object CorpusLm {

  /** @param broadcastVocab broadcast the aggregated vocabulary (default;
    *   word types, not tokens). Set false to force a shuffle join when a
    *   pathological vocabulary (e.g. unsplit binary junk) outgrows the
    *   driver — the plan stays equi-keyed either way. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     broadcastVocab: Boolean = true): DataFrame = {
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").cast("double").as("total"))
    val lm = vocab.crossJoin(total)
    toks.join(if (broadcastVocab) broadcast(lm) else lm, "tok")
      .withColumn("logp", log(col("cnt").cast("double") / col("total")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        round(avg(col("logp")), 6).as("avg_logp"),
        round(min(col("logp")), 6).as("min_logp"))
  }

  /** Interpolated bigram LM (the KenLM-lite upgrade of [[unigramLogProb]]):
    *
    *   p(w | prev) = λ·c(prev,w)/c(prev) + (1−λ)·c(w)/N
    *
    * — bigram MLE with the unigram as the smoothing floor, so unseen
    * contexts degrade to corpus frequency instead of −∞ (the corpus is
    * its own training set here, but the interpolation is what makes the
    * score usable as a filter — a one-off token after a common word
    * scores low without zeroing the document). Documents score the
    * average and minimum ln p over their bigram positions; docs shorter
    * than 2 tokens have no positions and drop out, like the bigram
    * column itself.
    *
    * Same scale shape as the unigram path: BOTH vocabularies (word
    * types, bigram types) are Heaps-bounded aggregates, broadcast by
    * default with the `broadcastVocab = false` escape hatch; the
    * corpus-side joins stay map-local. λ = 0.75 (and its 1−λ twin) is
    * exact in binary, so engine and oracle literals agree bitwise. */
  /** CACHE POLICY (the corpus-sized-intermediate rule, applied across
    * the operators): intermediates cached for multiple consumers fall
    * in two classes. SLIM derived tables — vocabularies, signatures,
    * band keys, per-doc sizes, pair lists — are orders of magnitude
    * smaller than the corpus and cache at the default MEMORY_AND_DISK;
    * their recompute saving is measured per site and they die with the
    * session. CORPUS-SIZED exploded intermediates (`bgs` here: one row
    * per bigram OCCURRENCE) are the hazard: at 100 TB a MEMORY_AND_DISK
    * cache materializes a corpus-scale copy to executor storage, which
    * can cost more than the one recompute pass it saves. `bgsStorage`
    * makes that choice explicit; SCALE.md §LM-CACHE records
    * MEMORY_AND_DISK vs DISK_ONLY vs no cache timed at growing corpus
    * multiples. The
    * DEFAULT is DISK_ONLY, the measured winner at every probed scale
    * (columnar in-memory encoding of the exploded strings costs more
    * CPU than it saves, and at 100 TB it would also evict working
    * memory); pass None where even one serialized spill of the corpus
    * is worse than re-running the tokenize kernel. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.75,
                    broadcastVocab: Boolean = true,
                    bgsStorage: Option[org.apache.spark.storage.StorageLevel] =
                      Some(org.apache.spark.storage.StorageLevel.DISK_ONLY))
      : DataFrame = {
    def maybeB(df: DataFrame): DataFrame =
      if (broadcastVocab) broadcast(df) else df
    // Widened + cached like the unigram path: the corpus otherwise
    // re-tokenizes once per vocabulary consumer (uni feeds the prev
    // lookup, the cur lookup AND the total; bgs feeds the bigram counts
    // AND the probe side) — five full corpus passes for two columns.
    val src = graft.core.Par.widen(docs)
    val toks = src.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("ucnt")).cache()
    val total = uni.agg(sum("ucnt").cast("double").as("total"))
    val bgs0 = src.select(col(idCol),
        explode(graft.functions.TextAnalysis.bigrams(col(textCol))).as("bg"))
      .withColumn("prev", split(col("bg"), " ").getItem(0))
      .withColumn("cur", split(col("bg"), " ").getItem(1))
    val bgs = bgsStorage.map(bgs0.persist).getOrElse(bgs0)
    val bi = bgs.groupBy("prev", "cur").agg(count(lit(1)).as("bcnt"))
    // p(w|prev) is a function of the bigram TYPE alone, so the unigram
    // lookups and the total join onto the Heaps-bounded bigram-type
    // table — the corpus-sized probe side pays ONE broadcast join
    // instead of three joins plus a cross join. Arithmetic is unchanged
    // expression-for-expression (same casts, same literal folds), so
    // the per-position logp values are bit-identical.
    val lm = bi
      .join(uni.select(col("tok").as("prev"), col("ucnt").as("pcnt")), "prev")
      .join(uni.select(col("tok").as("cur"), col("ucnt").as("ccnt")), "cur")
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"), log(
        lit(lambda) * (col("bcnt").cast("double") / col("pcnt").cast("double"))
          + lit(1.0 - lambda) * (col("ccnt").cast("double") / col("total")))
        .as("logp"))
    bgs
      .join(maybeB(lm), Seq("prev", "cur"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(col("logp")), 6).as("avg_logp"),
        round(min(col("logp")), 6).as("min_logp"))
  }
}
