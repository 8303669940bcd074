package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): select pretraining documents that *look like a
  * target domain* by importance weights over hashed n-gram features. Per
  * document, log w = Σ_b c[b]·(ln p_target[b] − ln p_raw[b]) where b
  * ranges over hashed unigram+bigram buckets, p_target is the bucket
  * distribution of a small target sample (the paper uses
  * Wikipedia+books; here a designated source subset stands in), p_raw
  * the corpus's own distribution, both add-1 smoothed over the
  * [[NumBuckets]] bucket space. Selection then draws documents by
  * Gumbel-top-k over the log-weights — sampling without replacement
  * proportional to the (tempered) importance ratio, the paper's
  * resampling step.
  *
  * Spark-first shape, 100 TB-first: features are one narrow
  * `(doc_id, bucket, cnt)` aggregation off the token stream (the x39
  * hashing trick — no vocabulary is built or shipped); both
  * distributions are bucket-keyed aggregates of AT MOST [[NumBuckets]]
  * rows, so the per-document scoring join broadcasts a model-sized frame
  * — document text never leaves the scan, and no stage's width depends
  * on corpus size. The Gumbel draw is per-row arithmetic on a salted
  * engine-portable hash (the x42 recipe — no RNG), so the selected
  * sample is reproducible across engines, runs, and partitionings, and
  * one `TakeOrderedAndProject` pass extracts it.
  *
  * Determinism contract: log-weights and Gumbel keys round to 6 dp —
  * `ln` of exact-integer ratios wobbles only in the final ulp
  * (~1e-16 relative), 10 orders under the rounding boundary (the x25
  * precedent).
  */
object Dsir {

  /** Hashed feature space. 8192 keeps the oracle's dist join tiny while
    * leaving bucket collisions rare at the fixture vocabulary size;
    * production would use 2^20+ — only this literal changes.
    */
  val NumBuckets = 8192

  /** Stand-in target domain: a designated source subset (the paper's
    * target is a separate small corpus; the fixture's sources share one
    * synthetic vocabulary, so weights are near zero — the *machinery* is
    * what the oracle checks).
    */
  val DefaultTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  val DefaultSalt = "graft-dsir-v1"

  /** Hashed unigram+bigram counts `(doc_id, b, cnt)` — bigrams pair
    * adjacent *filtered* tokens (the same post-stopword adjacency as the
    * x43 bigram LM), so both gram streams share one tokenize pass.
    */
  private[graft] def hashedGrams(docs: DataFrame,
                                 buckets: Int = NumBuckets): DataFrame = {
    val toks = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
    val uni = toks.select(col("doc_id"), explode(col("t")).as("g"))
    val bi = toks.where(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("t")) - 2), i =>
          concat_ws(" ", element_at(col("t"), i + 1),
                         element_at(col("t"), i + 2)))).as("g"))
    uni.unionByName(bi)
      .select(col("doc_id"),
        pmod(Dedup.md5Long60(col("g")), lit(buckets.toLong)).cast("int").as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
  }

  /** Per-document DSIR importance weights
    * `(doc_id, source, n_grams, log_weight)`; every document appears
    * (zero-gram documents carry weight 0). The bucket log-likelihood-ratio
    * frame is ≤ [[NumBuckets]] rows — its totals ride an unpartitioned
    * window over that bounded frame, and the scoring join broadcasts it.
    */
  def importanceWeights(docs: DataFrame,
                        targetSources: Seq[String] = DefaultTargetSources,
                        buckets: Int = NumBuckets): DataFrame = {
    // feats feeds the raw distribution, the target distribution, and the
    // scoring join — cache so the corpus tokenizes once (the suite-shared
    // termCounts pattern; Bench clears caches at family boundaries)
    val feats = Caches.shared(hashedGrams(docs, buckets))
    val raw = feats.groupBy("b").agg(sum("cnt").as("rc"))
    val tgt = feats.join(docs.select("doc_id", "source"), "doc_id")
      .where(col("source").isin(targetSources: _*))
      .groupBy("b").agg(sum("cnt").as("tc"))
    val wAll = Window.partitionBy()
    val dist = raw.join(tgt, Seq("b"), "left")
      .withColumn("nr", sum("rc").over(wAll))
      .withColumn("nt", sum(coalesce(col("tc"), lit(0L))).over(wAll))
      .select(col("b"),
        (log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
             (col("nt") + buckets).cast("double")) -
         log((col("rc") + 1).cast("double") /
             (col("nr") + buckets).cast("double"))).as("llr"))
    val w = feats.join(broadcast(dist), "b")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"),
        round(sum(col("cnt") * col("llr")), 6).as("log_weight"))
    // shared-cached (r14): x53 emits the weights whole and x54's Gumbel
    // resample ranks them — one scoring pass per corpus (the frame is
    // narrow: doc_id + source + two numbers)
    Caches.shared(docs.select(col("doc_id"), col("source"))
      .join(w, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("log_weight"), lit(0.0d)).as("log_weight")))
  }

  /** Gumbel-top-k resample over the importance weights: key =
    * log w + Gumbel(0,1), the n largest keys are a without-replacement
    * draw with P(doc) ∝ w (Gumbel-max trick). The Gumbel comes from the
    * salted md5-60 uniform — u = (h + ½)/2^60, clamped to
    * ≤ 1 − 1e-12 (identically in the DuckDB oracle). The clamp closes a
    * double-rounding edge: for h within an ulp of 2^60 the cast rounds up
    * and absorbs the +½, giving u == 1.0 exactly, where −ln(−ln u) is NULL
    * here but may differ in another engine. (~1e-16 per doc, but the
    * finiteness guarantee should be unconditional.) The x42 sampler's
    * (h+1)/2^60 ∈ (0,1] form would hit the same pole without it.
    */
  def gumbelSample(docs: DataFrame, n: Int = 100,
                   targetSources: Seq[String] = DefaultTargetSources,
                   buckets: Int = NumBuckets,
                   salt: String = DefaultSalt): DataFrame = {
    val h = Dedup.md5Long60(concat_ws(":", lit(salt), col("doc_id")))
    val u = least((h.cast("double") + 0.5) / lit(1.152921504606846976e18),
      lit(1.0 - 1e-12))
    val key = round(col("log_weight") - log(-log(u)), 6)
    val ranked = importanceWeights(docs, targetSources, buckets)
      .select(col("doc_id"), col("source"), col("log_weight"),
        key.as("gumbel_key"))
      .orderBy(desc("gumbel_key"), asc("doc_id"))
      .limit(n)
    ranked.withColumn("sample_rank",
        row_number().over(Window.orderBy(desc("gumbel_key"), asc("doc_id")))
          .cast("long"))
      .select(col("sample_rank"), col("doc_id"), col("source"),
        col("log_weight"), col("gumbel_key"))
  }

  // --- query entries ---

  def qDsirWeights(spark: SparkSession, sfDir: String): DataFrame =
    importanceWeights(Tables.documents(spark, sfDir))

  def qDsirSample(spark: SparkSession, sfDir: String): DataFrame =
    gumbelSample(Tables.documents(spark, sfDir))
}
