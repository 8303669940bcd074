package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted search-serving artifact — the positional inverted index plus
  * the per-document and corpus statistics the retrieval arms consume,
  * written ONCE per corpus fingerprint and probed by the registered serving
  * rows x41b/x44b. The search-family analog of the ANN probe rows
  * x82b/x83b: x41/x44 deliberately time the full build+query cycle; these
  * rows time what a long-lived search service actually pays per query —
  * the probe against an index it already holds on disk.
  *
  * The reference rebuilds its search state per command (`sql_search.py`
  * re-vectorizes up to 10k messages on every semantic query,
  * `sql_search.py:1194-1246`); an index a service persists and reuses is
  * the scale-correct form.
  *
  * Artifact layout (one directory per corpus fingerprint):
  *  - `postings/`  (doc_id, pos, tok) partitioned by `bucket` =
  *    pmod(xxhash64(tok), [[IndexBuckets]]) — a probe filters on the
  *    foldable bucket expression of its own literal tokens, so the scan
  *    PARTITION-PRUNES to the phrase/query words' buckets and never reads
  *    the rest of the index (spec-asserted);
  *  - `docstats/`  (doc_id, dl, max_cnt) — BM25 document length and the
  *    max-TF normalizer;
  *  - `stats/`     one row (n_docs, tot_tokens, avgdl);
  *  - `vocab/`     the top-[[SemanticSearch.VocabSize]] (token, idf) cut;
  *  - `norms/`     (doc_id, nrm) — per-document TF-IDF norm over the vocab.
  *
  * Scale shape: the build is the classic index construction (one shuffle
  * keyed by token/doc — the one-time per-corpus cost a deployment pays);
  * a phrase probe then reads only its words' buckets and joins postings
  * proportional to those words' document frequency; the hybrid probe reads
  * query-term postings plus two doc-keyed sidecars joined on the (small)
  * matched side. Nothing at probe time scans the corpus text.
  *
  * Probes open the index once per session: every artifact read goes
  * through [[Tables.parquet]], so a repeat probe re-lists no bucket
  * directory and re-reads no footer. [[writeSearchIndex]] drops the
  * directory's entries before it writes, so an in-process rewrite is
  * seen. Another process that rewrites an index writes it to a fresh
  * directory (as [[Artifacts.servedDir]] does) or calls [[Tables.forget]]
  * on it in this one.
  */
object ServedSearch {

  /** Token-hash partition fan-out of the postings. 64 buckets keeps files
    * ≥ tens of MB at sf0.1-and-up while a ≤8-term query prunes ≥ 87% of
    * the index; at 100 TB the same layout holds (buckets scale in file
    * count, the pruning fraction is bucket-count-invariant).
    */
  val IndexBuckets = 64

  /** Build counter for the memo spec: a probe-only re-call must not
    * rebuild the artifact.
    */
  val indexBuilds = new java.util.concurrent.atomic.AtomicLong(0L)

  private def bucketOf(tok: Column): Column =
    pmod(xxhash64(tok), lit(IndexBuckets.toLong)).cast("int")

  /** Write the serving artifact. Each sub-frame derives from the suite's
    * shared termCounts plan, so a session that already ran the relevance
    * pack reuses its cache for the build.
    */
  def writeSearchIndex(docs: DataFrame, dir: String): Unit = {
    indexBuilds.incrementAndGet()
    Tables.forget(dir)
    val counts = Caches.shared(Relevance.termCounts(docs))
    SearchIndex.positionalIndex(docs)
      .withColumn("bucket", bucketOf(col("tok")))
      // rebalance on the partition column (guide §6): few well-filled
      // files per bucket directory, not one sliver per input partition
      .hint("rebalance", col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    counts.groupBy("doc_id")
      .agg(sum("cnt").as("dl"), max("cnt").as("max_cnt"))
      .write.mode("overwrite").parquet(s"$dir/docstats")
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(counts.agg(sum("cnt").as("tot_tokens")))
      .select(col("n_docs"), col("tot_tokens"),
        (col("tot_tokens").cast("double") / col("n_docs")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    val vocab = Relevance.idfFromCounts(counts, docs)
      .orderBy(desc("df"), asc("token")).limit(SemanticSearch.VocabSize)
      .select("token", "idf")
    vocab.write.mode("overwrite").parquet(s"$dir/vocab")
    // per-doc vector norm over the vocab-restricted TF-IDF space; the
    // similarity consuming it is rounded to 6 dp, which absorbs
    // partial-sum-order float noise (the suite-wide rounding contract)
    Relevance.tfMaxFromCounts(counts).join(broadcast(vocab), "token")
      .select(col("doc_id"), (col("tf") * col("idf")).as("w"))
      .groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .write.mode("overwrite").parquet(s"$dir/norms")
  }

  /** Bucket-pruned postings of one literal token: the partition filter is
    * a foldable expression of `w`, so only that token's bucket directory
    * is read.
    */
  private def postingsOf(idx: DataFrame, w: String): DataFrame =
    idx.where(col("bucket") === bucketOf(lit(w)) && col("tok") === w)

  /** [[SearchIndex.phraseSearch]] against the WRITTEN index — identical
    * aligned positional AND-join, reading only the phrase words' buckets.
    */
  def probePhrase(spark: SparkSession, dir: String, phrase: Seq[String],
                  k: Int = 100): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val idx = Tables.parquet(spark, s"$dir/postings")
    val first = postingsOf(idx, phrase.head)
      .select(col("doc_id"), col("pos").as("p0"))
    val aligned = phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (w, i)) =>
      acc.join(postingsOf(idx, w)
        .select(col("doc_id"), (col("pos") - i).as("p0")), Seq("doc_id", "p0"))
    }
    aligned.groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("doc_id"))
      .limit(k)
  }

  /** [[HybridSearch.hybridSearch]] against the WRITTEN index: both arms
    * re-derive their inputs from the artifact —
    *
    *  - query-term counts come from the bucket-pruned postings (the same
    *    (doc_id, token, cnt) rows termCounts yields for those terms);
    *  - BM25 takes dl from `docstats`, (n_docs, avgdl) from `stats`, and
    *    recounts df over the pruned postings (cost ∝ the query terms'
    *    document frequency);
    *  - the cosine arm takes idf from `vocab`, the max-TF normalizer from
    *    `docstats`, and the document norm from `norms`, preserving the
    *    member plan's float association ((tf·idf)·qw) term-for-term.
    *
    * Fusion is [[HybridSearch.fuse]] — the same RRF over the same ranked
    * pools, so the row hash proves the persisted artifact serves exactly
    * what the full-cycle x44 computes.
    */
  def probeHybrid(spark: SparkSession, dir: String,
                  query: String = SemanticSearch.DefaultQuery,
                  poolK: Int = HybridSearch.PoolK, topK: Int = HybridSearch.TopK,
                  rrfK: Int = HybridSearch.RrfK,
                  threshold: Double = SemanticSearch.Threshold,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val qTerms = SemanticSearch.tokenize(query).distinct
    require(qTerms.nonEmpty, "query must tokenize to at least one term")
    val idx = Tables.parquet(spark, s"$dir/postings")
    val pruned = idx.where(
      qTerms.map(w => col("bucket") === bucketOf(lit(w))).reduce(_ || _) &&
        col("tok").isin(qTerms: _*))
    val counts = Caches.shared(pruned
      .groupBy(col("doc_id"), col("tok").as("token"))
      .agg(count(lit(1)).as("cnt")))
    val docstats = Tables.parquet(spark, s"$dir/docstats")
    val stats = broadcast(Tables.parquet(spark, s"$dir/stats"))

    // lexical arm: bm25Rank's scoring body over the artifact frames; the
    // corpus zero-padding is unnecessary here because the hybrid arm cuts
    // bm25 > 0 anyway (padded rows never survive into the pool)
    val dfs = counts.groupBy("token").agg(count(lit(1)).as("df"))
    val lexScores = counts
      .join(broadcast(dfs), "token")
      .join(docstats.select("doc_id", "dl"), "doc_id")
      .crossJoin(stats)
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("cnt") * lit(k1 + 1.0)) /
          (col("cnt") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 6).as("bm25"))
    // both unpartitioned windows rank <= poolK rows each (post
    // TakeOrderedAndProject), so their single-partition exchange stays
    // poolK rows at any corpus size
    val lexW = Window.orderBy(desc("bm25"), asc("doc_id"))
    val lex = lexScores.where(col("bm25") > 0)
      .orderBy(desc("bm25"), asc("doc_id")).limit(poolK)
      .select(col("doc_id"), row_number().over(lexW).cast("long").as("lex_rank"))

    // semantic arm: SemanticSearch.search's cosine over the artifact
    val vocab = broadcast(Tables.parquet(spark, s"$dir/vocab"))
    val qVec = broadcast(SemanticSearch.queryTf(query).toDF("token", "qtf")
      .join(vocab, "token")
      .select(col("token"), (col("qtf") * col("idf")).as("qw")))
    val qNorm = qVec.agg(sqrt(sum(col("qw") * col("qw"))).as("qnrm"))
    val dots = counts
      .join(vocab, "token")
      .join(qVec.select("token", "qw"), "token")
      .join(docstats.select("doc_id", "max_cnt"), "doc_id")
      .select(col("doc_id"),
        (((col("cnt").cast("double") / col("max_cnt")) * col("idf")) * col("qw"))
          .as("d"))
      .groupBy("doc_id").agg(sum("d").as("dot"))
    val sims = dots.join(Tables.parquet(spark, s"$dir/norms"), "doc_id")
      .crossJoin(broadcast(qNorm))
      .where(col("nrm") > 0 && col("qnrm") > 0 && col("dot") > 0)
      .select(col("doc_id"),
        round(col("dot") / (col("nrm") * col("qnrm")), 6).as("similarity"))
      .where(col("similarity") >= threshold)
    // <= poolK rows after TakeOrderedAndProject, as lexW
    val semW = Window.orderBy(desc("similarity"), asc("doc_id"))
    val sem = sims.orderBy(desc("similarity"), asc("doc_id")).limit(poolK)
      .select(col("doc_id"), row_number().over(semW).cast("long").as("sem_rank"))

    HybridSearch.fuse(lex, sem, rrfK, topK)
  }

  /** The artifact, built at most once per JVM per corpus fingerprint
    * ([[Artifacts.servedDir]] — shared machinery with x82b/x83b/x86c/x90).
    */
  private def servedIdx(spark: SparkSession, docs: DataFrame,
                        sfDir: String): String =
    Artifacts.servedDir(spark, "search_index_served", docs, sfDir)(
      writeSearchIndex(docs, _))

  /** x41b: x41's phrase search served from the persisted index.
    * Oracle = x41's SQL verbatim — persistence is lossless.
    */
  def qPhraseProbeOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    probePhrase(spark, servedIdx(spark, docs, sfDir), SearchIndex.DefaultPhrase)
  }

  /** x44b: x44's hybrid retrieval served from the persisted index.
    * Oracle = x44's SQL verbatim.
    */
  def qHybridProbeOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    probeHybrid(spark, servedIdx(spark, docs, sfDir))
  }
}
