package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RAG retrieval capstone (x47): chunk → embed → IVF retrieve → RRF fuse —
  * the end-to-end pipeline a retrieval-augmented generation stack runs at
  * serving time, composed from the engine's own operators:
  *
  *  - token-window chunking (the x18 shape, carrying the window's tokens
  *    instead of a digest) — `chunkSize`/`overlap` windows over each
  *    document's token stream, chunk id = doc_id·stride + chunk_idx;
  *  - hashed-TF-IDF chunk embeddings — the x39 hashing trick lifted to a
  *    dense vector (bucket = md5-60(token) mod dim, coordinate =
  *    Σ tf·idf): no vocabulary to build, ship, or look up, and the same
  *    transform embeds the query string in the chunk-corpus space;
  *  - the batched IVF kNN join (x37) as the ANN arm: the k-means coarse
  *    quantizer trains on the chunk embeddings and retrieval scans only
  *    the probed cells;
  *  - BM25 (n13) as the lexical arm over whole documents;
  *  - reciprocal-rank fusion (x44) over doc-level ranks — the semantic
  *    arm promotes a document by its BEST chunk (max cosine), the
  *    standard chunk-to-doc aggregation.
  *
  * Scale shape: chunking + embedding are one scan and two narrow
  * aggregations keyed by chunk; the quantizer is model-sized driver
  * traffic; the ANN join touches only probed cells; both arm pools are
  * top-`poolK` pipelines, so fusion joins 2·poolK rows no matter the
  * corpus size. Determinism (the oracle contract): embedding coordinates
  * round to 6 dp at construction — float-sum order wobble (~1e-13
  * relative) dies 5 orders of magnitude under the rounding boundary, so
  * every downstream distance, argmin, and rank is engine-reproducible —
  * and all ranks order on 6-dp-rounded scores with id tie-breaks.
  */
object Rag {

  val ChunkSize = 32
  val Overlap = 8
  val Dim = 64
  val NCells = 16
  val NProbe = 4
  val Iters = 3
  val PoolK = 100
  val TopK = 20
  val RrfK = 60

  /** Chunk ids are doc_id·stride + chunk_idx — collision-free for any
    * document under stride·(chunkSize − overlap) ≈ 2.4M tokens.
    */
  val ChunkIdStride = 100000L

  /** The query row's vec_id: negative, so it can never collide with a
    * chunk id (all ≥ 0) and the ANN join's self-exclusion is vacuous.
    */
  val QueryVecId = -1L

  /** Token-window chunk rows `(vec_id, label = doc_id, toks)` — x18's
    * explode-first shape (the generator fans out over cheap start
    * integers; the slice runs per scalar row after the Generate).
    */
  private[graft] def chunkRows(docs: DataFrame, chunkSize: Int = ChunkSize,
                               overlap: Int = Overlap): DataFrame = {
    val step = chunkSize - overlap
    val n = size(col("__toks"))
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), greatest(n - 1, lit(0)), lit(step))))
      .toDF("doc_id", "__toks", "chunk_idx", "start")
      .select((col("doc_id") * ChunkIdStride + col("chunk_idx")).as("vec_id"),
        col("doc_id").as("label"),
        slice(col("__toks"), col("start") + 1, lit(chunkSize)).as("toks"))
  }

  /** Per-(chunk, token) counts — the shared base of IDF and embeddings. */
  private[graft] def chunkCounts(chunks: DataFrame): DataFrame =
    chunks.select(col("vec_id"), col("label"), explode(col("toks")).as("token"))
      .groupBy("vec_id", "label", "token").agg(count(lit(1)).as("cnt"))

  /** Chunk-corpus IDF, ln(nChunks / (df + 1)) — [[Relevance.idf]]'s
    * formula at chunk granularity; the 1-row total rides the sanctioned
    * broadcast cross join.
    */
  private[graft] def chunkIdf(counts: DataFrame, chunks: DataFrame): DataFrame =
    counts.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(chunks.agg(count(lit(1)).as("n_chunks"))))
      .select(col("token"),
        log(col("n_chunks").cast("double") / (col("df") + 1)).as("idf"))

  /** Hashed bucket weights `(vec_id, label, j, wj)`: j = md5-60(token)
    * mod dim, wj = round₆(Σ cnt·idf).
    */
  private[operators] def hashedWeights(counts: DataFrame, idf: DataFrame, dim: Int): DataFrame =
    counts.join(idf, "token")
      .select(col("vec_id"), col("label"),
        pmod(Dedup.md5Long60(col("token")), lit(dim)).cast("int").as("j"),
        (col("cnt") * col("idf")).as("w"))
      .groupBy("vec_id", "label", "j").agg(round(sum("w"), 6).as("wj"))

  /** Densify bucket weights into a dim-length `embedding` array (absent
    * buckets are exact 0.0).
    */
  private[operators] def denseFromWeights(weights: DataFrame, dim: Int): DataFrame =
    weights.groupBy("vec_id", "label")
      .agg(map_from_entries(collect_list(struct(col("j"), col("wj")))).as("__m"))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => coalesce(element_at(col("__m"), j), lit(0.0d))).as("embedding"))

  /** The full pipeline; see the object doc. Returns the fused top-`topK`
    * documents as (doc_id, lex_rank, sem_rank, rrf_score).
    */
  def ragRetrieve(spark: SparkSession, docs: DataFrame,
                  query: String = SemanticSearch.DefaultQuery,
                  chunkSize: Int = ChunkSize, overlap: Int = Overlap,
                  dim: Int = Dim, nCells: Int = NCells, nprobe: Int = NProbe,
                  iters: Int = Iters, poolK: Int = PoolK, topK: Int = TopK,
                  rrfK: Int = RrfK): DataFrame = {
    import spark.implicits._
    val chunks = chunkRows(docs, chunkSize, overlap)
    // counts feeds IDF and the weights; the embedding frame feeds Lloyd
    // training (iters passes) AND the retrieval join — cache both so the
    // chunk scan runs once, not once per consumer
    val counts = Caches.shared(chunkCounts(chunks))
    // token-keyed, Zipf-small; shared-cached so the per-run query
    // embedding joins a materialized IDF instead of re-aggregating counts
    val idf = Caches.shared(chunkIdf(counts, chunks))
    val emb = Caches.shared(denseFromWeights(hashedWeights(counts, idf, dim), dim)
      // an all-zero vector (possible only if every bucket cancels to
      // exactly 0) has no cosine; drop it identically in both engines
      .where(array_max(transform(col("embedding"), x => abs(x))) > 0))
    // the query embedded by the SAME transform, in the chunk-corpus IDF
    // space (out-of-corpus terms drop out of the idf join, like sklearn's
    // transform on unseen terms)
    val qCounts = SemanticSearch.tokenize(query)
      .groupBy(identity).view.mapValues(_.size).toSeq
      .map { case (t, c) => (QueryVecId, QueryVecId, t, c.toLong) }
      .toDF("vec_id", "label", "token", "cnt")
    val qEmb = denseFromWeights(hashedWeights(qCounts, idf, dim), dim)
    // ANN arm: top-poolK chunks from the probed cells, then doc-level
    // best-chunk scores
    val sem0 = VectorSearch.ivfKnnJoin(emb, qEmb, poolK, nCells, nprobe, iters)
    val semW = Window.orderBy(desc("best_sim"), asc("doc_id"))
    val sem = sem0.groupBy(col("label").as("doc_id"))
      .agg(max("sim").as("best_sim"))
      .select(col("doc_id"), row_number().over(semW).cast("long").as("sem_rank"))
    // lexical arm: BM25 over whole documents with the query's terms
    val lexW = Window.orderBy(desc("bm25"), asc("doc_id"))
    val lex = Relevance.bm25Rank(docs, SemanticSearch.tokenize(query).distinct,
        topK = poolK)
      .where(col("bm25") > 0)
      .select(col("doc_id"), row_number().over(lexW).cast("long").as("lex_rank"))
    // RRF fuse (x44's form; the unpartitioned windows rank <= poolK rows)
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)), 6)
          .as("rrf_score"))
      .orderBy(desc("rrf_score"), asc("doc_id"))
      .limit(topK)
  }

  // --- query entry ---

  def qRagRetrieve(spark: SparkSession, sfDir: String): DataFrame =
    ragRetrieve(spark, Tables.documents(spark, sfDir))
}
