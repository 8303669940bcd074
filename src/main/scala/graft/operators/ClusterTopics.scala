package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-then-label the corpus (the BERTopic recipe — Grootendorst 2022,
  * arXiv:2203.05794): embed documents, cluster the embeddings, then name
  * each cluster by its class-based TF-IDF top terms. c-TF-IDF scores term
  * t in cluster c as tf_{t,c} · ln(1 + A/f_t) with tf_{t,c} the term's
  * count inside the cluster, f_t its corpus count, and A the average
  * token mass per cluster — IDF lifted from documents to *classes*, so a
  * term is distinctive when it concentrates in few clusters. This is the
  * "data map" pass curation teams run to see what a 100 TB corpus
  * contains before deciding mixing weights.
  *
  * Composition, Spark-first: document embeddings are the x47 hashed
  * TF-IDF transform at document granularity (6-dp-rounded at
  * construction — the determinism contract every downstream distance and
  * argmin inherits); the clusterer is the shared 6-dp Lloyd trainer
  * (model-sized driver traffic); assignment rides the broadcast
  * centroid-matrix frame inside whole-stage codegen. The c-TF-IDF pass
  * is then two token-keyed aggregations (cluster-term and corpus-term) —
  * Zipf-small next to the corpus — a broadcast of the 1-row token total,
  * and a per-cluster top-k window over the bounded cluster-vocabulary
  * frame. Document text never leaves the scan stage.
  */
object ClusterTopics {

  val Dim = 64
  val NCells = 8
  val Iters = 3
  val TopTerms = 5

  /** Document-level hashed TF-IDF embeddings `(vec_id = doc_id, label =
    * doc_id, embedding)` — the x47 chunk embedder applied to whole
    * documents: same md5-60 bucket hash, same ln(N/(df+1)) IDF, same 6-dp
    * rounding at construction, same all-zero-vector drop.
    */
  private[graft] def docEmbeddings(docs: DataFrame, dim: Int = Dim): DataFrame = {
    val counts = Relevance.termCounts(docs)
      .select(col("doc_id").as("vec_id"), col("doc_id").as("label"),
        col("token"), col("cnt"))
    val idf = Rag.chunkIdf(counts, docs.select(col("doc_id").as("vec_id")))
    Rag.denseFromWeights(Rag.hashedWeights(counts, idf, dim), dim)
      .where(array_max(transform(col("embedding"), x => abs(x))) > 0)
  }

  /** `(cell, n_docs, term, rank, ctfidf)`: each cluster's [[TopTerms]]
    * c-TF-IDF terms, rank 1 first. Ranking orders on the 6-dp-rounded
    * score with a term tie-break, so it is engine-reproducible.
    */
  def clusterTopics(docs: DataFrame, dim: Int = Dim, nCells: Int = NCells,
                    iters: Int = Iters, topTerms: Int = TopTerms): DataFrame = {
    val emb = Caches.shared(docEmbeddings(docs, dim))
    val cents = VectorSearch.kmeansCentroids(emb, nCells, iters)
    val cells = Caches.shared(VectorSearch.assignCells(emb, cents)
      .select(col("vec_id").as("doc_id"), col("cell")))
    val counts = Relevance.termCounts(docs)
    val cellTerm = counts.join(cells, "doc_id")
      .groupBy("cell", "token").agg(sum("cnt").as("tf"))
    val global = counts.groupBy("token").agg(sum("cnt").as("ft"))
    val total = counts.agg(sum("cnt").as("n_total"))
    val nDocs = cells.groupBy("cell").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("cell").orderBy(desc("ctfidf"), asc("token"))
    cellTerm.join(global, "token")
      .crossJoin(broadcast(total))
      .select(col("cell"), col("token"),
        round(col("tf") *
          log(lit(1.0d) + (col("n_total").cast("double") / nCells) /
            col("ft").cast("double")), 6).as("ctfidf"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topTerms)
      .join(nDocs, "cell")
      .select(col("cell"), col("n_docs"), col("token").as("term"),
        col("rank"), col("ctfidf"))
  }

  // --- query entry ---

  def qClusterTopics(spark: SparkSession, sfDir: String): DataFrame =
    clusterTopics(Tables.documents(spark, sfDir))
}
