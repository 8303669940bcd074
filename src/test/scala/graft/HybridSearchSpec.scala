package graft

import graft.operators.{Dedup, Duplicates, HybridSearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class HybridSearchSpec extends SparkSpec {
  import spark.implicits._

  /** Corpus with the metadata columns the semantic arm hydrates. */
  private def corpus(rows: Seq[(Long, String)]): DataFrame =
    rows.map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val query = "spark streaming window join query performance"

  test("hybrid search: a doc leading both arms is the fused top-1") {
    val docs = corpus(Seq(
      (1L, "spark streaming window join query performance spark streaming window join query performance"),
      (2L, "spark streaming data processing with window functions"),
      (3L, "cooking pasta recipes with tomato and basil sauce"),
      (4L, "join performance tuning for window queries in spark"),
      (5L, "streaming query engines and their performance characteristics")))
    val out = HybridSearch.hybridSearch(spark, docs, query).collect()
    assert(out.head.getLong(0) == 1L, "both-arm leader must fuse to rank 1")
    // the pasta doc shares no query term: retrieved by neither arm
    assert(!out.map(_.getLong(0)).contains(3L))
  }

  test("rrf_score is exactly the sum of the per-arm reciprocal ranks") {
    val docs = corpus(Seq(
      (1L, "spark streaming window join query performance"),
      (2L, "spark window join latency"),
      (3L, "query performance and join strategies"),
      (4L, "streaming window aggregation performance")))
    val rows = HybridSearch.hybridSearch(spark, docs, query)
      .select("lex_rank", "sem_rank", "rrf_score").collect()
    rows.foreach { r =>
      val lex = if (r.isNullAt(0)) 0.0 else 1.0 / (HybridSearch.RrfK + r.getLong(0))
      val sem = if (r.isNullAt(1)) 0.0 else 1.0 / (HybridSearch.RrfK + r.getLong(1))
      assert(math.abs(r.getDouble(2) - BigDecimal(lex + sem)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    assert(rows.nonEmpty)
  }

  test("hybrid search is deterministic across runs") {
    val docs = corpus(Seq(
      (1L, "spark streaming window join query performance"),
      (2L, "spark window join latency tuning"),
      (3L, "query performance and join strategies for streams")))
    val a = HybridSearch.hybridSearch(spark, docs, query).collect().toSeq
    val b = HybridSearch.hybridSearch(spark, docs, query).collect().toSeq
    assert(a == b)
  }

  test("minhash dedup groups a planted duplicate family under the min id") {
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (10L, dup), (11L, dup), (12L, dup),
      (20L, "completely different content about database query optimization strategies"),
      (21L, "structured streaming joins watermarks and stateful aggregation semantics"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(10L) == ((10L, 3L, true)), "min id keeps")
    assert(out(11L) == ((10L, 3L, false)) && out(12L) == ((10L, 3L, false)))
    assert(out(20L) == ((20L, 1L, true)) && out(21L) == ((21L, 1L, true)))
  }

  test("minhash dedup: kept rows are exactly one per family") {
    val docs = Tables.documents(spark, sf0001)
    val out = Dedup.minhashDedup(docs)
    val families = out.select("family").distinct().count()
    val kept = out.where(col("kept")).count()
    assert(kept == families)
    assert(out.count() == docs.count(), "one row per document")
  }

  test("componentsFromPairs honors the collect/iterative dispatch") {
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val (collectFrame, collectArm) = Duplicates.componentsFromPairs(ids, pairs)
    val viaCollect = collectFrame.as[(Long, Long)].collect().toMap
    assert(collectArm == "collect")
    val (iterFrame, iterArm) = Duplicates.componentsFromPairs(ids, pairs, maxCollectEdges = 0L)
    val viaIterative = iterFrame.as[(Long, Long)].collect().toMap
    assert(iterArm == "iterative")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L)
    assert(viaCollect == expected && viaIterative == expected)
  }
}
