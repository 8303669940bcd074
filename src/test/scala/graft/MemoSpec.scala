package graft

import graft.operators.{Caches, Dedup, Duplicates}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** [[graft.operators.Caches.Memo]] — the one bounded memo the operators
  * keep derived state in: LRU eviction that frees the evicted frame's
  * cache, and no memoized frame outliving the checkpoint it reads.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  /** `df` written to a fresh parquet directory and read back: a file-backed
    * corpus with its own fingerprint, so no earlier spec warmed its memos.
    */
  private def fileBacked(prefix: String, df: DataFrame): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory(prefix).toString + "/docs.parquet"
    df.repartition(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("a memoized iterative components frame does not outlive its scope's checkpoint") {
    val docs = fileBacked("memo-escape-cc", docsOf(Seq(
      "alpha beta gamma delta",
      "alpha beta gamma delta",
      "alpha beta gamma epsilon",
      "zeta eta theta iota")))
    val arm = Caches.withScope {
      val (built, arm) = Duplicates.componentsWithArm(docs, 0.5, maxCollectEdges = 0L)
      built.collect()
      arm
    }
    assert(arm == "iterative")
    // outside the scope: a fresh consumer plan over the (re)served frame
    val again = Duplicates.components(docs, 0.5, maxCollectEdges = 0L)
    val sizes = rows(again.groupBy("component").count())
    val viaCollect = Duplicates.components(docs, 0.5)
    assert(rows(again) == rows(viaCollect))
    assert(sizes == rows(viaCollect.groupBy("component").count()))
    assert(sizes == Set(Row(0L, 3L), Row(3L, 1L)))
  }

  test("a memoized iterative minhashDedup frame does not outlive its scope's checkpoint") {
    val planted = fileBacked("memo-escape-mh",
      Dedup.plantedHotCorpus(Tables.documents(spark, sf0001)))
    val arm = Caches.withScope {
      val (built, arm) = Dedup.minhashDedupWithArm(planted, maxCollectEdges = 1L)
      built.collect()
      arm
    }
    assert(arm == "iterative")
    val again = Dedup.minhashDedup(planted, maxCollectEdges = 1L)
    val sizes = rows(again.groupBy("family").count())
    val (viaCollect, collectArm) = Dedup.minhashDedupWithArm(planted)
    assert(collectArm == "collect")
    assert(rows(again) == rows(viaCollect))
    assert(sizes == rows(viaCollect.groupBy("family").count()))
  }

  test("a full frame memo evicts its least recently used entry and unpersists it") {
    val memo = new Caches.Memo[DataFrame](3, identity)
    val corpora = (0 until 4).map(i =>
      fileBacked(s"memo-evict$i", docsOf(Seq(s"corpus $i text", s"more words $i"))))
    val keys = corpora.map(Caches.planMemoKey)
    assert(keys.distinct.size == 4 && keys.forall(_.nonEmpty))
    def frame(i: Int) = Caches.shared(corpora(i).select($"doc_id", $"text"))
    def cached(df: DataFrame) =
      spark.sharedState.cacheManager.lookupCachedData(castToImpl(df)).nonEmpty
    val built = (0 until 3).map(i => memo.getOrElseUpdate(keys(i), spark)(frame(i)))
    built.foreach(_.count())
    assert(memo.get(keys(0), spark).contains(built(0))) // entry 1 is now the LRU
    val fourth = memo.getOrElseUpdate(keys(3), spark)(frame(3))
    assert(memo.evictions == 1)
    assert(memo.get(keys(1), spark).isEmpty, "the least recently used entry is gone")
    assert(!cached(built(1)), "an evicted frame leaves the CacheManager")
    assert(memo.get(keys(0), spark).contains(built(0)))
    assert(memo.get(keys(2), spark).contains(built(2)))
    assert(memo.get(keys(3), spark).contains(fourth))
    assert(cached(built(0)) && cached(built(2)))
    // a non-memoizable key is a miss and is never stored
    assert(memo.put("", built(1)) eq built(1))
    assert(memo.get("", spark).isEmpty)
    // 4 builds + the evicted lookup + the empty key miss; 1 + 3 lookups hit
    assert((memo.hits, memo.misses, memo.evictions) == ((4L, 6L, 1L)))
  }
}
