package graft

import graft.operators.{HybridSearch, SearchIndex, ServedSearch}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The persisted search-serving rows (x41b/x44b): lossless persistence,
  * build-at-most-once memoization, and bucket partition pruning — the
  * x82b/x83b contract applied to the positional index — plus the
  * open-once contract of the probes: a repeat probe re-opens nothing, and
  * an index rewritten in place is served fresh.
  */
class ServedSearchSpec extends SparkSpec {
  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it launched. A marker job
    * runs after it; the listener receives events in order, so once it has
    * seen the marker it has seen every job `body` started.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"served-search-${System.nanoTime()}"
    val marker = group + "-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe build")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "the listener never saw the marker job")
      (out, groups.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  test("served phrase/hybrid probes equal the inline builds; re-call " +
       "memo-hits with zero rebuilds; postings scan partition-prunes") {
    val first41 = ServedSearch.qPhraseProbeOnly(spark, sf0001).collect()
    val first44 = ServedSearch.qHybridProbeOnly(spark, sf0001).collect()
    assert(first41.nonEmpty && first44.nonEmpty)
    // second call must serve from the memoized artifact — zero rebuilds
    val builds = ServedSearch.indexBuilds.get()
    val second41 = ServedSearch.qPhraseProbeOnly(spark, sf0001).collect()
    val second44 = ServedSearch.qHybridProbeOnly(spark, sf0001).collect()
    assert(ServedSearch.indexBuilds.get() == builds,
      s"probe-only re-call rebuilt the index: $builds -> ${ServedSearch.indexBuilds.get()}")
    assert(second41.toSeq == first41.toSeq)
    assert(second44.toSeq == first44.toSeq)
    // lossless persistence: identical to the inline full-cycle queries
    assert(first41.toSeq == SearchIndex.qPhraseSearch(spark, sf0001).collect().toSeq)
    assert(first44.toSeq == HybridSearch.qHybridSearch(spark, sf0001).collect().toSeq)
    // the probe must PRUNE to its words' buckets: the foldable
    // pmod(xxhash64(lit)) filter has to reach PartitionFilters, or the
    // probe silently reads the whole index
    val plan = ServedSearch.qPhraseProbeOnly(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*=".r.findFirstIn(plan).isDefined,
      s"no bucket partition filter on the postings scan:\n$plan")
  }

  test("a repeat probe opens nothing: building it launches no Spark job") {
    val dir = tempDir("served-open-once")
    ServedSearch.writeSearchIndex(Tables.documents(spark, sf0001), dir)
    val phrase = SearchIndex.DefaultPhrase
    val (phrase1, openJobs) = jobsDuring(ServedSearch.probePhrase(spark, dir, phrase))
    assert(openJobs > 0, "the first probe must open (list and read footers of) the index")
    val (phrase2, phraseJobs) = jobsDuring(ServedSearch.probePhrase(spark, dir, phrase))
    assert(phraseJobs == 0, s"repeat probePhrase launched $phraseJobs jobs before executing")
    assert(phrase2.collect().toSeq == phrase1.collect().toSeq)
    val hybrid1 = ServedSearch.probeHybrid(spark, dir).collect().toSeq
    val (hybrid2, hybridJobs) = jobsDuring(ServedSearch.probeHybrid(spark, dir))
    assert(hybridJobs == 0, s"repeat probeHybrid launched $hybridJobs jobs before executing")
    assert(hybrid1.nonEmpty && hybrid2.collect().toSeq == hybrid1)
  }

  test("an index rewritten in place is probed fresh, not from the open listing") {
    val before = docsOf(Seq(
      "spark streaming window join",
      "unrelated words only here",
      "a stream window of spark queries"))
    val after = docsOf(Seq(
      "nothing to see",
      "stream window stream window",
      "query performance of a spark join",
      "the stream window again"))
    val phrase = SearchIndex.DefaultPhrase
    val dir = tempDir("served-rewrite")
    ServedSearch.writeSearchIndex(before, dir)
    val phraseBefore = ServedSearch.probePhrase(spark, dir, phrase).collect().toSeq
    val hybridBefore = ServedSearch.probeHybrid(spark, dir).collect().toSeq
    assert(phraseBefore.map(_.getLong(0)) == Seq(2L))
    // the same directory, another corpus
    ServedSearch.writeSearchIndex(after, dir)
    val phraseAfter = ServedSearch.probePhrase(spark, dir, phrase).collect().toSeq
    val hybridAfter = ServedSearch.probeHybrid(spark, dir).collect().toSeq
    val fresh = tempDir("served-fresh")
    ServedSearch.writeSearchIndex(after, fresh)
    assert(phraseAfter == SearchIndex.phraseSearch(after, phrase).collect().toSeq)
    assert(phraseAfter == ServedSearch.probePhrase(spark, fresh, phrase).collect().toSeq)
    assert(hybridAfter == ServedSearch.probeHybrid(spark, fresh).collect().toSeq)
    assert(phraseAfter != phraseBefore && hybridAfter != hybridBefore)
  }
}
