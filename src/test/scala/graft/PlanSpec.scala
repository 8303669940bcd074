package graft

import graft.operators.{DocOps, Relational, Views}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Physical-plan regression guards: the scale-critical plan properties
  * (broadcast dimension joins, predicate pushdown into the parquet scan,
  * column pruning) are asserted so a refactor that silently degrades the
  * plan fails CI, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Lloyd trainings so far: each one runs on a centroid or PQ memo miss. */
  private def lloydRuns: Long =
    graft.operators.VectorSearch.centroidMemo.misses + graft.operators.VectorSearch.pqMemo.misses

  test("dimension joins broadcast, never sort-merge (r2, r3)") {
    val p2 = physical(Relational.topRevenueOrders(spark, sf0001))
    assert(p2.contains("BroadcastHashJoin"))
    assert(!p2.contains("SortMergeJoin"))
    val p3 = physical(Relational.regionRevenue(spark, sf0001))
    assert(p3.contains("BroadcastHashJoin"))
    assert(!p3.contains("SortMergeJoin"))
  }

  test("predicate pushdown reaches the parquet scan (r1 shipdate, r2 mktsegment)") {
    val p1 = physical(Relational.pricingSummary(spark, sf0001))
    assert(p1.contains("PushedFilters") && p1.contains("l_shipdate"))
    val p2 = physical(Relational.topRevenueOrders(spark, sf0001))
    assert(p2.contains("EqualTo(c_mktsegment,BUILDING)"))
  }

  test("column pruning: aggregation scan reads only the needed columns (v5)") {
    val p = physical(Views.typeUsage(spark, sf0001))
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    // type usage needs event_type/user_id/value — ts and props must be pruned
    assert(readSchemas.forall(s => !s.contains("props")))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (r2, d2)") {
    assert(physical(Relational.topRevenueOrders(spark, sf0001)).contains("TakeOrderedAndProject"))
    assert(physical(DocOps.keywordSearch(spark, sf0001)).contains("TakeOrderedAndProject"))
  }

  test("d20 context expansion broadcasts the limited hit list (no N+1, no big-side shuffle)") {
    val p = physical(DocOps.contextWindowSearch(spark, sf0001))
    // the ≤50-row hit list must be the broadcast side of the range join —
    // the whole point of folding the reference's per-hit query loop
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"hit list must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "context expansion must not sort-merge")
    // limit-before-expansion: a limit operator exists below the join
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
      "the hit LIMIT must be applied before expansion")
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS events_bucketed_test")
    val loc = new java.io.File("spark-warehouse/events_bucketed_test")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    graft.sources.Ingest.writeBucketed(
      Tables.events(spark, sf0001).select("event_id", "user_id", "event_type"),
      table = "events_bucketed_test", key = "user_id", buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path: the point is that bucketing replaces
      // the shuffle, not that a tiny table can broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("events_bucketed_test")
      val joined = t.as("a").join(t.as("b"), "user_id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed self-join must not shuffle, plan was:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(plan.contains("Bucketed: true"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("corpus prep: eval n-grams broadcast, split assignment never shuffles") {
    val pDecon = physical(graft.operators.CorpusPrep.qDecontaminate(spark, sf0001))
    assert(pDecon.contains("BroadcastHashJoin"),
      s"eval-set n-gram join must broadcast, plan:\n$pDecon")
    val pSplit = physical(graft.operators.CorpusPrep.qAssignSplit(spark, sf0001))
    assert(!pSplit.contains("Exchange"),
      s"split assignment is per-row arithmetic, plan must be shuffle-free:\n$pSplit")
    // packing shuffles exactly once: the hash partition for the shard window
    val pPack = physical(graft.operators.CorpusPrep.qPackOffsets(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pPack).size
    assert(exchanges == 1, s"expected one shard exchange, got $exchanges:\n$pPack")
  }

  test("knn join and unigram LM broadcast their small sides") {
    val pKnn = physical(graft.operators.VectorSearch.qKnnJoin(spark, sf0001))
    assert(pKnn.contains("Broadcast"), s"query batch must broadcast:\n$pKnn")
    val pLm = physical(graft.operators.TextQuality.qUnigramLogprob(spark, sf0001))
    assert(pLm.contains("Broadcast"), s"model totals must broadcast:\n$pLm")
  }

  test("top-k words sketch aggregates via ObjectHashAggregate (buffer stays an object)") {
    val p = physical(DocOps.topWordsSketch(spark, sf0001))
    assert(p.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate, plan:\n$p")
  }

  test("salted join keys the exchange on (key, salt), not the hot key alone") {
    val ev = Tables.events(spark, sf0001)
    val dim = ev.select("event_type").distinct()
      .withColumn("tag", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("t_"), org.apache.spark.sql.functions.col("event_type")))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = graft.functions.Skew.saltedJoin(
        ev, dim, "event_type", org.apache.spark.sql.functions.col("event_id"), nSalts = 8)
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("__salt"), s"salt column missing from the physical join keys:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("platform partition pruning: a filtered read plans partition filters") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val conv = Seq(
      ("c1", "claude", "A"), ("c2", "claude", "B"), ("g1", "chatgpt", "C"))
      .toDF("id", "platform", "name")
    val msgs = Seq(("m1", "c1"), ("m2", "g1")).toDF("id", "conversation_id")
    graft.sources.Ingest.writeNormalized(conv, msgs, out)
    val read = spark.read.parquet(s"$out/conversations")
      .where($"platform" === "claude")
    assert(read.count() == 2)
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("platform"),
      s"expected a partition filter on platform in:\n$p")
    // the pruned scan must not list the chatgpt partition
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(!scanLine.contains("chatgpt"))
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    (1 to 1000).map(i => (s"c$i", if (i % 2 == 0) "claude" else "chatgpt", s"t$i"))
      .toDF("id", "platform", "title")
      .write.partitionBy("platform").parquet(s"$out/conv")
    val fact = spark.read.parquet(s"$out/conv")
    // the dim must be a real relation: a local Seq would constant-fold its
    // filter away and leave DPP nothing to detect
    Seq(("claude", "alpha"), ("chatgpt", "beta")).toDF("platform", "tag")
      .write.parquet(s"$out/dim")
    val dim = spark.read.parquet(s"$out/dim")
    // at test scale the cost model vetoes pruning (stats say the scan is
    // tiny); disable the stats veto so the plan shape itself is assertable
    val prevStats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val prevRatio = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100")
      val q = fact.join(dim.where($"tag" === "alpha"), "platform")
      assert(q.count() == 500)
      val plan = q.queryExecution.executedPlan.toString
      // the scan's partition filter is the runtime subquery on the dim
      // side, not a static literal — the 100 TB pattern where the filtered
      // dim decides which fact partitions are read at all
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamicpruning partition filter in:\n$plan")
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", prevRatio)
    }
  }

  test("rollup plans one Expand + hash aggregate, not unioned re-aggregations") {
    val df = Relational.revenueRollup(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Union"), s"rollup must not union re-aggregations:\n$plan")
    // 25 nations + 5 region subtotals + 1 grand total on TPC-H-ish data
    assert(df.count() == 31)
  }

  test("relational operators run inside whole-stage codegen") {
    // AQE finalizes stages only at execution; run the query, then read the
    // final adaptive plan.
    def finalPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // codegen stages print as `*(n) Operator` in the final plan string
    assert(finalPlan(Views.userSummary(spark, sf0001)).contains("*("))
    assert(finalPlan(Relational.pricingSummary(spark, sf0001)).contains("*("))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB a selective dim-side predicate should reach the fact scan
    // as a runtime bloom filter (row-level runtime filtering, Spark 3.5+).
    // The size thresholds exist for small inputs, so lower them to prove
    // the injection fires on this join shape; broadcast is disabled because
    // BHJ needs no bloom (the hash table IS the filter).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Tables.orders(spark, sf0001).where(col("o_orderpriority") === "1-URGENT")
      val l = Tables.lineitem(spark, sf0001)
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a bloom-filter runtime predicate on the fact side:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("IVF cell-partitioned storage prunes probe scans at the file listing") {
    import graft.operators.VectorSearch
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cells").toString
    VectorSearch.writeCellPartitioned(emb, dir, nCells = 8, iters = 2)
    val table = spark.read.parquet(dir)
    val nParts = table.select("cell").distinct().count()
    assert(nParts > 2, s"fixture degenerate: only $nParts cells materialized")
    // a 2-cell probe must plan a partition filter and list ONLY those two
    // partition directories — the scan never touches the other cells' files
    val probe = table.where(col("cell").isin(0, 3))
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in probe plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("cell")),
      s"cell predicate must be a partition filter, got: ${scan.partitionFilters}")
    val listed = scan.selectedPartitions.partitionCount
    assert(listed <= 2, s"probe listed $listed partitions, expected <= 2")
    // pruning must not change results: probe rows == full-scan rows for
    // the same cells
    val full = table.collect().count(r => Set(0, 3)(r.getAs[Int]("cell")))
    assert(probe.count() == full)
  }

  test("persisted IVF-PQ index: probe plans static cell PartitionFilters, " +
       "lists only nprobe partitions, and never retrains") {
    import graft.operators.VectorSearch
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    VectorSearch.writeIvfPqIndex(emb, dir, nCells = 8, cIters = 2, iters = 2)
    val lloydBefore = lloydRuns
    val probe = VectorSearch.probeIvfPqIndex(spark, dir, emb, queryVecId = 0L,
      kTop = 10, nprobe = 3)
    val rows = probe.collect()
    assert(rows.nonEmpty)
    // serving reads the model — Lloyd must not have run again
    assert(lloydRuns == lloydBefore,
      s"probe retrained k-means: $lloydBefore -> $lloydRuns")
    // the probed cells are a STATIC partition filter on the codes scan:
    // only those cell directories are listed (inspect the pre-AQE physical
    // plan — the adaptive wrapper hides scan nodes from collectFirst)
    val scan = probe.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }.getOrElse(fail("no codes FileSourceScanExec in probe plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("cell")),
      s"cell predicate must be a partition filter, got: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount <= 3,
      s"probe listed ${scan.selectedPartitions.partitionCount} partitions, expected <= nprobe=3")
    // lossless persistence: identical to the inline computation
    val inline = VectorSearch.ivfPqTopK(emb, queryVecId = 0L, kTop = 10,
      nCells = 8, cIters = 2, iters = 2, nprobe = 3).collect()
    assert(rows.toSeq == inline.toSeq)
  }

  test("persisted IVF index: batched probe matches the inline join without retraining") {
    import graft.operators.VectorSearch
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val corpus = emb.where(col("vec_id") % 50 =!= 0)
    val queries = emb.where(col("vec_id") % 50 === 0)
    VectorSearch.writeIvfIndex(corpus, dir, nCells = 8, iters = 2, trainSet = emb)
    val lloydBefore = lloydRuns
    val persisted = VectorSearch.probeIvfIndex(spark, dir, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect()
    assert(persisted.nonEmpty)
    assert(lloydRuns == lloydBefore,
      s"probe retrained k-means: $lloydBefore -> $lloydRuns")
    val inline = VectorSearch.ivfKnnJoin(corpus, queries, k = 5, nCells = 8,
      nprobe = 3, iters = 2, trainSet = emb)
      .orderBy("query_id", "rank").collect()
    assert(persisted.toSeq == inline.toSeq)
  }

  test("langId/qualityScore evaluate the word-extraction regex once per row " +
       "(staged column survives projection collapse)") {
    import graft.operators.TextQuality
    for ((name, df) <- Seq(
        "x9_lang_id" -> TextQuality.qLangId(spark, sf0001),
        "x10_quality" -> TextQuality.qQuality(spark, sf0001))) {
      val plan = df.queryExecution.optimizedPlan.toString
      val n = "regexp_extract_all".r.findAllIn(plan).length
      assert(n == 1,
        s"$name: expected ONE word-extraction regexp_extract_all in the " +
          s"optimized plan, found $n")
    }
  }

  test("probe-only serving queries (x82b/x83b): first call builds, later calls " +
       "memo-hit without retraining, results identical to the full-cycle queries") {
    import graft.operators.VectorSearch
    // first call may build the artifact (0 or 1+ trainings depending on
    // whether an earlier test already populated the memo for this corpus)
    val first82 = VectorSearch.qIvfKnnJoinProbeOnly(spark, sf0001)
      .orderBy("query_id", "rank").collect()
    val first83 = VectorSearch.qIvfPqProbeOnly(spark, sf0001).collect()
    assert(first82.nonEmpty && first83.nonEmpty)
    // second call must serve from the memoized artifact: zero Lloyd runs
    val lloydBefore = lloydRuns
    val second82 = VectorSearch.qIvfKnnJoinProbeOnly(spark, sf0001)
      .orderBy("query_id", "rank").collect()
    val second83 = VectorSearch.qIvfPqProbeOnly(spark, sf0001).collect()
    assert(lloydRuns == lloydBefore,
      s"probe-only re-call retrained: $lloydBefore -> $lloydRuns")
    assert(second82.toSeq == first82.toSeq)
    assert(second83.toSeq == first83.toSeq)
    // ordering safety vs the full-cycle queries: x82/x83 overwrite THEIR
    // artifact dirs; the served artifact must be unaffected
    VectorSearch.qIvfKnnJoinPersisted(spark, sf0001).count()
    val full83 = VectorSearch.qIvfPqTopKPersisted(spark, sf0001).collect()
    val third82 = VectorSearch.qIvfKnnJoinProbeOnly(spark, sf0001)
      .orderBy("query_id", "rank").collect()
    assert(third82.toSeq == first82.toSeq)
    // and the served results equal the full-cycle computation exactly
    assert(first83.toSeq == full83.toSeq)
  }

  test("persisted semantic-decontam index (x86c): probe matches the inline IVF " +
       "pass without retraining; registered row memo-hits on re-call") {
    import graft.operators.VectorSearch
    val emb = Tables.embeddings(spark, sf0001)
    val corpus = emb.where(col("vec_id") % 10 =!= 0)
    val evalSet = emb.where(col("vec_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_semdecon_idx").toString
    VectorSearch.writeSemanticDecontamIndex(evalSet, dir, nCells = 8, iters = 2)
    val lloydBefore = lloydRuns
    val persisted = VectorSearch
      .probeSemanticDecontamIndex(spark, dir, corpus, threshold = 0.4, nprobe = 3)
      .orderBy("vec_id").collect()
    assert(persisted.nonEmpty)
    assert(lloydRuns == lloydBefore,
      s"probe retrained k-means: $lloydBefore -> $lloydRuns")
    // lossless persistence: verdicts identical to a fresh train-and-assign
    val inline = VectorSearch.semanticDecontaminateIvf(corpus, evalSet,
      threshold = 0.4, nCells = 8, nprobe = 3, iters = 2)
      .orderBy("vec_id").collect()
    assert(persisted.toSeq == inline.toSeq)
    // the registered serving row: second call must memo-hit (no retrain)
    val first = VectorSearch.qSemanticDecontamProbeOnly(spark, sf0001)
      .orderBy("vec_id").collect()
    val lloydServe = lloydRuns
    val second = VectorSearch.qSemanticDecontamProbeOnly(spark, sf0001)
      .orderBy("vec_id").collect()
    assert(lloydRuns == lloydServe,
      s"x86c re-call retrained: $lloydServe -> $lloydRuns")
    assert(second.toSeq == first.toSeq)
  }

  test("no registered query plans a cartesian product or an unjustified nested-loop join") {
    // A BroadcastNestedLoopJoin is scale-safe only when its build side is a
    // deliberately broadcast handful of rows (a 1-row query vector, a ≤k-row
    // query batch, a one-row bound): the probe side then streams once with
    // no shuffle — that is the *intended* plan for these queries. Everything
    // else must plan equi/semi/sort-merge joins; a CartesianProduct is never
    // acceptable.
    val broadcastTinyBuild = Set(
      "x5_ann_topk",        // 1-row query vector rides a broadcast cross join
      "x14_ann_ivf",        // same 1-row query-vector pattern, cell-pruned scan
      "x26_knn_join",       // broadcast ≤n/50-row query batch vs corpus stream
      "x38_ann_recall",     // exact side reuses x26's broadcast query batch
      "n7_near_dups",       // 1-row target document vs corpus
      "n12_semantic_search",// 1-row query TF-IDF vector vs doc vectors
      "w6_dense_daily",     // 1-row (min,max) bounds row exploded into the spine
      "w7_locf_fill",       // broadcast day-spine side of the types × days cross
      "d9_vocab_unique",    // 1-row vocab-array build side
      // the scalar-broadcast family: a grouping-free 1-row aggregate
      // (corpus doc count N for IDF and everything downstream of it; total
      // word count for the unigram LM) crossJoin(broadcast(_))-ed onto the
      // stream — Spark plans any non-equi broadcast join as BNLJ, but a
      // 1-row build side is a constant, not a blow-up
      "n2_idf", "n3_tfidf_top", "n4_relevance", "n5_rank", "n13_bm25",
      "x61_prf_bm25",        // both BM25 passes ride n13's 1-row stats build
      "n8_priority", "n9_priority_distribution",
      "p1_pipeline", "p1b_pipeline_graded", "p2_pipeline_stats",
      "x25_unigram_lm", "x31_ccnet_buckets",
      "x35_mix_temperature", // 1-row (tot_tokens, tot_w) aggregate onto 20 sources
      "x39_quality_distill", // label build reuses x25's 1-row totals aggregate
      // the IVF family: the k×dim centroid matrix rides a broadcast 1-row
      // frame (data-invariant plan shape instead of per-dataset literals);
      // the candidate join itself stays an equi join on the cell id
      "x30_semantic_dedup", "x37_ivf_knn_join",
      "x57_hard_negatives",  // x37's broadcast centroid frame + a ≤n/50-row
                             // broadcast query-label build; the pool join
                             // stays the cell-id equi join
      "x43_bigram_lm",       // 1-row vocabulary-size aggregate onto the pair stream
      "x59_interp_bigram",   // 1-row token-total aggregate, same x43 pattern
      "x44_hybrid_search",   // semantic arm reuses n12's 1-row query-norm broadcast
      "x44b_hybrid_probe",   // x44 served from the artifact: the 1-row stats
                             // frame (n_docs, avgdl) and the 1-row query-norm
                             // frame ride broadcasts; every postings/sidecar
                             // join stays a doc/token-keyed equi join
      "x47_rag_retrieve",    // 1-row n_chunks aggregate (chunk-corpus IDF) + the
                             // IVF family's broadcast centroid frame, as in x37
      "x50_pq_codes",        // all m codebooks ride one broadcast 1-row frame
      "x55_cluster_topics",  // doc-IDF 1-row N + 1-row token total + the IVF
                             // family's broadcast centroid frame; the c-TF-IDF
                             // joins themselves are token-keyed equi joins
      "x51_pq_adc_topk",     // codebooks frame + the 1-row ADC lookup table
      "x52_ivfpq_topk",      // centroid frame + codebooks + per-cell LUT stack
      "x82_ivf_persisted",   // x37's broadcast centroid frame, read from the
                             // persisted index instead of trained inline
      "x83_ivfpq_persisted", // x52's 1-row LUT-stack broadcast over the
                             // partition-pruned codes scan
      "x82b_ivf_probe",      // x82's probe half verbatim (memoized artifact)
      "x83b_ivfpq_probe",    // x83's probe half verbatim (memoized artifact)
      "x68_ivf_cell_stats",  // the IVF family's broadcast centroid frame; the
                             // per-cell aggregate is a plain hash aggregate
      "x69_source_drift",    // 1-row corpus-token-total aggregate onto the
                             // (source, token) stream — the n2/x25 pattern
      "x71_family_sizes",    // 1-row (n_families, logsum) MLE aggregate onto
                             // the histogram rows
      "x74_unigram_viterbi", // 1-row piece-frequency total onto the vocab
                             // frame (the x25 scalar-broadcast pattern)
      "x75_tokenizer_report", // embeds x74's 1-row piece-frequency total
      "x79_worst_spans",     // x43's 1-row vocabulary-size aggregate
      "x80_unigram_em",      // x74's 1-row piece-frequency totals (both models)
      "x86_semantic_decontam", // the 1-row broadcast eval-matrix frame; the
                             // corpus streams once against it (PropertySpec
                             // asserts no corpus rows cross an exchange)
      "x86b_semantic_decontam_ivf", // the IVF family's broadcast centroid
                             // frame (as in x37); candidates meet in a
                             // cell equi-join
      "x86c_semantic_decontam_probe", // x86b's probe half verbatim (the
                             // centroid frame read from the persisted
                             // index instead of trained inline)
      "x88_pq_refine"        // x51's codebooks/LUT frames for the shortlist
                             // + the 1-row query-vector frame the refine
                             // stage's exact distance reads; the shortlist
                             // rejoin itself is a broadcast HASH join on
                             // vec_id (plan-audited in NOTES round 9)
    )
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !broadcastTinyBuild(name)
        if (cart || bnlj)
          Some(s"$name(${Seq(if (cart) "cartesian" else "", if (bnlj) "bnlj" else "")
            .filter(_.nonEmpty).mkString(",")})")
        else None
    }
    assert(offenders.isEmpty,
      s"scale-killer join strategies in: ${offenders.mkString(", ")}")
  }
}
