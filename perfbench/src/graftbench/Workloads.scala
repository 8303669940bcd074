package graftbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import graft.functions.BooleanQuery
import graft.operators._
import graft.oracles.{IngestSql, NlpSql, TrainSql}
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: its set-up, its timed closed loop, and the
  * output checks re-run outside the timed region.
  */
trait Workload {
  /** Codegen warm-up: every operation once on the small sibling input,
    * before the measured operations.
    */
  def warmup(spark: SparkSession): Unit
  /** The program's own set-up work, on the session the run measures. */
  def setup(spark: SparkSession): Unit
  def run(r: Runner, seconds: Double): Unit
  /** Work items, input and stored bytes, and per-iteration wall times. */
  def summary(r: Runner): Map[String, Any]
  /** Untimed counts the traced run reports beside its spans. */
  def traceExtras(r: Runner): Map[String, Any]
  /** Spark rows plus oracle SQL (or evaluated invariants) per checked op. */
  def checks(r: Runner): Seq[Map[String, Any]]
}

object Workload {
  def apply(name: String, inputs: String, work: String, seed: Long): Workload = name match {
    case "analyst_fit"     => new Analyst(inputs, work)
    case "export_pipeline" => new ExportPipeline(inputs, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Blocks or jobs a traced run measures at least: one untraced, then two
    * traced and two untraced in the order given by [[tracedUnit]].
    */
  val TracedMinUnits = 5

  /** Whether block or job `i` of a traced run is traced: the first is not,
    * then the order is traced, untraced, untraced, traced, repeating. Traced
    * and untraced units then sit at the same mean position, so the JVM still
    * warming up over a run does not count as tracing overhead.
    */
  def tracedUnit(i: Long): Boolean = i % 4 == 1 || (i > 0 && i % 4 == 0)

  private[graftbench] def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Run `body` on a runner that records nothing into the measured run,
    * failing loudly if any of its operations threw.
    */
  private[graftbench] def untimed(spark: SparkSession)(body: Runner => Unit): Unit =
    untimedParallel(spark, Seq(body))

  /** [[untimed]] for independent bodies, run concurrently on one thread per
    * core: the warm-up only has to compile every plan shape once, and
    * compiling them side by side shortens every run's set-up.
    */
  private[graftbench] def untimedParallel(spark: SparkSession, bodies: Seq[Runner => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(bodies.size, Runtime.getRuntime.availableProcessors())))
    try {
      val runners = bodies.map { body =>
        val w = new Runner(spark, new Tracer(spark.sparkContext, false))
        w -> pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = body(w) })
      }
      runners.foreach(_._2.get())
      runners.flatMap(_._1.ops).find(_("error") != "").foreach(o =>
        throw new IllegalStateException(s"warm-up ${o("kind")} failed: ${o("error")}"))
    } finally pool.shutdown()
  }

  private[graftbench] def check(name: String, spec: String, sql: String,
                                tables: Map[String, String], timedRows: Seq[Long])
                               (df: => DataFrame): Map[String, Any] =
    try {
      val d = df
      Map("name" -> name, "spec" -> spec, "sql" -> sql, "tables" -> tables,
        "columns" -> d.columns.toSeq, "rows" -> d.toJSON.collect().toSeq,
        "timed_rows" -> timedRows)
    } catch { case e: Throwable => Map("name" -> name, "spec" -> spec, "error" -> error(e)) }

  private[graftbench] def invariants(name: String, timedRows: Seq[Long])
                                    (body: => Seq[(String, Boolean, String)]): Map[String, Any] =
    try {
      Map("name" -> name, "spec" -> name, "timed_rows" -> timedRows,
        "invariants" -> body.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
    } catch { case e: Throwable => Map("name" -> name, "spec" -> name, "error" -> error(e)) }

  private[graftbench] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Timed row counts per op kind (only ops that did not throw). */
  private[graftbench] def timedRows(r: Runner, kind: String): Seq[Long] =
    r.ops.filter(o => o("kind") == kind && o("error") == "").map(_("rows").asInstanceOf[Long]).toSeq
}

/** Interactive analyst requests against one corpus. The schedule is
  * generated from the seed; each line names the request kind and its
  * parameters.
  */
final class Analyst(inputs: String, work: String) extends Workload {
  import Workload._

  private val corpus = s"$inputs/corpus"
  private val requests: IndexedSeq[(String, Map[String, Any])] = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val src = scala.io.Source.fromFile(s"$inputs/requests.jsonl")
    try src.getLines().filter(_.nonEmpty)
      .map(l => l -> org.json4s.jackson.JsonMethods.parse(l).extract[Map[String, Any]])
      .toIndexedSeq
    finally src.close()
  }
  private var indexDir = ""
  private var requestsDone = 0

  private def layer(kind: String): String = kind match {
    case "keyword" | "boolean" | "context"                                 => "docops"
    case "semantic"                                                        => "semantic_search"
    case "hybrid"                                                          => "hybrid_search"
    case "probe_phrase" | "probe_hybrid"                                   => "served_search"
    case "event_pairs" | "user_summary" | "time_activity" | "error_context" => "views"
    case "bm25"                                                            => "relevance"
    case "unique_docs" | "near_dups"                                       => "duplicates"
  }

  private def str(q: Map[String, Any], k: String) = q(k).asInstanceOf[String]
  private def strs(q: Map[String, Any], k: String) = q(k).asInstanceOf[Seq[Any]].map(_.toString)

  private def frame(spark: SparkSession, q: Map[String, Any], d: String, idx: String): DataFrame = {
    def docs = Tables.documents(spark, d)
    str(q, "kind") match {
      case "keyword"       => DocOps.keywordSearch(spark, d, str(q, "kw"))
      case "boolean"       => DocOps.booleanQuerySearch(spark, d, str(q, "query"))
      case "context"       => DocOps.contextWindowSearch(spark, d, str(q, "kw"))
      case "semantic"      => SemanticSearch.search(spark, docs, str(q, "query"))
      case "hybrid"        => HybridSearch.hybridSearch(spark, docs, str(q, "query"))
      case "probe_phrase"  => ServedSearch.probePhrase(spark, idx, strs(q, "phrase"))
      case "probe_hybrid"  => ServedSearch.probeHybrid(spark, idx, str(q, "query"))
      case "event_pairs"   => Views.eventPairs(spark, d)
      case "user_summary"  => Views.userSummary(spark, d)
      case "time_activity" => Views.timeActivity(spark, d)
      case "error_context" => EventOps.errorContext(spark, d)
      case "bm25"          => Relevance.bm25Rank(docs, strs(q, "terms"))
      case "unique_docs"   => Duplicates.uniqueDocuments(docs)
      case "near_dups"     => Duplicates.nearDuplicatesOf(docs, q("target").toString.toLong)
    }
  }

  /** The oracle SQL of the registered query each request kind generalizes,
    * with the request's parameters substituted.
    */
  private def oracle(q: Map[String, Any]): String = str(q, "kind") match {
    case "keyword" =>
      val kw = str(q, "kw")
      SparkEntry.oracleSql("d2_keyword_search")
        .replace("'window'", s"'$kw'").replace("'%window%'", s"'%$kw%'")
    case "boolean" =>
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE " +
        BooleanQuery.toSql("text", str(q, "query"))
    case "context" => NlpSql.contextWindowSql(str(q, "kw"))
    case "semantic" =>
      NlpSql.semanticSearchSql(SemanticSearch.queryTf(str(q, "query")),
        SemanticSearch.VocabSize, SemanticSearch.Threshold, SemanticSearch.Limit)
    case "hybrid" | "probe_hybrid" =>
      val query = str(q, "query")
      NlpSql.hybridSearchSql(SemanticSearch.queryTf(query),
        SemanticSearch.tokenize(query).distinct, SemanticSearch.VocabSize,
        SemanticSearch.Threshold)
    case "probe_phrase"  => TrainSql.phraseSearchSql(strs(q, "phrase"))
    case "event_pairs"   => SparkEntry.oracleSql("v1_event_pairs")
    case "user_summary"  => SparkEntry.oracleSql("v2_user_summary")
    case "time_activity" => SparkEntry.oracleSql("v4_time_activity")
    case "error_context" => SparkEntry.oracleSql("e2_error_context")
    case "bm25"          => NlpSql.bm25Sql(strs(q, "terms"))
    case "unique_docs"   => NlpSql.uniqueDocsSql()
    case "near_dups"     => NlpSql.nearDupsSql(q("target").toString.toLong)
  }

  /** Every request kind once on the sibling corpus. The served-search
    * probes wait for the sibling's index; everything else compiles beside it.
    */
  def warmup(spark: SparkSession): Unit = {
    val warm = s"$inputs/warm"
    val warmIdx = s"$work/index-warm"
    val target = Tables.documents(spark, warm).agg(min("doc_id")).head().getLong(0)
    val params = Map[String, Any]("kw" -> "window", "query" -> SemanticSearch.DefaultQuery,
      "phrase" -> SearchIndex.DefaultPhrase, "terms" -> Relevance.Keywords, "target" -> target)
    def req(w: Runner, k: String): Unit =
      w.frame(k, layer(k), k)(frame(spark, params + ("kind" -> k), warm, warmIdx))
    val (probes, rest) = Analyst.Kinds.partition(layer(_) == "served_search")
    untimedParallel(spark, ((w: Runner) => {
      ServedSearch.writeSearchIndex(Tables.documents(spark, warm), warmIdx)
      probes.foreach(req(w, _))
    }) +: rest.map(k => (w: Runner) => req(w, k)))
    spark.catalog.clearCache()
  }

  /** The served search index of the corpus, written into a fresh directory. */
  def setup(spark: SparkSession): Unit = {
    indexDir = s"$work/index-${System.nanoTime()}"
    ServedSearch.writeSearchIndex(Tables.documents(spark, corpus), indexDir)
  }

  /** The closed loop: whole schedule blocks (one request of each kind)
    * until `seconds` have passed and at least [[Analyst.MinBlocks]] ran, so
    * every run has the same kind mix and enough samples for a p90. In a
    * traced run blocks are traced or not as [[Workload.tracedUnit]] says, so
    * traced and untraced requests see the same mix after the first block;
    * their difference is the tracing overhead.
    */
  def run(r: Runner, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    val kinds = Analyst.Kinds.size
    val minBlocks = if (r.tracer.enabled) TracedMinUnits else Analyst.MinBlocks
    while (System.nanoTime() < deadline || i % kinds != 0 || i < minBlocks * kinds) {
      val (spec, q) = requests(i % requests.size)
      val traced = tracedUnit(i / kinds)
      r.frame(str(q, "kind"), layer(str(q, "kind")), spec, traced)(frame(r.spark, q, corpus, indexDir))
      i += 1
    }
    requestsDone = i
  }

  def summary(r: Runner): Map[String, Any] = Map(
    "items" -> requestsDone,
    "input_bytes" -> Runner.dirBytes(corpus),
    "stored_bytes" -> Runner.dirBytes(indexDir))

  def traceExtras(r: Runner): Map[String, Any] = {
    val t0 = System.nanoTime()
    setup(r.spark)
    Map("served_search.index_build_s" -> (System.nanoTime() - t0) / 1e9,
      "duplicates.edges" -> Duplicates.pairSimilarities(Tables.documents(r.spark, corpus)).count())
  }

  /** The first requests of the schedule's first [[Analyst.CheckedKinds]]
    * kinds: a seeded sample, since the schedule's blocks are seeded
    * permutations of the kinds.
    */
  def checks(r: Runner): Seq[Map[String, Any]] = {
    val rowsBySpec = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    for (o <- r.ops if o("error") == "")
      rowsBySpec.getOrElseUpdate(o("spec").toString, mutable.ArrayBuffer.empty) +=
        o("rows").asInstanceOf[Long]
    val bySpec = requests.toMap
    rowsBySpec.keys.toSeq.take(Analyst.CheckedKinds).map { spec =>
        val q = bySpec(spec)
        check(str(q, "kind"), spec, oracle(q),
          Map("documents" -> s"$corpus/documents.parquet", "events" -> s"$corpus/events.parquet"),
          rowsBySpec(spec).toSeq)(frame(r.spark, q, corpus, indexDir))
      }
  }
}

object Analyst {
  val MinBlocks = 3
  val CheckedKinds = 5
  val Kinds = Seq("keyword", "boolean", "context", "semantic", "hybrid", "probe_phrase",
    "probe_hybrid", "event_pairs", "user_summary", "time_activity", "error_context", "bm25",
    "unique_docs", "near_dups")
}

/** Batch job over raw Claude and ChatGPT exports: normalize and write them,
  * read the messages back as documents, run the NLP pipeline to its results
  * and statistics, then the Dedup curation sequence over the same documents
  * (the exports carry planted near-duplicate families). Every job rewrites
  * its outputs, so no job is served from memos an earlier job filled.
  */
final class ExportPipeline(inputs: String, work: String, seed: Long) extends Workload {
  import Workload._

  private val jobWallS = mutable.ArrayBuffer.empty[Double]
  /** Output directory of the last job. Each job writes a fresh one: the
    * engine memoizes resolved tables by path, so a path is never rewritten.
    */
  private var out = ""

  private def raw(spark: SparkSession, d: String): (DataFrame, DataFrame) = {
    val c = Ingest.readClaude(spark, s"$d/claude_export.json")
    val g = Ingest.readChatgpt(spark, s"$d/chatgpt_export.json")
    (Ingest.claudeConversations(c).unionByName(Ingest.chatgptConversations(g)),
      Ingest.claudeMessages(c).unionByName(Ingest.chatgptMessages(spark, g).toDF()))
  }

  /** Messages with text as a documents table: doc_id is a 64-bit hash of
    * the message id (sign bit cleared), text is the content.
    */
  private def documents(spark: SparkSession, o: String): DataFrame =
    spark.read.parquet(s"$o/normalized/messages")
      .where(col("content").isNotNull && length(col("content")) > 0)
      .select(xxhash64(col("id")).bitwiseAND(lit(Long.MaxValue)).as("doc_id"),
        col("content").as("text"), lit("en").as("lang"), col("model").as("source"),
        length(col("content")).cast("long").as("n_chars"))

  private val dedupSteps: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("dedup_exact", "dedup.exact", (s, d) => Dedup.exactDuplicates(Tables.documents(s, d))),
    ("dedup_jaccard", "dedup.jaccard", (s, d) => Dedup.jaccardPairs(Tables.documents(s, d))),
    ("dedup_containment", "dedup.containment",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d))),
    ("dedup_minhash_lsh", "dedup.minhash_lsh",
      (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d))),
    ("dedup_minhash_dedup", "dedup.minhash_dedup",
      (s, d) => Dedup.minhashDedup(Tables.documents(s, d))),
    ("dedup_persisted", "dedup.persisted",
      (s, d) => SparkEntry.queries("x70_incremental_persisted")(s, d)),
    ("dedup_admission", "dedup.admission",
      (s, d) => Pipeline.ingestAdmission(Tables.documents(s, d))))

  private val dedupOracles: Map[String, String] = Map(
    "dedup_exact" ->
      ("SELECT md5(text) AS digest, count(*) AS group_size, min(doc_id) AS keep_doc, " +
        "list_sort(list(doc_id)) AS doc_ids FROM documents GROUP BY 1 HAVING count(*) > 1"),
    "dedup_jaccard" -> TrainSql.jaccardPairsSql,
    "dedup_containment" -> TrainSql.containmentPairsSql(),
    "dedup_minhash_lsh" -> TrainSql.minhashLshSql(),
    "dedup_minhash_dedup" -> TrainSql.minhashDedupSql(),
    "dedup_persisted" -> TrainSql.incrementalDedupSql(),
    "dedup_admission" -> TrainSql.ingestPipelineSql())

  private def ingest(r: Runner, d: String, o: String, traced: Boolean): Unit = {
    val spark = r.spark
    if (traced) {
      r.frame("ingest_parse_conversations", "ingest.parse", "conversations", traced)(raw(spark, d)._1)
      r.frame("ingest_parse_messages", "ingest.parse", "messages", traced)(raw(spark, d)._2)
    }
    r.action("ingest_write", "ingest.write", "normalized", traced) {
      val (c, m) = raw(spark, d)
      Ingest.writeNormalized(c, m, s"$o/normalized")
    }
    r.action("documents_write", "ingest.documents", "documents", traced)(
      documents(spark, o).write.mode("overwrite").parquet(s"$o/docs/documents.parquet"))
  }

  /** The pipeline to its written results and their statistics. A traced
    * job also calls the pipeline's stages one by one, inside the same cache
    * scope as the pipeline, so their shared frames are the ones it reuses.
    */
  private def pipeline(r: Runner, o: String, traced: Boolean): Unit = {
    val spark = r.spark
    val docs = Tables.documents(spark, s"$o/docs")
    Caches.withScope {
      if (traced) {
        r.frame("relevance", "relevance", "relevance", traced)(Relevance.relevanceScores(docs))
        r.frame("unique_docs", "duplicates", "unique_docs", traced)(Duplicates.uniqueDocuments(docs))
        r.frame("summaries", "summarizer", "summaries", traced)(
          docs.join(Duplicates.uniqueDocuments(docs), "doc_id")
            .select(col("doc_id"), Summarizer.summarizeUdf(col("text"), lit(3)).as("summary")))
        r.frame("priority", "priority", "priority", traced)(
          Priority.classify(docs, precomputedRelevance = Some(Relevance.relevanceScores(docs))))
      }
      r.action("process_and_write", "pipeline.write", "results", traced)(
        Pipeline.processAndWrite(docs, s"$o/results"))
    }
    r.frame("statistics", "pipeline.statistics", "statistics", traced)(
      Pipeline.statistics(spark.read.parquet(s"$o/results")))
  }

  private def dedup(r: Runner, o: String, step: (String, String, (SparkSession, String) => DataFrame),
                    traced: Boolean): Unit =
    r.frame(step._1, step._2, step._1, traced)(step._3(r.spark, s"$o/docs"))

  /** One batch job; returns its wall time. */
  private def job(r: Runner, d: String, o: String, it: Long, traced: Boolean): Double =
    r.group("export_pipeline", it, traced) {
      val t0 = System.nanoTime()
      ingest(r, d, o, traced)
      pipeline(r, o, traced)
      dedupSteps.foreach(dedup(r, o, _, traced))
      (System.nanoTime() - t0) / 1e9
    }

  /** The job's stages on the sibling exports; the pipeline and the Dedup
    * steps each depend only on the written documents, so they compile side
    * by side.
    */
  def warmup(spark: SparkSession): Unit = {
    val o = s"$work/export-warm"
    untimed(spark)(w => ingest(w, s"$inputs/warm", o, traced = false))
    untimedParallel(spark, ((w: Runner) => pipeline(w, o, traced = false)) +:
      dedupSteps.map(step => (w: Runner) => dedup(w, o, step, traced = false)))
    spark.catalog.clearCache()
  }

  /** A batch job has no set-up work of its own beyond the session. */
  def setup(spark: SparkSession): Unit = ()

  /** Whole jobs until `seconds` have passed and at least
    * [[ExportPipeline.MinJobs]] ran ([[Workload.TracedMinUnits]] in a traced
    * run, traced or not as [[Workload.tracedUnit]] says). The SQL cache is
    * cleared between jobs, outside their timing.
    */
  def run(r: Runner, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minJobs = if (r.tracer.enabled) TracedMinUnits else ExportPipeline.MinJobs
    var it = 0L
    while (System.nanoTime() < deadline || it < minJobs) {
      val o = s"$work/export-job-$it"
      jobWallS += job(r, s"$inputs/export", o, it, traced = r.tracer.enabled && tracedUnit(it))
      r.spark.catalog.clearCache()
      if (out.nonEmpty) deleteRecursively(new java.io.File(out))
      out = o
      it += 1
    }
  }

  def summary(r: Runner): Map[String, Any] = Map(
    "items" -> r.spark.read.parquet(s"$out/normalized/messages").count(),
    "documents" -> Tables.documents(r.spark, s"$out/docs").count(),
    "input_bytes" -> Runner.dirBytes(s"$inputs/export"),
    "stored_bytes" -> Seq(s"$out/normalized", s"$out/results",
      Artifacts.sessionScopedDir(r.spark, "lsh_index", s"$out/docs")).map(Runner.dirBytes).sum,
    "job_wall_s" -> jobWallS.toSeq)

  def traceExtras(r: Runner): Map[String, Any] = {
    val docs = Tables.documents(r.spark, s"$out/docs")
    Map(
      "ingest.msgs" -> r.spark.read.parquet(s"$out/normalized/messages").count(),
      "ingest.output_mb" -> Runner.dirBytes(s"$out/normalized") / 1048576.0,
      "pipeline.output_mb" -> Runner.dirBytes(s"$out/results") / 1048576.0,
      "duplicates.edges" -> Duplicates.pairSimilarities(docs).count(),
      "dedup.candidate_pairs" ->
        Dedup.lshBucketStats(docs).agg(sum("candidate_pairs")).head().getLong(0))
  }

  def checks(r: Runner): Seq[Map[String, Any]] = {
    val spark = r.spark
    val docsDir = s"$out/docs"
    val ingest = check("ingest_write", "normalized", IngestSql.ingestNormalizeSql(s"$inputs/export"),
      Map.empty, Seq.empty) {
      val m = spark.read.parquet(s"$out/normalized/messages")
      val c = spark.read.parquet(s"$out/normalized/conversations")
      m.join(c, m("conversation_id") === c("id")).select(c("platform"), m("conversation_id"),
        c("title"), c("created_at").as("conv_created_at"), c("updated_at").as("conv_updated_at"),
        c("account_id"), m("id").as("msg_id"), m("parent_id"), m("sender"), m("role"),
        m("content"), m("created_at").as("msg_created_at"), m("model"), m("order_index"))
    }
    val results = spark.read.parquet(s"$out/results")
    // The p1/p1b oracles replay TextRank as a recursive closure and take
    // tens of minutes, so the pipeline is checked by invariants instead.
    val pipeline = invariants("process_and_write", Seq.empty) {
      val n = results.count()
      val unique = Duplicates.uniqueDocuments(Tables.documents(spark, docsDir)).count()
      val row = results.agg(min("relevance_score"), max("relevance_score"),
        min("priority_score"), max("priority_score"), countDistinct("doc_id"),
        count(when(col("summary").isNull, 1))).head()
      val levels = results.select("priority_level").distinct().collect().map(_.getString(0)).toSet
      val allowed = Set("CRITICAL", "HIGH", "MEDIUM", "LOW", "NONE")
      def in01(i: Int) = !row.isNullAt(i) && row.getDouble(i) >= 0.0 && row.getDouble(i) <= 1.0
      Seq(
        ("rows_equal_unique_documents", n == unique && n > 0, s"rows=$n unique=$unique"),
        ("doc_ids_distinct", row.getLong(4) == n, s"distinct=${row.getLong(4)} rows=$n"),
        ("relevance_in_unit_interval", in01(0) && in01(1), s"[${row.get(0)}, ${row.get(1)}]"),
        ("priority_in_unit_interval", in01(2) && in01(3), s"[${row.get(2)}, ${row.get(3)}]"),
        ("priority_levels_allowed", levels.subsetOf(allowed), levels.mkString(",")),
        ("summaries_present", row.getLong(5) == 0L, s"null summaries=${row.getLong(5)}"))
    }
    val stats = invariants("statistics", timedRows(r, "statistics")) {
      val s = Pipeline.statistics(results).head()
      val n = results.count()
      Seq(
        ("n_documents_equals_results", s.getLong(0) == n, s"n_documents=${s.getLong(0)} rows=$n"),
        ("min_le_avg_le_max", s.getDouble(1) >= s.getDouble(2) && s.getDouble(1) <= s.getDouble(3),
          s"avg=${s.getDouble(1)} min=${s.getDouble(2)} max=${s.getDouble(3)}"))
    }
    // a seeded sample of the Dedup steps: re-running all seven costs about
    // as much as the timed job itself
    val sampled = new scala.util.Random(seed).shuffle(dedupSteps).take(ExportPipeline.CheckedDedupSteps)
    val dedup = sampled.map { case (kind, _, f) =>
      check(kind, kind, dedupOracles(kind), Map("documents" -> s"$docsDir/documents.parquet"),
        timedRows(r, kind))(f(spark, docsDir))
    }
    Seq(ingest, pipeline, stats) ++ dedup
  }
}

object ExportPipeline {
  /** Jobs a run measures at least, so its figures are medians over jobs. */
  val MinJobs = 3
  val CheckedDedupSteps = 3
}
