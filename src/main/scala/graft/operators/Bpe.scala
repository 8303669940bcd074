package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge-pair learning (Sennrich, Haddow & Birch 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — tokenizer training as
  * corpus aggregation. Each iteration counts adjacent symbol pairs over the
  * word-frequency table, merges the most frequent pair everywhere, and
  * records it; the learned merge list IS a tokenizer (apply the merges in
  * rank order to segment unseen text).
  *
  * Spark-first shape: training runs on the *word-frequency table* (distinct
  * word, count), never the token stream — at corpus scale that is the
  * Zipf-compressed vocabulary, built by one hash aggregation over the scan.
  * Every iteration is then a pair-count aggregation plus a projection over
  * the vocabulary frame; only the 1-row argmax reaches the driver (the same
  * k-small-rows-per-iteration contract as the Lloyd trainer), and
  * `localCheckpoint` truncates lineage so the plan shape — and therefore
  * the generated code — is iteration-invariant and compiles once (the x39
  * lesson: carry per-iteration state in a broadcast frame, not literals).
  *
  * Determinism (the oracle contract): symbols live in a double-space-
  * separated string, and a merge pass is a position-aware left-to-right
  * fold over the split symbol array ([[mergePass]]) — anchored to whole
  * symbols, so a merge (a, b) never fires when `a` is merely a suffix of
  * the preceding symbol (a raw substring replace would corrupt
  * "th  e" + (h, e) into "the"; true BPE leaves it). The DuckDB oracle
  * runs the identical fold via `list_reduce`. Argmax ties break on the
  * pair's byte order, identical in Spark and DuckDB for this ASCII corpus.
  */
object Bpe {

  /** End-of-word marker symbol (the classic `</w>`), so merges cannot cross
    * word boundaries and word-final units stay distinct from prefixes.
    */
  val Eow = "</w>"

  /** Symbol separator inside the state string (two spaces, kept from the
    * original substring-replace formulation for dump stability; symbols
    * themselves never contain whitespace).
    */
  val Sep = "  "

  /** One BPE merge pass, position-aware: split `sym` into its symbol
    * array and fold left-to-right, appending each symbol `x` to the
    * accumulator WITHOUT a separator iff the accumulator's last whole
    * symbol equals `a` and `x` equals `b` — the greedy non-overlapping
    * merge of Sennrich 2016 (a just-merged symbol can never act as the
    * left side again within the same pass, since a||b ≠ a). Anchoring to
    * whole-symbol boundaries is the point: an unanchored
    * `replace(sym, a||Sep||b, a||b)` also fires when `a` is a proper
    * suffix of the preceding symbol ("th  e" + (h,e) → "the"), silently
    * corrupting the merge table on realistic corpora. The DuckDB oracle
    * ([[graft.oracles.TrainSql.bpeMergesSql]]) runs the identical fold
    * via `list_reduce`.
    */
  private[graft] def mergePass(sym: Column, a: Column, b: Column): Column =
    aggregate(split(sym, Sep), lit(""),
      (acc, x) => when(acc === "", x)
        .when(x === b && (acc === a || acc.endsWith(concat(lit(Sep), a))),
          concat(acc, x))
        .otherwise(concat(acc, lit(Sep), x)))

  /** Word-frequency table: one hash aggregation over the token stream. */
  def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbolization: characters joined by [[Sep]] plus the [[Eow]]
    * marker — `"the"` becomes `"t  h  e  </w>"`.
    */
  private[graft] def initState(words: DataFrame): DataFrame =
    words.select(col("word"), col("cnt"),
      concat(
        concat_ws(Sep, transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))),
        lit(Sep + Eow)).as("sym"))

  /** Adjacent-pair counts over the current state, weighted by word count
    * (overlapping occurrences both count, like the original Counter over
    * `zip(symbols, symbols[1:])`).
    */
  private[graft] def pairCounts(state: DataFrame): DataFrame =
    state.select(col("cnt"), split(col("sym"), Sep).as("syms"))
      .select(col("cnt"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1), i =>
          struct(element_at(col("syms"), i).as("a"),
                 element_at(col("syms"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("pair_count"))

  /** Session-scoped memo of learned merge tables, keyed by the corpus
    * plan + file fingerprint + numMerges ([[Caches.planMemoKey]] — the
    * kernel/edge-memo recipe). A tokenizer is trained ONCE and applied
    * everywhere; without the memo every x46/x48 invocation re-runs the
    * full 2·numMerges-job training chain on an unchanged corpus. The
    * memoized value is the tiny driver-side merge list (numMerges rows),
    * model-sized derived state a long-lived service holds resident.
    */
  private val mergeMemo = new Caches.Memo[Seq[(Long, String, String, Long)]](8)

  /** Learn `numMerges` merges; returns (rank, merge_left, merge_right,
    * pair_count) in merge order. Stops early if the corpus runs out of
    * pairs (single-symbol words everywhere).
    */
  def learnMerges(docs: DataFrame, numMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val key = Caches.memoKey(docs, s"m=$numMerges")
    val hit = mergeMemo.get(key)
    if (hit.nonEmpty)
      return hit.get.toDF("rank", "merge_left", "merge_right", "pair_count")
    var state = Caches.checkpointed(initState(wordTable(docs)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (k <- 1 to numMerges if !exhausted) {
      val best = pairCounts(state)
        .orderBy(desc("pair_count"), asc("a"), asc("b")).limit(1)
        .as[(String, String, Long)].collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = best.head
        merges += ((k.toLong, a, b, c))
        // the merge pair rides in a broadcast 1-row frame, not literals, so
        // every iteration optimizes to the same plan shape (codegen once)
        val pair = broadcast(Seq((a, b)).toDF("ma", "mb"))
        val next = Caches.checkpointed(state.crossJoin(pair)
          .select(col("word"), col("cnt"),
            mergePass(col("sym"), col("ma"), col("mb")).as("sym")))
        Caches.releaseCheckpoint(state) // superseded iterate
        state = next
      }
    }
    // the merge list is collected — the final symbol state can go too
    Caches.releaseCheckpoint(state)
    mergeMemo.put(key, merges.toSeq).toDF("rank", "merge_left", "merge_right", "pair_count")
  }

  /** Segment `words` with an already-learned merge table: re-run the merges
    * in rank order over the symbol string (the standard BPE apply pass —
    * same [[mergePass]] fold, no counting). Merge symbols enter via
    * `lit(_)`, never string-interpolated SQL, so arbitrary caller-supplied
    * tokens (quotes, backslashes) are data, not syntax. Exposed for the
    * spec and as the serving-side half of the tokenizer.
    */
  def segment(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val init = words.select(col("word"),
      concat(
        concat_ws(Sep, transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))),
        lit(Sep + Eow)).as("sym"))
    val merged = merges.foldLeft(init) { case (st, (a, b)) =>
      st.withColumn("sym", mergePass(col("sym"), lit(a), lit(b)))
    }
    merged.select(col("word"), split(col("sym"), Sep).as("pieces"))
  }

  /** Tokenize-and-count the corpus with a learned BPE table — the serving
    * half of the tokenizer as a corpus operator. The expensive fold runs
    * once per *vocabulary word* (the Zipf-compressed table [[learnMerges]]
    * trains on), never per token: documents then join the segmented vocab
    * on the word key — at 100 TB that is one narrow equi-join keyed by
    * word against a vocab frame orders of magnitude smaller than the
    * token stream. Returns per-document
    * `(doc_id, n_words, n_subwords, fertility)`; fertility =
    * subwords-per-word, THE tokenizer-quality metric (rounded 6 dp — a
    * ratio of exact integers, so the rounding is engine-stable).
    */
  def segmentCorpus(docs: DataFrame, numMerges: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val merges = learnMerges(docs, numMerges)
      .select("merge_left", "merge_right").as[(String, String)].collect().toSeq
    val docWords = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("word"))
    // the apply pass runs as the fused kernel (one imperative merge scan
    // per vocabulary word) instead of [[segment]]'s interpreted
    // 10-pass HOF fold — spec-pinned equal (BpeSpec); [[segment]] stays
    // as the relational reference arm
    val segVocab = wordTable(docs).select(col("word"),
      size(org.apache.spark.sql.graftext.BpeSegmentExpr
        .bpeSegment(col("word"), merges)).cast("long").as("n_pieces"))
    // shared-cached (r14): x48 emits this frame and x75's bake-off
    // aggregates the canonically equal plan (the merge table is memoized,
    // so both invocations embed identical kernel literals)
    Caches.shared(docWords.join(segVocab, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("fertility")))
  }

  // --- query entries ---

  def qBpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    learnMerges(Tables.documents(spark, sfDir))

  def qBpeSegment(spark: SparkSession, sfDir: String): DataFrame =
    segmentCorpus(Tables.documents(spark, sfDir))
}
