package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) Viterbi segmentation (Kudo 2018,
  * "Subword Regularization") — the third member of the tokenizer family:
  * BPE segments by learned merges (x46/x48), WordPiece by greedy longest
  * match (x72/x73); the unigram LM picks, per word, the segmentation
  * maximizing Σ ln p(piece) under a piece probability model — the global
  * optimum greedy matching only approximates. The model here is the
  * frequency-seeded distribution over [[Wordpiece.pieceVocab]] (the
  * paper's EM refinement starts from exactly this seed; one Viterbi
  * E-step is the deterministic, oracle-checkable core).
  *
  * Spark-first shape: the model is piece→ln(freq/total) — a
  * vocabulary-sized frame; each WORD (the Zipf-compressed table, never
  * the token stream) carries a map of its in-vocab substrings' log-probs
  * and runs the O(len·maxLen) Viterbi DP as one `aggregate` fold in
  * whole-stage codegen. Documents join the solved vocabulary on the word
  * key — x48's narrow equi-join.
  *
  * Determinism: scores on both engines are the same doubles (identical
  * arithmetic per path), so argmax comparisons agree exactly; ties break
  * to the FEWEST pieces (score DESC, n ASC), pinned on both sides. Words
  * longer than [[MaxWordLen]] are excluded on both sides (the oracle
  * unrolls the DP; natural-language tokens beyond 24 chars are the noise
  * quality filters drop anyway).
  */
object UnigramLm {

  val MaxWordLen = 24

  /** Piece log-probabilities over the WordPiece vocabulary:
    * ln(freq / Σfreq), full precision (rounding happens only at output).
    */
  def pieceLogProbs(docs: DataFrame,
                    vocabSize: Int = Wordpiece.DefaultVocab,
                    maxLen: Int = Wordpiece.MaxPieceLen): DataFrame = {
    val vocab = Wordpiece.pieceVocab(docs, vocabSize, maxLen)
    val total = vocab.agg(sum("freq").as("total"))
    vocab.crossJoin(broadcast(total))
      .select(col("piece"),
        log(col("freq").cast("double") / col("total")).as("logp"))
  }

  /** `(word, cnt, m)` rows: each word's map over its distinct in-vocab
    * substrings → logp, under the given model frame.
    */
  private def wordMaps(words: DataFrame, lp: DataFrame, maxLen: Int): DataFrame =
    words.join(
      words.select(col("word"),
          explode(array_distinct(Wordpiece.substringsOf(col("word"), maxLen)))
            .as("piece"))
        .join(lp, "piece")
        .groupBy("word")
        .agg(map_from_entries(collect_list(struct(col("piece"), col("logp"))))
          .as("m")),
      "word")

  /** The Viterbi DP as a column expression over (`word`, `m`): the value
    * is the full dp array, `dp[j+1]` = best `(score, −n_pieces)` for the
    * first j characters. Struct max is lexicographic, so (score, negn)
    * DESC = score first, then FEWEST pieces.
    */
  private def dpExpr(maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0.0d).as("score"), lit(0).as("negn"))),
      (acc, i) => {
        val cands = transform(
          filter(sequence(lit(1), least(lit(maxLen), i)), l =>
            element_at(col("m"), col("word").substr(i - l + 1, l)).isNotNull),
          l => struct(
            (element_at(acc, i - l + 1)("score") +
              element_at(col("m"), col("word").substr(i - l + 1, l)))
              .as("score"),
            (element_at(acc, i - l + 1)("negn") - 1).as("negn")))
        // −1e18 sentinel = "unreachable prefix": under a RESTRICTED model
        // (the EM-recounted vocabulary drops unused pieces) some prefixes
        // have no decomposition; the sentinel loses every comparison a
        // real candidate enters, mirroring the oracle's relational
        // absence-of-row. Under the seeded model (chars always present)
        // it never fires.
        concat(acc, array(coalesce(array_max(cands),
          struct(lit(-1.0e18).as("score"), lit(0).as("negn")))))
      })

  /** Per-word Viterbi solution under an arbitrary `(piece, logp)` model:
    * `(word, cnt, n_pieces, score)`.
    */
  private[graft] def viterbiFromModel(words: DataFrame, lp: DataFrame,
                                          maxLen: Int): DataFrame =
    wordMaps(words, lp, maxLen)
      .withColumn("fin", element_at(dpExpr(maxLen), length(col("word")) + 1))
      .select(col("word"), col("cnt"),
        (-col("fin")("negn")).cast("long").as("n_pieces"),
        col("fin")("score").as("score"))

  /** Per-word Viterbi solution: `(word, cnt, n_pieces, score)`. */
  def viterbiWords(docs: DataFrame,
                   vocabSize: Int = Wordpiece.DefaultVocab,
                   maxLen: Int = Wordpiece.MaxPieceLen): DataFrame =
    viterbiFromModel(
      Bpe.wordTable(docs).where(length(col("word")) <= MaxWordLen),
      pieceLogProbs(docs, vocabSize, maxLen), maxLen)

  /** Session-scoped memo of the collected seeded model (piece → logp) —
    * the Viterbi kernel's reference object; [[Bpe]]'s merge-memo recipe.
    * The logp doubles are COLLECTED from the [[pieceLogProbs]] frame, not
    * recomputed driver-side, so the kernel adds the exact bits the
    * relational arm adds.
    */
  private val modelMemo = new Caches.Memo[Seq[(String, Double)]](8)

  private def collectModel(lp: DataFrame): Seq[(String, Double)] = {
    import lp.sparkSession.implicits._
    lp.as[(String, Double)].collect().toSeq.sortBy(_._1)
  }

  /** The seeded model as a sorted driver-side `Seq` (model-sized: vocab +
    * char backstop), memoized per corpus fingerprint.
    */
  def modelSeq(docs: DataFrame,
               vocabSize: Int = Wordpiece.DefaultVocab,
               maxLen: Int = Wordpiece.MaxPieceLen): Seq[(String, Double)] = {
    modelMemo.getOrElseUpdate(Caches.memoKey(docs, s"ug=$vocabSize,$maxLen"))(
      collectModel(pieceLogProbs(docs, vocabSize, maxLen)))
  }

  /** [[viterbiFromModel]] via the fused DP kernel: `(word, cnt, v)` where
    * `v = struct(n_pieces, score, pieces)`; null-`v` words (no in-vocab
    * substring) are dropped like the relational arm's inner join.
    */
  private def viterbiFused(words: DataFrame, model: Seq[(String, Double)],
                           maxLen: Int): DataFrame =
    // shared-cached (r14): the seeded-model pass is consumed by x74's
    // per-doc stats, x75's bake-off, and TWICE by x80's EM step (the
    // E-step recount and the iteration-0 summary) — one vocabulary-sized
    // DP pass per (corpus, model); distinct models (x80's re-estimated
    // iteration 1) get their own entries
    Caches.shared(words.select(col("word"), col("cnt"),
        org.apache.spark.sql.graftext.UnigramViterbiExpr
          .unigramViterbi(col("word"), model, maxLen).as("v"))
      .where(col("v").isNotNull))

  /** The Viterbi-optimal PIECES per word: the backwalk over the dp array.
    * From consumed length p, take the SMALLEST l whose candidate
    * (dp[p−l].score + logp, dp[p−l].negn − 1) equals dp[p] exactly —
    * double equality is exact because the winner's value IS that very
    * expression; smallest-l is the pinned tie-break when several
    * candidates tie bit-for-bit. Emits `(word, cnt, piece)` rows in
    * segmentation order multiplicity.
    */
  private[graft] def viterbiPieces(words: DataFrame, lp: DataFrame,
                                       maxLen: Int): DataFrame = {
    val dpCol = dpExpr(maxLen)
    val walk = aggregate(
      sequence(lit(1), length(col("word"))),
      struct(length(col("word")).as("pos"),
        array().cast("array<int>").as("lens")),
      (acc, _) => {
        val p = acc("pos")
        val fits = filter(sequence(lit(1), least(lit(maxLen), p)), l => {
          val sub = col("word").substr(p - l + 1, l)
          val prev = element_at(col("dp"), p - l + 1)
          val cur = element_at(col("dp"), p + 1)
          element_at(col("m"), sub).isNotNull &&
            (prev("score") + element_at(col("m"), sub) === cur("score")) &&
            (prev("negn") - 1 === cur("negn"))
        })
        when(p <= 0, acc).otherwise(
          struct((p - element_at(fits, 1)).as("pos"),
            concat(acc("lens"), array(element_at(fits, 1))).as("lens")))
      })
    wordMaps(words, lp, maxLen)
      .withColumn("dp", dpCol)
      .withColumn("lens", reverse(walk("lens"))) // walk goes right-to-left
      .select(col("word"), col("cnt"),
        explode(
          // prefix-sum the lengths into (start, len) slices of the word
          transform(sequence(lit(1), size(col("lens"))), k =>
            col("word").substr(
              aggregate(slice(col("lens"), lit(1), k - 1), lit(1), (a, x) => a + x),
              element_at(col("lens"), k)))).as("piece"))
  }

  /** x74: per-document stats under the Viterbi tokenizer — x48/x73's
    * (n_words, n_subwords, fertility) shape plus the mean per-word
    * segmentation log-likelihood.
    */
  def segmentCorpus(docs: DataFrame,
                    vocabSize: Int = Wordpiece.DefaultVocab,
                    maxLen: Int = Wordpiece.MaxPieceLen): DataFrame = {
    // the DP runs as the fused kernel (one O(len·maxLen) array pass per
    // vocabulary word) instead of the interpreted dpExpr fold —
    // spec-pinned equal (UnigramLmSpec); [[viterbiWords]] stays as the
    // relational reference arm
    val solved = viterbiFused(
        Bpe.wordTable(docs).where(length(col("word")) <= MaxWordLen),
        modelSeq(docs, vocabSize, maxLen), maxLen)
      .select(col("word"), col("v.n_pieces").as("n_pieces"),
        col("v.score").as("score"))
    // shared-cached (r14): x74 emits this frame and x75's bake-off
    // aggregates the canonically equal plan (the model is memoized)
    Caches.shared(
      docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
        .where(length(col("word")) <= MaxWordLen)
        .join(solved, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subwords"),
          sum("score").as("sumscore"))
        .select(col("doc_id"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("sumscore") / col("n_words"), 6).as("avg_logprob")))
  }

  def qUnigramViterbi(spark: SparkSession, sfDir: String): DataFrame =
    segmentCorpus(Tables.documents(spark, sfDir))

  /** One hard-EM refinement step (x80) — the full SentencePiece training
    * move: Viterbi-segment the corpus under the seeded model (E-step),
    * recount piece frequencies over the optimal segmentations weighted by
    * word counts, re-estimate the model as the counted-piece MLE
    * (M-step — pieces the optimal segmentations never use leave the
    * vocabulary, exactly the paper's pruning), and re-segment. Reports
    * one row per iteration with corpus totals and the total Viterbi
    * log-likelihood; hard-EM guarantees the likelihood is non-decreasing
    * (each word can at worst keep its previous segmentation, whose
    * likelihood the MLE re-estimate can only improve).
    *
    * Scale shape: everything runs on the Zipf-compressed word table —
    * the backwalk is one more per-word fold, the recount a piece-keyed
    * aggregation, the second Viterbi the same vocabulary-sized pass.
    */
  def emStep(docs: DataFrame,
             vocabSize: Int = Wordpiece.DefaultVocab,
             maxLen: Int = Wordpiece.MaxPieceLen): DataFrame = {
    val words = Bpe.wordTable(docs).where(length(col("word")) <= MaxWordLen)
    // both Viterbi passes and the E-step backwalk ride the fused kernel;
    // the re-estimated model's logp doubles are COLLECTED from the same
    // Spark `log` the relational arm joins against (lp1 is per-call
    // derived state, deliberately not memoized). The kernel's null
    // `pieces` (unreachable under the RESTRICTED model) drop in the
    // explode exactly like the arm's null backwalk.
    val model0 = modelSeq(docs, vocabSize, maxLen)
    val counted = viterbiFused(words, model0, maxLen)
      .select(col("cnt"), explode(col("v.pieces")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("freq"))
    val tot = counted.agg(sum("freq").as("total"))
    val lp1 = counted.crossJoin(broadcast(tot))
      .select(col("piece"),
        log(col("freq").cast("double") / col("total")).as("logp"))
    def summarize(iter: Int, solved: DataFrame): DataFrame =
      solved.agg(sum("cnt").as("nw"),
          sum(col("cnt") * col("v.n_pieces")).as("ns"),
          sum(col("cnt") * col("v.score")).as("ll"))
        .select(lit(iter.toLong).as("iteration"),
          col("nw").as("n_words"), col("ns").as("n_subwords"),
          round(col("ns").cast("double") / col("nw"), 6).as("fertility"),
          round(col("ll"), 4).as("total_loglik"))
    summarize(0, viterbiFused(words, model0, maxLen))
      .unionByName(summarize(1, viterbiFused(words, collectModel(lp1), maxLen)))
  }

  def qEmStep(spark: SparkSession, sfDir: String): DataFrame =
    emStep(Tables.documents(spark, sfDir))

  /** x75: the tokenizer bake-off — one row per tokenizer (BPE, WordPiece,
    * unigram-LM) with corpus-level word/subword totals and global
    * fertility, i.e. the table a pipeline owner reads to pick the
    * tokenizer before a training run commits to one. Composes the three
    * already-oracle-checked segmenters; each rides its own
    * vocabulary-sized training and the same narrow word-keyed document
    * join, so the report costs no more than its parts.
    */
  def tokenizerReport(docs: DataFrame): DataFrame = {
    def summarize(name: String, perDoc: DataFrame): DataFrame =
      perDoc.agg(sum("n_words").as("nw"), sum("n_subwords").as("ns"))
        .select(lit(name).as("tokenizer"),
          col("nw").as("n_words"), col("ns").as("n_subwords"),
          round(col("ns").cast("double") / col("nw"), 6).as("fertility"))
    summarize("bpe", Bpe.segmentCorpus(docs))
      .unionByName(summarize("wordpiece", Wordpiece.segmentCorpus(docs)))
      .unionByName(summarize("unigram", segmentCorpus(docs)))
  }

  def qTokenizerReport(spark: SparkSession, sfDir: String): DataFrame =
    tokenizerReport(Tables.documents(spark, sfDir))
}
