package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece-style tokenizer: frequency-seeded piece vocabulary + greedy
  * longest-match segmentation (Schuster & Nakajima 2012; the serving-side
  * algorithm of BERT's tokenizer). Completes the tokenizer family next to
  * BPE (x46/x48): BPE derives its vocabulary from iterative pair merges,
  * WordPiece from substring frequencies, and its apply pass is the greedy
  * longest-prefix match — deliberately float-free (string/int algebra
  * only), which is what makes the whole trainer+tokenizer pair exactly
  * replicable in the DuckDB oracle.
  *
  * Spark-first shape (the x46 lesson): everything runs on the
  * Zipf-compressed word-frequency table, never the token stream. Vocab
  * seeding is one substring explode + hash aggregation; segmentation folds
  * once per VOCABULARY word and documents join the segmented vocab on the
  * word key — at 100 TB the fold cost is vocabulary-sized and the join is
  * the same narrow equi-join x48 rides.
  */
object Wordpiece {

  val DefaultVocab = 200
  val MaxPieceLen = 6

  /** Candidate piece vocabulary: every substring (length 1..maxLen) of
    * every vocabulary word, weighted by word count per occurrence
    * (overlaps count), top `vocabSize` by (freq DESC, piece ASC) — plus
    * every single character unconditionally, the WordPiece completeness
    * guarantee that greedy matching can always advance.
    * `in_top` marks the frequency-selected rows (false = char backstop).
    */
  def pieceVocab(docs: DataFrame, vocabSize: Int = DefaultVocab,
                 maxLen: Int = MaxPieceLen): DataFrame = {
    val words = Bpe.wordTable(docs)
    val subs = words.select(col("cnt"),
        explode(substringsOf(col("word"), maxLen)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("freq"))
    // top-N as orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    // never a single-partition global sort of the whole substring set —
    // the r14 scale fix; (freq, piece) is a total order so the cut is
    // identical to the former row_number window) and the char backstop as
    // an anti join against the vocab-sized top frame
    val top = subs.orderBy(desc("freq"), asc("piece")).limit(vocabSize)
      .select(col("piece"), col("freq"), lit(true).as("in_top"))
    val chars = subs.where(length(col("piece")) === 1)
      .join(broadcast(top.select("piece")), Seq("piece"), "left_anti")
      .select(col("piece"), col("freq"), lit(false).as("in_top"))
    top.unionByName(chars)
  }

  /** All substrings of `word` up to `maxLen`, with multiplicity. */
  private[operators] def substringsOf(word: org.apache.spark.sql.Column,
                                      maxLen: Int) =
    flatten(transform(sequence(lit(1), length(word)), start =>
      transform(sequence(lit(1), least(lit(maxLen), length(word) - start + 1)),
        len => word.substr(start, len))))

  /** Greedy longest-match segmentation of the word table against the
    * learned vocabulary. The fold's accumulator is the space-joined piece
    * string — the consumed position is derivable as its space-free length,
    * so the state stays a single string and the identical fold runs as a
    * DuckDB `list_reduce`. Each step consumes ≥ 1 character (single chars
    * are always in vocab), so `length(word)` iterations always finish.
    */
  def segmentWords(docs: DataFrame, vocabSize: Int = DefaultVocab,
                   maxLen: Int = MaxPieceLen): DataFrame = {
    val vocab = pieceVocab(docs, vocabSize, maxLen)
    val words = Bpe.wordTable(docs)
    // per word: the array of its substrings that are IN the vocabulary
    val wordSubs = words.select(col("word"),
        explode(array_distinct(substringsOf(col("word"), maxLen))).as("piece"))
      .join(vocab.select("piece"), "piece")
      .groupBy("word").agg(collect_set("piece").as("subs"))
    words.join(wordSubs, "word")
      .withColumn("acc",
        aggregate(sequence(lit(1), length(col("word"))), lit(""),
          (acc, _) => {
            val p = length(regexp_replace(acc, " ", ""))
            val rem = length(col("word")) - p
            val bestLen = element_at(
              filter(sequence(least(lit(maxLen), rem), lit(1), lit(-1)),
                l => array_contains(col("subs"), col("word").substr(p + 1, l))), 1)
            when(rem <= 0, acc).otherwise(
              concat(
                when(acc === "", lit("")).otherwise(concat(acc, lit(" "))),
                col("word").substr(p + 1, bestLen)))
          }))
      .select(col("word"), col("cnt"), split(col("acc"), " ").as("pieces"))
  }

  /** Session-scoped memo of the collected piece vocabulary (the kernel's
    * reference-object model), keyed like [[Bpe]]'s merge memo: the
    * vocabulary is model-sized (`vocabSize` + char backstop) derived
    * state a tokenizer service holds resident, and x73/x74/x75/x80 all
    * segment under the SAME seed on an unchanged corpus.
    */
  private val vocabMemo = new Caches.Memo[Seq[String]](8)

  /** The learned piece vocabulary collected to a sorted `Seq` — the model
    * argument of the greedy-match and Viterbi kernels.
    */
  def vocabPieces(docs: DataFrame, vocabSize: Int = DefaultVocab,
                  maxLen: Int = MaxPieceLen): Seq[String] = {
    import docs.sparkSession.implicits._
    vocabMemo.getOrElseUpdate(Caches.memoKey(docs, s"wp=$vocabSize,$maxLen")) {
      pieceVocab(docs, vocabSize, maxLen)
        .select("piece").as[String].collect().toSeq.sorted
    }
  }

  /** Per-document subword statistics under the WordPiece tokenizer —
    * x48's shape (n_words, n_subwords, fertility) so the two tokenizers'
    * quality metrics compare row-for-row. The greedy match runs as the
    * fused kernel (one hash-set-probing scan per vocabulary word) instead
    * of [[segmentWords]]'s interpreted fold — spec-pinned equal
    * (WordpieceSpec); [[segmentWords]] stays as the reference arm.
    */
  def segmentCorpus(docs: DataFrame, vocabSize: Int = DefaultVocab,
                    maxLen: Int = MaxPieceLen): DataFrame = {
    val segVocab = Bpe.wordTable(docs).select(col("word"),
      size(org.apache.spark.sql.graftext.WordpieceSegmentExpr
        .wordpieceSegment(col("word"), vocabPieces(docs, vocabSize, maxLen),
          maxLen)).cast("long").as("n_pieces"))
    // shared-cached (r14): x73 emits this frame and x75's bake-off
    // aggregates the canonically equal plan (the piece vocab is memoized)
    Caches.shared(
      docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
        .join(segVocab, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_subwords"))
        .select(col("doc_id"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility")))
  }

  def qWordpieceVocab(spark: SparkSession, sfDir: String): DataFrame =
    pieceVocab(Tables.documents(spark, sfDir))

  def qWordpieceSegment(spark: SparkSession, sfDir: String): DataFrame =
    segmentCorpus(Tables.documents(spark, sfDir))
}
