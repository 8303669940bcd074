package org.apache.spark.sql.graftext

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Session-extension entry point: makes the engine's native expressions
  * available to pure SQL. Configure cluster-wide with
  * `spark.sql.extensions=org.apache.spark.sql.graftext.GraftExtensions`,
  * or call [[GraftFunctions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsofJoin)
  }
}

object GraftFunctions {

  /** Model parameters (hash seeds, widths, primes) arrive in SQL as
    * literal arguments; the builders fold them at resolution time so the
    * expressions carry plain JVM values, same as the Column API.
    */
  private def foldableLong(e: Expression, fn: String, arg: String): Long = {
    require(e.foldable, s"$fn: $arg must be a literal")
    e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case other   => throw new IllegalArgumentException(
        s"$fn: $arg must be an integral literal, got $other")
    }
  }

  /** Like [[foldableLong]], integer literals widen: `array(1, 2)` in SQL
    * is `array<int>`, and `ArrayData.toLongArray` would die on it with a
    * bare ClassCastException — the element type must drive the read.
    */
  private def foldableLongArray(e: Expression, fn: String, arg: String): Array[Long] = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, ShortType}
    require(e.foldable, s"$fn: $arg must be a literal array")
    (e.dataType, e.eval()) match {
      case (ArrayType(LongType, _), a: ArrayData)    => a.toLongArray()
      case (ArrayType(IntegerType, _), a: ArrayData) => a.toIntArray().map(_.toLong)
      case (ArrayType(ShortType, _), a: ArrayData)   => a.toShortArray().map(_.toLong)
      case (t, v) => throw new IllegalArgumentException(
        s"$fn: $arg must be an integral-array literal, got $v: $t")
    }
  }

  private def buildCosine(children: Seq[Expression]): Expression = {
    require(children.length == 2, "cosine_sim takes exactly 2 arguments")
    CosineSimilarityExpr(children.head, children(1))
  }

  private def buildSqDists(children: Seq[Expression]): Expression = {
    require(children.length == 2, "sq_dists takes exactly 2 arguments")
    SqDistsExpr(children.head, children(1))
  }

  private def buildMatDots(children: Seq[Expression]): Expression = {
    require(children.length == 2, "mat_dots takes exactly 2 arguments")
    MatDotsExpr(children.head, children(1))
  }

  private def buildMatCos(children: Seq[Expression]): Expression = {
    require(children.length == 2, "mat_cos takes exactly 2 arguments")
    MatCosExpr(children.head, children(1))
  }

  /** Thresholds arrive as numeric literals of any flavor; fold to double. */
  private def foldableDouble(e: Expression, fn: String, arg: String): Double = {
    require(e.foldable, s"$fn: $arg must be a literal")
    e.eval() match {
      case d: Double => d
      case f: Float  => f.toDouble
      case i: Int    => i.toDouble
      case l: Long   => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a numeric literal, got $other")
    }
  }

  private def buildMatCosStats(children: Seq[Expression]): Expression = {
    require(children.length == 3, "mat_cos_stats takes (v, mat, threshold)")
    MatCosStatsExpr(children.head, children(1),
      foldableDouble(children(2), "mat_cos_stats", "threshold"))
  }

  private def buildVecSub(children: Seq[Expression]): Expression = {
    require(children.length == 2, "vec_sub takes exactly 2 arguments")
    VecSubExpr(children.head, children(1))
  }

  private def buildShingleHashes(children: Seq[Expression]): Expression = {
    require(children.length == 2, "shingle_hashes takes (tokens, prime)")
    ShingleHashExpr(children.head, foldableLong(children(1), "shingle_hashes", "prime"))
  }

  private def buildWindowHashes(children: Seq[Expression]): Expression = {
    require(children.length == 3, "window_hashes takes (tokens, window, prime)")
    WindowHashExpr(children.head,
      foldableLong(children(1), "window_hashes", "window").toInt,
      foldableLong(children(2), "window_hashes", "prime"))
  }

  private def buildRollingFingerprint(children: Seq[Expression]): Expression = {
    require(children.length == 1, "rolling_fingerprint takes exactly 1 argument")
    RollingHashExpr(children.head)
  }

  private def buildSimhashSig(children: Seq[Expression]): Expression = {
    require(children.length == 2, "simhash_sig takes (hc, bits)")
    SimHashSigExpr(children.head, foldableLong(children(1), "simhash_sig", "bits").toInt)
  }

  private def buildMinhashSig(children: Seq[Expression]): Expression = {
    require(children.length == 4, "minhash_sig takes (hs, as, bs, prime)")
    MinHashSigExpr(children.head,
      foldableLongArray(children(1), "minhash_sig", "as"),
      foldableLongArray(children(2), "minhash_sig", "bs"),
      foldableLong(children(3), "minhash_sig", "prime"))
  }

  private def buildSetFilter(children: Seq[Expression]): Expression = {
    require(children.length == 3, "set_filter takes (arr, words, keep)")
    val words = children(1)
    require(words.foldable, "set_filter: words must be a literal array")
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val ws = (words.dataType, words.eval()) match {
      case (ArrayType(StringType, _), a: ArrayData) =>
        (0 until a.numElements()).map(i =>
          if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
      case (t, v) => throw new IllegalArgumentException(
        s"set_filter: words must be a string-array literal, got $v: $t")
    }
    val keep = children(2)
    require(keep.foldable, "set_filter: keep must be a boolean literal")
    SetFilterExpr(children.head, ws.filter(_ != null),
      keep.eval().asInstanceOf[Boolean])
  }

  private def buildNgramRepStats(children: Seq[Expression]): Expression = {
    require(children.length == 2, "ngram_rep_stats takes (tokens, n)")
    NgramRepStatsExpr(children.head,
      foldableLong(children(1), "ngram_rep_stats", "n").toInt)
  }

  private def buildSentencePairSims(children: Seq[Expression]): Expression = {
    require(children.length == 3,
      "sentence_pair_sims takes (text, pattern, stopwords)")
    val pat = children(1)
    require(pat.foldable, "sentence_pair_sims: pattern must be a literal")
    val words = children(2)
    require(words.foldable, "sentence_pair_sims: stopwords must be a literal array")
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val ws = (words.dataType, words.eval()) match {
      case (ArrayType(StringType, _), a: ArrayData) =>
        (0 until a.numElements()).flatMap(i =>
          if (a.isNullAt(i)) None else Some(a.getUTF8String(i).toString))
      case (t, v) => throw new IllegalArgumentException(
        s"sentence_pair_sims: stopwords must be a string-array literal, got $v: $t")
    }
    SentencePairSimsExpr(children.head, pat.eval().toString, ws)
  }

  private def foldableStringArray(e: Expression, fn: String,
                                  arg: String): Seq[String] = {
    require(e.foldable, s"$fn: $arg must be a literal string array")
    import org.apache.spark.sql.types.{ArrayType, StringType}
    (e.dataType, e.eval()) match {
      case (ArrayType(StringType, _), a: ArrayData) =>
        (0 until a.numElements()).map { i =>
          require(!a.isNullAt(i), s"$fn: $arg must not contain nulls")
          a.getUTF8String(i).toString
        }
      case (t, v) => throw new IllegalArgumentException(
        s"$fn: $arg must be a string-array literal, got $v: $t")
    }
  }

  private def foldableDoubleArray(e: Expression, fn: String,
                                  arg: String): Seq[Double] = {
    require(e.foldable, s"$fn: $arg must be a literal double array")
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    (e.dataType, e.eval()) match {
      case (ArrayType(DoubleType, _), a: ArrayData) =>
        (0 until a.numElements()).map { i =>
          require(!a.isNullAt(i), s"$fn: $arg must not contain nulls")
          a.getDouble(i)
        }
      case (t, v) => throw new IllegalArgumentException(
        s"$fn: $arg must be a double-array literal, got $v: $t")
    }
  }

  private def buildBpeSegment(children: Seq[Expression]): Expression = {
    require(children.length == 2, "bpe_segment takes (word, merges)")
    val flat = foldableStringArray(children(1), "bpe_segment", "merges")
    require(flat.length % 2 == 0,
      "bpe_segment: merges must be a flat (left, right) pair array")
    BpeSegmentExpr(children.head, flat.grouped(2).map(p => (p(0), p(1))).toSeq)
  }

  private def buildWordpieceSegment(children: Seq[Expression]): Expression = {
    require(children.length == 3,
      "wordpiece_segment takes (word, vocab, max_len)")
    WordpieceSegmentExpr(children.head,
      foldableStringArray(children(1), "wordpiece_segment", "vocab"),
      foldableLong(children(2), "wordpiece_segment", "max_len").toInt)
  }

  private def buildUnigramViterbi(children: Seq[Expression]): Expression = {
    require(children.length == 4,
      "unigram_viterbi takes (word, pieces, logps, max_len)")
    val ps = foldableStringArray(children(1), "unigram_viterbi", "pieces")
    val lps = foldableDoubleArray(children(2), "unigram_viterbi", "logps")
    require(ps.length == lps.length, "unigram_viterbi: pieces/logps must align")
    UnigramViterbiExpr(children.head, ps, lps,
      foldableLong(children(3), "unigram_viterbi", "max_len").toInt)
  }

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  /** (name, info, builder) triple for `SparkSessionExtensions.injectFunction`. */
  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cosine_sim"),
      info(classOf[CosineSimilarityExpr], "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two array<double> vectors"),
      buildCosine)

  /** Every native-kernel descriptor the extensions class injects. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      cosineSimDescriptor,
      (FunctionIdentifier("sq_dists"),
        info(classOf[SqDistsExpr], "sq_dists",
          "sq_dists(v, cents) - squared L2 distance from v to each centroid row"),
        buildSqDists),
      (FunctionIdentifier("mat_dots"),
        info(classOf[MatDotsExpr], "mat_dots",
          "mat_dots(v, mat) - dot product of v with each matrix row"),
        buildMatDots),
      (FunctionIdentifier("mat_cos"),
        info(classOf[MatCosExpr], "mat_cos",
          "mat_cos(v, mat) - cosine similarity of v with each matrix row"),
        buildMatCos),
      (FunctionIdentifier("mat_cos_stats"),
        info(classOf[MatCosStatsExpr], "mat_cos_stats",
          "mat_cos_stats(v, mat, t) - struct(max_sim, n_close) of v vs matrix rows at threshold t"),
        buildMatCosStats),
      (FunctionIdentifier("vec_sub"),
        info(classOf[VecSubExpr], "vec_sub",
          "vec_sub(a, b) - elementwise a - b over two array<double> vectors"),
        buildVecSub),
      (FunctionIdentifier("shingle_hashes"),
        info(classOf[ShingleHashExpr], "shingle_hashes",
          "shingle_hashes(tokens, prime) - 60-bit md5 hashes of 3-token shingles (prime=0: raw)"),
        buildShingleHashes),
      (FunctionIdentifier("window_hashes"),
        info(classOf[WindowHashExpr], "window_hashes",
          "window_hashes(tokens, window, prime) - 60-bit md5 hash per K-token window start"),
        buildWindowHashes),
      (FunctionIdentifier("rolling_fingerprint"),
        info(classOf[RollingHashExpr], "rolling_fingerprint",
          "rolling_fingerprint(tokens) - rolling polynomial hash over md5-60 token hashes"),
        buildRollingFingerprint),
      (FunctionIdentifier("simhash_sig"),
        info(classOf[SimHashSigExpr], "simhash_sig",
          "simhash_sig(hc, bits) - SimHash fingerprint of array<struct<h,cnt>> token hashes"),
        buildSimhashSig),
      (FunctionIdentifier("minhash_sig"),
        info(classOf[MinHashSigExpr], "minhash_sig",
          "minhash_sig(hs, as, bs, prime) - MinHash signature of an array<bigint> hash set"),
        buildMinhashSig),
      (FunctionIdentifier("set_filter"),
        info(classOf[SetFilterExpr], "set_filter",
          "set_filter(arr, words, keep) - elements of arr (not) in the literal word set"),
        buildSetFilter),
      (FunctionIdentifier("ngram_rep_stats"),
        info(classOf[NgramRepStatsExpr], "ngram_rep_stats",
          "ngram_rep_stats(tokens, n) - struct(n_grams, top_cnt, n_distinct) of the n-grams"),
        buildNgramRepStats),
      (FunctionIdentifier("sentence_pair_sims"),
        info(classOf[SentencePairSimsExpr], "sentence_pair_sims",
          "sentence_pair_sims(text, pattern, stopwords) - array<struct<i,j,sim>> of co-tokened sentence pairs"),
        buildSentencePairSims),
      (FunctionIdentifier("bpe_segment"),
        info(classOf[BpeSegmentExpr], "bpe_segment",
          "bpe_segment(word, merges) - BPE pieces of word under the flat (left,right) merge array"),
        buildBpeSegment),
      (FunctionIdentifier("wordpiece_segment"),
        info(classOf[WordpieceSegmentExpr], "wordpiece_segment",
          "wordpiece_segment(word, vocab, max_len) - greedy longest-match pieces of word"),
        buildWordpieceSegment),
      (FunctionIdentifier("unigram_viterbi"),
        info(classOf[UnigramViterbiExpr], "unigram_viterbi",
          "unigram_viterbi(word, pieces, logps, max_len) - struct(n_pieces, score, pieces) of the Viterbi segmentation"),
        buildUnigramViterbi))

  /** Register on an already-built session (temp functions, session-scoped).
    * Names the registry already holds are skipped: repeat calls log no
    * "replaced a previously registered function" warning.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, _, builder) =>
      if (!registry.functionExists(ident))
        registry.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }
}
