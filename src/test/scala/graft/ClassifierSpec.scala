package graft

import graft.operators.{Caches, Classifier}
import org.apache.spark.sql.functions._

/** Hashed-feature logistic regression: the distillation task is actually
  * learned, training is deterministic across partitionings, and the output
  * contract holds.
  */
class ClassifierSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)

  test("quality distillation beats the majority base rate") {
    val out = Classifier.qualityDistill(docs)
      .select("y", "pred").as[(Long, Long)].collect()
    assert(out.length == docs.count())
    val base = math.max(out.count(_._1 == 1L), out.count(_._1 == 0L)).toDouble / out.length
    val acc = out.count(r => r._1 == r._2).toDouble / out.length
    assert(acc > base + 0.1,
      s"classifier should clearly beat the $base majority rate, got $acc")
  }

  test("training is invariant to input partitioning (determinism contract)") {
    val labels = Caches.shared(Classifier.lmLabels(docs))
    val w3 = Classifier.train(docs.repartition(3), labels)
    val w11 = Classifier.train(docs.repartition(11), labels)
    assert(w3.toSeq == w11.toSeq,
      "8-dp-rounded weight updates must absorb partition-order float wobble")
    assert(w3.exists(_ != 0.0), "training must actually move the weights")
  }

  test("fused tree-aggregate gradient equals the relational two-shuffle path") {
    val labels = Caches.shared(Classifier.lmLabels(docs))
    val fused = Classifier.train(docs, labels)
    val relational = Classifier.trainShuffled(docs, labels)
    assert(fused.toSeq == relational.toSeq,
      "8-dp-rounded updates must make the fused partial-gradient sum and " +
        "the relational groupBy-bucket sum produce identical weights")
  }

  test("probabilities lie in (0,1) and the margin decides the prediction") {
    val rows = Classifier.qualityDistill(docs)
      .select("prob", "pred").as[(Double, Long)].collect()
    assert(rows.forall { case (p, _) => p > 0.0 && p < 1.0 })
    // away from the rounded 0.5 boundary, pred must agree with prob
    rows.filter { case (p, _) => math.abs(p - 0.5) > 1e-5 }.foreach {
      case (p, pred) => assert((p > 0.5) == (pred == 1L))
    }
  }

  test("median-cut labels equal the ntile cut on the corpus (x39b ≡ x39)") {
    val scored = graft.operators.TextQuality.unigramLogprob(docs)
      .select("doc_id", "mean_logprob").as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }
    // the agreement property's precondition: the values straddling the
    // ntile boundary (top ⌈n/2⌉ vs the rest) are distinct on this corpus
    val k = (scored.length + 1) / 2
    assert(scored(k - 1)._2 != scored(k)._2,
      "fixture corpus must have distinct scores at the median boundary")
    val ntile = Classifier.lmLabels(docs).as[(Long, Double)].collect().toMap
    val cut = Classifier.lmLabelsQuantile(docs).as[(Long, Double)].collect().toMap
    assert(cut == ntile,
      "broadcast-threshold labels must equal the ntile cut when the median " +
        "boundary values are distinct")
  }

  test("median cut agrees with ntile at both parities; median ties keep the run") {
    def ntileRule(ids: Seq[Long], sc: Seq[(Long, Double)]): Map[Long, Double] = {
      val top = sc.sortBy { case (id, s) => (-s, id) }
        .take((sc.length + 1) / 2).map(_._1).toSet
      ids.map(id => id -> (if (top(id)) 1.0 else 0.0)).toMap
    }
    def cut(ids: Seq[Long], sc: Seq[(Long, Double)]): Map[Long, Double] =
      Classifier.medianCutLabels(ids.toDF("doc_id"),
          sc.toDF("doc_id", "mean_logprob"))
        .as[(Long, Double)].collect().toMap
    // 6L is unscored (a zero-token doc): label 0 on both paths
    val even = Seq(1L -> -1.5, 2L -> -2.25, 3L -> -3.0, 4L -> -4.5)
    val odd = even :+ (5L -> -5.125)
    val evenIds = even.map(_._1) :+ 6L
    val oddIds = odd.map(_._1) :+ 6L
    assert(cut(evenIds, even) == ntileRule(evenIds, even),
      "even n: T falls strictly between the distinct middle pair")
    assert(cut(oddIds, odd) == ntileRule(oddIds, odd),
      "odd n: T equals the middle value, which both paths label 1")
    // ties AT the median: the threshold keeps the whole tied run (equal
    // scores get equal labels), where ntile would split the run by doc_id
    val tied = Seq(1L -> -1.0, 2L -> -2.0, 3L -> -2.0, 4L -> -4.0)
    assert(cut(tied.map(_._1), tied) ==
      Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.0))
  }

  test("trained-weights memo serves repeat distillations bit-identically") {
    // file-backed corpus → memoizable key; first call may train or hit a
    // memo warmed by an earlier test — either way the SECOND call must be
    // a pure memo hit (no GD run) and produce the identical output
    val first = Classifier.qualityDistill(docs)
      .orderBy("doc_id").collect().toSeq
    val runsBefore = Classifier.weightsMemo.misses
    val second = Classifier.qualityDistill(docs)
      .orderBy("doc_id").collect().toSeq
    assert(Classifier.weightsMemo.misses == runsBefore,
      "second distillation on an unchanged corpus must not retrain")
    assert(second == first,
      "memoized weights must reproduce the trained output exactly")
  }

  test("zero-token documents still score via the bias feature") {
    val mixed = Seq((0L, "alpha beta gamma delta epsilon words enough here"),
      (1L, ""), (2L, "12 34 !!")).toDF("doc_id", "text")
    val labels = Seq((0L, 1.0), (1L, 0.0), (2L, 0.0)).toDF("doc_id", "y")
    val out = Classifier.classify(mixed, labels, Classifier.train(mixed, labels))
    assert(out.count() == 3, "token-less docs must not drop out of scoring")
  }
}
