package graft

import graft.functions.TextFns
import graft.operators._
import org.apache.spark.sql.functions._

/** Invariants ported from the reference pytest suite (SURVEY.md §5,
  * FIXTURES.md §4).
  */
class NlpSpec extends SparkSpec {

  import spark.implicits._

  // --- tokenizer (tests/test_relevance_scorer.py tokenize cases) ---

  test("tokenize: lowercase, 3+ chars, stopwords removed, duplicates kept") {
    val toks = Seq(("x", "The machine and the Machine learning IS learning a joy ab"))
      .toDF("id", "text")
      .select(TextFns.tokens(col("text")).as("t")).as[Seq[String]].head()
    assert(toks == Seq("machine", "machine", "learning", "learning", "joy"))
  }

  // --- TF (tests/test_relevance_scorer.py:34-42 — max-norm exact values) ---

  test("max-norm TF: most frequent term = 1.0, half-frequency term = 0.5") {
    val docs = Seq((0L, "machine machine learning")).toDF("doc_id", "text")
    val tf = Relevance.tfMax(docs).select("token", "tf").as[(String, Double)].collect().toMap
    assert(tf("machine") == 1.0)
    assert(tf("learning") == 0.5)
  }

  // --- sum-norm TF (tests/test_duplicate_detector.py:26-34 — sums to 1) ---

  test("sum-norm TF vectors sum to 1.0 per document") {
    val sums = Duplicates.tfSum(sampleDocs)
      .groupBy("doc_id").agg(sum("tf").as("s")).select("s").as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
  }

  // --- IDF: log(N/(1+df)) ---

  test("IDF matches ln(N/(1+df))") {
    val idf = Relevance.idf(sampleDocs).select("token", "df", "idf")
      .as[(String, Long, Double)].collect()
    idf.foreach { case (_, df, v) =>
      assert(math.abs(v - math.log(6.0 / (1 + df))) < 1e-12)
    }
    // 'machine' appears in docs 0 and 5
    val m = idf.find(_._1 == "machine").get
    assert(m._2 == 2 && math.abs(m._3 - math.log(2.0)) < 1e-12)
  }

  // --- cosine (tests/test_duplicate_detector.py:36-51) ---

  test("cosine: identical docs ~1.0; the planted pair (0,5) is found") {
    val pairs = Duplicates.pairSimilarities(sampleDocs, threshold = 0.8)
      .select("id1", "id2", "sim").as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, s) => a == 0 && b == 5 && math.abs(s - 1.0) < 1e-6 })
  }

  test("cosine: disjoint docs do not appear in any pair at low threshold") {
    val docs = Seq((0L, "apple banana cherry"), (1L, "keyboard mouse monitor"))
      .toDF("doc_id", "text")
    assert(Duplicates.pairSimilarities(docs, threshold = 0.000001).count() == 0)
  }

  // --- clustering (tests/test_duplicate_detector.py:91-122) ---

  test("components: planted duplicates cluster together; unique count = n - dups") {
    val comp = Duplicates.components(sampleDocs).as[(Long, Long)].collect().toMap
    assert(comp(5L) == 0L && comp(0L) == 0L)
    val unique = Duplicates.uniqueDocuments(sampleDocs).as[Long].collect().sorted
    assert(unique.toSeq == Seq(0L, 1L, 2L, 3L, 4L)) // 6 docs - 1 duplicate
  }

  test("iterative components agree with union-find components") {
    val a = Duplicates.components(sampleDocs).as[(Long, Long)].collect().toMap
    val b = Duplicates.componentsIterative(sampleDocs).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("components auto-dispatch: an over-cap edge list routes to the " +
       "distributed path, never the driver collect") {
    // distinct plan (distinct doc set) so the edge memo from earlier tests
    // cannot short-circuit the dispatch decision. NEAR-duplicates with
    // distinct digests: byte-identical rows would collapse into one rep
    // (zero rep edges) and the cap could never bind.
    val docs = Seq(
      (100L, "zebra quokka wombat"), (101L, "zebra quokka wombat alpha"),
      (102L, "zebra quokka wombat bravo"), (103L, "falcon osprey heron"),
      (104L, "falcon osprey heron delta"), (105L, "lonely unmatched tokens")
    ).toDF("doc_id", "text")
    // cap 0 = every edge is over-cap: must dispatch iterative
    val (bigFrame, bigArm) = Duplicates.componentsWithArm(docs, maxCollectEdges = 0L)
    val big = bigFrame.as[(Long, Long)].collect().toMap
    assert(bigArm == "iterative")
    // default cap: small edge list collects, same labels either way
    val (smallFrame, smallArm) = Duplicates.componentsWithArm(docs)
    val small = smallFrame.as[(Long, Long)].collect().toMap
    assert(smallArm == "collect")
    assert(big == small)
    assert(big(101L) == 100L && big(104L) == 103L && big(105L) == 105L)
  }

  test("digest-first components equal the member-level graph — families " +
       "expand, zero-term families stay singletons") {
    // every regime at once: a 3-copy byte-identical family (100–102) with a
    // near-dup neighbor (103) in a separate digest family; a byte-identical
    // pair with ZERO tokens after filtering (200, 201 — '!!! ??' yields no
    // 3+-char word tokens, so the member-level graph has no edge between
    // them); the fixture corpus with its planted exact duplicate
    val extra = Seq(
      (100L, "glacier moraine cirque arete tarn"),
      (101L, "glacier moraine cirque arete tarn"),
      (102L, "glacier moraine cirque arete tarn"),
      (103L, "glacier moraine cirque arete tarn ridge"),
      (200L, "!!! ??"), (201L, "!!! ??")).toDF("doc_id", "text")
    val docs = sampleDocs.unionByName(extra)
    val digestFirst = Duplicates.components(docs).as[(Long, Long)].collect().toMap
    val memberLevel = Duplicates.componentsMembers(docs).as[(Long, Long)].collect().toMap
    assert(digestFirst == memberLevel,
      s"digest-first != member-level: ${digestFirst.toSet -- memberLevel.toSet} / ${memberLevel.toSet -- digestFirst.toSet}")
    // the family + neighbor collapse into one component rooted at the rep
    assert(Seq(100L, 101L, 102L, 103L).forall(digestFirst(_) == 100L))
    // byte-identical but token-free: NOT linked (no TF vector, no edge)
    assert(digestFirst(200L) == 200L && digestFirst(201L) == 201L)
    // the fixture's planted duplicate still clusters
    assert(digestFirst(5L) == 0L)
  }

  test("digest-first PAIR list equals the member-level plan — within at 1.0, " +
       "cross inherits the rep sim, zero-term twins pairless") {
    // the r12 dispatch (n6's 100 TB arm): same regimes as the components
    // spec, asserted on the PAIR output itself
    val extra = Seq(
      (100L, "glacier moraine cirque arete tarn"),
      (101L, "glacier moraine cirque arete tarn"),
      (102L, "glacier moraine cirque arete tarn"),
      (103L, "glacier moraine cirque arete tarn ridge"),
      (200L, "!!! ??"), (201L, "!!! ??")).toDF("doc_id", "text")
    val docs = sampleDocs.unionByName(extra)
    def run(f: => org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      f.as[(Long, Long, Double)].collect().toSet
    val members = run(Duplicates.pairSimilaritiesMembers(docs, 0.8))
    val digest = run(Duplicates.pairSimilaritiesDigestFirst(docs, 0.8))
    assert(digest == members,
      s"digest-first != member-level: ${digest -- members} / ${members -- digest}")
    // the within-family pairs surface at exactly 1.0 on both arms
    assert(Seq((100L, 101L), (100L, 102L), (101L, 102L)).forall(p =>
      members.contains((p._1, p._2, 1.0))), s"family pairs missing: $members")
    // cross-family: every family member pairs with the near-dup neighbor
    // at the SAME sim (the rep pair's), present and equal across arms
    val crossPairs = members.filter { case (a, b, _) => b == 103L && a >= 100L && a <= 102L }
    assert(crossPairs.size == 3 && crossPairs.map(_._3).size == 1,
      s"all three member pairs must exist and share the rep sim: $crossPairs")
    // zero-term twins never pair (no TF vector on either arm) — check
    // BOTH endpoints for BOTH ids (200 can appear as id2, 201 as id1)
    val zeroTerm = Set(200L, 201L)
    assert(!members.exists { case (a, b, _) => zeroTerm(a) || zeroTerm(b) })
  }

  test("pair summary (n6b): rep-weighted histogram equals the member " +
       "enumeration, bucket by bucket, without expanding pairs") {
    val extra = Seq(
      (100L, "glacier moraine cirque arete tarn"),
      (101L, "glacier moraine cirque arete tarn"),
      (102L, "glacier moraine cirque arete tarn"),
      (103L, "glacier moraine cirque arete tarn ridge"),
      (200L, "!!! ??"), (201L, "!!! ??")).toDF("doc_id", "text")
    val docs = sampleDocs.unionByName(extra)
    def hist(df: org.apache.spark.sql.DataFrame): Set[(Double, Long, Double, Double, Double)] =
      df.select("sim_bucket", "n_pairs", "mean_sim", "min_sim", "max_sim")
        .as[(Double, Long, Double, Double, Double)].collect().toSet
    val weighted = hist(Duplicates.pairSummaryDigestFirst(docs, 0.8))
    val enumerated = hist(Duplicates.pairSummaryMembers(docs, 0.8))
    assert(weighted == enumerated,
      s"weighted != enumerated: ${weighted -- enumerated} / ${enumerated -- weighted}")
    // dup mass 0.33 on this fixture: the public dispatch takes the
    // weighted arm
    assert(hist(Duplicates.pairSummary(docs, 0.8)) == weighted)
    // total pair mass matches the n6 pair list exactly
    val nPairs = Duplicates.pairSimilaritiesMembers(docs, 0.8).count()
    assert(weighted.toSeq.map(_._2).sum == nPairs)
    // the 1.0 bucket holds the within-family mass: C(3,2) + the fixture's
    // planted duplicate (0, 5) = 4 pairs (zero-term twins excluded)
    val top = weighted.find(_._1 == 1.0).get
    assert(top._2 >= 4L && top._4 == 1.0 && top._5 == 1.0)
  }

  // --- relevance scores (tests/test_relevance_scorer.py:102-110) ---

  test("relevance scores bounded [0,1]; multiword keywords never add density") {
    val scores = Relevance.relevanceScores(sampleDocs, refKeywords)
      .select("doc_id", "density", "coverage", "combined")
      .as[(Long, Double, Double, Double)].collect()
    assert(scores.length == 6)
    scores.foreach { case (_, d, c, comb) =>
      assert(d >= 0 && d <= 1 && c >= 0 && c <= 1 && comb >= 0 && comb <= 1)
    }
    // only 'transformer' and 'attention' are single tokens; multiword
    // keywords ('machine learning', ...) can never match a token — so
    // coverage is at most 2/7 (the reference's quirk, preserved)
    assert(scores.map(_._3).max <= 2.0 / 7 + 1e-9)
  }

  test("BM25 matches an independent in-memory computation; zero-match docs score 0") {
    val docs = Seq(
      (0L, "spark joins the query stream and window functions"),
      (1L, "spark spark spark query"),
      (2L, "completely unrelated prose about gardens and flowers"),
      (3L, "window window window window stream"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = Relevance.bm25Rank(docs, topK = 10)
      .as[(Long, Double)].collect().toSeq
    // independent reference: plain-Scala Okapi over the same tokenizer
    val kw = Relevance.Keywords
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val n = toks.size
    val dl = toks.map { case (id, t) => id -> t.size }
    val avgdl = dl.values.sum.toDouble / n
    val dfm = kw.map(k => k -> toks.values.count(_.contains(k))).toMap
    val expect = toks.map { case (id, t) =>
      val s = kw.map { k =>
        val cnt = t.count(_ == k)
        if (cnt == 0) 0.0
        else math.log(1.0 + (n - dfm(k) + 0.5) / (dfm(k) + 0.5)) *
          (cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dl(id) / avgdl))
      }.sum
      id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expectRanked = expect.toSeq.sortBy { case (id, s) => (-s, id) }
    assert(got == expectRanked, s"got $got expected $expectRanked")
    // zero-match docs present, at score 0
    assert(got.filter(_._2 == 0.0).map(_._1).toSet == Set(2L, 4L))
  }

  // --- priority (tests/test_priority_classifier.py:59-67 boundaries) ---

  test("priority level thresholds: 0.95→CRITICAL, 0.70→HIGH, 0.50→MEDIUM, 0.30→LOW, 0.10→NONE") {
    val lv = Seq(0.95, 0.70, 0.50, 0.30, 0.10).toDF("s")
      .select(TextFns.priorityLevel(col("s"))).as[String].collect().toSeq
    assert(lv == Seq("CRITICAL", "HIGH", "MEDIUM", "LOW", "NONE"))
  }

  test("length score steps at 50/200/500 words") {
    val mk = (n: Int) => Seq.fill(n)("word").mkString(" ")
    val scores = Seq(mk(10), mk(100), mk(300), mk(600)).toDF("text")
      .select(TextFns.lengthScore(col("text"))).as[Double].collect().toSeq
    assert(scores == Seq(0.1, 0.5, 0.8, 1.0))
  }

  test("keyword score: critical→1.0 beats high→0.7; no match→0.0") {
    val scores = Seq("a breakthrough happened", "this is important", "nothing here")
      .toDF("text")
      .select(TextFns.keywordScore(col("text"),
        critical = Seq("breakthrough"), high = Seq("important")))
      .as[Double].collect().toSeq
    assert(scores == Seq(1.0, 0.7, 0.0))
  }

  test("priority distribution sums to doc count (tests/test_priority_classifier.py:129-143)") {
    val docs = Tables.documents(spark, sf0001)
    val total = Priority.distribution(docs).agg(sum("n")).as[Long].head()
    assert(total == docs.count())
  }

  test("PRF expansion retrieves the vocabulary-mismatch doc plain BM25 scores zero") {
    // feedback docs pair the query term with "synonym" vocabulary; doc 100
    // uses ONLY the synonym vocabulary — lexically invisible to the query
    val docs = ((1L to 8L).map(i =>
        (i, "spark engine cluster executor shuffle partition")) ++ Seq(
        (100L, "engine cluster executor shuffle partition runtime"),
        (101L, "completely unrelated words gardening flowers blooming")))
      .toDF("doc_id", "text")
    val base = Relevance.bm25Rank(docs, Seq("spark"), topK = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(base(100L) == 0.0, "mismatch doc must be invisible to plain BM25")
    val prf = Relevance.prfExpandedBm25(docs, Seq("spark"),
      fbDocs = 5, expandTerms = 3, topK = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prf(100L) > 0.0, "expansion must surface the synonym-vocabulary doc")
    assert(prf(100L) > prf(101L), "off-topic doc must stay below the mismatch doc")
    // the terms-frame variant agrees with the literal variant on the same set
    val viaFrame = Relevance.bm25RankFromTerms(docs,
      Seq("spark").toDF("token"), topK = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaFrame == base)
  }
}
