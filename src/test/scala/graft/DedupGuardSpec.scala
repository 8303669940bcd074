package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-key guards for the scale-dedup pack: a duplicate-heavy corpus is the
  * one dedup exists for, and it is exactly the one whose content-derived
  * join keys (shingles, LSH band buckets, SimHash chunks) go hot. These
  * specs plant the pathologies — a corpus-wide boilerplate shingle, a giant
  * identical-document family — and assert the capped paths bound candidate
  * generation while still finding the genuine near-duplicates, with scores
  * identical to exact mode.
  */
class DedupGuardSpec extends SparkSpec {

  import spark.implicits._

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  private def uniq(i: Int) = s"uniq${letters(i % 26)}${letters(i / 26)}word"

  /** 40 docs all sharing a 6-token boilerplate header (⇒ every pair meets
    * through its shingles) with per-doc unique tails, plus a planted
    * near-dup pair (40, 41) whose overlap is mostly *rare* shingles.
    */
  private def hotShingleDocs: DataFrame = {
    val boiler = "commonzz headerzz boilerzz platezz markerzz everywherezz"
    val base = (0 until 40).map { i =>
      (i.toLong, s"$boiler ${uniq(i)} ${uniq(i + 40)} ${uniq(i + 80)} ${uniq(i + 120)}")
    }
    val shared = "rarezz sharedzz sequencezz tokenszz herezz paddingzz wordszz longzz"
    val pair = Seq(
      (40L, s"$boiler $shared onlyfortyzz"),
      (41L, s"$boiler $shared onlyfortyonezz"))
    (base ++ pair).toDF("doc_id", "text")
  }

  test("df-capped shingle index prunes the boilerplate key's quadratic fan-out") {
    val docs = hotShingleDocs
    val ds = docs.select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(Dedup.shinglesFromTokens(col("toks"))).as("shingle"))
      .select(col("doc_id"), Dedup.md5Long60(col("shingle")).as("h60"))
      .distinct()
    // uncapped full index (t = 0 degenerates the prefix to the whole set):
    // the boilerplate shingles alone connect every pair — C(42,2)
    val exact = Dedup.prefixCandidates(Dedup.identityFamilies(docs), threshold = 0.0).count()
    assert(exact == 42L * 41 / 2, s"boilerplate should connect all pairs, got $exact")
    // capped at df 10: only pairs sharing a rare (df ≤ 10) shingle survive
    val capped = Dedup.prefixCandidates(Dedup.identityFamilies(docs), threshold = 0.0,
        maxShingleDf = 10)
      .as[(Long, Long)].collect().toSet
    assert(capped.contains((40L, 41L)), "planted rare-shingle pair must stay a candidate")
    assert(capped.size < 5, s"capped candidates should be near-empty, got ${capped.size}")
    // the dropped keys are precisely the corpus-hot shingles
    val hot = Dedup.oversizedBuckets(ds, Seq("h60"), 10).count()
    assert(hot > 0 && hot < 10, s"only the boilerplate shingles should be hot, got $hot")
  }

  test("capped jaccardPairs reports the exact-mode similarity for surviving pairs") {
    val docs = hotShingleDocs
    val exact = Dedup.jaccardPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toMap2
    val capped = Dedup.jaccardPairs(docs, threshold = 0.5, maxShingleDf = 10)
      .as[(Long, Long, Double)].collect().toMap2
    assert(capped.contains((40L, 41L)), "planted near-dup pair found in capped mode")
    // phase 2 recomputes the intersection over ALL shingles (hot included),
    // so every capped score must equal the exact mode's for the same pair
    capped.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"pair $k capped=$v != exact=${exact.get(k)}")
    }
  }

  implicit private class Pairs3[T](rows: Array[(Long, Long, T)]) {
    def toMap2: Map[(Long, Long), T] = rows.map { case (a, b, v) => (a, b) -> v }.toMap
  }

  test("digest-first capped mode equals the member-level plan, families expanded") {
    // three regimes in one corpus: a small byte-identical family whose keys
    // are NOT hot (within-family pairs must be emitted at J = 1.0, and the
    // family's near-dup neighbor must pair with EVERY member via rep
    // expansion), the hot-boilerplate docs, and the planted rare-shingle pair
    val family = "identicalzz familyzz contentzz sequencezz alphazz betazz gammazz deltazz"
    val extra = Seq(
      (100L, family), (101L, family), (102L, family),
      (103L, s"$family onemorewordzz")) // near-dup of the family, own digest
    val docs = hotShingleDocs.union(extra.toDF("doc_id", "text"))
    val fromDigest = Dedup.jaccardPairsOver(Dedup.digestFamilies(docs), 0.5, maxShingleDf = 10)
      .as[(Long, Long, Double)].collect().toMap2
    val fromMembers = Dedup.jaccardPairsOver(Dedup.identityFamilies(docs), 0.5, maxShingleDf = 10)
      .as[(Long, Long, Double)].collect().toMap2
    assert(fromDigest == fromMembers,
      s"digest-first != member-level:\n only digest: ${fromDigest.toSet -- fromMembers.toSet}" +
      s"\n only members: ${fromMembers.toSet -- fromDigest.toSet}")
    // the regimes actually occurred: within-family pairs at exactly 1.0 …
    assert(fromDigest.get((100L, 101L)).contains(1.0))
    assert(fromDigest.get((101L, 102L)).contains(1.0))
    // … and the neighbor expanded against every member with one score
    val nbr = Seq((100L, 103L), (101L, 103L), (102L, 103L)).flatMap(fromDigest.get)
    assert(nbr.size == 3 && nbr.distinct.size == 1, s"expansion incomplete: $nbr")
  }

  test("digest-first UNCAPPED mode equals the member-level plan (the " +
       "dup-mass dispatch arm), jaccard and containment") {
    // the dispatch fixture: heavy exact-duplicate mass (the regime where
    // digestArmUncapped routes exact mode through the family collapse)
    val family = "identicalzz familyzz contentzz sequencezz alphazz betazz gammazz deltazz"
    val extra = Seq(
      (100L, family), (101L, family), (102L, family),
      (103L, s"$family onemorewordzz"),
      (104L, family)) // id above the neighbor: flips member vs rep order
    val docs = hotShingleDocs.union(extra.toDF("doc_id", "text"))
    val jd = Dedup.jaccardPairsOver(Dedup.digestFamilies(docs), 0.5, maxShingleDf = 0)
      .as[(Long, Long, Double)].collect().toMap2
    val jm = Dedup.jaccardPairsOver(Dedup.identityFamilies(docs), 0.5, maxShingleDf = 0)
      .as[(Long, Long, Double)].collect().toMap2
    assert(jd == jm,
      s"uncapped jaccard digest != members:\n only digest: ${jd.toSet -- jm.toSet}" +
      s"\n only members: ${jm.toSet -- jd.toSet}")
    assert(jd.get((100L, 104L)).contains(1.0), "within-family pair present")
    val cd = Dedup.containmentPairsOver(Dedup.digestFamilies(docs), 0.6, maxShingleDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val cm = Dedup.containmentPairsOver(Dedup.identityFamilies(docs), 0.6, maxShingleDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(cd == cm,
      s"uncapped containment digest != members:\n only digest: ${cd.keySet -- cm.keySet}" +
      s"\n only members: ${cm.keySet -- cd.keySet}")
    // the dispatch itself picks the digest arm on this dup-saturated corpus
    assert(Dedup.digestArmUncapped(docs), "dup mass ~1/3 must dispatch digest-first")
  }

  /** A byte-identical family (100–102) + a SUBSUMING neighbor 103 (family
    * text + extra words: C(member→103) = 1), plus the boilerplate corpus;
    * also an id ABOVE the neighbor (104 identical to 100) so expansion
    * must swap the s/c columns when member order flips relative to rep
    * order.
    */
  private def subsumedFamilyDocs: DataFrame = {
    val family = "identicalzz familyzz contentzz sequencezz alphazz betazz gammazz deltazz"
    val extra = Seq(
      (100L, family), (101L, family), (102L, family),
      (103L, s"$family morezz wordszz taggedzz onzz thezz endzz herezz"),
      (104L, family))
    hotShingleDocs.union(extra.toDF("doc_id", "text"))
  }

  test("digest-first capped containment equals the member-level plan, " +
       "orientation-aware expansion included") {
    val docs = subsumedFamilyDocs
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("id1", "id2", "s1", "s2", "c1", "c2", "containment")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().toSet
    val fromDigest = canon(
      Dedup.containmentPairsOver(Dedup.digestFamilies(docs), 0.6, maxShingleDf = 10))
    val fromMembers = canon(
      Dedup.containmentPairsOver(Dedup.identityFamilies(docs), 0.6, maxShingleDf = 10))
    assert(fromDigest == fromMembers,
      s"only digest: ${fromDigest -- fromMembers}\n only members: ${fromMembers -- fromDigest}")
    // within-family pairs at containment 1.0 both directions
    assert(fromDigest.exists(r => r._1 == 100L && r._2 == 101L && r._7 == 1.0))
    // the subsumed orientation: (101,103) has c1 = 1 (101 inside 103) and
    // the flipped member order (103,104) carries the SWAPPED columns
    val a = fromDigest.find(r => r._1 == 101L && r._2 == 103L).get
    assert(a._5 == 1.0 && a._3 < a._4, s"subsumption orientation wrong: $a")
    val b = fromDigest.find(r => r._1 == 103L && r._2 == 104L).get
    assert(b._6 == 1.0 && b._3 > b._4, s"flipped orientation wrong: $b")
  }

  test("digest-first capped mode on the planted fixture equals member-level " +
       "(the x2b contract: hot family contributes nothing)") {
    val planted = Dedup.plantedHotCorpus(Tables.documents(spark, sf0001))
    val fromDigest = Dedup.jaccardPairsOver(Dedup.digestFamilies(planted), 0.5,
        maxShingleDf = 100)
      .as[(Long, Long, Double)].collect().toMap2
    val fromMembers = Dedup.jaccardPairsOver(Dedup.identityFamilies(planted), 0.5,
        maxShingleDf = 100)
      .as[(Long, Long, Double)].collect().toMap2
    assert(fromDigest == fromMembers)
    assert(!fromDigest.keys.exists { case (a, b) =>
      a == 0L || b == 0L || a >= 100000L || b >= 100000L },
      "planted-family pairs must stay excluded in capped mode")
  }

  test("registered capped variants (x2b/x3b/x36b): the guard binds on the " +
       "planted family and bounds candidate rows") {
    val docs = Tables.documents(spark, sf0001)
    val planted = Dedup.plantedHotCorpus(docs)
    val fams = Dedup.identityFamilies(planted)
    // the 201-member identical family alone contributes C(201,2) uncapped
    // candidate pairs; the cap must remove all of them, leaving no more
    // candidates than the clean corpus generates on its own
    val famPairs = 201L * 200 / 2
    val uncapped = Dedup.prefixCandidates(fams, 0.5).count()
    val capped = Dedup.prefixCandidates(fams, 0.5, maxShingleDf = 100).count()
    val clean = Dedup.prefixCandidates(Dedup.identityFamilies(docs), 0.5).count()
    assert(uncapped >= famPairs, s"family must dominate uncapped: $uncapped")
    assert(capped <= clean,
      s"capped candidates ($capped) must not exceed the clean corpus's ($clean)")
    // the registered entries stay productive and never emit a family pair
    val x2b = Dedup.qJaccardCapped(spark, sf0001)
      .select("id1", "id2").as[(Long, Long)].collect()
    val x3b = Dedup.qMinhashLshCapped(spark, sf0001)
      .select("id1", "id2").as[(Long, Long)].collect()
    val x36b = Dedup.qContainmentCapped(spark, sf0001)
      .select("id1", "id2").as[(Long, Long)].collect()
    def noFamily(ps: Array[(Long, Long)]) = ps.forall { case (a, b) =>
      a != 0L && b != 0L && a < 100000L && b < 100000L
    }
    assert(x2b.nonEmpty && noFamily(x2b), s"x2b: ${x2b.take(5).toSeq}")
    assert(x3b.nonEmpty && noFamily(x3b), s"x3b: ${x3b.take(5).toSeq}")
    assert(x36b.nonEmpty && noFamily(x36b), s"x36b: ${x36b.take(5).toSeq}")
    // recall loss is confined to the planted hot neighborhood: capped is a
    // subset of exact-on-clean, and every missing pair has BOTH endpoints
    // in doc 0's own near-duplicate set (their shared shingles are
    // family-hot, so the capped candidate stage cannot see them)
    val x2 = Dedup.jaccardPairs(docs).select("id1", "id2")
      .as[(Long, Long)].collect().toSet
    val nbr = x2.collect { case (0L, d) => d case (d, 0L) => d } + 0L
    val missing = (x2 -- x2b.toSet).filterNot { case (a, b) => a == 0L || b == 0L }
    assert(x2b.toSet.subsetOf(x2), "capped must never invent a pair")
    assert(missing.forall { case (a, b) => nbr(a) && nbr(b) },
      s"missing pairs outside the hot neighborhood: $missing (nbr=$nbr)")
  }

  test("x45b runs the distributed components arm and matches the collect arm") {
    val planted = Dedup.plantedHotCorpus(Tables.documents(spark, sf0001))
    val (collectFrame, collectArm) = Dedup.minhashDedupWithArm(planted)
    val viaCollect = collectFrame.as[(Long, Long, Long, Boolean)].collect().toSet
    assert(collectArm == "collect")
    val viaIter = Dedup.qMinhashDedupIterative(spark, sf0001)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // the arm of the call x45b makes (cap 0 is never memoized, so this
    // runs the same build again)
    val (_, iterArm) = Dedup.minhashDedupWithArm(
      Dedup.plantedHotCorpus(Tables.documents(spark, sf0001)), maxCollectEdges = 0L)
    assert(iterArm == "iterative",
      s"maxCollectEdges=0 must force the iterative arm, got $iterArm")
    assert(viaIter == viaCollect,
      "the physical components path must be invisible to the result")
    // the planted family collapsed into one kept representative
    val famRows = viaIter.filter(_._1 >= 100000L)
    assert(famRows.size == 200 && famRows.forall(r => !r._4 && r._3 >= 201L),
      s"planted clones must all be dropped members of a ≥201 family")
  }

  test("a minhashDedup memo hit reports the arm that built the frame") {
    def dedupArm(docs: DataFrame): String = {
      val (out, arm) = Dedup.minhashDedupWithArm(docs); out.collect(); arm
    }
    def componentsArm(docs: DataFrame): String = {
      val (out, arm) = graft.operators.Duplicates.componentsWithArm(docs, maxCollectEdges = 0)
      out.collect(); arm
    }
    val docs = Tables.documents(spark, sf0001) // file-backed: memoizable
    assert(Seq(dedupArm(docs), componentsArm(docs), dedupArm(docs)) ==
      Seq("collect", "iterative", "collect"),
      "a memo hit must report the arm its frame was built by")
    // the reverse order, on the same rows under another plan (so other
    // memo entries) that no earlier call has built
    val other = Tables.documents(spark, sf0001).where(col("doc_id") >= 0L)
    assert(Seq(componentsArm(other), dedupArm(other), componentsArm(other)) ==
      Seq("iterative", "collect", "iterative"))
  }

  test("x45c digest-first dedup is output-identical to member-level, " +
       "capped and uncapped, and null-text docs stay kept singletons") {
    val planted = Dedup.plantedHotCorpus(Tables.documents(spark, sf0001))
    val member = Dedup.minhashDedup(planted)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val digest = Dedup.minhashDedup(planted, digestFirst = true)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(digest == member, "digest-first must be output-identical")
    // capped: member-weighted bucket caps must reproduce the member-level
    // drop set — including the fully-capped family whose members revert
    // to singletons (cap below the 201-strong planted family)
    for (cap <- Seq(50, 150, 500)) {
      val m = Dedup.minhashDedup(planted, maxBucketSize = cap)
        .as[(Long, Long, Long, Boolean)].collect().toSet
      val d = Dedup.minhashDedup(planted, maxBucketSize = cap, digestFirst = true)
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(d == m, s"capped divergence at maxBucketSize=$cap")
    }
    // null-text docs must not collapse into one "identical" family
    val withNulls = planted.unionByName(
      Seq((990001L, null: String), (990002L, null: String)).toDF("doc_id", "text"))
    for (df <- Seq(false, true)) {
      val out = Dedup.minhashDedup(withNulls, digestFirst = df)
        .where(col("doc_id") >= 990000L)
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(out == Set((990001L, 990001L, 1L, true), (990002L, 990002L, 1L, true)),
        s"null-text docs must stay kept singletons (digestFirst=$df), got $out")
    }
  }

  test("prefix-filtered jaccard equals the naive all-pairs join at every threshold") {
    // exactness of the PPJoin-style candidate pruning: same pairs, same
    // values as the single-join form the DuckDB oracle runs
    val corpora = Seq(
      Tables.documents(spark, sf0001),
      hotShingleDocs,
      sampleDocs)
    for (docs <- corpora; t <- Seq(0.3, 0.5, 0.8)) {
      val naive = Dedup.jaccardPairsNaive(docs, t)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val prefix = Dedup.jaccardPairs(docs, t)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(prefix == naive, s"divergence at t=$t: " +
        s"missing=${naive.diff(prefix).take(3)} extra=${prefix.diff(naive).take(3)}")
    }
    // and the prefix index is genuinely smaller than the full index at t>0
    val fams = Dedup.identityFamilies(Tables.documents(spark, sf0001))
    val full = Dedup.prefixCandidates(fams, 0.0).count()
    val pruned = Dedup.prefixCandidates(fams, 0.8).count()
    assert(pruned < full, s"prefix at t=0.8 must prune candidates: $pruned vs $full")
  }

  /** The naive containment reference, independent of the prefix/verify
    * core both families share: one `h60` self-join aggregates |∩| per
    * co-shingled pair — the shape the DuckDB oracle runs.
    */
  private def containmentPairsNaive(docs: DataFrame, threshold: Double): DataFrame = {
    val ds = Dedup.distinctShingleHashes(docs)
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    ds.select(col("doc_id").as("id1"), col("h60"))
      .join(ds.select(col("doc_id").as("id2"), col("h60")), "h60")
      .where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("s1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("s2")), "id2")
      .select(col("id1"), col("id2"), col("s1"), col("s2"),
        round(col("inter").cast("double") / col("s1"), 6).as("c1"),
        round(col("inter").cast("double") / col("s2"), 6).as("c2"),
        round(col("inter").cast("double") / least(col("s1"), col("s2")), 6)
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  test("prefix-filtered containment equals the naive single-join form at every threshold") {
    // the digest/identity equality specs compare one builder with itself;
    // this pins the shared candidate + verify core to an independent
    // reference (the family fixture dispatches digest-first)
    val corpora = Seq(
      Tables.documents(spark, sf0001),
      hotShingleDocs,
      sampleDocs,
      subsumedFamilyDocs)
    assert(Dedup.digestArmUncapped(subsumedFamilyDocs))
    def rows(df: DataFrame) =
      df.as[(Long, Long, Long, Long, Double, Double, Double)].collect().sorted.toSeq
    for (docs <- corpora; t <- Seq(0.3, 0.6, 0.9)) {
      val naive = rows(containmentPairsNaive(docs, t))
      val prefix = rows(Dedup.containmentPairs(docs, t))
      assert(prefix == naive, s"divergence at t=$t: " +
        s"missing=${naive.diff(prefix).take(3)} extra=${prefix.diff(naive).take(3)}")
    }
  }

  /** A 30-copy identical-document family (every LSH band / SimHash chunk
    * bucket gets 30 members) plus a distinct near-identical pair (100, 101)
    * in buckets of size 2.
    */
  private def hotFamilyDocs: DataFrame = {
    val family = "familyzz doczz contentzz repeatedzz manyzz timeszz acrosszz corpuszz"
    val fam = (0 until 30).map(i => (i.toLong, family))
    val pair = Seq(
      (100L, "distinctzz pairzz documentzz sharingzz almostzz everythingzz togetherzz"),
      (101L, "distinctzz pairzz documentzz sharingzz almostzz everythingzz togetherzz"))
    (fam ++ pair).toDF("doc_id", "text")
  }

  test("LSH bucket cap drops the identical family but keeps the small pair") {
    val docs = hotFamilyDocs
    val uncapped = Dedup.minhashLshPairs(docs).as[(Long, Long, Double)].collect()
    assert(uncapped.count { case (a, b, _) => a < 30 && b < 30 } == 30 * 29 / 2,
      "uncapped: the family is quadratic within its band buckets")
    val capped = Dedup.minhashLshPairs(docs, maxBucketSize = 10)
      .as[(Long, Long, Double)].collect()
    assert(!capped.exists { case (a, b, _) => a < 30 && b < 30 },
      "capped: oversized family buckets must not generate candidates")
    assert(capped.exists { case (a, b, j) => a == 100L && b == 101L && j == 1.0 },
      "capped: the small near-dup pair's size-2 buckets are untouched")
  }

  test("simhash chunk cap drops the identical family but keeps the small pair") {
    val docs = hotFamilyDocs
    val uncapped = Dedup.simhashPairs(docs).as[(Long, Long, Long)].collect()
    assert(uncapped.count { case (a, b, _) => a < 30 && b < 30 } == 30 * 29 / 2)
    val capped = Dedup.simhashPairs(docs, maxBucketSize = 10)
      .as[(Long, Long, Long)].collect()
    assert(!capped.exists { case (a, b, _) => a < 30 && b < 30 })
    assert(capped.exists { case (a, b, h) => a == 100L && b == 101L && h == 0L })
  }

  /** Fixture for the LSH arm-equality spec: a 10-strong byte-identical
    * family, a near-duplicate neighbor of it (one trailing token changed
    * over a 30-token text, so the rep pair collides in some band), clean
    * singletons, and an identical empty-text pair (sub-3-token docs
    * shingle to the whole text, so even empty twins carry a signature and
    * must pair on both arms).
    */
  private def lshArmDocs: DataFrame = {
    val t1 = (0 until 30).map(i => s"sharedzz${letters(i % 26)}body").mkString(" ")
    val t2 = t1.split(" ").dropRight(1).mkString(" ") + " changedzztail"
    val fam = (0 until 10).map(i => (i.toLong, t1))
    val near = Seq((50L, t2))
    val singles = (60 until 66).map(i =>
      (i.toLong, s"${uniq(i)} ${uniq(i + 7)} ${uniq(i + 14)} ${uniq(i + 21)} ${uniq(i + 28)}"))
    val sigless = Seq((80L, ""), (81L, ""))
    (fam ++ near ++ singles ++ sigless).toDF("doc_id", "text")
  }

  test("LSH digest-first arm equals the member-level plan (uncapped and capped)") {
    val docs = lshArmDocs
    def run(f: => DataFrame): Set[(Long, Long, Double)] =
      f.as[(Long, Long, Double)].collect().toSet
    val members = run(Dedup.lshPairsOver(Dedup.identityFamilies(docs), 0.5, 0))
    // the fixture must actually exercise cross-family rep expansion: the
    // near-dup neighbor pairs with EVERY family member at member level
    assert((0 until 10).forall(i => members.exists {
      case (a, b, _) => a == i.toLong && b == 50L
    }), s"near-dup must pair with all family members, got $members")
    assert(members.contains((80L, 81L, 1.0)),
      "empty twins shingle to the whole text and pair at est 1.0")
    assert(run(Dedup.lshPairsOver(Dedup.digestFamilies(docs), 0.5, 0)) == members,
      "uncapped: digest-first output must equal member-level exactly")
    for (cap <- Seq(5, 15)) {
      val capM = run(Dedup.lshPairsOver(Dedup.identityFamilies(docs), 0.5, cap))
      assert(run(Dedup.lshPairsOver(Dedup.digestFamilies(docs), 0.5, cap)) == capM,
        s"capped at $cap: member-weighted drop set must reproduce capBuckets'")
    }
    // the dup-mass probe routes this family-heavy corpus to the digest arm
    // and leaves a clean corpus on the member arm
    assert(Dedup.digestArmUncapped(docs), "twins-heavy corpus routes digest")
    assert(!Dedup.digestArmUncapped(
      lshArmDocs.where(col("doc_id").between(50L, 79L))),
      "singleton corpus stays member-level")
  }

  test("span-match matrix is bounded by maxTokensPerDoc² per pair") {
    // worst case: one token repeated L times matches positionally L² ways
    val text = Seq.fill(300)("repzz").mkString(" ")
    val docs = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L)).toDF("id1", "id2")
    assert(Dedup.spanMatches(docs, pairs).count() == 300L * 300,
      "uncapped: the planted pair's match matrix is quadratic in doc length")
    assert(Dedup.spanMatches(docs, pairs, maxTokensPerDoc = 20).count() == 20L * 20,
      "capped: both documents truncate to the prefix window before the join")
    val spans = Dedup.longestDupSpans(docs, minEstJaccard = 0.5, maxTokensPerDoc = 20)
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq((0L, 1L, 20L)), s"capped span = window length, got $spans")
  }
}
