package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cosine-similarity duplicate detection and clustering (SURVEY.md §2.9
  * N3, N17, N19–N22), following `pipeline/duplicate_detector.py`:
  * sum-normalized TF vectors (`:57-72`), sparse cosine over shared terms
  * (`:74-107`), all-pairs ≥ θ (default 0.8, `:127-167`), single-linkage
  * clusters = connected components (`:216-264`), unique docs = min id per
  * cluster plus standalones (`:266-299`).
  *
  * The reference's O(n²) Python loop becomes an inverted-index self-join:
  * only documents sharing a term ever meet, partial-aggregated on the pair
  * key. At 100 TB an ultra-common term would make one join key explode, so
  * [[pairSimilarities]] takes a document-frequency cap that drops terms
  * occurring in more than `dfCapFraction` of documents from the *candidate*
  * join (exact mode `dfCapFraction = 1.0` keeps oracle parity; capped mode
  * is the scale path — a term in >½ the corpus contributes little to
  * distinguishing near-duplicates but dominates join fan-out; MinHash-LSH in
  * [[Dedup]] is the fully sub-quadratic alternative).
  *
  * Thresholding happens on the 6-decimal-rounded similarity so the ≥ θ cut
  * is reproducible across engines regardless of float summation order.
  */
object Duplicates {

  /** N3: sum-normalized TF vectors in long form (doc_id, token, tf). */
  def tfSum(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id")
    Relevance.termCounts(docs)
      .withColumn("tf", col("cnt").cast("double") / sum("cnt").over(w))
      .select("doc_id", "token", "tf")
  }

  /** Per-document L2 norm of the TF vector. */
  def norms(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(sqrt(sum(col("tf") * col("tf"))).as("nrm"))

  /** Dense-path budget: the kernel broadcasts a [docs × vocab] double
    * matrix, so it's only eligible while that stays comfortably in executor
    * memory (32M cells ≈ 256 MB). Above it, the inverted-index join is the
    * scale path (and beyond that, MinHash-LSH in [[Dedup]]).
    */
  val DenseMaxCells: Long = 32L * 1024 * 1024
  val DenseMaxVocab: Int = 8192

  /** N19: all document pairs with cosine similarity ≥ threshold.
    * Output: (id1, id2, sim) with id1 < id2, sim rounded to 6.
    *
    * Physical strategy is chosen from the data's shape (a cost-based
    * dispatch, like Catalyst picking broadcast vs shuffle joins):
    *
    *  - small vocabulary (the [docs × vocab] matrix fits a broadcast):
    *    [[pairSimilaritiesKernel]], a broadcast + `mapPartitions` primitive
    *    dot-product loop. All-pairs cosine is inherently Ω(n²) *pair
    *    examinations*; when an inverted index cannot prune (every document
    *    shares terms with every other, as in dense/small-vocab corpora) the
    *    term join materializes Σ_t df(t)² shuffle rows — orders of magnitude
    *    more I/O than the n²/2 register-level multiply-adds the kernel does
    *    (measured 122 s → 0.9 s at 5k docs × 29 terms on 32 cores);
    *  - large sparse vocabulary: the inverted-index join below, where only
    *    documents sharing a term ever meet and map-side partial aggregation
    *    keeps the shuffle proportional to true term co-occurrence.
    */
  def pairSimilarities(docs: DataFrame, threshold: Double = 0.8,
                       dfCapFraction: Double = 1.0): DataFrame =
    // Dup-mass dispatch FIRST (r12, the [[Dedup.digestArmUncapped]] move
    // applied to N19): on a duplicate-heavy corpus both member-level
    // strategies self-destruct in the EXAMINATION count, not just the
    // output — the kernel scans all n²/2 member pairs and the inverted
    // index fans out O(f²) rows per byte-identical family — while the
    // digest collapse makes pair generation rep-quadratic + output-
    // proportional with IDENTICAL output (the 100× twins capstone measured
    // the member kernel at 475k docs examining ~1.1e11 pairs for ~44 min;
    // the rep kernel examines ~1.1e7). Exact mode only (dfCapFraction 1.0
    // — a member-level df cap is a different statistic than a rep-level
    // one); the probe itself is one linear aggregate over the shared
    // digest frame.
    if (dfCapFraction >= 1.0 && Dedup.digestArmUncapped(docs))
      pairSimilaritiesDigestFirst(docs, threshold)
    else pairSimilaritiesMembers(docs, threshold, dfCapFraction)

  /** Session memo of the shared pair frames, keyed by (TF-plan
    * fingerprint, threshold, df cap). The pairs cache below has always
    * been meant to serve every consumer of a corpus's edge list — but the
    * kernel strategy's output is a `mapPartitions` over a fresh closure
    * per invocation, which plan canonicalization treats as distinct, so
    * CacheManager could never substitute one invocation's cache into the
    * next (each call silently registered a new, never-hit entry).
    * Returning the SAME DataFrame object fixes the sharing mechanism.
    */
  private val pairsFrameMemo = new Caches.Memo[DataFrame](8, identity)

  /** The member-level plan (no digest collapse): the kernel-vs-sparse
    * cost dispatch below, and the equality reference the digest-first arm
    * is spec-checked against.
    */
  private[graft] def pairSimilaritiesMembers(docs: DataFrame,
                                             threshold: Double = 0.8,
                                             dfCapFraction: Double = 1.0): DataFrame = {
    // One tokenize pass feeds the dispatch statistics and whichever
    // strategy wins (the kernel alone needs two more passes over tf —
    // vocabulary and vectors — so the cache pays for itself immediately).
    val tf = Caches.shared(tfSum(docs))
    val memoKey = Caches.memoKey(tf, s"t=$threshold|cap=$dfCapFraction")
    pairsFrameMemo.getOrElseUpdate(memoKey, docs.sparkSession) {
      val stats = tf.agg(
        countDistinct(col("token")).as("vocab"),
        countDistinct(col("doc_id")).as("docs")).head()
      val (vocabN, docsN) = (stats.getLong(0), stats.getLong(1))
      val pairs =
        if (vocabN > 0 && vocabN <= DenseMaxVocab && docsN * vocabN <= DenseMaxCells)
          kernelFromTf(tf, threshold)
        else sparseFromTf(tf, docs, threshold, dfCapFraction)
      // The thresholded edge list is the engine's most-reused intermediate —
      // clustering, unique-document selection and the pipeline all consume
      // it. Persisting lets Spark's CacheManager substitute the materialized
      // result into any later plan that canonically matches (the reference
      // caches its IDF corpus and TF vectors for the same reason).
      Caches.shared(pairs)
    }
  }

  /** [[pairSimilarities]]' digest-first arm (the [[Dedup]] x2/x3 move
    * applied to TF-cosine pairs): byte-identical families collapse to one
    * representative, the member-level kernel/sparse dispatch runs on the
    * rep corpus, and the member pair list is reconstructed exactly:
    *
    *  - within-family pairs: identical text ⟹ identical TF vector ⟹
    *    cosine 1.0 after 6-dp rounding (the raw ratio is 1 ± a few ulp),
    *    emitted directly — but only for families whose rep HAS a TF row
    *    (zero-token and null-text documents have no vector and are
    *    pairless on the member arm too), and only when 1.0 clears the
    *    threshold;
    *  - cross-family pairs: members carry exactly their rep's vector, so
    *    the (a, b) edge exists iff the (rep_a, rep_b) edge does, with the
    *    same rounded similarity — rep pairs expand through two members
    *    joins, output-proportional.
    *
    * [[components]] has used this collapse for its edges since r9; this
    * arm gives the PAIR outputs (n6 and anything reusing its cached edge
    * list) the same 100 TB story, chosen by the same dup-mass probe.
    */
  private[graft] def pairSimilaritiesDigestFirst(docs: DataFrame,
                                                 threshold: Double): DataFrame = {
    val Dedup.Families(_, members, repDocs, _) = Dedup.digestFamilies(docs)
    val repPairs = pairSimilaritiesMembers(repDocs, threshold)
    // Two scale guards on the expansion, both measured on the r12 100×
    // capstone fixture (524k rep pairs × 100-strong families ⇒ ~5.2e9
    // member pairs — the OUTPUT is quadratic in family size by
    // definition, so only generation may be materialized, never pinned):
    //  - the rep-level inputs are tiny (≤ a few MB), so AQE coalesces
    //    their shuffles to ~1 partition and the 10⁴-fold join fan-out
    //    lands on ONE task; explicit repartition (REPARTITION_BY_NUM is
    //    exempt from AQE coalescing) spreads the expansion before it
    //    happens. Downstream shuffles see the post-expansion sizes and
    //    plan themselves correctly;
    //  - no Caches.shared on the expanded frame: caching an output-
    //    proportional blow-up costs more than regenerating it from the
    //    cached rep pairs + digest families (which ARE shared).
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val m = members.select(col("rep_id"), col("doc_id"))
    // by r1 alone: that satisfies the first join's distribution
    // requirement whether or not the members side broadcasts, so the
    // expansion always starts from nParts balanced tasks; the second
    // join's input carries post-expansion stats and plans itself
    val rp = repPairs
      .select(col("id1").as("r1"), col("id2").as("r2"), col("sim"))
      .repartition(nParts, col("r1"))
    val cross = rp
      .join(m.select(col("rep_id").as("r1"), col("doc_id").as("a")), "r1")
      .join(m.select(col("rep_id").as("r2"), col("doc_id").as("b")), "r2")
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"), col("sim"))
    if (threshold > 1.0) return cross
    // reps with ≥1 term row — reuses the members arm's shared TF frame
    val termedReps = Caches.shared(tfSum(repDocs))
      .select(col("doc_id").as("rep_id")).distinct()
    val wm = m.join(termedReps, "rep_id").repartition(nParts, col("rep_id"))
    val within = wm.select(col("rep_id"), col("doc_id").as("id1"))
      .join(wm.select(col("rep_id"), col("doc_id").as("id2")), "rep_id")
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(1.0d).as("sim"))
    cross.unionByName(within)
  }

  /** The inverted-index (sparse) strategy for [[pairSimilarities]]. */
  def pairSimilaritiesSparse(docs: DataFrame, threshold: Double = 0.8,
                             dfCapFraction: Double = 1.0): DataFrame =
    sparseFromTf(tfSum(docs), docs, threshold, dfCapFraction)

  private def sparseFromTf(tf: DataFrame, docs: DataFrame, threshold: Double,
                           dfCapFraction: Double): DataFrame = {
    val joinTf =
      if (dfCapFraction >= 1.0) tf
      else {
        val n = docs.agg(count(lit(1)).as("corpus_n"))
        val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(n))
          .where(col("df") <= col("corpus_n") * dfCapFraction)
          .select("token")
        tf.join(broadcast(df), "token")
      }
    val a = joinTf.select(col("doc_id").as("id1"), col("token"), col("tf").as("tf1"))
    val b = joinTf.select(col("doc_id").as("id2"), col("token"), col("tf").as("tf2"))
    val dots = a.join(b, Seq("token"))
      .where(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(sum(col("tf1") * col("tf2")).as("dot"))
    val nrm = norms(tf)
    dots
      .join(nrm.select(col("doc_id").as("id1"), col("nrm").as("n1")), "id1")
      .join(nrm.select(col("doc_id").as("id2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("dot") / (col("n1") * col("n2")), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** The dense (broadcast kernel) strategy for [[pairSimilarities]]: dock
    * each document's TF vector into a shared vocabulary index, broadcast the
    * resulting primitive matrix, and scan the id1 < id2 triangle with a tight
    * multiply-add loop inside `mapPartitions`. Rounding replicates Spark's
    * `round` (HALF_UP on the decimal expansion) so results are bit-identical
    * to the sparse path and the DuckDB oracle.
    */
  def pairSimilaritiesKernel(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    kernelFromTf(tfSum(docs), threshold)

  /** Session-scoped memo of collected [docs × vocab] matrices, keyed by the
    * canonicalized TF plan: clustering, unique-docs and the pipeline all
    * ask for the same corpus's matrix, and the collects happen at plan
    * construction where DataFrame-level caching can't help. Bounded at a
    * handful of corpora.
    */
  private val kernelMemo =
    new Caches.Memo[(Array[Long], Array[Array[Double]], Array[Double])](8)

  private def collectMatrix(tf: DataFrame): (Array[Long], Array[Array[Double]], Array[Double]) =
    kernelMemo.getOrElseUpdate(Caches.planMemoKey(tf)) {
      val spark = tf.sparkSession
      import spark.implicits._
      val vocab = tf.select("token").distinct().orderBy("token").as[String].collect()
      val rows = tf.groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("token"), col("tf")))).as("m"))
        .select(col("doc_id"),
          transform(lit(vocab), t => coalesce(element_at(col("m"), t), lit(0.0))).as("v"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val ids = rows.map(_._1)
      val vecs = rows.map(_._2)
      val norms = vecs.map(v => { var s = 0.0; var k = 0; while (k < v.length) { s += v(k) * v(k); k += 1 }; math.sqrt(s) })
      (ids, vecs, norms)
    }

  private def kernelFromTf(tf: DataFrame, threshold: Double): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val (ids, vecs, norms) = collectMatrix(tf)
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    val n = ids.length
    val d = vecs.headOption.map(_.length).getOrElse(0)
    val parts = math.max(spark.sparkContext.defaultParallelism * 4, 8)
    // Reject-certain fast path: HALF_UP at 6 dp can raise a value by at
    // most 5e-7, so round6(x) >= θ requires x >= θ − 5e-7 — any pair whose
    // raw cosine sits below θ − 1e-6 (margin for the double→shortest-
    // decimal conversion, which moves the value by < 1 ulp ≪ 5e-7 on
    // [−1, 1]) is rejected WITHOUT constructing a BigDecimal. The exact
    // HALF_UP rounding then runs only on the candidates near or above the
    // threshold — output-proportional, not pair-proportional. The r12 100×
    // capstone measured why this matters: at 475k docs × 67-term vocab the
    // kernel examines ~1.1e11 pairs, and a per-pair BigDecimal allocation
    // was ~10× the cost of the 67-mult dot product itself.
    val rejectBelow = threshold - 1e-6
    spark.range(0, n.toLong, 1, parts).as[Long].mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      it.flatMap { iL =>
        val i = iL.toInt
        val vi = vecs(i)
        val ni = norms(i)
        (i + 1 until n).iterator.flatMap { j =>
          var dot = 0.0; var k = 0
          val vj = vecs(j)
          while (k < d) { dot += vi(k) * vj(k); k += 1 }
          val raw = dot / (ni * norms(j))
          if (raw >= rejectBelow) {
            val sim = BigDecimal(raw)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (sim >= threshold) Iterator.single((ids(i), ids(j), sim))
            else Iterator.empty
          } else Iterator.empty
        }
      }
    }.toDF("id1", "id2", "sim")
  }

  /** Session-scoped memo of collected edge lists, keyed by (corpus plan,
    * threshold): clustering, unique-docs, and both pipeline entries all
    * collect the same thresholded pairs, and the small-graph path brings the
    * edge list to the driver by design — memoizing the collected array just
    * skips re-running the similarity job for the later consumers.
    */
  private val edgeMemo = new Caches.Memo[Array[(Long, Long)]](8)

  /** Session memo of the expanded component-label frames — the
    * [[pairsFrameMemo]] move for [[components]]: the collect arm's label
    * join embeds a fresh driver-data LocalRelation per invocation, which
    * plan canonicalization treats as distinct, so the n10/n11/p-family
    * consumers each re-ran the full expansion even with the EDGE list
    * memoized. A hit returns the same DataFrame (re-registered in the
    * cache) with the arm that built it. Keyed by (corpus fingerprint,
    * threshold, collect cap) — the cap changes which arm builds the frame,
    * and an explicit cap is a dispatch request, so capped and uncapped
    * frames memoize separately.
    */
  private val labelsFrameMemo = new Caches.Memo[(DataFrame, String)](8, _._1)

  /** N21: single-linkage clusters = connected components of the ≥ θ
    * similarity graph.
    *
    * Cost-dispatched (same pattern as [[pairSimilarities]]' kernel-vs-sparse
    * choice): the thresholded edge list is checkpointed and *counted* first.
    * When it is small — the normal case: θ keeps the duplicate graph orders
    * of magnitude smaller than the corpus — it is collected and union-find
    * runs on the driver (O(E α(E))), with the label map broadcast back as a
    * join. When a pathologically duplicate-heavy corpus produces more than
    * `maxCollectEdges` edges, the driver is never the bottleneck: dispatch
    * goes to the distributed min-label-propagation loop over the same
    * checkpointed edges, so the similarity job runs exactly once either way.
    *
    * N20: digest-first. A duplicate-heavy corpus is what this operator
    * exists for, and there the member-level TF-cosine graph
    * self-destructs: a byte-identical family of f documents contributes f
    * identical TF vectors, so the inverted-index join fans out O(f²) per
    * family and the edge list inflates past any collect cap with edges
    * that carry no information (100× smoke: 500k docs with 99 twins each ⇒
    * a ~25M-edge graph whose edges are 99.99% within-family).
    * Byte-identical grouping is one LINEAR digest shuffle, so — the same
    * move as the capped-Jaccard digest-first path in [[Dedup]] — the
    * similarity graph is built over one representative per family and
    * labels propagate through the family map.
    *
    * Output is IDENTICAL to the member-level graph (spec-checked):
    * members have exactly their representative's TF vector, so (a) every
    * cross-family member edge exists iff the rep edge exists with the
    * same 6-dp-rounded similarity, (b) members of a family with ≥1 term
    * are pairwise connected at sim 1.0 and therefore share their rep's
    * component, and (c) a family with ZERO terms has no TF vector and no
    * edges — its members stay singletons, which is why the family link
    * rides the rep's termCounts presence, not the digest alone. Component
    * labels agree because every family's minimum id IS its
    * representative, so min-over-members ≡ min-over-reps.
    *
    * Output: (doc_id, component) for every document, where component is the
    * smallest doc_id reachable through the ≥ θ similarity graph.
    */
  def components(docs: DataFrame, threshold: Double = 0.8,
                 maxCollectEdges: Long = 5000000L): DataFrame =
    componentsWithArm(docs, threshold, maxCollectEdges)._1

  /** [[components]] with the arm that built its frame: "collect" (driver
    * union-find) or "iterative" (distributed label propagation). A memo
    * hit reports the arm stored with the frame.
    */
  private[graft] def componentsWithArm(docs: DataFrame, threshold: Double = 0.8,
                                       maxCollectEdges: Long = 5000000L)
      : (DataFrame, String) = {
    val spark = docs.sparkSession
    // v2: the memo holds REP-level edges (digest-first), not member edges
    val key = Caches.memoKey(docs, s"t=$threshold|v2")
    val frameKey = if (key.nonEmpty) s"$key|cap=$maxCollectEdges" else ""
    val frameHit = labelsFrameMemo.get(frameKey, spark)
    if (frameHit.nonEmpty) return frameHit.get
    val Dedup.Families(_, members, repDocs, _) = Dedup.digestFamilies(docs)
    // honor the caller's cap even on a memo hit: an explicit small cap is
    // a request to avoid the driver path, not just a cost heuristic
    val hit = edgeMemo.get(key).filter(_.length <= maxCollectEdges)
    val (repLabels, arm) =
      if (hit.nonEmpty) (unionFindLabels(repDocs, hit.get), "collect")
      // repDocs are already digest-collapsed — call the member arm directly
      // rather than re-probing dup mass over the rep corpus
      else componentsFromPairs(repDocs, pairSimilaritiesMembers(repDocs, threshold),
        maxCollectEdges, edgeMemo.put(key, _))
    labelsFrameMemo.put(frameKey,
      (Caches.shared(expandRepLabels(docs, members, repDocs, repLabels)), arm))
  }

  /** Propagate representative component labels to every family member.
    * Only families whose rep has ≥1 term row link (zero-term documents
    * have no TF vector, hence no edges, in the member-level graph);
    * everything else labels itself.
    */
  private def expandRepLabels(docs: DataFrame, members: DataFrame,
                              repDocs: DataFrame, repLabels: DataFrame): DataFrame = {
    // a rep has ≥1 term row iff it has ≥1 term row in the FULL corpus
    // counts (tokenization is per-document), so intersect the shared
    // corpus termCounts cache with the rep ids instead of tokenizing the
    // rep-restricted corpus again — on the memo-hit serve path this was
    // the one remaining full tokenize per consumer (r14; p1/p1b/p2 and
    // n10/n11 all walk it)
    val termedReps = Caches.shared(Relevance.termCounts(docs)
        .select(col("doc_id")).distinct())
      .join(repDocs.select(col("doc_id")), "doc_id")
      .select(col("doc_id").as("rep_id"))
    val linked = members.join(termedReps, "rep_id")
      .join(repLabels.withColumnRenamed("doc_id", "rep_id"), "rep_id")
      .select(col("doc_id"), col("component"))
    docs.select("doc_id")
      .join(linked, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** The member-level (no digest collapse) plan — the equality reference
    * [[components]] is spec-checked against. No memo: spec-only.
    */
  private[graft] def componentsMembers(docs: DataFrame, threshold: Double = 0.8,
                                       maxCollectEdges: Long = 5000000L): DataFrame =
    componentsFromPairs(docs, pairSimilaritiesMembers(docs, threshold), maxCollectEdges)._1

  /** Single-linkage components over an arbitrary undirected pair frame
    * (id1, id2), with the arm it dispatched to — the collect / iterative
    * cost dispatch [[components]] uses, exposed so other candidate
    * generators (the MinHash-LSH dedup capstone in [[Dedup]]) can reuse
    * the machinery without re-deriving pairs from TF cosine. `ids`
    * supplies the universe (a `doc_id` column); isolated ids label
    * themselves. The collect arm passes the driver-side edge list through
    * `collected` (a memo's `put`) before union-find.
    */
  private[graft] def componentsFromPairs(
      ids: DataFrame, pairs: DataFrame, maxCollectEdges: Long = 5000000L,
      collected: Array[(Long, Long)] => Array[(Long, Long)] = identity)
      : (DataFrame, String) = {
    val spark = ids.sparkSession
    import spark.implicits._
    val p = Caches.checkpointed(pairs
      .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2")))
    val result =
      if (p.count() <= maxCollectEdges)
        (unionFindLabels(ids, collected(p.as[(Long, Long)].collect())), "collect")
      else (propagateMinLabels(ids, p), "iterative")
    // both arms are concrete past this point (collected edge list /
    // checkpointed label frame) — the pair checkpoint can go now
    Caches.releaseCheckpoint(p)
    result
  }

  /** Driver union-find over a collected edge list + broadcast label join. */
  private def unionFindLabels(docs: DataFrame, edges: Array[(Long, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    val labelMap = parent.keys.map(k => k -> find(k)).toMap
    val labels = labelMap.toSeq.toDF("doc_id", "mapped")
    docs.select("doc_id")
      .join(broadcast(labels), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("mapped"), col("doc_id")).as("component"))
  }

  /** Distributed connected components for edge lists too large to collect:
    * min-label propagation with `localCheckpoint` per iteration. The
    * checkpoint is load-bearing — `cache()` alone leaves the logical plan
    * growing exponentially with iterations and planning time explodes.
    */
  def componentsIterative(docs: DataFrame, threshold: Double = 0.8,
                          maxIter: Int = 20): DataFrame = {
    val pairs = Caches.checkpointed(pairSimilarities(docs, threshold).select("id1", "id2"))
    val result = propagateMinLabels(docs, pairs, maxIter)
    Caches.releaseCheckpoint(pairs) // result is a checkpoint — pairs done
    result
  }

  private def propagateMinLabels(docs: DataFrame, pairs: DataFrame,
                                 maxIter: Int = 20): DataFrame = {
    val edges = Caches.checkpointed(pairs
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2"))))
    var labels =
      Caches.checkpointed(docs.select(col("doc_id"), col("doc_id").as("component")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "id2"), "id2")
        .groupBy(col("id1").as("doc_id"))
        .agg(min("component").as("nbr_component"))
      // One checkpointed step frame carries the new label AND the change
      // flag (labels only ever decrease, so changed ⟺ nbr_component <
      // component): the convergence test is then a narrow count over the
      // just-materialized checkpoint instead of a second full equi-join of
      // `next` against the previous labels — one fewer corpus-keyed
      // shuffle join per iteration.
      val step = Caches.checkpointed(labels.join(nbrMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_component"), col("component")))
            .as("component"),
          (coalesce(col("nbr_component"), col("component")) < col("component"))
            .as("chg")))
      changed = step.where(col("chg")).count()
      Caches.releaseCheckpoint(labels) // superseded iterate — free it now
      labels = step.select("doc_id", "component")
      iter += 1
    }
    Caches.releaseCheckpoint(edges) // final labels are concrete past here
    labels
  }

  /** N22: unique-document selection — the smallest id of every cluster plus
    * all standalone documents, i.e. exactly the ids whose component label is
    * themselves.
    */
  def uniqueDocuments(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    components(docs, threshold)
      .where(col("doc_id") === col("component"))
      .select("doc_id")

  /** N23: the full N×N similarity matrix in long form — every ordered pair
    * plus the unit diagonal (`duplicate_detector.py:301-336`). Diagnostic
    * only: materializing N² rows is exactly what the thresholded operators
    * avoid at scale, so this has no query entry; tests exercise symmetry
    * and the diagonal at fixture size.
    */
  def similarityMatrix(docs: DataFrame): DataFrame = {
    val upper = pairSimilarities(docs, threshold = Double.MinValue)
    val lower = upper.select(col("id2").as("id1"), col("id1").as("id2"), col("sim"))
    val diag = docs.select(col("doc_id").as("id1"), col("doc_id").as("id2"),
      lit(1.0).as("sim"))
    upper.union(lower).union(diag)
  }

  /** N20: near-duplicates of one target document (one-vs-all cosine ≥ θ). */
  def nearDuplicatesOf(docs: DataFrame, targetId: Long,
                       threshold: Double = 0.8): DataFrame = {
    val tf = tfSum(docs)
    val target = tf.where(col("doc_id") === targetId)
      .select(col("token"), col("tf").as("tf_t"))
    val nrm = norms(tf)
    val nT = nrm.where(col("doc_id") === targetId)
      .select(col("nrm").as("n_t"))
    tf.where(col("doc_id") =!= targetId)
      .join(broadcast(target), "token")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("tf_t")).as("dot"))
      .join(nrm, "doc_id")
      .crossJoin(broadcast(nT))
      .select(col("doc_id"), round(col("dot") / (col("nrm") * col("n_t")), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  // --- query entries ---

  def qDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    pairSimilarities(Tables.documents(spark, sfDir))

  /** N19 summary form (n6b): per similarity bucket, how many duplicate
    * pairs the corpus holds — the question most n6 consumers actually ask
    * (the r12 100× capstone measured n6's TRUE answer at 4.74·10⁹ member
    * pair ROWS; a curation team deciding a dedup threshold wants the
    * histogram, not the list). Buckets are dyadic 1/32 steps (exact in
    * doubles in both engines, ~7 buckets over the default θ = 0.8 band)
    * with weighted pair count, mean/min/max similarity.
    *
    * Scale shape: dup-mass-dispatched like [[pairSimilarities]], but the
    * digest-first arm never expands to member pairs at all — cross-family
    * rep pairs aggregate at weight fam_n1·fam_n2 and within-family mass
    * enters analytically as C(fam_n, 2) pairs at sim 1.0 (identical text
    * ⟹ identical TF vector; only termed reps, matching the pair arm), so
    * the blow-up the pair list must materialize by definition is never
    * generated: the cost is the rep-level kernel + a families-sized
    * aggregate, output ≤ the bucket count.
    */
  def pairSummary(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    if (Dedup.digestArmUncapped(docs)) pairSummaryDigestFirst(docs, threshold)
    else pairSummaryMembers(docs, threshold)

  /** The member-level histogram (one row per member pair, weight 1) — the
    * reference arm the weighted form is spec-pinned against, and the plan
    * the DuckDB oracle expresses.
    */
  private[graft] def pairSummaryMembers(docs: DataFrame,
                                        threshold: Double): DataFrame =
    bucketPairs(pairSimilaritiesMembers(docs, threshold)
      .select(col("sim"), lit(1L).as("w")))

  /** [[pairSummary]]'s digest-first arm: [[pairSimilaritiesDigestFirst]]
    * minus the member expansion — the weights carry what the expansion
    * would have enumerated.
    */
  private[graft] def pairSummaryDigestFirst(docs: DataFrame,
                                            threshold: Double): DataFrame = {
    val Dedup.Families(fams, _, repDocs, _) = Dedup.digestFamilies(docs)
    val famN = fams.select(col("rep_id"), col("fam_n"))
    val cross = pairSimilaritiesMembers(repDocs, threshold)
      .join(famN.select(col("rep_id").as("id1"), col("fam_n").as("n1")), "id1")
      .join(famN.select(col("rep_id").as("id2"), col("fam_n").as("n2")), "id2")
      .select(col("sim"), (col("n1") * col("n2")).as("w"))
    if (threshold > 1.0) return bucketPairs(cross)
    // within-family mass: only termed reps (zero-token/null-text docs have
    // no TF vector and are pairless on the member arm too)
    val termedReps = Caches.shared(tfSum(repDocs))
      .select(col("doc_id").as("rep_id")).distinct()
    val within = famN.join(termedReps, "rep_id")
      .where(col("fam_n") >= 2)
      .select(lit(1.0d).as("sim"),
        // integer div: '/' on longs is double division (the x62 lesson)
        expr("fam_n * (fam_n - 1) div 2").as("w"))
    bucketPairs(cross.unionByName(within))
  }

  /** Dyadic 1/32 bucket aggregation over `(sim, w)` rows; with w ≡ 1 this
    * is the plain per-pair histogram the DuckDB oracle expresses.
    */
  private def bucketPairs(pairs: DataFrame): DataFrame =
    pairs.groupBy((floor(col("sim") * 32) / 32).as("sim_bucket"))
      .agg(sum("w").as("n_pairs"),
        round(sum(col("w") * col("sim")) / sum("w").cast("double"), 6)
          .as("mean_sim"),
        min("sim").as("min_sim"), max("sim").as("max_sim"))

  def qPairSummary(spark: SparkSession, sfDir: String): DataFrame =
    pairSummary(Tables.documents(spark, sfDir))

  def qComponents(spark: SparkSession, sfDir: String): DataFrame =
    components(Tables.documents(spark, sfDir))

  def qUniqueDocs(spark: SparkSession, sfDir: String): DataFrame =
    uniqueDocuments(Tables.documents(spark, sfDir))

  def qNearDups(spark: SparkSession, sfDir: String): DataFrame =
    nearDuplicatesOf(Tables.documents(spark, sfDir), targetId = 0L)
}
