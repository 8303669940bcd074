package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CosineSimilarityExpr.cosineSim

/** Similarity search over the embeddings table (SURVEY.md §2.9 N18, N30–N31
  * plus the beyond-reference ANN pack): brute-force cosine top-k as the
  * exact baseline, and a random-hyperplane LSH-bucketed variant as the
  * scale path.
  *
  * The cosine is pure `zip_with`/`aggregate` column algebra on
  * double-widened arrays (bit-deterministic left-to-right summation — same
  * result in any engine), no UDF. The query vector rides a broadcast 1-row
  * cross join, so the scan side streams once with no shuffle; top-k is
  * TakeOrderedAndProject.
  */
object VectorSearch {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact brute-force cosine top-k against one stored vector. */
  def annTopK(embeddings: DataFrame, queryVecId: Long, k: Int = 10): DataFrame = {
    val q = embeddings.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("qvec"))
    embeddings
      .where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosineSim(asDouble(col("embedding")), col("qvec")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Batched exact k-NN join: every query vector gets its top-k corpus
    * neighbors in one pass. The query batch broadcasts (benchmark/probe
    * sets are small next to the corpus), the corpus streams once with no
    * input shuffle, and only narrow (query_id, vec_id, sim) tuples — never
    * vectors — reach the per-query rank shuffle. For query batches too big
    * to broadcast, pre-bucket both sides with [[annLshTopK]]'s hyperplanes
    * and knn-join per bucket.
    */
  def knnJoin(embeddings: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    knnJoinProjected(
      embeddings.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")),
      queries, k)

  /** [[knnJoin]] over an already-projected corpus — `(vec_id, label, v)`
    * plus any extra columns (ignored). Shared with [[ivfRecall]] so the
    * exact arm reuses the same corpus subtree as the approximate arm.
    */
  private def knnJoinProjected(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qvec"))
    val sims = corpus
      .crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosineSim(col("v"), col("qvec")), 6).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** All-pairs cosine ≥ threshold (embedding near-duplicate detection).
    * Brute force reference form — a non-equi theta join that plans as a
    * BroadcastNestedLoopJoin. Kept as the semantic baseline;
    * [[nearDuplicatePairsBlocked]] (the registered query) computes the same
    * exact answer with a shuffle-partitioned plan.
    */
  def nearDuplicatePairs(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    val a = embeddings.select(col("vec_id").as("id1"), asDouble(col("embedding")).as("v1"))
    val b = embeddings.select(col("vec_id").as("id2"), asDouble(col("embedding")).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(cosineSim(col("v1"), col("v2")), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Exact all-pairs cosine ≥ threshold as a *blocked* self-join: each
    * vector is replicated to its B(B+1)/2 block pairs (bi ≤ bj, block =
    * vec_id mod B, so only (B+1)·n rows ever shuffle), groups hash-
    * distribute on the block-pair key, and each group runs a fused
    * primitive-array loop with the same accumulation order as
    * [[org.apache.spark.sql.graftext.CosineSimilarityExpr]] — results are
    * bit-identical to [[nearDuplicatePairs]]. The O(n²·d) compute is
    * inherent to exactness at thresholds this low (0.45 ≈ 63°: random
    * hyperplanes keep only ~p^r recall per band, so LSH cannot reach exact
    * recall while pruning); what the blocking fixes is the *plan* — work is
    * spread over B(B+1)/2 independent tasks instead of one driver-fed
    * BroadcastNestedLoopJoin, which is the difference between a cluster-wide
    * O(n²/cores) and a single-point bottleneck at 100 TB. Size B so one
    * block (n/B vectors × d doubles) fits a task comfortably.
    *
    * The per-group loop pre-filters at (threshold − 1e-6) on the raw
    * similarity and the final projection re-applies Spark's own
    * `round(…, 6) ≥ threshold`, so rounding semantics match the brute form
    * and the oracle exactly.
    */
  def nearDuplicatePairsBlocked(embeddings: DataFrame, threshold: Double = 0.45,
                                nBlocks: Int = 16): DataFrame =
    if (embDigestArm(embeddings))
      nearDuplicatePairsBlockedDigestFirst(embeddings, threshold, nBlocks)
    else nearDuplicatePairsBlockedMembers(embeddings, threshold, nBlocks)

  /** Byte-identical-embedding families, the vector-space analog of
    * [[Dedup.digestFamilies]]: exact-duplicate documents carry exact-
    * duplicate embeddings, so a dup-heavy corpus (the very thing the dedup
    * pack exists for) floods every O(n²)-examination vector op with
    * byte-twin mass that one linear digest shuffle can collapse first.
    * Returns (fams `(digest, rep_id, fam_n)`, members
    * `(vec_id, rep_id, fam_n)`, repEmb = the rep rows of the input).
    * Null embeddings get a per-row digest (each its own singleton family),
    * matching the member plans, which never pair them.
    */
  private[graft] def embFamilies(embeddings: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val digests = Caches.shared(embeddings.select(col("vec_id"),
      coalesce(md5(col("embedding").cast("string").cast("binary")),
        concat(lit("null:"), col("vec_id"))).as("digest")))
    val fams = Caches.shared(digests.groupBy("digest")
      .agg(min("vec_id").as("rep_id"), count(lit(1)).as("fam_n")))
    val members = Caches.shared(
      digests.join(fams, "digest").select("vec_id", "rep_id", "fam_n"))
    val repEmb = embeddings.join(fams.select(col("rep_id").as("vec_id")), "vec_id")
    (fams, members, repEmb)
  }

  /** Dup-mass arm dispatch for the vector pair ops: the verdict (and
    * memo) [[Dedup.digestArmUncapped]] uses, over the suite-shared
    * embedding digest frame — same 0.05 mass threshold — decides whether
    * the byte-twin collapse pays before any signatures/blocks/cells are
    * built.
    */
  private[graft] def embDigestArm(embeddings: DataFrame): Boolean =
    Dedup.dupMassVerdict(Caches.planMemoKey(embeddings))(embFamilies(embeddings)._1)

  /** [[nearDuplicatePairsBlocked]]'s digest-first arm (the n6 r12 move in
    * vector space): the blocked O(n²·d) kernel runs on unique vectors
    * only, and the member pair list is reconstructed exactly —
    *
    *  - within-family pairs: identical vectors ⟹ raw cosine 1 ± a few
    *    ulp ⟹ 6-dp-rounded sim exactly 1.0, EXCEPT zero-norm vectors,
    *    whose kernel convention is sim 0.0 — the per-family literal is
    *    `1.0 if norm > 0 else 0.0`, then the same ≥ threshold cut as the
    *    kernel applies;
    *  - cross-family pairs inherit their rep pair's sim through two
    *    members joins (identical inputs ⟹ identical kernel value).
    *
    * Same expansion guards as the text arm: explicit repartition of the
    * rep-level inputs (AQE would coalesce the tiny pre-fan-out shuffles
    * to one task), and the output-proportional blow-up is generated,
    * never cached.
    */
  private[graft] def nearDuplicatePairsBlockedDigestFirst(
      embeddings: DataFrame, threshold: Double, nBlocks: Int): DataFrame = {
    val (_, members, repEmb) = embFamilies(embeddings)
    val nParts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val m = members.select(col("rep_id"), col("vec_id"))
    val rp = nearDuplicatePairsBlockedMembers(repEmb, threshold, nBlocks)
      .select(col("id1").as("r1"), col("id2").as("r2"), col("sim"))
      .repartition(nParts, col("r1"))
    val cross = rp
      .join(m.select(col("rep_id").as("r1"), col("vec_id").as("a")), "r1")
      .join(m.select(col("rep_id").as("r2"), col("vec_id").as("b")), "r2")
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"), col("sim"))
    // NaN-poisoned vectors: the member kernel's Scala cosine is NaN and
    // `s >= cut` is FALSE in Java semantics — the pair is dropped. Spark
    // SQL orders NaN GREATEST (`NaN > 0` is true, `NaN >= threshold` is
    // true), so without an explicit isnan gate the digest arm would emit
    // those within pairs at 1.0. Gate on the sum of squares: any NaN
    // component poisons it to NaN, matching the kernel's drop exactly.
    val sumSq =
      aggregate(asDouble(col("embedding")), lit(0.0d), (acc, x) => acc + x * x)
    val withinSim = when(sumSq > 0, lit(1.0d)).otherwise(lit(0.0d))
    val wm = m
      .join(repEmb.select(col("vec_id").as("rep_id"), withinSim.as("wsim"),
        isnan(sumSq).as("wnan")), "rep_id")
      .where(!col("wnan") && col("wsim") >= threshold)
      .repartition(nParts, col("rep_id"))
    val within = wm.select(col("rep_id"), col("vec_id").as("id1"), col("wsim"))
      .join(wm.select(col("rep_id"), col("vec_id").as("id2")), "rep_id")
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("wsim").as("sim"))
    cross.unionByName(within)
  }

  /** The member-level blocked plan — the reference arm the digest-first
    * reconstruction is spec-pinned against, and the plan the DuckDB
    * oracle expresses.
    */
  private[graft] def nearDuplicatePairsBlockedMembers(
      embeddings: DataFrame, threshold: Double = 0.45,
      nBlocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"),
      pmod(col("vec_id"), lit(nBlocks)).cast("int").as("blk"))
    // side 0 = the bi-block member of pair (bi, bj); side 1 = the bj member.
    // On the diagonal (bi == bj) both sides are the same set — keep side 0.
    val aSide = e.select(col("vec_id"), col("v"), col("blk").as("bi"),
      explode(sequence(col("blk"), lit(nBlocks - 1))).as("bj"), lit(0).as("side"))
    val bSide = e.select(col("vec_id"), col("v"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"),
      lit(1).as("side"))
    val preFiltered = aSide.unionByName(bSide)
      .as[(Long, Array[Double], Int, Int, Int)]
      .groupByKey { case (_, _, bi, bj, _) => bi * nBlocks + bj }
      .flatMapGroups { (key: Int, it: Iterator[(Long, Array[Double], Int, Int, Int)]) =>
        val diagonal = key / nBlocks == key % nBlocks
        val as = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        val bs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        it.foreach { case (id, v, _, _, side) =>
          if (side == 0) as += ((id, v))
          else if (!diagonal) bs += ((id, v))
        }
        def sim(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var i = 0
          while (i < n) {
            val xi = a(i); val yi = b(i)
            dot += xi * yi; nx += xi * xi; ny += yi * yi
            i += 1
          }
          var j = n
          while (j < a.length) { val t = a(j); nx += t * t; j += 1 }
          j = n
          while (j < b.length) { val t = b(j); ny += t * t; j += 1 }
          if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
        }
        val cut = threshold - 1e-6
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        if (diagonal) {
          var i = 0
          while (i < as.length) {
            var j = i + 1
            while (j < as.length) {
              val s = sim(as(i)._2, as(j)._2)
              if (s >= cut) {
                val (x, y) = (as(i)._1, as(j)._1)
                out += ((math.min(x, y), math.max(x, y), s))
              }
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < as.length) {
            var j = 0
            while (j < bs.length) {
              val s = sim(as(i)._2, bs(j)._2)
              if (s >= cut) {
                val (x, y) = (as(i)._1, bs(j)._1)
                out += ((math.min(x, y), math.max(x, y), s))
              }
              j += 1
            }
            i += 1
          }
        }
        out.iterator
      }
      .toDF("id1", "id2", "raw_sim")
    preFiltered
      .select(col("id1"), col("id2"), round(col("raw_sim"), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Deterministic pseudo-random hyperplanes for LSH bucketing: `nPlanes`
    * sign bits of projections onto LCG-generated vectors. At cluster scale
    * the bucket id becomes the shuffle key: only vectors agreeing on all
    * sign bits meet, cutting the candidate set ~2^nPlanes-fold.
    */
  def hyperplanes(dim: Int, nPlanes: Int = 8, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** LSH-bucketed ANN: same top-k contract as [[annTopK]] but the scan is
    * restricted to the query's hyperplane bucket. Approximate — documents
    * on the far side of any plane are not considered.
    */
  def annLshTopK(embeddings: DataFrame, queryVecId: Long, k: Int = 10,
                 dim: Int = 64, nPlanes: Int = 8): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    // all nPlanes dots in one fused kernel pass (the per-plane
    // aggregate(zip_with) form ran nPlanes×dim interpreted lambdas per
    // vector); sign bits pack via disjoint masks (sum == OR)
    def bucketOf(vec: Column): Column = {
      val dots = org.apache.spark.sql.graftext.SqDistsExpr.matDotsCol(
        vec, typedLit(planes.map(_.toSeq)))
      val masks = lit(Array.tabulate(nPlanes)(1L << _))
      aggregate(zip_with(dots, masks, (d, m) => when(d >= 0, m).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
    }
    val withBucket = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v")))
    val q = withBucket.where(col("vec_id") === queryVecId)
      .select(col("v").as("qvec"), col("bucket").as("qbucket"))
    withBucket
      .join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"),
        round(cosineSim(col("v"), col("qvec")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  // --- IVF (inverted-file) ANN: k-means coarse quantizer + nprobe search ---

  /** Train IVF coarse centroids with a fixed number of distributed Lloyd
    * iterations. Initialization is the `k` lowest vec_ids (deterministic);
    * each iteration is one pass: executors accumulate per-cell partial sums
    * in primitive arrays (`mapPartitions` — genuine per-partition imperative
    * logic), a `reduceByKey` over k keys merges them, and only the k×dim
    * centroid matrix ever reaches the driver. Empty cells keep their old
    * centroid.
    */
  /** Session memo of trained coarse centroids keyed by (corpus
    * fingerprint, k, iters) — the [[graft.operators.Caches.planMemoKey]]
    * pattern the BPE merge-table and n10 edge memos already use: trained
    * centroids are model-sized derived state a long-lived vector service
    * holds resident, not per-query work. The Lloyd trainer is
    * deterministic (vec_id-ordered init, per-iteration 6-dp HALF_UP
    * rounding), so a memo hit returns BIT-IDENTICAL centroids to a
    * retrain. Every Lloyd training runs on a miss of this memo or
    * [[pqMemo]]: their miss counts are the training count the
    * persisted-index specs read ("probe-from-disk must not retrain").
    */
  private[graft] val centroidMemo = new Caches.Memo[Array[Array[Double]]](16)
  private[graft] val pqMemo = new Caches.Memo[(Int, Seq[Seq[Seq[Double]]])](16)

  def kmeansCentroids(embeddings: DataFrame, k: Int = 16,
                      iters: Int = 5): Array[Array[Double]] = {
    val key = Caches.memoKey(embeddings, s"k=$k|it=$iters")
    val hit = centroidMemo.get(key)
    if (hit.nonEmpty) return hit.get.map(_.clone())
    val trained = kmeansCentroidsTrain(embeddings, k, iters)
    centroidMemo.put(key, trained.map(_.clone()))
    trained
  }

  private def kmeansCentroidsTrain(embeddings: DataFrame, k: Int,
                                   iters: Int): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // shared-cached training projection (r14): every Lloyd iteration — and
    // every other trainer over the same corpus in the session (the PQ
    // chains, the coarse quantizers of x14/x37/x52/x55/x82/x83) — scans
    // this narrow (vec_id, v) frame; one cache entry per corpus replaces
    // a parquet scan + cast per iteration per trainer.
    val vecs = Caches.shared(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .as[(Long, Array[Double])]
    var centroids = vecs.orderBy("vec_id").limit(k).map(_._2).collect()
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val updated = vecs.rdd.mapPartitions { it =>
        val cs = bc.value
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        val counts = new Array[Long](cs.length)
        it.foreach { case (_, v) =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            var d = 0.0; var i = 0
            while (i < dim) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        Iterator.tabulate(cs.length)(c => (c, (sums(c), counts(c))))
      }.reduceByKey { (a: (Array[Double], Long), b: (Array[Double], Long)) =>
        val (s1, n1) = a; val (s2, n2) = b
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        (s1, n1 + n2)
      }.collect()
      val next = centroids.map(_.clone())
      // Round each coordinate to 6 decimals per iteration: partition-order
      // float summation wobbles sit at ~1e-13 relative, far below the
      // 5e-7 rounding boundary, so the rounded centroids — and therefore
      // every downstream assignment — are reproducible across partition
      // counts AND engines (HALF_UP matches DuckDB's half-away-from-zero),
      // which is what lets x14 carry a full DuckDB oracle of the same
      // Lloyd chain instead of a rows-only check.
      updated.foreach { case (c, (s, n)) =>
        if (n > 0) next(c) = s.map(x =>
          BigDecimal(x / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      centroids = next
    }
    centroids
  }

  /** The k×dim centroid matrix as a 1-row broadcastable frame
    * (`__cents: array<array<double>>`, index = cell id). The model rides
    * as DATA, not plan literals — the x39 weights lesson
    * ([[Classifier]], `Classifier.scala` weights-frame note): literals
    * differ per dataset, so a sf0.001 pre-warm would compile a different
    * plan than the timed run and every invocation pays full Janino;
    * carried as a relation, the plan shape is data-invariant and the
    * generated code is a single lambda regardless of k, compiled once.
    * A production-sized quantizer (k in the tens of thousands) could
    * never ride as literals anyway.
    */
  private def centroidsFrame(spark: SparkSession,
                             centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(centroids.map(_.toSeq).toSeq)).toDF("__cents")
  }

  /** Cell assignment as pure column algebra over the centroid-matrix
    * COLUMN: argmin of the k squared distances (the fused
    * [[org.apache.spark.sql.graftext.SqDistsExpr]] kernel, `array_min`,
    * `array_position` — ties to the lower cell). No UDF, no
    * data-dependent plan literal; the kernel replaced a
    * `transform(aggregate(zip_with))` grid that ran k×dim interpreted
    * lambda applications per vector (kept as [[cellOfHof]] for the
    * equality spec).
    */
  def cellOf(vec: Column, cents: Column): Column = {
    val dists = org.apache.spark.sql.graftext.SqDistsExpr.sqDistsCol(vec, cents)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** The nested-HOF assignment form used before the fused kernel —
    * retained as the reference implementation for the equality spec.
    */
  private[graft] def cellOfHof(vec: Column, cents: Column): Column = {
    val dists = transform(cents, c =>
      aggregate(zip_with(vec, c, (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Corpus projection with its IVF cell: `(vec_id[, label], v, cell)`.
    * The centroid matrix arrives via [[centroidsFrame]] on the sanctioned
    * 1-row broadcast cross join (the x35/x39 pattern, allowlisted in
    * PlanSpec): the corpus side streams once with no shuffle and
    * assignment stays inside whole-stage codegen.
    */
  private[operators] def assignCells(embeddings: DataFrame, centroids: Array[Array[Double]],
                                     withLabel: Boolean = true): DataFrame = {
    val base =
      if (withLabel)
        embeddings.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      else
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    base.crossJoin(broadcast(centroidsFrame(embeddings.sparkSession, centroids)))
      .withColumn("cell", cellOf(col("v"), col("__cents")))
      .drop("__cents")
  }

  /** IVF ANN: restrict the exact cosine scan to the `nprobe` cells nearest
    * the query. With nprobe = nCells this degrades gracefully to the exact
    * [[annTopK]] answer; smaller nprobe trades recall for scanning only
    * ~nprobe/nCells of the corpus — the 100 TB path where the cell id is
    * the partition key and probes prune partitions.
    */
  def annIvfTopK(embeddings: DataFrame, queryVecId: Long, k: Int = 10,
                 nCells: Int = 16, nprobe: Int = 3, iters: Int = 5): DataFrame =
    // the 1-query special case of the batched join: the query row rides the
    // broadcast probe frame (no driver round-trip for the vector, no
    // data-dependent literal), probe selection and exclusion conventions
    // are identical, and rank ≤ k picks exactly the orderBy/limit set
    ivfKnnJoin(embeddings, embeddings.where(col("vec_id") === queryVecId),
      k, nCells, nprobe, iters, trainSet = embeddings)
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(desc("sim"), asc("vec_id"))

  /** Batched IVF kNN join — the scalable form of [[knnJoin]]. Instead of
    * crossing every query with the whole corpus, the k-means coarse
    * quantizer turns the ANN join into an *equi-join on the cell id*: each
    * query explodes into its `nprobe` nearest cells, the corpus carries its
    * assigned cell, and candidates only meet where cells match. At 100 TB
    * the cell id is the shuffle key (or partition key, pruning scans
    * entirely) and per-query work is ~nprobe/nCells of the corpus — this is
    * the join shape IVF indexes exist for. With `nprobe = nCells` it
    * degrades to the exact [[knnJoin]] answer.
    *
    * The quantizer trains on `trainSet` (defaults to the corpus; pass the
    * full table when queries are held out of the corpus so both sides share
    * one cell geometry). Probe selection is pure column algebra — an
    * (squared-distance, cell) struct array sorted ascending, ties to the
    * lower cell, exactly [[cellOf]]'s argmin convention — so the whole
    * query side streams with no driver round-trip per query.
    */
  def ivfKnnJoin(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
                 nCells: Int = 16, nprobe: Int = 3, iters: Int = 5,
                 trainSet: DataFrame = null): DataFrame = {
    val centroids = kmeansCentroids(Option(trainSet).getOrElse(embeddings),
      nCells, iters)
    // shared-cached: centroids are memo-stable per corpus, so the assigned
    // corpus projection is plan-identical across runs and consumers (the
    // serving state an IVF index holds — cells don't change between probes)
    ivfKnnJoinAssigned(Caches.shared(assignCells(embeddings, centroids)),
      queries, centroids, k, nprobe)
  }

  /** Probe selection + cell equi-join + per-query top-k over an
    * already-assigned corpus — the [[ivfKnnJoin]] back half, shared with
    * [[ivfRecall]] so the recall diagnostic trains Lloyd ONCE and both
    * arms reuse one corpus subtree. The query side's (dist, cell) struct
    * array zips the fused [[org.apache.spark.sql.graftext.SqDistsExpr]]
    * distances with their indices — same argmin/tie conventions as
    * [[cellOf]], no driver round-trip, no data-dependent plan literal.
    */
  private def ivfKnnJoinAssigned(withCell: DataFrame, queries: DataFrame,
                                 centroids: Array[Array[Double]], k: Int,
                                 nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val distStructs = transform(
      org.apache.spark.sql.graftext.SqDistsExpr.sqDistsCol(col("qv"), col("__cents")),
      (d, i) => struct(d.as("dist"), i.as("cell")))
    val probed = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .crossJoin(broadcast(centroidsFrame(withCell.sparkSession, centroids)))
      .withColumn("cell",
        explode(transform(slice(array_sort(distStructs), 1, nprobe),
          s => s.getField("cell"))))
      .drop("__cents")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    withCell.join(broadcast(probed), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosineSim(col("v"), col("qv")), 6).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training (the retrieval-training
    * data prep of DPR/SimCSE-style pipelines — Karpukhin et al. 2020
    * §4.2): per query, the k corpus vectors that are MOST similar yet
    * carry a DIFFERENT class label — the examples a contrastive loss
    * learns the most from, and exactly what in-batch random negatives
    * fail to supply. Composed from the batched IVF join: a top-`poolK`
    * ANN pool per query (cell equi-join, probed cells only), a label
    * anti-filter against the query's own label, and a re-rank — so at
    * 100 TB the mining pass costs one ANN join, never a cross join, and
    * the label filter runs on the poolK-bounded pool.
    *
    * Two-stage ranking contract (mirrored exactly by the oracle): the
    * pool is the rank ≤ poolK ANN result, negatives re-rank within the
    * filtered pool. A same-label-dense neighborhood can therefore yield
    * fewer than k negatives — that is signal (raise poolK), not error.
    */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
                    poolK: Int = 50, nCells: Int = 16, nprobe: Int = 3,
                    iters: Int = 5, trainSet: DataFrame = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pool = ivfKnnJoin(embeddings, queries, poolK, nCells, nprobe, iters,
      trainSet)
    val qLab = queries.select(col("vec_id").as("query_id"),
      col("label").as("query_label"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    pool.join(broadcast(qLab), "query_id")
      .where(col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("vec_id"), col("label"),
        col("sim"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .where(col("neg_rank") <= k)
  }

  /** Recall@k of [[ivfKnnJoin]] against the exact [[knnJoin]], per query —
    * the diagnostic every ANN deployment needs before trading nprobe for
    * throughput. Both sides run the same (corpus, queries) split; a left
    * join from the exact top-k keeps queries the approximate side missed
    * entirely (n_hits = 0 instead of a dropped row).
    */
  def ivfRecall(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
                nCells: Int = 16, nprobe: Int = 3, iters: Int = 5,
                trainSet: DataFrame = null): DataFrame = {
    // train ONCE and share the assigned-corpus subtree: the exact arm
    // ignores the cell column but reuses the same projection, so the
    // diagnostic costs one Lloyd chain + one extra scan, not two of each
    val centroids = kmeansCentroids(Option(trainSet).getOrElse(embeddings),
      nCells, iters)
    val withCell = Caches.shared(assignCells(embeddings, centroids))
    val exact = knnJoinProjected(withCell, queries, k).select("query_id", "vec_id")
    val approx = ivfKnnJoinAssigned(withCell, queries, centroids, k, nprobe)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1L))
    exact.join(approx, Seq("query_id", "vec_id"), "left_outer")
      .groupBy("query_id")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the k-means
    * coarse quantizer, then deduplicate *within* clusters only — the
    * cluster bound is what keeps the pairwise step sub-quadratic
    * (O(n²/k) vs O(n²); the paper runs k = 50k on LAION so each cell is
    * thousands, not millions). Keep rule is greedy first-occurrence: a
    * vector is pruned iff a lower-id vector in its cell is within
    * `threshold` cosine — the same deterministic convention as the x29
    * cross-corpus line dedup, which is what makes the result (and the
    * DuckDB oracle) engine-reproducible where the paper's random keep
    * would not be.
    *
    * Plan shape: the centroid matrix rides as a broadcast 1-row frame
    * (see [[centroidsFrame]] — k×dim from the driver is the only
    * driver-side data, and the plan shape is data-invariant), assignment
    * streams with the scan, the within-cell pair step is an *equi*
    * self-join on the cell id (shuffle-partitioned by cell — never a
    * nested-loop), and the keep flag is a left join on the pruned-id
    * set. At 100 TB the cell id is the only shuffle key and k scales
    * with corpus size, keeping per-cell work bounded.
    */
  def semanticDedup(embeddings: DataFrame, nCells: Int = 16, iters: Int = 5,
                    threshold: Double = 0.45): DataFrame =
    if (embDigestArm(embeddings))
      semanticDedupDigestFirst(embeddings, nCells, iters, threshold)
    else semanticDedupMembers(embeddings, nCells, iters, threshold)

  /** The member-level plan — within-cell pairs over every vector; the
    * reference arm the digest-first verdict derivation is spec-pinned
    * against, and the plan the DuckDB oracle expresses.
    */
  private[graft] def semanticDedupMembers(embeddings: DataFrame, nCells: Int,
                                          iters: Int, threshold: Double): DataFrame = {
    val centroids = kmeansCentroids(embeddings, nCells, iters)
    val withCell = Caches.shared(
      assignCells(embeddings, centroids, withLabel = false))
    val pruned = withCell.select(col("vec_id").as("id1"), col("v").as("v1"), col("cell"))
      .join(withCell.select(col("vec_id").as("id2"), col("v").as("v2"), col("cell")), Seq("cell"))
      .where(col("id1") < col("id2") &&
        round(cosineSim(col("v1"), col("v2")), 6) >= threshold)
      .select(col("id2").as("vec_id")).distinct()
    withCell.select(col("vec_id"), col("cell"))
      .join(pruned.withColumn("__pruned", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("__pruned").isNull.as("kept"))
  }

  /** [[semanticDedup]]'s digest-first arm: centroid TRAINING stays on the
    * FULL member set (linear in corpus size and bit-identical to the
    * member arm — training on reps would move centroids by the twin mass
    * and change cells), but the quadratic within-cell pair join runs on
    * unique vectors only. Member verdicts derive exactly:
    *
    *  - a member's cell is its rep's cell (identical vector, identical
    *    argmin — [[assignCells]] is deterministic);
    *  - the REP's verdict is the rep-level one: rep R is pruned iff some
    *    same-cell vector with a smaller id clears the threshold, and any
    *    such member m' ∈ F' implies rep(F') ≤ m' < R with the SAME sim
    *    (identical vectors), so the rep-level pair (rep(F'), R) witnesses
    *    it — and conversely;
    *  - a NON-rep member is pruned iff its own family prunes it: its rep
    *    is a same-cell smaller-id partner at sim 1.0 (zero-norm: 0.0), so
    *    `kept = withinSim < threshold`. No cross-family witness can
    *    matter: if withinSim < threshold then either the vector is
    *    zero-norm (every cross sim is 0.0 < threshold for positive
    *    thresholds, and for threshold ≤ 0 withinSim 0.0 ≥ threshold
    *    prunes anyway) or threshold > 1.0 (nothing prunes anything).
    */
  private[graft] def semanticDedupDigestFirst(embeddings: DataFrame, nCells: Int,
                                              iters: Int, threshold: Double): DataFrame = {
    val (_, members, repEmb) = embFamilies(embeddings)
    val centroids = kmeansCentroids(embeddings, nCells, iters)
    val withCell = Caches.shared(
      assignCells(repEmb, centroids, withLabel = false))
    val pruned = withCell.select(col("vec_id").as("id1"), col("v").as("v1"), col("cell"))
      .join(withCell.select(col("vec_id").as("id2"), col("v").as("v2"), col("cell")), Seq("cell"))
      .where(col("id1") < col("id2") &&
        round(cosineSim(col("v1"), col("v2")), 6) >= threshold)
      .select(col("id2").as("vec_id")).distinct()
    val withinSim = when(
      aggregate(col("v"), lit(0.0d), (acc, x) => acc + x * x) > 0,
      lit(1.0d)).otherwise(lit(0.0d))
    val repVerdict = withCell
      .join(pruned.withColumn("__pruned", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id").as("rep_id"), col("cell"),
        col("__pruned").isNull.as("rep_kept"), withinSim.as("wsim"))
    members.select(col("vec_id"), col("rep_id"))
      .join(repVerdict, "rep_id")
      .select(col("vec_id"), col("cell"),
        when(col("vec_id") === col("rep_id"), col("rep_kept"))
          .otherwise(col("wsim") < threshold).as("kept"))
  }

  /** Embedding-space decontamination: the semantic complement of the
    * n-gram passes ([[CorpusPrep.decontaminateGrams]] catches verbatim
    * leakage, [[Dedup.substrDecontaminate]] catches quoted spans; this
    * catches PARAPHRASED eval material — the leakage mode neither
    * lexical pass can see, and the one that actually inflates benchmark
    * scores after rewording). Every corpus document scores against the
    * whole eval set; output is one verdict row per corpus doc:
    * `(vec_id, label, max_sim, n_close, contaminated)` where `max_sim`
    * is the highest eval cosine (6 dp), `n_close` counts eval docs at
    * `round(sim, 6) ≥ threshold`, and `contaminated = max_sim ≥
    * threshold`.
    *
    * Scale shape: eval sets are model-sized next to a 100 TB corpus
    * (thousands of benchmark items), so the eval matrix rides as a
    * broadcast 1-row frame built IN-PLAN (`sort_array(collect_list(…))`
    * — deterministic row order, no driver collect) and the corpus
    * streams once with ZERO shuffle — no pair rows ever materialize; the
    * per-document loop is the fused
    * [[org.apache.spark.sql.graftext.MatCosExpr]] kernel (m×dim
    * primitive ops inside whole-stage codegen). The only interpreted
    * per-element work left is the m-comparison `n_close` filter — dim×
    * cheaper than the cosines. For eval sets too big to broadcast,
    * pre-cluster with [[ivfKnnJoin]] and threshold the pool instead.
    *
    * Parity contract: `max_sim = round(array_max(sims), 6)` equals the
    * oracle's `max(round(sim, 6))` because round is monotone — the max
    * over raw sims is some s_j, and round(s_j) ≥ round(s_i) ∀i, so the
    * two orders of max/round agree wherever per-pair 6-dp parity holds
    * (the invariant every cosine oracle already rests on). Callers
    * guarantee a non-empty eval set (an empty one yields null max_sim,
    * zero n_close).
    */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            threshold: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.graftext.MatCosStatsExpr.matCosStatsCol
    corpus
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(evalMatrixFrame(evalSet)))
      .select(col("vec_id"), col("label"),
        matCosStatsCol(col("v"), col("__mat"), threshold).as("__st"))
      .select(col("vec_id"), col("label"),
        round(col("__st.max_sim"), 6).as("max_sim"),
        col("__st.n_close").as("n_close"))
      .withColumn("contaminated", col("max_sim") >= lit(threshold))
  }

  /** The eval set as a broadcastable 1-row matrix frame, built in-plan
    * (`sort_array(collect_list(…))` — deterministic row order, no driver
    * collect). Shared by [[semanticDecontaminate]] and its HOF reference
    * form.
    */
  private def evalMatrixFrame(evalSet: DataFrame): DataFrame =
    evalSet
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("__pairs"))
      .select(transform(col("__pairs"), p => p.getField("v")).as("__mat"))

  /** The pre-kernel composable form — `mat_cos` sims array, `array_max`,
    * and an interpreted per-element rounded-threshold filter. Retained as
    * the equality-spec reference for [[semanticDecontaminate]]'s fused
    * verdict kernel (the m interpreted `round` applications per corpus
    * row are what the kernel deletes: 25.4 s → 3.6 s steady at 10×).
    */
  private[graft] def semanticDecontaminateHof(corpus: DataFrame,
      evalSet: DataFrame, threshold: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.graftext.SqDistsExpr.matCosCol
    corpus
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(evalMatrixFrame(evalSet)))
      .select(col("vec_id"), col("label"),
        matCosCol(col("v"), col("__mat")).as("__sims"))
      .select(col("vec_id"), col("label"),
        round(array_max(col("__sims")), 6).as("max_sim"),
        size(filter(col("__sims"),
          s => round(s, 6) >= lit(threshold))).cast("long").as("n_close"))
      .withColumn("contaminated", col("max_sim") >= lit(threshold))
  }

  /** [[semanticDecontaminate]] for eval sets too big to broadcast as one
    * matrix — the scale path that operator's scaladoc names. The k-means
    * coarse quantizer trains on the EVAL set (cells partition eval
    * space), its centroid matrix broadcasts (k×dim — model-sized however
    * large eval is), each corpus document probes its `nprobe` nearest
    * cells, and candidates meet in a cell equi-join — so per-document
    * work is ~nprobe/nCells of the eval set and the only large shuffle
    * key is the cell id (with a cell-partitioned eval layout on disk,
    * probes prune partitions instead — the x82 story).
    *
    * Approximate by construction, like every IVF operator here: a
    * paraphrase pair whose eval twin lives outside the probed cells is
    * missed; `nprobe = nCells` degrades to [[semanticDecontaminate]]'s
    * exact verdicts. Verdict rows keep x86's exact contract — one row
    * per corpus doc, `(max_sim, n_close, contaminated)` — with
    * `max_sim` null / `n_close` 0 / `contaminated` false for a document
    * whose probed cells hold no eval vector.
    */
  def semanticDecontaminateIvf(corpus: DataFrame, evalSet: DataFrame,
                               threshold: Double = 0.4, nCells: Int = 16,
                               nprobe: Int = 3, iters: Int = 5): DataFrame = {
    val centroids = kmeansCentroids(evalSet, nCells, iters)
    val evalCells = assignCells(evalSet, centroids, withLabel = false)
    semanticDecontamAssigned(corpus,
      evalCells.select(col("v").as("ev"), col("cell")), centroids,
      threshold, nprobe)
  }

  /** The serve half of [[semanticDecontaminateIvf]], shared with the
    * persisted-index probe (x86c): corpus docs probe `nprobe` nearest
    * cells of an ALREADY-ASSIGNED eval layout (`evalCells` = (ev, cell)),
    * candidates meet in the cell equi-join, and the corpus spine
    * left-join keeps the one-verdict-per-doc contract.
    */
  private[operators] def semanticDecontamAssigned(corpus: DataFrame,
      evalCells: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, nprobe: Int): DataFrame = {
    val distStructs = transform(
      org.apache.spark.sql.graftext.SqDistsExpr.sqDistsCol(col("v"), col("__cents")),
      (d, i) => struct(d.as("dist"), i.as("cell")))
    val probed = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(centroidsFrame(corpus.sparkSession, centroids)))
      .withColumn("cell",
        explode(transform(slice(array_sort(distStructs), 1, nprobe),
          s => s.getField("cell"))))
      .drop("__cents")
    val agg = probed
      .join(evalCells, Seq("cell"))
      .select(col("vec_id"), round(cosineSim(col("v"), col("ev")), 6).as("sim"))
      .groupBy("vec_id")
      .agg(max("sim").as("max_sim"),
        sum(when(col("sim") >= threshold, 1L).otherwise(0L)).as("n_close"))
    corpus.select(col("vec_id"), col("label"))
      .join(agg, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("label"), col("max_sim"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(col("max_sim") >= threshold, lit(false)).as("contaminated"))
  }

  /** Persist the semantic-decontamination index — the x82 story applied to
    * x86b: the eval set is the TRAINED, CELL-PARTITIONED artifact (its
    * quantizer centroids model-sized beside it), written once when the
    * benchmark suite changes; every corpus shard thereafter pays only the
    * probe. Layout = [[writeIvfIndex]] over the eval set verbatim, so the
    * artifact is interchangeable with any IVF serving path.
    */
  def writeSemanticDecontamIndex(evalSet: DataFrame, dir: String,
                                 nCells: Int = 16, iters: Int = 5): Unit =
    writeIvfIndex(evalSet, dir, nCells, iters)

  /** Probe a persisted [[writeSemanticDecontamIndex]] artifact —
    * bit-identical to [[semanticDecontaminateIvf]] with the same
    * parameters (centroid and eval doubles round-trip parquet exactly;
    * spec-pinned), with the quantizer READ, not retrained, and eval
    * candidates read from only the probed cells' partitions (the cell
    * equi-join against the broadcast probe frame prunes partitions
    * dynamically, as in [[probeIvfIndex]]).
    */
  def probeSemanticDecontamIndex(spark: SparkSession, dir: String,
                                 corpus: DataFrame, threshold: Double = 0.4,
                                 nprobe: Int = 3): DataFrame = {
    val cents = readCentroids(spark, dir)
    val evalCells = spark.read.parquet(dir + "/vectors")
      .select(col("v").as("ev"), col("cell"))
    semanticDecontamAssigned(corpus, evalCells, cents, threshold, nprobe)
  }

  /** Materialize the corpus cell-partitioned — the "IVF cells prune scans
    * entirely" story made physical storage. Each vector lands in the
    * parquet partition `cell=<id>`, so a probe query's `cell IN (…)`
    * predicate is satisfied by the file listing (a partition filter, zero
    * data read outside the probed cells) rather than per-row filtering —
    * at 100 TB the nprobe/nCells scan fraction is enforced by the layout.
    * Returns the trained centroids; PlanSpec asserts the pruning.
    */
  def writeCellPartitioned(embeddings: DataFrame, path: String,
                           nCells: Int = 16, iters: Int = 5): Array[Array[Double]] = {
    val centroids = kmeansCentroids(embeddings, nCells, iters)
    // rebalance on the partition column: few well-filled files per cell
    // directory instead of one sliver per (cell × input partition)
    assignCells(embeddings, centroids).hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    centroids
  }

  // --- scalar int8 quantization: the memory side of ANN at scale ---

  /** Symmetric per-vector int8 quantization: q_i = round(v_i / scale) with
    * scale = max|v| / 127. A quantized corpus is 4× smaller than float32
    * (16× vs the double-widened working form), which is what lets a
    * billion-vector ANN index stay in executor memory; reconstruction
    * error is bounded by scale/2 per dimension. All double arithmetic on
    * deterministic inputs — identical in any engine, so oracle-checkable.
    */
  def quantize(embeddings: DataFrame): DataFrame = {
    // scale MUST be staged as a column before the per-element lambda:
    // subexpression elimination does not cross lambda boundaries, so an
    // inline scale would re-run the array_max per element (64× per row —
    // the same trap as the round-1 tokenizer, measured 2.3 s → 0.4 s here)
    val maxabs = array_max(transform(col("__v"), x => abs(x)))
    embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("__v"))
      .withColumn("scale", when(maxabs === 0.0d, 1.0d).otherwise(maxabs / 127.0d))
      .select(
        col("vec_id"), col("label"), col("scale"),
        transform(col("__v"), x => round(x / col("scale")).cast("int")).as("qvec"))
  }

  /** Exact cosine top-k over the *quantized* corpus: the scan reads int8
    * codes + one scale, dequantizing on the fly. Same contract as
    * [[annTopK]] but the scan side is 4× denser in memory; the query
    * vector stays full-precision.
    */
  def annTopKQuantized(embeddings: DataFrame, queryVecId: Long, k: Int = 10): DataFrame = {
    val q = embeddings.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("qvec"))
    quantize(embeddings)
      .where(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"),
        transform(col("qvec"), x => x.cast("double") * col("scale")).as("v"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosineSim(col("v"), col("qvec")), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Product quantization (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each dim-d vector
    * into `m` contiguous subvectors, train an independent k-means codebook
    * per subspace ([[kmeansCentroids]] — the same 6-dp-rounded Lloyd
    * chain, so the whole trainer stays engine-reproducible), and encode
    * every vector as m small codes. With m=4, k=16 a 64-dim double vector
    * (512 B) becomes 4 nibbles — the compression that keeps a
    * billion-vector ANN index in executor memory; [[quantize]] is the
    * scalar (per-coordinate) alternative at 4×, PQ reaches 100×+ because
    * it quantizes whole subvectors jointly.
    *
    * Plan shape: training is m model-sized driver exchanges; encoding is
    * one corpus scan — all m codebooks ride ONE broadcast 1-row frame
    * (array of matrices, the x39/centroid lesson) and each code is the
    * same [[cellOf]] column algebra over its subvector slice, inside
    * whole-stage codegen. Emits per-vector codes plus the reconstruction
    * MSE (quantization-quality diagnostic; 6-dp rounded).
    */
  def pqCodes(embeddings: DataFrame, m: Int = 4, k: Int = 16,
              iters: Int = 3): DataFrame = {
    val (subDim, books) = pqTrain(embeddings, m, k, iters)
    val coded = pqEncoded(embeddings, subDim, books)
    val dim = subDim * m
    val errSum = (0 until m).map { s =>
      aggregate(
        zip_with(slice(col("v"), s * subDim + 1, subDim),
          element_at(element_at(col("__books"), s + 1), col(s"code$s") + 1),
          (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x)
    }.reduce(_ + _)
    coded.select(col("vec_id") +: col("label") +:
      (0 until m).map(s => col(s"code$s")) :+
      round(errSum / dim, 6).as("mse"): _*)
  }

  /** Train the m per-subspace codebooks; returns (subDim, books) where
    * `books(s)(j)` is subspace s's j-th centroid. Model-sized driver
    * traffic only.
    *
    * Fused (r14): the m independent Lloyd chains run over the SAME corpus
    * rows, so one pass per iteration accumulates all m subspaces' per-cell
    * sums at once — `1 + iters` jobs total instead of `1 + m·(1 + iters)`
    * (sf0.1 is job-count-bound: AQE materializes every action as its own
    * job, and x50/x51/x88 each paid the m-chain setup per invocation).
    * Per (subspace, cell) the additions are the same values folded in the
    * same per-partition row order as the per-subspace chains; only the
    * reduce-side merge tree can differ, which the per-iteration 6-dp
    * HALF_UP rounding absorbs exactly as [[kmeansCentroids]] argues for
    * partition-count invariance ([[pqTrainPerSubspace]] is the retained
    * reference; equality is spec-pinned). The init collect of the k
    * lowest vec_ids' full vectors also yields `dim`, dropping the
    * separate size() probe job.
    */
  private[graft] def pqTrain(embeddings: DataFrame, m: Int, k: Int,
                             iters: Int): (Int, Seq[Seq[Seq[Double]]]) = {
    // same model memo as [[kmeansCentroids]] (books are immutable Seqs —
    // no defensive copy needed)
    pqMemo.getOrElseUpdate(Caches.memoKey(embeddings, s"m=$m|k=$k|it=$iters"))(
      pqTrainRun(embeddings, m, k, iters))
  }

  private def pqTrainRun(embeddings: DataFrame, m: Int, k: Int,
                         iters: Int): (Int, Seq[Seq[Seq[Double]]]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // same shared (vec_id, v) cache as [[kmeansCentroids]] — the PQ chain
    // and the coarse quantizer train over one in-memory projection
    val vecs = Caches.shared(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .as[(Long, Array[Double])]
    val init = vecs.orderBy("vec_id").limit(k).map(_._2).collect()
    // Fail fast on the driver: an empty corpus would otherwise surface as
    // an executor-side ArrayIndexOutOfBounds inside the iteration tasks.
    require(init.nonEmpty, "pqTrain: embeddings corpus is empty")
    // A corpus with fewer than k vectors yields a short codebook
    // (init.length < k); every decode below must use the ACTUAL codebook
    // size, not the requested k, or the (subspace, cell) unflattening
    // writes to the wrong cell.
    val kk = init.length
    val dim = init.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    // books(s)(c) — mutable working copy, sliced from the shared init set
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => init.map(_.slice(s * subDim, (s + 1) * subDim)))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val updated = vecs.rdd.mapPartitions { it =>
        val bs = bc.value
        val mm = bs.length
        val kk = bs(0).length
        val sd = bs(0)(0).length
        val sums = Array.fill(mm * kk)(new Array[Double](sd))
        val counts = new Array[Long](mm * kk)
        it.foreach { case (_, v) =>
          var s = 0
          while (s < mm) {
            val off = s * sd
            var best = 0; var bd = Double.MaxValue
            var c = 0
            while (c < kk) {
              val cent = bs(s)(c)
              var d = 0.0; var i = 0
              while (i < sd) { val t = v(off + i) - cent(i); d += t * t; i += 1 }
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            val acc = sums(s * kk + best)
            var i = 0
            while (i < sd) { acc(i) += v(off + i); i += 1 }
            counts(s * kk + best) += 1
            s += 1
          }
        }
        Iterator.tabulate(mm * kk)(i => (i, (sums(i), counts(i))))
      }.reduceByKey { (a: (Array[Double], Long), b: (Array[Double], Long)) =>
        val (s1, n1) = a; val (s2, n2) = b
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        (s1, n1 + n2)
      }.collect()
      val next = books.map(_.map(_.clone()))
      updated.foreach { case (i, (sms, n)) =>
        if (n > 0) next(i / kk)(i % kk) = sms.map(x =>
          BigDecimal(x / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      books = next
    }
    (subDim, books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** The per-subspace chain form of [[pqTrain]] — m independent
    * [[kmeansCentroids]] runs over sliced projections. Retained as the
    * equality-spec reference for the fused single-pass trainer.
    */
  private[graft] def pqTrainPerSubspace(embeddings: DataFrame, m: Int, k: Int,
                                        iters: Int): (Int, Seq[Seq[Seq[Double]]]) = {
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = (0 until m).map { s =>
      kmeansCentroids(
        embeddings.select(col("vec_id"),
          slice(col("embedding"), s * subDim + 1, subDim).as("embedding")),
        k, iters).map(_.toSeq).toSeq
    }
    (subDim, books)
  }

  /** One-scan PQ encoding: `(vec_id, label, v, __books, code0..code{m-1})`
    * with all m codebooks on the broadcast 1-row `__books` frame.
    */
  private def pqEncoded(embeddings: DataFrame, subDim: Int,
                        books: Seq[Seq[Seq[Double]]],
                        carry: Seq[String] = Nil): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val m = books.length
    val booksFrame = broadcast(Seq(Tuple1(books)).toDF("__books"))
    val codeCols = (0 until m).map { s =>
      cellOf(slice(col("v"), s * subDim + 1, subDim),
        element_at(col("__books"), s + 1)).as(s"code$s")
    }
    embeddings
      .select(col("vec_id") +: col("label") +:
        asDouble(col("embedding")).as("v") +: carry.map(col): _*)
      .crossJoin(booksFrame)
      .select(col("vec_id") +: col("label") +: col("v") +: col("__books") +:
        (carry.map(col) ++ codeCols): _*)
  }

  /** PQ asymmetric-distance top-k (the ADC scan of Jégou 2011 §IV): the
    * query stays full precision; per subspace a k-entry lookup table of
    * squared distances query-subvector → codeword is built driver-side
    * (m·k doubles — model-sized) and broadcast, and each corpus vector's
    * approximate distance is m table lookups + adds over its CODES — the
    * scan never touches the original vectors. At 100 TB this is the whole
    * point of PQ: the hot scan reads m small ints per vector instead of
    * dim doubles, with the LUT in every executor's cache. Returns the
    * `kTop` nearest by ADC distance (6-dp rounded, vec_id tie-break).
    */
  def pqAdcTopK(embeddings: DataFrame, queryVecId: Long, kTop: Int = 10,
                m: Int = 4, k: Int = 16, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (subDim, books) = pqTrain(embeddings, m, k, iters)
    val q: Array[Double] = embeddings.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding"))).as[Array[Double]].head()
    val lut: Seq[Seq[Double]] = (0 until m).map { s =>
      books(s).map { c =>
        var d = 0.0; var i = 0
        while (i < subDim) {
          val t = q(s * subDim + i) - c(i); d += t * t; i += 1
        }
        d
      }
    }
    val lutFrame = broadcast(Seq(Tuple1(lut)).toDF("__lut"))
    val adc = (0 until m).map(s =>
      element_at(element_at(col("__lut"), s + 1), col(s"code$s") + 1))
      .reduce(_ + _)
    pqEncoded(embeddings.where(col("vec_id") =!= queryVecId), subDim, books)
      .crossJoin(lutFrame)
      .select(col("vec_id"), col("label"), round(adc, 6).as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(kTop)
  }

  /** PQ-ADC with an exact-rerank refine stage (the `RefineFlat` wrapper of
    * the FAISS serving stack; Jégou 2011 §VI's reranking): the ADC scan is
    * a lossy shortlist generator — codes can rank a true neighbor just
    * below the cut — so production search over-fetches a `shortlist` of
    * R ≫ k candidates by ADC distance, joins ONLY those R back to their
    * full-precision vectors, and re-sorts by exact distance to the query.
    *
    * The 100 TB shape: the expensive corpus-wide scan still reads m small
    * ints per row ([[pqAdcTopK]]'s plan, unchanged), and the refine stage
    * touches R raw vectors — model-sized, fetched through a broadcast
    * hash join against the shortlist (the corpus side is scanned, the
    * R-row shortlist ships to every executor; no shuffle). Returns the
    * `kTop` nearest by exact squared distance (6-dp rounded, vec_id
    * tie-break), with the shortlist's ADC distance carried for recall
    * diagnostics.
    */
  def pqAdcRefineTopK(embeddings: DataFrame, queryVecId: Long,
                      kTop: Int = 10, shortlist: Int = 50, m: Int = 4,
                      k: Int = 16, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // a shortlist narrower than kTop could never deliver kTop rows —
    // clamp so the "kTop nearest by exact distance" contract holds for
    // any argument combination (shortlist == kTop degenerates to an
    // exact re-sort of the ADC top-k, still well-defined)
    val fetch = math.max(shortlist, kTop)
    val short = pqAdcTopK(embeddings, queryVecId, fetch, m, k, iters)
    val q: Array[Double] = embeddings.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding"))).as[Array[Double]].head()
    val qFrame = broadcast(Seq(Tuple1(q.toSeq)).toDF("__q"))
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(broadcast(short.select("vec_id", "label", "adc_dist")), "vec_id")
      .crossJoin(qFrame)
      .select(col("vec_id"), col("label"), col("adc_dist"),
        round(element_at(org.apache.spark.sql.graftext.SqDistsExpr
          .sqDistsCol(col("v"), array(col("__q"))), 1), 6).as("exact_dist"))
      .orderBy(asc("exact_dist"), asc("vec_id"))
      .limit(kTop)
  }

  /** IVF-PQ search (the IVFADC index of Jégou 2011 §V — the layout FAISS
    * ships as `IVFx,PQy`): a coarse k-means quantizer buckets vectors into
    * cells, PQ codebooks train on the RESIDUALS (vector − cell centroid —
    * residuals concentrate near 0, so the same k codewords spend their
    * precision where the data is), and a query probes only the `nprobe`
    * nearest cells, scanning m-code rows with a per-cell ADC lookup table
    * (the query's residual differs per cell, hence one LUT per cell).
    *
    * This is the full industrial ANN recipe and the top of this library's
    * ladder (brute x5 → LSH x7 → IVF x14/x37 → PQ x50/x51 → IVFPQ): at
    * 100 TB the cell id is the partition key (probes prune partitions —
    * see [[writeCellPartitioned]] + PlanSpec), the scan reads m small ints
    * per row, and every model artifact (centroids, codebooks, LUT stack)
    * is model-sized driver traffic riding broadcast 1-row frames with a
    * data-invariant plan shape.
    */
  /** Residual frame (cell assignment + v − centroid[cell] in one scan),
    * scope-released checkpoint: residual-codebook training makes m·iters
    * passes over it — materialize the (narrow) residuals once instead of
    * re-deriving assignment + subtraction per pass (the x46 lesson).
    * Shared by the inline [[ivfPqTopK]] and the persisted
    * [[writeIvfPqIndex]] so the two stay bit-identical (they share one
    * oracle).
    */
  private def residualFrame(embeddings: DataFrame,
                            cents: Array[Array[Double]]): DataFrame =
    Caches.checkpointed(embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(centroidsFrame(embeddings.sparkSession, cents)))
      .withColumn("cell", cellOf(col("v"), col("__cents")))
      .select(col("vec_id"), col("label"), col("cell"),
        org.apache.spark.sql.graftext.SqDistsExpr.vecSubCol(col("v"),
          element_at(col("__cents"), col("cell") + 1)).as("embedding")))

  /** Query-side IVF-PQ model math, all driver-scale: probe cells by exact
    * centroid distance, then one ADC LUT per cell (the query residual is
    * cell-dependent). Shared by the inline and persisted probes — a
    * tie-break or rounding tweak must hit both or their common oracle
    * catches it.
    */
  private def ivfPqQueryModel(cents: Array[Array[Double]],
                              books: Seq[Seq[Seq[Double]]], subDim: Int,
                              q: Array[Double], nprobe: Int)
      : (Seq[Int], Seq[Seq[Seq[Double]]]) = {
    def sq(a: Array[Double], b: Seq[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < b.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val probes = cents.zipWithIndex
      .map { case (c, cell) => (sq(q, c.toSeq), cell) }
      .sorted.take(nprobe).map(_._2).toSeq
    val luts: Seq[Seq[Seq[Double]]] = cents.indices.map { cell =>
      val rq = q.indices.map(i => q(i) - cents(cell)(i)).toArray
      books.indices.map { s =>
        books(s).map(c => sq(rq.slice(s * subDim, (s + 1) * subDim), c))
      }
    }
    (probes, luts)
  }

  /** m ADC lookups + adds over a row's codes, against the per-cell LUT
    * stack on the broadcast `__luts` frame.
    */
  private def adcExpr(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(element_at(col("__luts"), col("cell") + 1), s + 1),
        col(s"code$s") + 1)).reduce(_ + _)

  def ivfPqTopK(embeddings: DataFrame, queryVecId: Long, kTop: Int = 10,
                nCells: Int = 16, cIters: Int = 5, m: Int = 4, k: Int = 16,
                iters: Int = 3, nprobe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(embeddings, nCells, cIters)
    val dim = cents.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val withRes = residualFrame(embeddings, cents)
    val (_, books) = pqTrain(withRes, m, k, iters)
    val coded = pqEncoded(withRes, subDim, books, carry = Seq("cell"))
    val q: Array[Double] = embeddings.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding"))).as[Array[Double]].head()
    val (probes, luts) = ivfPqQueryModel(cents, books, subDim, q, nprobe)
    val lutFrame = broadcast(Seq(Tuple1(luts)).toDF("__luts"))
    coded
      .where(col("cell").isin(probes: _*) && col("vec_id") =!= queryVecId)
      .crossJoin(lutFrame)
      .select(col("vec_id"), col("label"), col("cell"),
        round(adcExpr(m), 6).as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(kTop)
  }

  // --- persisted index artifacts: train once, serve many (the x70 story
  // for the ANN ladder; reference analog: the train-once/serve-many .npz
  // embedding cache, sql_search.py:1229-1246) ---

  /** Persist an IVF index: the trained centroid table (model-sized) plus
    * the corpus cell-partitioned — each vector lands in parquet partition
    * `cell=<id>`, so probes prune at the FILE LISTING
    * ([[writeCellPartitioned]]'s layout, made a durable artifact with its
    * quantizer attached). `trainSet` defaults to the corpus; pass the full
    * table when queries are held out so both sides share one geometry.
    */
  def writeIvfIndex(embeddings: DataFrame, dir: String, nCells: Int = 16,
                    iters: Int = 5, trainSet: DataFrame = null): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(Option(trainSet).getOrElse(embeddings), nCells, iters)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
    assignCells(embeddings, cents).hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/vectors")
  }

  /** The persisted quantizer, read back — one model-sized parquet read, no
    * Lloyd retrain (spec-asserted via the [[centroidMemo]] miss count).
    */
  private def readCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(dir + "/centroids").orderBy("cell")
      .select("centroid").as[Seq[Double]].collect().map(_.toArray)
  }

  /** Batched kNN probe against a persisted [[writeIvfIndex]] artifact —
    * bit-identical to [[ivfKnnJoin]] over the same corpus/queries
    * (doubles round-trip parquet exactly), with the quantizer READ, not
    * retrained. The probe side's cell equi-join reaches the
    * cell-partitioned scan as a partition filter (dynamic partition
    * pruning — the broadcast probe frame decides which cell directories
    * are listed at all).
    */
  def probeIvfIndex(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int = 5, nprobe: Int = 3): DataFrame = {
    val cents = readCentroids(spark, dir)
    val withCell = spark.read.parquet(dir + "/vectors")
      .select("vec_id", "label", "v", "cell")
    ivfKnnJoinAssigned(withCell, queries, cents, k, nprobe)
  }

  /** Persist an IVF-PQ index ([[ivfPqTopK]]'s layout as a durable
    * artifact): coarse centroids, the m residual codebooks, and the
    * corpus as cell-partitioned CODE rows — the serving scan reads m
    * small ints per vector from only the probed cells' files.
    */
  def writeIvfPqIndex(embeddings: DataFrame, dir: String, nCells: Int = 16,
                      cIters: Int = 5, m: Int = 4, k: Int = 16,
                      iters: Int = 3): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(embeddings, nCells, cIters)
    val dim = cents.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val withRes = residualFrame(embeddings, cents)
    val (_, books) = pqTrain(withRes, m, k, iters)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
    books.zipWithIndex
      .flatMap { case (book, s) => book.zipWithIndex.map { case (c, j) => (s, j, c) } }
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/books")
    pqEncoded(withRes, subDim, books, carry = Seq("cell"))
      .select(col("vec_id") +: col("label") +: col("cell") +:
        (0 until m).map(s => col(s"code$s")): _*)
      .hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir + "/codes")
    // everything derived from the residuals is now ON DISK — release the
    // corpus-sized checkpoint instead of parking it for the session
    Caches.releaseCheckpoint(withRes)
  }

  /** ADC probe against a persisted [[writeIvfPqIndex]] artifact —
    * bit-identical to [[ivfPqTopK]] with the same parameters (codes and
    * model doubles round-trip parquet exactly), with every model artifact
    * READ back (no Lloyd retrain) and the probed cells a STATIC
    * `cell IN (…)` predicate: the driver knows the probe set from the
    * model alone, so the scan plans literal PartitionFilters and lists
    * only nprobe cell directories (spec-asserted).
    */
  def probeIvfPqIndex(spark: SparkSession, dir: String, queries: DataFrame,
                      queryVecId: Long, kTop: Int = 10,
                      nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val cents = readCentroids(spark, dir)
    val bookRows = spark.read.parquet(dir + "/books")
      .select("subspace", "code", "centroid")
      .as[(Int, Int, Seq[Double])].collect()
    val m = bookRows.map(_._1).max + 1
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      bookRows.filter(_._1 == s).sortBy(_._2).map(_._3).toSeq
    }
    val subDim = books.head.head.length
    val q: Array[Double] = queries.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding"))).as[Array[Double]].head()
    val (probes, luts) = ivfPqQueryModel(cents, books, subDim, q, nprobe)
    val lutFrame = broadcast(Seq(Tuple1(luts)).toDF("__luts"))
    spark.read.parquet(dir + "/codes")
      .where(col("cell").isin(probes: _*) && col("vec_id") =!= queryVecId)
      .crossJoin(lutFrame)
      .select(col("vec_id"), col("label"), col("cell"),
        round(adcExpr(m), 6).as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(kTop)
  }

  /** Per-label centroid vectors (the aggregation side of IVF: coarse
    * clusters for probe-restricted search). `array<double>` average via
    * posexplode + groupBy on (label, dim).
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      // explode the raw array, cast per scalar row (see qQuantized note)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "x0")
      .select(col("label"), col("dim"), col("x0").cast("double").as("x"))
      .groupBy("label", "dim")
      .agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p("cx")).as("centroid"))

  // --- query entries ---

  def qAnnTopK(spark: SparkSession, sfDir: String): DataFrame =
    annTopK(Tables.embeddings(spark, sfDir), queryVecId = 0L)

  def qEmbNearDups(spark: SparkSession, sfDir: String): DataFrame =
    nearDuplicatePairsBlocked(Tables.embeddings(spark, sfDir))

  /** Every 50th vector is a "query"; the rest are the corpus. */
  def qKnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    knnJoin(e.where(col("vec_id") % 50 =!= 0), e.where(col("vec_id") % 50 === 0))
  }

  def qAnnLsh(spark: SparkSession, sfDir: String): DataFrame =
    annLshTopK(Tables.embeddings(spark, sfDir), queryVecId = 0L)

  /** Same query/corpus split as [[qKnnJoin]]; the quantizer trains on the
    * full table so the DuckDB oracle can reuse the x14 Lloyd chain.
    */
  def qIvfKnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    ivfKnnJoin(e.where(col("vec_id") % 50 =!= 0), e.where(col("vec_id") % 50 === 0),
      trainSet = e)
  }

  def qIvfRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    ivfRecall(e.where(col("vec_id") % 50 =!= 0), e.where(col("vec_id") % 50 === 0),
      trainSet = e)
  }

  /** Same query/corpus split and full-table quantizer as [[qIvfKnnJoin]]. */
  def qHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    hardNegatives(e.where(col("vec_id") % 50 =!= 0),
      e.where(col("vec_id") % 50 === 0), trainSet = e)
  }

  def qAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    annIvfTopK(Tables.embeddings(spark, sfDir), queryVecId = 0L)

  def qSemanticDedup(spark: SparkSession, sfDir: String): DataFrame =
    semanticDedup(Tables.embeddings(spark, sfDir))

  /** x86: every 10th embedding is "the eval set", the rest the corpus —
    * the same deterministic-split convention as x19/x34/x77.
    */
  def qSemanticDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    semanticDecontaminate(e.where(col("vec_id") % 10 =!= 0),
      e.where(col("vec_id") % 10 === 0), threshold = 0.4)
  }

  /** x86b: the same split through the IVF-celled scale path. */
  def qSemanticDecontamIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    semanticDecontaminateIvf(e.where(col("vec_id") % 10 =!= 0),
      e.where(col("vec_id") % 10 === 0), threshold = 0.4)
  }

  /** x86c: the SERVING half of x86b — the probe against a PERSISTED eval
    * index ([[writeSemanticDecontamIndex]]), built at most once per JVM
    * per corpus fingerprint ([[servedIndexDir]], the x82b/x83b protocol).
    * A real deployment writes the eval index when the benchmark suite
    * changes and decontaminates every arriving corpus shard against it;
    * this row times that steady-state probe. Oracle = x86b's SQL
    * verbatim, so the row hash proves the persisted artifact serves
    * exactly what a fresh train-and-assign would.
    */
  def qSemanticDecontamProbeOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val dir = servedIndexDir(spark, "semdecon_serve", e, sfDir)(d =>
      writeSemanticDecontamIndex(e.where(col("vec_id") % 10 === 0), d))
    probeSemanticDecontamIndex(spark, dir, e.where(col("vec_id") % 10 =!= 0),
      threshold = 0.4)
  }

  /** Quantization codes in long form (vec_id, dim, q, scale) — array
    * columns stay out of the dump so the driver's value hash sees scalars.
    *
    * Shape note: explode the RAW vector first, quantize per scalar row
    * after the Generate. Exploding the quantized array re-evaluates the
    * per-element HOF work under the generator (measured 2.0 s vs 0.23 s
    * steady at sf0.1); post-generate the projection is scalar-only.
    */
  def qQuantized(spark: SparkSession, sfDir: String): DataFrame = {
    val maxabs = array_max(transform(col("__v"), x => abs(x)))
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("__v"))
      .withColumn("__scale", when(maxabs === 0.0d, 1.0d).otherwise(maxabs / 127.0d))
      .select(col("vec_id"), col("__scale"), round(col("__scale"), 6).as("scale"),
        posexplode(col("__v")))
      .toDF("vec_id", "__scale", "scale", "dim", "x")
      .select(col("vec_id"), col("dim"),
        round(col("x") / col("__scale")).cast("int").as("q"), col("scale"))
  }

  def qPqCodes(spark: SparkSession, sfDir: String): DataFrame =
    pqCodes(Tables.embeddings(spark, sfDir))

  def qPqAdcTopK(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcTopK(Tables.embeddings(spark, sfDir), queryVecId = 0L)

  def qPqAdcRefineTopK(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcRefineTopK(Tables.embeddings(spark, sfDir), queryVecId = 0L)

  def qIvfPqTopK(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopK(Tables.embeddings(spark, sfDir), queryVecId = 0L)

  /** x82: x37's batched IVF kNN join through a REAL persisted index — the
    * quantizer and the cell-partitioned corpus go to parquet, are read
    * back, and the query batch probes the files. Shares x37's oracle: a
    * hash match proves the artifact is lossless and serving never retrains.
    * This registered query retrains + rewrites the artifact EVERY run by
    * design (it benches the build pipeline); the serving number lives in
    * x82b ([[qIvfKnnJoinProbeOnly]]).
    */
  def qIvfKnnJoinPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val dir = Artifacts.sessionScopedDir(spark, "ivf_index", sfDir)
    writeIvfIndex(e.where(col("vec_id") % 50 =!= 0), dir, trainSet = e)
    probeIvfIndex(spark, dir, e.where(col("vec_id") % 50 === 0))
  }

  /** x83: x52's IVF-PQ ADC search through a persisted index — centroids,
    * residual codebooks, and cell-partitioned code rows written to parquet
    * and probed from disk with a static cell partition filter. Shares
    * x52's oracle (lossless persistence). Full build+probe cycle per run
    * by design; the serving number lives in x83b ([[qIvfPqProbeOnly]]).
    */
  def qIvfPqTopKPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val dir = Artifacts.sessionScopedDir(spark, "ivfpq_index", sfDir)
    writeIvfPqIndex(e, dir)
    probeIvfPqIndex(spark, dir, e, queryVecId = 0L)
  }

  /** Serve-path artifacts for the probe-only queries (x82b/x83b): the
    * index is built at most once per JVM per (kind, corpus fingerprint) —
    * like trained centroids or [[Bpe]]'s merge table, it is the durable
    * model state a long-lived ANN service holds, so the registered query
    * times the PROBE, not the training chain. The memo/fingerprint
    * machinery lives in [[Artifacts.servedDir]] (shared with the x90 span
    * table); this alias keeps the local call sites.
    */
  private def servedIndexDir(spark: SparkSession, kind: String,
                             corpus: DataFrame, fallbackKey: String)
                            (build: String => Unit): String =
    Artifacts.servedDir(spark, kind, corpus, fallbackKey)(build)

  /** x82b: the SERVING half of x82 — the batched probe against an IVF
    * index built at most once per session (see [[servedIndexDir]]).
    * Oracle = x37's SQL verbatim, so the row hash proves the memoized
    * artifact serves exactly what a fresh build would.
    */
  def qIvfKnnJoinProbeOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val dir = servedIndexDir(spark, "ivf_serve", e, sfDir)(d =>
      writeIvfIndex(e.where(col("vec_id") % 50 =!= 0), d, trainSet = e))
    probeIvfIndex(spark, dir, e.where(col("vec_id") % 50 === 0))
  }

  /** x83b: the SERVING half of x83 — the ADC probe against an IVF-PQ
    * index built at most once per session. Oracle = x52's SQL verbatim.
    */
  def qIvfPqProbeOnly(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val dir = servedIndexDir(spark, "ivfpq_serve", e, sfDir)(writeIvfPqIndex(e, _))
    probeIvfPqIndex(spark, dir, e, queryVecId = 0L)
  }

  def qLabelCentroidNorms(spark: SparkSession, sfDir: String): DataFrame =
    labelCentroids(Tables.embeddings(spark, sfDir))
      .select(col("label"),
        round(sqrt(aggregate(transform(col("centroid"), x => x * x),
          lit(0.0d), (acc, x) => acc + x)), 6).as("centroid_norm"))

  /** IVF index-health report (x68) — the maintenance statistic an ANN
    * deployment reads before deciding to re-train its coarse quantizer:
    * per cell, the population, its share of the corpus, the skew factor
    * vs a uniform spread (n·nCells/total — cells ≫ 1 are probe hotspots,
    * cells ≈ 0 waste the probe budget), and the quantization distortion
    * (mean squared distance to the cell centroid). Empty cells emit a
    * zero row rather than vanishing — an empty cell is exactly what the
    * report exists to surface.
    *
    * Scale shape: one codegen'd scan assigns cells against the broadcast
    * centroid frame (the x37 pattern) and partially aggregates per cell —
    * a ≤nCells-row frame regardless of corpus size; the share/skew window
    * runs over that tiny frame. Distortion sums 6-dp-rounded squared
    * distances in DECIMAL so the aggregate is order-independent and the
    * oracle hash-checks the estimator, not just the counts.
    */
  def ivfCellStats(embeddings: DataFrame, nCells: Int = 16,
                   iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    val centroids = kmeansCentroids(embeddings, nCells, iters)
    val assigned = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(centroidsFrame(spark, centroids)))
      .withColumn("dists",
        org.apache.spark.sql.graftext.SqDistsExpr.sqDistsCol(col("v"), col("__cents")))
      .select(
        (array_position(col("dists"), array_min(col("dists"))) - 1).cast("int")
          .as("cell"),
        round(array_min(col("dists")), 6).cast("decimal(28,6)").as("sqd"))
    val perCell = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum("sqd").as("sumd"))
    val spine = spark.range(nCells).select(col("id").cast("int").as("cell"))
    val global = Window.partitionBy()
    spine.join(perCell, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        col("sumd"))
      .withColumn("total", sum("n_vecs").over(global))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("total"), 6).as("share"),
        round(col("n_vecs").cast("double") * nCells / col("total"), 4).as("skew"),
        round(when(col("n_vecs") > 0,
          col("sumd").cast("double") / col("n_vecs")).otherwise(0.0), 6)
          .as("avg_sqdist"))
  }

  def qIvfCellStats(spark: SparkSession, sfDir: String): DataFrame =
    ivfCellStats(Tables.embeddings(spark, sfDir))
}
