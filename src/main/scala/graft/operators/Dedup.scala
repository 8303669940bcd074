package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines — the
  * beyond-the-reference pack: exact hashing, token-shingle Jaccard,
  * MinHash-LSH, and SimHash. The reference's only dedup is the exact
  * TF-cosine O(n²) pass ([[Duplicates]]); these are the sub-quadratic
  * engines a 100 TB corpus needs:
  *
  *  - exact: one hash-shuffle on a content digest — finds byte-identical
  *    documents at any scale;
  *  - n-gram Jaccard: inverted-index join on 3-token shingles — exact
  *    set-overlap, only meets documents sharing a shingle;
  *  - MinHash-LSH: 32 permutations, 8 bands × 4 rows — candidate pairs
  *    come from band-bucket joins (documents only meet if a band collides),
  *    then are scored by signature agreement. Fully built-in columnar ops,
  *    no UDFs, codegen-friendly;
  *  - SimHash: 64-bit weighted fingerprint; near-dup candidates share one
  *    of four 16-bit chunks (Hamming ≤ 3 guarantee per the pigeonhole
  *    argument), verified with `bit_count(xor)`.
  */
object Dedup {

  // deterministic MinHash permutation parameters: (a·x + b) mod p over a
  // Mersenne prime, generated by a fixed LCG so every run and engine agrees.
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand: Int = NumHashes / NumBands
  val Prime = 2147483647L // 2^31 - 1
  private val lcg = {
    var state = 42L
    () => { state = (state * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; state }
  }
  val HashParams: Seq[(Long, Long)] =
    Seq.fill(NumHashes)((1L + lcg() % (Prime - 1), lcg() % Prime))

  /** Engine-portable 60-bit hash: the first 15 hex digits of md5, as a
    * long. Identical in any engine with md5 (`conv(substr(md5(x),1,15),
    * 16,10)` here ≡ `('0x' || substr(md5(x),1,15))::BIGINT` in DuckDB),
    * which makes every signature built on it oracle-checkable. Slightly
    * costlier per row than xxhash64, but the hash runs once per distinct
    * shingle/token — noise next to the joins it feeds.
    */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Token 3-shingles from an already-materialized token-array column
    * (documents shorter than 3 tokens become a single whole-document
    * shingle).
    *
    * `tokens` MUST be a plain column reference, not the tokenizer
    * expression: subexpressions are not eliminated across lambda
    * boundaries, so inlining `TextFns.tokens` here would re-run the regex
    * extraction for every `element_at` of every shingle — measured 34×
    * slower at sf0.1.
    */
  def shinglesFromTokens(tokens: Column): Column =
    when(size(tokens) < 3, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(0), size(tokens) - 3), i =>
        concat_ws(" ",
          element_at(tokens, i + 1), element_at(tokens, i + 2), element_at(tokens, i + 3))))

  /** Distinct shingles per document, pre-hashed to [[md5Long60]]-valued
    * longs via the fused [[org.apache.spark.sql.graftext.ShingleHashExpr]]
    * kernel (raw-60-bit mode — tokens go straight into the digest, no
    * shingle strings or hex round-trip): the dedup shuffle and every
    * downstream join carry an 8-byte key instead of a ~30-byte shingle
    * string (dedup-on-hash ≡ dedup-on-string up to md5 collisions, and
    * the DuckDB oracle hashes identically, so both engines agree
    * exactly). Cached: the Jaccard and MinHash paths both consume
    * this subtree, and the CacheManager dedupes the two `.cache()` calls
    * into one entry by canonical plan, so whichever runs first materializes
    * it for both.
    */
  private[graft] def distinctShingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(org.apache.spark.sql.graftext.ShingleHashExpr
        .shingleHashes(col("toks"), 0L)).as("h60"))
      .distinct()
      .transform(Caches.shared)

  /** Per-doc sorted shingle-set arrays `(doc_id, hs, n)` — the verify-phase
    * input of every pair family. Shared-cached (r14): the Jaccard and
    * containment verifies consume the identical aggregate over the same
    * `ds` (member-level over the corpus, rep-level over `repDocs`), and the
    * CacheManager dedupes the canonical plans into one entry per corpus.
    */
  private[graft] def shingleArrays(ds: DataFrame): DataFrame = Caches.shared(
    ds.groupBy("doc_id")
      .agg(sort_array(collect_list("h60")).as("hs"), count(lit(1)).as("n")))

  /** The rarest-first ranked shingle index of `f`'s representatives,
    * `(doc_id, h60, r, s)` plus `fam_n` for the digest family: each rep's
    * shingles ranked by global (df, h60) order with its set size alongside.
    * The df is member-weighted (Σ family sizes — identical values to the
    * full-corpus df, so the rarest-first order matches the member plan
    * exactly). Threshold-INDEPENDENT — the prefix cut is a filter on
    * `r`/`s` applied by the caller — so the Jaccard (x2/x2b) and
    * containment (x36/x36b) candidate generators share one cached build of
    * the df aggregate + double window per family (guide §2.4: two
    * operations keyed the same way share one exchange).
    */
  private[graft] def rankedShingles(f: Families): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = f.weigh(distinctShingleHashes(f.repDocs))
    val dfs = ds.groupBy("h60").agg(sum(f.weight).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy("df", "h60")
    val perDoc = Window.partitionBy("doc_id")
    Caches.shared(ds.join(dfs, "h60")
      .withColumn("r", row_number().over(byRarity))
      .withColumn("s", count(lit(1)).over(perDoc))
      .drop("df"))
  }

  /** Exact duplicate groups via content digest (hash-groupBy — one shuffle
    * carrying only (digest, id)). Groups of byte-identical text.
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).as("group_size"), min("doc_id").as("keep_doc"),
           sort_array(collect_list("doc_id")).as("doc_ids"))
      .where(col("group_size") > 1)

  /** Hot-key guard shared by the candidate-generating inverted-index joins:
    * drops join keys whose membership exceeds `maxBucketSize` rows via a
    * broadcast anti-join (the oversized-key set is tiny by construction —
    * at most totalRows / maxBucketSize keys). `maxBucketSize <= 0` is the
    * exact/uncapped mode the oracles run in.
    *
    * Why drop rather than salt-split: a key binding more than B documents
    * at realistic B means B(B−1)/2 within-key candidate pairs — quadratic
    * fan-out concentrated on one shuffle key, the single way these joins
    * die on a duplicate-heavy 100 TB corpus. Such keys are either viral
    * boilerplate (license headers, nav bars — anti-signal for similarity)
    * or giant exact-duplicate families that [[exactDuplicates]]' linear
    * digest pass already groups; near-dup pairs inside them still collide
    * on their other, rarer keys. Dropping bounds every bucket's pair
    * generation at B², keeps the plan a pure equi-join, and loses only
    * pairs whose *every* shared key is corpus-hot.
    *
    * Why the `broadcast` of the drop set is safe at 100 TB: an oversized
    * key accounts for MORE than `maxBucketSize` of the input rows, so the
    * drop set's cardinality is bounded by rows/maxBucketSize — at any
    * realistic cap (10³–10⁴) that is 3–4 orders of magnitude below the
    * row count, and each row is just the key columns. The adversarial
    * mass case (a corpus that is mostly byte-identical families, where
    * "rows/cap" is still large) never reaches this join: capped mode
    * dispatches digest-first, which collapses those families to one
    * representative each BEFORE bucketing ([[familiesFor]]: the LSH band
    * rows and the ranked shingle rows are rep-level), so the frame being
    * capped is already family-deduped.
    *
    * A bucket's population is Σ `weight` over its rows: 1 each, or the
    * digest family's `fam_n` (joined by `weigh` into the drop-set input
    * where rows lack it), so a digest drop set is the member plan's.
    */
  private[graft] def capBuckets(rows: DataFrame, keys: Seq[String],
                                maxBucketSize: Int, weight: Column = lit(1L),
                                weigh: DataFrame => DataFrame = identity): DataFrame =
    if (maxBucketSize <= 0) rows
    else rows.join(broadcast(oversizedBuckets(weigh(rows), keys, maxBucketSize, weight)),
                   keys, "left_anti")

  /** The keys [[capBuckets]] would drop — exposed for specs and for
    * drop-side observability (log/inspect what a capped run excluded).
    */
  private[graft] def oversizedBuckets(rows: DataFrame, keys: Seq[String],
                                      maxBucketSize: Int,
                                      weight: Column = lit(1L)): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sum(weight).as("bucket_n"))
      .where(col("bucket_n") > maxBucketSize)
      .select(keys.map(col): _*)

  /** N-gram (3-token shingle) Jaccard similarity pairs ≥ threshold.
    * Threshold applies to the 6-decimal-rounded value for oracle stability.
    *
    * Two-phase exact plan: candidates from a *prefix-filtered* inverted
    * index ([[prefixCandidates]] — only each document's rarest
    * `|s| − ⌈t·|s|⌉ + 1` shingles generate join rows, which prunes the
    * quadratic fan-out without losing any pair with J ≥ t), then the exact
    * intersection recomputed per candidate over the FULL shingle sets, so
    * reported values are identical to the naive all-pairs join the DuckDB
    * oracle runs.
    *
    * `maxShingleDf` (0 = exact mode, the oracle path) is the 100 TB guard
    * on top: one viral shingle shared by 1M documents would alone
    * materialize ~5·10¹¹ candidate rows even from a prefix index, so
    * capped mode drops corpus-hot shingles from the *candidate* stage
    * ([[capBuckets]] on `h60`). Scores stay exact either way — the only
    * capped-mode difference is recall: pairs whose shared prefix shingles
    * are all corpus-hot are not candidates (at θ ≥ 0.5 that requires a
    * document made of boilerplate, which dedup should drop anyway).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                   maxShingleDf: Int = 0): DataFrame =
    jaccardPairsOver(familiesFor(docs, maxShingleDf > 0), threshold, maxShingleDf)

  /** The family the pair kernels run over: digest when capped (capping
    * exists because the corpus is duplicate-heavy, which is exactly where
    * the collapse wins) or when [[digestArmUncapped]] says so. Both
    * families give identical output: this picks a cost, never a result.
    */
  private[graft] def familiesFor(docs: DataFrame, capped: Boolean): Families =
    if (capped || digestArmUncapped(docs)) digestFamilies(docs) else identityFamilies(docs)

  /** Uncapped-mode dispatch for [[familiesFor]]: the identity family's
    * cost on a byte-identical family of f docs is O(f²) candidates +
    * verifies, so on a duplicate-saturated corpus even EXACT mode wants
    * the digest-first collapse (which is output-identical — spec-pinned
    * uncapped as well as capped). The deciding statistic is
    * the exact-duplicate mass `1 − families/docs`, read from one linear
    * digest pass over the cached [[digestFamilies]] digest frame — a scan
    * the digest arm then REUSES via the shared cache, so the probe is only
    * ever wasted on corpora that stay member-level (where it is one narrow
    * linear job). Round-9 probes (NOTES): at family size f=10 (dup mass
    * 0.9, 5k docs) digest-first wins 2× warm (2.06 → 1.03 s); at f=100
    * (mass 0.99, 50k docs) it wins 10×+ (10.6–15.3 → 1.05 s) and the gap
    * grows as f²; on a clean corpus (sf0.1, mass 0.002) the dispatch
    * probe costs ~0.1–0.2 s — inside run noise. Threshold 0.05 sits far
    * below every regime where the arms measurably differ, and both arms
    * are output-identical (spec-pinned), so the exact cut is uncritical.
    * Capped mode runs digest-first unconditionally; an A/B run of the two
    * arms calls a kernel's `*Over` builder with [[identityFamilies]] or
    * [[digestFamilies]].
    */
  private[graft] def digestArmUncapped(docs: DataFrame): Boolean =
    dupMassVerdict(Caches.planMemoKey(docs))(digestFamilies(docs).fams)

  /** Session memo of the dup-mass probe verdict (one boolean per corpus
    * fingerprint), shared by the document ([[digestArmUncapped]]) and the
    * embedding (`VectorSearch.embDigestArm`) probes — their keys are plans
    * over different corpora, so they cannot collide. Every
    * dispatch-selected family (jaccard, containment, LSH, calibration,
    * n6/n6b, the x-vec pair ops) runs the probe per invocation, and the
    * statistic is a corpus property — r13's VERDICT measured the repeated
    * probe job at 0.1–0.25 s per sub-second row.
    */
  private val dupMassMemo = new Caches.Memo[Boolean](32)

  /** The digest-first verdict for the corpus under `key`: collapsing its
    * byte-identical families removes at least 5% of its `n` rows
    * (`1 - families/n >= 0.05`, counted over `fams`: one row per family,
    * `fam_n` members).
    */
  private[graft] def dupMassVerdict(key: String)(fams: => DataFrame): Boolean =
    dupMassMemo.getOrElseUpdate(key) {
      val row = fams.agg(count(lit(1)), sum("fam_n")).head()
      val n = if (row.isNullAt(1)) 0L else row.getLong(1)
      n > 0 && 1.0 - row.getLong(0).toDouble / n >= 0.05
    }

  /** Documents grouped into byte-identical families, the input of the
    * pair kernels' one builder each ([[jaccardPairsOver]],
    * [[containmentPairsOver]], [[lshPairsOver]]): `fams` `(rep_id, fam_n)`
    * with `rep_id = min(doc_id)`, `members` `(doc_id, rep_id, fam_n)` for
    * every document, and `repDocs`, one representative per family.
    * [[identityFamilies]] (every document its own family) sets `identity`,
    * so the kernels skip what it makes trivial: no digest pass, a literal
    * weight, no expansion and no within-family pairs.
    *
    * Why collapse: on a duplicate-saturated corpus the member plan goes
    * superlinear for a self-inflicted reason — a byte-identical family of
    * f documents puts f identical rows behind every one of its join keys,
    * so the candidate join emits O(f²) pairs per family and the verify
    * recomputes the same full-set intersection f²/2 times. Byte-identical
    * grouping is a LINEAR digest shuffle ([[exactDuplicates]]' pass), so
    * the kernels resolve families first and run the candidate+verify
    * machinery on one representative per family.
    *
    * Output over the digest family is IDENTICAL to output over the
    * identity family (spec-checked per kernel), because every per-member
    * quantity is family-constant and re-derivable:
    *
    *  - shingle df and bucket populations are member-weighted (Σ `fam_n`,
    *    [[weight]]), so the global rarest-first order, each document's
    *    prefix cut, and the over-cap key sets all match the full corpus —
    *    a member's (r, s) prefix row equals its representative's;
    *  - a cross-family candidate (a∈A, b∈B) exists iff the (rep_A, rep_B)
    *    candidate exists (identical shingle sets ⇒ identical join keys,
    *    band keys and filter outcomes), and its verified score is the
    *    reps' score — so rep pairs expand through the member frame;
    *  - a within-family pair is a candidate iff the rep passes its
    *    kernel's self-join condition — for Jaccard, some surviving capped
    *    prefix key self-joins past the positional filter with
    *    r1 = r2 = r, s1 = s2 = s: `1 + s − r ≥ 2s·t/(1+t)`; qualifying
    *    families emit all member pairs at similarity 1.0 (byte-identical
    *    sets), non-qualifying ones none (the documented capped-recall
    *    trade: viral families are [[exactDuplicates]]' job).
    */
  private[graft] final case class Families(fams: DataFrame, members: DataFrame,
                                           repDocs: DataFrame, identity: Boolean) {

    /** A rep row's family size: the literal 1, or the `fam_n` column. */
    def weight: Column = if (identity) lit(1L) else col("fam_n")

    /** `rows` (keyed by a rep `doc_id`) with its `fam_n`; as is under identity. */
    def weigh(rows: DataFrame): DataFrame =
      if (identity) rows
      else rows.join(fams.select(col("rep_id").as("doc_id"), col("fam_n")), "doc_id")

    /** Shared-caches a rep-level frame the digest family's kernel reads
      * more than once: the warm path reads the capped prefix straight from
      * memory (the cap aggregate + anti-join measured ~0.9 s/run on the
      * planted fixture when recomputed), while the cold build derives it
      * cheaply from the shared ranked cache. Identity frames stay as they
      * are: uncapped (the only dispatched identity mode) they are filters
      * over an already shared frame.
      */
    def shared(df: DataFrame): DataFrame = if (identity) df else Caches.shared(df)

    /** The member pairs of the rep pairs `repPairs` (`id1 < id2`, values):
      * each expanded to the member pairs of its two families (`swapped`
      * value columns trade places where member order flips the reps' — an
      * asymmetric score), plus the pairs within each family of `reps`
      * (`rep_id`, columns `within` reads) valued by `within`. Under
      * identity: `repPairs` itself, no join planned.
      */
    def memberPairs(repPairs: DataFrame, reps: => DataFrame, within: Seq[Column],
                    swapped: Map[String, String] = Map.empty): DataFrame =
      if (identity) repPairs
      else expand(repPairs, swapped).unionByName(withinPairs(reps, within))

    private def expand(repPairs: DataFrame, swapped: Map[String, String]): DataFrame = {
      val m = members.select(col("rep_id"), col("doc_id"))
      val fwd = col("a") < col("b") // member order agrees with rep order
      val values = repPairs.columns.filterNot(Set("id1", "id2")).map(c =>
        swapped.get(c).fold(col(c))(o => when(fwd, col(c)).otherwise(col(o)).as(c)))
      repPairs
        .join(m.select(col("rep_id").as("id1"), col("doc_id").as("a")), "id1")
        .join(m.select(col("rep_id").as("id2"), col("doc_id").as("b")), "id2")
        .select(least(col("a"), col("b")).as("id1") +:
          greatest(col("a"), col("b")).as("id2") +: values.toSeq: _*)
    }

    private def withinPairs(reps: DataFrame, within: Seq[Column]): DataFrame = {
      // no broadcast hint: the qualifying-family set is corpus-dependent
      // (could be millions of small families) — let AQE pick the join side
      val famMembers = members.join(reps, "rep_id")
      famMembers.withColumnRenamed("doc_id", "a")
        .join(famMembers.select(col("rep_id"), col("doc_id").as("b")), "rep_id")
        .where(col("a") < col("b"))
        .select(col("a").as("id1") +: col("b").as("id2") +: within: _*)
    }
  }

  /** Byte-identical family resolution — the shared front half of every
    * digest-first path (the pair kernels over [[Families]],
    * [[Duplicates.components]]): one linear digest shuffle. `fams` also
    * carries the `digest`; `fams` and `members` are cached, and so is the
    * digest frame itself, so they share ONE md5 scan of the corpus.
    */
  private[graft] def digestFamilies(docs: DataFrame): Families = {
    // null-text docs must NOT collapse into one "byte-identical" family
    // (md5(null) = null would group them); a per-doc digest keeps each a
    // singleton, which is also what the member-level plans compute for
    // them (no text -> no shingles/terms -> no pairs)
    val digests = Caches.shared(
      docs.select(col("doc_id"),
        coalesce(md5(col("text").cast("binary")),
          concat(lit("null:"), col("doc_id"))).as("digest")))
    val fams = Caches.shared(digests.groupBy("digest")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("fam_n")))
    val members = Caches.shared(
      digests.join(fams, "digest").select("doc_id", "rep_id", "fam_n"))
    val repDocs = docs.join(fams.select(col("rep_id").as("doc_id")), "doc_id")
    Families(fams, members, repDocs, identity = false)
  }

  /** Every document its own family — the member-level plan; no digest
    * pass (the kernels read only `repDocs` = `docs`).
    */
  private[graft] def identityFamilies(docs: DataFrame): Families = {
    val members = docs.select(col("doc_id"), col("doc_id").as("rep_id"), lit(1L).as("fam_n"))
    Families(members.drop("doc_id"), members, docs, identity = true)
  }

  /** [[jaccardPairs]] over the family `f`: PPJoin candidates and the
    * exact verify over `f`'s reps, then [[Families.memberPairs]] with the
    * positional within-family rule.
    */
  private[graft] def jaccardPairsOver(f: Families, threshold: Double,
                                      maxShingleDf: Int): DataFrame = {
    val tEff = math.max(0.0, threshold - 1e-6)
    // the shingle subtree is referenced three times (arrays + the prefix
    // index); the shared cache in [[distinctShingleHashes]] keeps it to
    // one run
    val capped = jaccardPrefix(f, tEff, maxShingleDf)
    val repPairs = verifyOverArrays(prefixJoin(capped, tEff),
        shingleArrays(distinctShingleHashes(f.repDocs)))
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / (col("s1") + col("s2") - col("inter")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
    f.memberPairs(repPairs,
      capped.where(lit(1) + col("s") - col("r") >= lit(2.0 * tEff / (1.0 + tEff)) * col("s"))
        .select(col("doc_id").as("rep_id")).distinct()
        .join(f.fams.where(col("fam_n") > 1).select("rep_id"), "rep_id"),
      Seq(lit(1.0).as("jaccard")))
  }

  /** Candidate rows `(id1, id2, …)` plus `inter` = |hs1 ∩ hs2| and the
    * set sizes `s1`, `s2` from the shingle-set arrays ([[shingleArrays]]):
    * two equi-joins on doc_id and a per-row `array_intersect` per
    * candidate — versus an expand-join form that re-shuffles
    * |shingles(id1)| rows per candidate through an (id2, h60) join and a
    * groupBy. Candidates are pruned, so few pairs reach here.
    */
  private def verifyOverArrays(candidates: DataFrame, arrays: DataFrame): DataFrame =
    candidates
      .join(arrays.select(col("doc_id").as("id1"), col("hs").as("hs1"),
        col("n").as("s1")), "id1")
      .join(arrays.select(col("doc_id").as("id2"), col("hs").as("hs2"),
        col("n").as("s2")), "id2")
      .select(candidates.columns.toSeq.map(col) ++ Seq(
        size(array_intersect(col("hs1"), col("hs2"))).as("inter"),
        col("s1"), col("s2")): _*)

  /** Each rep's rarest-first Jaccard prefix — its first `s − ⌈t·s⌉ + 1`
    * ranked rows (`r`/`s` ride along for the length/positional filters) —
    * minus the member-weighted over-cap keys.
    */
  private def jaccardPrefix(f: Families, tEff: Double, maxShingleDf: Int): DataFrame =
    f.shared(capBuckets(
      rankedShingles(f).where(col("r") <= col("s") - ceil(col("s") * tEff) + 1),
      Seq("h60"), maxShingleDf, f.weight))

  /** Distinct candidate pairs from the prefix-filtered (and optionally
    * df-capped) shingle index of `f`'s representatives — phase one of
    * [[jaccardPairs]].
    *
    * Prefix filtering (Chaudhuri et al. 2006, "A Primitive Operator for
    * Similarity Joins"; Xiao et al. 2008, PPJoin): order every document's
    * shingles by a global rarest-first total order (df, then hash). If
    * J(x, y) ≥ t, the two sets differ in at most `|s| − ⌈t·|s|⌉` elements,
    * so x and y MUST share an element inside their first
    * `|s| − ⌈t·|s|⌉ + 1` shingles under any common total order — indexing
    * only that prefix is exact, and rarest-first makes the indexed keys
    * precisely the low-df ones, collapsing the join's Σ df² fan-out.
    * `t = 0` degenerates to the full index. The candidate threshold backs
    * off by the 6-dp rounding margin so a pair whose true J sits just
    * under t but *rounds* to t (which the verify phase would keep, like
    * the oracle does) is still generated.
    */
  private[graft] def prefixCandidates(f: Families, threshold: Double,
                                      maxShingleDf: Int = 0): DataFrame = {
    val tEff = math.max(0.0, threshold - 1e-6)
    prefixJoin(jaccardPrefix(f, tEff, maxShingleDf), tEff)
  }

  /** The candidate self-join of [[prefixCandidates]] over capped prefix
    * rows: `r` (the shingle's 1-based rank in the doc's rarest-first
    * order) and `s` (the doc's set size) ride along into the join for the
    * length/positional filters.
    */
  private def prefixJoin(capped: DataFrame, tEff: Double): DataFrame = {
    // PPJoin's two exact per-match prunes (Xiao et al. 2008), applied before
    // the dedup so the quadratic fan-out dies at the join:
    //  - length filter: J ≥ t forces min(s1,s2)/max(s1,s2) ≥ t;
    //  - positional filter: for a shared shingle at ranks (r1, r2), every
    //    further shared shingle sits strictly after both ranks, so
    //    |∩| ≤ 1 + min(s1−r1, s2−r2), while J ≥ t forces
    //    |∩| ≥ t/(1+t)·(s1+s2). Comparing against the un-ceiled real bound
    //    is the safe (weaker) side, and tEff keeps the 6-dp rounding margin.
    val alpha = lit(tEff / (1.0 + tEff)) * (col("s1") + col("s2"))
    capped.select(col("doc_id").as("id1"), col("h60"),
        col("r").as("r1"), col("s").as("s1"))
      .join(capped.select(col("doc_id").as("id2"), col("h60"),
        col("r").as("r2"), col("s").as("s2")), "h60")
      .where(col("id1") < col("id2"))
      .where(least(col("s1"), col("s2")) >= lit(tEff) * greatest(col("s1"), col("s2")))
      .where(lit(1) + least(col("s1") - col("r1"), col("s2") - col("r2")) >= alpha)
      .select("id1", "id2").distinct()
  }

  /** Asymmetric shingle-set containment pairs: C(A→B) = |A∩B| / |A| — the
    * signal Jaccard misses. A short document wholly quoted inside a long one
    * (a page embedded in a crawl of its parent, a README pasted into a
    * mega-doc) has tiny Jaccard (the union is dominated by the long side)
    * but containment ≈ 1 on the short side. Web-scale dedup pipelines run
    * both: Jaccard for near-copies, containment for subsumption.
    *
    * A pair is reported when `max(C(A→B), C(B→A)) = |∩| / min(|A|,|B|)`
    * reaches `threshold` (on the 6-dp-rounded value, oracle-stable); both
    * directed containments ride along so callers can tell subsumption
    * (one side ≈ 1) from mutual overlap.
    *
    * Candidate generation is prefix-filter exact for this predicate: if
    * |A∩B| ≥ ⌈t·|A|⌉ then at most |A| − ⌈t·|A|⌉ of A's shingles fall
    * outside B, so A's first |A| − ⌈t·|A|⌉ + 1 shingles under the global
    * rarest-first order must hit B — indexing only each document's prefix
    * *as the contained side* against the full index on the other side
    * loses nothing (the min-size side is the one whose containment crosses
    * t first, and both orientations join). Verification then recomputes
    * the exact intersection from the full per-doc shingle-set arrays, so
    * capped mode (`maxShingleDf` > 0, the 100 TB guard) only trades recall
    * of pairs whose every shared prefix shingle is corpus-hot — scores are
    * never approximated.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.6,
                       maxShingleDf: Int = 0): DataFrame =
    containmentPairsOver(familiesFor(docs, maxShingleDf > 0), threshold, maxShingleDf)

  /** [[containmentPairs]] over the family `f`. Candidates: each rep's
    * rarest-first prefix (cut at `s − ⌈t·s⌉ + 1`, the containment-side
    * bound) joined against the FULL index — the contained side only needs
    * its own prefix indexed, but the containing side must stay whole (its
    * size gives no bound on which of its shingles the small side hits).
    * Both orientations come out of the one join because every document
    * appears on both sides. No length filter applies (containment has no
    * size-ratio constraint — that asymmetry is the point); the candidate
    * threshold backs off by the 6-dp rounding margin like
    * [[prefixCandidates]].
    *
    * Containment is ASYMMETRIC, so expansion is orientation-aware: a rep
    * row (r1 < r2, s1, s2, c1, c2) expands to member pair (a, b) with the
    * s/c columns swapped whenever the members' id order flips relative to
    * the reps'. Within-family pairs (identical sets ⇒ both containments
    * 1.0) are emitted for families with at least one prefix key surviving
    * BOTH caps — exactly the member-level candidate condition with no
    * positional filter to model.
    */
  private[graft] def containmentPairsOver(f: Families, threshold: Double,
                                          maxShingleDf: Int): DataFrame = {
    val tEff = math.max(0.0, threshold - 1e-6)
    // the same shared ranked index as [[prefixCandidates]] — one cached
    // build serves both the Jaccard and containment candidate generators;
    // the prefix is a filter over it, the full side a projection. The
    // digest family caches both capped sides (the warm candidate join
    // reads them twice), each derived from the one ranked cache.
    val ranked = rankedShingles(f)
    def capSide(rows: DataFrame): DataFrame =
      f.shared(capBuckets(rows.drop("r", "s"), Seq("h60"), maxShingleDf, f.weight))
    val cappedP = capSide(ranked.where(col("r") <= col("s") - ceil(col("s") * tEff) + 1))
    val cappedF = capSide(ranked)
    val candidates = cappedP.select(col("doc_id").as("ida"), col("h60"))
      .join(cappedF.select(col("doc_id").as("idb"), col("h60")), "h60")
      .where(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
      .distinct()
    val arrays = shingleArrays(distinctShingleHashes(f.repDocs))
    val repPairs = verifyOverArrays(candidates, arrays)
      .select(col("id1"), col("id2"), col("s1"), col("s2"),
        round(col("inter").cast("double") / col("s1"), 6).as("c1"),
        round(col("inter").cast("double") / col("s2"), 6).as("c2"),
        round(col("inter").cast("double") / least(col("s1"), col("s2")), 6)
          .as("containment"))
      .where(col("containment") >= threshold)
    // within-family: candidate iff some prefix key of the rep survives
    // BOTH drop sets (prefix side AND full side)
    f.memberPairs(repPairs,
      cappedP.join(cappedF.select("doc_id", "h60"), Seq("doc_id", "h60"), "left_semi")
        .select(col("doc_id").as("rep_id")).distinct()
        .join(f.fams.where(col("fam_n") > 1).select("rep_id"), "rep_id")
        .join(arrays.select(col("doc_id").as("rep_id"), col("n")), "rep_id"),
      Seq(col("n").as("s1"), col("n").as("s2"),
        lit(1.0).as("c1"), lit(1.0).as("c2"), lit(1.0).as("containment")),
      swapped = Map("s1" -> "s2", "s2" -> "s1", "c1" -> "c2", "c2" -> "c1"))
  }

  /** The naive single-join form (every co-shingled pair aggregates |∩|
    * directly) — the shape the DuckDB oracle runs; kept as the reference
    * for the prefix-filter equality spec.
    */
  private[graft] def jaccardPairsNaive(docs: DataFrame,
                                       threshold: Double = 0.5): DataFrame = {
    val ds = distinctShingleHashes(docs)
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    ds.select(col("doc_id").as("id1"), col("h60"))
      .join(ds.select(col("doc_id").as("id2"), col("h60")), "h60")
      .where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n_shingles").as("s1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n_shingles").as("s2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / (col("s1") + col("s2") - col("inter")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash signatures: per document, the 32-vector of
    * min((a·h + b) mod p) over its shingle hashes.
    *
    * Shape note: one narrow `collect_list` aggregation + the fused
    * [[org.apache.spark.sql.graftext.MinHashSigExpr]] kernel over the
    * (permutation × shingle-hash) grid, NOT 32 separate min() columns —
    * a 32-column aggregate costs ~5 s of one-time whole-stage-codegen
    * compilation (measured; the narrow form runs cold in 0.7 s with
    * identical output, since the per-permutation min is order-insensitive
    * to collect_list's nondeterministic ordering). The kernel replaced the
    * earlier nested-HOF grid (kept as [[minhashSignaturesHof]] for the
    * equality spec): Spark's higher-order functions evaluate their lambdas
    * on the interpreted path, so the HOF form cost 32×|shingles|
    * interpreted applications per document — the dominant per-doc cost in
    * the w15 100× streaming-admission smoke.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.MinHashSigExpr.minhashSig
    val hashed = distinctShingleHashes(docs)
      .select(col("doc_id"), pmod(col("h60"), lit(Prime)).as("h"))
    val as = HashParams.map(_._1).toArray
    val bs = HashParams.map(_._2).toArray
    hashed.groupBy("doc_id").agg(collect_list("h").as("hs"))
      .select(col("doc_id"), minhashSig(col("hs"), as, bs, Prime).as("signature"))
  }

  /** The nested-HOF signature form used before the fused kernel — retained
    * (like [[jaccardPairsNaive]]) as the reference implementation for the
    * kernel-equality spec.
    */
  private[graft] def minhashSignaturesHof(docs: DataFrame): DataFrame = {
    val hashed = distinctShingleHashes(docs)
      .select(col("doc_id"), pmod(col("h60"), lit(Prime)).as("h"))
    val as = HashParams.map(_._1).toArray
    val bs = HashParams.map(_._2).toArray
    hashed.groupBy("doc_id").agg(collect_list("h").as("hs"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(NumHashes - 1)), i =>
          array_min(transform(col("hs"), h =>
            pmod(h * element_at(lit(as), i + 1) + element_at(lit(bs), i + 1),
              lit(Prime))))).as("signature"))
  }

  /** `(doc_id, band_idx, band_key)` rows for a signature frame — the LSH
    * bucket keys both the batch pair join and the streaming admission
    * state are built on.
    */
  private[graft] def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
          md5Long60(concat_ws("_", b,
            slice(col("signature"), b * RowsPerBand + 1, lit(RowsPerBand)))))))
      .toDF("doc_id", "band_idx", "band_key")

  /** MinHash-LSH candidate pairs with estimated Jaccard = fraction of
    * agreeing signature positions. Candidates come only from band-bucket
    * collisions (8 bands × 4 rows), so the join never goes quadratic in the
    * corpus — the 100 TB path the exact pass can't take.
    *
    * Band buckets are content-derived, so the duplicate-heavy corpora this
    * operator exists for are exactly the ones that concentrate members
    * into hot buckets (a 1M-copy boilerplate family = one bucket with
    * ~5·10¹¹ within-bucket pairs). `maxBucketSize` (0 = uncapped, the
    * oracle path) bounds that via [[capBuckets]]: oversized band buckets
    * are dropped from candidate generation; giant identical families are
    * [[exactDuplicates]]' job, and genuine near-dups inside a dropped
    * bucket still collide in their other 7, typically smaller, bands.
    *
    * Family dispatch, shared with [[jaccardPairs]] ([[familiesFor]]):
    * capped mode always runs digest-first, and uncapped mode routes
    * through the dup-mass probe ([[digestArmUncapped]] — one linear
    * aggregate over the suite-shared digest frame). This automates the
    * x78 bucket ledger's only actionable reading: the ledger saturates
    * (every band bucket at its cap, Σ min(size,cap)²/2 candidate work)
    * precisely when byte-identical families flood the buckets, and
    * dup-mass detects that condition one stage EARLIER and cheaper — no
    * signatures needed. The residual hot-bucket case the ledger can also
    * show (near-identical-but-not-byte-equal families) is the capped
    * mode's job, because in exact mode that corpus's quadratic cost is
    * its OUTPUT (all those pairs are genuine near-duplicates) — no
    * output-preserving routing can avoid it. An A/B run of the two arms
    * calls [[lshPairsOver]] with [[identityFamilies]] or
    * [[digestFamilies]].
    */
  def minhashLshPairs(docs: DataFrame, minEstJaccard: Double = 0.5,
                      maxBucketSize: Int = 0): DataFrame =
    lshPairsOver(familiesFor(docs, maxBucketSize > 0), minEstJaccard, maxBucketSize)

  /** [[minhashLshPairs]] over the family `f` (the x2b/x45c move applied to
    * the PAIRS output): signatures and the LSH band join run on `f`'s
    * representatives, then [[Families.memberPairs]] rebuilds the
    * member-level pair list exactly:
    *
    *  - within-family pairs: identical docs share signatures, so at
    *    member level every family pair is a band collision with
    *    est_jaccard = 32/32 = 1.0 — emitted directly from the members
    *    frame (one shuffle on rep_id; generation is output-proportional,
    *    never verified). Capped mode emits a family's pairs only when at
    *    least one of its band buckets survived — the member-level
    *    condition (a family capped out of EVERY bucket contributes no
    *    candidates), and also what keeps truly signature-less docs
    *    (null text — each its own digest family; empty/sub-shingle text
    *    still signs via the whole-text fallback shingle) pairless on
    *    both arms;
    *  - cross-family pairs: a member pair (a∈f1, b∈f2) collides in a band
    *    iff the rep pair does, with the same signature estimate — rep
    *    pairs expand through two members joins, output-proportional;
    *  - bucket capping is member-weighted ([[lshBands]]).
    *
    * On the byte-twins pathology (every doc in a K-strong family) the
    * digest family turns the banded join's Σ min(size,cap)²/2 saturation
    * into a linear digest collapse + a rep-level join over K× fewer rows.
    */
  private[graft] def lshPairsOver(f: Families, minEstJaccard: Double,
                                  maxBucketSize: Int): DataFrame = {
    val (sigs, bands) = lshBands(f, maxBucketSize)
    f.memberPairs(lshVerifiedPairs(sigs, bands, minEstJaccard),
      bands.select(col("doc_id").as("rep_id")).distinct(),
      Seq(lit(1.0d).as("est_jaccard")))
  }

  /** Shared-cached signatures of `f`'s representatives and their band
    * rows minus the buckets whose MEMBER-level population (Σ fam_n of the
    * colliding families — identical docs carry identical band keys)
    * exceeds `maxBucketSize`: [[capBuckets]]' drop set over the whole
    * corpus, reproduced from the reps. 0 disables, as everywhere. The
    * front half of [[lshPairsOver]] and [[minhashDedupDigestFirst]].
    *
    * The broadcast drop set is bounded exactly as in [[capBuckets]]:
    * each oversized bucket covers > `maxBucketSize` MEMBERS, so there are
    * at most (NumBands · member count)/maxBucketSize of them — and over
    * the digest family the frame is additionally rep-level, the
    * byte-identical mass having already collapsed in [[digestFamilies]],
    * so the band-row count this runs over is families, not documents.
    */
  private def lshBands(f: Families, maxBucketSize: Int): (DataFrame, DataFrame) = {
    val sigs = Caches.shared(minhashSignatures(f.repDocs))
    (sigs, f.shared(capBuckets(bandRows(sigs), Seq("band_idx", "band_key"),
      maxBucketSize, f.weight, f.weigh)))
  }

  /** Band-bucket candidate pairs (`id1 < id2`) from a pre-capped bands
    * frame, verified by signature agreement — the ONE copy of the LSH
    * self-join shape and the est_jaccard formula, shared by
    * [[lshPairsOver]] and [[minhashDedupDigestFirst]] (which also share
    * [[lshBands]]), so a change to either can never silently break the
    * x45c ≡ x45b hash equality.
    */
  private def lshVerifiedPairs(sigs: DataFrame, bands: DataFrame,
                               minEstJaccard: Double): DataFrame = {
    val candidates = bands.select(col("doc_id").as("id1"), col("band_idx"), col("band_key"))
      .join(bands.select(col("doc_id").as("id2"), col("band_idx"), col("band_key")),
            Seq("band_idx", "band_key"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    candidates
      .join(sigs.select(col("doc_id").as("id1"), col("signature").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("signature").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** Bit width of the SimHash fingerprint: 60 = the [[md5Long60]] hash
    * width, so the fingerprint is engine-portable (oracle-checkable) —
    * four 15-bit chunks give the same Hamming ≤ 3 pigeonhole guarantee a
    * 64/16 split does.
    */
  val SimhashBits = 60
  val SimhashChunks = 4
  val SimhashChunkBits: Int = SimhashBits / SimhashChunks

  /** 60-bit SimHash fingerprints: per token-hash bit, sum ±count weighted
    * by whether the bit is set; positive sums set the output bit.
    *
    * Shape note: one narrow `collect_list` aggregation + the fused
    * [[org.apache.spark.sql.graftext.SimHashSigExpr]] kernel, NOT 64
    * conditional-sum columns — the wide aggregate costs seconds of
    * one-time codegen compilation (same finding as [[minhashSignatures]]).
    * The kernel replaced the earlier nested-HOF bitmask grid (kept as
    * [[simhashSignaturesHof]] for the equality spec), which evaluated
    * 60×|tokens| interpreted lambda applications per document.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.SimHashSigExpr.simhashSig
    val counts = Relevance.termCounts(docs)
      .select(col("doc_id"), col("cnt"), md5Long60(col("token")).as("h"))
    counts.groupBy("doc_id")
      .agg(collect_list(struct(col("h"), col("cnt"))).as("hc"))
      .select(col("doc_id"), simhashSig(col("hc"), SimhashBits).as("simhash"))
  }

  /** The nested-HOF fingerprint form used before the fused kernel —
    * retained (like [[minhashSignaturesHof]]) as the reference
    * implementation for the kernel-equality spec. Bit tests use `h & mask`
    * against a literal mask array, so no per-lambda shift is needed, and
    * the final pack is a sum of disjoint `bit × mask` terms (== OR).
    */
  private[graft] def simhashSignaturesHof(docs: DataFrame): DataFrame = {
    val masks = lit(Array.tabulate(SimhashBits)(1L << _))
    val counts = Relevance.termCounts(docs)
      .select(col("doc_id"), col("cnt"), md5Long60(col("token")).as("h"))
    counts.groupBy("doc_id")
      .agg(collect_list(struct(col("h"), col("cnt"))).as("hc"))
      .select(col("doc_id"),
        aggregate(
          transform(masks, m =>
            when(aggregate(col("hc"), lit(0L), (acc, e) =>
              acc + when(e("h").bitwiseAND(m) =!= 0, e("cnt")).otherwise(-e("cnt"))) > 0,
              m).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("simhash"))
  }

  /** SimHash near-duplicate pairs: candidates share one of four 15-bit
    * chunks (any pair within Hamming distance 3 must), verified with
    * bit_count(xor) ≤ maxHamming.
    *
    * Same hot-bucket exposure as [[minhashLshPairs]] — a giant family of
    * (near-)identical fingerprints lands in one (chunk_idx, chunk) bucket
    * with quadratic within-bucket pair generation — and the same guard:
    * `maxBucketSize` (0 = uncapped, the oracle path) drops oversized chunk
    * buckets from candidate generation via [[capBuckets]]. A Hamming ≤ 3
    * pair inside a dropped bucket is still found through any other of its
    * 4 chunks that stays under the cap.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Int = 0): DataFrame = {
    val sigs = Caches.shared(simhashSignatures(docs))
    val chunks = capBuckets(
      sigs.select(col("doc_id"), col("simhash"),
          posexplode(array((0 until SimhashChunks).map(i =>
            shiftright(col("simhash"), i * SimhashChunkBits)
              .bitwiseAND((1L << SimhashChunkBits) - 1)): _*)))
        .toDF("doc_id", "simhash", "chunk_idx", "chunk"),
      Seq("chunk_idx", "chunk"), maxBucketSize)
    chunks.select(col("doc_id").as("id1"), col("simhash").as("h1"),
                  col("chunk_idx"), col("chunk"))
      .join(chunks.select(col("doc_id").as("id2"), col("simhash").as("h2"),
                          col("chunk_idx"), col("chunk")),
            Seq("chunk_idx", "chunk"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2", "h1", "h2").distinct()
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Substring-level duplication signal (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): the
    * longest shared token run per near-duplicate candidate pair. The
    * paper's suffix array becomes a relational dynamic program: explode
    * both documents' token positions, join token matches per candidate
    * pair, and find the longest run of consecutive positions along each
    * alignment diagonal (i − j) with gaps-and-islands — `i − row_number`
    * is constant exactly on a consecutive run. Candidates come from
    * MinHash-LSH ([[minhashLshPairs]]), so the quadratic position-match
    * matrix only ever materializes for near-duplicate pairs, never
    * corpus-wide; pairs sharing no token (possible band collisions) drop
    * out of the inner join on both engines.
    */
  def longestDupSpans(docs: DataFrame, minEstJaccard: Double = 0.5,
                      maxTokensPerDoc: Int = 0, maxBucketSize: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // capped mode must cap BOTH stages: the candidate generator's band
    // buckets (or a 1M-copy family explodes before spanMatches ever runs)
    // and the per-pair position matrix
    val pairs = minhashLshPairs(docs, minEstJaccard, maxBucketSize).select("id1", "id2")
    val matches = spanMatches(docs, pairs, maxTokensPerDoc)
    val w = Window.partitionBy("id1", "id2", "diag").orderBy("i")
    matches
      .select(col("id1"), col("id2"), col("i"), (col("i") - col("j")).as("diag"))
      .withColumn("run", col("i") - row_number().over(w))
      .groupBy("id1", "id2", "diag", "run").agg(count(lit(1)).as("len"))
      .groupBy("id1", "id2").agg(max("len").as("longest_span"))
  }

  /** The per-pair token position-match frame [[longestDupSpans]] runs its
    * gaps-and-islands DP over. The matrix is quadratic in *document length*
    * per pair — two 100k-token near-dups with repeated vocabulary can alone
    * produce ~10¹⁰ match rows — so `maxTokensPerDoc` (0 = exact mode, the
    * oracle path) truncates both documents to their first K tokens before
    * the join, bounding every pair at K² matches (and the reported span at
    * K). For the pretraining-dedup decision — "is there a shared run ≥ some
    * small S?" — a prefix window ≫ S answers it; the exact global maximum
    * over arbitrarily long documents is diagnostic-only. (The alternative,
    * anchoring on within-doc-rare tokens, keeps full coverage but breaks
    * the consecutive-position run structure the DP needs.)
    */
  private[graft] def spanMatches(docs: DataFrame, pairs: DataFrame,
                                 maxTokensPerDoc: Int = 0): DataFrame = {
    val toks0 = docs.select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
    val toks = if (maxTokensPerDoc > 0) toks0.where(col("pos") < maxTokensPerDoc)
               else toks0
    pairs
      .join(toks.select(col("doc_id").as("id1"), col("pos").as("i"), col("tok")), "id1")
      .join(toks.select(col("doc_id").as("id2"), col("pos").as("j"), col("tok")),
        Seq("id2", "tok"))
  }

  /** Session memo of the dedup family table — the pairs-frame-memo move
    * for the capstone: the components label join embeds fresh driver data
    * (union-find) or fresh checkpoint RDDs (iterative) per invocation, so
    * the shared cache below never matched across calls and x45/x45c/x60/
    * x71 each re-ran LSH + components. The FORCED-distributed diagnostic
    * (`maxCollectEdges == 0`, x45b) is deliberately NOT memoized — that
    * row exists to run the iterative propagation per call. Each entry
    * keeps the components arm that built it, so a hit reports that arm.
    */
  private val dedupFrameMemo = new Caches.Memo[(DataFrame, String)](8, _._1)

  /** End-to-end MinHash dedup — the decision the candidate pairs exist to
    * feed: LSH pairs ([[minhashLshPairs]]) → single-linkage connected
    * components ([[Duplicates.componentsFromPairs]] — cost-dispatched
    * union-find / distributed min-label propagation) → one row per
    * document with its duplicate family, the family size, and the
    * canonical keep choice (smallest doc_id per family, the reference's
    * keep rule in its unique-documents pass). `docs.where(col("kept"))`
    * is then the deduplicated corpus.
    *
    * Scale shape: every stage is the shuffle-keyed form — band-bucket
    * candidate joins (capped via `maxBucketSize` on hot families), then
    * label propagation whose per-iteration cost is one join on the edge
    * list; nothing quadratic in the corpus, nothing driver-side beyond
    * the ≤`maxCollectEdges` fast path.
    */
  def minhashDedup(docs: DataFrame, minEstJaccard: Double = 0.5,
                   maxBucketSize: Int = 0,
                   maxCollectEdges: Long = 5000000L,
                   digestFirst: Boolean = false): DataFrame =
    minhashDedupWithArm(docs, minEstJaccard, maxBucketSize, maxCollectEdges, digestFirst)._1

  /** [[minhashDedup]] with the components arm that built its frame
    * ("collect" | "iterative"); a memo hit reports the arm stored with the
    * frame.
    */
  private[graft] def minhashDedupWithArm(docs: DataFrame, minEstJaccard: Double = 0.5,
                                         maxBucketSize: Int = 0,
                                         maxCollectEdges: Long = 5000000L,
                                         digestFirst: Boolean = false)
      : (DataFrame, String) = {
    val key =
      if (maxCollectEdges > 0L) Caches.memoKey(docs,
        s"j=$minEstJaccard|b=$maxBucketSize|c=$maxCollectEdges|d=$digestFirst")
      else ""
    dedupFrameMemo.getOrElseUpdate(key, docs.sparkSession) {
      minhashDedupArm(docs, minEstJaccard, maxBucketSize, maxCollectEdges, digestFirst)
    }
  }

  private def minhashDedupArm(docs: DataFrame, minEstJaccard: Double,
                              maxBucketSize: Int, maxCollectEdges: Long,
                              digestFirst: Boolean): (DataFrame, String) = {
    val (out, arm) =
      if (digestFirst)
        minhashDedupDigestFirst(docs, minEstJaccard, maxBucketSize, maxCollectEdges)
      else {
        val pairs = minhashLshPairs(docs, minEstJaccard, maxBucketSize).select("id1", "id2")
        val (labels, labelsArm) =
          Duplicates.componentsFromPairs(docs.select("doc_id"), pairs, maxCollectEdges)
        val fams = labels.groupBy("component").agg(count(lit(1)).as("family_size"))
        (labels.join(fams, "component")
          .select(col("doc_id"), col("component").as("family"), col("family_size"),
            (col("doc_id") === col("component")).as("kept")), labelsArm)
      }
    // shared-cached (r14): the capstone family table is consumed by x45
    // (emits it), x60's report and x71's size stats — one LSH+components
    // pass per corpus
    (Caches.shared(out), arm)
  }

  /** [[minhashDedup]]'s digest-first arm (the x2b/x36b/p1 move applied to
    * the dedup capstone): byte-identical families collapse to one
    * representative BEFORE signatures, so the LSH band joins and the
    * component propagation run on the rep graph — on a duplicate-heavy
    * corpus that shrinks the edge list by ~fam_n² per family. Output is
    * the member-level result exactly:
    *
    *  - identical docs share signatures, so a member pair (a∈f1, b∈f2)
    *    exists iff the rep pair (r1, r2) does, with the same est_jaccard —
    *    rep components ARE member components restricted to reps;
    *  - the member-level component label is its min doc_id; reps are
    *    family minima, so min rep in a rep component = min member overall;
    *  - bucket capping is member-weighted ([[lshBands]]: `sum(fam_n)` per
    *    band bucket = the member-level bucket population), reproducing the
    *    capped drop set, and a family whose EVERY bucket was dropped contributes no
    *    member pairs at all — its members stay singletons, which is why
    *    expansion collapses a family onto its rep's component only when
    *    at least one of its band rows survived.
    *
    * Returned with its components arm.
    */
  private[graft] def minhashDedupDigestFirst(docs: DataFrame,
                                             minEstJaccard: Double,
                                             maxBucketSize: Int,
                                             maxCollectEdges: Long)
      : (DataFrame, String) = {
    val f = digestFamilies(docs)
    val (sigs, bands) = lshBands(f, maxBucketSize)
    val repPairs = lshVerifiedPairs(sigs, bands, minEstJaccard)
      .select("id1", "id2")
    val (repLabels, arm) = Duplicates.componentsFromPairs(
      f.repDocs.select("doc_id"), repPairs, maxCollectEdges)
    val connectedReps = bands.select(col("doc_id").as("rep_id")).distinct()
      .withColumn("has_bands", lit(true))
    val famLabeled = f.members
      .join(repLabels.select(col("doc_id").as("rep_id"), col("component")), "rep_id")
      .join(connectedReps, Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(col("fam_n") === 1 || col("has_bands"), col("component"))
          .otherwise(col("doc_id")).as("family"))
    val famSizes = famLabeled.groupBy("family").agg(count(lit(1)).as("family_size"))
    (famLabeled.join(famSizes, "family")
      .select(col("doc_id"), col("family"), col("family_size"),
        (col("doc_id") === col("family")).as("kept")), arm)
  }

  /** Driver-harness fixture for the bench-visible capped variants
    * (x2b/x3b/x36b): the corpus plus a planted `copies`-strong identical
    * family cloning doc 0 at ids ≥ `baseId` — the duplicate-heavy
    * pathology the hot-key guards exist for, expressed as pure column
    * algebra (one explode over the doc-0 row; no driver data, and
    * SQL-expressible so the DuckDB oracle builds the identical corpus).
    */
  private[graft] def plantedHotCorpus(docs: DataFrame, copies: Int = 200,
                                      baseId: Long = 100000L): DataFrame = {
    val fam = docs.where(col("doc_id") === 0L)
      .select(explode(sequence(lit(baseId), lit(baseId + copies - 1))).as("doc_id"),
        col("text"))
    docs.select(col("doc_id"), col("text")).unionByName(fam)
  }

  // --- query entries ---

  /** The corpus has no byte-identical documents, so the query entry dumps
    * the digest table with group sizes (the dedup decision input);
    * [[exactDuplicates]]' >1 filter is covered by tests on planted dups.
    */
  def qExactDups(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val digests = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
    val groups = digests.groupBy("digest")
      .agg(count(lit(1)).as("group_size"), min("doc_id").as("keep_doc"))
    digests.join(groups, "digest")
      .select(col("doc_id"), col("digest"), col("group_size"), col("keep_doc"),
        (col("doc_id") =!= col("keep_doc")).as("is_duplicate"))
  }

  def qJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(Tables.documents(spark, sfDir))

  def qContainmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(Tables.documents(spark, sfDir))

  def qMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshPairs(Tables.documents(spark, sfDir))

  def qSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(Tables.documents(spark, sfDir))

  def qDupSpans(spark: SparkSession, sfDir: String): DataFrame =
    longestDupSpans(Tables.documents(spark, sfDir))

  def qMinhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    minhashDedup(Tables.documents(spark, sfDir))

  /** x45b: the same dedup capstone with `maxCollectEdges = 0`, forcing the
    * DISTRIBUTED min-label-propagation components arm (the path a real
    * 100 TB corpus takes, where the edge list never fits a driver) on the
    * planted-hot fixture's 200-copy family. x45 proves the collect/union-
    * find fast path against the oracle; this row proves the iterative arm
    * computes the identical closure — both bench-visible under the driver.
    */
  def qMinhashDedupIterative(spark: SparkSession, sfDir: String): DataFrame =
    minhashDedup(plantedHotCorpus(Tables.documents(spark, sfDir)),
      maxCollectEdges = 0L)

  /** x45c: the dedup capstone through the DIGEST-FIRST arm on the same
    * planted-hot fixture as x45b — shares x45b's oracle verbatim, so the
    * row hash proves the rep-graph collapse computes the member-level
    * closure exactly (the 200-copy family contributes one rep, not
    * 200·199/2 edges). x45/x45b stay member-level on purpose: x45b keeps
    * forcing the distributed components arm at member scale.
    */
  def qMinhashDedupDigestFirst(spark: SparkSession, sfDir: String): DataFrame =
    minhashDedup(plantedHotCorpus(Tables.documents(spark, sfDir)),
      digestFirst = true)

  /** Dedup ROI report (x60): the end-of-pipeline summary a curation team
    * reads before committing a dedup pass — per method (exact digest vs
    * MinHash families), documents and whitespace-tokens kept vs dropped
    * and the drop fractions. Composes the already-oracle-checked x1 and
    * x45 keep flags with the x11 token counts; each method reduces to one
    * global aggregate, so the report costs two scans over narrow flag
    * frames regardless of corpus size.
    */
  def dedupReport(docs: DataFrame): DataFrame = {
    val toks = TextQuality.tokenCounts(docs).select(col("doc_id"), col("ws_tokens"))
    def summarize(method: String, flags: DataFrame): DataFrame =
      flags.join(toks, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum("ws_tokens").as("tokens_total"),
          sum(when(col("kept"), col("ws_tokens")).otherwise(0L)).as("tokens_kept"))
        .select(lit(method).as("method"), col("n_docs"), col("n_kept"),
          col("tokens_total"), col("tokens_kept"),
          round((col("n_docs") - col("n_kept")) * lit(1.0) / col("n_docs"), 6)
            .as("doc_drop_pct"),
          round((col("tokens_total") - col("tokens_kept")) * lit(1.0) /
            col("tokens_total"), 6).as("token_drop_pct"))
    val digests = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
    val exactKept = digests
      .withColumn("kept", col("doc_id") === min("doc_id")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      .select("doc_id", "kept")
    summarize("exact", exactKept)
      .unionByName(summarize("minhash",
        minhashDedup(docs).select("doc_id", "kept")))
  }

  def qDedupReport(spark: SparkSession, sfDir: String): DataFrame =
    dedupReport(Tables.documents(spark, sfDir))

  /** Quality-based representative selection (x63): within each MinHash
    * near-dup family keep the HIGHEST-quality member (x10 score, doc_id
    * tie-break) instead of [[minhashDedup]]'s min-id convention — the
    * keep policy production dedup actually runs (cf. Lee et al. 2021's
    * keep-longest): when a boilerplate-wrapped copy and a clean copy
    * collide, the clean one should survive. Per-family window over
    * family-sized partitions; the quality join is doc-keyed and narrow.
    */
  def qualityKeepDedup(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fams = minhashDedup(docs, minEstJaccard)
      .select("doc_id", "family", "family_size")
    val q = TextQuality.qualityScore(docs).select("doc_id", "quality")
    val w = Window.partitionBy("family").orderBy(desc("quality"), asc("doc_id"))
    fams.join(q, "doc_id")
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("family"), col("family_size"),
        col("quality"), col("kept"))
  }

  def qQualityKeepDedup(spark: SparkSession, sfDir: String): DataFrame =
    qualityKeepDedup(Tables.documents(spark, sfDir))

  /** Corpus-wide exact-substring duplicate spans (x64 — Lee et al. 2021's
    * EXACTSUBSTR pass, arXiv:2107.06499 §3.1): every maximal token span
    * whose every `windowTokens`-token window occurs at least twice
    * ANYWHERE in the corpus (cross- or within-document). The complement
    * of [[longestDupSpans]] (x33): that one scores candidate PAIRS; this
    * finds every duplicated region with no pair enumeration at all, which
    * is what makes it the 100 TB-first formulation —
    *
    *   tokens → one row per window start with a window hash → windows
    *   with global count ≥ 2 → per-document gaps-and-islands merge of
    *   consecutive duplicated starts into maximal spans.
    *
    * Linear end to end: one explode (corpus token count rows), one
    * hash-keyed aggregation, one semi-join back, one per-doc window pass.
    * Hot windows (1M-copy boilerplate) cost nothing extra — the count
    * aggregation never pairs occurrences. The window hash is the
    * engine-portable [[md5Long60]] over the joined window tokens (a
    * rolling hash would be `windowTokens`× cheaper per row but not
    * reproducible in the DuckDB oracle; the constant factor is the price
    * of a hash-checked result).
    *
    * Output: (doc_id, span_start token index, span_tokens length,
    * n_windows support) — the spans a Lee-style pass would cut or use to
    * drop documents with `span_tokens/doc_tokens` above a threshold.
    */
  /** One `(doc_id, pos, h)` row per K-token window start, h = md5-60 of
    * the joined window — shared by the x64/x65 span family and the x77
    * substring decontaminator. The hash array is the fused
    * [[org.apache.spark.sql.graftext.WindowHashExpr]] kernel (one digest
    * pass per window; the composable `transform(sequence, i =>
    * md5Long60(concat_ws(slice…)))` form ran every window through
    * interpreted lambdas with a slice allocation each).
    */
  private[graft] def windowHashes(docs: DataFrame, windowTokens: Int): DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= windowTokens)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftext.ShingleHashExpr
          .windowHashes(col("toks"), windowTokens, 0L))
          .as(Seq("pos", "h")))

  def exactSubstrSpans(docs: DataFrame, windowTokens: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Cached (MEMORY_AND_DISK): the frame is consumed twice inside this
    // operator (global window counts + the join back) and verbatim by the
    // x65 stats pass and the x77 decontaminator — CacheManager substitutes
    // the one entry into every consumer by canonical plan, so the
    // tokenize+digest explode over the corpus runs once per session instead
    // of five times across the span family. Purely an optimization: on
    // eviction the frame recomputes from lineage, and at 100 TB an executor
    // that can't hold its partitions spills them — correctness and the
    // linear plan shape are unchanged. NOT inside [[windowHashes]] itself:
    // that helper also serves streaming sources (DocStream w14), which
    // cannot be cached.
    val wins = Caches.shared(windowHashes(docs, windowTokens))
    val dup = wins.groupBy("h").agg(count(lit(1)).as("df")).where(col("df") > 1)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // the span frame itself is also shared (tiny: duplicated spans only),
    // so the x65 stats pass reads x64's materialized output instead of
    // re-running the count/join/island chain — the "materialize spans
    // once, feed both the report and the gate" layout, session-cached
    Caches.shared(wins.join(dup.select("h"), "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("run", col("pos") - row_number().over(w))
      .groupBy("doc_id", "run")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + windowTokens).cast("long").as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_tokens", "n_windows"))
  }

  def qExactSubstrSpans(spark: SparkSession, sfDir: String): DataFrame =
    exactSubstrSpans(Tables.documents(spark, sfDir))

  /** Exact-substring decontamination (x77) — the Lee 2021 / GPT-3-style
    * eval-leak gate at SUBSTRING granularity: a train document is
    * contaminated iff it shares any K-token window with an eval document
    * (doc-level n-gram overlap, x19/x34, misses a single quoted benchmark
    * passage inside a long clean page; this doesn't). Eval = the x19
    * convention `doc_id % evalMod = 0`.
    *
    * Scale shape: one-sided like x66 — the eval set's distinct window
    * hashes (benchmark-sized, tiny vs the corpus) join the train side's
    * window stream on the 8-byte hash; per-doc partial aggregation. Train
    * docs too short to carry a window report clean via the left join.
    */
  def substrDecontaminate(docs: DataFrame, windowTokens: Int = 20,
                          evalMod: Int = 20): DataFrame = {
    val isEval = pmod(col("doc_id"), lit(evalMod.toLong)) === 0
    // same shared entry as [[exactSubstrSpans]]'s (identical canonical
    // plan): eval- and train-side window streams read it instead of each
    // re-scanning the corpus
    val wins = Caches.shared(windowHashes(docs, windowTokens))
    val evalWins = wins.where(isEval).select("h").distinct()
    val hits = wins.where(!isEval)
      .join(evalWins, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_windows"),
        min("pos").cast("long").as("first_pos"))
    docs.where(!isEval).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated_windows"), lit(0L))
          .as("n_contaminated_windows"),
        coalesce(col("first_pos"), lit(-1L)).as("first_pos"),
        col("n_contaminated_windows").isNull.as("clean"))
  }

  def qSubstrDecontaminate(spark: SparkSession, sfDir: String): DataFrame =
    substrDecontaminate(Tables.documents(spark, sfDir))

  /** Document-level duplication stats over [[exactSubstrSpans]] (x65): per
    * document, the fraction of its tokens covered by SOME duplicated span,
    * and the drop decision at `dropThreshold` — the gate a Lee-style pass
    * applies ("drop documents that are mostly duplicated content"; cutting
    * individual spans instead is the same coverage computation applied as
    * a filter). Span token-intervals can overlap even though their START
    * runs don't (a start-gap shorter than the window still overlaps in
    * coverage), so coverage is a per-document interval union — one more
    * gaps-and-islands window pass over the tiny span frame, then a
    * doc-keyed join against token counts. Documents with no spans report
    * zero coverage.
    */
  def dupSpanStats(docs: DataFrame, windowTokens: Int = 20,
                   dropThreshold: Double = 0.5): DataFrame =
    dupSpanStatsFrom(exactSubstrSpans(docs, windowTokens), docs, dropThreshold)

  /** Spans-input overload — the production layout of a Lee-style pass:
    * [[exactSubstrSpans]]' output is materialized ONCE (a written table or
    * the session's shared cache entry) and feeds both the span report
    * (x64) and this drop gate (x65), instead of x65 re-paying the corpus
    * window-hash pass. `spans` must carry (doc_id, span_start,
    * span_tokens) — any frame with x64's schema qualifies, including one
    * read back from parquet (pinned by the round-trip equivalence spec);
    * `docs` supplies only the per-document token counts the coverage
    * fraction divides by.
    */
  def dupSpanStatsFrom(spans: DataFrame, docs: DataFrame,
                       dropThreshold: Double = 0.5): DataFrame = {
    val covered = islandsPerDoc(spans)
      .groupBy("doc_id")
      .agg(sum(col("i1") - col("i0") + 1).as("dup_tokens"))
    docs.select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) * lit(1.0) /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_fraction"))
      .withColumn("would_drop", col("dup_fraction") >= dropThreshold)
  }

  def qDupSpanStats(spark: SparkSession, sfDir: String): DataFrame =
    dupSpanStats(Tables.documents(spark, sfDir))

  /** The span→interval→island merge shared by the x65 coverage gate and
    * the x89 excision transform: span token-intervals can overlap even
    * though their START runs don't (a start-gap shorter than the window
    * still overlaps in coverage), so both consumers need the per-document
    * interval UNION — the gaps-and-islands window chain over the tiny span
    * frame. One row per (doc_id, island) with the island's inclusive
    * token-position bounds [i0, i1]; islands within a document are
    * pairwise disjoint by construction. Extracted so the x65↔x89
    * reconciliation contract (dropped tokens == dup_tokens) rides ONE
    * implementation instead of two that could drift.
    */
  private def islandsPerDoc(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("s")
    spans
      .select(col("doc_id"), col("span_start").as("s"),
        (col("span_start") + col("span_tokens") - 1).as("e"))
      .withColumn("island",
        sum((col("s") > coalesce(max("e").over(wPrev), lit(-1L))).cast("long"))
          .over(wRun))
      .groupBy("doc_id", "island")
      .agg(min("s").as("i0"), max("e").as("i1"))
  }

  /** x90: the span family's production serving layout end-to-end — x64's
    * span frame is written to parquet AT MOST ONCE per session per corpus
    * fingerprint ([[Artifacts.servedDir]], the x82b/x86c memo), and the
    * x65 drop gate reads the WRITTEN table through [[dupSpanStatsFrom]].
    * This is the layout a real Lee-style pass runs: the corpus-sized
    * window-hash pass executes when the corpus changes, and every
    * downstream consumer (the report, this gate, the x89 excision) reads
    * the materialized spans — at 100 TB the spans table is GB-scale while
    * the pass that produces it is the 100 TB scan. Oracle = x65's SQL
    * verbatim: a hash match proves the persisted spans feed the gate
    * losslessly.
    */
  /** Test hook: span-table builds (the x90 write-once contract — a
    * memo-hit re-call must not rewrite the artifact). */
  private[graft] val spanTableWrites =
    new java.util.concurrent.atomic.AtomicLong(0L)

  def qDupSpanStatsPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = Artifacts.servedDir(spark, "span_table", docs, sfDir) { d =>
      spanTableWrites.incrementAndGet()
      exactSubstrSpans(docs).write.mode("overwrite").parquet(d)
    }
    dupSpanStatsFrom(spark.read.parquet(dir), docs)
  }

  /** The TRANSFORM of the span family (Lee et al. 2022 §4's actual
    * deduplication step, where x64 is the report and x65 the drop gate):
    * rewrite each document's token stream with every duplicated span
    * excised. Spans come from [[exactSubstrSpans]] (the family's shared
    * cached frame), are merged into per-document disjoint islands (the
    * x65 interval union), and each document's tokens are filtered by
    * position against ITS OWN island list riding along as a small array
    * column — a doc_id-keyed left join of the corpus against the tiny
    * islands frame, then one linear codegen'd HOF pass per document; no
    * explode of the corpus token stream, no shuffle wider than the spans
    * themselves. Documents with no duplicated span pass through verbatim
    * (token-joined). Output text is the kept-token stream re-joined with
    * single spaces — the standard token-level contract of a Lee-style
    * pass (original whitespace is not reconstructed).
    */
  def removeDupSpans(docs: DataFrame, windowTokens: Int = 20): DataFrame = {
    val islands = islandsPerDoc(exactSubstrSpans(docs, windowTokens))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("i0"), col("i1")))).as("__isl"))
    val kept = when(col("__isl").isNull, col("__t")).otherwise(
      transform(
        filter(
          transform(col("__t"), (tok, i) =>
            struct(i.cast("long").as("pos"), tok.as("tok"))),
          p => !exists(col("__isl"), z =>
            p.getField("pos") >= z.getField("i0") &&
              p.getField("pos") <= z.getField("i1"))),
        p => p.getField("tok")))
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .join(islands, Seq("doc_id"), "left_outer")
      .withColumn("__kept", kept)
      .select(col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  def qRemoveDupSpans(spark: SparkSession, sfDir: String): DataFrame =
    removeDupSpans(Tables.documents(spark, sfDir))

  // --- capped-guard variants under the driver harness (x2b/x3b/x36b):
  // the same operators as x2/x3/x36 with the 100 TB hot-key caps BINDING
  // against [[plantedHotCorpus]]'s 200-copy family, so the guard paths the
  // DedupGuardSpec proves are also exercised (and timed) by the driver ---

  def qJaccardCapped(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(plantedHotCorpus(Tables.documents(spark, sfDir)),
      threshold = 0.5, maxShingleDf = 100)

  def qMinhashLshCapped(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshPairs(plantedHotCorpus(Tables.documents(spark, sfDir)),
      minEstJaccard = 0.5, maxBucketSize = 100)

  def qContainmentCapped(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(plantedHotCorpus(Tables.documents(spark, sfDir)),
      threshold = 0.6, maxShingleDf = 100)

  /** Incremental delta-vs-index MinHash dedup (x66) — the daily-ingest
    * shape every production corpus needs: an arriving shard ("delta") is
    * admitted against the already-curated corpus ("index") without ever
    * comparing index docs to each other. A delta document is dropped iff
    * some INDEX document LSH-collides with it in at least one band and the
    * signature-estimated Jaccard clears `minEstJaccard`; duplicates
    * *within* the delta are [[minhashDedup]]/`DocStream`'s job (x45/w12),
    * so the two passes compose without re-scanning the index.
    *
    * Scale shape: the band join is one-sided (delta bands ⋈ index bands on
    * the band key), so candidate volume is proportional to the DELTA size
    * times per-band collision rates — the index contributes only its band
    * rows, which in a real deployment are a persisted table written once
    * when each shard was itself admitted (signatures never recompute).
    * `maxBucketSize` caps hot index-side buckets exactly like
    * [[minhashLshPairs]] (0 = uncapped, the oracle mode).
    *
    * The delta/index split here derives from `doc_id % deltaMod` (delta =
    * residue `deltaMod − 1`) so the oracle can replay it; a real caller
    * passes any boolean split column.
    */
  def incrementalDedup(docs: DataFrame, deltaMod: Int = 5,
                       minEstJaccard: Double = 0.5,
                       maxBucketSize: Int = 0): DataFrame = {
    val isDelta = pmod(col("doc_id"), lit(deltaMod.toLong)) === (deltaMod - 1)
    val sigs = Caches.shared(minhashSignatures(docs))
    val bands = bandRows(sigs)
    probeIndex(docs.where(isDelta).select("doc_id"),
      bands.where(isDelta), sigs.where(isDelta),
      capBuckets(bands.where(!isDelta), Seq("band_idx", "band_key"), maxBucketSize),
      sigs.where(!isDelta), minEstJaccard)
  }

  /** The probe half of [[incrementalDedup]], against index frames the
    * caller supplies — inline subtrees in x66, parquet read-backs of a
    * PERSISTED index in x70. `deltaIds` must carry one `doc_id` row per
    * arriving document (matched or not).
    */
  private[graft] def probeIndex(deltaIds: DataFrame, deltaBands: DataFrame,
                                deltaSigs: DataFrame, indexBands: DataFrame,
                                indexSigs: DataFrame,
                                minEstJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val candidates = deltaBands
      .select(col("doc_id").as("delta_id"), col("band_idx"), col("band_key"))
      .join(indexBands.select(col("doc_id").as("index_id"), col("band_idx"),
        col("band_key")), Seq("band_idx", "band_key"))
      .select("delta_id", "index_id").distinct()
    val verified = candidates
      .join(deltaSigs.select(col("doc_id").as("delta_id"), col("signature").as("sig1")),
        "delta_id")
      .join(indexSigs.select(col("doc_id").as("index_id"), col("signature").as("sig2")),
        "index_id")
      .select(col("delta_id"), col("index_id"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
    // est_jaccard = n/32 is exact in doubles, so ordering is engine-portable.
    val byBest = Window.partitionBy("delta_id")
      .orderBy(col("est_jaccard").desc, col("index_id").asc)
    val best = verified
      .withColumn("rn", row_number().over(byBest))
      .groupBy("delta_id")
      .agg(count(lit(1)).as("n_index_matches"),
        max(when(col("rn") === 1, col("index_id"))).as("best_match_id"),
        max(when(col("rn") === 1, col("est_jaccard"))).as("best_est_jaccard"))
    deltaIds
      .join(best.withColumnRenamed("delta_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_index_matches"), lit(0L)).as("n_index_matches"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_est_jaccard"), lit(0.0)).as("best_est_jaccard"),
        col("n_index_matches").isNull.as("keep"))
  }

  /** Persist an LSH index for [[probeIndex]]: band rows parquet-partitioned
    * by `band_idx` (a probe that filters on band_idx prunes at file
    * listing — the same physical trick as the IVF cell layout) plus the
    * signature table for the verify join. This is the artifact a daily
    * admission pipeline writes ONCE per shard and probes forever.
    */
  def writeLshIndex(sigs: DataFrame, dir: String): Unit = {
    // REBALANCE on the partition column before the partitioned write
    // (guide §6): without it every task writes a sliver into every
    // band_idx directory (NumBands × input-partitions near-empty files);
    // rebalanced, each directory gets few well-filled files and AQE
    // splits any oversized band at scale.
    bandRows(sigs).hint("rebalance", col("band_idx")).write.mode("overwrite")
      .partitionBy("band_idx").parquet(dir + "/bands")
    sigs.write.mode("overwrite").parquet(dir + "/sigs")
  }

  def qIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalDedup(Tables.documents(spark, sfDir))

  /** LSH band-bucket ledger (x78) — the statistic that picks
    * `maxBucketSize` BEFORE a dedup pass runs: for each observed bucket
    * size, how many band buckets have it, how many rows they hold, and
    * the candidate pairs they would generate (n·C(s,2) — the quadratic
    * cost a hot bucket concentrates on one shuffle key). Read the tail of
    * this table, pick the cap where cum pairs explode, and x3b/x2b's
    * guards stop being folklore. The x68 cell report's analog for the
    * text-dedup index.
    */
  def lshBucketStats(docs: DataFrame): DataFrame = {
    val sizes = bandRows(Caches.shared(minhashSignatures(docs)))
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("bucket_n"))
    sizes.groupBy("bucket_n")
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("bucket_n"), col("n_buckets"),
        (col("bucket_n") * col("n_buckets")).as("n_rows"),
        // integer div: '/' on longs is double division (the x62 lesson)
        expr("n_buckets * bucket_n * (bucket_n - 1) div 2")
          .as("candidate_pairs"))
  }

  def qLshBucketStats(spark: SparkSession, sfDir: String): DataFrame =
    lshBucketStats(Tables.documents(spark, sfDir))

  /** MinHash estimator calibration (x76) — "are 32 hashes enough at this
    * threshold": for every LSH candidate pair, the signature estimate vs
    * the exact shingle Jaccard, bucketed by estimate (dyadic 1/8 buckets,
    * exact in both engines); per bucket the pair count, mean estimate,
    * mean exact value and mean absolute error. Read before trusting an
    * est-only dedup pass at a new threshold — the measured answer to a
    * question usually settled by folklore.
    *
    * Scale shape: exact Jaccard is computed ONLY for the LSH candidates
    * (the banded set, never all pairs) via one hash-keyed equi-join of
    * the candidate list against the shared shingle frame; the report is
    * ≤ 17 bucket rows. Dup-mass-dispatched like every Dedup pair op
    * (the r12 capstone's 476× outlier was this row enumerating ~27 M
    * member-level candidates on a twin-heavy corpus): on duplicate-heavy
    * input the digest-first arm computes exact Jaccard ONCE per rep-level
    * candidate and weights the bucket statistics by family multiplicity —
    * a member pair (a∈f1, b∈f2) collides iff its rep pair does, with the
    * SAME estimate (identical signatures) and the SAME exact Jaccard
    * (identical shingle sets), so the weighted aggregate is
    * output-identical to the member enumeration (spec-pinned) at
    * families²/members² of the cost.
    */
  def minhashCalibration(docs: DataFrame,
                         minEstJaccard: Double = 0.5): DataFrame =
    if (digestArmUncapped(docs)) minhashCalibrationDigestFirst(docs, minEstJaccard)
    else minhashCalibrationMembers(docs, minEstJaccard)

  /** The member-level calibration: exact Jaccard per member-level LSH
    * candidate — the reference arm the rep-weighted plan is spec-pinned
    * against (and the plan the DuckDB oracle expresses). Calls
    * [[lshPairsOver]] over the identity family directly: the dispatch
    * already decided, so a second dup-mass probe inside
    * [[minhashLshPairs]] would be redundant.
    */
  private[graft] def minhashCalibrationMembers(docs: DataFrame,
                                               minEstJaccard: Double): DataFrame = {
    val pairs = lshPairsOver(identityFamilies(docs), minEstJaccard, 0)
      .select("id1", "id2", "est_jaccard")
    // exact verify over the shared per-doc shingle-set arrays (r14) — the
    // same cached frame the x2/x36 verifies read — instead of a private
    // per-pair h60 expand join + re-aggregation: |hs| == count(h60) per
    // doc, so inter and the sizes are value-identical (a pair with zero
    // shared shingles gets inter = 0 from the intersect, matching the old
    // left join's coalesce)
    val scored = verifyOverArrays(pairs, shingleArrays(distinctShingleHashes(docs)))
      .select(col("est_jaccard"),
        round(col("inter").cast("double") /
          (col("s1") + col("s2") - col("inter")), 6).as("exact_j"),
        lit(1L).as("w"))
    calibrationBuckets(scored)
  }

  /** [[minhashCalibration]]'s digest-first arm: byte-identical families
    * collapse before signatures ([[digestFamilies]]), the LSH candidate
    * join and the exact-Jaccard verify both run on the REP graph, and
    * the member-level bucket statistics are reconstructed exactly by
    * weighting:
    *
    *  - a cross-family rep candidate (r1, r2, est) stands for
    *    fam_n(r1)·fam_n(r2) member pairs, every one with the same
    *    estimate (members carry their rep's signature) and the same
    *    exact Jaccard (identical text ⇒ identical shingle set) — weight
    *    n1·n2, exact Jaccard computed once;
    *  - a family of size n whose rep signed (non-null text ⇒ at least
    *    the whole-text fallback shingle ⇒ est 32/32 and exact inter=s1=s2)
    *    stands for C(n,2) member pairs at (est 1.0, exact 1.0) — weight
    *    n·(n−1)/2, no per-pair work at all; null-text docs are singleton
    *    families with no signature rows, pairless on both arms.
    *
    * Weighted mean ≡ member mean per bucket because every expanded member
    * pair shares its rep pair's exact (est, exact_j) values — the
    * aggregation never sees values the member arm wouldn't.
    */
  private[graft] def minhashCalibrationDigestFirst(docs: DataFrame,
                                                   minEstJaccard: Double): DataFrame = {
    val f = digestFamilies(docs)
    val sigs = Caches.shared(minhashSignatures(f.repDocs))
    val repPairs = lshVerifiedPairs(sigs, bandRows(sigs), minEstJaccard)
      .select(col("id1").as("r1"), col("id2").as("r2"), col("est_jaccard"))
    val ds = distinctShingleHashes(f.repDocs)
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = repPairs.select("r1", "r2")
      .join(ds.select(col("doc_id").as("r1"), col("h60")), "r1")
      .join(ds.select(col("doc_id").as("r2"), col("h60")), Seq("r2", "h60"))
      .groupBy("r1", "r2").agg(count(lit(1)).as("inter"))
    val famN = f.fams.select(col("rep_id"), col("fam_n"))
    val cross = repPairs
      .join(inter, Seq("r1", "r2"), "left")
      .join(sizes.select(col("doc_id").as("r1"), col("n").as("s1")), "r1")
      .join(sizes.select(col("doc_id").as("r2"), col("n").as("s2")), "r2")
      .join(famN.select(col("rep_id").as("r1"), col("fam_n").as("n1")), "r1")
      .join(famN.select(col("rep_id").as("r2"), col("fam_n").as("n2")), "r2")
      .select(col("est_jaccard"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          (col("s1") + col("s2") - coalesce(col("inter"), lit(0L))), 6)
          .as("exact_j"),
        (col("n1") * col("n2")).as("w"))
    // families whose rep has signature rows — non-null text; mirrors the
    // pairs arm's famsWithBands gate (uncapped: every signed rep bands).
    // Within pairs enter at est exactly 1.0, so they pass the member arm's
    // est_jaccard >= minEstJaccard cut iff minEstJaccard <= 1.0 — mirror
    // that gate or a degenerate threshold (> 1.0) diverges between arms.
    val within = famN.join(sigs.select(col("doc_id").as("rep_id")), "rep_id")
      .where(col("fam_n") >= 2 && lit(1.0d) >= lit(minEstJaccard))
      .select(lit(1.0d).as("est_jaccard"), lit(1.0d).as("exact_j"),
        // integer div: '/' on longs is double division (the x62 lesson)
        expr("fam_n * (fam_n - 1) div 2").as("w"))
    calibrationBuckets(cross.unionByName(within))
  }

  /** Shared bucket aggregation over `(est_jaccard, exact_j, w)` rows:
    * dyadic 1/8 estimate buckets, multiplicity-weighted count/means/MAE.
    * With w ≡ 1 this is exactly the member arm's unweighted aggregate.
    */
  private def calibrationBuckets(scored: DataFrame): DataFrame =
    scored
      .groupBy((floor(col("est_jaccard") * 8) / 8).as("est_bucket"))
      .agg(sum("w").as("n_pairs"),
        round(sum(col("w") * col("est_jaccard")) / sum("w").cast("double"), 6)
          .as("mean_est"),
        round(sum(col("w") * col("exact_j")) / sum("w").cast("double"), 6)
          .as("mean_exact"),
        round(sum(col("w") * abs(col("est_jaccard") - col("exact_j"))) /
          sum("w").cast("double"), 6).as("mae"))

  def qMinhashCalibration(spark: SparkSession, sfDir: String): DataFrame =
    minhashCalibration(Tables.documents(spark, sfDir))

  /** Duplicate-family-size distribution (x71) — the dedup telemetry a
    * curation team reads alongside the ROI report (x60): how many
    * families exist at each size, the share of families, and the
    * discrete power-law exponent α̂ fitted by the Clauset–Shalizi–Newman
    * MLE (α = 1 + n/Σln(sᵢ/½), xmin = 1). Web-scale duplicate families
    * follow a heavy tail; a fitted α creeping DOWN across crawls means
    * boilerplate families are growing faster than the corpus — the early
    * warning to raise dedup aggressiveness before the next 100 TB pass.
    *
    * Scale shape: one row per family comes off the x45 capstone (whose
    * candidate generation is LSH-banded, never all-pairs); the histogram
    * and the two MLE aggregates run over the families frame — corpus-sized
    * input, family-sized intermediates, histogram-sized output.
    */
  def familySizeStats(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame = {
    val fams = minhashDedup(docs, minEstJaccard)
      .where(col("kept"))
      .select(col("family"), col("family_size"))
    val hist = fams.groupBy("family_size").agg(count(lit(1)).as("n_families"))
    val mle = fams.agg(count(lit(1)).as("nf"),
      sum(log(col("family_size").cast("double") / lit(0.5))).as("logsum"))
    hist.crossJoin(broadcast(mle))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"),
        round(col("n_families").cast("double") / col("nf"), 6).as("family_share"),
        round(lit(1.0) + col("nf").cast("double") / col("logsum"), 6).as("alpha_mle"))
  }

  def qFamilySizeStats(spark: SparkSession, sfDir: String): DataFrame =
    familySizeStats(Tables.documents(spark, sfDir))

  /** x70: x66 through a REAL persisted index — the index side's band rows
    * and signatures go through [[writeLshIndex]] to parquet (bands
    * partitioned by band_idx), are read back from the files, and the
    * arriving shard probes those frames. Shares x66's oracle: a hash
    * match proves the persisted artifact carries the full fidelity of the
    * inline computation (and that admission never needs to recompute the
    * corpus).
    */
  def qIncrementalDedupPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val deltaMod = 5
    val docs = Tables.documents(spark, sfDir)
    val isDelta = pmod(col("doc_id"), lit(deltaMod.toLong)) === (deltaMod - 1)
    val sigs = Caches.shared(minhashSignatures(docs))
    val dir = Artifacts.sessionScopedDir(spark, "lsh_index", sfDir)
    writeLshIndex(sigs.where(!isDelta), dir)
    probeIndex(docs.where(isDelta).select("doc_id"),
      bandRows(sigs.where(isDelta)), sigs.where(isDelta),
      spark.read.parquet(dir + "/bands"),
      spark.read.parquet(dir + "/sigs"), minEstJaccard = 0.5)
  }
}
