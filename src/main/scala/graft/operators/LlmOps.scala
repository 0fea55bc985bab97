package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Harness, Q, Tables}
import graft.Q.oneLine
import graft.functions.{TextFunctions, VectorFunctions}

/** Group D (SURVEY.md §2.D): LLM-data-pipeline operators over the
  * `documents` / `embeddings` tables — dedup (exact + near), similarity
  * search, text analysis, and the text⋈vector multimodal join.
  *
  * Scale design (100 TB / 1000 executors):
  *   - i1 exact dedup: one hash-shuffle on the md5 fingerprint; the
  *     fingerprint is tiny, so the shuffle moves 16 bytes + doc_id per row
  *     regardless of document size (project BEFORE shuffling).
  *   - i2 near-dedup: candidate generation is bucketed — pairs are only
  *     formed inside a `source` bucket via an equi-join on
  *     (source, prefix token), never an unbucketed all-pairs self-join.
  *     The declared scale path is MinHash+LSH banding, wired end-to-end
  *     as i14 (PipelineOps) over this file's verify stage and asserted
  *     output-identical to i2; band buckets bound candidates
  *     independently of corpus size.
  *   - i3 similarity: one-vs-all is a single narrow pass — the query vector
  *     is a broadcast 1-row dimension; no shuffle at all. The scale path
  *     for many-query ANN is IVF-style routing (single-query i10,
  *     query-batch i20, both in PipelineOps).
  *   - All vector math is `zip_with`/`aggregate` HOFs in double precision
  *     (VectorFunctions) — codegen-friendly, no UDF serialization, and the
  *     index-ordered fold keeps results reproducible across partitionings
  *     (SURVEY §7 H3).
  */
object LlmOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Token sets as sorted xxhash64 longs. The uniform hash value IS the
    * global token order the prefix filter needs (lossless under any fixed
    * total order) — no vocabulary rank table; a df-rank variant would
    * funnel the whole vocabulary through one unpartitioned window task, a
    * 100 TB straggler. The hash never crosses engines: the oracle joins
    * raw token strings, and Jaccard depends only on intersection COUNTS,
    * which any per-engine-injective rehash preserves — so the native
    * 64-bit xxhash64 (one codegen'd long op) replaces the earlier
    * md5→substring→conv chain (three string ops per token, measured ~2×
    * the hash cost). Collisions (~|V|²/2^65) would merge two tokens on
    * the Spark side only; none occur on the test vocabulary and the
    * verify join intersects 8-byte longs instead of strings. The
    * explode/groupBy shape keeps hashing inside whole-stage codegen and
    * the shuffle carries 8-byte hashes, never text (a narrow `transform`
    * variant measured slower — HOF lambdas evaluate interpreted). Shared
    * by the prefix-filtered near-dedup (i2) and the LSH end-to-end path
    * (i14, PipelineOps).
    */
  def hashedTokenSets(docs: DataFrame): DataFrame =
    PipelineOps.distinctTok(docs)
      .select(col("doc_id"), col("source"),
        xxhash64(col("tok")).as("rk"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sort_array(collect_set(col("rk"))).as("rks"))
      .withColumn("n_tok", size(col("rks")).cast("long"))

  // ------------------------------------------------- the near-dup pair join
  // Every same-source pair operator (i2, i13, i14, i36, i98, the truth
  // table and the CC consumers) is these pieces: rows to join on (prefix
  // hashes or band keys), one candidate self-join over them, and one
  // overlap stage that intersects both sides' sorted sketches. Each
  // caller keeps its own threshold and projection. i70 and i30 form
  // other candidates and keep their own joins (see there).

  /** Lossless PPJoin prefix length at θ (in tenths) over a token count
    * column: n − ceil(θ·n) + 1, with ceil(θ·n) as the integer-exact
    * `(n·t + 9) div 10` (a double ceil mis-rounds at exact multiples,
    * e.g. 0.9·20 → 18.000000000000004). One definition shared by the
    * θ=0.9 near-dedup (i2/i14) and the θ-general fuzzy join (i30);
    * PropertySpec proves the filter lossless at θ ∈ {0.5, 0.7, 0.9}.
    */
  private[graft] def prefixLen(nTok: Column, thetaTenths: Int): Column =
    nTok - ((nTok * thetaTenths + 9) / 10).cast("long") + 1

  /** The `(doc_id, source, rk)` prefix rows of a sketch table
    * `(doc_id, source, rks, n_tok)` at θ (in tenths): each doc's first
    * [[prefixLen]] hashes. Two docs with J ≥ θ share at least one.
    */
  private[graft] def prefixRows(sets: DataFrame, thetaTenths: Int): DataFrame =
    sets.select(col("doc_id"), col("source"),
      explode(slice(col("rks"), lit(1),
        prefixLen(col("n_tok"), thetaTenths).cast("int"))).as("rk"))

  /** Candidate pairs `(doc_id1, doc_id2)`, distinct, doc_id1 < doc_id2:
    * the self-join of `rows` on equal `keys`. The keys include `source`
    * (pairs only form inside a source bucket), and their order is the
    * join's hash-key order.
    */
  private[graft] def candidatePairs(rows: DataFrame, keys: String*): DataFrame = {
    val on = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    rows.alias("l")
      .join(rows.alias("r"), on && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_id1"), col("r.doc_id").as("doc_id2"))
      .distinct()
  }

  /** Candidate pairs joined to both sides' sketches — `rks1`, `n1`,
    * `rks2`, `n2` — plus their exact token overlap `inter`. Candidate
    * generation only decides WHICH pairs are checked; the caller's
    * threshold on `inter` defines the output.
    */
  private[graft] def pairOverlap(cand: DataFrame, sets: DataFrame): DataFrame = {
    def side(i: Int) = sets.select(col("doc_id").as(s"doc_id$i"),
      col("rks").as(s"rks$i"), col("n_tok").as(s"n$i"))
    cand.join(side(1), "doc_id1").join(side(2), "doc_id2")
      .withColumn("inter",
        TextFunctions.sortedIntersectCount(col("rks1"), col("rks2")).cast("long"))
  }

  /** Exact verify stage: candidate pairs × hashed token sets → pairs with
    * token-set Jaccard ≥ θ, totally ordered.
    */
  def verifyJaccard(cand: DataFrame, sets: DataFrame, theta: Double): DataFrame = {
    val jac = col("inter") / (col("n1") + col("n2") - col("inter"))
    pairOverlap(cand, sets)
      .filter(jac >= theta)
      .select(col("doc_id1"), col("doc_id2"), round(jac, 3).as("jaccard"))
      .orderBy("doc_id1", "doc_id2")
  }

  /** The i2 pipeline: hashed token sets → lossless prefix filter →
    * (source, prefix-token) candidate equi-join → exact Jaccard ≥ 0.9
    * verify. Shared by i2 itself and the cluster resolution (i15).
    */
  def nearDupPairs(docs: DataFrame): DataFrame = {
    // Materialize the sketch ONCE: the set table feeds three consumers
    // (prefix explode + both sides of the verify join), and without a
    // checkpoint each one re-runs the tokenize→hash→shuffle pipeline
    // from the corpus scan (measured 3× the sketch cost at sf0.1). The
    // 100 TB form of the same decision is writing the sketch table out
    // and reading it back — sketches are the artifact a dedup pipeline
    // persists; Harness.materialize is the in-session analog (blocks are
    // freed by the ContextCleaner once the plan is GC'd, as in i15).
    val sets = Harness.materialize(hashedTokenSets(docs))
    verifyJaccard(candidatePairs(prefixRows(sets, 9), "source", "rk"), sets, 0.9)
  }

  /** An overlap frame's pairs with Jaccard ≥ θ (in tenths) by exact
    * integer cross-multiplication, as (doc_id1, doc_id2, inter, un).
    */
  private def truthRows(overlap: DataFrame, thetaTenths: Int): DataFrame =
    overlap.withColumn("un", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * thetaTenths)
      .select(col("doc_id1"), col("doc_id2"), col("inter"), col("un"))

  /** Exact pair STATS at θ (in tenths): (doc_id1, doc_id2, inter, un)
    * for every same-source pair with token-set Jaccard ≥ θ, via the
    * lossless prefix filter at θ. THE persistable truth artifact
    * (VERDICT r14 ask #3): because truth sets NEST (J ≥ θ' ⊆ J ≥ θ for
    * θ' ≥ θ — the i98 sweep law), one table built at the loosest θ a
    * deployment sweeps serves every tighter consumer by an integer
    * filter (inter·10 ≥ un·θ'·10), and jaccard = round(inter/un, 3)
    * derives row-locally — so i98's sweep, i71's estimator calibration,
    * i75's banding eval and the CC family's θ=0.9 input all read ONE
    * persisted pair table instead of re-running the candidate join
    * (i98 alone re-derived it for 169 s at sf10). PersistedIndexSpec
    * pins every `...From` read path ≡ its in-query form.
    */
  def pairStats(docs: DataFrame, thetaTenths: Int): DataFrame = {
    val sets = Harness.materialize(hashedTokenSets(docs))
    truthRows(pairOverlap(
      candidatePairs(prefixRows(sets, thetaTenths), "source", "rk"), sets), thetaTenths)
  }

  /** INGEST form of [[pairStats]] — the truth artifact's lifecycle
    * closer (the i25/i36/i41 find→artifact→incremental symmetry): given
    * the persisted corpus sketch table and an arriving batch's sketches,
    * emit exactly the truth pairs that involve ≥ 1 batch doc — the rows
    * a daily crawl APPENDS to the persisted truth table, leaving the
    * corpus×corpus join untouched (at 100 TB that join is the 227 s/sf10
    * build cost paid once, not per day). Candidates are the lossless
    * prefix join of batch prefixes against (corpus ∪ batch) prefixes —
    * the PropertySpec-proven symmetric prefix theorem applies unchanged;
    * pair keys normalize to (min, max) so either arrival order yields
    * the canonical key. ADDITIVITY LAW (PersistedIndexSpec):
    * pairStats(corpus ∪ batch) ≡ pairStats(corpus) ∪ this — the two
    * sides partition the truth set by "touches a batch doc".
    */
  def pairStatsIngest(corpusSets: DataFrame, batchSets: DataFrame,
      thetaTenths: Int): DataFrame = {
    val allSets = Harness.materialize(corpusSets.unionByName(batchSets))
    val cand = prefixRows(batchSets, thetaTenths).alias("a")
      .join(prefixRows(allSets, thetaTenths).alias("b"),
        col("a.source") === col("b.source") && col("a.rk") === col("b.rk") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_id2"))
      .distinct()
    truthRows(pairOverlap(cand, allSets), thetaTenths)
  }

  /** The θ=0.9 near-dup pair set DERIVED from a persisted [[pairStats]]
    * table (built at any θ ≤ 0.9): integer-threshold filter + row-local
    * jaccard — no candidate join, no tokenization, no corpus scan.
    * Output-identical to [[nearDupPairs]] (PersistedIndexSpec): the
    * in-query form's double compare `inter/un ≥ 0.9` agrees with the
    * integer cross-multiplication everywhere un is corpus-bounded (the
    * nearest rational gap 1/un dwarfs one ulp at 0.9).
    */
  def nearDupPairsFrom(stats: DataFrame): DataFrame =
    stats.filter(col("inter") * 10 >= col("un") * 9)
      .select(col("doc_id1"), col("doc_id2"),
        round(col("inter") / col("un"), 3).as("jaccard"))
      .orderBy("doc_id1", "doc_id2")

  /** The i70 pipeline: directed CONTAINMENT C(A→B) = |A∩B|/|A| ≥ 0.9 —
    * the asymmetric sibling of i2's Jaccard that catches a short doc
    * living inside a longer one (a quote, an article re-issued inside a
    * boilerplate wrapper), which symmetric Jaccard misses whenever the
    * container is much larger. The prefix filter stays lossless on the
    * CONTAINED side only: C ≥ θ ⇒ |A∩B| ≥ ceil(θ·|A|), so A's
    * (|A| − ceil(θ·|A|) + 1)-prefix must share a token with B — but B
    * carries no such bound (it can be arbitrarily large), so the
    * candidate join is A.prefix ⋈ B.full-set, bucketed by source.
    * Directed pairs: both (A,B) and (B,A) can emit, with different
    * denominators.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val sets = Harness.materialize(hashedTokenSets(docs))
    val aPref = sets.select(col("doc_id"), col("source"), col("n_tok").as("na"),
      explode(slice(col("rks"), lit(1),
        prefixLen(col("n_tok"), thetaTenths = 9).cast("int"))).as("rk"))
    val bAll = sets.select(col("doc_id"), col("source"), col("n_tok").as("nb"),
      explode(col("rks")).as("rk"))
    // LOSSLESS length filter inside the candidate join (the PPJoin
    // companion to the prefix filter): C(A→B) ≥ θ ⇒ |A∩B| ≥ ceil(θ·|A|)
    // and |A∩B| ≤ |B|, so |B|·10 ≥ |A|·9 — a too-short B can't contain
    // enough of A, and the pair dies BEFORE the distinct instead of at
    // the verify stage. The oracle computes the unfiltered form, so the
    // filter must be (and is) implied by the verify predicate. Not
    // [[candidatePairs]]: the join is directed (prefix ⋈ full set, both
    // orders kept), and so is the verify's denominator.
    val cand = aPref.alias("a")
      .join(bAll.alias("b"),
        col("a.source") === col("b.source") && col("a.rk") === col("b.rk") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.nb") * 10 >= col("a.na") * 9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val l = sets.select(col("doc_id").as("doc_a"), col("rks").as("rks_a"),
      col("n_tok").as("na"))
    val r = sets.select(col("doc_id").as("doc_b"), col("rks").as("rks_b"))
    cand.join(l, "doc_a").join(r, "doc_b")
      .withColumn("n_inter",
        TextFunctions.sortedIntersectCount(col("rks_a"), col("rks_b")).cast("long"))
      .filter(col("n_inter") * 10 >= col("na") * 9)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("n_inter") / col("na"), 3).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** One large-star round: every node u connects its STRICTLY LARGER
    * neighbors to the minimum of its neighborhood (incl. itself) — long
    * tails fold toward small ids, roughly halving component "depth" per
    * round (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", CIKM 2014). Input/output: undirected edge set, one row per
    * edge, no self-loops.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(explode(array(
      struct(col("u"), col("v")),
      struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    // Neighborhood min as a window over the SAME shuffle the round
    // already pays (optimization r20, guide §2.4): the former
    // groupBy+join spelling shuffled `sym` twice (once partially
    // aggregated for the min table, once in full for the equi-join) —
    // the window computes the identical per-u min on the single full
    // shuffle. Skew is unchanged: either spelling gathers N(u) at u's
    // partition, which IS the large-star contract (the hub's
    // neighborhood must meet its min). The terminal distinct STAYS:
    // inside a k-clique every (u,v) row emits (v, componentMin), so the
    // pre-distinct stream holds ~k duplicates per node — dropping the
    // dedup here (tried first in r20) fed O(k²) rows per clique into
    // the next star and read 2–3× on the clique-heavy sf1 rung while
    // being invisible at sf0.1. Duplicate volume is a per-ROUND
    // property, not a per-plan one; each star must hand the next a
    // deduped edge set.
    val w = Window.partitionBy("u")
    sym.withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** One small-star round: edges point big→small; every node u connects
    * its smaller-or-equal neighborhood (and itself) to its minimum
    * neighbor — stars flatten to depth 1.
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    // Same one-shuffle window form as largeStar. The input needs no
    // dedup of its own: the loop only ever feeds this the DISTINCT
    // largeStar output (and the initial canon is distinct), so the old
    // spelling's input distinct was a no-op dedup — dropped. Exchanges
    // per round: 7 → 4 (PlanSpec's cc-round case pins the count); the
    // fixpoint sequence and labels are unchanged (PropertySpec's
    // 500-node path + the i15/i80 oracles).
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val w = Window.partitionBy("u")
    dir.withColumn("m", min(col("v")).over(w))
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Connected components over an undirected pair graph by the
    * ALTERNATING large-star/small-star algorithm (Kiveris et al., CIKM
    * 2014), to a checked fixpoint: (doc_id, canon_id = component min,
    * cluster_size). Rounds are O(log n) in component size — NOT
    * O(diameter) like min-label propagation, so an adversarial
    * transitive near-dup chain (A~B~C~…) converges in a dozen rounds
    * where propagation needed one round per hop (PropertySpec drives a
    * 500-node path through it). Every round is fully distributed
    * (equi-join + min agg on 8-byte id pairs); the driver only reads
    * the per-round count + a one-long emptiness probe that decide
    * convergence — no row data ever reaches the driver. Each round's
    * edge set is materialized (Harness.materialize) so lineage stays flat; the
    * checkpoint blocks of superseded rounds are released by the
    * ContextCleaner when their plans are GC'd — transient storage is
    * #rounds small edge tables, bounded by the pair count, not the
    * corpus.
    */
  def nearDupClusters(pairs: DataFrame,
      maxRounds: Int = 32 /* ~3·log2(n) worst case — covers any corpus */): DataFrame = {
    val labels = clusterLabels(pairs, maxRounds)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("canon_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The component-label core of [[nearDupClusters]]: (doc_id, lbl =
    * component min) for every clustered node, WITHOUT the cluster-size
    * decoration — the apply-side consumers (i18/i31/i29) only need the
    * labels, and the sizes join is an extra shuffle they would discard.
    */
  def clusterLabels(pairs: DataFrame,
      maxRounds: Int = 32): DataFrame = {
    // Canonical big→small edge form; node set extracted in the same
    // pass over the (expensive) pair pipeline via the checkpoint below.
    // LAZY checkpoint + count (optimization r20): the convergence loop
    // needs each round's edge count anyway, so the count() action IS the
    // materializing job — eager checkpointing ran a separate
    // materialization job first and then a second job for the count,
    // doubling the fixed per-round job cost that dominates small rounds
    // (and at scale is pure scheduler overhead on top of real work).
    // Lineage truncation and block persistence are identical; only the
    // job count changes (2 per round → 1, plus the rare equal-count
    // anti-join probe).
    val canon = Harness.materialize(pairs.select(
        greatest(col("doc_id1"), col("doc_id2")).as("u"),
        least(col("doc_id1"), col("doc_id2")).as("v"))
      .filter(col("u") =!= col("v")).distinct(), eager = false)
    val nodes = canon.select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct()
    var cur = canon
    var curCnt = cur.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = Harness.materialize(smallStar(largeStar(cur)), eager = false)
      val nextCnt = next.count()
      // Distinct edge sets of equal size are equal iff the anti-join is
      // empty; limit(1) keeps the probe a short-circuit, not a scan.
      converged = nextCnt == curCnt &&
        next.join(cur, Seq("u", "v"), "left_anti").limit(1).count() == 0L
      cur = next
      curCnt = nextCnt
      rounds += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // Fixpoint = disjoint stars: every non-center node has exactly one
    // edge to its component min. The union adds (n, n) for every node,
    // so centers label themselves and the min-agg is total.
    cur.select(col("u").as("doc_id"), col("v").as("lbl"))
      .union(nodes.select(col("doc_id"), col("doc_id").as("lbl")))
      .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl"))
  }

  /** The i25 incremental-dedup logic over any (doc_id, text) frame: docs
    * at or past `boundary` form the incoming batch; a batch doc survives
    * iff its md5 fingerprint appears neither in the existing corpus
    * (below the boundary) nor earlier in its own batch (min-doc_id
    * canonical, the i1 rule). Factored out of the registry query so the
    * drop behavior is testable on crafted duplicates — the driver
    * fixture has no exact duplicates across its 400-boundary, which
    * would leave a fixture-only test vacuous. Output: (doc_id, fp),
    * unordered.
    */
  def incrementalDedup(docs: DataFrame, boundary: Long): DataFrame = {
    val fps = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val corpusFps = fps.filter(col("doc_id") < boundary)
      .select(col("fp")).distinct()
    fps.filter(col("doc_id") >= boundary)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .join(corpusFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** The i47 incremental materialized-view maintenance logic: a per-
    * (source, lang) profile MV (counts, char sums, min/max, derived
    * mean) kept current by merging the DELTA batch's partial aggregates
    * into the existing MV — never rescanning the corpus. Every kept
    * statistic is chosen mergeable: counts and sums add, min/max fold,
    * and the MEAN is never stored (the avg-of-avgs trap) but derived
    * from the merged sum/count at read time, micro-quantized to an
    * exact integer (×10⁴ floor-div — identical cross-engine, no float
    * division). A non-mergeable statistic (distinct counts, medians)
    * needs a sketch instead — that's c9/c10's HLL/KLL contract.
    * At 100 TB the maintenance cost is |delta| + |MV|: the corpus term
    * exists only here in-query (registry isolation, the i36/i41 story —
    * a real pipeline reads the persisted MV and writes it back merged);
    * the streaming twin in StreamingSpec maintains the same MV with
    * foreachBatch merge-upserts and is pinned ≡ this batch form.
    * Output: one row per (source, lang), unordered.
    */
  def mvMaintain(docs: DataFrame, boundary: Long): DataFrame = {
    val baseMv = mvPartials(docs.filter(col("doc_id") < boundary))
    val deltaMv = mvPartials(docs.filter(col("doc_id") >= boundary))
    mergeMv(baseMv, deltaMv)
  }

  /** Partial-aggregate shape of the i47 MV over any (source, lang,
    * n_chars) frame — the unit the streaming twin folds per micro-batch.
    */
  def mvPartials(d: DataFrame): DataFrame =
    d.groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Merge-of-partials for the i47 MV: union + re-aggregate with each
    * statistic's own merge function. Factored so the streaming twin
    * folds arriving micro-batch partials with the identical merge.
    */
  def mergeMv(mv: DataFrame, deltaPartials: DataFrame): DataFrame =
    mv.unionAll(deltaPartials)
      .groupBy(col("source"), col("lang"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("sum_chars"),
        col("min_chars"), col("max_chars"),
        expr("sum_chars * 10000 DIV n_docs").as("avg_chars_x1e4"))

  /** The i30 fuzzy-join logic over any (doc_id, source, text) frame:
    * docs at or past `boundary` are the probe side, docs below it the
    * base side; each probe links to its best (max rounded-Jaccard,
    * min-id tiebreak) base match with token-set J ≥ θ. Candidates come
    * from the corpus-wide LOSSLESS prefix filter at θ: under the fixed
    * xxhash64 token order, J(A,B) ≥ θ forces a shared token inside each
    * side's first n − ceil(θ·n) + 1 hash-ordered tokens (pigeonhole —
    * the same arithmetic as i2's θ=0.9 form), so each side explodes only
    * that prefix. θ arrives as TENTHS (5 ⇒ 0.5, the registry's value;
    * 9 ⇒ i2's 0.9) because ceil(θ·n) must be integer-exact —
    * `(n·t + 9) div 10` — where a double ceil mis-rounds at exact
    * multiples (SURVEY §7 H2; PropertySpec proves the filter lossless at
    * θ ∈ {0.5, 0.7, 0.9}). Factored out of the registry entry so the
    * match/no-match/tiebreak paths are testable on crafted docs.
    * Output: (probe_id, match_id, jaccard), unordered.
    */
  def fuzzyJoin(docs: DataFrame, boundary: Long, thetaTenths: Int = 5): DataFrame = {
    require(thetaTenths >= 1 && thetaTenths <= 10,
      s"theta must be in tenths within [1,10], got $thetaTenths")
    val theta = thetaTenths / 10.0
    // One tokenize pass for its three consumers (both group tables + the
    // final expand), the nearDupPairs materialization rule.
    val sets = Harness.materialize(hashedTokenSets(docs))
    // Jaccard is a function of the token SET, so collapse each side to
    // its DISTINCT sets first and verify once per set PAIR, not per doc
    // pair — on dup-heavy corpora (the whole reason a fuzzy join runs)
    // this cuts the quadratic verify by the square of the duplication
    // factor (sf0.1: 5000 docs → 124 distinct sets; 1.84M doc-pair
    // verifies → ~4k set-pair verifies, measured 12.5 → 2.5 s). Each
    // group is keyed by its min doc id — which IS the tiebreak winner,
    // so group-level argmax (max rounded J, min base rep) expands to
    // exactly the doc-level answer.
    // The two GROUP tables below are NOT checkpointed (optimization r21,
    // same finding as the i71/i98 revert): each has 2-3 consumers, but
    // every recompute is a one-shuffle groupBy/window over the
    // checkpointed `sets` scan — no tokenize — and the duplicated
    // subtrees run concurrently inside the one verify job, while the r20
    // eager checkpoints serialized two extra materialization jobs ahead
    // of it. Same-window A/B (OPTIMIZATION_r21.md): dropping them wins.
    val baseG = sets.filter(col("doc_id") < boundary)
      .groupBy(col("rks")).agg(min(col("doc_id")).as("match_id"))
      .withColumn("n_tok", size(col("rks")).cast("long"))
    // Probe rows carry their group id (= group-min doc id) via a window
    // over the SAME rks shuffle a groupBy would need — Spark cannot
    // hash-join on an array key (a groupBy'd group table would have to
    // sort-merge back onto the probe rows), so tagging rows in place and
    // taking `doc_id = pg` as the group representative costs one
    // Exchange and zero joins. The window is partitioned by rks —
    // group-bounded, never corpus-wide.
    val probes = sets.filter(col("doc_id") >= boundary)
      .select(col("doc_id"), col("rks"))
      .withColumn("pg", min(col("doc_id")).over(Window.partitionBy(col("rks"))))
    val probeG = probes.filter(col("doc_id") === col("pg"))
      .select(col("rks"), col("pg"))
      .withColumn("n_tok", size(col("rks")).cast("long"))
    // Lossless θ prefix filter between the GROUP tables (the i2/i13
    // pigeonhole under the xxhash64 token order, shared prefixLen). Not
    // [[candidatePairs]]/[[pairOverlap]]: probe groups meet base groups
    // across sources, keyed by group id, not a doc self-join.
    def prefixed(g: DataFrame, id: String) = g.select(col(id),
      explode(slice(col("rks"), lit(1),
        prefixLen(col("n_tok"), thetaTenths).cast("int"))).as("rk"))
    val cand = prefixed(baseG, "match_id").alias("a")
      .join(prefixed(probeG, "pg").alias("b"), col("a.rk") === col("b.rk"))
      .select(col("b.pg").as("pg"), col("a.match_id").as("match_id"))
      .distinct()
    val bg = baseG.select(col("match_id"), col("rks").as("rks1"),
      col("n_tok").as("n1"))
    val pg = probeG.select(col("pg"), col("rks").as("rks2"),
      col("n_tok").as("n2"))
    val inter = TextFunctions.sortedIntersectCount(col("rks1"), col("rks2")).cast("long")
    val jac = col("inter") / (col("n1") + col("n2") - col("inter"))
    // Per-probe-group argmax as a MAX-of-struct hash aggregate — (max
    // rounded J, min match id) ≡ max (J, −id) — so the reduction partial-
    // combines map-side instead of sort-shuffling every verified pair
    // into a window (the verified-pair table is the dense part on
    // dup-heavy data).
    val best = cand.join(bg, "match_id").join(pg, "pg")
      .withColumn("inter", inter)
      .filter(jac >= theta)
      .select(col("pg"), struct(round(jac, 3).as("jaccard"),
        (-col("match_id")).as("nmid")).as("sc"))
      .groupBy(col("pg")).agg(max(col("sc")).as("sc"))
      .select(col("pg"), (-col("sc.nmid")).as("match_id"),
        col("sc.jaccard").as("jaccard"))
    // Expand the group verdicts back to every probe doc on the LONG
    // group key the window already attached (left to AQE — it
    // broadcasts when small and shuffles 8-byte keys when the probe
    // side outgrows a broadcast).
    probes.select(col("doc_id").as("probe_id"), col("pg"))
      .join(best, Seq("pg"))
      .select(col("probe_id"), col("match_id"), col("jaccard"))
  }

  /** The i36 incremental NEAR-dedup over a (doc_id, source, text) frame
    * — the ingest shape a crawl pipeline actually runs, i25's exact-
    * fingerprint rule lifted to token-set Jaccard: docs at or past
    * `boundary` form the incoming batch; a batch doc is dropped iff it
    * has a same-source J ≥ 0.9 match in the existing corpus (below the
    * boundary), and the SCREEN SURVIVORS then near-dedup among
    * themselves (connected components over their J ≥ 0.9 pairs, keep
    * each component's min id — the i15 resolve rule standing in for
    * i25's min-per-fingerprint). Screen-first on purpose: it is the
    * order an ingest composes (screen against the persisted corpus,
    * dedup the remainder), and it makes the stream-static streaming
    * twin (NearDedupStream keyed by source) equivalent by construction
    * — a corpus-matched doc can never bridge two surviving batch docs
    * into one component.
    *
    * Scale: the corpus side is touched only through its PERSISTED
    * artifacts — the token-set sketch (the i2 table) and its band table
    * (the i14 table). In-session the sketch table is materialized once
    * and the band table, an in-row fold over it with one consumer, is
    * derived in the plan; corpus signatures are NOT recomputed per
    * ingest, and the batch computes sketches only for itself. Candidate
    * pairs come from band equi-joins (batch bands probe corpus bands;
    * minhash signatures depend only on each doc's token set, so
    * subset-computed bands agree with corpus-computed ones), verify
    * intersects the stored hash arrays, and resolution moves 8-byte
    * ids. Output: surviving (doc_id, source, n_tok), unordered.
    */
  def nearDedupIncremental(docs: DataFrame, boundary: Long): DataFrame = {
    val sets = Harness.materialize(hashedTokenSets(docs))
    nearDedupIncrementalFrom(
      sets.filter(col("doc_id") < boundary),
      PipelineOps.minhashBands(sets.filter(col("doc_id") < boundary)),
      sets.filter(col("doc_id") >= boundary))
  }

  /** Core of [[nearDedupIncremental]] over EXPLICIT corpus artifacts —
    * the persisted-table entry point: a real ingest passes the bucketed
    * corpus sketch (i2) and band (i14) tables here (PersistedIndexSpec
    * pins that the band screen then plans zero Exchange on the bucketed
    * side and corpus text is never re-tokenized), while the in-query
    * registry form passes the freshly-derived frames. `batchSets` is
    * read by four consumers, so a caller whose batch sketch still holds
    * its tokenize shuffle materializes it first.
    */
  def nearDedupIncrementalFrom(corpusSets: DataFrame, corpusBands: DataFrame,
      batchSets: DataFrame): DataFrame = {
    // The verify stage needs both sides' sketches; corpus sketches come
    // from the persisted table, never a re-tokenize.
    val sets = corpusSets
      .select(col("doc_id"), col("source"), col("rks"), col("n_tok"))
      .union(batchSets
        .select(col("doc_id"), col("source"), col("rks"), col("n_tok")))
    // Two consumers (cross-probe + internal pairs) — materialize once,
    // the nearDupPairs rule.
    val batchBands = Harness.materialize(PipelineOps.minhashBands(batchSets))
    val candCross = batchBands.alias("p")
      .join(corpusBands.alias("c"),
        col("p.b") === col("c.b") && col("p.v") === col("c.v") &&
          col("p.source") === col("c.source"))
      .select(col("c.doc_id").as("doc_id1"), col("p.doc_id").as("doc_id2"))
      .distinct()
    val corpusMatched = Harness.materialize(verifyJaccard(candCross, sets, 0.9)
      .select(col("doc_id2").as("doc_id")).distinct())
    // Both sides of the internal-pair self-join read the screened band
    // table — materialized once (the r20 rule: Catalyst shares no
    // subtree between self-join sides, so the anti-join screen re-ran
    // per side).
    val cleanBands = Harness.materialize(batchBands.join(corpusMatched, Seq("doc_id"), "left_anti"))
    val batchDrop = clusterLabels(verifyJaccard(
        candidatePairs(cleanBands, "b", "v", "source"), sets, 0.9)
      .select("doc_id1", "doc_id2"))
      .filter(col("doc_id") =!= col("lbl"))
      .select("doc_id")
    batchSets.select(col("doc_id"), col("source"), col("n_tok"))
      .join(corpusMatched, Seq("doc_id"), "left_anti")
      .join(batchDrop, Seq("doc_id"), "left_anti")
  }

  /** The i45 delete-cascade body — right-to-be-forgotten propagation,
    * the removal op every production corpus pipeline ships: given a
    * content-addressed delete list (`saltedBucket("del:") < 5`, the i16
    * rule — a deterministic ~5% stand-in for a legal removal request),
    * emit one verdict row per doc. The deleted=0 rows ARE the surviving
    * corpus; each deleted doc carries the exact row counts the cascade
    * removes from every derived table the engine persists — fingerprint
    * (i1: 1 row), LSH bands (i14/i36: 8 rows), span grams (i35/i41:
    * max(n_tok−4, 0) rows), near-dup cluster membership (i15: 0/1) —
    * plus `canon_moved`, flagging deleted docs that were the canonical
    * of an exact-dup group with survivors (the canonical-pointer
    * rewrite a production catalog must then apply).
    *
    * Scale: the delete decision is a codegen'd md5 projection (no
    * driver-side list); fp/gram counts compute in-row on the one corpus
    * pass (at 100 TB they aggregate from the PERSISTED derived tables
    * by doc_id — ids only, the T-tier bucketed-read variants show that
    * path); membership is an ids-only left join against the label
    * table; the fp-group window partitions by the 16-byte fingerprint,
    * group-bounded. Text never shuffles.
    */
  private[graft] def deleteCascade(docs: DataFrame): DataFrame =
    deleteCascadeFor(docs,
      docs.filter(saltedBucket("del:") < 5).select(col("doc_id")))

  /** Symmetrized near-dup edge list: each J ≥ 0.9 pair in both
    * orientations, so per-node aggregates (degree, votes) are one
    * groupBy on the source endpoint. Shared by i74/i82/i83.
    */
  private def nearDupEdges(docs: DataFrame): DataFrame = {
    // Symmetrize by EXPLODE, not unionAll, and materialize once
    // (optimization r20, guide §2.4/§1.2): Catalyst does not share a
    // subtree between two union branches, so the former
    // nd.unionAll(nd.swap) ran the whole pair pipeline (prefix join +
    // verify) TWICE per consumer — and the graph queries then fanned
    // that out again through every self-join of the edge list (i74's
    // plan re-derived the pairs ~8×, 72 Exchanges). One explode row →
    // two directed edges is the same trick largeStar already uses; the
    // checkpoint is the in-session analog of persisting the edge table,
    // exactly as the pair/sketch checkpoints above (the oracle gate
    // never sees engine state — each query still computes from the
    // parquet corpus).
    Harness.materialize(nearDupPairs(docs)
      .select(explode(array(
        struct(col("doc_id1"), col("doc_id2")),
        struct(col("doc_id2").as("doc_id1"), col("doc_id1").as("doc_id2"))))
        .as("p"))
      .select(col("p.doc_id1").as("doc_id1"), col("p.doc_id2").as("doc_id2")))
  }

  /** One label-propagation step (i82): majority neighbor `lang` over
    * the near-dup graph, ties to the lexicographically smallest lang,
    * isolated docs keep their own. See the i82 registry commentary.
    */
  private[graft] def labelPropagateStep(docs: DataFrame): DataFrame = {
    val edges = nearDupEdges(docs)
    val lab = docs.select(col("doc_id"), col("lang"))
    val votes = edges
      .join(lab.select(col("doc_id").as("doc_id2"), col("lang").as("nb_lang")), "doc_id2")
      .groupBy(col("doc_id1").as("doc_id"), col("nb_lang"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_votes").desc, col("nb_lang").asc)
    val winner = votes
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("nb_lang"), col("n_votes"))
    lab.join(winner, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("nb_lang"), col("lang")).as("new_lang"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"),
        (coalesce(col("nb_lang"), col("lang")) =!= col("lang")).cast("long").as("flipped"))
      .orderBy("doc_id")
  }

  /** Two k-core peel rounds at k = 2 (i83): degree, drop deg < k,
    * residual degree among survivors, drop again, residual. Output is
    * one row per node of the near-dup graph with the degree after each
    * round (0 = peeled). See the i83 registry commentary.
    */
  private[graft] def kcorePeel(docs: DataFrame): DataFrame = {
    // The edge list arrives checkpointed from nearDupEdges; the peel
    // cascade references it through THREE degree aggregates (deg0,
    // deg1 via ed1, deg2 via ed2) without re-running the pair pipeline.
    // The 100 TB form persists the edge table between peel iterations —
    // it IS the loop state (see the registry commentary).
    val edges = nearDupEdges(docs)
    val deg0 = edges.groupBy(col("doc_id1").as("doc_id"))
      .agg(count(lit(1)).as("deg0"))
    val alive1 = deg0.filter(col("deg0") >= 2).select(col("doc_id"))
    // ed1 is itself a multi-consumer intermediate (deg1, and BOTH semi
    // joins of ed2 reference it) — uncheckpointed, its two semi joins
    // re-ran ~4× through the cascade (24 SortMergeJoins in the r20
    // before-plan, 48 Exchanges). The peel loop's state at 100 TB is
    // the residual edge table per round; checkpointing each round's
    // residual is that design in-session.
    val ed1 = Harness.materialize(edges
      .join(alive1.select(col("doc_id").as("doc_id1")), "doc_id1", "left_semi")
      .join(alive1.select(col("doc_id").as("doc_id2")), "doc_id2", "left_semi"))
    val deg1 = ed1.groupBy(col("doc_id1").as("doc_id"))
      .agg(count(lit(1)).as("deg1"))
    val alive2 = deg1.filter(col("deg1") >= 2).select(col("doc_id"))
    val ed2 = ed1
      .join(alive2.select(col("doc_id").as("doc_id1")), "doc_id1", "left_semi")
      .join(alive2.select(col("doc_id").as("doc_id2")), "doc_id2", "left_semi")
    val deg2 = ed2.groupBy(col("doc_id1").as("doc_id"))
      .agg(count(lit(1)).as("deg2"))
    deg0
      .join(deg1, Seq("doc_id"), "left")
      .join(deg2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg0"),
        coalesce(col("deg1"), lit(0L)).as("deg1"),
        coalesce(col("deg2"), lit(0L)).as("deg2"))
      .orderBy("doc_id")
  }

  /** Core of [[deleteCascade]] over an EXPLICIT delete list — the
    * production entry point (a legal removal request arrives as ids,
    * not as a hash rule; the registry form derives its list from the
    * content-addressed sample). The verdict semantics are ATOMIC over
    * the whole list: nsurv counts group members not deleted by ANY
    * request in the list, which is what the streaming twin
    * (DeleteCascadeStream) converges to as requests arrive — its
    * per-group keyed state re-emits corrected verdicts when later
    * deletes land in the same exact-dup group.
    */
  private[graft] def deleteCascadeFor(docs: DataFrame,
      deletes: DataFrame): DataFrame = {
    val base = docs.select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        greatest(size(split(col("text"), " ")) - 4, lit(0))
          .cast("long").as("n_grams"))
      .join(deletes.select(col("doc_id"), lit(1L).as("del")),
        Seq("doc_id"), "left")
      .withColumn("deleted", coalesce(col("del"), lit(0L)))
    val byFp = Window.partitionBy(col("fp"))
    val grp = base
      .withColumn("gmin", min(col("doc_id")).over(byFp))
      .withColumn("nsurv", sum(lit(1L) - col("deleted")).over(byFp))
    val members = clusterLabels(nearDupPairs(docs))
      .select(col("doc_id"), lit(1L).as("is_member"))
    grp.join(members, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("deleted"),
        col("deleted").as("fp_rows"),
        (col("deleted") * 8).as("band_rows"),
        (col("deleted") * col("n_grams")).as("gram_rows"),
        (col("deleted") * coalesce(col("is_member"), lit(0L))).as("member_rows"),
        when(col("deleted") === 1 && col("doc_id") === col("gmin") &&
          col("nsurv") > 0, 1L).otherwise(0L).as("canon_moved"))
  }

  /** Salted-md5 bucket in [0,100) over doc_id. One definition for every
    * content-addressed assignment (split bands, mixture sampling):
    * distinct salts give independent buckets, and the md5 arithmetic is a
    * corpus-level contract reproducible OUTSIDE the engine.
    */
  def saltedBucket(salt: String): Column = conv(substring(
    md5(concat(lit(salt), col("doc_id").cast("string"))), 1, 8),
    16, 10).cast("long") % 100

  /** The i16/i17 train/val/test bucket — `saltedBucket` under the split
    * salt.
    */
  val splitBucket: Column = saltedBucket("split:")

  def splitBand(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")

  /** The oracle's pair join: `dtok(doc_id, source, token, n_tok)` and
    * `pairs(doc_id1, doc_id2, n1, n2, inter)` — every same-source pair
    * that shares a token, with both set sizes and the exact overlap. The
    * front of [[nearDupPairsCte]]; i98 applies its own integer thresholds.
    */
  private[operators] val tokenPairsCte: String =
    """dtok AS (
      |   SELECT doc_id, source, token,
      |     count(*) OVER (PARTITION BY doc_id) AS n_tok
      |   FROM (SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS token
      |         FROM documents)),
      | pairs AS (
      |   SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
      |     min(a.n_tok) AS n1, min(b.n_tok) AS n2, count(*) AS inter
      |   FROM dtok a JOIN dtok b
      |     ON a.source = b.source AND a.token = b.token AND a.doc_id < b.doc_id
      |   GROUP BY 1, 2)"""

  /** [[tokenPairsCte]] plus the exact J ≥ 0.9 same-source near-dup pairs
    * as `nd(doc_id1, doc_id2, jaccard)` — shared by the pair oracle
    * (i2/i14), [[nearDupLabelsCte]], i36, i71, i75 and the graph oracles
    * (i74, i79, i82, i83).
    */
  private[operators] val nearDupPairsCte: String =
    s"""$tokenPairsCte,
      | nd AS (
      |   SELECT doc_id1, doc_id2,
      |     round(inter * 1.0 / (n1 + n2 - inter), 3) AS jaccard
      |   FROM pairs WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.9)"""

  /** Min-label connected components over `edges(s, d)`: `reach` pairs
    * every node with each id it reaches, and `lbl(v, canon)` keeps the
    * least — the exact transitive closure (needs `WITH RECURSIVE`) that
    * the text and embedding dedup oracles check the star-contraction
    * resolver against.
    */
  private[operators] def ccLabelCte(v: String, canon: String): String =
    s"""reach($v, r) AS (
      |   SELECT DISTINCT s, s FROM edges
      |   UNION
      |   SELECT e.d, re.r FROM reach re JOIN edges e ON e.s = re.$v),
      | lbl AS (SELECT $v, min(r) AS $canon FROM reach GROUP BY $v)"""

  /** [[nearDupPairsCte]] resolved to components: `lbl(doc_id, canon_id)`
    * over the undirected `nd` graph — the shared front of every
    * near-dup cluster oracle (i15, i18, i31, i32, i45, i66, i80, i84).
    */
  private val nearDupLabelsCte: String =
    s"""$nearDupPairsCte,
      | edges AS (
      |   SELECT doc_id1 AS s, doc_id2 AS d FROM nd
      |   UNION ALL SELECT doc_id2, doc_id1 FROM nd),
      | ${ccLabelCte("doc_id", "canon_id")}"""

  /** The token stats behind the shared doc quality score
    * ([[PipelineOps.docTokQuality]]) as SELECT-list lines: whitespace
    * tokens, distinct tokens and stopwords of `text`.
    */
  private[operators] val tokStatCols: String =
    """len(string_split(text,' '))::BIGINT AS n_tok,
      |     len(list_distinct(string_split(text,' ')))::BIGINT AS n_uniq,
      |     len(list_filter(string_split(text,' '), t -> t IN ('a','the')))::BIGINT AS n_stop"""

  /** `st(key, n_tok, n_uniq, n_stop)`: [[tokStatCols]] per document. */
  private[operators] def tokStatsCte(key: String): String =
    s"""st AS (SELECT $key,
      |     $tokStatCols
      |   FROM documents)"""

  /** DuckDB form of the exact J ≥ 0.9 same-source near-dup (UNFILTERED —
    * any lossless candidate filter on the Spark side must reproduce it).
    */
  val exactNearDupOracle: String = oneLine(
    s"""WITH $nearDupPairsCte
      | SELECT doc_id1, doc_id2, jaccard FROM nd
      | ORDER BY doc_id1, doc_id2""")

  val qs: Seq[Q] = Seq(

    // ------------------------------------------------------------ dedup
    // Exact dedup: md5 fingerprint, keep the lowest doc_id per group.
    // One shuffle on the 16-byte fingerprint; doc text never shuffles.
    Q("i1_dedup_exact",
      (s, dir) => {
        val byFp = Window.partitionBy(col("fp"))
        t(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .withColumn("rn", row_number().over(byFp.orderBy(col("doc_id"))))
          .withColumn("n_dups", count(lit(1)).over(byFp).cast("long"))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("fp"), col("n_dups"))
          .orderBy("doc_id")
      },
      Some(oneLine("""SELECT doc_id, fp, n_dups FROM (
                 |   SELECT doc_id, md5(text) AS fp,
                 |     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
                 |     count(*) OVER (PARTITION BY md5(text)) AS n_dups
                 |   FROM documents)
                 | WHERE rn = 1 ORDER BY doc_id"""))),

    // Near-dedup: exact token-set Jaccard >= 0.9 over same-`source`
    // candidate pairs, generated with LOSSLESS prefix filtering (the
    // PPJoin family): under ANY fixed global token order, J(A,B) >= θ
    // implies |A∩B| >= ceil(θ·|A|), so A's prefix of length
    // |A| - ceil(θ·|A|) + 1 must contain a shared token (pigeonhole) —
    // the pair join only explodes each doc's few first-by-order prefix
    // tokens instead of its whole token set, then candidates are
    // verified exactly with array_intersect. Cuts the candidate join's
    // intermediate ~50× on dup-heavy data with no semantic change (the
    // oracle still computes the unfiltered form).
    Q("i2_dedup_near",
      (s, dir) => nearDupPairs(t(s, dir, "documents")),
      Some(exactNearDupOracle)),

    // Directed containment pairs — see [[containmentPairs]]; the oracle
    // computes the UNFILTERED exact form (integer threshold compare:
    // 10·inter ≥ 9·|A| — no float in the filter), so the one-sided
    // prefix filter must be lossless.
    Q("i70_containment_dedup",
      (s, dir) => containmentPairs(t(s, dir, "documents")),
      Some(oneLine("""WITH dtok AS (
                 |   SELECT doc_id, source, token,
                 |     count(*) OVER (PARTITION BY doc_id) AS n_tok
                 |   FROM (SELECT DISTINCT doc_id, source,
                 |           unnest(string_split(text, ' ')) AS token
                 |         FROM documents)),
                 | pairs AS (
                 |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 |     min(a.n_tok) AS na, count(*)::BIGINT AS n_inter
                 |   FROM dtok a JOIN dtok b
                 |     ON a.source = b.source AND a.token = b.token
                 |        AND a.doc_id <> b.doc_id
                 |   GROUP BY 1, 2)
                 | SELECT doc_a, doc_b, n_inter,
                 |   round(n_inter * 1.0 / na, 3) AS containment
                 | FROM pairs WHERE n_inter * 10 >= 9 * na
                 | ORDER BY doc_a, doc_b"""))),

    // Near-dup CLUSTER RESOLUTION — the step a training pipeline runs
    // after pair finding: connected components over the pair graph, one
    // canonical doc (component-min doc_id) per cluster, so "drop all but
    // the canonical" is a single anti-join downstream. Implemented by
    // [[clusterLabels]] as alternating large-star/small-star contraction
    // (the Kiveris et al. MapReduce-CC shape): each round every node
    // links to the min id in its neighborhood, halving component
    // diameter, so even adversarially chained graphs converge in
    // O(log n) all-distributed rounds — not the O(diameter) a naive
    // min-label propagation would need. Each round is one equi-join +
    // one partial-agg min shuffle on 8-byte ids; iterates to a CHECKED
    // fixpoint, never a guessed round count. The oracle is a recursive
    // CTE computing min reachable id — exact transitive closure,
    // independent of the contraction schedule.
    Q("i15_dedup_clusters",
      (s, dir) => nearDupClusters(nearDupPairs(t(s, dir, "documents"))),
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                  | cs AS (SELECT canon_id, count(*) AS cluster_size FROM lbl GROUP BY canon_id)
                  | SELECT l.doc_id, l.canon_id, c.cluster_size
                  | FROM lbl l JOIN cs c ON l.canon_id = c.canon_id
                  | ORDER BY l.doc_id"""))),

    // The APPLY step that finishes near-dedup: drop every cluster member
    // except its canonical doc, keep everything unclustered — the output
    // IS the deduplicated corpus a training run reads. One left-anti
    // join of the corpus against the (tiny) non-canonical member list;
    // at 100 TB the drop list is the clustered fraction only, so the
    // anti-join broadcasts or shuffles ids, never text.
    Q("i18_dedup_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val drop = clusterLabels(nearDupPairs(docs))
          .filter(col("doc_id") =!= col("lbl"))
          .select(col("doc_id"))
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte
                  | SELECT doc_id, source, lang FROM documents
                  | WHERE doc_id NOT IN (SELECT doc_id FROM lbl WHERE doc_id <> canon_id)
                  | ORDER BY doc_id"""))),

    // QUALITY-canonical dedup apply — i18 with the canonical rule a
    // curation pipeline actually wants: each near-dup cluster keeps its
    // BEST-QUALITY member (the shared j2/i53 quality expression; doc_id
    // breaks exact-quality ties), not its min-id one — when a crawl
    // picks up the same article as clean text and as boilerplate-wrapped
    // scrape, min-id keeps whichever arrived first, this keeps the
    // clean one. Same pair graph + star-contraction resolution as
    // i15/i18; the quality join moves (doc_id, double) pairs only; the
    // per-cluster argmax is a window PARTITIONED by canon_id —
    // cluster-bounded, never corpus-bounded (the i31 rule); the apply
    // anti-joins 8-byte ids, text never re-shuffles. PipelineSpec pins
    // the sibling law against i18: identical survivor COUNT (one per
    // cluster either way), every survivor quality-dominates its
    // cluster's min-id pick.
    Q("i66_dedup_quality_canon",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val q = PipelineOps.docTokQuality(docs)
          .select(col("doc_id"), col("quality"))
        val drop = clusterLabels(nearDupPairs(docs))
          .join(q, "doc_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lbl"))
              .orderBy(col("quality").desc, col("doc_id").asc)))
          .filter(col("rn") > 1)
          .select(col("doc_id"))
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                  | ${tokStatsCte("doc_id")},
                  | qq AS (SELECT doc_id,
                  |     round(least(n_tok/100.0, 1.0)*0.4 + (n_uniq/n_tok)*0.3 + (1.0 - n_stop/n_tok)*0.3, 3) AS quality
                  |   FROM st),
                  | rk AS (SELECT l.doc_id,
                  |     row_number() OVER (PARTITION BY l.canon_id
                  |       ORDER BY qq.quality DESC, l.doc_id) AS rn
                  |   FROM lbl l JOIN qq ON qq.doc_id = l.doc_id),
                  | drp AS (SELECT doc_id FROM rk WHERE rn > 1)
                  | SELECT doc_id, source, lang FROM documents
                  | WHERE doc_id NOT IN (SELECT doc_id FROM drp)
                  | ORDER BY doc_id"""))),

    // Frequency-CAPPED dedup — the soft variant production corpora
    // actually ship (full dedup over-flattens the natural distribution;
    // C4/RefinedWeb-style pipelines keep a bounded number of copies):
    // every near-dup cluster keeps its K=2 lowest-id members, everything
    // unclustered survives untouched. Same pair graph + component
    // resolution as i15/i18; the per-cluster rank is a window PARTITIONED
    // by canon_id — cluster-bounded, never corpus-bounded — and the
    // apply step anti-joins ids only. Changing K is a filter edit, not a
    // replan.
    Q("i31_dedup_cap",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val drop = clusterLabels(nearDupPairs(docs))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lbl")).orderBy(col("doc_id"))))
          .filter(col("rn") > 2)
          .select(col("doc_id"))
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                  | ranked AS (
                  |   SELECT doc_id,
                  |     row_number() OVER (PARTITION BY canon_id ORDER BY doc_id) AS rn
                  |   FROM lbl)
                  | SELECT doc_id, source, lang FROM documents
                  | WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 2)
                  | ORDER BY doc_id"""))),

    // The dedup lifecycle COMPOSED as one declarative plan — the
    // production shape the separate i15/i18/i31 registry entries stand
    // in for (each re-derives the pair pipeline because registry
    // queries run isolated; a real pipeline computes it once): ONE
    // query emits, per document, the full dedup verdict — component
    // canonical, cluster size, within-cluster rank, and the K=2
    // frequency-cap keep flag. Every downstream consumer is a filter
    // over this table: resolution (i15) = the cluster_size > 1 rows,
    // full-dedup apply (i18) = rnk = 1, capped apply (i31) = kept = 1 —
    // PipelineSpec pins all three laws. The sketch and pair tables
    // materialize exactly once (the nearDupPairs/clusterLabels
    // checkpoints); the corpus parquet is read once more only to list
    // doc ids (PlanSpec pins the single scan) — the expensive text
    // tokenize never re-runs. The verdict join moves 8-byte ids; the
    // rank/size windows partition by component, cluster-bounded.
    Q("i32_dedup_e2e",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val byLbl = Window.partitionBy(col("lbl"))
        val ranked = clusterLabels(nearDupPairs(docs))
          .withColumn("rnk", row_number().over(byLbl.orderBy(col("doc_id"))))
          .withColumn("cluster_size", count(lit(1)).over(byLbl).cast("long"))
        docs.select(col("doc_id"))
          .join(ranked, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("lbl"), col("doc_id")).as("canon_id"),
            coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
            coalesce(col("rnk"), lit(1)).cast("long").as("rnk"),
            when(coalesce(col("rnk"), lit(1)) <= 2, 1L).otherwise(0L).as("kept"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                  | ranked AS (
                  |   SELECT doc_id, canon_id,
                  |     row_number() OVER (PARTITION BY canon_id ORDER BY doc_id) AS rnk,
                  |     count(*) OVER (PARTITION BY canon_id) AS cluster_size
                  |   FROM lbl)
                  | SELECT d.doc_id,
                  |   coalesce(r.canon_id, d.doc_id) AS canon_id,
                  |   coalesce(r.cluster_size, 1)::BIGINT AS cluster_size,
                  |   coalesce(r.rnk, 1)::BIGINT AS rnk,
                  |   (CASE WHEN coalesce(r.rnk, 1) <= 2 THEN 1 ELSE 0 END)::BIGINT AS kept
                  | FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
                  | ORDER BY d.doc_id"""))),

    // Incremental NEAR-dedup — the near-dup lift of i25's ingest shape
    // (see nearDedupIncremental): the new batch screens against the
    // PERSISTED corpus band/sketch tables (no corpus recompute), then
    // the screen survivors resolve among themselves to min-id
    // canonicals. The fixture is non-vacuous at every SF (36-40 batch
    // docs are corpus-matched, 11-13 batch-internal pairs at
    // sf0.001/0.01). The oracle is the exact unfiltered same-source
    // J ≥ 0.9 SQL with the same screen-first composition — the i14
    // LSH contract: candidates are band-filtered, so agreement with
    // the exact oracle (and with the exact-screening streaming twin)
    // holds up to the banding miss probability ≤ (1−J)⁸ ≤ 1e-8 per
    // true pair at θ=0.9, verified zero-miss on the fixtures at all
    // three SFs and on the twin's crafted geometry.
    Q("i36_near_dedup_incremental",
      (s, dir) => nearDedupIncremental(t(s, dir, "documents"), 400)
        .orderBy("doc_id"),
      Some(oneLine(s"""WITH RECURSIVE $nearDupPairsCte,
                  | crossm AS (SELECT DISTINCT doc_id2 AS doc_id FROM nd
                  |   WHERE doc_id1 < 400 AND doc_id2 >= 400),
                  | bi AS (SELECT doc_id1, doc_id2 FROM nd
                  |   WHERE doc_id1 >= 400
                  |     AND doc_id1 NOT IN (SELECT doc_id FROM crossm)
                  |     AND doc_id2 NOT IN (SELECT doc_id FROM crossm)),
                  | edges AS (SELECT doc_id1 AS s, doc_id2 AS d FROM bi
                  |   UNION ALL SELECT doc_id2, doc_id1 FROM bi),
                  | ${ccLabelCte("v", "canon")},
                  | sz AS (SELECT doc_id, min(source) AS source, min(n_tok) AS n_tok
                  |   FROM dtok GROUP BY doc_id)
                  | SELECT doc_id, source, n_tok FROM sz
                  | WHERE doc_id >= 400
                  |   AND doc_id NOT IN (SELECT doc_id FROM crossm)
                  |   AND doc_id NOT IN (SELECT v FROM lbl WHERE v <> canon)
                  | ORDER BY doc_id"""))),

    // DELETE cascade — right-to-be-forgotten propagation (see
    // deleteCascade): a content-addressed ~5% delete list removes docs
    // AND their rows in every persisted derived table; the output is
    // the per-doc verdict (survivors = deleted=0 rows, removal counts
    // for fingerprints/bands/grams/memberships, canonical-pointer
    // rewrites). The oracle recomputes the same md5 delete rule, gram
    // arithmetic, fp-group windows, and the recursive-CC membership.
    Q("i45_delete_cascade",
      (s, dir) => deleteCascade(t(s, dir, "documents")).orderBy("doc_id"),
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                  | base AS (SELECT doc_id, md5(text) AS fp,
                  |     greatest(len(string_split(text, ' ')) - 4, 0)::BIGINT AS n_grams,
                  |     (CASE WHEN ('0x' || substr(md5('del:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
                  |      THEN 1 ELSE 0 END)::BIGINT AS deleted
                  |   FROM documents),
                  | grp AS (SELECT doc_id, n_grams, deleted,
                  |     min(doc_id) OVER (PARTITION BY fp) AS gmin,
                  |     sum(1 - deleted) OVER (PARTITION BY fp) AS nsurv
                  |   FROM base)
                  | SELECT g.doc_id, g.deleted,
                  |   g.deleted AS fp_rows,
                  |   (g.deleted * 8)::BIGINT AS band_rows,
                  |   (g.deleted * g.n_grams)::BIGINT AS gram_rows,
                  |   (g.deleted * (CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END))::BIGINT AS member_rows,
                  |   (CASE WHEN g.deleted = 1 AND g.doc_id = g.gmin AND g.nsurv > 0
                  |    THEN 1 ELSE 0 END)::BIGINT AS canon_moved
                  | FROM grp g LEFT JOIN lbl l ON g.doc_id = l.doc_id
                  | ORDER BY g.doc_id"""))),

    // INCREMENTAL exact dedup — the shape an ingest pipeline actually
    // runs: a new batch (doc_id ≥ 400 as the deterministic stand-in for
    // "this crawl") arrives against an existing corpus (doc_id < 400),
    // and a new doc survives iff its fingerprint appears NEITHER in the
    // corpus NOR earlier in its own batch (min-doc_id canonical, the i1
    // rule — arrival order inside a batch is not a dedup decision).
    // Scale: both probes move 16-byte fingerprints + ids only — the
    // corpus side projects to its fingerprint set before the anti-join,
    // so the new batch (small) shuffles against corpus FINGERPRINTS,
    // never corpus text; the within-batch window partitions by
    // fingerprint. The streaming twin of this op is CuratedDedup's keyed
    // state (a fingerprint survives its first batch only).
    Q("i25_dedup_incremental",
      (s, dir) => incrementalDedup(t(s, dir, "documents"), 400).orderBy("doc_id"),
      Some(oneLine("""WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
                 | batch AS (SELECT * FROM fps WHERE doc_id >= 400),
                 | canon AS (
                 |   SELECT doc_id, fp FROM (
                 |     SELECT doc_id, fp,
                 |       row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                 |     FROM batch) WHERE rn = 1)
                 | SELECT doc_id, fp FROM canon
                 | WHERE fp NOT IN (SELECT fp FROM fps WHERE doc_id < 400)
                 | ORDER BY doc_id"""))),

    // Incremental MATERIALIZED-VIEW maintenance — the aggregate sibling
    // of i25's incremental dedup: the per-(source, lang) corpus profile
    // MV stays current by folding the delta batch's (doc_id ≥ 400)
    // partial aggregates into the existing MV with each statistic's own
    // merge function — adds for counts/sums, folds for min/max, the mean
    // DERIVED from merged sum/count (never averaged averages) as an
    // exact ×10⁴ integer. The oracle is the full recompute over the
    // whole corpus: merge-of-partials ≡ recompute IS the correctness
    // claim (the algebraic-aggregate law), pinned by the driver at every
    // SF. Scale: maintenance touches |delta| rows + |MV| rows only —
    // the fixture's corpus term is registry isolation (i36/i41's story);
    // the production loop reads the persisted MV, merges, writes back.
    // Streaming twin: foreachBatch merge-upserts in StreamingSpec.
    Q("i47_mv_maintain",
      (s, dir) => mvMaintain(t(s, dir, "documents"), 400).orderBy("source", "lang"),
      Some(oneLine("""SELECT source, lang, count(*) AS n_docs,
                 |   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 |   min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                 |   CAST((CAST(sum(n_chars) AS BIGINT) * 10000) // count(*) AS BIGINT) AS avg_chars_x1e4
                 | FROM documents GROUP BY source, lang ORDER BY source, lang"""))),

    // Fuzzy JOIN — the directional sibling of near-dedup: link every
    // incoming doc (doc_id ≥ 400, the i25 batch convention) to its BEST
    // matching existing doc (doc_id < 400) by token-set Jaccard ≥ 0.5 —
    // fuzzy entity resolution / "which corpus doc is this a variant of".
    // Unlike i2 the candidate join is corpus-WIDE (no source restriction:
    // a match may come from anywhere), so the lossless θ=0.5 prefix
    // filter (pigeonhole under the xxhash64 token order, i2/i13) is what
    // bounds the join: each side explodes only its first
    // n − ceil(n/2) + 1 hash-ordered tokens, and candidates are
    // (base-prefix × probe-prefix) equi-matches on the 8-byte hash, never
    // all base × probe pairs. Verification intersects the materialized
    // hashed sets; the per-probe argmax is a window PARTITIONED by probe
    // id over its few ≥0.5 matches (rank input is bounded by match count,
    // not corpus). At 100 TB the base side is the deduped corpus sketch
    // table (persisted once, the i2 artifact) and the probe side is the
    // incoming crawl — ids and 8-byte hashes shuffle, text never moves.
    // Ties on the ROUNDED jaccard break to the smallest base id in both
    // engines.
    Q("i30_fuzzy_join",
      (s, dir) => fuzzyJoin(t(s, dir, "documents"), 400).orderBy("probe_id"),
      Some(oneLine("""WITH dtok AS (
                 |   SELECT doc_id, token,
                 |     count(*) OVER (PARTITION BY doc_id) AS n_tok
                 |   FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                 |         FROM documents)),
                 | pairs AS (
                 |   SELECT b.doc_id AS probe_id, a.doc_id AS match_id,
                 |     min(a.n_tok) AS na, min(b.n_tok) AS nb, count(*) AS inter
                 |   FROM dtok a JOIN dtok b ON a.token = b.token
                 |   WHERE a.doc_id < 400 AND b.doc_id >= 400
                 |   GROUP BY 1, 2),
                 | jm AS (
                 |   SELECT probe_id, match_id,
                 |     round(inter * 1.0 / (na + nb - inter), 3) AS jaccard
                 |   FROM pairs WHERE inter * 1.0 / (na + nb - inter) >= 0.5)
                 | SELECT probe_id, match_id, jaccard FROM (
                 |   SELECT probe_id, match_id, jaccard,
                 |     row_number() OVER (PARTITION BY probe_id
                 |       ORDER BY jaccard DESC, match_id) AS rn
                 |   FROM jm) WHERE rn = 1
                 | ORDER BY probe_id"""))),

    // Deterministic train/val/test split — content-addressed sampling:
    // the bucket is a pure hash of doc_id (salted so it is independent of
    // every other hash in the engine), so the assignment is reproducible
    // across runs, engines, and repartitionings, needs no RNG state, and
    // any k% sample is just `bucket < k`. Stratification is free in
    // expectation: a uniform hash splits every stratum at the same rate.
    // Narrow codegen projection; the only shuffle is the output sort.
    // md5 (not xxhash64) because the assignment must be REPRODUCIBLE
    // OUTSIDE the engine too — the split is a corpus-level contract.
    Q("i16_split_assign",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), splitBucket.as("bucket"))
          .withColumn("split", splitBand(col("bucket")))
          .orderBy("doc_id"),
      Some(oneLine("""SELECT doc_id, source,
                 |   ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
                 |   CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                 |        WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'validation'
                 |        ELSE 'test' END AS split
                 | FROM documents ORDER BY doc_id"""))),

    // ------------------------------------------------- similarity search
    // Brute-force one-vs-all cosine top-k: the query vector (vec_id=0) is
    // a broadcast single-row dimension; similarity is an index-ordered
    // double dot product (embeddings are unit-normalized, FIXTURES.md, so
    // cosine ≡ dot); ordering happens on the ROUNDED value with vec_id
    // tiebreak so both engines pick the same top-20.
    Q("i3_sim_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        emb.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(VectorFunctions.dot(col("embedding"), col("q_emb")), 3).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(oneLine("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
                 | prod AS (
                 |   SELECT e.vec_id,
                 |     unnest(e.embedding)::DOUBLE * unnest(q.qe)::DOUBLE AS p
                 |   FROM embeddings e, q),
                 | sims AS (SELECT vec_id, round(sum(p), 3) AS sim FROM prod GROUP BY vec_id)
                 | SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 20"""))),

    // -------------------------------------------------------- text stats
    // Term frequency top-20 (ties broken by term): classic map-side
    // partial-combine hash aggregate after a generator — the shuffle
    // carries (term, partial count), not token rows.
    Q("i4_text_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("term").asc)
          .limit(20),
      Some(oneLine("""SELECT term, count(*) AS freq
                 | FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
                 | GROUP BY term ORDER BY freq DESC, term ASC LIMIT 20"""))),

    // TF-IDF top terms per doc — the term-weighting step behind keyword
    // extraction and per-doc topic tagging. idf is the LINEAR form N/df
    // (a monotone transform of 1/df): score = tf·N/df is a single
    // division of exact integers, so the rounded double is bit-identical
    // cross-engine — ln()-based idf is NOT portable (libm vs JVM intrinsic
    // may differ in the last ulp and flip a rounding boundary), and any
    // monotone idf yields the same ranking. Ties (equal exact scores)
    // break on term asc. Scale: the df table is vocabulary-sized — it
    // joins on the term key after a partial-agg count; the corpus doc
    // count rides in as a broadcast 1-row aggregate, NOT a driver-side
    // collect; per-doc top-5 is a window over narrow (doc, term, tf)
    // rows.
    Q("i26_tfidf_topk",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(df, "term").crossJoin(broadcast(n))
          .withColumn("score", round(col("tf") * col("n_docs") / col("df"), 4))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score").desc, col("term"))))
          .filter(col("rank") <= 5)
          .select(col("doc_id"), col("rank").cast("long").as("rank"),
            col("term"), col("score"))
          .orderBy("doc_id", "rank")
      },
      Some(oneLine("""WITH tf AS (
                 |   SELECT doc_id, term, count(*) AS tf
                 |   FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
                 |   GROUP BY 1, 2),
                 | df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 | n AS (SELECT count(*) AS n_docs FROM documents),
                 | scored AS (
                 |   SELECT doc_id, term, round(tf * n_docs * 1.0 / df, 4) AS score
                 |   FROM tf JOIN df USING (term), n),
                 | ranked AS (
                 |   SELECT doc_id, term, score,
                 |     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
                 |   FROM scored)
                 | SELECT doc_id, rank, term, score FROM ranked
                 | WHERE rank <= 5 ORDER BY doc_id, rank"""))),

    // Per-(lang, source) document facets: count, avg chars, avg tokens.
    Q("i5_text_facets",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg(col("n_chars")), 2).as("avg_chars"),
            round(avg(size(split(col("text"), " "))), 2).as("avg_tokens"))
          .orderBy("lang", "source"),
      Some(oneLine("""SELECT lang, source, count(*) AS n_docs,
                 | round(avg(n_chars), 2) AS avg_chars,
                 | round(avg(len(string_split(text, ' '))), 2) AS avg_tokens
                 | FROM documents GROUP BY lang, source ORDER BY lang, source"""))),

    // ---------------------------------------------------- multimodal join
    // text ⋈ vector on doc_id = vec_id, carrying both modalities; vector
    // norm via the same index-ordered double arithmetic on both engines.
    Q("i6_multimodal_join",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            round(sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))), 3).as("vnorm"))
        t(s, dir, "documents")
          .join(emb, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("label"), col("n_chars"), col("lang"), col("vnorm"))
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH nn AS (
                 |   SELECT vec_id, label, round(sqrt(sum(p)), 3) AS vnorm
                 |   FROM (SELECT vec_id, label,
                 |           unnest(embedding)::DOUBLE * unnest(embedding)::DOUBLE AS p
                 |         FROM embeddings)
                 |   GROUP BY vec_id, label)
                 | SELECT d.doc_id, nn.label, d.n_chars, d.lang, nn.vnorm
                 | FROM documents d JOIN nn ON d.doc_id = nn.vec_id
                 | ORDER BY d.doc_id"""))),

    // Importance-proportional Bernoulli thinning — the sampling mode a
    // DSIR-weighted curation (i60) actually applies at 100 TB: each doc
    // is kept with probability w/20000 where w = min(n_chars, 2000) is
    // its integer weight, decided by a CONTENT-ADDRESSED coin (the i16
    // rule: a salted md5 of the doc id), so the sample is reproducible
    // across reruns, resumable ingest slices, and engine versions — no
    // RNG state anywhere. ALL-INTEGER accept test (48-bit hash mod 20000
    // vs w): exact on both engines, and the plan is a PURE FILTER — zero
    // shuffle, zero aggregate, scan-parallel at any corpus size
    // (PlanSpec pins no Exchange besides the output sort). Expected
    // sample mass Σw/20000 tracks corpus size linearly.
    Q("i73_weighted_sample",
      (s, dir) => {
        val w = least(col("n_chars"), lit(2000L))
        val coin = conv(substring(
          md5(concat(lit("wsamp:"), col("doc_id").cast("string"))), 1, 12),
          16, 10).cast("long") % 20000
        t(s, dir, "documents")
          .filter(coin < w)
          .select(col("doc_id"), col("source"), w.as("weight"), coin.as("coin"))
          .orderBy("doc_id")
      },
      Some(oneLine("""SELECT doc_id, source, least(n_chars, 2000) AS weight,
                 |   ('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 20000 AS coin
                 | FROM documents
                 | WHERE ('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 20000
                 |       < least(n_chars, 2000)
                 | ORDER BY doc_id"""))),

    // One PAGERANK power-iteration step over the near-dup graph — graph
    // centrality as a curation signal: a doc whose neighborhood is dense
    // with near-copies is boilerplate/template mass; PR after one step
    // from the uniform vector already separates hubs (the same step
    // iterated is full PageRank; the round shape is identical, so one
    // oracled step pins the whole loop's arithmetic). Edges are i2's
    // exact J ≥ 0.9 pairs symmetrized; every stage is an 8-byte-id
    // equi-join or hash aggregate — degrees, then neighbor
    // contributions round(1e9/deg) summed as EXACT integers (order-free
    // cross-engine; floor(1e9/deg) is safe in double because the true
    // quotient sits ≥ 1/deg ≫ 1 ulp from any integer), then one final
    // per-node float. Isolated docs keep the damping floor 0.15. At
    // scale this is the textbook distributed PR round: no adjacency
    // matrix, no driver state, contributions combine map-side.
    Q("i74_pagerank_step",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // Checkpointed symmetric edge list (nearDupEdges): deg and
        // contrib both re-derive from it, and the final three-way join
        // references deg twice — without the materialization the pair
        // pipeline re-ran ~8× (72 Exchanges in the r20 before-plan).
        val edges = nearDupEdges(docs)
          .select(col("doc_id1").as("src"), col("doc_id2").as("dst"))
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val contrib = edges.join(deg, "src")
          .select(col("dst"),
            floor(lit(1000000000.0) / col("deg")).cast("long").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
        docs.select(col("doc_id"))
          .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
          .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("deg"), lit(0L)).as("deg"),
            round(lit(0.15) +
              lit(0.85) * coalesce(col("csum"), lit(0L)) / lit(1e9), 6).as("pr"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH $nearDupPairsCte,
                 | edges AS (SELECT doc_id1 AS src, doc_id2 AS dst FROM nd
                 |           UNION ALL SELECT doc_id2, doc_id1 FROM nd),
                 | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
                 | contrib AS (
                 |   SELECT e.dst, CAST(sum(CAST(floor(1000000000.0 / d.deg) AS BIGINT)) AS BIGINT) AS csum
                 |   FROM edges e JOIN deg d ON e.src = d.src GROUP BY e.dst)
                 | SELECT doc_id, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg,
                 |   round(0.15 + 0.85 * coalesce(c.csum, 0) / 1e9, 6) AS pr
                 | FROM documents
                 | LEFT JOIN deg d ON doc_id = d.src
                 | LEFT JOIN contrib c ON doc_id = c.dst
                 | ORDER BY doc_id"""))),

    // TRIANGLE COUNTING + local clustering coefficient over the near-dup
    // graph — the motif census that separates boilerplate CLIQUES (near-
    // copies of one template: high triangle density, coefficient → 1)
    // from CHAINS of pairwise edits (coefficient → 0), a structure
    // signal degree (i74) alone can't see. The MapReduce-classic
    // degree-ordered orientation (Suri & Vassilvitskii WWW'11): each
    // edge orients from its (deg, id)-smaller endpoint, so every wedge
    // join fans out from the LOW-degree end — a hub of degree d
    // generates O(d·d_low) wedges, not O(d²), which is what keeps the
    // join alive when a viral template has a million near-copies. The
    // oracle enumerates the same triangles under plain id-orientation —
    // the triangle SET is orientation-independent, so the per-node
    // counts agree while each engine uses the orientation that suits it.
    Q("i79_triangles",
      (s, dir) => {
        // The pair table feeds FIVE consumers (deg twice via the
        // degree union, both endpoint-degree joins, and the final
        // rollup's degree join) and the oriented edge table feeds the
        // wedge join THREE times — uncheckpointed, the before-plan
        // re-derived the pair pipeline ~17× (202 Exchanges, the single
        // worst plan in the r20 registry audit). Materialize each once:
        // the 100 TB triangle count persists exactly these two tables
        // (pairs, oriented edges) between stages.
        val nd = Harness.materialize(nearDupPairs(t(s, dir, "documents"))
          .select(col("doc_id1").as("u"), col("doc_id2").as("v")))
        val deg = nd.select(explode(array(col("u"), col("v"))).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
        val du = deg.select(col("doc_id").as("u"), col("deg").as("dg_u"))
        val dv = deg.select(col("doc_id").as("v"), col("deg").as("dg_v"))
        val ed = Harness.materialize(nd.join(du, "u").join(dv, "v")
          .select(
            when(col("dg_u") < col("dg_v") ||
              (col("dg_u") === col("dg_v") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("src"),
            when(col("dg_u") < col("dg_v") ||
              (col("dg_u") === col("dg_v") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("dst")))
        val tri = ed.alias("e1")
          .join(ed.alias("e2"), col("e1.dst") === col("e2.src"))
          .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
          .join(ed.alias("e3"),
            col("x") === col("e3.src") && col("z") === col("e3.dst"))
          .select(col("x"), col("y"), col("z"))
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
          .join(deg, "doc_id")
          .select(col("doc_id"), col("deg"), col("n_tri"),
            round(lit(2.0) * col("n_tri") /
              (col("deg") * (col("deg") - lit(1L))), 4).as("clust_coef"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH $nearDupPairsCte,
                 | e AS (SELECT doc_id1 AS a, doc_id2 AS b FROM nd),
                 | tri AS (
                 |   SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 |   FROM e e1 JOIN e e2 ON e1.b = e2.a
                 |     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
                 | corners AS (SELECT unnest([x, y, z]) AS doc_id FROM tri),
                 | per AS (SELECT doc_id, count(*)::BIGINT AS n_tri
                 |   FROM corners GROUP BY doc_id),
                 | deg AS (SELECT doc_id, count(*)::BIGINT AS deg
                 |   FROM (SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e)
                 |   GROUP BY doc_id)
                 | SELECT p.doc_id, d.deg, p.n_tri,
                 |   round(2.0 * p.n_tri / (d.deg * (d.deg - 1)), 4) AS clust_coef
                 | FROM per p JOIN deg d ON p.doc_id = d.doc_id
                 | ORDER BY p.doc_id"""))),

    // Dup-cluster SIZE PROFILE — the one-page report a curation run
    // ships about its dedup pass: how many clusters of each size, and
    // how much removable mass ((size−1) docs per cluster) each size
    // class carries. Near-dup cluster sizes are heavy-tailed (viral
    // templates make the tail); the profile is what decides i31-style
    // caps. Pure rollup over i15's labels: n_clusters = distinct canon
    // per size (the per-doc label table has size·n rows per class), all
    // integer. Costs one extra narrow aggregate over the CC output.
    Q("i80_cluster_profile",
      (s, dir) =>
        nearDupClusters(nearDupPairs(t(s, dir, "documents")))
          .groupBy(col("cluster_size"))
          .agg(countDistinct(col("canon_id")).as("n_clusters"))
          .select(col("cluster_size"), col("n_clusters"),
            ((col("cluster_size") - 1) * col("n_clusters")).as("dup_docs"))
          .orderBy("cluster_size"),
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                  | cs AS (SELECT canon_id, count(*) AS cluster_size FROM lbl GROUP BY canon_id)
                  | SELECT cluster_size, count(*)::BIGINT AS n_clusters,
                  |   CAST((cluster_size - 1) * count(*) AS BIGINT) AS dup_docs
                  | FROM cs GROUP BY cluster_size ORDER BY cluster_size"""))),

    // Shard CHECKSUM MANIFEST — the reproducibility receipt a delivery
    // run ships next to its shards (i49's determinism made auditable):
    // per content-addressed shard, the doc count, the XOR of 48-bit
    // content fingerprints (an ORDER-FREE checksum — xor is commutative,
    // so any task/partition schedule yields the same value; g11's
    // bit_xor as an artifact, not a demo), and the byte mass. Two runs
    // of the same corpus compare manifests cell-for-cell; a single
    // flipped doc flips its shard's xor. One hash aggregate, map-side
    // combinable, all integer.
    Q("i81_shard_checksums",
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            pmod(conv(substring(
              md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8),
              16, 10).cast("long"), lit(16L)).as("shard"),
            conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("fp48"),
            col("n_chars"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            expr("bit_xor(fp48)").as("xor_fp"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("shard"),
      Some(oneLine("""SELECT
                 |   ('0x'||substr(md5('shard:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 16 AS shard,
                 |   count(*) AS n_docs,
                 |   CAST(bit_xor(('0x'||substr(md5(text),1,12))::BIGINT) AS BIGINT) AS xor_fp,
                 |   CAST(sum(n_chars) AS BIGINT) AS sum_chars
                 | FROM documents GROUP BY 1 ORDER BY shard"""))),

    // LABEL PROPAGATION step over the near-dup graph — the cheap
    // community/metadata-repair pass a curation run uses to fix
    // per-field noise (a mislabeled `lang` on one member of a template
    // cluster): every doc takes the MAJORITY lang among its near-dup
    // neighbors, ties broken by the lexicographically smallest lang
    // (deterministic — LPA's random tie-break is the one part that
    // doesn't survive a distributed rerun), isolated docs keep their
    // own. One oracled step pins the iterated algorithm's arithmetic
    // (the i74 rule). Scale: votes are an 8-byte-id equi-join + hash
    // aggregate; the argmax is a per-doc window over the VOTE table
    // (bounded by degree, not corpus size); the final left join keeps
    // the corpus scan narrow (doc_id, lang only).
    Q("i82_label_propagation",
      (s, dir) => labelPropagateStep(t(s, dir, "documents")),
      Some(oneLine(s"""WITH $nearDupPairsCte,
                 | edges AS (SELECT doc_id1, doc_id2 FROM nd
                 |           UNION ALL SELECT doc_id2, doc_id1 FROM nd),
                 | votes AS (
                 |   SELECT e.doc_id1 AS doc_id, l.lang AS nb_lang, count(*) AS n_votes
                 |   FROM edges e JOIN documents l ON e.doc_id2 = l.doc_id
                 |   GROUP BY 1, 2),
                 | winner AS (
                 |   SELECT doc_id, nb_lang, n_votes FROM (
                 |     SELECT doc_id, nb_lang, n_votes,
                 |       row_number() OVER (PARTITION BY doc_id
                 |         ORDER BY n_votes DESC, nb_lang ASC) AS rn
                 |     FROM votes) WHERE rn = 1)
                 | SELECT d.doc_id, d.lang,
                 |   coalesce(w.nb_lang, d.lang) AS new_lang,
                 |   CAST(coalesce(w.n_votes, 0) AS BIGINT) AS n_votes,
                 |   CAST(CASE WHEN coalesce(w.nb_lang, d.lang) <> d.lang
                 |     THEN 1 ELSE 0 END AS BIGINT) AS flipped
                 | FROM documents d LEFT JOIN winner w ON d.doc_id = w.doc_id
                 | ORDER BY d.doc_id"""))),

    // k-CORE PEELING over the near-dup graph — the density filter that
    // separates a TEMPLATE CORE (every member near-dups ≥ k others —
    // boilerplate worth one representative) from PERIPHERAL pairwise
    // edits the i31 cap should spare. Two oracled peel rounds at k = 2
    // pin the fixpoint's arithmetic (the i23b 2-step rule: one round
    // shows the shape, the second proves the iteration composes):
    // degrees → drop deg < k → residual degrees among survivors → drop
    // again → residual. Each round is one hash aggregate on 8-byte ids
    // plus two semi joins that shrink the edge table monotonically; at
    // 100 TB the full peel iterates the same round to fixpoint with the
    // edge table as the only shuffled state (checked-fixpoint, the i15
    // contraction discipline — never a driver-side adjacency).
    Q("i83_kcore_peel",
      (s, dir) => kcorePeel(t(s, dir, "documents")),
      Some(oneLine(s"""WITH $nearDupPairsCte,
                 | edges AS (SELECT doc_id1, doc_id2 FROM nd
                 |           UNION ALL SELECT doc_id2, doc_id1 FROM nd),
                 | deg0 AS (SELECT doc_id1 AS doc_id, count(*) AS deg0
                 |          FROM edges GROUP BY 1),
                 | a1 AS (SELECT doc_id FROM deg0 WHERE deg0 >= 2),
                 | ed1 AS (SELECT e.doc_id1, e.doc_id2 FROM edges e
                 |         WHERE e.doc_id1 IN (SELECT doc_id FROM a1)
                 |           AND e.doc_id2 IN (SELECT doc_id FROM a1)),
                 | deg1 AS (SELECT doc_id1 AS doc_id, count(*) AS deg1
                 |          FROM ed1 GROUP BY 1),
                 | a2 AS (SELECT doc_id FROM deg1 WHERE deg1 >= 2),
                 | ed2 AS (SELECT e.doc_id1, e.doc_id2 FROM ed1 e
                 |         WHERE e.doc_id1 IN (SELECT doc_id FROM a2)
                 |           AND e.doc_id2 IN (SELECT doc_id FROM a2)),
                 | deg2 AS (SELECT doc_id1 AS doc_id, count(*) AS deg2
                 |          FROM ed2 GROUP BY 1)
                 | SELECT d0.doc_id, d0.deg0,
                 |   CAST(coalesce(d1.deg1, 0) AS BIGINT) AS deg1,
                 |   CAST(coalesce(d2.deg2, 0) AS BIGINT) AS deg2
                 | FROM deg0 d0
                 | LEFT JOIN deg1 d1 ON d0.doc_id = d1.doc_id
                 | LEFT JOIN deg2 d2 ON d0.doc_id = d2.doc_id
                 | ORDER BY d0.doc_id"""))),

    // Dedup SURVIVORSHIP report — the before/after audit a curation run
    // ships next to its keep-list (i18): per source, mean quality of
    // the full corpus vs the kept set. Dedup is not quality-neutral
    // (template boilerplate clusters harder than organic text), and
    // this is the number that says which way each source moved. The
    // mean runs on MILLI-QUALITY int64s (quality is already 3-decimal,
    // so ×1000 is exact): sums are order-free exact integers, and the
    // final divisions of int64 pairs give identical doubles on both
    // engines — the i23 micro-quantization rule applied to a float
    // metric column. One corpus pass for quality, ids-only anti-join
    // flag, one source-keyed rollup.
    Q("i84_dedup_quality_shift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val q = PipelineOps.docTokQuality(docs)
          .select(col("doc_id"),
            round(col("quality") * 1000).cast("long").as("qm"))
        val drop = clusterLabels(nearDupPairs(docs))
          .filter(col("doc_id") =!= col("lbl"))
          .select(col("doc_id"), lit(0L).as("kept0"))
        docs.select(col("doc_id"), col("source"))
          .join(q, "doc_id")
          .join(drop, Seq("doc_id"), "left")
          .withColumn("kept", coalesce(col("kept0"), lit(1L)))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept")).as("n_kept"),
            sum(col("qm")).as("sum_qm"),
            sum(col("kept") * col("qm")).as("sum_qm_kept"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            round(col("sum_qm") / col("n_docs") / 1000.0, 4).as("mq_before"),
            round(col("sum_qm_kept") / col("n_kept") / 1000.0, 4).as("mq_after"),
            round((col("sum_qm_kept") / col("n_kept")
              - col("sum_qm") / col("n_docs")) / 1000.0, 4).as("shift"))
          .orderBy("source")
      },
      Some(oneLine(s"""WITH RECURSIVE $nearDupLabelsCte,
                 | drp AS (SELECT doc_id FROM lbl WHERE doc_id <> canon_id),
                 | ${tokStatsCte("doc_id")},
                 | qq AS (SELECT doc_id,
                 |     CAST(round(round(least(n_tok/100.0, 1.0)*0.4 + (n_uniq/n_tok)*0.3
                 |       + (1.0 - n_stop/n_tok)*0.3, 3) * 1000) AS BIGINT) AS qm
                 |   FROM st),
                 | fl AS (SELECT d.source, qq.qm,
                 |     CASE WHEN d.doc_id IN (SELECT doc_id FROM drp) THEN 0 ELSE 1 END AS kept
                 |   FROM documents d JOIN qq ON d.doc_id = qq.doc_id)
                 | SELECT source, count(*) AS n_docs,
                 |   CAST(sum(kept) AS BIGINT) AS n_kept,
                 |   round(CAST(sum(qm) AS BIGINT) / count(*) / 1000.0, 4) AS mq_before,
                 |   round(CAST(sum(kept * qm) AS BIGINT) / CAST(sum(kept) AS BIGINT) / 1000.0, 4) AS mq_after,
                 |   round((CAST(sum(kept * qm) AS BIGINT) / CAST(sum(kept) AS BIGINT)
                 |     - CAST(sum(qm) AS BIGINT) / count(*)) / 1000.0, 4) AS shift
                 | FROM fl GROUP BY source ORDER BY source""")))
  )
}
