package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Harness, Q, Tables}
import graft.Q.oneLine
import graft.functions.{TextFunctions, VectorFunctions}

/** Training-data-pipeline operators beyond the core group D (SURVEY §2.D):
  * sketch-based near-dedup (MinHash+LSH banding i7/i8, SimHash i9,
  * shingle MinHash i11, n-gram Jaccard i13), IVF-routed ANN (i10),
  * label-bucketed embedding pair similarity (i12), text analysis
  * (language-ID j1, quality scoring j2, token counting j3, document
  * fingerprinting j4) and multimodal binary-column plumbing (m1 decode
  * metadata, m2 feature extraction + frame sampling).
  *
  * Scale design (100 TB / 1000 executors):
  *   - Sketches are linear: one generator + one hash-aggregate per doc;
  *     the shuffle carries (doc_id, small fixed-width sketch), never text.
  *   - Candidate pairs come ONLY from equi-joins on (bucket key) — LSH
  *     band values (i8) or SimHash nibbles (i9) composed with the `source`
  *     bucket. Bucket size bounds the quadratic term independently of
  *     corpus size; there is no all-pairs comparison anywhere.
  *   - i10 routes each query to nprobe=2 of k centroids, so the scan is
  *     |cluster| · nprobe instead of the full corpus; centroids are a
  *     broadcast dimension.
  *   - Hashes whose VALUES cross to the DuckDB oracle (i7/i8/i11
  *     signatures, split buckets) are md5-derived — engine-portable,
  *     oracle-checkable. Hashes that stay engine-internal (i13/i14
  *     candidate keys) use native xxhash64: the outputs are pairs +
  *     count-derived Jaccard, invariant under any per-engine-injective
  *     rehash. All vector math is index-ordered double HOFs (§7 H3).
  */
object PipelineOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)
  /** The i21 mixture-sample projection+filter over a (doc_id, source)
    * frame: salted content-addressed bucket under the per-source rate
    * (rate(srcK) = 100 − 4K). One definition shared by the batch registry
    * query and the streaming twin (StreamingSpec), so stream and batch
    * provably run the SAME expression — the filter is stateless, which is
    * what makes it streamable unchanged.
    */
  /** The j7 PII scrub over a (doc_id, text) frame: deterministic
    * injection (the fixture is PII-free; one email/phone/IPv4 derived
    * from doc_id makes the op provably non-vacuous) + pattern counts +
    * chained typed-placeholder redaction. One shared definition for the
    * batch registry query and the streaming twin — the projection is
    * STATELESS, so it maps over micro-batches unchanged (the i21 rule).
    * Patterns are simple classes chosen to behave identically under
    * Java regex (Spark) and RE2 (the DuckDB oracle).
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val pii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or call +1-555-"),
      lpad(col("doc_id").cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
      lit("."), (col("doc_id") % 100).cast("string"))
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+\\d[\\d-]{7,}\\d"
    val ipPat = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(pii, lit(emailPat), lit("<EMAIL>")),
        lit(phonePat), lit("<PHONE>")),
      lit(ipPat), lit("<IP>"))
    docs.select(col("doc_id"),
      size(regexp_extract_all(pii, lit(emailPat), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(pii, lit(phonePat), lit(0))).cast("long").as("n_phone"),
      size(regexp_extract_all(pii, lit(ipPat), lit(0))).cast("long").as("n_ip"),
      length(red).cast("long").as("red_len"),
      md5(red).as("red_fp"))
  }

  /** The j11 text normalization over a (doc_id, text) frame: deterministic
    * case/punctuation/whitespace NOISE injection (the fixture is already
    * canonical, so like j7's PII injection the op must manufacture its
    * own work to be provably non-vacuous — a doc_id-dependent uppercased
    * prefix plus doc_id-dependent punctuation/space suffixes), then the
    * canonicalization pass every dedup pipeline runs before
    * fingerprinting: lowercase → strip non-[a-z0-9 ] → collapse runs of
    * spaces → trim. Because the raw fixture text is verified canonical
    * ([a-z0-9 ], single spaces, no edge spaces — checked at all three
    * SFs), normalization EXACTLY inverts the injected noise:
    * md5(norm(noised)) = md5(text), the recovery law PipelineSpec pins.
    * One narrow codegen projection, zero shuffle (the j7 rule). Shared
    * by the batch registry entry and the stateless streaming twin.
    *
    * The strip/collapse/trim stage is the native `graft_sanitize` byte
    * loop, not the regex pair: the JDK's char-class scan made this
    * map-only query the single most expensive registry entry at sf10
    * (65 s; ~28 s/regex pass over ~230 MB of text) — see
    * [[graft.functions.AsciiSanitize]]. The DuckDB oracle still runs the
    * regex formulation, so the hash match doubles as the cross-engine
    * equivalence check; `lower` stays a builtin (Unicode case-folding is
    * the regex-equivalent semantics and costs ~1 s/pass).
    */
  def normalizeText(docs: DataFrame): DataFrame = {
    val noised = concat(
      upper(expr("substring(text, 1, cast(doc_id % 4 as int))")),
      expr("substring(text, cast(doc_id % 4 as int) + 1)"),
      when(col("doc_id") % 2 === 0, lit("  ,,!!  ")).otherwise(lit(" .?;   ")),
      expr("lpad('', cast(doc_id % 3 + 1 as int), '.')"))
    val norm = TextFunctions.sanitize(lower(noised))
    docs.select(col("doc_id"),
      length(noised).cast("long").as("n_noised"),
      length(norm).cast("long").as("n_norm"),
      md5(norm).as("fp_norm"))
  }

  def mixtureSample(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"),
        LlmOps.saltedBucket("sample:").as("bucket"),
        (lit(100) - lit(4) * substring(col("source"), 4, 10).cast("int")).as("rate"))
      .filter(col("bucket") < col("rate"))

  /** The i34 fractional-upsampling generator over a (doc_id, source)
    * frame: floor(rate) copies per doc + one extra iff the content-
    * addressed bucket falls under the fractional part. One definition
    * shared by the batch registry entry and the streaming twin (the
    * mixtureSample rule) — the generator is stateless, which is what
    * makes it streamable unchanged.
    */
  def upsampleCopies(df: DataFrame): DataFrame = {
    // A source that does not parse as srcK must FAIL the build, not
    // silently vanish: a null-on-malformed cast would flow into a NULL
    // n_copies and be dropped by the >= 1 filter below — a corpus with a
    // malformed source would quietly lose rows where the DuckDB oracle's
    // CAST errors loudly. try_cast pins the null-on-malformed behavior
    // independent of spark.sql.ansi.enabled, and raise_error in the
    // otherwise-branch keeps the check inside the live expression path
    // (an unused assert_true column would be pruned by Catalyst), so the
    // failure is this one deterministic message in either ANSI mode.
    val rawRate = expr("try_cast(substring(source, 4, 10) AS INT)")
    val ratePct = lit(100) + lit(13) * when(rawRate.isNotNull, rawRate)
      .otherwise(raise_error(concat(
        lit("upsampleCopies: unparseable source '"), col("source"), lit("'")))
        .cast("int"))
    val copies = (ratePct / 100).cast("long") +
      when(LlmOps.saltedBucket("upsample:") < ratePct % 100, 1L).otherwise(0L)
    df.select(col("doc_id"), col("source"), copies.as("n_copies"))
      // Guard the sub-1 rate path: Spark's sequence(1, 0) generates the
      // DESCENDING array [1, 0] — two phantom copies — where the intent
      // (and the oracle's range(1, 1)) is zero rows. A rate under 1.0
      // (valid for this general helper even though the registry's rate
      // expression stays ≥ 1) drops the doc entirely when its bucket
      // misses the fractional draw.
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
  }

  // ------------------------------------------------------------ ANN core

  /** The IVF family's shared parameters — ONE definition for the five
    * registry consumers (i10/i20/i24/i28/i29) that previously hard-coded
    * `vec_id < 8` / `nprobe = 2` / `vec_id < 20` at each site. The
    * registry values are part of the oracle contract (the DuckDB CTEs
    * fix the same constants), so changing them is a cross-engine edit;
    * the OPERATORS themselves take the params as arguments and are
    * property-tested at a second (k, nprobe) — nprobe = k must degrade
    * IVF to exact brute force (PipelineSpec).
    *
    * PRODUCTION SIZING RULE (k is fixture-bound here, not a design
    * constant): choose k ≈ N / target-bucket-size so that the expected
    * cluster holds a fixed number of vectors (dedup wants buckets small
    * enough that the within-cluster quadratic term is a constant per
    * cluster — typically 10³-10⁴ vectors; pure ANN routing tolerates
    * larger), and scale nprobe WITH k to hold the probed corpus
    * fraction nprobe/k. PipelineSpec's k-scaling property runs the
    * parameterized family at k = ⌈√N⌉ with a trained codebook and pins
    * both halves of the rule: assignment balance (max cluster ≤ 4·N/k)
    * and no recall loss at equal probe fraction vs this stub k = 8.
    */
  final case class IvfParams(k: Int, nprobe: Int, nQueries: Int)
  private[graft] val ivfParams: IvfParams = IvfParams(k = 8, nprobe = 2, nQueries = 20)

  /** The PRODUCTION SIZING RULE above, promoted into the two registry
    * entries whose within-bucket pair stage is quadratic in bucket DEPTH
    * (i24 near-dup, i29 semdedup): k = max(8, N/250) holds the expected
    * bucket at the sf0.1 fixture depth — 2000/250 = 8, so the fixture k
    * IS this rule evaluated at the gate SF, and at every driver-gate SF
    * (N ≤ 2000) the clamp reproduces k = 8 bit-for-bit. As the corpus
    * scales, buckets stay ~250 deep and the pair stage grows LINEARLY
    * instead of with N²/k. The count is a one-column scan at build time
    * (the b34 build-side Bloom-sizing precedent). The linear-stage ANN
    * consumers (i10/i20/i23/i28/i33/i46/i65/i77) keep the fixed fixture
    * k — their cost is N·k, so scaling k with N would MAKE them
    * quadratic, the exact inversion of the problem here; a production
    * deployment that scales their k recovers the probed-fraction
    * contract by scaling nprobe with it (see IvfParams scaladoc) and
    * the assignment cost by passing k into [[assignToCentroids]], as
    * the scaledK consumers i24/i29 already do (recall parity at the
    * sf10 k=800 point per BASELINE.md).
    */
  private[graft] def scaledK(emb: DataFrame): Int =
    math.max(8, (emb.count() / 250).toInt)

  /** SQL twin of [[scaledK]] for the DuckDB oracles. */
  private val scaledKSql = "greatest(8, (SELECT count(*) // 250 FROM embeddings))"

  /** The deterministic stub codebook: the first `k` corpus vectors as
    * (cid, cemb). The training path that replaces it is [[trainCodebook]]
    * (iterated i23 Lloyd steps); both produce the same shape, so every
    * IVF consumer is codebook-agnostic.
    */
  private[graft] def stubCodebook(emb: DataFrame, k: Int): DataFrame =
    emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))

  /** The k-row centroid table collapsed to a ONE-row array of
    * (cid, cemb) structs — the broadcastable form of the codebook. The
    * global collect_list runs over k rows (an Exchange SinglePartition of
    * k centroids, not corpus data).
    */
  private[graft] def centroidArray(cent: DataFrame): DataFrame =
    cent.agg(collect_list(struct(col("cid"), col("cemb"))).as("cents"))

  /** All within-bucket embedding pairs (i < j) over a
    * (`key`, vec_id, embedding) frame, with HOT-BUCKET salting: a key
    * whose row count reaches `hotThreshold` has its self-join split
    * across `salts` buckets — the left side keys on
    * `hash(vec_id) % salts`, the right side replicates to every salt
    * value, so each pair still matches exactly once (at the left row's
    * salt) while the hot bucket's quadratic work spreads over `salts`
    * tasks instead of one straggler (the saltedJoin pattern,
    * RelationalOps, applied to a self-join). Cold keys get salt
    * count 1: bit-identical to the plain join, no replication. The
    * per-key counts are a broadcast dimension — buckets are few (labels
    * in i12, IVF cluster ids in i24/i29). Output: (key, i, j, ea, eb);
    * SkewSpec asserts ≡ the unsalted join under a manufactured hot
    * label (i12) and a manufactured hot cluster (i29's semDedup).
    */
  private[graft] def saltedSelfPairs(e: DataFrame, key: String,
      hotThreshold: Long = 4096, salts: Int = 16): DataFrame = {
    val g = e.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .select(col(key),
        when(col("n") >= hotThreshold, lit(salts)).otherwise(lit(1)).as("g"))
    val a = e.join(broadcast(g), key)
      .select(col(key), col("vec_id").as("i"), col("embedding").as("ea"),
        pmod(xxhash64(col("vec_id")), col("g")).as("s1"))
    val b = e.join(broadcast(g), key)
      .select(col(key).as("key2"), col("vec_id").as("j"),
        col("embedding").as("eb"),
        explode(sequence(lit(0), col("g") - 1)).as("s2"))
    a.join(b, col(key) === col("key2") && col("s1") === col("s2") &&
        col("i") < col("j"))
      .select(col(key), col("i"), col("j"), col("ea"), col("eb"))
  }

  /** The i12 form of [[saltedSelfPairs]]: bucket key = `label`. */
  private[graft] def labelPairs(e: DataFrame,
      hotThreshold: Long = 4096, salts: Int = 16): DataFrame =
    saltedSelfPairs(e, "label", hotThreshold, salts)

  /** Oracle CTE block for nearest-centroid assignment — `cent` (the
    * vec_id<8 codebook), `adot` (6dp-rounded dot per vector x centroid),
    * `assigned` (smallest-cid argmax winner): the SQL twin of
    * [[assignToCentroids]], interpolated verbatim into the i10/i20/i23/
    * i24/i42 oracles (and over i43's `corpus`) so the assignment contract
    * has exactly ONE SQL source.
    */
  private def centroidAssignCte(k: String = "8", from: String = "embeddings"): String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS cemb FROM $from WHERE vec_id < $k),
      | adot AS (
      |   SELECT vec_id, cid, round(sum(p), 6) AS cd
      |   FROM (SELECT e.vec_id, c.cid,
      |           unnest(e.embedding)::DOUBLE * unnest(c.cemb)::DOUBLE AS p
      |         FROM $from e, cent c)
      |   GROUP BY 1, 2),
      | assigned AS (
      |   SELECT vec_id, cid FROM (
      |     SELECT vec_id, cid,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cid) AS rn
      |     FROM adot) WHERE rn = 1)"""

  /** Oracle CTE block for the i20 batch-ANN pipeline, ending in
    * `ivf(qid, rank, vec_id, sim)` — the SQL twin of [[annBatchTop3]],
    * shared by the i20 oracle and the recall evaluation (i28) so the
    * graded plan and its evaluation have one SQL source.
    */
  private val annBatchCte: String = annBatchCteK(3)

  /** Depth-parameterized form of [[annBatchCte]] — the i86 overlap curve
    * evaluates the SAME pipeline at rank ≤ 10; default 3 is the
    * i20/i28 contract.
    */
  private def annBatchCteK(topk: Int): String =
    s"""${centroidAssignCte()},
      | q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id < 20),
      | qdot AS (
      |   SELECT qid, cid, round(sum(p), 6) AS qd
      |   FROM (SELECT q.qid, c.cid,
      |           unnest(q.qemb)::DOUBLE * unnest(c.cemb)::DOUBLE AS p
      |         FROM q, cent c)
      |   GROUP BY 1, 2),
      | probes AS (
      |   SELECT qid, cid FROM (
      |     SELECT qid, cid,
      |       row_number() OVER (PARTITION BY qid ORDER BY qd DESC, cid) AS rn
      |     FROM qdot) WHERE rn <= 2),
      | sims AS (
      |   SELECT qid, vec_id, round(sum(p), 3) AS sim
      |   FROM (SELECT pr.qid, e.vec_id,
      |           unnest(e.embedding)::DOUBLE * unnest(q.qemb)::DOUBLE AS p
      |         FROM embeddings e
      |           JOIN assigned a ON e.vec_id = a.vec_id
      |           JOIN probes pr ON a.cid = pr.cid
      |           JOIN q ON q.qid = pr.qid)
      |   GROUP BY 1, 2),
      | ivf AS (
      |   SELECT qid, rank, vec_id, sim FROM (
      |     SELECT qid, vec_id, sim,
      |       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      |     FROM sims) WHERE rank <= $topk)"""

  /** `name(qid, vec_id, sim)`: the 3dp cosine of every query in `q`
    * against every embedding — the exact side of the recall oracles.
    */
  private def exsimsCte(name: String = "exsims"): String =
    s"""$name AS (
      |   SELECT qid, vec_id, round(sum(p), 3) AS sim
      |   FROM (SELECT q.qid, e.vec_id,
      |           unnest(e.embedding)::DOUBLE * unnest(q.qemb)::DOUBLE AS p
      |         FROM embeddings e, q)
      |   GROUP BY 1, 2)"""

  /** `name(cols)`: each query's top `k` of `sims` by (sim desc, vec_id). */
  private def exactTopCte(name: String, cols: String, sims: String, k: Int): String =
    s"""$name AS (SELECT $cols FROM (
      |     SELECT qid, vec_id,
      |       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      |     FROM $sims) WHERE rn <= $k)"""

  /** The query batch's exact top 10 `(qid, vec_id, xr)` and its depth-10
    * IVF ranking `(qid, vec_id, ir)` — the two rankings i86 and i91
    * compare.
    */
  private def exactAndIvfTop10(emb: DataFrame): (DataFrame, DataFrame) = {
    val queries = queryBatch(emb, ivfParams.nQueries)
    val exact = emb.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
      .withColumn("xr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("xr") <= 10).select(col("qid"), col("vec_id"), col("xr"))
    val ivf = annBatchTop3(emb, stubCodebook(emb, ivfParams.k),
        queries, ivfParams.nprobe, topK = 10)
      .select(col("qid"), col("vec_id"), col("rank").as("ir"))
    (exact, ivf)
  }

  /** The i20 pipeline at depth 10 as `ivf(qid, rank, vec_id, sim)` beside
    * the exact top 10 `exact(qid, vec_id, xr)` — the SQL twin of
    * [[exactAndIvfTop10]] (i86, i91).
    */
  private val exactAndIvfTop10Cte: String =
    s"""${annBatchCteK(10)},
      | ${exsimsCte()},
      | ${exactTopCte("exact", "qid, vec_id, rn AS xr", "exsims", 10)}"""

  /** i10's single-query IVF top 10; `filter`, a margin line closing the
    * candidate subquery, restricts the candidates (i65).
    */
  private def ivfTop10Oracle(filter: String): String = oneLine(
    s"""WITH q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
      | ${centroidAssignCte()},
      | probe AS (
      |   SELECT cid FROM (
      |     SELECT cid, round(sum(p), 6) AS qd
      |     FROM (SELECT c.cid, unnest(c.cemb)::DOUBLE * unnest(q.qemb)::DOUBLE AS p
      |           FROM cent c, q)
      |     GROUP BY cid)
      |   ORDER BY qd DESC, cid LIMIT 2),
      | sims AS (
      |   SELECT vec_id, round(sum(p), 3) AS sim
      |   FROM (SELECT e.vec_id, unnest(e.embedding)::DOUBLE * unnest(q.qemb)::DOUBLE AS p
      |         FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
      |              JOIN probe pr ON a.cid = pr.cid, q$filter)
      |   GROUP BY vec_id)
      | SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 10""")

  /** `pairs(cols AS i, j, sim)`: every same-cluster pair under `assigned`
    * with its 3dp cosine (i24, i29).
    */
  private def clusterPairsCte(cols: String): String =
    s"""pairs AS (
      |   SELECT $cols AS i, b.vec_id AS j,
      |     round((SELECT sum(x * y) FROM (SELECT
      |        unnest(ea.embedding)::DOUBLE AS x,
      |        unnest(eb.embedding)::DOUBLE AS y)), 3) AS sim
      |   FROM assigned a JOIN assigned b
      |     ON a.cid = b.cid AND a.vec_id < b.vec_id
      |   JOIN embeddings ea ON ea.vec_id = a.vec_id
      |   JOIN embeddings eb ON eb.vec_id = b.vec_id)"""

  /** `name(cid, pos, vq)`: the micro-quantized elements of every `from`
    * vector under its `assigned` centroid — the Lloyd means input.
    */
  private def quantRowsCte(name: String, from: String, assigned: String): String =
    s"""$name AS (
      |   SELECT a.cid,
      |     unnest(range(0, len(e.embedding))) AS pos,
      |     unnest(list_transform(range(0, len(e.embedding)),
      |       i -> round(e.embedding[i + 1]::DOUBLE * 1e6)::BIGINT)) AS vq
      |   FROM $from e JOIN $assigned a ON e.vec_id = a.vec_id)"""

  /** [[centroidAssignCte]] over `from` plus one unrolled Lloyd step: the
    * quantized means `m1` replace every stub centroid that has members,
    * giving `cent1(cid, cemb1)` — the SQL twin of [[lloydCodebook]]
    * (i23b, and i43 over its corpus).
    */
  private def lloydStepCte(from: String): String =
    s"""${centroidAssignCte(from = from)},
      | ${quantRowsCte("q1", from, "assigned")},
      | m1 AS (SELECT cid, pos, round(sum(vq)::DOUBLE / count(*))::BIGINT AS mq
      |   FROM q1 GROUP BY 1, 2),
      | c0px AS (SELECT cid,
      |     unnest(range(0, len(cemb))) AS pos,
      |     unnest(list_transform(range(0, len(cemb)), i -> cemb[i + 1])) AS sv
      |   FROM cent),
      | c1px AS (SELECT c0px.cid, c0px.pos,
      |     CASE WHEN m1.mq IS NULL THEN sv
      |          ELSE CAST(m1.mq::DOUBLE / 1e6 AS FLOAT) END AS ce
      |   FROM c0px LEFT JOIN m1 ON c0px.cid = m1.cid AND c0px.pos = m1.pos),
      | cent1 AS (SELECT cid, list(ce ORDER BY pos) AS cemb1 FROM c1px GROUP BY cid)"""

  /** `assigned(vec_id, cid)`: each `from` vector's argmax centroid in the
    * one-step codebook `cent1`, over its 6dp dots `dot` (i23b, i43).
    */
  private def cent1AssignCte(dot: String, assigned: String, from: String): String =
    s"""$dot AS (
      |   SELECT vec_id, cid, round(sum(p), 6) AS cd
      |   FROM (SELECT e.vec_id, c.cid,
      |           unnest(e.embedding)::DOUBLE * unnest(c.cemb1)::DOUBLE AS p
      |         FROM $from e, cent1 c)
      |   GROUP BY 1, 2),
      | $assigned AS (
      |   SELECT vec_id, cid FROM (
      |     SELECT vec_id, cid,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY cd DESC, cid) AS rn
      |     FROM $dot) WHERE rn = 1)"""

  /** `name(vec_id, b, sv)`: the 4 × 16-dim PQ sub-blocks of `from`'s
    * embeddings (needs `blocks`).
    */
  private def pqSubCte(name: String, from: String): String =
    s"""$name AS (SELECT e.vec_id, b.b,
      |     list_slice(e.embedding, b.b * 16 + 1, b.b * 16 + 16) AS sv
      |   FROM $from e, blocks b)"""

  /** L2 argmin of every `sub` sub-block over the per-block codebook
    * `cents`: `dist` holds the 6dp distances, `assign(vec_id, b, cid)`
    * the smallest-cid winner — the SQL twin of [[pqAssign]].
    */
  private def pqAssignCte(dist: String, assign: String, sub: String, cents: String): String =
    s"""$dist AS (
      |   SELECT vec_id, b, cid, round(sum(p), 6) AS d2
      |   FROM (SELECT s.vec_id, s.b AS b, c.cid,
      |           unnest(list_transform(range(1, len(s.sv) + 1),
      |             i -> (s.sv[i]::DOUBLE - c.cemb[i]::DOUBLE)
      |                * (s.sv[i]::DOUBLE - c.cemb[i]::DOUBLE))) AS p
      |         FROM $sub s JOIN $cents c ON s.b = c.b)
      |   GROUP BY 1, 2, 3),
      | $assign AS (
      |   SELECT vec_id, b, cid FROM (
      |     SELECT vec_id, b, cid,
      |       row_number() OVER (PARTITION BY vec_id, b ORDER BY d2, cid) AS rn
      |     FROM $dist) WHERE rn = 1)"""

  /** The PQ training slice of the i37-family oracles — the SQL twin of
    * [[pqTrainStep]] then [[pqAssign]]: stub codebook `c0` (vec_id < 8 of
    * `corpus`), one Lloyd step to `c1` on micro-quantized means, and
    * `assign2`, the `batch` sub-blocks' codes under `c1`. `p` prefixes
    * the codebook stage names (i43 keeps the bare ones for its coarse
    * quantizer).
    */
  private def pqTrainCte(p: String, corpus: String, batch: String): String =
    s"""${p}c0 AS (SELECT b, vec_id AS cid, sv AS cemb FROM $corpus WHERE vec_id < 8),
      | ${pqAssignCte("d1", "assign1", corpus, s"${p}c0")},
      | ${p}q1 AS (
      |   SELECT a.b, a.cid,
      |     unnest(range(0, len(s.sv))) AS pos,
      |     unnest(list_transform(range(0, len(s.sv)),
      |       i -> round(s.sv[i + 1]::DOUBLE * 1e6)::BIGINT)) AS vq
      |   FROM $corpus s JOIN assign1 a ON s.vec_id = a.vec_id AND s.b = a.b),
      | ${p}m1 AS (SELECT b, cid, pos, round(sum(vq)::DOUBLE / count(*))::BIGINT AS mq
      |   FROM ${p}q1 GROUP BY 1, 2, 3),
      | ${p}c0px AS (SELECT b, cid,
      |     unnest(range(0, len(cemb))) AS pos,
      |     unnest(list_transform(range(0, len(cemb)), i -> cemb[i + 1])) AS sv0
      |   FROM ${p}c0),
      | ${p}c1px AS (SELECT ${p}c0px.b, ${p}c0px.cid, ${p}c0px.pos,
      |     CASE WHEN ${p}m1.mq IS NULL THEN sv0
      |          ELSE CAST(${p}m1.mq::DOUBLE / 1e6 AS FLOAT) END AS ce
      |   FROM ${p}c0px LEFT JOIN ${p}m1
      |     ON ${p}c0px.b = ${p}m1.b AND ${p}c0px.cid = ${p}m1.cid AND ${p}c0px.pos = ${p}m1.pos),
      | ${p}c1 AS (SELECT b, cid, list(ce ORDER BY pos) AS cemb FROM ${p}c1px GROUP BY 1, 2),
      | ${pqAssignCte("d2t", "assign2", batch, s"${p}c1")}"""

  /** i37's sub-blocks of every embedding and their trained codes
    * (i37, i39, i42, i44).
    */
  private val pqCte: String =
    s"""blocks AS (SELECT unnest(range(0, 4)) AS b),
      | ${pqSubCte("sub", "embeddings")},
      | ${pqTrainCte("", "sub", "sub")}"""

  /** i37's integer-exact output stages over `assign2`: the reconstruction
    * checksum `erra(vec_id, e2sum)` against codebook `cents`, and the 4
    * code columns `codes` (i37, i43).
    */
  private def pqCodesCte(sub: String, cents: String): String =
    s"""errp AS (
      |   SELECT s.vec_id,
      |     unnest(list_transform(range(1, len(s.sv) + 1),
      |       i -> round((s.sv[i]::DOUBLE - c.cemb[i]::DOUBLE)
      |                * (s.sv[i]::DOUBLE - c.cemb[i]::DOUBLE) * 1e12)::BIGINT)) AS q
      |   FROM $sub s JOIN assign2 a ON s.vec_id = a.vec_id AND s.b = a.b
      |     JOIN $cents c ON c.b = a.b AND c.cid = a.cid),
      | erra AS (SELECT vec_id, sum(q)::BIGINT AS e2sum FROM errp GROUP BY vec_id),
      | codes AS (SELECT vec_id,
      |     max(CASE WHEN b = 0 THEN cid END)::BIGINT AS code0,
      |     max(CASE WHEN b = 1 THEN cid END)::BIGINT AS code1,
      |     max(CASE WHEN b = 2 THEN cid END)::BIGINT AS code2,
      |     max(CASE WHEN b = 3 THEN cid END)::BIGINT AS code3
      |   FROM assign2 GROUP BY vec_id)"""

  /** Query 0's ADC lookup table `lutp(b, cid, d2q)` over the trained
    * codebook `c1` (i39, i42).
    */
  private val pqLutCte: String =
    """qsub AS (SELECT b, sv AS qv FROM sub WHERE vec_id = 0),
      | lutp AS (
      |   SELECT b, cid, round(round(sum(p), 6) * 1e6)::BIGINT AS d2q
      |   FROM (SELECT c.b AS b, c.cid,
      |           unnest(list_transform(range(1, len(q.qv) + 1),
      |             i -> (q.qv[i]::DOUBLE - c.cemb[i]::DOUBLE)
      |                * (q.qv[i]::DOUBLE - c.cemb[i]::DOUBLE))) AS p
      |         FROM c1 c JOIN qsub q ON c.b = q.b)
      |   GROUP BY 1, 2)"""

  /** The j9 report card over any (doc_id, source, text, n_chars) frame:
    * per source — doc count, token volume, vocabulary size, mean doc
    * length, dominant term (max count, alphabetical tiebreak). Factored
    * out of the registry entry so the tiebreak and single-doc paths are
    * testable on crafted corpora. Output: one row per source, unordered.
    */
  def corpusProfile(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    val perSource = tf.groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_terms"))
    val top = tf
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("token"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("token").as("top_term"),
        col("n").as("top_n"))
    val base = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")) / count(lit(1)), 2).as("avg_chars"))
    base.join(perSource, "source").join(top, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_terms"), col("avg_chars"), col("top_term"), col("top_n"))
  }

  /** The i95 quota-capped per-source selection over any
    * (source, text) frame: per-(source, quality-level) token histogram,
    * greedy best-levels-first fill of a per-source quota (⅓ of its
    * tokens), all-or-nothing at level granularity. Starved-source
    * retention is by CONDITIONAL AGGREGATION, not a join: every source
    * keeps its one group row unconditionally, and kept-ness is a CASE
    * inside the sums — so a STARVED source (one whose single best level
    * already exceeds its quota, keeping zero levels) reports an explicit
    * fill_ppm=0 row instead of silently vanishing (ADVICE r14), with
    * ONE corpus Exchange. Factored out of the registry entry so the
    * starved path is testable on a crafted corpus (the fixture has
    * none). Output: (source, n_levels_kept, tokens_kept, quota_tok,
    * fill_ppm), one row per source, ordered by source.
    */
  private[graft] def quotaSelect(docs: DataFrame): DataFrame = {
    val lvl = docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"),
        markerScore(col("text"), Seq("a", "the")).as("n_stop"))
      .select(col("source"), col("n_tok"),
        round(qualityExpr * 1000).cast("long").as("qm"))
      .groupBy(col("source"), col("qm")).agg(sum(col("n_tok")).as("ltok"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("qm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isKept = col("cum") <= expr("stot div 3")
    // Conditional sums over ALL levels instead of filter-then-aggregate:
    // a starved source keeps its row with explicit zeros and the plan
    // keeps ONE corpus Exchange (the groupBy reuses the window's
    // source partitioning — a second lvl consumer would re-scan).
    lvl
      .withColumn("cum", sum(col("ltok")).over(wcum))
      .withColumn("stot", sum(col("ltok")).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(sum(when(isKept, 1L).otherwise(0L)).as("n_levels_kept"),
        sum(when(isKept, col("ltok")).otherwise(0L)).as("tokens_kept"),
        max(expr("stot div 3")).as("quota_tok"))
      .withColumn("fill_ppm",
        expr("""CASE WHEN quota_tok > 0
                THEN tokens_kept * 1000000 div quota_tok
                ELSE CAST(0 AS BIGINT) END"""))
      .orderBy("source")
  }

  /** The i29 SemDeDup resolve+apply over any (vec_id, embedding) frame
    * and (cid, cemb) codebook: within-cluster cosine ≥ `theta`
    * (3dp-rounded) edges → star-contraction components → drop every
    * non-canonical (non-min-id) member. Factored out of the registry
    * entry so the drop path is testable on crafted vectors — the fixture
    * has no high-cosine pairs, so only a crafted duplicate exercises a
    * θ=0.9-grade drop. Output: surviving (vec_id, cid), unordered.
    */
  def semDedup(emb: DataFrame, cent: DataFrame, theta: Double,
      hotThreshold: Long = 4096, salts: Int = 16, assignK: Int = 0): DataFrame = {
    val assigned = Harness.materialize(assignToCentroids(emb, cent, assignK))
    // Candidate edges via the SALTED cluster self-join (saltedSelfPairs):
    // a semantically-hot cluster — the one shape IVF bucketing can't
    // bound, since cluster size is data-dependent — spreads its quadratic
    // term over `salts` tasks instead of one straggler. Cold clusters
    // plan the plain equi-join (salt count 1). The hot-count groupBy is
    // a fourth consumer of the checkpointed assignment, not a new
    // assignment pass.
    val edges = saltedSelfPairs(
        assigned.select(col("cid"), col("vec_id"), col("embedding")),
        "cid", hotThreshold, salts)
      .select(col("i").as("doc_id1"), col("j").as("doc_id2"),
        round(VectorFunctions.dot(col("ea"), col("eb")), 3).as("sim"))
      .filter(col("sim") >= theta)
      .select(col("doc_id1"), col("doc_id2"))
    val drop = LlmOps.clusterLabels(edges)
      .filter(col("doc_id") =!= col("lbl"))
      .select(col("doc_id").as("vec_id"))
    assigned.join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"))
  }

  /** Nearest-centroid routing — the ONE entry point, and the one place
    * the routing rule is stated.
    *
    *   - Below [[hierRouteMin]] centroids: FLAT inline argmax
    *     ([[assignToCentroidsFlat]]). Every fixed-k fixture consumer and
    *     every correctness-gate SF under the scaledK rule (k = 8) plans
    *     here, and `supers` is ignored: flat routing has no stage 1.
    *   - From [[hierRouteMin]] up: TWO-LEVEL routing. Stage 1 sends each
    *     row to its TOP-2 of g = ⌈√k⌉ SUPER-centroids (two probes, not
    *     one, roughly halve the boundary-miss rate — the standard IVF
    *     multi-probe mitigation, +14 pp flat agreement at sf1 k = 80);
    *     tie-break the (−6dp dot, gid) sort, the annBatchTop3 probe
    *     idiom. Stage 2 takes the (6dp dot, −cid) argmax over the union
    *     of the two routed groups' members. Members are centroids
    *     pre-assigned to their nearest super by the SAME flat argmax,
    *     run once over the k-row codebook (codebook-sized work, never
    *     corpus). Per-row multiply work drops from k·dim to about
    *     3√k·dim, so the scaledK consumers' total falls from
    *     O(N²·dim/250) to O(N^1.5·dim/√250). The winner is exact WITHIN
    *     the routed groups — the standard IVF approximation; PipelineSpec
    *     pins the best_sim ≤ flat law and a window-formulated oracle.
    *
    * Stage 2 has two physical forms with identical output, picked by k:
    *   - below [[partitionedRouteMin]], BROADCAST: the grouped codebook
    *     is one 1-row array, and each row takes each routed group's
    *     local argmax in place and the max of the ≤ 2 winners — zero
    *     corpus shuffle (PlanSpec pins the plan);
    *   - from [[partitionedRouteMin]] up, GID-PARTITIONED: the exploded
    *     top-2 probe rows join a distributed (gid → members) table and
    *     the winners merge by vec_id — one more corpus shuffle for a
    *     per-row cost that no longer grows with g.
    *
    * The supers come in two forms, and they differ only in how the
    * (supers, member table) pair is prepared:
    *   - stub (`supers = None`): the g lowest-cid codebook entries (cids
    *     are 0..k−1 everywhere). A super is PINNED to its own group:
    *     under unnormalized dot-argmax a super need not be its own
    *     nearest super, and a routed-to group must never be
    *     member-empty. The sf1 numpy oracle (tools/ivf_common.py)
    *     mirrors this form.
    *   - trained (`supers = Some(...)`, from [[trainRoutingSupers]]):
    *     trained supers are not codebook members, so the self-pin does
    *     not apply; member-empty groups are excluded from stage 1
    *     instead (rows take their next-best super). BuildIndexes
    *     `--trained-routing` opts in and persists them as
    *     `route_supers`, so IngestBatch routes a batch with the build's
    *     exact router.
    *
    * Output: (vec_id, embedding, cid, best_sim) on every path.
    */
  private[graft] def assignToCentroids(emb: DataFrame, cent: DataFrame,
      k: Int = 0, supers: Option[DataFrame] = None): DataFrame =
    if (k < hierRouteMin) assignToCentroidsFlat(emb, cent)
    else {
      val codebook = cent.select(col("cid").as("vec_id"), col("cemb").as("embedding"))
      val (routeSupers, grouped) = supers match {
        case None =>
          val g = math.ceil(math.sqrt(k.toDouble)).toInt
          val stub = cent.filter(col("cid") < g)
          (stub, assignToCentroidsFlat(codebook, stub).select(
            when(col("vec_id") < g, col("vec_id")).otherwise(col("cid")).as("gid"),
            col("vec_id").as("mcid"), col("embedding").as("mcemb")))
        case Some(trained) =>
          val grouped = Harness.materialize(assignToCentroidsFlat(codebook, trained)
            .select(col("cid").as("gid"), col("vec_id").as("mcid"),
              col("embedding").as("mcemb")))
          (trained.join(grouped.select(col("gid")).distinct(),
            trained("cid") === col("gid"), "left_semi"), grouped)
      }
      val groupTable = grouped.groupBy(col("gid"))
        .agg(collect_list(struct(col("mcid").as("cid"),
          col("mcemb").as("cemb"))).as("members"))
      val probed = emb.crossJoin(broadcast(centroidArray(routeSupers)))
        .withColumn("pr", slice(array_sort(transform(col("cents"), c =>
          struct(
            (-round(VectorFunctions.dot(col("embedding"), c.getField("cemb")), 6)).as("ngd"),
            c.getField("cid").as("gid")))), 1, 2))
      val best =
        if (k >= partitionedRouteMin)
          probed.select(col("vec_id"), col("embedding"),
              explode(expr("array_distinct(transform(pr, x -> x.gid))")).as("gid"))
            .join(groupTable, Seq("gid"))
            .withColumn("best", nearestOf(col("members")))
            .groupBy(col("vec_id"))
            .agg(first(col("embedding")).as("embedding"), max(col("best")).as("best"))
        else
          probed.select(col("vec_id"), col("embedding"),
              col("pr").getItem(0).getField("gid").as("gid1"),
              col("pr").getItem(1).getField("gid").as("gid2"))
            .crossJoin(broadcast(
              groupTable.agg(collect_list(struct(col("gid"), col("members"))).as("groups"))))
            // MAX-OF-GROUP-MAXES, not flatten-of-filter: building the
            // union member array per row deep-copies ~2√k·dim floats of
            // broadcast structs per row (at sf100 k = 8000 that copy cost
            // 5.7× the dots). argmax(A ∪ B) = max(argmax A, argmax B)
            // under the same total (cd, ncid) order, so the output is
            // the same. A missing gid2 (g = 1, or an ungrouped super id)
            // contributes no candidate instead of NULLing a concat.
            .withColumn("best", array_max(filter(
              transform(col("groups"), x =>
                when(x.getField("gid") === col("gid1") ||
                  x.getField("gid") === col("gid2"), nearestOf(x.getField("members")))),
              b => b.isNotNull)))
      best.select(col("vec_id"), col("embedding"),
        (-col("best").getField("ncid")).as("cid"),
        col("best").getField("cd").as("best_sim"))
    }

  /** The row's nearest of an array of (cid, cemb) centroids as a
    * (cd = 6dp dot, ncid = −cid) struct: `array_max` breaks ties to the
    * smallest cid.
    */
  private def nearestOf(cents: Column): Column = array_max(transform(cents, c =>
    struct(
      round(VectorFunctions.dot(col("embedding"), c.getField("cemb")), 6).as("cd"),
      (-c.getField("cid")).as("ncid"))))

  /** k at and above which [[assignToCentroids]] routes hierarchically.
    * Below it the flat argmax's k dots/row are cheaper than two routing
    * stages (g + ~√k dots + the group lookup); 64 is where
    * 2·√k + lookup ≈ k crosses over with margin.
    */
  private[graft] val hierRouteMin = 64

  /** k at and above which [[assignToCentroids]] takes the GID-PARTITIONED
    * stage 2. Above it the broadcast form's per-row scan of the g-group
    * array is what grows: at 2M vectors (`data/ROUTEEVAL_sf100_r16.json`)
    * the partitioned form read 19.6 s vs 21.1 s at k = 800, 38.8 s vs
    * 54.3 s at k = 2828 and 45.0 s vs 124.6 s at k = 8000. Below it the
    * extra corpus shuffle can cost more than it saves: in a same-window
    * A/B, i24 at sf1 (k = 80) read 4.71 s against the broadcast form's
    * 4.23 s (medians of 6 pairs, ROADMAP N4). So every correctness-gate
    * and bench-ladder path (k ≤ 800 through sf10) stays on the
    * zero-shuffle broadcast plan.
    */
  private[graft] val partitionedRouteMin = 1024

  /** The flat rung of [[assignToCentroids]], with ZERO corpus shuffle:
    * the codebook broadcasts as a 1-row array and the argmax runs INLINE
    * per corpus row ([[nearestOf]]), so ties break to the smallest cid
    * exactly like the `row_number` formulation, without fanning every
    * vector into k rows and hash-Exchanging 8× the widest column in the
    * system to re-group what one task already held.
    * The k-element HOF is trivial next to an Exchange (the repo's
    * "HOF lambdas are interpreted" caveat measured 2-3× on per-TOKEN
    * lambdas; here it is k=8 dots per row, all index-ordered doubles).
    */
  private[graft] def assignToCentroidsFlat(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroidArray(cent)))
      .withColumn("best", nearestOf(col("cents")))
      .select(col("vec_id"), col("embedding"),
        (-col("best").getField("ncid")).as("cid"),
        // The winning similarity rides along for free (it is already in
        // the argmax struct) — the outlier screen (i33) reads it; every
        // other consumer projects it away before its first shuffle.
        col("best").getField("cd").as("best_sim"))

  /** Trained stage-1 supers for [[assignToCentroids]]: Lloyd over the
    * k-row codebook (codebook-sized work, ~`maxIters` tiny jobs, never
    * corpus), g = ⌈√k⌉ of them. None below [[hierRouteMin]], where
    * routing is flat and has no stage 1. BuildIndexes persists the
    * result (the `route_supers` artifact). The frame is
    * [[trainCodebook]]'s, which is already materialized.
    */
  private[graft] def trainRoutingSupers(cent: DataFrame, k: Int,
      maxIters: Int = 8): Option[DataFrame] =
    Option.when(k >= hierRouteMin)(trainCodebook(
      cent.select(col("cid").as("vec_id"), col("cemb").as("embedding")),
      math.ceil(math.sqrt(k.toDouble)).toInt, maxIters))

  /** The batch-ANN pipeline (per-query nprobe routing + top-3), fully
    * parameterized over corpus, codebook, query batch and nprobe:
    * factored out so the recall evaluation (i28) scores the SAME plan
    * the i20 registry entry ships — an eval that re-derived its own IVF
    * path could silently drift from the one being graded — and so the
    * property tests can run it at a second (k, nprobe) and against a
    * trained codebook. Output: (qid, rank, vec_id, sim), unordered.
    */
  private[graft] def annBatchTop3(emb: DataFrame, cent: DataFrame,
      queries: DataFrame, nprobe: Int, topK: Int = 3,
      assignK: Int = 0): DataFrame =
    annBatchTop3Assigned(assignToCentroids(emb, cent, assignK),
      cent, queries, nprobe, topK)

  /** [[annBatchTop3]] over a PREBUILT assignment frame — the form the
    * persisted-index read path and RouteEval's router re-grades use
    * (any router's assignment can be scored by the same probe plan).
    */
  private[graft] def annBatchTop3Assigned(assigned: DataFrame, cent: DataFrame,
      queries: DataFrame, nprobe: Int, topK: Int = 3): DataFrame = {
    // nprobe routing, same shuffle-free shape as the assignment: sort
    // the k inline scores, keep nprobe — no per-qid window needed.
    val probes = queries.crossJoin(broadcast(centroidArray(cent)))
      .withColumn("pr", slice(array_sort(transform(col("cents"), c =>
        struct(
          (-round(VectorFunctions.dot(col("qemb"), c.getField("cemb")), 6)).as("nqd"),
          c.getField("cid").as("cid")))), 1, nprobe))
      .select(col("qid"), col("qemb"), explode(col("pr")).as("p"))
      .select(col("qid"), col("qemb"), col("p").getField("cid").as("cid"))
    assigned.join(broadcast(probes), Seq("cid"))
      .select(col("qid"), col("vec_id"),
        round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("sim"))
  }

  /** The registry instantiation of [[annBatchTop3]]: stub codebook at
    * the shared [[ivfParams]].
    */
  private def annBatchTop3(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    annBatchTop3(emb, stubCodebook(emb, ivfParams.k),
      queryBatch(emb, ivfParams.nQueries), ivfParams.nprobe)
  }

  private[graft] def queryBatch(emb: DataFrame, nQueries: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))

  /** Per-query recall@3 of the IVF path against exact brute force over
    * the query batch — the i28 body, parameterized so the trained-vs-stub
    * codebook comparison (PipelineSpec) scores the same plan the
    * registry grades. Output: (qid, n_hit, recall), unordered.
    */
  private[graft] def annRecall(emb: DataFrame, cent: DataFrame,
      queries: DataFrame, nprobe: Int, assignK: Int = 0): DataFrame =
    annRecallAssigned(assignToCentroids(emb, cent, assignK),
      emb, cent, queries, nprobe)

  /** [[annRecall]] over a PREBUILT assignment — RouteEval's router
    * re-grade path; exact truth is brute force over the query batch
    * either way.
    */
  private[graft] def annRecallAssigned(assigned: DataFrame, emb: DataFrame,
      cent: DataFrame, queries: DataFrame, nprobe: Int): DataFrame = {
    val exact = emb.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"))
    val hits = annBatchTop3Assigned(assigned, cent, queries, nprobe)
      .join(exact, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    queries.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / 3.0, 4).as("recall"))
  }

  /** TRAIN the IVF codebook by iterating the i23 Lloyd step until the
    * QUANTIZED mean table reproduces itself or `maxIters` is reached —
    * the loop the single-step registry entry documents as belonging to
    * the caller. Each round is the registry's exact machinery:
    * shuffle-free broadcast-argmax assignment, then micro-quantized
    * (cid, pos) member means (round(v·1e6) int64 sums — order-free and
    * exact, the i23 rule), collected back into a k-row codebook. The
    * convergence probe is count + one anti-join emptiness check — only
    * scalars reach the driver, the clusterLabels pattern; quantization
    * makes the fixpoint well-defined where raw-double means could
    * oscillate in the last ulp. Unlike clusterLabels there is NO
    * require(converged): k-means has no convergence guarantee (quantized
    * means can still 2-cycle), and the iteration-capped codebook is the
    * standard, usable answer — callers needing the distinction can
    * compare two more quantMeans rounds themselves. Empty clusters keep
    * their previous centroid. Per-round materialization keeps lineage
    * flat; transient storage is one k·dim mean table per round. At
    * 100 TB each round is one linear corpus pass whose only shuffle
    * carries ≤ k·dim·partitions partial rows.
    */
  private[graft] def trainCodebook(emb: DataFrame, k: Int,
      maxIters: Int = 16): DataFrame = {
    var cent = Harness.materialize(stubCodebook(emb, k))
    var prevQ: Option[DataFrame] = None
    var prevCnt = -1L
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val q = Harness.materialize(lloydQuantMeans(emb, cent))
      val cnt = q.count()
      converged = prevQ.exists(p => cnt == prevCnt &&
        q.join(p, Seq("cid", "pos", "mq"), "left_anti").limit(1).count() == 0L)
      if (!converged) cent = Harness.materialize(lloydCodebook(q, cent))
      prevQ = Some(q)
      prevCnt = cnt
      iters += 1
    }
    cent
  }

  /** ONE Lloyd round's quantized-mean table — the E-step (shuffle-free
    * broadcast-argmax assignment) plus the micro-quantized M-step:
    * (cid, pos, mq = round(mean(round(v·1e6)))). Factored out of
    * [[trainCodebook]] so the oracled 2-step unrolling (i23b) iterates
    * the EXACT expressions the convergence loop runs.
    */
  private[graft] def lloydQuantMeans(emb: DataFrame, cent: DataFrame): DataFrame =
    assignToCentroids(emb, cent)
      .select(col("cid"), posexplode(col("embedding")))
      .select(col("cid"), col("pos"),
        round(col("col").cast("double") * 1e6).cast("long").as("vq"))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("vq")).as("sq"), count(lit(1)).as("n"))
      .select(col("cid"), col("pos"),
        round(col("sq").cast("double") / col("n")).cast("long").as("mq"))

  /** Collapse a quantized-mean table back into a k-row (cid, cemb)
    * codebook; clusters with no members keep their previous centroid
    * unchanged (the trainCodebook empty-cluster rule).
    */
  private[graft] def lloydCodebook(q: DataFrame, prev: DataFrame): DataFrame = {
    val trained = q.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mq")))),
        s => (s.getField("mq").cast("double") / 1e6).cast("float")).as("cemb"))
    trained.union(prev.join(trained, Seq("cid"), "left_anti"))
  }

  // --------------------------------------------------- product quantization

  /** Explode each embedding into `nBlocks` contiguous sub-vectors:
    * (vec_id, b, sub). The PQ decomposition — each block quantizes
    * independently, so the codebook memory is nBlocks·k·blockDim floats
    * while the code storage is nBlocks small ints per vector (16-64×
    * compression vs float32, the step past i27's 4× scalar int8).
    */
  private[graft] def pqBlocks(emb: DataFrame, nBlocks: Int, blockDim: Int): DataFrame =
    emb.select(col("vec_id"), explode(array((0 until nBlocks).map(b =>
        struct(lit(b).as("b"),
          slice(col("embedding"), b * blockDim + 1, blockDim).as("sub"))): _*)).as("blk"))
      .select(col("vec_id"), col("blk.b").as("b"), col("blk.sub").as("sub"))

  /** Per-block stub codebook: the first `k` vectors' sub-blocks, cid =
    * vec_id (the stubCodebook rule per block).
    */
  private[graft] def pqStubCodebook(sub: DataFrame, k: Int): DataFrame =
    sub.filter(col("vec_id") < k)
      .select(col("b"), col("vec_id").as("cid"), col("sub").as("cemb"))

  /** Nearest-centroid assignment per (vector, block) under the L2
    * metric PQ minimizes — sub-blocks are NOT unit-normalized, so the
    * IVF family's dot argmax is the wrong objective here. Same
    * shuffle-free shape as assignToCentroids: the per-block codebooks
    * collapse to nBlocks rows of centroid arrays, broadcast-join on b,
    * and the argmin runs inline per row over 6dp-rounded index-ordered
    * double distances (min struct = smallest d2, then smallest cid).
    */
  private[graft] def pqAssign(sub: DataFrame, cent: DataFrame): DataFrame = {
    val cents = cent.groupBy(col("b"))
      .agg(collect_list(struct(col("cid"), col("cemb"))).as("cents"))
    sub.join(broadcast(cents), "b")
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct(
          round(VectorFunctions.l2sq(col("sub"), c.getField("cemb")), 6).as("d2"),
          c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("b"), col("sub"),
        col("best").getField("cid").as("cid"))
  }

  /** One Lloyd refinement of the per-block codebooks: L2 assignment,
    * then micro-quantized member means per (b, cid, pos) — the
    * lloydQuantMeans/lloydCodebook arithmetic with the block id riding
    * the keys (the mean is the L2-optimal M-step, so the shared
    * quantized-mean machinery is the correct update here too); empty
    * (b, cid) cells keep their previous centroid. The only shuffle
    * carries ≤ nBlocks·k·blockDim·partitions quantized partials.
    */
  private[graft] def pqTrainStep(sub: DataFrame, cent: DataFrame): DataFrame = {
    val q = pqAssign(sub, cent)
      .select(col("b"), col("cid"), posexplode(col("sub")))
      .select(col("b"), col("cid"), col("pos"),
        round(col("col").cast("double") * 1e6).cast("long").as("vq"))
      .groupBy(col("b"), col("cid"), col("pos"))
      .agg(sum(col("vq")).as("sq"), count(lit(1)).as("n"))
      .select(col("b"), col("cid"), col("pos"),
        round(col("sq").cast("double") / col("n")).cast("long").as("mq"))
    val trained = q.groupBy(col("b"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mq")))),
        s => (s.getField("mq").cast("double") / 1e6).cast("float")).as("cemb"))
    trained.union(cent.join(trained, Seq("b", "cid"), "left_anti"))
  }

  /** Iterated PQ training — the trainCodebook loop shape applied per
    * block (fixed round count; the convergence-probed variant would
    * follow trainCodebook exactly, but PQ's consumers only need the
    * error to come down, asserted in PipelineSpec).
    */
  private[graft] def pqTrainCodebook(sub: DataFrame, k: Int, iters: Int): DataFrame = {
    var cent = Harness.materialize(pqStubCodebook(sub, k))
    (0 until iters).foreach { _ =>
      cent = Harness.materialize(pqTrainStep(sub, cent))
    }
    cent
  }

  /** The i37 product-quantization body: block decomposition → per-block
    * codebook (`cent`) → per-block code assignment → per-vector code
    * row (code0..code3) + integer-exact reconstruction checksum
    * e2sum = Σ round(err²·1e12) over all elements (the i27 rule — the
    * whole code vector and its reconstruction quality are proven
    * without emitting arrays). One shuffle: the per-vector pivot
    * aggregate over nBlocks narrow rows.
    */
  private[graft] def pqQuantize(sub: DataFrame, cent: DataFrame,
      nBlocks: Int): DataFrame = {
    val e2 = aggregate(
      zip_with(col("sub"), col("cb"), (x, y) => {
        val d = x.cast("double") - y.cast("double")
        round(d * d * 1e12).cast("long")
      }),
      lit(0L), (acc, q) => acc + q)
    val codeCols = (0 until nBlocks).map(b =>
      max(when(col("b") === b, col("cid"))).cast("long").as(s"code$b"))
    pqAssign(sub, cent)
      .join(broadcast(cent.select(col("b"), col("cid"), col("cemb").as("cb"))),
        Seq("b", "cid"))
      .select(col("vec_id"), col("b"), col("cid"), e2.as("e2"))
      .groupBy(col("vec_id"))
      .agg(codeCols.head, (codeCols.tail :+ sum(col("e2")).as("e2sum")): _*)
  }

  /** The i43 ANN index ingest body — the lifecycle gap closer: every
    * dedup family has find → apply → incremental (i25/i36/i41), and this
    * is the ANN index's ingest form. New vectors (vec_id ≥ `boundary`)
    * route against the COARSE codebook and PQ-encode against the
    * per-block codebooks, BOTH trained on the corpus side only — the
    * production contract: an index ingest never retrains, it encodes
    * arrivals against the persisted codebooks so old and new codes stay
    * comparable under one LUT. Training slices are the oracled fixed
    * forms (one Lloyd step each — the i23b/i37 rule), so the whole
    * ingest is SQL-reproducible. Output per new vector: its coarse
    * route, its 4 PQ codes, and the integer-exact reconstruction
    * checksum (the i37 contract).
    *
    * Scale: the corpus contributes only its two trained codebooks
    * (k·dim + nBlocks·k·blockDim floats — broadcast), never rows; the
    * batch-side work is the shuffle-free inline argmax/argmin plus the
    * one per-vector pivot over nBlocks narrow rows. A 100 TB corpus
    * ingesting a daily crawl touches corpus data zero times.
    */
  private[graft] def annIndexIngest(emb: DataFrame, boundary: Long): DataFrame = {
    val corpus = emb.filter(col("vec_id") < boundary)
    val c0 = stubCodebook(corpus, ivfParams.k)
    val coarse = Harness.materialize(lloydCodebook(lloydQuantMeans(corpus, c0), c0))
    val subC = Harness.materialize(pqBlocks(corpus, nBlocks = 4, blockDim = 16))
    val pqCent = Harness.materialize(pqTrainStep(subC, pqStubCodebook(subC, ivfParams.k)))
    val batch = emb.filter(col("vec_id") >= boundary)
    val routed = assignToCentroids(batch, coarse)
      .select(col("vec_id"), col("cid"))
    val codes = pqQuantize(pqBlocks(batch, nBlocks = 4, blockDim = 16),
      pqCent, nBlocks = 4)
    routed.join(codes, Seq("vec_id"))
  }

  /** The i46 ingest-time near-dup screen — the optional arm of the i43
    * ingest (the i29 θ-rule applied at the index write path): each new
    * vector, after routing to its coarse cluster, compares against the
    * INDEXED corpus vectors of that same cluster; a cosine ≥ θ match
    * marks the arrival as a semantic near-dup of existing content
    * (kept=0) with its best corpus match (max rounded sim, min-id
    * tiebreak) and match count. The production "don't index what you
    * already have" gate, composed from the persisted assignment table
    * (i42's) and the same cluster-bounded candidate rule as i29 — a
    * batch arrival is compared against ONE cluster's vectors, never the
    * corpus.
    *
    * Scale: batch routing is the shuffle-free broadcast argmax; the
    * screen join keys on cid (cluster-bounded — the i29 salting applies
    * verbatim if a cluster runs hot); corpus vectors arrive via their
    * persisted (cid, vec_id, embedding) assignment layout, batch text
    * never moves. Sim is rounded to 3dp before the θ compare and the
    * argmax (the i29 arithmetic, identical cross-engine).
    */
  private[graft] def annIngestScreen(emb: DataFrame, boundary: Long,
      theta: Double): DataFrame = {
    val cent = stubCodebook(emb, ivfParams.k)
    val corpus = assignToCentroids(emb.filter(col("vec_id") < boundary), cent)
      .select(col("cid"), col("vec_id").as("cvid"), col("embedding").as("cemb"))
    val batch = Harness.materialize(assignToCentroids(emb.filter(col("vec_id") >= boundary), cent)
      .select(col("vec_id"), col("cid"), col("embedding")))
    val matches = batch.join(corpus, Seq("cid"))
      .select(col("vec_id"),
        round(VectorFunctions.dot(col("embedding"), col("cemb")), 3).as("sim"),
        col("cvid"))
      .filter(col("sim") >= theta)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("sim"), (-col("cvid")).as("nid"))).as("best"))
      .select(col("vec_id"), col("n_matches"),
        (-col("best").getField("nid")).as("match_id"))
    batch.select(col("vec_id"), col("cid"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        when(col("n_matches").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** The i44 batch-ADC body — i39's single-query read path given the
    * i20 lift: ALL queries' lookup tables materialize as ONE broadcast
    * (qid, b, cid, d2q) table (|queries|·nBlocks·k narrow integer rows
    * — for 10k daily queries against k=256 that is ~10M longs, still a
    * broadcast), the stored codes join it map-side, and the only
    * shuffles in the whole many-query scan are the per-(qid, vec_id)
    * nBlocks-row integer sum and the per-qid top-k window over narrow
    * (qid, vec_id, adc_q) triples. The corpus contributes codes ONCE,
    * not once per query — the point of the lift: query count scales the
    * broadcast and the aggregate width, never the number of corpus
    * scans. Distances stay micro-quantized longs (the i39 contract) so
    * the 4-way sum is order-free integer arithmetic in both engines;
    * self-matches (vec_id = qid) drop before the sum.
    */
  private[graft] def annPqBatch(emb: DataFrame, nQueries: Int,
      topK: Int): DataFrame =
    annPqBatchFor(emb,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id"), col("embedding")), topK)

  /** Core of [[annPqBatch]] over an EXPLICIT query frame — the
    * production entry point (queries arrive from outside the index;
    * the registry form carves its batch out of the corpus by id). The
    * streaming twin (StreamingSpec) feeds each micro-batch of arrived
    * queries here, so the LUT is built from exactly the queries in
    * flight while the index tables stay static.
    */
  private[graft] def annPqBatchFor(emb: DataFrame, queries: DataFrame,
      topK: Int): DataFrame = {
    val sub = Harness.materialize(pqBlocks(emb, nBlocks = 4, blockDim = 16))
    // Codebook and code table materialize once — they ARE the persisted
    // index tables the i42 doc names; the counted read-path plan
    // (PlanSpec) starts from them, exactly as a production scan reads
    // the index parquet rather than retraining per query batch.
    val cent = Harness.materialize(pqTrainStep(sub, pqStubCodebook(sub, ivfParams.k)))
    val codes = Harness.materialize(pqAssign(sub, cent).select(col("vec_id"), col("b"), col("cid")))
    val qsub = pqBlocks(queries, nBlocks = 4, blockDim = 16)
      .select(col("vec_id").as("qid"), col("b"), col("sub").as("qv"))
    val lut = cent.join(broadcast(qsub), Seq("b"))
      .select(col("qid"), col("b"), col("cid"),
        round(round(VectorFunctions.l2sq(col("qv"), col("cemb")), 6) * 1e6)
          .cast("long").as("d2q"))
    codes.join(broadcast(lut), Seq("b", "cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2q")).as("adc_q"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc_q"), col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("adc_q"))
  }

  /** The i42 IVF-PQ READ path over explicit index tables — the
    * persisted-table entry point: `assigned` (vec_id, cid) and `codes`
    * (vec_id, b, pcid) are the two persisted index tables (a real
    * deployment reads them bucketed on vec_id — PersistedIndexSpec pins
    * that the probe semi-join and ADC pivot then plan ZERO hash
    * Exchange), `cent` the persisted per-block codebooks; the in-query
    * registry form passes freshly-derived frames. Only the query row is
    * read from `emb` (pushed vec_id filter).
    */
  private[graft] def ivfPqSearch(emb: DataFrame, coarse: DataFrame,
      cent: DataFrame, assigned: DataFrame, codes: DataFrame): DataFrame = {
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qemb"))
    val probes = query.crossJoin(broadcast(centroidArray(coarse)))
      .withColumn("pr", slice(array_sort(transform(col("cents"), c =>
        struct(
          (-round(VectorFunctions.dot(col("qemb"), c.getField("cemb")), 6)).as("nqd"),
          c.getField("cid").as("cid")))), 1, ivfParams.nprobe))
      .select(explode(col("pr")).as("p"))
      .select(col("p").getField("cid").as("cid"))
    val qsub = pqBlocks(emb.filter(col("vec_id") === 0),
        nBlocks = 4, blockDim = 16)
      .select(col("b"), col("sub").as("qv"))
    val lut = cent.join(qsub, Seq("b"))
      .select(col("b"), col("cid").as("pcid"),
        round(round(VectorFunctions.l2sq(col("qv"), col("cemb")), 6) * 1e6)
          .cast("long").as("d2q"))
    val candIds = assigned.join(broadcast(probes), Seq("cid"), "left_semi")
      .select(col("vec_id")).filter(col("vec_id") =!= 0)
    codes.join(candIds, Seq("vec_id"), "left_semi")
      .join(broadcast(lut), Seq("b", "pcid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("d2q")).as("adc_q"))
      .orderBy(col("adc_q"), col("vec_id")).limit(10)
  }

  // ------------------------------------------------------------ minhash

  private val NumHashes = 8

  /** 3-token shingle stream as an array of `(0,1,2)` structs of
    * consecutive tokens: `arrays_zip` of three shifted `slice`s — every
    * expression is a plain codegen'd collection op, replacing the earlier
    * `transform(sequence(1, n-2), i -> concat_ws(...))` build whose
    * lambda evaluates INTERPRETED per element (measured ~10× slower at
    * sf0.1: 3.0-4.4 s vs 0.2-0.7 s for the corpus shingle explode). The
    * three slices always have equal length `max(n-2, 0)`, so arrays_zip
    * never null-pads; docs under 3 tokens yield the empty array and drop
    * out at the explode, exactly like the old `when` guard. Consumers
    * hash the struct directly (`xxhash64(z.0, z.1, z.2)` — engine-
    * internal sites i13/i19) or render the string shingle
    * (`concat_ws(" ", ...)` — i11, whose md5 values cross to the oracle).
    */
  private def shingleZip(textCol: Column): Column = gramZip(textCol, 3)

  /** The general k-gram form of [[shingleZip]]: struct fields `0`..`k-1`
    * are the k consecutive tokens (all slices share length
    * `max(n-k+1, 0)`, so arrays_zip never null-pads).
    */
  private[graft] def gramZip(textCol: Column, k: Int): Column = {
    val toks = split(textCol, " ")
    val len = greatest(size(toks) - (k - 1), lit(0))
    arrays_zip((1 to k).map(i => slice(toks, lit(i), len)): _*)
  }

  /** Per-doc WINNOWED fingerprint set (Schleimer et al., SIGMOD'03):
    * 3-token gram hashes (md5-derived so the values cross to the DuckDB
    * oracle), then the minimum hash of every w=4-wide sliding window —
    * plus the final (truncated) window of a doc shorter than w grams, so
    * every doc fingerprints. Guarantees any shared token run of length
    * ≥ w+k−1 = 6 produces a shared fingerprint while keeping ~2/(w+1) of
    * the gram stream. One doc_id hash shuffle (the bounded 4-row window);
    * output rows are (doc_id, fp) distinct pairs. Shared by the i56
    * registry entry and PipelineSpec's crafted-run guarantee test.
    */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val g = docs
      .select(col("doc_id"), posexplode(gramZip(col("text"), 3)).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        conv(substring(md5(concat_ws(" ",
          col("z.0"), col("z.1"), col("z.2"))), 1, 8), 16, 10)
          .cast("long").as("h"))
    val w4 = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-3, 0)
    val wd = Window.partitionBy(col("doc_id"))
    g.select(col("doc_id"), col("pos"),
        min(col("h")).over(w4).as("wm"),
        count(lit(1)).over(wd).as("ng"))
      .filter(col("pos") >= 3 || col("pos") === col("ng") - 1)
      .select(col("doc_id"), col("wm").as("fp")).distinct()
  }

  /** Per-doc LSH band rows (doc_id, source, b, v) derived from the
    * token-set sketch (`rks`): mh_j = min over the stored hashes of the
    * seeded rehash xxhash64(j, rk), 8 bands × 1 row — i14's banding
    * scheme factored out so the incremental ingest (i36) probes a
    * PERSISTED corpus band table with freshly-computed batch bands. The
    * signature is a function of the doc's token SET alone, so bands
    * computed over any subset of the corpus agree with bands computed
    * over the whole corpus. The 8 array_min(transform) folds are narrow
    * per-row ops over the materialized hash array (the i14 trade: short
    * in-row HOFs beat a re-explode through another Exchange).
    */
  private[graft] def minhashBands(sets: DataFrame): DataFrame = {
    val sigCols = (0 until NumHashes).map(j =>
      array_min(transform(col("rks"), r => xxhash64(lit(j), r))).as(s"mh$j"))
    val sig = sets.select(col("doc_id") +: col("source") +: sigCols: _*)
    val bandCols = (0 until NumHashes).map(j =>
      struct(lit(j).as("b"), col(s"mh$j").as("v")))
    sig.select(col("doc_id"), col("source"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("source"),
        col("band.b").as("b"), col("band.v").as("v"))
  }

  /** Distinct whitespace tokens per document, (doc_id, source, tok): the
    * first step of every token sketch — the md5 MinHash signature, the
    * SimHash and the hashed token sets (LlmOps.hashedTokenSets).
    */
  private[graft] def distinctTok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** Per-doc MinHash signature: doc_id, source, mh0..mh7. Two md5
    * digests per token ("0:"/"1:" seeds), each 128-bit digest sliced
    * into four independent 32-bit hashes (the i11 trick) — 2 md5s per
    * token instead of 8 seeded digests. Hashing runs codegen'd in the
    * pre-shuffle projection; the shuffle carries (doc_id, source, one
    * 64-char digest) and the 8 mins partial-aggregate map-side.
    * (A narrow `array_min(transform(...))` form was measured 2-3×
    * slower: higher-order-function lambdas evaluate interpreted,
    * per element, outside whole-stage codegen.)
    */
  def minhashSig(docs: DataFrame): DataFrame = {
    val h = concat(md5(concat(lit("0:"), col("tok"))), md5(concat(lit("1:"), col("tok"))))
    val aggs = (0 until NumHashes).map(j =>
      min(conv(substring(col("h"), 1 + 8 * j, 8), 16, 10).cast("long")).as(s"mh$j"))
    distinctTok(docs)
      .select(col("doc_id"), col("source"), h.as("h"))
      .groupBy(col("doc_id"), col("source"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band-collision candidate pairs over a minhashSig table: 4 bands
    * × 2 rows, candidates = same (band ordinal, band value, source)
    * equi-join, doc_id1 < doc_id2, distinct. The band hash IS the shuffle
    * key — never an all-pairs join. Shared by i8 (which then verifies the
    * signature agreement) and i75 (which grades the raw candidate set
    * against the exact pairs).
    */
  private[graft] def bandCandidates(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("b"), col(s"mh${2 * b}").as("x"), col(s"mh${2 * b + 1}").as("y")))
    // NOT materialized (optimization r21, reverting r20): the self-join
    // references the band table on both sides and Catalyst shares no
    // subtree between them, so the signature build does run twice — but
    // the two subtrees run CONCURRENTLY inside the one join job on cores
    // the stage leaves idle, while an eager checkpoint serializes a
    // materialization job ahead of the join. Three independent r20 draws
    // had the checkpointed form 15-46% slower on i98 (and i8/i75 flat);
    // the r21 same-window A/B confirmed (OPTIMIZATION_r21.md). At real
    // cluster scale duplicate work is not free — there the band table is
    // the PERSISTED artifact (BuildIndexes) and the `...From` read paths
    // scan it twice for pennies; the in-query twins stay lean.
    val bands = sig.select(col("doc_id"), col("source"),
      explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("source"),
        col("band.b").as("b"), col("band.x").as("x"), col("band.y").as("y"))
    LlmOps.candidatePairs(bands, "b", "x", "y", "source")
  }

  // (The former minhashSigFast — xxhash64 signatures straight off the
  // token stream — is superseded by i14's sketch-derived signatures:
  // min of xxhash64(j, rk) over the checkpointed token-hash sets, which
  // keeps the same uniform-hash minhash property without a second
  // tokenize pass. i7/i8/MinHashAgg keep the md5 scheme because their
  // oracles reproduce the signature VALUES in DuckDB.)

  /** `sig(doc_id, source, mh0..mh7)`: the DuckDB form of [[minhashSig]],
    * over a distinct-token stage named `tok` (a caller that also has
    * [[LlmOps.nearDupPairsCte]]'s `dtok` names it apart).
    */
  private def duckSigCte(tok: String): String =
    s"""$tok AS (SELECT doc_id, source, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
      |hh AS (SELECT doc_id, source, md5('0:'||tok)||md5('1:'||tok) AS h FROM $tok),
      |sig AS (SELECT doc_id, min(source) AS source,
      |  min(('0x'||substr(h,1,8))::BIGINT) AS mh0,
      |  min(('0x'||substr(h,9,8))::BIGINT) AS mh1,
      |  min(('0x'||substr(h,17,8))::BIGINT) AS mh2,
      |  min(('0x'||substr(h,25,8))::BIGINT) AS mh3,
      |  min(('0x'||substr(h,33,8))::BIGINT) AS mh4,
      |  min(('0x'||substr(h,41,8))::BIGINT) AS mh5,
      |  min(('0x'||substr(h,49,8))::BIGINT) AS mh6,
      |  min(('0x'||substr(h,57,8))::BIGINT) AS mh7
      |  FROM hh GROUP BY doc_id)""".stripMargin

  // ------------------------------------------------------------ simhash

  /** 16-bit SimHash per doc from the distinct-token 16-bit hashes: bit b
    * is set iff more token hashes have bit b set than clear.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val hb = distinctTok(docs)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenHash16(col("tok")).as("h"))
    val sums = (0 until 16).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b"))
    val bits = (0 until 16).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
    hb.groupBy(col("doc_id"), col("source"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), col("source"), bits.reduce(_ + _).as("sh"))
  }

  private val duckSimhashCte = {
    val terms = (0 until 16).map(b =>
      s"(CASE WHEN sum(((h>>$b)&1)*2-1)>0 THEN ${1L << b} ELSE 0 END)").mkString("+")
    s"""dtok AS (SELECT doc_id, source, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
       |hb AS (SELECT doc_id, source, ('0x'||substr(md5(tok),1,4))::BIGINT AS h FROM dtok),
       |sh AS (SELECT doc_id, min(source) AS source, $terms AS sh FROM hb GROUP BY doc_id)""".stripMargin
  }

  // -------------------------------------- truth-table eval bodies (r15 #3)
  // The three evals that consume the exact-pair truth machinery, each
  // parameterized over its inputs so the registry (in-query truth) and
  // the persisted-artifact read path (PersistedIndexSpec's
  // truth_pairs_pt) run the SAME plan — an eval that re-derived its own
  // truth could silently drift from the artifact being graded.

  /** i98's sweep body: per threshold t ∈ {0.7, 0.8, 0.9}, how many of
    * the true J ≥ t pairs (derived from the θ=0.7 `truth` stats by
    * integer filter — nested truth sets) the banded candidate set
    * surfaced. ONE left join + ONE aggregate.
    */
  private[graft] def lshRecallSweep(truth: DataFrame, lsh: DataFrame): DataFrame = {
    val aggCols = (7 to 9).flatMap(th => Seq(
      sum(when(col("inter") * 10 >= col("un") * th, 1L).otherwise(0L)).as(s"t$th"),
      sum(when(col("inter") * 10 >= col("un") * th && col("is_cand").isNotNull,
        1L).otherwise(0L)).as(s"h$th")))
    truth.join(lsh, Seq("doc_id1", "doc_id2"), "left")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array((7 to 9).map(th =>
        struct(lit(th * 100L).as("threshold_milli"),
          col(s"t$th").as("n_true"), col(s"h$th").as("n_hit"),
          expr(s"h$th * 1000000 div t$th").as("recall_ppm"))): _*)).as("z"))
      .select(col("z.threshold_milli"), col("z.n_true"),
        col("z.n_hit"), col("z.recall_ppm"))
      .orderBy("threshold_milli")
  }

  /** i71's calibration body over any exact (doc_id1, doc_id2, jaccard)
    * pair frame and i7 signature table: per-pair 8-component agreement
    * count and the n_agree/8 estimate.
    */
  private[graft] def minhashEstimate(pairs: DataFrame, sig: DataFrame): DataFrame = {
    // Both join sides read the signature table UNCHECKPOINTED
    // (optimization r21, reverting r20): the duplicated in-query sig
    // subtrees run concurrently inside the one join job, while the r20
    // eager checkpoint serialized a materialization job ahead of it —
    // +29-48% on i71 in all three independent r20 draws, re-confirmed by
    // the r21 same-window A/B (OPTIMIZATION_r21.md). A persisted-sig
    // caller (PersistedIndexSpec's read path) pays one cheap re-scan.
    val s1 = sig.select(col("doc_id").as("doc_id1") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val s2 = sig.select(col("doc_id").as("doc_id2") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val agree = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    pairs.join(s1, "doc_id1").join(s2, "doc_id2")
      .withColumn("n_agree", agree)
      .select(col("doc_id1"), col("doc_id2"), col("jaccard"),
        col("n_agree"),
        round(col("n_agree") / lit(8.0), 3).as("est_jaccard"))
      .orderBy("doc_id1", "doc_id2")
  }

  /** i75's precision/recall body over any flagged candidate frame
    * (doc_id1, doc_id2, is_cand=1) and exact-true frame
    * (doc_id1, doc_id2, is_true=1): one full outer join on the pair
    * key, one 1-row rollup.
    */
  private[graft] def lshEval(cand: DataFrame, exact: DataFrame): DataFrame =
    cand.join(exact, Seq("doc_id1", "doc_id2"), "full_outer")
      .agg(
        sum(when(col("is_cand") === 1 && col("is_true") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("is_cand") === 1 && col("is_true").isNull, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("is_cand").isNull && col("is_true") === 1, 1L)
          .otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp") / (col("tp") + col("fp")), 4)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp") / (col("tp") + col("fn")), 4)).as("recall"))

  // ---------------------------------------------------------- lang / quality

  /** Marker-word profiles over the corpus vocabulary: the classic
    * stopword/profile-scoring shape of n-gram language ID, with a
    * deterministic fixed-priority tie-break.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("batch", "stream", "window", "group"),
    "en" -> Seq("the", "a", "row", "table"),
    "es" -> Seq("data", "value", "column", "line"),
    "fr" -> Seq("vector", "query", "filter", "sort"),
    "zh" -> Seq("hash", "join", "merge", "scan"))

  private def markerScore(textCol: Column, words: Seq[String]): Column =
    size(filter(split(textCol, " "), tk => tk.isin(words.map(_.asInstanceOf[Any]): _*)))
      .cast("long")

  /** Per-doc token stats (n_tok, n_uniq, n_stop as longs) carried next to
    * the full row — the shared first stage of quality scoring (j2) and
    * the curation pipeline (i17). One projection, all codegen.
    */
  private def docTokStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("text"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"),
      markerScore(col("text"), Seq("a", "the")).as("n_stop"))

  /** The j16 concentration index over any (source, text) frame —
    * factored so PipelineSpec can pin the metric endpoints (uniform
    * over k types → 1−1/k, single-token collapse → 0) on crafted
    * corpora through the registry's code path.
    */
  private def cmsBucket(i: Column, w: Column): Column =
    conv(substring(md5(concat(i.cast("string"), lit(":"), w)), 1, 8),
      16, 10).cast("long") % 64

  /** i67's Count–Min sketch build over any frame with a `text` column:
    * d=3 md5-derived hash rows × w=64 counters in one map-side-combined
    * aggregate. Factored so StreamingSpec can pin LINEARITY — CMS
    * counters are sums, so a streaming Complete-mode aggregation over
    * any micro-batch split merges to exactly the batch sketch (the
    * property that lets a 100 TB ingest maintain the sketch
    * incrementally, per-partition, and union sketches across days).
    */
  def cmsSketch(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .select(col("w"), explode(array(lit(0), lit(1), lit(2))).as("i"))
      .select(col("i"), cmsBucket(col("i"), col("w")).as("b"))
      .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))

  /** j17's per-source Shannon entropy over any (source, text) frame —
    * factored so PipelineSpec can pin the endpoint laws (uniform → max,
    * collapsed → 0) on crafted corpora through the registry's code path.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    // Token counts group the RAW token string, exactly as the DuckDB
    // oracle does (ADVICE r13): an xxhash64 pre-hash would be the same
    // shuffle width (~8-byte tokens) but a 64-bit collision would
    // silently merge two types and shift n_types/entropy off-oracle.
    // Same rule in tokenGini/sourceTvd below.
    val cnt = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"), col("w").as("tk"))
      .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("c"))
    val hNats = log(col("n_tok").cast("double")) -
      col("s_q") / lit(1e6) / col("n_tok")
    cnt.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tok"),
        sum(round(col("c").cast("double") * log(col("c").cast("double"))
          * lit(1e6)).cast("long")).as("s_q"))
      .select(col("source"), col("n_types"), col("n_tok"),
        round(hNats / log(lit(2.0)), 4).as("entropy_bits"),
        round(when(col("n_types") > 1,
          hNats / log(col("n_types").cast("double")))
          .otherwise(lit(1.0)), 4).as("norm_entropy"))
      .orderBy("source")
  }

  def tokenGini(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"), col("w").as("tk"))
      .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tok"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("source"), col("n_types"), col("n_tok"),
        round(lit(1.0) - col("ss").cast("double")
          / (col("n_tok") * col("n_tok")).cast("double"), 6)
          .as("gini_diversity"))
      .orderBy("source")

  /** The j15 pairwise TVD over any (source, text) frame — factored so
    * PipelineSpec can pin the metric laws (identical → 0, disjoint → 1)
    * on crafted corpora through the registry's code path.
    */
  def sourceTvd(docs: DataFrame): DataFrame = {
    val cnt = Harness.materialize(docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"), col("w").as("tk"))
      .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("c")))
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val pairs = tot.select(col("source").as("s1"), col("n").as("n1"))
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("n2"))),
        col("s1") < col("s2"))
    val bth = cnt.select(col("source").as("s1"), col("tk"), col("c").as("c1"))
      .join(cnt.select(col("source").as("s2"), col("tk"), col("c").as("c2")),
        Seq("tk"))
      .filter(col("s1") < col("s2"))
      .join(broadcast(tot.select(col("source").as("s1"), col("n").as("tn1"))), "s1")
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("tn2"))), "s2")
      .groupBy(col("s1"), col("s2"))
      .agg(sum(abs(col("c1") * col("tn2") - col("c2") * col("tn1"))).as("sabs"),
        sum(col("c1")).as("sb1"), sum(col("c2")).as("sb2"))
    pairs.join(bth, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"),
        round((coalesce(col("sabs"), lit(0L))
          + (col("n1") - coalesce(col("sb1"), lit(0L))) * col("n2")
          + (col("n2") - coalesce(col("sb2"), lit(0L))) * col("n1"))
          .cast("double")
          / (lit(2) * col("n1") * col("n2")).cast("double"), 6).as("tvd"))
      .orderBy("s1", "s2")
  }

  /** The i64 placement over any frame with a doc_id — a pure per-row
    * projection (the j7 rule), factored so the registry entry, the law
    * test, and the StreamingSpec twin share one definition.
    */
  def rendezvousShards(docs: DataFrame): DataFrame = {
    def w(sh: Int) = conv(substring(md5(concat(lit(s"shard:$sh:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    def shard(n: Int) = array_max(array((0 until n).map(sh =>
      struct(w(sh).as("w"), lit(sh).cast("long").as("s"))): _*))
      .getField("s")
    docs.select(col("doc_id"), shard(4).as("shard4"), shard(5).as("shard5"))
  }

  /** (doc_id, n_tok, quality) — the i53/i63 scoring frame, factored so
    * the budget-selection law test runs the registry's code path.
    */
  /** i89's row-local excision core (segments → first-occurrence keep →
    * fingerprint) — one shared expression tree for the registry query
    * and the streaming stateless twin (shuffled feed ≡ batch: no state,
    * no cross-row dependence).
    */
  private[graft] def intradocExcise(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .withColumn("segs", expr(
      "transform(sequence(0, (size(toks) + 1) div 2 - 1), i -> array_join(slice(toks, i*2 + 1, 2), ' '))"))
    .withColumn("kept", expr(
      "filter(segs, (sg, j) -> array_position(segs, sg) = j + 1)"))
    .select(col("doc_id"),
      size(col("segs")).cast("long").as("n_seg"),
      size(col("kept")).cast("long").as("n_kept"),
      md5(array_join(col("kept"), " ")).as("kept_fp"))

  /** m8's row-local aspect assignment (m1 metadata derivation + the
    * lcm-scaled rational argmin) — shared by the registry rollup and
    * the streaming stateless twin.
    */
  private[graft] def aspectAssign(docs: DataFrame): DataFrame = {
    val buckets = Seq((1, 1, "1:1"), (4, 3, "4:3"), (3, 4, "3:4"),
      (16, 9, "16:9"), (9, 16, "9:16"), (3, 2, "3:2"),
      (2, 3, "2:3"), (2, 1, "2:1"), (1, 2, "1:2"))
    val cand = array(buckets.zipWithIndex.map { case ((p, q, nm), i) =>
      struct(
        (abs(col("width") * q - col("height") * p) * (144 / q)).cast("long").as("v"),
        lit(i.toLong).as("idx"), lit(nm).as("bucket"))
    }: _*)
    docs
      .select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long").as("h"))
      .select(col("doc_id"),
        (lit(16) + col("h") % 240).cast("long").as("width"),
        (lit(16) + expr("h div 240") % 240).cast("long").as("height"))
      .withColumn("bucket", array_min(cand).getField("bucket"))
  }

  /** i93's row-local cap assignment (the power-of-two cap ladder) —
    * shared by the registry rollup and the streaming stateless twin.
    */
  private[graft] def padCapAssign(docs: DataFrame): DataFrame = {
    val caps = array((4 to 10).map(k => lit(1L << k)): _*)
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cap", coalesce(
        array_min(filter(caps, c => c >= col("n_tok"))), lit(1024L)))
      .withColumn("kept", least(col("n_tok"), col("cap")))
  }

  private[graft] def docTokQuality(docs: DataFrame): DataFrame =
    docTokStats(docs).select(col("doc_id"), col("n_tok"),
      qualityExpr.as("quality"))

  /** The j2 quality formula over docTokStats columns — kept as ONE shared
    * expression so j2 and i17 can never drift (the oracle reproduces the
    * identical op order, so the rounded doubles bit-agree cross-engine).
    */
  private val qualityExpr: Column = round(
    least(col("n_tok") / 100.0, lit(1.0)) * 0.4 +
      (col("n_uniq") / col("n_tok")) * 0.3 +
      (lit(1.0) - col("n_stop") / col("n_tok")) * 0.3, 3)

  /** The STATELESS prefix of the curation pipeline (lang cut → quality
    * threshold → md5 fingerprint), shared by batch i17 and the streaming
    * twin: it applies unchanged to a micro-batch of a document stream —
    * only the canonical-per-fingerprint choice needs state (window in
    * batch, `graft.streaming.CuratedDedup` in streaming).
    */
  def curationCandidates(docs: DataFrame): DataFrame =
    docTokStats(docs.filter(col("lang") === "en"))
      .select(col("doc_id"), col("text"), qualityExpr.as("quality"))
      .filter(col("quality") >= 0.64)
      .select(md5(col("text")).as("fp"), col("doc_id"), col("quality"))

  /** The i35 duplicate-SPAN detector over a (doc_id, text) frame — the
    * substring-level dedup modality document-level dedup (i1/i2/i14/i29)
    * cannot express: training corpora also excise repeated ≥k-token
    * spans INSIDE otherwise-distinct documents (boilerplate headers,
    * license blocks, navigation chrome). A position-carrying k-gram
    * stream marks every gram that occurs ≥2 times anywhere in the
    * corpus (including a doc repeating its own boilerplate), and the
    * marked positions consolidate per doc into maximal spans via
    * gaps-and-islands (the h3 session-window pattern): positions whose
    * gram windows overlap or touch (gap ≤ k−1) merge into one island,
    * so an island's token range [min pos, max pos + k−1] is a maximal
    * run of duplicated text. Output per island: doc_id, span_start,
    * span_end (inclusive 0-based token indices), n_tokens, n_grams
    * (how many marked gram positions the island holds).
    *
    * Scale: grams are engine-internal xxhash64 longs (the i13 rule —
    * the dup marker is count-derived, invariant under any
    * per-engine-injective rehash; the oracle joins raw gram strings).
    * The dup marker is a COUNT WINDOW over the gram hash — one Exchange
    * of narrow (doc_id, pos, hash) triples, partition size bounded by
    * gram document-frequency (k-gram df is naturally low, the i13
    * argument, so no single gram's partition grows with the corpus) —
    * and the island windows partition by doc_id, doc-bounded. Two hash
    * shuffles total, both on 8-byte keys; text never moves.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 5): DataFrame = {
    val marked = gramOcc(docs, k)
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("newi",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= (k - 1), 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("newi")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"),
        col("n_grams"))
  }

  /** (doc_id, pos, g) k-gram occurrence stream — the shared spine of the
    * span-dedup family (i35/i40/i41).
    */
  private[graft] def gramOcc(d: DataFrame, k: Int): DataFrame = d
    .select(col("doc_id"), posexplode(gramZip(col("text"), k)))
    .select(col("doc_id"), col("pos").cast("long").as("pos"),
      xxhash64((0 until k).map(i => col(s"col.$i")): _*).as("g"))

  /** Expand marked gram positions to covered token positions, excise,
    * and reassemble per-doc cleaned text + removal counts (the shared
    * tail of i40/i41).
    */
  private def reassembleExcised(docs: DataFrame, markedGramPos: DataFrame,
      k: Int): DataFrame = {
    val excised = markedGramPos
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .distinct()
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("tp"),
        col("col").as("tok"))
    val kept = toks.join(excised, Seq("doc_id", "tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Span-dedup APPLY (see the i40 registry entry): excise every REPEAT
    * occurrence of a corpus-duplicated ≥k-token gram, keep the globally
    * first (by (doc_id, pos)), and reassemble per-doc cleaned text with
    * removal counts. Every excised token position lies inside an i35
    * duplicateSpans range (the repeat grams are a subset of i35's
    * marked occurrences) — PipelineSpec pins that containment law plus
    * keep-first on crafted geometry.
    */
  private[graft] def spanExcise(docs: DataFrame, k: Int = 5): DataFrame = {
    val byG = Window.partitionBy(col("g"))
      .orderBy(col("doc_id"), col("pos"))
    val marked = gramOcc(docs, k)
      .withColumn("rn", row_number().over(byG))
      .filter(col("rn") >= 2)
      .select(col("doc_id"), col("pos"))
    reassembleExcised(docs, marked, k)
  }

  /** The batch-side marked gram positions of INCREMENTAL span dedup
    * (see the i41 registry entry): a batch occurrence is a repeat iff
    * its gram exists in the persisted corpus gram set (every corpus
    * occurrence precedes every batch one) OR an earlier within-batch
    * occurrence exists — together exactly the global rn ≥ 2 rule
    * restricted to batch docs (PipelineSpec pins that law). The
    * streaming twin reproduces this set via a stream-static corpus
    * flag + gram-keyed min state.
    */
  private[graft] def repeatGramsIncremental(docs: DataFrame, boundary: Long,
      k: Int = 5): DataFrame =
    repeatGramsIncrementalFrom(
      docs.filter(col("doc_id") >= boundary),
      gramOcc(docs.filter(col("doc_id") < boundary), k)
        .select(col("g")).distinct(), k)

  /** Core of [[repeatGramsIncremental]] over an EXPLICIT corpus gram
    * set — the persisted-table entry point: a real ingest passes the
    * bucketed corpus gram table here (PersistedIndexSpec pins that the
    * screen then plans zero Exchange on the bucketed side and never
    * re-tokenizes corpus text), while the in-query registry form passes
    * the freshly-derived set.
    */
  private[graft] def repeatGramsIncrementalFrom(batchDocs: DataFrame,
      corpusGrams: DataFrame, k: Int = 5): DataFrame = {
    val batchOcc = Harness.materialize(gramOcc(batchDocs, k))
    val screened = batchOcc.join(corpusGrams, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val byG = Window.partitionBy(col("g"))
      .orderBy(col("doc_id"), col("pos"))
    val inBatch = batchOcc.withColumn("rn", row_number().over(byG))
      .filter(col("rn") >= 2)
      .select(col("doc_id"), col("pos"))
    screened.union(inBatch).distinct()
  }

  private[graft] def spanExciseIncremental(docs: DataFrame, boundary: Long,
      k: Int = 5): DataFrame =
    reassembleExcised(docs.filter(col("doc_id") >= boundary),
      repeatGramsIncremental(docs, boundary, k), k)

  /** The eval-side shingle set collapsed to ONE row holding the distinct
    * xxhash64 shingle hashes — the broadcast side of the contamination
    * screen (benchmark suites are tiny next to the corpus, the i19
    * premise).
    */
  private[graft] def evalShingleSet(evalDocs: DataFrame): DataFrame =
    evalDocs
      .select(explode(shingleZip(col("text"))).as("z"))
      .select(xxhash64(col("z.0"), col("z.1"), col("z.2")).as("sh"))
      .agg(collect_set(col("sh")).as("eval_sh"))

  /** The IN-ROW form of i19's contamination screen, for the streaming
    * twin: a doc's shingle set never leaves its row (array_distinct over
    * the hashed gram array), the broadcast 1-row eval set intersects
    * in-row, and the containment filter is a pure projection — no
    * explode, no shuffle, no state store, so the SAME expression maps
    * over each micro-batch (the i21/j7 stateless rule). Provably equal
    * to the batch explode/groupBy form: array_distinct + array_intersect
    * have exactly the distinct-count semantics the batch groupBy
    * computes (StreamingSpec asserts shuffled feed ≡ batch i19).
    */
  private[graft] def contaminationScreen(docs: DataFrame, evalSet: DataFrame): DataFrame = {
    val shArr = array_distinct(transform(gramZip(col("text"), 3), z =>
      xxhash64(z.getField("0"), z.getField("1"), z.getField("2"))))
    val containment = col("n_shared") / col("n_sh")
    docs.crossJoin(broadcast(evalSet))
      .select(col("doc_id"), shArr.as("sh_arr"), col("eval_sh"))
      .select(col("doc_id"),
        size(col("sh_arr")).cast("long").as("n_sh"),
        size(array_intersect(col("sh_arr"), col("eval_sh"))).cast("long").as("n_shared"))
      .filter(col("n_sh") > 0 && containment >= 0.2)
      .select(col("doc_id"), col("n_shared"),
        round(containment, 3).as("containment"))
  }

  /** The j1 scoring/argmax pipeline with the fixture's TRUE lang carried
    * alongside: (doc_id, true_lang, pred_lang, s_*). j1 drops the truth
    * column (the operator is an unsupervised classifier); j19 grades the
    * prediction against it. One shared factoring so the eval scores the
    * SAME pipeline the registry ships.
    */
  private[graft] def langIdPred(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      (col("doc_id") +: col("lang").as("true_lang") +:
        langMarkers.map { case (l, ws) => markerScore(col("text"), ws).as(s"s_$l") }): _*)
    val langs = langMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), els) =>
        val rest = langs.drop(i + 1).map(o => col(s"s_$o"))
        when(col(s"s_$l") >= rest.reduce((a, b) => greatest(a, b)), lit(l)).otherwise(els)
    }
    scored.select(
      (col("doc_id") +: col("true_lang") +: pred.as("pred_lang") +:
        langs.map(l => col(s"s_$l"))): _*)
  }

  /** i72's old-snapshot fingerprint table: ids < 450, md5 of the text —
    * in production the persisted i1 artifact of the previous crawl.
    */
  private[graft] def snapshotOld(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 450)
      .select(col("doc_id"), md5(col("text")).as("fp_o"))

  /** i72's new-snapshot fingerprint table: ids ≥ 50, every 7th doc
    * carrying a deterministic simulated edit.
    */
  private[graft] def snapshotNew(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), md5(when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp_n"))

  /** Classify arriving new-side fingerprints against the (static,
    * broadcast) old table: added / changed / same. Stateless per doc —
    * the property that lets the SAME expression run per micro-batch in
    * the streaming twin; 'removed' (old ids never seen) is inherently
    * end-of-stream and stays an anti-join in both paths.
    */
  private[graft] def snapshotClassify(nw: DataFrame, old: DataFrame): DataFrame =
    nw.join(broadcast(old), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("fp_o").isNull, "added")
          .when(col("fp_o") =!= col("fp_n"), "changed")
          .otherwise("same").as("status"))

  // ------------------------------------------------------------ queries

  // ------------------------------------------- shared text oracle stages

  /** `g(doc_id, pos, gram)`: every 5-token window of each doc's tokens
    * `tks(doc_id, tk)` (i35, i40, i41).
    */
  private val gramsCte: String =
    """tks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      | g AS (SELECT doc_id,
      |     unnest(range(1, len(tk)-3)) - 1 AS pos,
      |     unnest(list_transform(range(1, len(tk)-3),
      |       i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4])) AS gram
      |   FROM tks)"""

  /** i40's span excision: every token under a repeat of an earlier
    * 5-gram goes; `filter`, a margin line, restricts the output docs (i41).
    */
  private def spanExciseOracle(filter: String): String = oneLine(
    s"""WITH $gramsCte,
      | m AS (SELECT doc_id, pos FROM (
      |     SELECT doc_id, pos,
      |       row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      |     FROM g) WHERE rn >= 2),
      | ex AS (SELECT DISTINCT doc_id, pos + o AS tp
      |   FROM m, (SELECT unnest(range(0, 5)) AS o) os),
      | tok AS (SELECT doc_id, unnest(range(1, len(tk)+1)) - 1 AS tp,
      |     unnest(tk) AS tok FROM tks),
      | kept AS (SELECT t.doc_id, t.tp, t.tok FROM tok t
      |   WHERE NOT EXISTS (SELECT 1 FROM ex
      |     WHERE ex.doc_id = t.doc_id AND ex.tp = t.tp)),
      | agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
      |     string_agg(tok, ' ' ORDER BY tp) AS clean_text
      |   FROM kept GROUP BY doc_id),
      | sz AS (SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tokens
      |   FROM documents)
      | SELECT sz.doc_id, n_tokens,
      |   (n_tokens - COALESCE(n_kept, 0))::BIGINT AS n_removed,
      |   COALESCE(clean_text, '') AS clean_text
      | FROM sz LEFT JOIN agg USING (doc_id)$filter
      | ORDER BY sz.doc_id""")

  /** Distinct 3-token shingles `sh(doc_id, s)`, split into the eval set
    * `ev` (doc_id < 50) and the train rows `tr`, with each train doc's
    * shingle count `sz(doc_id, n_sh)` (i19, i57, i68).
    */
  private val evalShinglesCte: String =
    """sh AS (
      |   SELECT DISTINCT doc_id,
      |     unnest(list_transform(range(1, len(toks)-1),
      |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
      |   FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents
      |         WHERE len(string_split(text,' ')) >= 3)),
      | ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50),
      | tr AS (SELECT * FROM sh WHERE doc_id >= 50),
      | sz AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id)"""

  /** The exact containment screen: train docs sharing ≥ 20% of their
    * shingles with the eval set (i19; i68's Bloom prescreen is lossless
    * against it).
    */
  private val contaminationOracle: String = oneLine(
    s"""WITH $evalShinglesCte,
      | shd AS (SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (s) GROUP BY doc_id)
      | SELECT sz.doc_id, n_shared,
      |   round(n_shared * 1.0 / n_sh, 3) AS containment
      | FROM sz JOIN shd ON sz.doc_id = shd.doc_id
      | WHERE n_shared * 1.0 / n_sh >= 0.2
      | ORDER BY sz.doc_id""")

  /** `c(doc_id, tok, cb)`: each doc's token count and the running token
    * total before it in doc_id order (i22, i48, i51).
    */
  private val tokOffsetsCte: String =
    """tk AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tok
      |   FROM documents),
      | c AS (SELECT doc_id, tok,
      |     COALESCE(SUM(tok) OVER (ORDER BY doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb
      |   FROM tk)"""

  /** Each doc's placement over `c` in 512-token sequences (i48, i52). */
  private val seqPlacementSql: String =
    """SELECT doc_id, tok, (cb // 512)::BIGINT AS first_seq,
      |   (cb % 512)::BIGINT AS seq_offset,
      |   ((cb + tok - 1) // 512)::BIGINT AS last_seq,
      |   (((cb + tok - 1) // 512) - (cb // 512) + 1)::BIGINT AS n_seqs
      | FROM c ORDER BY doc_id"""

  /** Every adjacent token pair `occ(doc_id, bg)`, with its first word in
    * `o2(doc_id, w1, bg)` (j10, j12).
    */
  private val bigramOccCte: String =
    """occ AS (
      |   SELECT doc_id,
      |     unnest(list_transform(range(1, len(toks)),
      |       i -> toks[i] || ' ' || toks[i+1])) AS bg
      |   FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      | o2 AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1, bg FROM occ)"""

  /** The DSIR state over the bigrams `occ` of `docs`: the add-one
    * target/raw ratio `rat(bg, q)` (micro-units) and the normalizer
    * `cf(cfac)` — the SQL twin of [[dsirState]] (i60, i62).
    */
  private def dsirStateCte(occ: String, docs: String): String =
    s"""$occ AS (
      |   SELECT doc_id, lang,
      |     unnest(list_transform(range(1, len(toks)),
      |       i -> toks[i] || ' ' || toks[i+1])) AS bg
      |   FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
      |         FROM $docs)),
      | raw AS (SELECT bg, count(*)::BIGINT AS cs FROM $occ GROUP BY bg),
      | tgt AS (SELECT bg, count(*)::BIGINT AS ct FROM $occ
      |   WHERE lang = 'en' GROUP BY bg),
      | rat AS (SELECT raw.bg,
      |     round(1e6 * (coalesce(ct, 0) + 1) / (cs + 1))::BIGINT AS q
      |   FROM raw LEFT JOIN tgt ON raw.bg = tgt.bg),
      | sv AS (SELECT sum(cs)::DOUBLE AS s_tot, count(*)::DOUBLE AS v FROM raw),
      | tv AS (SELECT count(*)::DOUBLE AS t_tot FROM $occ WHERE lang = 'en'),
      | cf AS (SELECT (s_tot + v) / (t_tot + v) AS cfac FROM sv, tv)"""

  /** `v(cols, qm)`: the shared doc quality over `st` in integer
    * milli-units (j23, i94, i95, j20).
    */
  private def qmCte(cols: String): String =
    s"""v AS (SELECT $cols,
      |     CAST(round(round(least(n_tok/100.0,1.0)*0.4 + (n_uniq/n_tok)*0.3
      |       + (1.0-n_stop/n_tok)*0.3, 3)*1000) AS BIGINT) AS qm
      |   FROM st)"""

  val qs: Seq[Q] = Seq(

    // Per-doc MinHash signature — linear sketch, the building block of the
    // LSH path. Shuffle payload: doc_id + 8×8 bytes.
    Q("i7_minhash_sig",
      (s, dir) => minhashSig(t(s, dir, "documents"))
        .drop("source").orderBy("doc_id"),
      Some(oneLine(s"""WITH ${duckSigCte("dtok")}
                  | SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
                  | FROM sig ORDER BY doc_id"""))),

    // LSH banding (4 bands × 2 rows): candidate pairs = same (band value,
    // source bucket) equi-join; keep pairs whose signatures agree on ≥6/8
    // components (estimated Jaccard ≥ 0.75). No all-pairs join at any
    // scale — the band hash IS the shuffle key.
    Q("i8_lsh_pairs",
      (s, dir) => {
        // The band self-join carries only (doc_id, source, band key) — the
        // signatures rejoin at doc granularity AFTER pair dedup, so the
        // wide columns never ride the quadratic shuffle.
        val sig = minhashSig(t(s, dir, "documents"))
        val cand = bandCandidates(sig)
        val sl = sig.select(
          col("doc_id").as("doc_id1") +: (0 until NumHashes).map(j => col(s"mh$j").as(s"l$j")): _*)
        val sr = sig.select(
          col("doc_id").as("doc_id2") +: (0 until NumHashes).map(j => col(s"mh$j").as(s"r$j")): _*)
        val nMatch = (0 until NumHashes)
          .map(j => when(col(s"l$j") === col(s"r$j"), 1).otherwise(0))
          .reduce(_ + _)
        cand.join(sl, "doc_id1").join(sr, "doc_id2")
          .withColumn("nm", nMatch)
          .filter(col("nm") >= 6)
          .select(col("doc_id1"), col("doc_id2"),
            round(col("nm") / 8.0, 3).as("est_jaccard"))
          .orderBy("doc_id1", "doc_id2")
      },
      Some(oneLine(s"""WITH ${duckSigCte("dtok")},
                  | bands AS (
                  |   SELECT *, 0 AS b, mh0 AS x, mh1 AS y FROM sig UNION ALL
                  |   SELECT *, 1, mh2, mh3 FROM sig UNION ALL
                  |   SELECT *, 2, mh4, mh5 FROM sig UNION ALL
                  |   SELECT *, 3, mh6, mh7 FROM sig),
                  | cand AS (
                  |   SELECT l.doc_id AS doc_id1, r.doc_id AS doc_id2,
                  |     max((CASE WHEN l.mh0=r.mh0 THEN 1 ELSE 0 END)+(CASE WHEN l.mh1=r.mh1 THEN 1 ELSE 0 END)
                  |        +(CASE WHEN l.mh2=r.mh2 THEN 1 ELSE 0 END)+(CASE WHEN l.mh3=r.mh3 THEN 1 ELSE 0 END)
                  |        +(CASE WHEN l.mh4=r.mh4 THEN 1 ELSE 0 END)+(CASE WHEN l.mh5=r.mh5 THEN 1 ELSE 0 END)
                  |        +(CASE WHEN l.mh6=r.mh6 THEN 1 ELSE 0 END)+(CASE WHEN l.mh7=r.mh7 THEN 1 ELSE 0 END)) AS nm
                  |   FROM bands l JOIN bands r
                  |     ON l.b=r.b AND l.x=r.x AND l.y=r.y AND l.source=r.source AND l.doc_id<r.doc_id
                  |   GROUP BY 1, 2)
                  | SELECT doc_id1, doc_id2, round(nm/8.0, 3) AS est_jaccard
                  | FROM cand WHERE nm >= 6 ORDER BY doc_id1, doc_id2"""))),

    // SimHash near-dup: nibble banding (4×4 bits). Hamming ≤ 2 guarantees
    // at least one identical nibble (pigeonhole), so the nibble equi-join
    // loses no true pair while bounding candidates per (nibble, source).
    Q("i9_simhash_near",
      (s, dir) => {
        val sh = simhash(t(s, dir, "documents"))
        val nibCols = (0 until 4).map(i =>
          struct(lit(i).as("i"),
            shiftright(col("sh"), i * 4).bitwiseAND(lit(15L)).as("v")))
        val nib = sh.select(col("doc_id"), col("source"), col("sh"),
          explode(array(nibCols: _*)).as("n"))
          .select(col("doc_id"), col("source"), col("sh"),
            col("n.i").as("i"), col("n.v").as("v"))
        val l = nib.alias("l"); val r = nib.alias("r")
        l.join(r,
            col("l.i") === col("r.i") && col("l.v") === col("r.v") &&
              col("l.source") === col("r.source") && col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_id1"), col("r.doc_id").as("doc_id2"),
            expr("bit_count(l.sh ^ r.sh)").cast("long").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 2)
          .orderBy("doc_id1", "doc_id2")
      },
      Some(oneLine(s"""WITH $duckSimhashCte,
                  | nib AS (
                  |   SELECT doc_id, source, sh, 0 AS i, sh & 15 AS v FROM sh UNION ALL
                  |   SELECT doc_id, source, sh, 1, (sh>>4)&15 FROM sh UNION ALL
                  |   SELECT doc_id, source, sh, 2, (sh>>8)&15 FROM sh UNION ALL
                  |   SELECT doc_id, source, sh, 3, (sh>>12)&15 FROM sh)
                  | SELECT DISTINCT l.doc_id AS doc_id1, r.doc_id AS doc_id2,
                  |   bit_count(xor(l.sh, r.sh)) AS hamming
                  | FROM nib l JOIN nib r
                  |   ON l.i=r.i AND l.v=r.v AND l.source=r.source AND l.doc_id<r.doc_id
                  | WHERE bit_count(xor(l.sh, r.sh)) <= 2
                  | ORDER BY doc_id1, doc_id2"""))),

    // Language ID: marker-profile scores + fixed-priority argmax. One
    // narrow projection, no shuffle (the HOF filter runs inside codegen).
    Q("j1_lang_id",
      (s, dir) => langIdPred(t(s, dir, "documents"))
        .drop("true_lang")
        .orderBy("doc_id"),
      Some {
        val scores = langMarkers.map { case (l, ws) =>
          s"len(list_filter(string_split(text,' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
        }.mkString(", ")
        val langs = langMarkers.map(_._1)
        val pred = langs.init.zipWithIndex.foldRight(s"'${langs.last}'") {
          case ((l, i), els) =>
            val rest = langs.drop(i + 1).map(o => s"s_$o").mkString(", ")
            s"CASE WHEN s_$l >= greatest($rest) THEN '$l' ELSE $els END"
        }
        oneLine(s"""SELECT doc_id, $pred AS pred_lang, ${langs.map(l => s"s_$l").mkString(", ")}
               | FROM (SELECT doc_id, $scores FROM documents)
               | ORDER BY doc_id""")
      }),

    // Quality score: length, duplication and stopword-density heuristics
    // combined into a bounded score. Pure projection — codegen, no shuffle.
    Q("j2_quality_score",
      (s, dir) =>
        docTokStats(t(s, dir, "documents"))
          .select(col("doc_id"), col("n_tok"),
            round(col("n_stop") / col("n_tok"), 3).as("stop_ratio"),
            round(lit(1.0) - col("n_uniq") / col("n_tok"), 3).as("dup_ratio"),
            qualityExpr.as("quality"))
          .orderBy("doc_id"),
      Some(oneLine("""SELECT doc_id, n_tok,
                 | round(n_stop/n_tok, 3) AS stop_ratio,
                 | round(1.0 - n_uniq/n_tok, 3) AS dup_ratio,
                 | round(least(n_tok/100.0, 1.0)*0.4 + (n_uniq/n_tok)*0.3 + (1.0 - n_stop/n_tok)*0.3, 3) AS quality
                 | FROM (SELECT doc_id,
                 |   len(string_split(text,' '))::BIGINT AS n_tok,
                 |   len(list_distinct(string_split(text,' ')))::BIGINT AS n_uniq,
                 |   len(list_filter(string_split(text,' '), t -> t IN ('a','the')))::BIGINT AS n_stop
                 |  FROM documents)
                 | ORDER BY doc_id"""))),

    // Token counting: whitespace tokens, a BPE-ish word/punct regex, and
    // the chars/4 subword estimate.
    Q("j3_token_count",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_tokens"),
            size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""), lit(0)))
              .cast("long").as("re_tokens"),
            ceil(col("n_chars") / 4.0).cast("long").as("bpe_est"))
          .orderBy("doc_id"),
      Some(oneLine("""SELECT doc_id,
                 | len(string_split(text,' '))::BIGINT AS ws_tokens,
                 | len(regexp_extract_all(text, '\w+|[^\w\s]'))::BIGINT AS re_tokens,
                 | ceil(n_chars/4.0)::BIGINT AS bpe_est
                 | FROM documents ORDER BY doc_id"""))),

    // Document fingerprint: order-sensitive 131-polynomial rolling hash of
    // the token-hash stream (TextFunctions.fingerprint), plus how many
    // docs share each fingerprint — fingerprint-level dedup.
    Q("j4_doc_fingerprint",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
          .withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("fp"))).cast("long"))
          .orderBy("doc_id"),
      Some(oneLine("""WITH fp AS (
                 |   SELECT doc_id,
                 |     list_reduce(
                 |       list_prepend(0::BIGINT,
                 |         list_transform(string_split(text,' '), t -> ('0x'||substr(md5(t),1,4))::BIGINT)),
                 |       (a, b) -> (a*131 + b) % 2147483647) AS fp
                 |   FROM documents)
                 | SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
                 | FROM fp ORDER BY doc_id"""))),

    // Corpus length distribution per source: exact interpolated
    // quantiles of the token count. EXACT percentile is the oracled
    // form (both engines do linear interpolation at rank p·(n−1));
    // the 100 TB path is percentile_approx — a fixed-size mergeable
    // sketch that partial-aggregates map-side instead of sorting each
    // group — asserted within ±1 token of exact in PipelineSpec (the
    // sketch is T-tier for the same reason as HLL: approx answers
    // can't hash-match a DuckDB oracle).
    Q("j5_length_quantiles",
      (s, dir) => {
        val nTok = size(split(col("text"), " ")).cast("long")
        t(s, dir, "documents")
          .select(col("source"), nTok.as("n_tok"))
          .groupBy(col("source"))
          .agg(
            round(percentile(col("n_tok"), lit(0.25)), 3).as("p25"),
            round(percentile(col("n_tok"), lit(0.5)), 3).as("p50"),
            round(percentile(col("n_tok"), lit(0.75)), 3).as("p75"),
            count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      Some(oneLine("""SELECT source,
                 |   round(quantile_cont(n_tok, 0.25), 3) AS p25,
                 |   round(quantile_cont(n_tok, 0.5), 3) AS p50,
                 |   round(quantile_cont(n_tok, 0.75), 3) AS p75,
                 |   count(*) AS n_docs
                 | FROM (SELECT source, len(string_split(text,' '))::BIGINT AS n_tok
                 |       FROM documents)
                 | GROUP BY source ORDER BY source"""))),

    // Repetition signals (the Gopher-rule family): fraction of the doc
    // occupied by its most frequent token / bigram / trigram — the
    // template-spam and boilerplate detector a quality pipeline runs
    // next to j2's density heuristics (a doc whose top trigram covers
    // 20% of it is machine-generated however good its stopword ratio
    // looks). All three fractions are integer-count ratios (exact
    // cross-engine divisions); grams are engine-internal xxhash64 longs
    // (the i13 rule — max-of-counts is hash-invariant), so the gram
    // shuffles carry 8-byte keys, never token strings. Scale: three
    // (doc_id, gram) partial-agg shuffles + two narrow joins on doc_id;
    // every aggregate partial-aggregates map-side because a doc's grams
    // are contiguous in its row.
    Q("j6_repetition",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        def gramCnt(k: Int): DataFrame = {
          val g =
            if (k == 1)
              docs.select(col("doc_id"),
                explode(split(col("text"), " ")).as("t"))
                .select(col("doc_id"), xxhash64(col("t")).as("g"))
            else
              docs.select(col("doc_id"), explode(gramZip(col("text"), k)).as("z"))
                .select(col("doc_id"),
                  xxhash64((0 until k).map(i => col(s"z.$i")): _*).as("g"))
          g.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        }
        // n_tok = Σ unigram counts — the unigram aggregate already holds
        // it, so the table is scanned exactly three times (once per gram
        // width), never a fourth for the length projection.
        val uni = gramCnt(1).groupBy(col("doc_id"))
          .agg(max(col("c")).as("m1"), sum(col("c")).as("n_tok"))
        val bi = gramCnt(2).groupBy(col("doc_id")).agg(max(col("c")).as("m2"))
        val tri = gramCnt(3).groupBy(col("doc_id")).agg(max(col("c")).as("m3"))
        uni.join(bi, "doc_id").join(tri, "doc_id")
          .select(col("doc_id"), col("n_tok"),
            round(col("m1") / col("n_tok"), 4).as("top_tok_frac"),
            round(col("m2") / (col("n_tok") - 1), 4).as("top_bigram_frac"),
            round(col("m3") / (col("n_tok") - 2), 4).as("top_trigram_frac"))
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
                 | t1 AS (SELECT doc_id, max(c) AS m1 FROM (
                 |   SELECT doc_id, g, count(*) AS c FROM
                 |     (SELECT doc_id, unnest(tk) AS g FROM toks) GROUP BY 1,2) GROUP BY 1),
                 | t2 AS (SELECT doc_id, max(c) AS m2 FROM (
                 |   SELECT doc_id, g, count(*) AS c FROM
                 |     (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                 |        i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks) GROUP BY 1,2) GROUP BY 1),
                 | t3 AS (SELECT doc_id, max(c) AS m3 FROM (
                 |   SELECT doc_id, g, count(*) AS c FROM
                 |     (SELECT doc_id, unnest(list_transform(range(1, len(tk)-1),
                 |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM toks) GROUP BY 1,2) GROUP BY 1)
                 | SELECT t.doc_id, len(t.tk)::BIGINT AS n_tok,
                 |   round(m1 * 1.0 / len(t.tk), 4) AS top_tok_frac,
                 |   round(m2 * 1.0 / (len(t.tk) - 1), 4) AS top_bigram_frac,
                 |   round(m3 * 1.0 / (len(t.tk) - 2), 4) AS top_trigram_frac
                 | FROM toks t JOIN t1 USING (doc_id) JOIN t2 USING (doc_id) JOIN t3 USING (doc_id)
                 | ORDER BY t.doc_id"""))),

    // PII scrub — the redaction pass a corpus runs before anything ships:
    // emails, phone numbers and IPv4 addresses are counted and replaced
    // with typed placeholders. The synthetic corpus contains no PII, so
    // the fixture deterministically INJECTS one of each (derived from
    // doc_id) before scrubbing — the operator is then provably
    // non-vacuous: the oracle re-runs the same injection + the same
    // regexes (simple classes chosen to behave identically under Java
    // regex and RE2) and the redacted text md5 must match. One narrow
    // codegen projection, no shuffle; at 100 TB this is a pure map pass.
    // Text NORMALIZATION — the canonicalization pass every dedup
    // pipeline runs before fingerprinting (case/punct/whitespace
    // variants defeat exact dedup; C4/CCNet-family pipelines normalize
    // first): lowercase → strip non-alphanumerics → collapse spaces →
    // trim. The fixture is already canonical, so the op injects
    // doc_id-dependent case + punctuation noise first (the j7
    // injection rule) and PipelineSpec pins the recovery law
    // md5(norm(noised)) = md5(raw). Narrow codegen projection, zero
    // shuffle (PlanSpec); at 100 TB this is a pure map pass fused into
    // the scan.
    Q("j11_normalize",
      (s, dir) => normalizeText(t(s, dir, "documents")).orderBy("doc_id"),
      Some(oneLine("""WITH noised AS (
                 |   SELECT doc_id,
                 |     upper(substr(text, 1, (doc_id % 4)::INT)) ||
                 |     substr(text, (doc_id % 4)::INT + 1) ||
                 |     (CASE WHEN doc_id % 2 = 0 THEN '  ,,!!  ' ELSE ' .?;   ' END) ||
                 |     lpad('', (doc_id % 3 + 1)::INT, '.') AS p
                 |   FROM documents),
                 | norm AS (
                 |   SELECT doc_id, p,
                 |     trim(regexp_replace(
                 |       regexp_replace(lower(p), '[^a-z0-9 ]', '', 'g'),
                 |       ' +', ' ', 'g')) AS n
                 |   FROM noised)
                 | SELECT doc_id, len(p)::BIGINT AS n_noised,
                 |   len(n)::BIGINT AS n_norm, md5(n) AS fp_norm
                 | FROM norm ORDER BY doc_id"""))),

    Q("j7_pii_redact",
      (s, dir) => piiRedact(t(s, dir, "documents")).orderBy("doc_id"),
      Some(oneLine("""WITH pii AS (
                 |   SELECT doc_id,
                 |     text || ' contact user' || doc_id || '@mail.example.com or call +1-555-' ||
                 |     lpad(doc_id::VARCHAR, 4, '0') || ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) AS p
                 |   FROM documents),
                 | red AS (
                 |   SELECT doc_id, p,
                 |     regexp_replace(
                 |       regexp_replace(
                 |         regexp_replace(p, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 |         '\+\d[\d-]{7,}\d', '<PHONE>', 'g'),
                 |       '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS r
                 |   FROM pii)
                 | SELECT doc_id,
                 |   len(regexp_extract_all(p, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
                 |   len(regexp_extract_all(p, '\+\d[\d-]{7,}\d'))::BIGINT AS n_phone,
                 |   len(regexp_extract_all(p, '\b\d{1,3}(\.\d{1,3}){3}\b'))::BIGINT AS n_ip,
                 |   len(r)::BIGINT AS red_len, md5(r) AS red_fp
                 | FROM red ORDER BY doc_id"""))),

    // n-gram novelty — per-doc fraction of 3-token shingles FIRST seen in
    // that doc, scanning the corpus in doc_id order: the incremental-
    // crawl signal ("how much of this doc is new text?") that drives
    // dedup-aware sampling. A shingle's first_seen is its min doc_id —
    // one partial-agg min per distinct shingle — and novelty is an
    // integer-count ratio. Engine-internal xxhash64 shingles (counts are
    // hash-invariant); the oracle joins raw shingle strings. Scale: two
    // shuffles (distinct shingle min + per-doc count), both on 8-byte
    // keys.
    Q("j8_ngram_novelty",
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), explode(shingleZip(col("text"))).as("z"))
          .select(col("doc_id"),
            xxhash64(col("z.0"), col("z.1"), col("z.2")).as("g"))
          .distinct()
        val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
        sh.join(first, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
          .select(col("doc_id"), col("n_sh"), col("n_new"),
            round(col("n_new") / col("n_sh"), 4).as("novelty"))
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH sh AS (
                 |   SELECT DISTINCT doc_id,
                 |     unnest(list_transform(range(1, len(tk)-1),
                 |       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
                 |   FROM (SELECT doc_id, string_split(text,' ') AS tk FROM documents
                 |         WHERE len(string_split(text,' ')) >= 3)),
                 | fs AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
                 | SELECT doc_id, count(*)::BIGINT AS n_sh,
                 |   sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_new,
                 |   round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS novelty
                 | FROM sh JOIN fs USING (g)
                 | GROUP BY doc_id ORDER BY doc_id"""))),

    // Corpus report card — the profiling pass a curation run fires before
    // any filtering decision: per source, document count, token volume,
    // vocabulary size, mean document length, and the dominant term. One
    // two-level aggregation tree: tokens partial-combine map-side into
    // (source, token) counts — the ONLY corpus-sized shuffle — and every
    // later stage (per-source rollup, argmax term, doc stats) runs over
    // vocabulary- or source-bounded rows. The dominant-term window is
    // partitioned by source and reads the (source, token) AGGREGATE, so
    // its partition is vocabulary-bounded, never corpus-bounded (the
    // registry-wide window rule). At 100 TB this replaces the "run 15
    // ad-hoc GROUP BYs over the corpus" anti-pattern with one scan; the
    // exact vocabulary count shuffles the (source, token) pairs — the
    // approx twin for monitoring-grade profiles is approx_count_distinct
    // (the j5 sketch-twin rule).
    Q("j9_corpus_profile",
      (s, dir) => corpusProfile(t(s, dir, "documents")).orderBy("source"),
      Some(oneLine("""WITH tok AS (
                 |   SELECT source, unnest(string_split(text, ' ')) AS token
                 |   FROM documents),
                 | tf AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
                 | agg AS (SELECT source, sum(n)::BIGINT AS n_tokens,
                 |     count(*)::BIGINT AS n_terms FROM tf GROUP BY 1),
                 | top AS (SELECT source, token AS top_term, n::BIGINT AS top_n FROM (
                 |     SELECT source, token, n,
                 |       row_number() OVER (PARTITION BY source
                 |         ORDER BY n DESC, token) AS rn
                 |     FROM tf) WHERE rn = 1),
                 | base AS (SELECT source, count(*)::BIGINT AS n_docs,
                 |     round(sum(n_chars)::DOUBLE / count(*), 2) AS avg_chars
                 |   FROM documents GROUP BY 1)
                 | SELECT b.source, n_docs, n_tokens, n_terms, avg_chars,
                 |   top_term, top_n
                 | FROM base b JOIN agg USING (source) JOIN top USING (source)
                 | ORDER BY b.source"""))),

    // Corpus bigram-LM quality scoring — the CCNet-shape statistical
    // filter: score each doc by how predictable its bigrams are under
    // the corpus's own bigram model (score(w1,w2) = c(w1w2)/c(w1·), the
    // conditional MLE), so template spam scores high, token salad
    // scores low — the model-based companion to j2's rule-based
    // heuristics. Cross-engine exactness: each occurrence's score is
    // ONE double division of exact integer counts, micro-quantized to
    // int64 (round(1e6·p), the i23 rule) so the per-doc SUM is
    // order-free and exact; one division + round at the end. ln()-based
    // perplexity is NOT bit-portable (the i26 rule) and any monotone
    // transform ranks identically. Scale: the UNIGRAM count table is
    // vocabulary-bounded and broadcasts by hint; the BIGRAM table
    // grows with the corpus, so its join carries no hint — free to
    // shuffle narrow 8-byte keys at 100 TB, broadcast by AQE locally.
    // Occurrences carry 8-byte xxhash64 keys, never strings (the i13
    // rule — counts are hash-invariant, the oracle joins raw bigrams);
    // the corpus-sized shuffles are the count partial-aggs and the
    // per-doc rollup, all on 8-byte keys with map-side combine.
    // Leave-one-out LM screening — j10 APPLIED as the model-based
    // quality gate (the CCNet shape): score every doc against the
    // bigram LM trained on the corpus MINUS that doc, and emit the 20
    // least-familiar docs. Self-exclusion is the statistically honest
    // form — a gibberish doc repeating its own junk bigrams inflates
    // its j10 self-score, but contributes nothing to its own held-out
    // counts (a bigram unique to the doc scores 0). Implemented as
    // count SUBTRACTION, not a per-doc retrain: the per-doc bigram
    // table (doc_id, bk, own2) subtracts from the global (c2, c1)
    // tables, so the whole leave-one-out sweep costs ONE extra
    // corpus-keyed aggregate over what j10 already shuffles — at 100 TB
    // a per-doc retrain is N jobs, the subtraction is one. Weights:
    // each distinct (doc, bigram) contributes own2 occurrences of the
    // same q, so the spine aggregates own2·q over distinct pairs (no
    // occurrence re-explode). q is the j10 micro-quantized integer;
    // a prefix unigram fully owned by the doc scores 0 (guarded — the
    // 0/0 case both engines would NaN differently). Ranking compares
    // the IEEE-identical unrounded double sq/n before the 4dp display
    // rounding; ties break on doc_id.
    Q("j12_lm_holdout",
      (s, dir) => {
        val occ = Harness.materialize(t(s, dir, "documents")
          .select(col("doc_id"), explode(gramZip(col("text"), 2)).as("z"))
          .select(col("doc_id"),
            xxhash64(col("z.0"), col("z.1")).as("bk"),
            xxhash64(col("z.0")).as("uk")))
        val own2 = occ.groupBy(col("doc_id"), col("bk"), col("uk"))
          .agg(count(lit(1)).as("own2"))
        val own1 = occ.groupBy(col("doc_id"), col("uk"))
          .agg(count(lit(1)).as("own1"))
        val c2 = occ.groupBy(col("bk"), col("uk")).agg(count(lit(1)).as("c2"))
        val c1 = occ.groupBy(col("uk")).agg(count(lit(1)).as("c1"))
        val q = when(col("c1") === col("own1"), lit(0L))
          .otherwise(round(lit(1e6) * (col("c2") - col("own2"))
            / (col("c1") - col("own1"))).cast("long"))
        own2.join(c2, Seq("bk", "uk"))
          .join(own1, Seq("doc_id", "uk"))
          .join(broadcast(c1), "uk")
          .select(col("doc_id"), col("own2"), q.as("q"))
          .groupBy(col("doc_id"))
          .agg(sum(col("own2")).as("n_bigrams"),
            sum(col("own2") * col("q")).as("sq"))
          .orderBy(col("sq").cast("double") / col("n_bigrams"), col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("n_bigrams"),
            round(col("sq").cast("double") / col("n_bigrams") / 1e6, 4)
              .as("loo_score"))
      },
      Some(oneLine(s"""WITH $bigramOccCte,
                 | own2 AS (SELECT doc_id, bg, min(w1) AS w1, count(*) AS own2
                 |   FROM o2 GROUP BY doc_id, bg),
                 | own1 AS (SELECT doc_id, w1, count(*) AS own1 FROM o2 GROUP BY doc_id, w1),
                 | c2 AS (SELECT bg, count(*) AS c2 FROM o2 GROUP BY bg),
                 | c1 AS (SELECT w1, count(*) AS c1 FROM o2 GROUP BY w1),
                 | q AS (
                 |   SELECT own2.doc_id, own2.own2,
                 |     CASE WHEN c1.c1 = own1.own1 THEN 0
                 |          ELSE round(1e6 * (c2.c2 - own2.own2)
                 |               / (c1.c1 - own1.own1))::BIGINT END AS q
                 |   FROM own2 JOIN c2 USING (bg)
                 |     JOIN own1 ON own1.doc_id = own2.doc_id AND own1.w1 = own2.w1
                 |     JOIN c1 ON c1.w1 = own2.w1),
                 | sp AS (SELECT doc_id, sum(own2)::BIGINT AS n_bigrams,
                 |     sum(own2 * q)::BIGINT AS sq
                 |   FROM q GROUP BY doc_id)
                 | SELECT doc_id, n_bigrams,
                 |   round(sq::DOUBLE / n_bigrams / 1e6, 4) AS loo_score
                 | FROM sp ORDER BY sq::DOUBLE / n_bigrams, doc_id LIMIT 20"""))),

    Q("j10_bigram_lm",
      (s, dir) => {
        // ONE tokenize pass for the three consumers (both count tables
        // + the scoring spine) — the nearDupPairs materialization rule;
        // the occurrence table carries (doc_id, two 8-byte hashes).
        val occ = Harness.materialize(t(s, dir, "documents")
          .select(col("doc_id"), explode(gramZip(col("text"), 2)).as("z"))
          .select(col("doc_id"),
            xxhash64(col("z.0"), col("z.1")).as("bk"),
            xxhash64(col("z.0")).as("uk")))
        val c2 = occ.groupBy(col("bk"), col("uk")).agg(count(lit(1)).as("c2"))
        val c1 = occ.groupBy(col("uk")).agg(count(lit(1)).as("c1"))
        // c1 (unigram-bounded) broadcasts by hint; c2 gets NO hint —
        // the bigram vocabulary grows with the corpus, so at 100 TB
        // this join must be free to shuffle its narrow 8-byte keys
        // (a hard broadcast hint would fail the build there). Locally
        // AQE broadcasts it at runtime (PlanSpec pins the final
        // adaptive plan). The join keys on BOTH hashes (bigram +
        // prefix), so a collision needs two simultaneous 64-bit
        // collisions — the same |V|²/2^65 vocabulary-level odds the
        // token sketches accept, not the ~2^32-bigram birthday bound
        // a single key would hit at scale.
        occ.join(c2, Seq("bk", "uk")).join(broadcast(c1), "uk")
          .select(col("doc_id"),
            round(lit(1e6) * col("c2") / col("c1")).cast("long").as("q"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("sq").cast("double") / col("n_bigrams") / 1e6, 4).as("lm_score"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH $bigramOccCte,
                 | c2 AS (SELECT bg, count(*) AS c2 FROM o2 GROUP BY bg),
                 | c1 AS (SELECT w1, count(*) AS c1 FROM o2 GROUP BY w1),
                 | q AS (
                 |   SELECT doc_id, round(1e6 * c2.c2 / c1.c1)::BIGINT AS q
                 |   FROM o2 JOIN c2 USING (bg) JOIN c1 USING (w1))
                 | SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                 |   round(sum(q)::DOUBLE / count(*) / 1e6, 4) AS lm_score
                 | FROM q GROUP BY doc_id ORDER BY doc_id"""))),

    // IVF-routed ANN: k=8 centroids (vec_id<8 as the deterministic
    // "trained" codebook), each vector assigned to its nearest centroid
    // (6dp-rounded dot, centroid-id tie-break), query probes its nprobe=2
    // nearest centroids and ranks only those clusters. Centroids and the
    // query vector are broadcast; the corpus never self-joins, and the
    // assignment never shuffles (broadcast centroid ARRAY + inline argmax,
    // see assignToCentroids).
    Q("i10_ann_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cent = stubCodebook(emb, ivfParams.k)
        val assigned = assignToCentroids(emb, cent)
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qemb"))
        val probe = cent.crossJoin(broadcast(qv))
          .select(col("cid"), round(VectorFunctions.dot(col("cemb"), col("qemb")), 6).as("qd"))
          .orderBy(col("qd").desc, col("cid")).limit(ivfParams.nprobe).select("cid")
        assigned.join(broadcast(probe), "cid")
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some(ivfTop10Oracle(""))),

    // The MANY-query form of i10 — batch ANN, the shape a retrieval or
    // dedup-by-embedding job actually runs: every query routes to its
    // nprobe=2 nearest centroids, candidates are only the corpus vectors
    // ASSIGNED to those clusters, top-3 per query by rounded cosine.
    // Scale: the query batch (with its probe list) broadcasts — queries
    // are tiny next to the corpus; the corpus is touched once to assign
    // clusters and once to score candidates, and the only shuffle is the
    // per-query top-k window over narrow (qid, vec_id, sim) triples —
    // |corpus|·nprobe/k candidate rows per query, never all-pairs.
    Q("i20_ann_batch",
      (s, dir) => annBatchTop3(s, dir)
        .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
        .orderBy("qid", "rank"),
      Some(oneLine(s"""WITH $annBatchCte
                 | SELECT qid, rank, vec_id, sim FROM ivf
                 | ORDER BY qid, rank"""))),

    // ANN quality evaluation — recall@3 of the IVF-routed batch path
    // (i20, the SAME factored plan) against exact brute force, per
    // query: the measurement a pipeline runs before trusting an index
    // (IVF trades recall for touch-fraction; the trade must be MEASURED,
    // not assumed). Exact ground truth is brute-force over the query
    // batch only — at 100 TB recall is always evaluated on a query
    // SAMPLE, so the exact side is |sample|·|corpus| narrow dot products
    // with the query batch broadcast, never an all-pairs corpus join,
    // and never a second corpus pass beyond the one scoring sweep.
    // recall = n_hit/3.0 is a small-integer division — exact
    // cross-engine.
    Q("i28_ann_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        annRecall(emb, stubCodebook(emb, ivfParams.k),
          queryBatch(emb, ivfParams.nQueries), ivfParams.nprobe)
          .orderBy("qid")
      },
      Some(oneLine(s"""WITH $annBatchCte,
                 | ${exsimsCte()},
                 | exact AS (
                 |   SELECT qid, vec_id FROM (
                 |     SELECT qid, vec_id,
                 |       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
                 |     FROM exsims) WHERE rn <= 3),
                 | hits AS (
                 |   SELECT i.qid, count(*) AS n_hit
                 |   FROM ivf i JOIN exact x ON i.qid = x.qid AND i.vec_id = x.vec_id
                 |   GROUP BY 1)
                 | SELECT q.qid, coalesce(n_hit, 0)::BIGINT AS n_hit,
                 |   round(coalesce(n_hit, 0) / 3.0, 4) AS recall
                 | FROM q LEFT JOIN hits ON q.qid = hits.qid
                 | ORDER BY q.qid"""))),

    // MATRYOSHKA truncation evaluation — the dimension-budget curve a
    // pipeline measures before shipping truncated embeddings (MRL-style
    // models promise prefix dims carry most of the signal; the promise
    // must be MEASURED per corpus, like i28 measures IVF): recall@3 of
    // brute-force search under the first {8, 16, 32} dims against the
    // full 64-dim ranking, per query. Same scale shape as i28's exact
    // side — the query batch BROADCASTS onto one corpus sweep per
    // truncation level (each a narrower dot product, prefix-sliced
    // before the multiply), never an all-pairs corpus join; the rank
    // windows are query-bounded. recall = n_hit/3 exact cross-engine.
    Q("i85_mrl_recall",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val q = queryBatch(emb, ivfParams.nQueries)
        // ONE corpus sweep computes all four prefix dots (the sim at a
        // truncation is the dot of the prefix SLICES — same expression
        // at every level, so the rounded values are bit-identical to
        // per-level sweeps), exploded to long (qid, dim, vec_id, sim):
        // the rank window then runs ONCE on (qid, dim), and the partial
        // WindowGroupLimit prunes each map partition to ~top-3 per
        // group BEFORE the Exchange — the only corpus-wide shuffle in
        // the plan carries ≈ nQ·|dims|·3 rows per map partition.
        val dims = Seq(8, 16, 32, 64)
        val swept = emb.crossJoin(broadcast(q))
          .select(col("qid"), col("vec_id"),
            explode(array(dims.map(d =>
              struct(lit(d.toLong).as("dim"),
                round(VectorFunctions.dot(
                  slice(col("embedding"), 1, d), slice(col("qemb"), 1, d)), 3)
                  .as("sim"))): _*)).as("z"))
          .select(col("qid"), col("vec_id"), col("z.dim"), col("z.sim"))
        val top = swept
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"), col("dim"))
              .orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rn") <= 3)
        // Join-free overlap: a (qid, vec_id) that made BOTH the dim-d
        // and the dim-64 top-3 contributes one hit to (qid, d) — group
        // the tiny top table by (qid, vec_id), keep the dims it appears
        // under, and re-explode the truncated dims of full-rank members.
        val overlaps = top.groupBy(col("qid"), col("vec_id"))
          .agg(max(when(col("dim") === 64, 1).otherwise(0)).as("in_full"),
            collect_list(when(col("dim") =!= 64, col("dim"))).as("tdims"))
          .filter(col("in_full") === 1)
          .select(col("qid"), explode(col("tdims")).as("dim"))
          .groupBy(col("qid"), col("dim")).agg(count(lit(1)).as("n_hit"))
        val spine = q.select(col("qid"))
          .crossJoin(broadcast(Seq(8L, 16L, 32L).toDF("dim")))
        spine.join(broadcast(overlaps), Seq("qid", "dim"), "left")
          .select(col("qid"), col("dim"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)) / 3.0, 4).as("recall"))
          .orderBy("qid", "dim")
      },
      Some(oneLine(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qemb
                 |     FROM embeddings WHERE vec_id < ${ivfParams.nQueries}),
                 | dims AS (SELECT unnest([8, 16, 32]) AS dim),
                 | ${exsimsCte("sim64")},
                 | ${exactTopCte("top64", "qid, vec_id", "sim64", 3)},
                 | simd AS (
                 |   SELECT dim, qid, vec_id, round(sum(p), 3) AS sim
                 |   FROM (SELECT d.dim, q.qid, e.vec_id,
                 |           unnest(e.embedding[1:d.dim])::DOUBLE
                 |             * unnest(q.qemb[1:d.dim])::DOUBLE AS p
                 |         FROM embeddings e, q, dims d)
                 |   GROUP BY 1, 2, 3),
                 | topd AS (SELECT dim, qid, vec_id FROM (
                 |     SELECT dim, qid, vec_id,
                 |       row_number() OVER (PARTITION BY dim, qid
                 |         ORDER BY sim DESC, vec_id) AS rn
                 |     FROM simd) WHERE rn <= 3),
                 | hits AS (
                 |   SELECT t.dim, t.qid, count(*) AS n_hit
                 |   FROM topd t JOIN top64 x ON t.qid = x.qid AND t.vec_id = x.vec_id
                 |   GROUP BY 1, 2)
                 | SELECT q.qid, CAST(d.dim AS BIGINT) AS dim,
                 |   coalesce(h.n_hit, 0)::BIGINT AS n_hit,
                 |   round(coalesce(h.n_hit, 0) / 3.0, 4) AS recall
                 | FROM q CROSS JOIN dims d
                 | LEFT JOIN hits h ON h.qid = q.qid AND h.dim = d.dim
                 | ORDER BY q.qid, dim"""))),

    // Rank-aware ANN agreement CURVE — i28's recall@3 is one point; the
    // eval a deployment actually reads is overlap@depth for the depths
    // callers will request (1, 3, 5, 10): how fast does IVF's agreement
    // with the exact ranking decay as k grows past the probed fraction?
    // Both rankings are the SHIPPED plans (the exact side is i3's
    // broadcast-queries corpus sweep, the IVF side is i20's
    // annBatchTop3 — depth-parameterized, same SQL source as the i20
    // oracle): a drifted re-derivation would grade the wrong engine.
    // One (qid, vec_id) equi-join of the two depth-10 rankings, then
    // FOUR conditional sums in ONE aggregate (not four join passes);
    // overlap_ppm = ⌊hits·1e6 / (nQ·d)⌋ exact integer — no floats
    // anywhere in the output.
    Q("i86_overlap_curve",
      (s, dir) => {
        val (exact, ivf) = exactAndIvfTop10(t(s, dir, "embeddings"))
        val depths = Seq(1, 3, 5, 10)
        val hitCols = depths.map(d =>
          sum(when(col("xr") <= d && col("ir") <= d, 1L).otherwise(0L))
            .as(s"h$d"))
        val hits = exact.join(ivf, Seq("qid", "vec_id"))
          .agg(hitCols.head, hitCols.tail: _*)
        hits.select(explode(array(depths.map(d =>
            struct(lit(d.toLong).as("depth"), col(s"h$d").as("n_hit"))): _*)).as("z"))
          .select(col("z.depth"), col("z.n_hit"),
            ((col("z.n_hit") * 1000000L -
              pmod(col("z.n_hit") * 1000000L, col("z.depth") * ivfParams.nQueries))
              / (col("z.depth") * ivfParams.nQueries)).cast("long").as("overlap_ppm"))
          .orderBy("depth")
      },
      Some(oneLine(s"""WITH $exactAndIvfTop10Cte,
                 | j AS (SELECT x.xr, i.rank AS ir
                 |   FROM exact x JOIN ivf i ON x.qid = i.qid AND x.vec_id = i.vec_id),
                 | d AS (SELECT unnest([1, 3, 5, 10]) AS depth),
                 | h AS (SELECT d.depth,
                 |     CAST(sum(CASE WHEN j.xr <= d.depth AND j.ir <= d.depth
                 |       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                 |   FROM d LEFT JOIN j ON true GROUP BY d.depth)
                 | SELECT CAST(depth AS BIGINT) AS depth, n_hit,
                 |   (n_hit * 1000000) // (depth * 20) AS overlap_ppm
                 | FROM h ORDER BY depth"""))),

    // Metric STABILITY probe — error bars without RNG: is the corpus
    // quality mean a property of the corpus or of the sample? The
    // corpus splits into 16 content-addressed buckets (salted md5 of
    // doc_id — deterministic, partition-invariant, the i16 rule), each
    // bucket reports its exact mean (micro-units, integer division of
    // exact int64 sums), and the spread across buckets IS the
    // stability estimate — the deterministic analog of a bootstrap,
    // reproducible to the bit across runs and engines where resampling
    // is not. One map-side-combinable aggregate; 16 output rows at any
    // corpus size.
    Q("j23_metric_stability",
      (s, dir) => t(s, dir, "documents")
        .select(
          (conv(substring(md5(concat(lit("stab:"), col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("long") % 16).as("bucket"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"),
          markerScore(col("text"), Seq("a", "the")).as("n_stop"))
        .select(col("bucket"), round(qualityExpr * 1000).cast("long").as("qm"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("qsum"))
        .select(col("bucket"), col("n_docs"),
          expr("qsum * 1000 div n_docs").as("mean_micro"))
        .orderBy("bucket"),
      Some(oneLine(s"""WITH st AS (SELECT
                 |     ('0x' || substr(md5('stab:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS bucket,
                 |     ${LlmOps.tokStatCols}
                 |   FROM documents),
                 | ${qmCte("bucket")}
                 | SELECT bucket, count(*)::BIGINT AS n_docs,
                 |   ((sum(qm) * 1000) // count(*))::BIGINT AS mean_micro
                 | FROM v GROUP BY bucket ORDER BY bucket"""))),

    // Curation FUNNEL — the yield dashboard every pipeline owner
    // watches: where does the corpus die? Each doc is attributed to the
    // FIRST stage that drops it (eval holdout → lang → quality →
    // intra-doc repetition (>10% repeated segments, the i89 signal) →
    // exact dup → contamination → kept), in ONE pass: the row-local
    // stages are shared expressions (j2 quality, i89 segments), the
    // exact-dup rank is one fp window SEQUENTIALLY SCOPED by masking —
    // docs failing an earlier stage get a singleton partition key, so
    // they never consume a duplicate slot (a funnel dedups only what
    // reached the dedup stage) — and contamination is the shipped i57
    // screen (broadcast eval-shingle set). Output is the 7-row stage ×
    // (docs, tokens) report; at 100 TB this costs the i17 pipeline's
    // one corpus Exchange plus the i19 screen it already composes.
    Q("i96_curation_funnel",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ev = evalShingleSet(docs.filter(col("doc_id") < 50))
        val flagged = contaminationScreen(docs.filter(col("doc_id") >= 50), ev)
          .select(col("doc_id"), lit(1L).as("contam"))
        val enriched = docs
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_tok", size(col("toks")).cast("long"))
          .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
          .withColumn("n_stop", markerScore(col("text"), Seq("a", "the")))
          .withColumn("quality", qualityExpr)
          .withColumn("segs", expr(
            "transform(sequence(0, (size(toks) + 1) div 2 - 1), i -> array_join(slice(toks, i*2 + 1, 2), ' '))"))
          .withColumn("n_seg", size(col("segs")).cast("long"))
          .withColumn("n_kept", size(expr(
            "filter(segs, (sg, j) -> array_position(segs, sg) = j + 1)")).cast("long"))
          .withColumn("fp", md5(col("text")))
          .withColumn("rl_pass",
            col("doc_id") >= 50 && col("lang") === "en" &&
              col("quality") >= 0.64 && col("n_kept") * 10 >= col("n_seg") * 9)
        val ranked = enriched.withColumn("rn", row_number().over(
          Window.partitionBy(
            when(col("rl_pass"), col("fp"))
              .otherwise(concat(lit("x"), col("doc_id").cast("string"))))
            .orderBy(col("doc_id"))))
        ranked.join(flagged, Seq("doc_id"), "left")
          .withColumn("stage",
            when(col("doc_id") < 50, "0_eval_holdout")
              .when(col("lang") =!= "en", "1_lang")
              .when(col("quality") < 0.64, "2_quality")
              .when(col("n_kept") * 10 < col("n_seg") * 9, "3_repetition")
              .when(col("rn") > 1, "4_exact_dup")
              .when(col("contam").isNotNull, "5_contaminated")
              .otherwise("6_kept"))
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .orderBy("stage")
      },
      Some(oneLine("""WITH base AS (SELECT doc_id, lang, text, string_split(text,' ') AS toks FROM documents),
                 | st AS (SELECT doc_id, lang, text, toks, len(toks)::BIGINT AS n_tok,
                 |     len(list_distinct(toks))::BIGINT AS n_uniq,
                 |     len(list_filter(toks, t -> t IN ('a','the')))::BIGINT AS n_stop
                 |   FROM base),
                 | q AS (SELECT *, round(least(n_tok/100.0,1.0)*0.4 + (n_uniq/n_tok)*0.3
                 |     + (1.0-n_stop/n_tok)*0.3, 3) AS quality FROM st),
                 | seg AS (SELECT *, list_transform(range(0,(n_tok+1)//2),
                 |     i -> array_to_string(toks[i*2+1:i*2+2],' ')) AS segs FROM q),
                 | ex AS (SELECT doc_id, lang, n_tok, quality, text, len(segs)::BIGINT AS n_seg,
                 |     len(list_filter(segs, (sg,j) -> list_position(segs,sg) = j))::BIGINT AS n_kept
                 |   FROM seg),
                 | rl AS (SELECT *, (doc_id >= 50 AND lang = 'en' AND quality >= 0.64
                 |     AND n_kept*10 >= n_seg*9) AS rl_pass, md5(text) AS fp FROM ex),
                 | rk AS (SELECT *, row_number() OVER (PARTITION BY
                 |     (CASE WHEN rl_pass THEN fp ELSE 'x' || CAST(doc_id AS VARCHAR) END)
                 |     ORDER BY doc_id) AS rn FROM rl),
                 | sh AS (SELECT DISTINCT doc_id,
                 |     unnest(list_transform(range(1, len(toks)-1),
                 |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                 |   FROM base WHERE len(toks) >= 3),
                 | evs AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50),
                 | tr AS (SELECT * FROM sh WHERE doc_id >= 50),
                 | sz AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id),
                 | shd AS (SELECT doc_id, count(*) AS n_shared
                 |   FROM tr JOIN evs USING (s) GROUP BY doc_id),
                 | ct AS (SELECT sz.doc_id FROM sz JOIN shd USING (doc_id)
                 |   WHERE n_shared * 1.0 / n_sh >= 0.2),
                 | staged AS (SELECT rk.doc_id, n_tok,
                 |     CASE WHEN rk.doc_id < 50 THEN '0_eval_holdout'
                 |          WHEN lang <> 'en' THEN '1_lang'
                 |          WHEN quality < 0.64 THEN '2_quality'
                 |          WHEN n_kept*10 < n_seg*9 THEN '3_repetition'
                 |          WHEN rn > 1 THEN '4_exact_dup'
                 |          WHEN ct.doc_id IS NOT NULL THEN '5_contaminated'
                 |          ELSE '6_kept' END AS stage
                 |   FROM rk LEFT JOIN ct ON rk.doc_id = ct.doc_id)
                 | SELECT stage, count(*)::BIGINT AS n_docs,
                 |   CAST(sum(n_tok) AS BIGINT) AS n_tokens
                 | FROM staged GROUP BY stage ORDER BY stage"""))),

    // QUOTA-capped per-source selection — i63's greedy budget cut made
    // mixture-aware: every source gets its OWN token quota (⅓ of its
    // tokens here; a production mixture feeds per-source targets), and
    // the best quality levels fill it all-or-nothing (equal scores are
    // indistinguishable — the i63 determinism contract) — so one
    // source's quality glut can't starve another, which is exactly
    // what the global i63 cut does to small sources. Same scale
    // spelling: the corpus collapses to the (source, quality-level)
    // token histogram on ONE Exchange; the greedy walk is a running
    // sum over the ≤1001-row per-source frame; quotas come from the
    // same frame's full-window total (no second corpus pass). Output
    // is the per-source fill report — conditional aggregation over the
    // per-source frame (sum(kept)/sum(all), NO join — see the
    // quotaSelect scaladoc), so a STARVED source (one whose single
    // best level already exceeds its quota, keeping zero levels
    // all-or-nothing) still reports a fill_ppm=0 row instead of
    // silently vanishing (ADVICE r14); the doc-level cut is the
    // keep-set broadcast back (the i63 shape).
    Q("i95_quota_select",
      (s, dir) => quotaSelect(t(s, dir, "documents")),
      Some(oneLine(s"""WITH ${LlmOps.tokStatsCte("source")},
                 | ${qmCte("source, n_tok")},
                 | lvl AS (SELECT source, qm, sum(n_tok)::BIGINT AS ltok FROM v GROUP BY 1, 2),
                 | w AS (SELECT source, qm, ltok,
                 |     sum(ltok) OVER (PARTITION BY source ORDER BY qm DESC
                 |       ROWS UNBOUNDED PRECEDING) AS cum,
                 |     sum(ltok) OVER (PARTITION BY source) AS stot
                 |   FROM lvl),
                 | k AS (SELECT source,
                 |     sum(CASE WHEN cum <= stot // 3 THEN 1 ELSE 0 END)::BIGINT AS n_levels_kept,
                 |     sum(CASE WHEN cum <= stot // 3 THEN ltok ELSE 0 END)::BIGINT AS tokens_kept,
                 |     max(stot // 3)::BIGINT AS quota_tok
                 |   FROM w GROUP BY source)
                 | SELECT source, n_levels_kept, tokens_kept, quota_tok,
                 |   (CASE WHEN quota_tok > 0
                 |     THEN (tokens_kept * 1000000) // quota_tok
                 |     ELSE 0 END)::BIGINT AS fill_ppm
                 | FROM k ORDER BY source"""))),

    // Per-source QUANTILE NORMALIZATION — the cross-source calibration
    // a single quality threshold gets wrong: "quality ≥ 0.6" cuts 5% of
    // one source and 60% of another, so mixture policies compare
    // QUANTILE RANKS, not raw scores. Each source's 3dp quality domain
    // is BOUNDED (≤1001 levels — the c17/j21 distribution rule), so the
    // corpus collapses to a per-(source, level) histogram on one
    // Exchange, the midrank CDF runs over the bounded histogram
    // (qrank_ppm = (2·cum − cnt)·1e6 div (2·n), the exact midpoint
    // convention — all int64 through sf100), and a filter broadcasts
    // the ≤20k-row table back to cut every source at the same quantile.
    // Scores are j20's shipped milli-quality expression.
    Q("i94_quantile_normalize",
      (s, dir) => {
        val v = t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"),
            markerScore(col("text"), Seq("a", "the")).as("n_stop"))
          .select(col("source"), round(qualityExpr * 1000).cast("long").as("qm"))
        val w = Window.partitionBy(col("source")).orderBy(col("qm"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        v.groupBy(col("source"), col("qm")).agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(w))
          .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
          .select(col("source"), col("qm"), col("cnt"),
            expr("(2 * cum - cnt) * 1000000 div (2 * n)").as("qrank_ppm"))
          .orderBy("source", "qm")
      },
      Some(oneLine(s"""WITH ${LlmOps.tokStatsCte("source")},
                 | ${qmCte("source")},
                 | h AS (SELECT source, qm, count(*)::BIGINT AS cnt FROM v GROUP BY 1, 2),
                 | w AS (SELECT source, qm, cnt,
                 |     sum(cnt) OVER (PARTITION BY source ORDER BY qm
                 |       ROWS UNBOUNDED PRECEDING) AS cum,
                 |     sum(cnt) OVER (PARTITION BY source) AS n
                 |   FROM h)
                 | SELECT source, qm, cnt,
                 |   (((2 * cum - cnt) * 1000000) // (2 * n))::BIGINT AS qrank_ppm
                 | FROM w ORDER BY source, qm"""))),

    // Padding-WASTE report — the batch-efficiency diagnostic behind
    // length-bucketed batching (m8's idea for text): docs batch at the
    // next power-of-two length cap (16..1024; longer docs truncate at
    // 1024 — counted, never silent), every token between a doc's length
    // and its cap is padding the GPU pays for. The cap assignment is a
    // row-local HOF over the 7-value cap ladder (array_min of the caps
    // ≥ n_tok — EXACT, where a log2/ceil spelling is float-ordered);
    // the report is one bounded rollup: per cap, docs, real tokens,
    // padded tokens, and waste_ppm = pad·1e6 div (cap·docs) — all
    // integers. The mixture designer reads this to pick bucket
    // boundaries; a second run after re-bucketing proves the saving.
    Q("i93_pad_waste",
      (s, dir) => {
        padCapAssign(t(s, dir, "documents"))
          .groupBy(col("cap"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept")).as("tokens"),
            sum(col("cap") - col("kept")).as("pad_tokens"),
            sum(when(col("n_tok") > col("cap"), col("n_tok") - col("cap"))
              .otherwise(0L)).as("truncated_tokens"))
          .withColumn("waste_ppm",
            expr("pad_tokens * 1000000 div (cap * n_docs)"))
          .orderBy("cap")
      },
      Some(oneLine("""WITH b AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tok
                 |   FROM documents),
                 | c AS (SELECT n_tok,
                 |     coalesce(list_min(list_filter([16, 32, 64, 128, 256, 512, 1024],
                 |       c -> c >= n_tok)), 1024)::BIGINT AS cap
                 |   FROM b),
                 | k AS (SELECT cap, n_tok, least(n_tok, cap) AS kept FROM c),
                 | a AS (SELECT cap, count(*)::BIGINT AS n_docs,
                 |     sum(kept)::BIGINT AS tokens,
                 |     sum(cap - kept)::BIGINT AS pad_tokens,
                 |     sum(CASE WHEN n_tok > cap THEN n_tok - cap ELSE 0 END)::BIGINT
                 |       AS truncated_tokens
                 |   FROM k GROUP BY cap)
                 | SELECT cap, n_docs, tokens, pad_tokens, truncated_tokens,
                 |   ((pad_tokens * 1000000) // (cap * n_docs))::BIGINT AS waste_ppm
                 | FROM a ORDER BY cap"""))),

    // Declarative CONSTRAINT CHECK — the Deequ-shape data-quality gate
    // a pipeline runs before training ever sees a batch: uniqueness,
    // non-null, value-range, and domain constraints all evaluate in ONE
    // aggregate pass over the fact table (row-local predicates and the
    // key countDistinct share the scan and the partial/final combine),
    // referential integrity is ONE anti-join counted (ids only — the
    // violation count ships, never the rows), and the report is the
    // five-row explode of the single stats row crossed with the 1-row
    // orphan count (the i26 rule). At 100 TB the gate costs one scan +
    // one key-width anti-join, and adding a constraint edits the
    // aggregate, not the pass count.
    Q("i92_constraint_check",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val stats = o.agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("uk"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nulls"),
          sum(when(!col("o_totalprice").between(0, 1000000), 1L).otherwise(0L))
            .as("range_v"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
            .as("domain_v"))
        val orphans = o.join(t(s, dir, "customer"),
            o("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orph"))
        stats.crossJoin(broadcast(orphans))
          .select(explode(array(
            struct(lit("domain_orderstatus").as("cname"),
              col("domain_v").as("violations")),
            struct(lit("fk_custkey").as("cname"), col("orph").as("violations")),
            struct(lit("notnull_custkey").as("cname"),
              col("nulls").as("violations")),
            struct(lit("range_totalprice").as("cname"),
              col("range_v").as("violations")),
            struct(lit("unique_orderkey").as("cname"),
              (col("n") - col("uk")).as("violations")))).as("z"),
            col("n"))
          .select(col("z.cname").as("cname"), col("n").as("n_checked"),
            col("z.violations").as("violations"),
            (col("z.violations") === 0).cast("long").as("pass"))
          .orderBy("cname")
      },
      Some(oneLine("""WITH a AS (SELECT count(*)::BIGINT AS n,
                 |     count(DISTINCT o_orderkey)::BIGINT AS uk,
                 |     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
                 |     sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
                 |       THEN 1 ELSE 0 END)::BIGINT AS range_v,
                 |     sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                 |       THEN 1 ELSE 0 END)::BIGINT AS domain_v
                 |   FROM orders),
                 | f AS (SELECT count(*)::BIGINT AS orph FROM orders o
                 |   LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                 |   WHERE c.c_custkey IS NULL),
                 | r AS (SELECT 'domain_orderstatus' AS cname, n, domain_v AS violations FROM a, f
                 |   UNION ALL SELECT 'fk_custkey', n, orph FROM a, f
                 |   UNION ALL SELECT 'notnull_custkey', n, nulls FROM a, f
                 |   UNION ALL SELECT 'range_totalprice', n, range_v FROM a, f
                 |   UNION ALL SELECT 'unique_orderkey', n, n - uk FROM a, f)
                 | SELECT cname, n AS n_checked, violations,
                 |   (violations = 0)::BIGINT AS pass
                 | FROM r ORDER BY cname"""))),

    // Tokenizer FERTILITY per language — the multilingual-fairness
    // metric (tokens emitted per whitespace word): a tokenizer that
    // fragments one language 2× harder than another silently halves
    // that language's effective context and doubles its training cost;
    // the mixture designer reads this table next to j16's Gini. Both
    // tokenizations are j3's shipped expressions (regex word/punct
    // split and the byte-length BPE estimator) — the per-lang rollup is
    // ONE map-side-combinable hash aggregate of exact int64 token sums,
    // and the two fertility ratios are exact integers (ppm = tokens·1e6
    // div words, positive operands).
    Q("j22_tokenizer_fertility",
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("ws"),
          size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""), lit(0)))
            .cast("long").as("re"),
          ceil(col("n_chars") / 4.0).cast("long").as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("re")).as("re_tokens"),
          sum(col("bpe")).as("bpe_est"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          expr("re_tokens * 1000000 div ws_tokens").as("fert_re_ppm"),
          expr("bpe_est * 1000000 div ws_tokens").as("fert_bpe_ppm"))
        .orderBy("lang"),
      Some(oneLine("""WITH b AS (SELECT lang,
                 |     len(string_split(text, ' '))::BIGINT AS ws,
                 |     len(regexp_extract_all(text, '\w+|[^\w\s]'))::BIGINT AS re,
                 |     ceil(n_chars / 4.0)::BIGINT AS bpe
                 |   FROM documents),
                 | a AS (SELECT lang, count(*)::BIGINT AS n_docs,
                 |     sum(ws)::BIGINT AS ws_tokens, sum(re)::BIGINT AS re_tokens,
                 |     sum(bpe)::BIGINT AS bpe_est
                 |   FROM b GROUP BY lang)
                 | SELECT lang, n_docs, ws_tokens,
                 |   (re_tokens * 1000000) // ws_tokens AS fert_re_ppm,
                 |   (bpe_est * 1000000) // ws_tokens AS fert_bpe_ppm
                 | FROM a ORDER BY lang"""))),

    // LSH RECALL SWEEP — the dedup-tuning table (the i97/i86 curve
    // family pointed at near-dedup): how much of the TRUE J ≥ t pair
    // set does the shipped (4 bands × 2 hashes) banding surface, for
    // t ∈ {0.7, 0.8, 0.9}? Banding tuned for 0.9 recalls less as t
    // drops — THIS table is what justifies the band/row split before
    // anyone re-runs a 100 TB dedup with looser thresholds. Ground
    // truth is the i2 machinery at the sweep's loosest threshold (the
    // θ=0.7 prefix filter is PROVEN lossless — PropertySpec — so the
    // truth set is exact, not a sample); membership tests are exact
    // integer cross-multiplication (inter·10 ≥ union·t — no rounded
    // jaccard near the boundary); the candidate flag is the i8
    // md5-signature banding (DuckDB-reproducible, unlike the xxhash64
    // rehash bands); and the three (truth, hit) pairs land in ONE
    // aggregate (the i86 pattern). Same-source pair joins throughout —
    // never all-pairs.
    Q("i98_lsh_recall_sweep",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // θ=0.7 truth via the SHARED pairStats machinery (LlmOps —
        // PropertySpec-proven lossless prefix; the persistable truth
        // artifact PersistedIndexSpec reads back for the ...From path).
        lshRecallSweep(LlmOps.pairStats(docs, 7),
          bandCandidates(minhashSig(docs)).withColumn("is_cand", lit(1L)))
      },
      Some(oneLine(s"""WITH ${LlmOps.tokenPairsCte},
                 | truth AS (SELECT doc_id1, doc_id2, inter, n1 + n2 - inter AS un
                 |   FROM pairs WHERE inter * 10 >= (n1 + n2 - inter) * 7),
                 | ${duckSigCte("stok")},
                 | cand AS (SELECT DISTINCT l.doc_id AS doc_id1, r.doc_id AS doc_id2
                 |   FROM sig l JOIN sig r ON l.source = r.source AND l.doc_id < r.doc_id
                 |     AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR
                 |          (l.mh2 = r.mh2 AND l.mh3 = r.mh3) OR
                 |          (l.mh4 = r.mh4 AND l.mh5 = r.mh5) OR
                 |          (l.mh6 = r.mh6 AND l.mh7 = r.mh7))),
                 | j AS (SELECT t.*, (c.doc_id1 IS NOT NULL) AS is_cand FROM truth t
                 |   LEFT JOIN cand c ON t.doc_id1 = c.doc_id1 AND t.doc_id2 = c.doc_id2),
                 | s AS (SELECT r.range AS th,
                 |     (SELECT count(*) FROM j WHERE inter * 10 >= un * r.range) AS n_true,
                 |     (SELECT count(*) FROM j WHERE inter * 10 >= un * r.range AND is_cand) AS n_hit
                 |   FROM range(7, 10) r)
                 | SELECT (th * 100)::BIGINT AS threshold_milli,
                 |   n_true::BIGINT AS n_true, n_hit::BIGINT AS n_hit,
                 |   ((n_hit * 1000000) // n_true)::BIGINT AS recall_ppm
                 | FROM s ORDER BY threshold_milli"""))),

    // IVF nprobe CAPACITY CURVE — the tuning table an ANN deployment
    // reads before picking nprobe: at each probe depth 1..k, what
    // fraction of the exact top-3 answers LIVES in the probed clusters
    // (the achievable-recall ceiling — i28 grades one operating point,
    // this sweeps them all), against what fraction of the corpus the
    // probe touches (the cost axis). One pass per axis: the per-query
    // centroid ranking reuses the SHIPPED routing semantics (6dp dot,
    // (−qd, cid) sort — annBatchTop3's exact tie-break, row-local over
    // the broadcast codebook); coverage is the exact-top3 members
    // joined to their cluster's probe rank with EIGHT conditional sums
    // in ONE aggregate (the i86 pattern, not eight passes); probed
    // mass is the same eight sums over the (query × probe-rank) ×
    // cluster-size table, whose full-frame total IS nQ·N. All exact
    // integer ppm; the only corpus-sized work is the exact ranking
    // (the i3 broadcast sweep) and the cluster-size aggregate.
    Q("i97_nprobe_curve",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cent = stubCodebook(emb, ivfParams.k)
        val queries = queryBatch(emb, ivfParams.nQueries)
        // nQ·k rows feeding both axes — materialize once.
        val qranks = Harness.materialize(queries.crossJoin(broadcast(centroidArray(cent)))
          .select(col("qid"), posexplode(array_sort(transform(col("cents"), c =>
            struct(
              (-round(VectorFunctions.dot(col("qemb"), c.getField("cemb")), 6)).as("nqd"),
              c.getField("cid").as("cid"))))).as(Seq("pos", "pc")))
          .select(col("qid"), (col("pos") + 1).cast("long").as("prank"),
            col("pc.cid").as("cid")))
        // The assignment table is corpus-sized and feeds three branches
        // (cluster sizes, the coverage join, and its own build) — one
        // eager Harness.materialize builds it once (the i83/i84
        // rule); everything downstream reads the ExistingRDD.
        val assigned = Harness.materialize(assignToCentroids(emb, cent)
          .select(col("vec_id"), col("cid")))
        val sz = assigned.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
        val massCols = (1 to 8).map(d =>
          sum(when(col("prank") <= d, col("sz")).otherwise(0L)).as(s"m$d")) :+
          sum(col("sz")).as("mt")
        val massAgg = qranks.join(broadcast(sz), Seq("cid"))
          .agg(massCols.head, massCols.tail: _*)
        val ex3 = emb.crossJoin(broadcast(queries))
          .select(col("qid"), col("vec_id"),
            round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rn") <= 3).select(col("qid"), col("vec_id"))
        val hitCols = (1 to 8).map(d =>
          sum(when(col("prank") <= d, 1L).otherwise(0L)).as(s"h$d")) :+
          count(lit(1)).as("nx")
        val hitAgg = ex3.join(assigned, Seq("vec_id"))
          .join(broadcast(qranks), Seq("qid", "cid"))
          .agg(hitCols.head, hitCols.tail: _*)
        hitAgg.crossJoin(broadcast(massAgg))
          .select(explode(array((1 to 8).map(d =>
            struct(lit(d.toLong).as("nprobe"),
              expr(s"h$d * 1000000 div nx").as("coverage_ppm"),
              expr(s"m$d * 1000000 div mt").as("probed_ppm"))): _*)).as("z"))
          .select(col("z.nprobe"), col("z.coverage_ppm"), col("z.probed_ppm"))
          .orderBy("nprobe")
      },
      Some(oneLine(s"""WITH ${annBatchCteK(3)},
                 | qr AS (SELECT qid, cid,
                 |     row_number() OVER (PARTITION BY qid ORDER BY qd DESC, cid) AS prank
                 |   FROM qdot),
                 | sz AS (SELECT cid, count(*)::BIGINT AS sz FROM assigned GROUP BY cid),
                 | mass AS (SELECT qr.qid, qr.prank, sz.sz FROM qr JOIN sz USING (cid)),
                 | ${exsimsCte()},
                 | ${exactTopCte("ex3", "qid, vec_id", "exsims", 3)},
                 | exr AS (SELECT e3.qid, qr.prank FROM ex3 e3
                 |   JOIN assigned a ON e3.vec_id = a.vec_id
                 |   JOIN qr ON qr.qid = e3.qid AND qr.cid = a.cid),
                 | h AS (SELECT d.range AS d,
                 |     (SELECT count(*) FROM exr WHERE prank <= d.range) AS hits,
                 |     (SELECT sum(sz) FROM mass WHERE prank <= d.range) AS m,
                 |     (SELECT sum(sz) FROM mass) AS mt,
                 |     (SELECT count(*) FROM exr) AS nx
                 |   FROM range(1, 9) d)
                 | SELECT CAST(d AS BIGINT) AS nprobe,
                 |   ((hits * 1000000) // nx)::BIGINT AS coverage_ppm,
                 |   ((m * 1000000) // mt)::BIGINT AS probed_ppm
                 | FROM h ORDER BY nprobe"""))),

    // Reciprocal-rank FUSION — the hybrid-retrieval staple: two rankers
    // disagree (here the shipped exact scan and the shipped IVF route —
    // in production, BM25 and the vector index), RRF merges them with
    // score Σ 1/(k + rank), k = 60, rewarding documents BOTH rankers
    // surface without trusting either's score scale. Both rankings are
    // the i86 rule's SHIPPED plans; the merge is one FULL OUTER join of
    // two depth-10 lists (a doc on one list only keeps that list's
    // contribution — RRF over the union), the fused score is EXACT
    // integer (1e6 div (60+r): no float anywhere, where the textbook
    // 1/(60+r) sum would float-drift), and the fused top-3 per query is
    // a rank window whose rn≤3 pushes into WindowGroupLimit. Scale: the
    // join moves 2·|queries|·10 rows — query-batch-bounded, never the
    // corpus.
    Q("i91_rank_fusion",
      (s, dir) => {
        val (exact, ivf) = exactAndIvfTop10(t(s, dir, "embeddings"))
        exact.join(ivf, Seq("qid", "vec_id"), "full_outer")
          .withColumn("rrf",
            coalesce(expr("1000000 div (60 + xr)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + ir)"), lit(0L)))
          .withColumn("frank", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("vec_id"))))
          .filter(col("frank") <= 3)
          .select(col("qid"), col("frank").cast("long").as("frank"),
            col("vec_id"), col("rrf"))
          .orderBy("qid", "frank")
      },
      Some(oneLine(s"""WITH $exactAndIvfTop10Cte,
                 | f AS (SELECT coalesce(x.qid, i.qid) AS qid,
                 |     coalesce(x.vec_id, i.vec_id) AS vec_id,
                 |     coalesce(1000000 // (60 + x.xr), 0)
                 |       + coalesce(1000000 // (60 + i.rank), 0) AS rrf
                 |   FROM exact x FULL JOIN ivf i
                 |     ON x.qid = i.qid AND x.vec_id = i.vec_id),
                 | r AS (SELECT qid, vec_id, rrf,
                 |     row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, vec_id) AS frank
                 |   FROM f)
                 | SELECT qid, CAST(frank AS BIGINT) AS frank, vec_id, CAST(rrf AS BIGINT) AS rrf
                 | FROM r WHERE frank <= 3 ORDER BY qid, frank"""))),

    // Shingle MinHash (the shingle→minhash→band pipeline's sketch step):
    // 3-token shingles capture local word ORDER (unigram sets — i7 —
    // cannot tell "a b c" from "c b a"), then 4 seeded minhashes over the
    // distinct-shingle set. Docs under 3 tokens have no shingles and drop
    // out on both engines.
    Q("i11_shingle_minhash",
      (s, dir) => {
        // One md5 per shingle: its 32 hex chars are four independent
        // 8-char (32-bit) slices — 4× less hashing than 4 seeded md5s.
        // No distinct pass: min() is idempotent under duplicate shingles,
        // and array_distinct over ~80 strings is O(n²) per row. The
        // shingleZip explode/groupBy shape keeps both the shingle build
        // and the md5 inside whole-stage codegen (the md5 values cross
        // to the oracle, so the STRING shingle is rendered here).
        val aggs = (0 until 4).map(j =>
          min(conv(substring(col("h"), 1 + 8 * j, 8), 16, 10).cast("long")).as(s"sm$j"))
        t(s, dir, "documents")
          .select(col("doc_id"), explode(shingleZip(col("text"))).as("z"))
          .select(col("doc_id"),
            md5(concat_ws(" ", col("z.0"), col("z.1"), col("z.2"))).as("h"))
          .groupBy(col("doc_id"))
          .agg(aggs.head, aggs.tail: _*)
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH sh AS (
                 |   SELECT doc_id, md5(unnest(list_transform(range(1, len(toks)-1),
                 |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS h
                 |   FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents))
                 | SELECT doc_id,
                 |   min(('0x'||substr(h,1,8))::BIGINT) AS sm0,
                 |   min(('0x'||substr(h,9,8))::BIGINT) AS sm1,
                 |   min(('0x'||substr(h,17,8))::BIGINT) AS sm2,
                 |   min(('0x'||substr(h,25,8))::BIGINT) AS sm3
                 | FROM sh GROUP BY doc_id ORDER BY doc_id"""))),

    // n-gram (3-token shingle) Jaccard near-dup: candidate pairs share a
    // shingle AND a `source` bucket. Unlike unigrams (i2), shingles are
    // naturally discriminative — document frequency per shingle is low, so
    // the candidate equi-join stays sparse without prefix filtering
    // (568 candidates at sf0.01 vs 622k unigram ones). Order-sensitive:
    // token reshuffles destroy shingles, so this catches only true
    // near-copies.
    Q("i13_ngram_jaccard",
      (s, dir) => {
        // Shingles become xxhash64 longs BEFORE the join: the quadratic
        // equi-join shuffles 8-byte keys, not 17-char strings. The hash
        // never crosses engines — the oracle hashes with md5 on its side,
        // and the output (pairs + count-derived Jaccard) is invariant
        // under any per-engine-injective rehash — so the native 64-bit
        // xxhash64 (one codegen'd long op) replaces the
        // md5→substring→conv string chain, and it hashes the TOKEN
        // TRIPLE directly (tokens contain no spaces, so triple ↔ joined
        // string is bijective) — the string shingle is never even built.
        // Collisions (~260k shingles vs 2^64) would merge two shingles
        // on one engine only; none occur on the test corpus.
        // Distinctness lives in the post-hash groupBy's collect_set,
        // which dedups anyway.
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(shingleZip(col("text"))).as("z"))
          .select(col("doc_id"), col("source"),
            xxhash64(col("z.0"), col("z.1"), col("z.2")).as("s"))
        // Lossless prefix filter at θ=0.5 (same pigeonhole as i2): under
        // ANY one global shingle order, J ≥ 0.5 forces a shared shingle
        // inside each doc's first n - ceil(n/2) + 1 shingles. The uniform
        // md5 hash value IS such an order — no df-rank table, no global
        // sort; candidates come from prefixes, pairs verify on full sets.
        // The oracle keeps the unfiltered form (the filter is lossless).
        // Materialized once (same decision as LlmOps.nearDupPairs): the
        // shingle-set sketch feeds the prefix explode AND both verify
        // sides — uncheckpointed, each consumer re-runs the shingle
        // explode + hash + collect_set shuffle from the corpus scan.
        val docSets = Harness.materialize(sh
          .groupBy(col("doc_id"), col("source"))
          .agg(sort_array(collect_set(col("s"))).as("rks"))
          .withColumn("n_tok", size(col("rks")).cast("long")))
        LlmOps.verifyJaccard(LlmOps.candidatePairs(
          LlmOps.prefixRows(docSets, thetaTenths = 5), "source", "rk"), docSets, 0.5)
      },
      Some(oneLine("""WITH sh AS (
                 |   SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(toks)-1),
                 |     i -> ('0x'||substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),1,15))::BIGINT))) AS s
                 |   FROM (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents)),
                 | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
                 | pairs AS (
                 |   SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS inter
                 |   FROM sh a JOIN sh b
                 |     ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
                 |   GROUP BY 1, 2)
                 | SELECT doc_id1, doc_id2,
                 |   round(inter * 1.0 / (s1.n + s2.n - inter), 3) AS jaccard
                 | FROM pairs JOIN sizes s1 ON doc_id1 = s1.doc_id
                 |            JOIN sizes s2 ON doc_id2 = s2.doc_id
                 | WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5
                 | ORDER BY doc_id1, doc_id2"""))),

    // The LSH path wired END-TO-END as the declared 100 TB replacement
    // for i2: minhash signature → band-bucket equi-join → exact verify,
    // oracled against the same UNFILTERED exact SQL as i2. Banding is
    // 8 bands × 1 row (candidate iff ANY of the 8 minhash components
    // agrees): for a true J ≥ 0.9 pair the miss probability is
    // (1-J)^8 ≤ 1e-8, and the signatures (engine-internal, never
    // reproduced by an oracle) are deterministic, so on the test corpus
    // the output is EXACTLY i2's (asserted in PipelineSpec at two scale
    // factors). At scale the band value is the shuffle key — candidates
    // per bucket are bounded by bucket size, never corpus size. The
    // signatures derive FROM the checkpointed set sketch (mh_j = min of
    // the seeded rehash xxhash64(j, rk) over the stored token hashes) —
    // hashing a uniform hash preserves the minhash independence
    // argument, and the corpus is tokenized exactly ONCE for the whole
    // pipeline instead of once for the sketch and again for the
    // signature pass.
    Q("i14_lsh_dedup_e2e",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // Verify consumes the set sketch twice (both join sides) and the
        // signature build once more — materialized once, as in
        // LlmOps.nearDupPairs.
        val sets = Harness.materialize(LlmOps.hashedTokenSets(docs))
        // Band build factored into minhashBands (narrow per-row folds,
        // NOT explode+groupBy — the i14 trade: short in-row HOFs over
        // the materialized hash array beat re-exploding the corpus
        // through another hash Exchange; measured fastest of three
        // forms at sf0.1).
        LlmOps.verifyJaccard(
          LlmOps.candidatePairs(minhashBands(sets), "b", "v", "source"), sets, 0.9)
      },
      Some(LlmOps.exactNearDupOracle)),

    // Duplicate-SPAN dedup — the substring-level modality (see
    // duplicateSpans): repeated ≥5-token spans inside otherwise-distinct
    // docs, emitted as per-doc maximal token ranges. The dup-heavy
    // fixture makes it non-vacuous at every SF (near-dup docs share
    // long runs; distinct docs still share boilerplate-like gram
    // repeats). The oracle re-runs the same count-marker + islands SQL
    // over raw string grams.
    Q("i35_span_dedup",
      (s, dir) => duplicateSpans(t(s, dir, "documents"))
        .orderBy("doc_id", "span_start"),
      Some(oneLine(s"""WITH $gramsCte,
                 | d AS (SELECT doc_id, pos FROM (
                 |     SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM g)
                 |   WHERE c >= 2),
                 | fl AS (SELECT doc_id, pos,
                 |     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
                 |          THEN 0 ELSE 1 END AS newi
                 |   FROM d),
                 | isl AS (SELECT doc_id, pos,
                 |     sum(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 |   FROM fl)
                 | SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
                 |   max(pos) - min(pos) + 5 AS n_tokens, count(*) AS n_grams
                 | FROM isl GROUP BY doc_id, island
                 | ORDER BY doc_id, span_start"""))),

    // Span-dedup APPLY — the excision step completing i35's find step
    // (the i15→i18 find/apply pattern at sub-document granularity):
    // every REPEAT occurrence of a corpus-duplicated ≥5-token gram is
    // excised and the globally-FIRST occurrence kept (dedup removes
    // repeats, not all copies — the boilerplate survives once), emitting
    // per-doc cleaned text + removal counts. "First" is the (doc_id,
    // pos) row_number over each gram's occurrences — repeats are rn ≥ 2,
    // which also subsumes the count ≥ 2 test (a unique gram IS its own
    // first). Scale: the gram window shuffles (8-byte hash, doc_id,
    // pos) triples partitioned BY GRAM (never a global sort); covered
    // token positions explode from repeat grams only; the text
    // reassembly is the one inherently per-doc gather — an anti-join on
    // (doc_id, tp) and a per-doc sorted collect bounded by doc length,
    // partitioned by doc_id.
    Q("i40_span_excise",
      (s, dir) => spanExcise(t(s, dir, "documents")).orderBy("doc_id"),
      Some(spanExciseOracle(""))),

    // INTRA-doc repeated-segment excision — the Gopher/C4 cleanup rule
    // the cross-doc span ops (i35/i40) don't cover: a doc repeating its
    // own boilerplate keeps only the FIRST occurrence of each segment.
    // The doc splits into non-overlapping 2-token windows (the
    // line/paragraph stand-in at this fixture's granularity); segment j
    // survives iff its first occurrence IS j (array_position — both
    // engines define it as first match), so the kept list is order-
    // stable without relying on either engine's list_distinct ordering.
    // Entirely ROW-LOCAL higher-order functions — the whole operator is
    // a narrow map over the corpus scan (the i54 rule): zero joins,
    // zero hash shuffles at any corpus size; per-doc cost is O(s²) in
    // the doc's OWN segment count (bounded by doc length, not corpus).
    // Output fingerprints the cleaned text (md5 of the kept join) so a
    // delivery step can verify the excision without shipping text.
    Q("i89_intradoc_excise",
      (s, dir) => intradocExcise(t(s, dir, "documents")).orderBy("doc_id"),
      Some(oneLine("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
                 | s AS (SELECT doc_id, list_transform(range(0, (len(toks) + 1) // 2),
                 |     i -> array_to_string(toks[i*2+1 : i*2+2], ' ')) AS segs FROM t),
                 | k AS (SELECT doc_id, segs,
                 |     list_filter(segs, (sg, j) -> list_position(segs, sg) = j) AS kept
                 |   FROM s)
                 | SELECT doc_id, len(segs)::BIGINT AS n_seg,
                 |   len(kept)::BIGINT AS n_kept,
                 |   md5(array_to_string(kept, ' ')) AS kept_fp
                 | FROM k ORDER BY doc_id"""))),

    // INCREMENTAL span dedup — the ingest form completing the span
    // family's lifecycle symmetry with the exact (i1/i18/i25) and
    // near (i2/i14/i36) families: a new batch (doc_id ≥ 400) excises
    // against the PERSISTED corpus gram set — no corpus text recompute,
    // only its distinct 8-byte gram hashes — plus a within-batch
    // keep-first window over batch occurrences alone. Because every
    // corpus occurrence precedes every batch one, (corpus-present OR
    // earlier-in-batch) is EXACTLY the global rn ≥ 2 rule restricted
    // to batch docs: the oracle is i40's global SQL restricted to the
    // batch, and PipelineSpec pins incremental ≡ global-restricted as
    // a two-route law. Scale: the screen moves batch gram hashes
    // against the corpus gram set (semi-join on the 8-byte key, ids
    // only); the window sees batch-only occurrences; reassembly
    // touches batch docs only. The streaming twin reproduces the
    // marked set via a stream-static corpus flag + gram-keyed min
    // state (SpanDedupStream).
    Q("i41_span_dedup_incremental",
      (s, dir) => spanExciseIncremental(t(s, dir, "documents"), 400)
        .orderBy("doc_id"),
      Some(spanExciseOracle("\n | WHERE sz.doc_id >= 400"))),

    // Train↔eval CONTAMINATION screening — the leakage check a training
    // pipeline runs before any benchmark claim: for every train doc, the
    // fraction of its 3-token shingles that appear ANYWHERE in the eval
    // set (containment, not Jaccard — a 50-token eval prompt buried in a
    // 10k-token train doc is still leakage). The eval side is collapsed
    // to ONE distinct shingle set and broadcast — benchmark suites are
    // tiny next to a 100 TB corpus, so the probe is a broadcast hash
    // join against every train shingle, no shuffle of the corpus side
    // and no pair explosion. Shingles are engine-internal xxhash64 longs
    // (the i13 rule: counts are hash-invariant); the oracle joins raw
    // shingle strings. Eval set here: doc_id < 50, a deterministic
    // stand-in for a real benchmark list.
    Q("i19_contamination",
      (s, dir) => {
        // Same engine-internal triple hash as i13 — the string shingle
        // is never built (shingleZip: codegen'd zip/slice, no HOF).
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), explode(shingleZip(col("text"))).as("z"))
          .select(col("doc_id"),
            xxhash64(col("z.0"), col("z.1"), col("z.2")).as("sh"))
          .distinct()
        val evalSh = sh.filter(col("doc_id") < 50).select(col("sh")).distinct()
        val trainSh = sh.filter(col("doc_id") >= 50)
        // ONE pass over the train side: the broadcast eval set left-joins
        // a `hit` marker onto every train shingle, and a single
        // groupBy(doc_id) computes size and shared-count together — the
        // two-aggregation form evaluated the whole trainSh subtree
        // (explode + distinct shuffle over the corpus) twice.
        val containment = col("n_shared") / col("n_sh")
        trainSh
          .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("sh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_shared"))
          .filter(containment >= 0.2)
          .select(col("doc_id"), col("n_shared"),
            round(containment, 3).as("containment"))
          .orderBy("doc_id")
      },
      Some(contaminationOracle)),

    // Embedding-similarity dedup machinery, label-bucketed: all pairs
    // WITHIN a label bucket (never across the corpus), cosine in
    // index-ordered double, top-5 pairs per label by (rounded sim, ids).
    // Bucket size is data-dependent, so a hot label salts (labelPairs):
    // above the threshold its self-join spreads over 16 salt buckets —
    // the quadratic term is bounded per TASK, not just per label.
    // On near-orthogonal synthetic vectors a fixed threshold returns
    // nothing, so the op ranks instead — same join/bucket shape a real
    // near-dup threshold would use.
    Q("i12_embed_pair_sim",
      (s, dir) => {
        val pairs = labelPairs(t(s, dir, "embeddings"))
          .select(col("label"), col("i"), col("j"),
            round(VectorFunctions.dot(col("ea"), col("eb")), 3).as("sim"))
        pairs.withColumn("rn", row_number().over(
            Window.partitionBy(col("label"))
              .orderBy(col("sim").desc, col("i"), col("j"))))
          .filter(col("rn") <= 5)
          .select(col("label"), col("i"), col("j"), col("sim"))
          .orderBy("label", "i", "j")
      },
      Some(oneLine("""WITH prod AS (
                 |   SELECT a.label, a.vec_id AS i, b.vec_id AS j,
                 |     unnest(a.embedding)::DOUBLE * unnest(b.embedding)::DOUBLE AS p
                 |   FROM embeddings a JOIN embeddings b
                 |     ON a.label = b.label AND a.vec_id < b.vec_id),
                 | sims AS (SELECT label, i, j, round(sum(p), 3) AS sim
                 |          FROM prod GROUP BY label, i, j),
                 | ranked AS (SELECT label, i, j, sim,
                 |   row_number() OVER (PARTITION BY label ORDER BY sim DESC, i, j) AS rn
                 |   FROM sims)
                 | SELECT label, i, j, sim FROM ranked WHERE rn <= 5
                 | ORDER BY label, i, j"""))),

    // The curation pipeline COMPOSED end-to-end in one declarative plan:
    // language filter → quality score ≥ θ (the shared j2 formula on the
    // ROUNDED value, so the boundary compare is the bit-identical double
    // both engines already hash-match in j2) → exact dedup (min doc_id
    // per md5 fingerprint) → deterministic split assignment (i16 bands).
    // This is the "a user can run their whole preprocessing job as one
    // query" claim made real: Catalyst fuses the narrow stages into one
    // codegen pass over the scan; the only shuffles are the dedup
    // window's hash partition (on the 16-byte fingerprint, after the
    // filters have already dropped non-surviving rows) and the output
    // sort. Filter-before-fingerprint matters at 100 TB: quality and
    // language cuts run scan-side, so the dedup shuffle moves only the
    // surviving fraction of the corpus.
    Q("i17_curation_e2e",
      (s, dir) =>
        curationCandidates(t(s, dir, "documents"))
          .withColumn("rn",
            row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("quality"),
            LlmOps.splitBand(LlmOps.splitBucket).as("split"))
          .orderBy("doc_id"),
      Some(oneLine(s"""WITH q AS (
                 |   SELECT doc_id, text,
                 |     round(least(n_tok/100.0, 1.0)*0.4 + (n_uniq/n_tok)*0.3 + (1.0 - n_stop/n_tok)*0.3, 3) AS quality
                 |   FROM (SELECT doc_id, text,
                 |     ${LlmOps.tokStatCols}
                 |    FROM documents WHERE lang = 'en')),
                 | f AS (SELECT doc_id, quality, md5(text) AS fp FROM q WHERE quality >= 0.64),
                 | d AS (SELECT doc_id, quality,
                 |   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
                 | SELECT doc_id, quality,
                 |   CASE WHEN ('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 80 THEN 'train'
                 |        WHEN ('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 90 THEN 'validation'
                 |        ELSE 'test' END AS split
                 | FROM d WHERE rn = 1 ORDER BY doc_id"""))),

    // Multimodal binary column: the document payload as real `binary`
    // bytes with typed metadata extracted by a (deterministic, stubbed)
    // decoder — the schema/partitioning/batch plumbing is real; only the
    // codec is fake (no media libs in this environment). The typed
    // mapPartitions twin of this decode lives in PipelineOps.decodeMeta
    // and is asserted equal in PipelineSpec.
    Q("m1_multimodal_meta",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
            conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long").as("h"))
          .select(col("doc_id"),
            length(col("payload")).cast("long").as("n_bytes"),
            (lit(16) + col("h") % 240).cast("long").as("width"),
            (lit(16) + expr("h div 240") % 240).cast("long").as("height"),
            when(col("h") % 3 === 0, "png")
              .when(col("h") % 3 === 1, "jpeg").otherwise("webp").as("fmt"))
          .orderBy("doc_id"),
      Some(oneLine("""SELECT doc_id,
                 | octet_length(text::BLOB)::BIGINT AS n_bytes,
                 | (16 + h % 240)::BIGINT AS width,
                 | (16 + (h // 240) % 240)::BIGINT AS height,
                 | CASE WHEN h % 3 = 0 THEN 'png' WHEN h % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS fmt
                 | FROM (SELECT doc_id, text, ('0x'||substr(md5(text),1,4))::BIGINT AS h FROM documents)
                 | ORDER BY doc_id"""))),

    // The m2 feature path made ORACLE-CHECKABLE: stub features for every
    // doc through the real typed-Dataset mapPartitions plumbing, then
    // cosine top-10 against doc 0's vector via the i3 broadcast shape —
    // the media-embedding stage itself is hash-checked, not just
    // ScalaTest'd. Features divide bin counts in double and round ONCE
    // to float, so the oracle reproduces the stored bits with
    // CAST(count/len AS FLOAT); both engines then rank the same rounded
    // cosine with a doc_id tie-break (byte histograms of homogeneous
    // text tie heavily at 1.000 — the tie-break carries the ordering).
    Q("m2_feature_topk",
      (s, dir) => {
        import s.implicits._
        def payloads = t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          // Empty payloads have an all-zero feature vector (0/0 cosine =
          // NaN, which desc-sorts FIRST); both engines exclude them.
          .filter(length(col("payload")) > 0)
          .as[(Long, Array[Byte])]
        val feats = extractFeatures(payloads).toDF()
        // Query features from a PRE-FILTERED scan: the doc_id predicate
        // pushes into parquet, so the corpus-wide encoder runs once, not
        // once per branch (with a real accelerator-batched encoder the
        // second full pass would double the dominant stage).
        val qv = extractFeatures(payloads.filter(col("doc_id") === 0))
          .toDF().select(col("features").as("qf"))
        feats.crossJoin(broadcast(qv))
          .select(col("doc_id"),
            round(VectorFunctions.cosine(col("features"), col("qf")), 3).as("sim"))
          .orderBy(col("sim").desc, col("doc_id")).limit(10)
      },
      // Byte-exact oracle for ANY content (not just ASCII): hex() spells
      // each byte as two hex digits, and the HIGH nibble — hex char at
      // position 2i+1 — IS the 16-bin histogram bin. Docs sharing no bin
      // with doc 0 keep sim 0 via the LEFT join, matching Spark's dense
      // vectors.
      Some(oneLine("""WITH hx AS (SELECT doc_id, hex(text::BLOB) AS h, octet_length(text::BLOB) AS n
                 |   FROM documents WHERE octet_length(text::BLOB) > 0),
                 | ch AS (SELECT doc_id,
                 |     unnest(list_transform(range(0, n), i -> substr(h, 2*i+1, 1))) AS nib
                 |   FROM hx),
                 | f AS (SELECT doc_id, ('0x'||nib)::INT AS bin, count(*)::BIGINT AS c
                 |   FROM ch GROUP BY 1, 2),
                 | fv AS (SELECT f.doc_id, bin,
                 |     CAST(CAST(CAST(c AS DOUBLE) / hx.n AS FLOAT) AS DOUBLE) AS v
                 |   FROM f JOIN hx ON f.doc_id = hx.doc_id),
                 | norms AS (SELECT doc_id, sqrt(sum(v*v)) AS nm FROM fv GROUP BY doc_id),
                 | q0 AS (SELECT nm AS nm0 FROM norms WHERE doc_id = 0),
                 | dots AS (SELECT a.doc_id, sum(a.v * q.v) AS d
                 |   FROM fv a JOIN (SELECT bin, v FROM fv WHERE doc_id = 0) q USING (bin)
                 |   GROUP BY a.doc_id)
                 | SELECT na.doc_id, round(coalesce(d.d, 0) / (na.nm * q0.nm0), 3) AS sim
                 | FROM norms na CROSS JOIN q0 LEFT JOIN dots d ON na.doc_id = d.doc_id
                 | ORDER BY sim DESC, na.doc_id LIMIT 10"""))),

    // One Lloyd refinement step for the IVF codebook — the "training"
    // that i10/i20's deterministic stub codebook (vec_id<8) stands in
    // for: assign every vector to its nearest centroid (the shuffle-free
    // broadcast-array argmax, assignToCentroids), then recompute each
    // centroid as its members' element-wise mean. Output is (cid, pos,
    // n_members, cmean) rows, not float arrays (the output contract
    // forbids raw float-array columns), ordered totally.
    //
    // Determinism (§7 H2): a grouped SUM of doubles is summation-order-
    // dependent, so the mean is computed over MICRO-QUANTIZED elements —
    // round(v·1e6) as int64 — whose sum is exact and order-free in both
    // engines (≤3.3e13 per group, far under 2^63); one double division
    // at the end is a single IEEE op on identical operands. The same
    // trick as "decimal internal, double output", in integer clothes.
    //
    // Scale: assignment never shuffles; posexplode fans dim× narrow
    // (cid, pos, long) rows that partial-aggregate map-side, so the only
    // shuffle carries ≤ k·dim·partitions partial rows — independent of
    // corpus size. Iterating = re-running with the emitted codebook;
    // each step is one linear pass (the loop belongs to the caller, like
    // i15's contraction rounds).
    Q("i23_kmeans_step",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cent = stubCodebook(emb, ivfParams.k)
        assignToCentroids(emb, cent)
          .select(col("cid"), posexplode(col("embedding")))
          .select(col("cid"), col("pos").cast("long").as("pos"),
            round(col("col").cast("double") * 1e6).cast("long").as("vq"))
          .groupBy(col("cid"), col("pos"))
          .agg(count(lit(1)).as("n_members"), sum(col("vq")).as("sq"))
          .select(col("cid"), col("pos"), col("n_members"),
            round(col("sq").cast("double") / col("n_members") / 1e6, 6).as("cmean"))
          .orderBy("cid", "pos")
      },
      Some(oneLine(s"""WITH ${centroidAssignCte()},
                 | ${quantRowsCte("px", "embeddings", "assigned")}
                 | SELECT cid, pos, count(*)::BIGINT AS n_members,
                 |   round(sum(vq)::DOUBLE / count(*) / 1e6, 6) AS cmean
                 | FROM px GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // The TRAINED codebook under the oracle — two UNROLLED Lloyd steps
    // (i23 is one step; trainCodebook loops the same step to a
    // fixpoint, which no SQL oracle can follow because the round count
    // is data-dependent): step 1 assigns against the stub codebook and
    // produces the quantized-mean codebook (mq/1e6 rounded ONCE to
    // float, the exact lloydCodebook arithmetic; empty clusters keep
    // their stub centroid via the left-join coalesce), step 2 assigns
    // against THAT codebook and emits the round-2 quantized means —
    // every stage a deterministic CTE DuckDB reproduces. The oracle
    // thereby checks the training loop's moving parts (re-assignment
    // against a derived codebook, float re-quantization, empty-cluster
    // carry-through), not just one refinement. The emitted element is
    // cmean_q — the MICRO-QUANTIZED integer round(mean(round(v·1e6))),
    // exactly what lloydCodebook stores — because a 6dp double here can
    // land on a .5 tie that is not binary-representable: Spark's round
    // (BigDecimal.valueOf = shortest-decimal) rounds it up while DuckDB
    // (raw double bits) rounds down — observed one ulp apart at
    // sf0.001. Integer-boundary ties ARE exactly representable, so
    // round-half-away agrees cross-engine (the i27 integer-exact rule).
    // Scale = 2× the i23 cost: two linear corpus passes, each shuffling
    // ≤ k·dim·partitions quantized partials; the intermediate codebook
    // is a k-row aggregate that broadcasts.
    Q("i23b_kmeans_2step",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val c0 = stubCodebook(emb, ivfParams.k)
        // One-step codebook materialized once: the two-stage broadcast
        // assignment references it per stage, re-running the corpus
        // means pass each time when left as a live subtree (guide §2.4).
        val c1 = Harness.materialize(lloydCodebook(lloydQuantMeans(emb, c0), c0))
        assignToCentroids(emb, c1)
          .select(col("cid"), posexplode(col("embedding")))
          .select(col("cid"), col("pos").cast("long").as("pos"),
            round(col("col").cast("double") * 1e6).cast("long").as("vq"))
          .groupBy(col("cid"), col("pos"))
          .agg(count(lit(1)).as("n_members"), sum(col("vq")).as("sq"))
          .select(col("cid"), col("pos"), col("n_members"),
            round(col("sq").cast("double") / col("n_members")).cast("long").as("cmean_q"))
          .orderBy("cid", "pos")
      },
      Some(oneLine(s"""WITH ${lloydStepCte("embeddings")},
                 | ${cent1AssignCte("adot2", "assigned2", "embeddings")},
                 | ${quantRowsCte("px2", "embeddings", "assigned2")}
                 | SELECT cid, pos, count(*)::BIGINT AS n_members,
                 |   round(sum(vq)::DOUBLE / count(*))::BIGINT AS cmean_q
                 | FROM px2 GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Symmetric int8 quantization of the embedding column — the 4×
    // storage/bandwidth step an ANN index runs before sharding (float32
    // corpus → int8 codes + one scale per vector): q_i =
    // round(v_i/amax·127), dequantized error tracked exactly. All float
    // arithmetic is pinned to one operand order and the outputs are
    // INTEGER-EXACT: an order-sensitive weighted checksum Σ q_i·(i+1)
    // proves the whole code vector matches without emitting an array
    // (§7 H4), and the reconstruction error ships as the micro-quantized
    // long Σ round(err²·1e12) (the i23 rule — order-free exact sums).
    // Scale: amax is a narrow per-row fold (no shuffle); the per-vector
    // aggregate partial-aggregates map-side because a vector's elements
    // never leave their row — the one shuffle carries 5 longs per
    // vector.
    Q("i27_embed_quantize",
      (s, dir) => {
        val el = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            array_max(transform(col("embedding"), v => abs(v.cast("double"))))
              .as("amax"))
          .select(col("vec_id"), col("amax"), posexplode(col("embedding")))
          .select(col("vec_id"), col("amax"), col("pos"),
            col("col").cast("double").as("v"))
          .withColumn("q", when(col("amax") === 0d, lit(0L))
            .otherwise(round(col("v") / col("amax") * 127).cast("long")))
        val err = col("v") - col("q") * col("amax") / 127.0
        el.groupBy(col("vec_id"))
          .agg(
            count(lit(1)).as("n_dims"),
            sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_sat"),
            sum(col("q") * (col("pos") + 1)).as("qchk"),
            sum(round(err * err * 1e12).cast("long")).as("e2sum"),
            round(max(col("amax")), 6).as("amax6"))
          .orderBy("vec_id")
      },
      Some(oneLine("""WITH am AS (
                 |   SELECT vec_id, embedding,
                 |     list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
                 |   FROM embeddings),
                 | px AS (
                 |   SELECT vec_id, amax,
                 |     unnest(range(0, len(embedding))) AS pos,
                 |     unnest(list_transform(range(0, len(embedding)),
                 |       i -> embedding[i + 1]::DOUBLE)) AS v
                 |   FROM am),
                 | qx AS (
                 |   SELECT vec_id, amax, pos, v,
                 |     CASE WHEN amax = 0 THEN 0
                 |          ELSE round(v / amax * 127)::BIGINT END AS q
                 |   FROM px)
                 | SELECT vec_id,
                 |   count(*)::BIGINT AS n_dims,
                 |   sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END)::BIGINT AS n_sat,
                 |   sum(q * (pos + 1))::BIGINT AS qchk,
                 |   sum(round((v - q * amax / 127.0) * (v - q * amax / 127.0) * 1e12)::BIGINT)::BIGINT AS e2sum,
                 |   round(max(amax), 6) AS amax6
                 | FROM qx GROUP BY vec_id ORDER BY vec_id"""))),

    // PRODUCT quantization — the actual 100 TB ANN memory story past
    // i27's scalar int8 (4×): each vector splits into 4 independent
    // 16-dim blocks, each block maps to one of k=8 per-block centroids
    // (stub codebook refined by ONE unrolled L2 Lloyd step — the i23b
    // rule: a fixed, SQL-reproducible training slice; the iterated loop
    // is pqTrainCodebook, PipelineSpec pins its error descent), and a
    // vector stores 4 code ids — 64 floats → 4 bytes. Assignment is
    // L2 argmin (sub-blocks are not unit vectors, so the IVF dot
    // argmax is the wrong metric), inline over the broadcast per-block
    // codebooks — zero corpus shuffle. Outputs are the i27
    // integer-exact contract: the 4 code columns prove the code vector,
    // e2sum = Σ round(err²·1e12) proves the reconstruction without
    // emitting arrays. The only shuffle is the per-vector pivot over
    // nBlocks narrow rows.
    Q("i37_pq_quantize",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val sub = pqBlocks(emb, nBlocks = 4, blockDim = 16)
        // Trained codebook materialized once (the i44/i43 rule):
        // pqQuantize references it on both the assign and reconstruction
        // sides, and uncheckpointed the one-step Lloyd training re-ran
        // per reference (guide §2.4).
        val cent = Harness.materialize(pqTrainStep(sub, pqStubCodebook(sub, ivfParams.k)))
        pqQuantize(sub, cent, nBlocks = 4).orderBy("vec_id")
      },
      Some(oneLine(s"""WITH $pqCte,
                 | ${pqCodesCte("sub", "c1")}
                 | SELECT c.vec_id, code0, code1, code2, code3, e.e2sum
                 | FROM codes c JOIN erra e ON c.vec_id = e.vec_id
                 | ORDER BY c.vec_id"""))),

    // ADC search over the PQ codes — the read path that makes i37's 64×
    // compression usable: the query's sub-blocks precompute a tiny
    // (nBlocks × k) lookup table of L2 distances to every per-block
    // centroid, and each stored vector's approximate distance is the
    // SUM of 4 table lookups — the classic asymmetric distance
    // computation, no stored vector is ever reconstructed. Scale: the
    // LUT is 32 rows and broadcasts; the per-(vector, block) code rows
    // join it map-side, and the only shuffle is the per-vector 4-row
    // sum pivot (the pqQuantize shuffle); top-20 is a
    // TakeOrderedAndProject over (vec_id, adc_q) pairs. Distances are
    // micro-quantized longs (round(d2·1e6), the i23/i27 rule) so the
    // 4-way sum is order-free integer arithmetic in both engines;
    // ranking ties break on vec_id. PipelineSpec pins ADC top-20
    // recall against the exact-L2 brute-force top-20.
    Q("i39_ann_pq_adc",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val sub = Harness.materialize(pqBlocks(emb, nBlocks = 4, blockDim = 16))
        // Trained codebook materialized once (the i44/i43 rule) — it
        // feeds both the code assignment and the broadcast LUT below.
        val cent = Harness.materialize(pqTrainStep(sub, pqStubCodebook(sub, ivfParams.k)))
        val codes = pqAssign(sub, cent).select(col("vec_id"), col("b"), col("cid"))
        val qsub = sub.filter(col("vec_id") === 0)
          .select(col("b"), col("sub").as("qv"))
        val lut = cent.join(qsub, Seq("b"))
          .select(col("b"), col("cid"),
            round(round(VectorFunctions.l2sq(col("qv"), col("cemb")), 6) * 1e6)
              .cast("long").as("d2q"))
        codes.join(broadcast(lut), Seq("b", "cid"))
          .filter(col("vec_id") =!= 0)
          .groupBy(col("vec_id"))
          .agg(sum(col("d2q")).as("adc_q"))
          .orderBy(col("adc_q"), col("vec_id")).limit(20)
      },
      Some(oneLine(s"""WITH $pqCte,
                 | $pqLutCte
                 | SELECT a.vec_id, sum(l.d2q)::BIGINT AS adc_q
                 | FROM assign2 a JOIN lutp l ON a.b = l.b AND a.cid = l.cid
                 | WHERE a.vec_id <> 0
                 | GROUP BY 1 ORDER BY adc_q, vec_id LIMIT 20"""))),

    // IVF-PQ search — the two compressions COMPOSED into the standard
    // production ANN index shape (coarse quantizer routes, product
    // quantizer ranks): the query routes to its nprobe=2 nearest coarse
    // centroids (i20's shuffle-free inline routing), and only vectors
    // ASSIGNED to those clusters rank by the ADC lookup-table sum
    // (i39's read path) — the index never touches (corpus/k)·(k−nprobe)
    // of the codes. Scale: coarse assignment and PQ codes are the two
    // persisted index tables; the probe list and the (4×8) LUT
    // broadcast; the only corpus-sized moves are the probe-filter
    // semi-join and the 4-row ADC pivot, both keyed on vec_id and both
    // carrying ids + integer codes only. Distances are the i39
    // micro-quantized longs; top-10 is a TakeOrderedAndProject.
    Q("i42_ann_ivf_pq",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val coarse = stubCodebook(emb, ivfParams.k)
        val assigned = assignToCentroids(emb, coarse)
          .select(col("vec_id"), col("cid"))
        val sub = Harness.materialize(pqBlocks(emb, nBlocks = 4, blockDim = 16))
        // Trained codebook materialized once (the i44/i43 rule) — it
        // feeds both the code assignment and the broadcast LUT below.
        val cent = Harness.materialize(pqTrainStep(sub, pqStubCodebook(sub, ivfParams.k)))
        val codes = pqAssign(sub, cent)
          .select(col("vec_id"), col("b"), col("cid").as("pcid"))
        ivfPqSearch(emb, coarse, cent, assigned, codes)
      },
      Some(oneLine(s"""WITH ${centroidAssignCte()},
                 | q0 AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
                 | qdot AS (
                 |   SELECT cid, round(sum(p), 6) AS qd
                 |   FROM (SELECT c.cid,
                 |           unnest(q0.qemb)::DOUBLE * unnest(c.cemb)::DOUBLE AS p
                 |         FROM q0, cent c)
                 |   GROUP BY 1),
                 | probes AS (SELECT cid FROM (
                 |     SELECT cid, row_number() OVER (ORDER BY qd DESC, cid) AS rn
                 |     FROM qdot) WHERE rn <= 2),
                 | $pqCte,
                 | $pqLutCte,
                 | adc AS (
                 |   SELECT a.vec_id, sum(l.d2q)::BIGINT AS adc_q
                 |   FROM assign2 a JOIN lutp l ON a.b = l.b AND a.cid = l.cid
                 |   WHERE a.vec_id <> 0 GROUP BY 1)
                 | SELECT adc.vec_id, adc_q FROM adc
                 |   JOIN assigned s ON s.vec_id = adc.vec_id
                 |   JOIN probes p ON s.cid = p.cid
                 | ORDER BY adc_q, adc.vec_id LIMIT 10"""))),

    // ANN index INGEST — the lifecycle gap closer (see annIndexIngest):
    // new vectors (vec_id ≥ 400, the i25 batch convention) route
    // against the coarse codebook and PQ-encode against the per-block
    // codebooks, both trained on the CORPUS side only (vec_id < 400) —
    // no retrain on ingest, the production index contract. Both
    // training slices are the fixed one-Lloyd-step forms the i23b/i37
    // oracles already reproduce, composed here over the corpus
    // restriction. Outputs are the i37 integer-exact contract: coarse
    // cid, 4 code ids, Σ round(err²·1e12) reconstruction checksum.
    // Scale: corpus contributes only its trained codebooks (broadcast);
    // the batch side is shuffle-free inline argmax/argmin plus the one
    // per-vector nBlocks-row pivot. The streaming twin (StreamingSpec)
    // runs the same encode stateless per micro-batch.
    Q("i43_ann_index_ingest",
      (s, dir) => annIndexIngest(t(s, dir, "embeddings"), 400)
        .orderBy("vec_id"),
      Some(oneLine(s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
                 | batchv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 400),
                 | ${lloydStepCte("corpus")},
                 | ${cent1AssignCte("bdot", "routed", "batchv")},
                 | blocks AS (SELECT unnest(range(0, 4)) AS b),
                 | ${pqSubCte("subc", "corpus")},
                 | ${pqSubCte("subb", "batchv")},
                 | ${pqTrainCte("p", "subc", "subb")},
                 | ${pqCodesCte("subb", "pc1")}
                 | SELECT r.vec_id, r.cid, code0, code1, code2, code3, e.e2sum
                 | FROM routed r JOIN codes c ON r.vec_id = c.vec_id
                 |   JOIN erra e ON r.vec_id = e.vec_id
                 | ORDER BY r.vec_id"""))),

    // BATCH ADC — i39's single-query read path given the i20 lift (see
    // annPqBatch): all 20 queries' LUTs are ONE broadcast
    // (qid, b, cid, d2q) integer table; codes join it map-side; the
    // only shuffles are the per-(qid, vec_id) 4-row sum and the
    // per-qid top-10 window over narrow triples (PlanSpec pins exactly
    // those two hash Exchanges, the i20 counting rule). Oracle = the
    // i39 training/assignment CTE chain + a qid-keyed LUT; the 4-way
    // sum is order-free integer arithmetic in both engines.
    Q("i44_ann_pq_batch",
      (s, dir) => annPqBatch(t(s, dir, "embeddings"),
          ivfParams.nQueries, topK = 10)
        .orderBy("qid", "rank"),
      Some(oneLine(s"""WITH $pqCte,
                 | qsub AS (SELECT vec_id AS qid, b, sv AS qv FROM sub WHERE vec_id < 20),
                 | lutp AS (
                 |   SELECT qid, b, cid, round(round(sum(p), 6) * 1e6)::BIGINT AS d2q
                 |   FROM (SELECT q.qid, c.b AS b, c.cid,
                 |           unnest(list_transform(range(1, len(q.qv) + 1),
                 |             i -> (q.qv[i]::DOUBLE - c.cemb[i]::DOUBLE)
                 |                * (q.qv[i]::DOUBLE - c.cemb[i]::DOUBLE))) AS p
                 |         FROM c1 c JOIN qsub q ON c.b = q.b)
                 |   GROUP BY 1, 2, 3),
                 | sums AS (
                 |   SELECT l.qid, a.vec_id, sum(l.d2q)::BIGINT AS adc_q
                 |   FROM assign2 a JOIN lutp l ON a.b = l.b AND a.cid = l.cid
                 |   WHERE a.vec_id <> l.qid
                 |   GROUP BY 1, 2),
                 | ranked AS (
                 |   SELECT qid, vec_id, adc_q,
                 |     row_number() OVER (PARTITION BY qid ORDER BY adc_q, vec_id) AS rank
                 |   FROM sums)
                 | SELECT qid, rank::BIGINT AS rank, vec_id, adc_q FROM ranked
                 | WHERE rank <= 10 ORDER BY qid, rank"""))),

    // Ingest-time near-dup SCREEN — the optional arm of the i43 ingest
    // (see annIngestScreen): arrivals route to their coarse cluster and
    // compare only against that cluster's INDEXED corpus vectors; a
    // cosine ≥ 0.4 match (the i29 θ) marks the arrival kept=0 with its
    // best corpus match. Oracle: the shared centroid-assignment CTE
    // split at the 400 boundary + per-pair rounded dots.
    Q("i46_ann_ingest_screen",
      (s, dir) => annIngestScreen(t(s, dir, "embeddings"), 400, 0.4)
        .orderBy("vec_id"),
      Some(oneLine(s"""WITH ${centroidAssignCte()},
                 | corpus AS (SELECT a.cid, a.vec_id AS cvid, e.embedding AS cemb
                 |   FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
                 |   WHERE a.vec_id < 400),
                 | batch AS (SELECT a.vec_id, a.cid, e.embedding
                 |   FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
                 |   WHERE a.vec_id >= 400),
                 | psim AS (
                 |   SELECT vec_id, cvid, round(sum(p), 3) AS sim
                 |   FROM (SELECT b.vec_id, c.cvid,
                 |           unnest(b.embedding)::DOUBLE * unnest(c.cemb)::DOUBLE AS p
                 |         FROM batch b JOIN corpus c ON b.cid = c.cid)
                 |   GROUP BY 1, 2),
                 | hits AS (SELECT vec_id, cvid, sim FROM psim WHERE sim >= 0.4),
                 | best AS (SELECT vec_id, cvid FROM (
                 |     SELECT vec_id, cvid,
                 |       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cvid) AS rn
                 |     FROM hits) WHERE rn = 1),
                 | cnt AS (SELECT vec_id, count(*) AS n_matches FROM hits GROUP BY 1)
                 | SELECT b.vec_id, b.cid,
                 |   coalesce(c.n_matches, 0)::BIGINT AS n_matches,
                 |   coalesce(t.cvid, -1)::BIGINT AS match_id,
                 |   (CASE WHEN c.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept
                 | FROM batch b LEFT JOIN cnt c ON b.vec_id = c.vec_id
                 |   LEFT JOIN best t ON b.vec_id = t.vec_id
                 | ORDER BY b.vec_id"""))),

    // Inter-source duplication AUDIT — the corpus-assembly diagnostic a
    // mixture designer runs before setting i21/i34 rates: for every
    // source pair, how much shingle-level content do they share?
    // (Crawl snapshots, mirrored sites, and re-crawled domains show up
    // as high-Jaccard source pairs; the per-pair numbers decide which
    // sources merge or get down-weighted.) One corpus shuffle total:
    // the 3-token shingle stream groups by its 8-byte hash with a
    // map-side-combined collect_set(source) whose size is bounded by
    // the source count (not the corpus), then per-source distinct
    // totals and all ordered source pairs derive from that grouped
    // table with NO second corpus pass (pair expansion is an in-row
    // transform over the ≤|sources| set; output is ≤ |sources|² rows).
    // Integer counts + one final rounded division (the i19 rule), so
    // the matrix is oracle-exact; shingle identity is engine-internal
    // xxhash64 (the i13 rule: counts are hash-invariant), the oracle
    // joins raw shingle strings.
    Q("i38_source_overlap",
      (s, dir) => {
        val grouped = Harness.materialize(t(s, dir, "documents")
          .select(col("source"), explode(shingleZip(col("text"))).as("z"))
          .select(col("source"),
            xxhash64(col("z.0"), col("z.1"), col("z.2")).as("sh"))
          .groupBy(col("sh"))
          .agg(sort_array(collect_set(col("source"))).as("srcs")))
        val sz = grouped.select(explode(col("srcs")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
        val arr = col("srcs")
        val pairArr = flatten(transform(arr, (x, i) =>
          transform(slice(arr, i + lit(2), size(arr)), y =>
            struct(x.as("source1"), y.as("source2")))))
        grouped.select(explode(pairArr).as("p"))
          .select(col("p.source1").as("source1"), col("p.source2").as("source2"))
          .groupBy(col("source1"), col("source2"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sz.select(col("source").as("source1"), col("n_sh").as("n_sh1"))),
            Seq("source1"))
          .join(broadcast(sz.select(col("source").as("source2"), col("n_sh").as("n_sh2"))),
            Seq("source2"))
          .select(col("source1"), col("source2"), col("n_shared"),
            col("n_sh1"), col("n_sh2"),
            round(col("n_shared") / (col("n_sh1") + col("n_sh2") - col("n_shared")), 3)
              .as("jaccard"))
          .orderBy("source1", "source2")
      },
      Some(oneLine("""WITH sh AS (
                 |   SELECT DISTINCT source,
                 |     unnest(list_transform(range(1, len(toks)-1),
                 |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
                 |   FROM (SELECT source, string_split(text,' ') AS toks FROM documents
                 |         WHERE len(string_split(text,' ')) >= 3)),
                 | sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
                 | pr AS (SELECT a.source AS source1, b.source AS source2,
                 |     count(*) AS n_shared
                 |   FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
                 |   GROUP BY 1, 2)
                 | SELECT source1, source2, n_shared, z1.n_sh AS n_sh1, z2.n_sh AS n_sh2,
                 |   round(n_shared * 1.0 / (z1.n_sh + z2.n_sh - n_shared), 3) AS jaccard
                 | FROM pr JOIN sz z1 ON source1 = z1.source
                 |   JOIN sz z2 ON source2 = z2.source
                 | ORDER BY source1, source2"""))),

    // Semantic OUTLIER screen — the pruning companion of semantic dedup
    // (SemDeDup prunes redundancy; this prunes noise): a vector whose
    // best-centroid similarity falls below τ belongs to no semantic
    // cluster — OCR garbage, binary-in-text, wrong-modality rows — and
    // a curation run drops or quarantines it before training. The
    // winning similarity is ALREADY computed inside the assignment
    // argmax (i10's broadcast-array inline form), so the screen costs
    // the assignment pass alone: a narrow codegen scan + filter with
    // ZERO hash shuffles (PlanSpec) — the i21 shape in vector space.
    // τ = 0.1 sits well inside the fixture's best-sim distribution
    // (median ≈ 0.17, nearest value 5e-5 away from the cut at every
    // SF), flagging ~14% of vectors; production sets τ from the
    // distribution j-profile style. Both engines compare the SAME
    // 6dp-rounded double to the same literal.
    Q("i33_embed_outliers",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        assignToCentroids(emb, stubCodebook(emb, ivfParams.k))
          .filter(col("best_sim") < 0.1)
          .select(col("vec_id"), col("cid"), col("best_sim"))
          .orderBy("vec_id")
      },
      Some(oneLine(s"""WITH ${centroidAssignCte()},
                 | best AS (SELECT vec_id, max(cd) AS best_sim
                 |   FROM adot GROUP BY vec_id)
                 | SELECT a.vec_id, a.cid, b.best_sim
                 | FROM assigned a JOIN best b USING (vec_id)
                 | WHERE b.best_sim < 0.1
                 | ORDER BY a.vec_id"""))),

    // Embedding-cosine near-dup — the vector-space member of the dedup
    // family (token-based: i2/i9/i13/i14): candidate pairs come from the
    // IVF cluster bucket (two vectors must share a nearest centroid), the
    // same shuffle-free assignment as i10/i20, then exact cosine ranks
    // the candidates. The fixture's random vectors have no true dups
    // (max pairwise cosine ≈ 0.51), so the operator emits the TOP-20
    // most-similar candidate pairs and leaves the J-threshold to the
    // caller — same machinery either way, and the oracle checks the full
    // candidate-rank pipeline rather than a vacuously-empty filter.
    // Scale: the within-cluster self-join bounds the quadratic term by
    // cluster size, so k must grow with the corpus — and here it DOES:
    // the codebook sizes by the scaledK rule (k = max(8, N/250), = the
    // fixture 8 at every gate SF), holding bucket depth ~constant so the
    // pair stage grows linearly with the corpus instead of with N²/k;
    // a hot cluster SALTS via saltedSelfPairs — the cid self-join spreads
    // a hot cluster's pairs over 16 salt buckets (cold clusters plan the
    // plain join), so one semantically-hot cluster can no longer pin the
    // stage on one straggler task. The assignment materializes once for
    // the hot-count dimension and both pair sides (the semDedup rule).
    // The final top-k is a TakeOrderedAndProject over narrow (i, j, sim)
    // triples.
    Q("i24_embed_near_dup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val k = scaledK(emb)
        val cent = stubCodebook(emb, k)
        // k rides into the dispatcher (see assignToCentroids): flat at
        // every correctness-gate SF (k = 8 there), two-level from sf1 up
        // (k ≥ 80). The SQL
        // oracle below interpolates the FLAT centroidAssignCte, so it
        // is valid only below hierRouteMin (every driver-gate SF); at
        // sf >= 1 the gate swaps to tools/i24_sf1_oracle.py, which
        // mirrors the dispatcher exactly (check.py --cc-numpy).
        val assigned = Harness.materialize(assignToCentroids(emb, cent, k))
        saltedSelfPairs(
            assigned.select(col("cid"), col("vec_id"), col("embedding")), "cid")
          .select(col("cid"), col("i"), col("j"),
            round(VectorFunctions.dot(col("ea"), col("eb")), 3).as("sim"))
          .orderBy(col("sim").desc, col("i"), col("j")).limit(20)
      },
      Some(oneLine(s"""WITH ${centroidAssignCte(scaledKSql)},
                 | ${clusterPairsCte("a.cid, a.vec_id")}
                 | SELECT cid, i, j, sim FROM pairs
                 | ORDER BY sim DESC, i, j LIMIT 20"""))),

    // Semantic dedup END-TO-END (the SemDeDup shape): within-cluster
    // cosine pairs above a threshold become an edge graph, connected
    // components resolve each semantic cluster to its min-vec_id
    // canonical, and the corpus anti-joins the non-canonical ids — the
    // embedding-space twin of the text-side find→resolve→apply story
    // (i2→i15→i18), sharing the SAME star-contraction component resolver.
    // θ = 0.4 (3dp-rounded, both engines) is deliberately inside the
    // fixture's cosine range so every stage runs non-vacuously (the
    // random-vector fixture tops out ≈0.51; a production run sets θ to
    // its dup band, the machinery is θ-independent). Scale: candidates
    // are bounded by IVF cluster size exactly like i24 (codebook sized
    // by the same scaledK rule — bucket depth pinned ~250, pair stage
    // linear in the corpus), and a hot
    // cluster SALTS via the shared saltedSelfPairs helper (asserted ≡
    // unsalted under a manufactured hot cluster in SkewSpec); the
    // assignment is materialized ONCE for its four consumers (hot-count
    // dim + both pair sides + the final anti-join) — the persisted
    // assignment table of a real pipeline; the component resolver and
    // the apply step move 8-byte ids only, never vectors.
    Q("i29_semdedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val k = scaledK(emb)
        // assignK rides into the dispatcher: flat at every driver-gate
        // SF (k = 8), two-level from sf1 up — the r14 asymptote fix.
        // The SQL oracle below is flat-CTE (valid below hierRouteMin
        // only) AND recursive-CTE (disk-explodes above sf0.1); at
        // sf >= 1 the gate swaps to tools/i29_sf1_oracle.py, the
        // dispatcher-mirroring numpy oracle (check.py --cc-numpy).
        semDedup(emb, stubCodebook(emb, k), 0.4, assignK = k).orderBy("vec_id")
      },
      Some(oneLine(s"""WITH RECURSIVE ${centroidAssignCte(scaledKSql)},
                  | ${clusterPairsCte("a.vec_id")},
                  | nd AS (SELECT i, j FROM pairs WHERE sim >= 0.4),
                  | edges AS (SELECT i AS s, j AS d FROM nd
                  |   UNION ALL SELECT j, i FROM nd),
                  | ${LlmOps.ccLabelCte("v", "canon")}
                  | SELECT a.vec_id, a.cid FROM assigned a
                  | WHERE a.vec_id NOT IN (SELECT v FROM lbl WHERE v <> canon)
                  | ORDER BY a.vec_id"""))),

    // ----------------------------------------------- mixture + delivery

    // Per-source mixture sampling — content-addressed like the i16 split:
    // a doc survives iff its salted md5 bucket falls under its source's
    // target rate (here rate(srcK) = 100 − 4K, a deliberately skewed
    // mixture: src0 fully kept, src19 at 24%). Because the bucket is a
    // pure hash of doc_id, the sample is reproducible across runs,
    // engines and repartitionings, needs no RNG state, composes with the
    // split (independent salts ⇒ independent buckets), and any rate
    // change is a pure filter change — no reshuffle, no new corpus scan
    // artifacts. At 100 TB this is the mixture-weighting step of corpus
    // assembly: a narrow codegen scan + filter, zero shuffles except the
    // output sort; the per-source rate is an expression, not even a
    // broadcast dim. md5 (not xxhash64) because the sample, like the
    // split, is a corpus-level contract reproducible OUTSIDE the engine.
    Q("i21_sample_stratified",
      (s, dir) => mixtureSample(t(s, dir, "documents")).orderBy("doc_id"),
      Some(oneLine("""WITH b AS (SELECT doc_id, source,
                 |     ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
                 |     100 - 4 * CAST(substr(source, 4) AS INT) AS rate
                 |   FROM documents)
                 | SELECT doc_id, source, bucket, rate FROM b
                 | WHERE bucket < rate ORDER BY doc_id"""))),

    // EXACT-k deterministic sample per source — the eval-set carve: i21
    // keeps a RATE (corpus-proportional, size drifts with the corpus),
    // an eval set wants EXACTLY k docs per source, stable under corpus
    // growth ONLY where growth happens (a new doc displaces at most one
    // winner, the bounded-churn property content-addressed priority
    // sampling is chosen for). Priority = salted md5 of doc_id; the
    // per-source top-10 by (priority, doc_id) is a rank window whose
    // rn<=10 filter pushes into a WindowGroupLimit — each map partition
    // forwards ≤10 candidate rows per source, so the "global sort per
    // source" the naive reading fears is actually a tiny shuffle at any
    // corpus size (PlanSpec pins the pushdown).
    Q("i87_topk_sample",
      (s, dir) => {
        val pri = conv(substring(
          md5(concat(lit("ksample:"), col("doc_id").cast("string"))), 1, 12),
          16, 10).cast("long")
        val w = Window.partitionBy(col("source"))
          .orderBy(col("pri").asc, col("doc_id").asc)
        t(s, dir, "documents")
          .select(col("doc_id"), col("source")).withColumn("pri", pri)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("source"), col("rn").cast("long").as("rn"),
            col("doc_id"), col("pri"))
          .orderBy("source", "rn")
      },
      Some(oneLine("""WITH b AS (SELECT doc_id, source,
                 |     ('0x' || substr(md5('ksample:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS pri
                 |   FROM documents)
                 | SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, pri FROM (
                 |   SELECT source, doc_id, pri,
                 |     row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
                 |   FROM b) WHERE rn <= 10
                 | ORDER BY source, rn"""))),

    // Mixture UPSAMPLING — the other direction of i21's weighting: a
    // high-value source repeats FRACTIONALLY many times in the training
    // mixture (the "Wikipedia ×2.5 epochs" pattern). rate×100 for srcK
    // is 100 + 13·K here; every doc emits floor(rate) copies and one
    // extra copy iff its content-addressed bucket falls under the
    // fractional part — so the EXPECTED copy count per doc is exactly
    // the rate, the decision is reproducible across runs/engines/
    // partitionings (the i16/i21 md5 contract; independent salt), and a
    // rate change is a pure expression edit. copy_idx makes the output
    // a well-defined SET (doc_id, copy_idx) — downstream shuffles
    // de-correlate copies by (doc_id, copy_idx), not position. Scale: a
    // narrow generator projection — explode over a ≤3-element sequence,
    // zero hash shuffles (PlanSpec), the i21 shape with a generator.
    Q("i34_upsample",
      (s, dir) => upsampleCopies(t(s, dir, "documents"))
        .orderBy("doc_id", "copy_idx"),
      Some(oneLine("""WITH r AS (
                 |   SELECT doc_id, source,
                 |     100 + 13 * CAST(substr(source, 4) AS INT) AS rate_pct,
                 |     ('0x' || substr(md5('upsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
                 |   FROM documents),
                 | c AS (
                 |   SELECT doc_id, source,
                 |     (rate_pct // 100) + (CASE WHEN bucket < rate_pct % 100 THEN 1 ELSE 0 END) AS n_copies
                 |   FROM r)
                 | SELECT doc_id, source, unnest(range(1, n_copies + 1))::BIGINT AS copy_idx
                 | FROM c ORDER BY doc_id, copy_idx"""))),

    // Token-budget sharding — the delivery step that packs the corpus
    // into ~equal-TOKEN output shards (training wants byte/token-balanced
    // files, not row-balanced ones): in doc_id order, shard k holds the
    // docs whose running token total lands in [k·BUDGET, (k+1)·BUDGET).
    // The running total is the textbook scale trap: ONE window over the
    // whole corpus is a single-partition sort — the exact shape the r3
    // i2 rework removed. Instead, the two-level prefix sum factored as
    // `exclusiveRunningTokens` (shared with i48 sequence packing — see
    // its Scaladoc for the step-by-step scale argument). Integer
    // arithmetic end-to-end, so the decomposition is EXACTLY the global
    // running sum, and the DuckDB oracle can use the naive global
    // window form.
    Q("i22_token_shards",
      (s, dir) => {
        val budget = 2000L
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("tok"))
        exclusiveRunningTokens(docs, 32)
          .withColumn("shard_id", expr(s"cum_before div $budget"))
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok")).as("tok_total"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("shard_id")
      },
      Some(oneLine(s"""WITH $tokOffsetsCte
                 | SELECT cb // 2000 AS shard_id, count(*)::BIGINT AS n_docs,
                 |   SUM(tok)::BIGINT AS tok_total,
                 |   MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
                 | FROM c GROUP BY 1 ORDER BY 1"""))),

    // Sequence packing — the LAST transform a pretraining corpus goes
    // through before the trainer reads it: concatenate the corpus in
    // doc_id order and chunk the token stream into fixed context-length
    // sequences (L = 512). Each doc occupies the half-open token span
    // [cb, cb + tok) of the global stream, so its placement is pure
    // integer arithmetic on the exclusive running total: first_seq =
    // cb div L, offset within it cb mod L, last_seq = (cb+tok-1) div L,
    // and n_seqs the straddle count (boundary docs split across
    // sequences — concat-and-chunk, not first-fit, exactly because
    // first-fit is order-dependent and unparallelizable). The running
    // total reuses i22's two-level prefix sum (`exclusiveRunningTokens`
    // — see that entry for the scale argument: no unpartitioned corpus
    // window anywhere, the only global window is over B=32 bucket
    // totals post-aggregation). The oracle computes the SAME placement
    // from DuckDB's naive global window, so the decomposition is pinned
    // integer-exact end-to-end; PipelineSpec additionally pins the
    // packing invariants (spans tile [0, total_tokens) gaplessly).
    Q("i48_pack_sequences",
      (s, dir) => {
        val L = 512L
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("tok"))
        seqPlacement(exclusiveRunningTokens(docs, 32), L)
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH $tokOffsetsCte
                 | $seqPlacementSql"""))),

    // Incremental packing INGEST — the lifecycle closer for the packing
    // family (the i25/i36/i41 symmetry: find→manifest→incremental):
    // packing is PREFIX-ADDITIVE — a new crawl's docs append at the tail
    // of the already-packed token stream, so their placement depends on
    // the existing corpus through ONE scalar, its persisted total token
    // count. The corpus side is an aggregate (in production, a read of
    // the pack-state table — registry isolation recomputes it); the
    // batch side runs the SAME two-level prefix sum over only its own
    // docs, offset by that broadcast scalar. A 100 TB corpus ingesting a
    // daily crawl touches corpus rows zero times beyond the persisted
    // scalar. PipelineSpec pins the additivity law (ingest placement ≡
    // global i48 restricted to the batch — bit-exact, not approximate);
    // StreamingSpec replays an in-ORDER feed (packing is order-
    // dependent, the h3 rule) with foreachBatch offset accumulation.
    Q("i52_pack_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(col("doc_id") < 400)
          .agg(coalesce(sum(size(split(col("text"), " ")).cast("long")),
            lit(0L)).as("base_tok"))
        packIncremental(
          docs.filter(col("doc_id") >= 400).select("doc_id", "text"), base)
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH tk AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tok
                 |   FROM documents),
                 | base AS (SELECT COALESCE(SUM(tok), 0)::BIGINT AS bt FROM tk
                 |   WHERE doc_id < 400),
                 | c AS (SELECT doc_id, tok,
                 |     ((SELECT bt FROM base) + COALESCE(SUM(tok) OVER (ORDER BY doc_id
                 |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS cb
                 |   FROM tk WHERE doc_id >= 400)
                 | $seqPlacementSql"""))),

    // Packing MANIFEST — i48 transposed to the artifact the trainer
    // actually indexes: one row per OUTPUT SEQUENCE (which docs feed it,
    // how full it is) instead of one row per doc. Each doc explodes to
    // the sequences its span [cb, cb+tok) straddles — a generator
    // bounded by tok/L + 1, so total manifest input is
    // total_tokens/L + n_docs rows, LINEAR in the corpus — and per
    // sequence the fill is the sum of span∩[seq·L, (seq+1)·L) overlaps,
    // pure integer min/max arithmetic. The invariant that makes this a
    // packing (every sequence except the final partial one holds
    // exactly L tokens, gaplessly) is pinned in PipelineSpec; the
    // oracle recomputes the same explode from DuckDB's naive global
    // window, pinning the prefix-sum decomposition a second way.
    Q("i51_pack_manifest",
      (s, dir) => {
        val L = 512L
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("tok"))
        exclusiveRunningTokens(docs, 32)
          .select(col("doc_id"), col("tok"), col("cum_before"),
            explode(sequence(expr(s"cum_before div $L"),
              expr(s"(cum_before + tok - 1) div $L"))).as("seq_id"))
          .groupBy(col("seq_id"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            sum(least(col("cum_before") + col("tok"), (col("seq_id") + 1) * L) -
              greatest(col("cum_before"), col("seq_id") * L)).as("fill"))
          .orderBy("seq_id")
      },
      Some(oneLine(s"""WITH $tokOffsetsCte,
                 | e AS (SELECT doc_id, tok, cb,
                 |     unnest(range(cb // 512, (cb + tok - 1) // 512 + 1)) AS seq_id
                 |   FROM c)
                 | SELECT seq_id::BIGINT AS seq_id, count(*)::BIGINT AS n_docs,
                 |   MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
                 |   SUM(LEAST(cb + tok, (seq_id + 1) * 512) -
                 |       GREATEST(cb, seq_id * 512))::BIGINT AS fill
                 | FROM e GROUP BY seq_id ORDER BY seq_id"""))),

    // Deterministic training-order shuffle + sharding — the step between
    // curation and delivery: training wants the corpus in a reproducible
    // pseudorandom order, sharded so every reader streams its shard
    // sequentially. Order key = salted md5 over doc_id (the i16/i21
    // content-addressed contract: reproducible across runs, engines, and
    // partitionings; independent of every other salt in the repo), shard
    // = key mod 16, position = rank within the shard by (key, doc_id).
    // The scale shape is the point: a GLOBAL shuffled row_number would be
    // a single-partition corpus sort (the r3 i2 killer); sharding first
    // makes the only window PARTITIONED by shard_id — 1/16 of the corpus
    // per partition, embarrassingly parallel, and cross-shard order is
    // irrelevant because each shard is one delivery file. At 100 TB the
    // shard count scales with the cluster and nothing else changes.
    Q("i49_global_shuffle",
      (s, dir) => {
        val h = conv(substring(md5(concat(lit("shuffle42:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        t(s, dir, "documents")
          .select(col("doc_id"), h.as("h"))
          .withColumn("shard_id", col("h") % 16)
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("shard_id"))
              .orderBy(col("h"), col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("shard_id"), col("pos"))
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH h AS (SELECT doc_id,
                 |     ('0x' || substr(md5('shuffle42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
                 |   FROM documents)
                 | SELECT doc_id, h % 16 AS shard_id,
                 |   row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)::BIGINT AS pos
                 | FROM h ORDER BY doc_id"""))),

    // Curriculum schedule — the training-order policy ON TOP of the
    // delivery ops (i49 shuffles uniformly; curriculum learning streams
    // phases of increasing quality): docs bin into 4 phases by the
    // corpus quality-score DISTRIBUTION (quartiles of j2's qualityExpr —
    // the SAME expression, so the score is provably the graded one).
    // The scale trap is the global rank a naive ntile would take; the
    // 3dp-rounded score has a ≤1001-value domain, so the quartile
    // thresholds come from a SCORE-LEVEL histogram instead: one
    // hash-aggregate (the shuffle carries (score, count)), a running
    // sum over ≤1001 POST-aggregation rows (the hygiene-compliant
    // window), phase = ceil(4·cum/N) in INTEGER arithmetic
    // ((4c + N − 1) div N — no double division, no boundary ulp), and
    // the ≤1001-row phase map broadcasts back. Equal scores share a
    // phase by construction. Within a phase the order is the i49
    // content-addressed shuffle (salted md5, independent salt), via a
    // phase-PARTITIONED window. PipelineSpec pins the curriculum laws:
    // quality-monotone phases, dense positions, conservation.
    Q("i53_curriculum_phase",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val q = docTokStats(docs)
          .select(col("doc_id"), qualityExpr.as("quality"))
        val cum = q.groupBy(col("quality")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(Window.orderBy(col("quality"))))
        val n = q.agg(count(lit(1)).as("n"))
        val ph = cum.crossJoin(broadcast(n))
          .select(col("quality"), expr("(4 * cum + n - 1) div n").as("phase"))
        val h = conv(substring(md5(concat(lit("curriculum:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        q.join(broadcast(ph), Seq("quality"))
          .withColumn("h", h)
          .withColumn("pos_in_phase", row_number().over(
            Window.partitionBy(col("phase"))
              .orderBy(col("h"), col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("quality"), col("phase"), col("pos_in_phase"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH ${LlmOps.tokStatsCte("doc_id")},
                 | q AS (SELECT doc_id,
                 |     round(least(n_tok/100.0, 1.0)*0.4 + (n_uniq/n_tok)*0.3 + (1.0 - n_stop/n_tok)*0.3, 3) AS quality
                 |   FROM st),
                 | cum AS (SELECT quality, SUM(count(*)) OVER (ORDER BY quality)::BIGINT AS cum
                 |   FROM q GROUP BY quality),
                 | n AS (SELECT count(*)::BIGINT AS n FROM q),
                 | ph AS (SELECT quality,
                 |     ((4 * cum + (SELECT n FROM n) - 1) // (SELECT n FROM n))::BIGINT AS phase
                 |   FROM cum),
                 | j AS (SELECT q.doc_id, q.quality, ph.phase,
                 |     ('0x' || substr(md5('curriculum:' || CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
                 |   FROM q JOIN ph USING (quality))
                 | SELECT doc_id, quality, phase,
                 |   row_number() OVER (PARTITION BY phase ORDER BY h, doc_id)::BIGINT AS pos_in_phase
                 | FROM j ORDER BY doc_id"""))),

    // Vocabulary induction + coverage screen — the tokenizer-fitting
    // step: the top-V corpus tokens by frequency (ties broken
    // token-asc so the vocab is a deterministic SET, not a sample) stand
    // in for a trained tokenizer vocabulary, and every doc is scored by
    // how much of it that vocab covers (OOV rate ‰, integer floor-div —
    // the screen that catches wrong-language/garbage docs a vocab would
    // explode into bytes). Scale: one explode + hash-aggregate for the
    // frequency table (the shuffle carries (token, count), never text);
    // top-V is a TakeOrdered over POST-aggregation rows (|vocab|, not
    // |corpus|); the V-row vocab then BROADCASTS back onto the exploded
    // token stream (PlanSpec pins the broadcast — the corpus side never
    // shuffles for the join), and the per-doc OOV count partial-
    // aggregates map-side on doc_id. The screen phase is stateless given
    // the vocab, so it streams unchanged (StreamingSpec twin).
    Q("i50_vocab_coverage",
      (s, dir) => {
        // V = 16 against the fixture's 31-token vocabulary (~half the
        // token mass lands OOV, so the screen is provably non-vacuous
        // at every SF); a production corpus would use 32k+ — the
        // parameter is one literal.
        val V = 16
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tk"))
        val vocab = toks.groupBy(col("tk")).agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("tk").asc).limit(V)
          .select(col("tk"), lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tk"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_permille", expr("(n_oov * 1000) div n_tok"))
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                 |   FROM documents),
                 | vocab AS (SELECT tk FROM tok GROUP BY tk
                 |   ORDER BY count(*) DESC, tk ASC LIMIT 16)
                 | SELECT t.doc_id, count(*)::BIGINT AS n_tok,
                 |   SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
                 |   ((SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)::BIGINT * 1000) // count(*))::BIGINT AS oov_permille
                 | FROM tok t LEFT JOIN vocab v ON t.tk = v.tk
                 | GROUP BY t.doc_id ORDER BY t.doc_id"""))),

    // RAG/context chunking — the delivery step that turns a curated doc
    // into overlapping token windows (window W=32, stride S=24, 8-token
    // overlap): chunk_id/tok_start locate each window, the md5 chunk
    // fingerprint is the content address downstream retrieval indexes
    // key on (same contract as the i16/i21 content-addressed family).
    // Chunk rule: ceil((nt−W)/S)+1 windows, short docs yield exactly one
    // — the last window is the first that reaches the doc's end, so
    // every token lands in ≥1 chunk and no window starts past the text.
    // Scale: a pure narrow projection + explode — zero shuffles except
    // the output sort; per-doc chunk count is nt/S, so the row expansion
    // is a constant factor (~W/S) of the token stream, never quadratic.
    // At 100 TB this is map-only over the corpus scan, and the fp/offset
    // columns (not chunk text) are what shuffles into the index build.
    Q("i54_chunk_windows",
      (s, dir) => {
        val W = 32
        val S = 24
        val d = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("nt", size(col("toks")).cast("long"))
        d.withColumn("nc",
            when(col("nt") <= W, lit(1L))
              .otherwise(expr(s"(nt - $W + $S - 1) div $S") + 1L))
          .select(col("doc_id"), col("toks"), col("nt"),
            explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_id"))
          .withColumn("tok_start", col("chunk_id") * S)
          .withColumn("ctoks", slice(col("toks"),
            (col("tok_start") + 1L).cast("int"),
            least(lit(W.toLong), col("nt") - col("tok_start")).cast("int")))
          .select(col("doc_id"), col("chunk_id"), col("tok_start"),
            size(col("ctoks")).cast("long").as("n_toks"),
            md5(array_join(col("ctoks"), " ")).as("chunk_fp"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(oneLine("""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
                 |     len(string_split(text,' '))::BIGINT AS nt FROM documents),
                 | c AS (SELECT doc_id, toks, nt,
                 |     unnest(range(0, CASE WHEN nt <= 32 THEN 1
                 |       ELSE (nt - 32 + 23) // 24 + 1 END)) AS chunk_id
                 |   FROM d)
                 | SELECT doc_id, chunk_id::BIGINT AS chunk_id,
                 |   (chunk_id * 24)::BIGINT AS tok_start,
                 |   least(32, nt - chunk_id * 24)::BIGINT AS n_toks,
                 |   md5(array_to_string(list_slice(toks, chunk_id*24 + 1,
                 |     chunk_id*24 + least(32, nt - chunk_id*24)), ' ')) AS chunk_fp
                 | FROM c ORDER BY doc_id, chunk_id"""))),

    // One BPE merge step — the tokenizer-TRAINING inner loop (the i50
    // vocab induction fits a word-level vocab; BPE fits subwords): count
    // every adjacent character pair across the corpus weighted by word
    // frequency and emit the top-20 merge candidates (count desc, pair
    // asc — the deterministic argmax a trainer would merge next, plus
    // the runners-up so the output is a stable top-k rather than one
    // row). Scale: the pair explode runs over the DISTINCT-WORD table
    // (|vocab| rows after the word-count hash-aggregate), not the corpus
    // token stream — the step that makes corpus-scale BPE training
    // feasible: 100 TB of text collapses to a ~10⁶-row weighted
    // vocabulary before any per-character work, and each further merge
    // iteration reuses the same counted vocab. Shuffles: word count
    // (map-side partial agg), pair sum over 2-char keys, TakeOrdered
    // top-20.
    Q("i55_bpe_merge_step",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
        words.filter(length(col("w")) >= 2)
          .select(col("n"), explode(transform(
            sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc).limit(20)
      },
      Some(oneLine("""WITH w AS (SELECT tk AS w, count(*)::BIGINT AS n
                 |   FROM (SELECT unnest(string_split(text,' ')) AS tk FROM documents)
                 |   GROUP BY tk),
                 | p AS (SELECT n, unnest(list_transform(range(1, len(w)),
                 |     i -> substr(w, i::INT, 2))) AS pair
                 |   FROM w WHERE len(w) >= 2)
                 | SELECT pair, sum(n)::BIGINT AS cnt FROM p
                 | GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""))),

    // (winnowFingerprints — the per-doc winnowed fingerprint SET — is
    // factored above the entry so PipelineSpec can pin the winnowing
    // guarantee on crafted docs, where a shared run is known by
    // construction.)
    //
    // Winnowing fingerprint overlap (the MOSS scheme, Schleimer et al.
    // SIGMOD'03) — the contamination screen (i19) upgraded from raw
    // 3-gram joins to WINNOWED fingerprints: each doc keeps only the
    // minimum gram hash of every 4-gram-wide sliding window (plus the
    // final window of a short doc, so every doc fingerprints), which
    // guarantees any shared run of ≥ w+k−1=6 tokens still collides
    // while storing ~2/(w+1) of the grams. Train docs (doc_id ≥ 50) are
    // then scored by how many of their fingerprints appear anywhere in
    // the eval set (doc_id < 50) — i13's containment shape over the
    // winnowed sets. Scale: gram hashing is a narrow projection; the
    // sliding min is a bounded 4-row window per doc (one doc_id hash
    // shuffle); the fingerprint table is ~29% of the gram stream; the
    // eval fingerprint SET stays small and BROADCASTS onto the train
    // side, so the screen never shuffles the corpus against itself —
    // at 100 TB the eval side is a benchmark suite (fixed size) and the
    // train side streams through map-side.
    Q("i56_winnow_overlap",
      (s, dir) => {
        val fp = winnowFingerprints(t(s, dir, "documents"))
        val ev = fp.filter(col("doc_id") < 50).select(col("fp")).distinct()
        val tr = fp.filter(col("doc_id") >= 50)
        val sz = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
        val shd = tr.join(broadcast(ev), "fp")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        sz.join(shd, "doc_id")
          .select(col("doc_id"), col("n_shared"),
            round(col("n_shared") * lit(1.0) / col("n_fp"), 3).as("containment"))
          .orderBy("doc_id")
      },
      Some(oneLine("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
                 | g AS (SELECT doc_id,
                 |     unnest(range(0, greatest(len(toks)-2, 0))) AS pos,
                 |     unnest(list_transform(range(1, greatest(len(toks)-1, 1)), i ->
                 |       ('0x'||substr(md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]),1,8))::BIGINT)) AS h
                 |   FROM t),
                 | wmin AS (SELECT doc_id, pos,
                 |     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wm,
                 |     count(*) OVER (PARTITION BY doc_id) AS ng
                 |   FROM g),
                 | fp AS (SELECT DISTINCT doc_id, wm AS fp FROM wmin
                 |   WHERE pos >= 3 OR pos = ng - 1),
                 | ev AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 50),
                 | tr AS (SELECT doc_id, fp FROM fp WHERE doc_id >= 50),
                 | sz AS (SELECT doc_id, count(*)::BIGINT AS n_fp FROM tr GROUP BY doc_id),
                 | shd AS (SELECT tr.doc_id, count(*)::BIGINT AS n_shared
                 |   FROM tr JOIN ev USING (fp) GROUP BY tr.doc_id)
                 | SELECT sz.doc_id, n_shared,
                 |   round(n_shared * 1.0 / n_fp, 3) AS containment
                 | FROM sz JOIN shd ON sz.doc_id = shd.doc_id
                 | ORDER BY sz.doc_id"""))),

    // Decontamination APPLY — the step i19 stops short of: the surviving
    // training corpus after dropping every train doc whose 3-gram
    // containment against the eval set reaches the i19 threshold (0.2).
    // Same shape as i18's dedup apply: the screen produces a TINY flagged
    // id list (contaminated docs are rare by construction), and the drop
    // is one broadcast anti-join on 8-byte ids — text never re-shuffles.
    // The screen itself is the in-row form (contaminationScreen): gram
    // hashing and set intersection stay inside each row against the
    // broadcast 1-row eval set, zero shuffle before the anti-join. At
    // 100 TB the eval side is a fixed-size benchmark suite; the train
    // side streams through map-side exactly once.
    Q("i57_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val evalSet = evalShingleSet(docs.filter(col("doc_id") < 50))
        val train = docs.filter(col("doc_id") >= 50)
        val flagged = contaminationScreen(train, evalSet).select(col("doc_id"))
        train.join(broadcast(flagged), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH $evalShinglesCte,
                 | shd AS (SELECT doc_id, count(*) AS n_shared
                 |   FROM tr JOIN ev USING (s) GROUP BY doc_id),
                 | flagged AS (SELECT sz.doc_id FROM sz JOIN shd USING (doc_id)
                 |   WHERE n_shared * 1.0 / n_sh >= 0.2)
                 | SELECT doc_id, source, lang FROM documents
                 | WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM flagged)
                 | ORDER BY doc_id"""))),

    // Source mixture weights — the sampling-weight table a training run
    // feeds its data loader: for each source, the multiplier that
    // equalizes TOKEN share across the K sources (weight =
    // total_tokens / (K · source_tokens); uniform target — the natural
    // fixture-checkable special case of an arbitrary target vector,
    // which would enter as one more broadcast column). Two aggregates:
    // per-source doc/token counts (20 groups, map-side partial), and the
    // 1-row corpus total folded back — the corpus is scanned once and
    // only (source, counts) rows move. The total comes from an
    // UNPARTITIONED window over the K-row POST-AGGREGATION frame (the
    // i22 bounded-window rule), not a second corpus aggregate — a
    // `per.agg(...)` crossJoin would plan the whole scan+shuffle subtree
    // twice. Integer arithmetic until the one output division.
    Q("i58_mixture_weights",
      (s, dir) => {
        val all = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tok"))
          .withColumn("tot_tok", sum(col("n_tok")).over(all))
          .withColumn("k", count(lit(1)).over(all))
          .select(col("source"), col("n_docs"), col("n_tok"),
            round(col("tot_tok") / (col("k") * col("n_tok")), 6).as("weight"))
          .orderBy("source")
      },
      Some(oneLine("""WITH per AS (SELECT source, count(*)::BIGINT AS n_docs,
                 |     sum(len(string_split(text,' ')))::BIGINT AS n_tok
                 |   FROM documents GROUP BY source),
                 | tot AS (SELECT sum(n_tok)::BIGINT AS tot_tok,
                 |     count(*)::BIGINT AS k FROM per)
                 | SELECT source, n_docs, n_tok,
                 |   round(tot_tok / (k * n_tok), 6) AS weight
                 | FROM per, tot ORDER BY source"""))),

    // BPE merge APPLY — the other half of i55's training loop: take the
    // argmax pair (count desc, pair asc — i55's deterministic winner) and
    // apply the merge to the vocabulary, emitting each affected word with
    // its merge count (greedy non-overlapping left-to-right `replace`,
    // identical semantics in Spark and DuckDB) and corpus-weighted total.
    // Scale follows i55: everything past the word-count hash-aggregate
    // runs on the |vocab|-row table; the argmax is a TakeOrdered(1)
    // broadcast back as a 1-row dimension, so one more merge iteration
    // costs one vocab-sized projection, never a corpus pass. The word
    // table is MATERIALIZED once (the nearDupPairs rule) — it feeds both
    // the argmax subtree and the output projection, and without the
    // checkpoint each consumer re-plans the corpus explode+shuffle.
    Q("i59_bpe_merge_apply",
      (s, dir) => {
        val words = Harness.materialize(t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n")))
        val top = words.filter(length(col("w")) >= 2)
          .select(col("n"), explode(transform(
            sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc).limit(1)
          .select(col("pair"))
        words.crossJoin(broadcast(top))
          .withColumn("merged",
            (length(col("w")) -
              length(expr("replace(w, pair, '#')"))).cast("long"))
          .filter(col("merged") > 0)
          .select(col("w"), col("n"), col("pair"), col("merged"),
            (col("merged") * col("n")).as("total_merges"))
          .orderBy("w")
      },
      Some(oneLine("""WITH w AS (SELECT w, count(*)::BIGINT AS n
                 |   FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
                 |   GROUP BY w),
                 | p AS (SELECT n, unnest(list_transform(range(1, len(w)),
                 |     i -> substr(w, i, 2))) AS pair
                 |   FROM w WHERE len(w) >= 2),
                 | top AS (SELECT pair FROM p GROUP BY pair
                 |   ORDER BY sum(n) DESC, pair LIMIT 1)
                 | SELECT w, n, pair,
                 |   (len(w) - len(replace(w, pair, '#')))::BIGINT AS merged,
                 |   ((len(w) - len(replace(w, pair, '#'))) * n)::BIGINT AS total_merges
                 | FROM w, top
                 | WHERE len(w) - len(replace(w, pair, '#')) > 0
                 | ORDER BY w"""))),

    // Zipf law fit — the corpus-health diagnostic a data pipeline runs
    // per snapshot: least-squares slope of ln(freq) on ln(rank) over the
    // top-30 words (all ranks deterministic: freq desc, word asc). A
    // Zipfian corpus sits near slope −1; drift flags template spam or
    // boilerplate floods. Scale: the regression runs on a CONSTANT-sized
    // (30-row, post-aggregation) frame — the single-partition window is
    // bounded by the constant, the exclusiveRunningTokens rule — and the
    // corpus contributes one word-count hash-aggregate. The slope is
    // computed from explicit sufficient statistics (Σx, Σy, Σxy, Σx²)
    // so both engines run the same arithmetic; ln products over 30 O(5)
    // values carry ~1e-14 relative error against the round(4) contract.
    // The `+ 0.0` on the slope canonicalizes IEEE zero sign: on a
    // degenerate fixture whose top-30 counts are ALL EQUAL (sf10 — 100
    // token-disjoint GenScale copies of one distribution, so rank 1-30
    // is one word under 30 suffixes at identical n), the numerator is a
    // ±ε rounding residual of an exact zero and the engines can land on
    // oppositely-signed zeros ('0.0' vs '-0.0' under repr). x + 0.0
    // maps -0.0 to +0.0 and is the identity for every nonzero slope.
    Q("j13_zipf_slope",
      (s, dir) => {
        // Materialized once (the nearDupPairs rule): the word table feeds
        // the corpus-stats aggregate AND the ranked regression subtree.
        val words = Harness.materialize(t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n")))
        val corpus = words.agg(count(lit(1)).as("n_types"),
          sum(col("n")).as("n_tokens"))
        val byFreq = Window.orderBy(col("n").desc, col("w").asc)
        val ranked = words
          .orderBy(col("n").desc, col("w").asc).limit(30)
          .withColumn("rank", row_number().over(byFreq))
          .select(log(col("rank")).as("x"), log(col("n")).as("y"))
        val fit = ranked.agg(count(lit(1)).cast("double").as("m"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(round((col("m") * col("sxy") - col("sx") * col("sy")) /
            (col("m") * col("sxx") - col("sx") * col("sx")), 4)
            .plus(lit(0.0)).as("zipf_slope"))
        corpus.crossJoin(broadcast(fit))
          .select(col("n_types"), col("n_tokens"), col("zipf_slope"))
      },
      Some(oneLine("""WITH w AS (SELECT w, count(*)::BIGINT AS n
                 |   FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
                 |   GROUP BY w),
                 | corpus AS (SELECT count(*)::BIGINT AS n_types,
                 |     sum(n)::BIGINT AS n_tokens FROM w),
                 | ranked AS (SELECT ln(row_number() OVER (ORDER BY n DESC, w)) AS x,
                 |     ln(n) AS y
                 |   FROM w ORDER BY n DESC, w LIMIT 30),
                 | fit AS (SELECT round(
                 |     (count(*) * sum(x*y) - sum(x) * sum(y)) /
                 |     (count(*) * sum(x*x) - sum(x) * sum(x)), 4) + 0.0 AS zipf_slope
                 |   FROM ranked)
                 | SELECT n_types, n_tokens, zipf_slope FROM corpus, fit"""))),

    // Heaps-law fit — j13's companion diagnostic: vocabulary GROWTH
    // V(N) ≈ K·N^β measured over 3-gram types (the fixture's unigram
    // vocab saturates in the first docs; trigram types grow 5× across
    // it), fit as ln V on ln N at 8 doc_id checkpoints (max_id·i/8 —
    // deterministic integer thresholds). β far from the corpus's own
    // baseline flags template floods (β→0: no new phrasing) or
    // boilerplate-free synthetic spam (β→1). Scale: the gram explode
    // pays ONE corpus pass into a vocabulary-bounded first-seen table
    // (min(doc_id) per gram — 8-byte xxhash64 keys, the i13 rule; the
    // oracle groups raw gram strings, so the hash-vs-string count
    // equivalence is itself oracle-checked); both checkpoint joins
    // BROADCAST the 8-row threshold frame (≤8× map-side expansion, no
    // shuffle before the 8-group aggregates); the regression runs on the
    // constant 8-row frame (the j13 rule). The max_id scan reads one
    // pruned column.
    Q("j14_heaps_fit",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cps = docs.agg(max(col("doc_id")).as("m"))
          .select(explode(sequence(lit(1), lit(8))).as("i"), col("m"))
          .select(col("i"), expr("(m * i) div 8").as("c"))
        val first = docs
          .select(col("doc_id"), explode(gramZip(col("text"), 3)).as("z"))
          .select(col("doc_id"),
            xxhash64(col("z.0"), col("z.1"), col("z.2")).as("g"))
          .groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
        val v = first.join(broadcast(cps), col("fd") <= col("c"))
          .groupBy(col("i")).agg(count(lit(1)).as("v"))
        val perDoc = docs.select(col("doc_id"),
          greatest(size(split(col("text"), " ")) - 2, lit(0))
            .cast("long").as("ng"))
        val n = perDoc.join(broadcast(cps), col("doc_id") <= col("c"))
          .groupBy(col("i")).agg(sum(col("ng")).as("n"))
        val pts = v.join(n, "i")
          .select(col("i"), col("v"), col("n"),
            log(col("n").cast("double")).as("x"),
            log(col("v").cast("double")).as("y"))
        pts.agg(count(lit(1)).cast("double").as("m8"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            max(when(col("i") === 8, col("v"))).as("v_total"),
            max(when(col("i") === 8, col("n"))).as("n_total"))
          .select(col("v_total"), col("n_total"),
            round((col("m8") * col("sxy") - col("sx") * col("sy")) /
              (col("m8") * col("sxx") - col("sx") * col("sx")), 4)
              .as("heaps_beta"))
      },
      Some(oneLine("""WITH d AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
                 | cp AS (SELECT i, (m * i) // 8 AS c
                 |   FROM (SELECT max(doc_id) AS m FROM documents), range(1,9) t(i)),
                 | g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-1),
                 |     j -> tk[j]||' '||tk[j+1]||' '||tk[j+2])) AS gr
                 |   FROM d WHERE len(tk) >= 3),
                 | f AS (SELECT gr, min(doc_id) AS fd FROM g GROUP BY gr),
                 | v AS (SELECT i, count(*)::BIGINT AS v FROM f JOIN cp ON fd <= c GROUP BY i),
                 | nn AS (SELECT i, sum(greatest(len(tk)-2, 0))::BIGINT AS n
                 |   FROM d JOIN cp ON doc_id <= c GROUP BY i),
                 | pts AS (SELECT i, v, n, ln(n::DOUBLE) AS x, ln(v::DOUBLE) AS y
                 |   FROM v JOIN nn USING (i)),
                 | st AS (SELECT count(*)::DOUBLE AS m8, sum(x) AS sx, sum(y) AS sy,
                 |     sum(x*y) AS sxy, sum(x*x) AS sxx,
                 |     max(CASE WHEN i=8 THEN v END) AS v_total,
                 |     max(CASE WHEN i=8 THEN n END) AS n_total FROM pts)
                 | SELECT v_total, n_total,
                 |   round((m8*sxy - sx*sy) / (m8*sxx - sx*sx), 4) AS heaps_beta
                 | FROM st""")))
  ) ++ importanceOps ++ sketchOps

  // Split out of the main Seq literal — Scala 2.13 chokes on single
  // method bodies past ~certain JVM size with this many large string
  // literals in one Seq(...).
  private lazy val importanceOps: Seq[Q] = Seq(
    // DSIR-style importance weights (hashed-n-gram importance sampling,
    // Xie et al., NeurIPS 2023 — public method): score every raw doc by
    // how target-like its n-gram distribution is, where the target is
    // the lang='en' slice and the raw pool is the whole corpus. Per
    // bigram g the smoothed count ratio (c_tgt(g)+1)/(c_raw(g)+1) is
    // micro-quantized (round(1e6·r), the i23 rule) so the per-doc SUM of
    // per-occurrence scores is an exact int64 — order-free and
    // bit-identical cross-engine; DSIR's log-space (geometric) pooling
    // is the production option behind the SAME plan shape, but ln() is
    // not bit-portable (the i26 rule), so the deterministic twin pools
    // arithmetically. The displayed weight re-scales by the constant
    // smoothing normalizer (S+V)/(T+V) — one double product per output
    // row from exact integer totals, identical both engines. Scale: the
    // shape is exactly j10's — occurrences carry 8-byte xxhash64 keys
    // (counts are hash-invariant; the oracle joins raw bigrams), the
    // ratio table joins WITHOUT a broadcast hint (bigram vocabulary
    // grows with the corpus — j10's rule; AQE broadcasts it locally),
    // the totals are two 1-row aggregates folded in by broadcast, and
    // the top-25 is a TakeOrderedAndProject. One tokenize pass
    // (materialized) feeds the raw counts, target counts, totals,
    // and the scoring spine.
    Q("i60_dsir_importance",
      (s, dir) => dsirImportance(t(s, dir, "documents"), topK = 25),
      Some(oneLine(s"""WITH ${dsirStateCte("occ", "documents")},
                 | sp AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                 |     sum(q)::BIGINT AS sq
                 |   FROM occ JOIN rat ON occ.bg = rat.bg GROUP BY doc_id)
                 | SELECT doc_id, n_bigrams,
                 |   round(sq::DOUBLE / n_bigrams / 1e6 * cfac, 4) AS dsir_weight
                 | FROM sp, cf
                 | ORDER BY sq::DOUBLE / n_bigrams DESC, doc_id LIMIT 25"""))),

    // PCA power-iteration step — the distributed matvec primitive an
    // embedding-pipeline health check runs (top principal direction of
    // the corpus embedding matrix): one step u = Xᵀ(Xv₀) from the
    // deterministic seed v₀ = e₀, i.e. Xv₀ is each row's first
    // coordinate. Both stages micro-quantize (round(1e6·x), the i23
    // rule) so every per-dimension accumulation is a SUM of exact int64
    // products (|1e6·x|·|1e6·x| ≈ 1e12 × 10⁶ rows ≪ 2⁶³) — order-free,
    // bit-identical cross-engine, no float-sum drift. The normalization
    // is deliberately deferred: a full power iteration divides by ‖u‖
    // (one more 1-row broadcast) without changing the plan shape. Scale:
    // this is the gradient-aggregation shape — posexplode is a narrow
    // map-side projection (dim × rows), partial aggregation combines
    // each partition down to d rows BEFORE the shuffle, so the exchange
    // carries (n_partitions × d) rows regardless of corpus size, and
    // the output is dimension-bounded. Xv₀ is a same-row scalar, so q
    // rides the projection — one corpus pass, ZERO joins, one
    // d-group shuffle.
    Q("i61_pca_power_step",
      (s, dir) => pcaPowerStep(t(s, dir, "embeddings")),
      Some(oneLine("""WITH x AS (SELECT
                 |     round(1e6 * embedding[1])::BIGINT AS q,
                 |     unnest(range(0, len(embedding))) AS pos,
                 |     unnest(list_transform(embedding,
                 |       e -> round(1e6 * e)::BIGINT)) AS xq
                 |   FROM embeddings)
                 | SELECT pos, sum(xq * q)::BIGINT AS u_q
                 | FROM x GROUP BY pos ORDER BY pos"""))),

    // Linear-probe GRADIENT step — i61's matvec made SUPERVISED: one
    // exact batch least-squares step training the linear quality probe
    // (the fastText-style filter classifier) that scores docs by
    // embedding: w₁ = w₀ − η·∇, ∇_j = Σᵢ x_ij(xᵢ·w₀ − yᵢ)/n, with the
    // deterministic init w₀_j = ((j mod 7) − 3)·0.1. Everything that
    // sums is integer: xq = round(1e6·x), wq = w₀ in micro-units, the
    // row score sq = Σ xq·wq (≤ 2e13, int64), the residual quantized to
    // MILLI units (rq = trunc(sq/1e9) − 1000·y — milli not micro is the
    // overflow headroom call: |xq·rq| ≤ 3e10 keeps the gradient sum in
    // int64 through sf100's 5e6 rows, where micro-residuals cross 2⁶³
    // at sf10; Spark's `div` truncates toward zero, so the oracle
    // spells trunc(sq/1e9) — DuckDB's // floors and diverges on
    // negative scores). The only floats: one double division per
    // dimension for the update (exact int64s in, IEEE-identical out).
    // Scale = the i61 gradient-aggregation shape: the row score is a
    // same-row zip_with/aggregate (no join), posexplode is a narrow
    // map-side projection, partial agg combines every partition to d
    // rows BEFORE the one d-group shuffle. A full training loop is this
    // step iterated with w broadcast back — the plan shape per epoch is
    // identical.
    Q("i88_probe_gradient",
      (s, dir) => {
        val rows = t(s, dir, "embeddings")
          .select(col("label").cast("long").as("y"),
            transform(col("embedding"),
              v => round(v.cast("double") * 1e6).cast("long")).as("xq"))
        val wArr = expr(
          "transform(sequence(0, size(xq) - 1), j -> CAST(((j % 7) - 3) * 100000 AS BIGINT))")
        val scored = rows
          .withColumn("sq", aggregate(zip_with(col("xq"), wArr, (x, w) => x * w),
            lit(0L), (a, t) => a + t))
          .withColumn("rq", expr("sq div 1000000000") - col("y") * 1000)
        scored.select(col("rq"), posexplode(col("xq")).as(Seq("pos", "x")))
          .groupBy(col("pos").cast("long").as("pos"))
          .agg(count(lit(1)).as("n"), sum(col("x") * col("rq")).as("grad"))
          .withColumn("w0_q", ((col("pos") % 7) - 3) * 100000)
          .withColumn("w1_q", col("w0_q") -
            round(col("grad") / (col("n") * lit(100000.0))).cast("long"))
          .orderBy("pos")
      },
      Some(oneLine("""WITH x AS (SELECT label::BIGINT AS y,
                 |     list_transform(embedding, e -> round(1e6 * e)::BIGINT) AS xq
                 |   FROM embeddings),
                 | s AS (SELECT y, xq,
                 |     CAST(list_sum(list_transform(range(1, len(xq) + 1),
                 |       j -> xq[j] * ((((j - 1) % 7) - 3) * 100000))) AS BIGINT) AS sq
                 |   FROM x),
                 | r AS (SELECT xq,
                 |     trunc(sq / 1000000000.0)::BIGINT - y * 1000 AS rq FROM s),
                 | ex AS (SELECT rq, unnest(range(0, len(xq))) AS pos,
                 |     unnest(xq) AS x FROM r)
                 | SELECT pos, count(*)::BIGINT AS n,
                 |   CAST(sum(x * rq) AS BIGINT) AS grad,
                 |   ((pos % 7) - 3) * 100000 AS w0_q,
                 |   (((pos % 7) - 3) * 100000
                 |     - round(sum(x * rq)::DOUBLE / (count(*) * 100000))::BIGINT) AS w1_q
                 | FROM ex GROUP BY pos ORDER BY pos"""))),

    // Budget-capped selection — the delivery question i53 orders but
    // never cuts: which docs make the training run when the token
    // budget is B = total/3? Greedy best-first by the SAME j2/i53
    // quality expression, resolved at SCORE-LEVEL granularity (a level
    // is in iff the whole level fits the remaining budget): the 3dp
    // score's ≤1001-value domain turns the global greedy rank — the
    // scale trap — into a score-level histogram: one (quality →
    // token-sum) hash-aggregate, a running sum over ≤1001
    // POST-aggregation rows in DESCENDING quality (the i53
    // hygiene-compliant window), the budget as a 1-row broadcast, and
    // the ≤1001-row keep-set broadcast back onto the corpus — the
    // corpus shuffles once (the aggregate), text never moves.
    // All-or-nothing per level is the deterministic contract: equal
    // scores are indistinguishable, so a partial cut inside a level
    // would need an arbitrary tiebreak; the budget is a soft cap and
    // the boundary level stays out (cum ≤ B, cum including the level).
    Q("i63_budget_select",
      (s, dir) => {
        val q = docTokQuality(t(s, dir, "documents"))
        val lvl = q.groupBy(col("quality")).agg(sum(col("n_tok")).as("ltok"))
          .withColumn("cum",
            sum(col("ltok")).over(Window.orderBy(col("quality").desc)))
        val budget = q.agg(expr("sum(n_tok) div 3").as("b"))
        val keep = lvl.crossJoin(broadcast(budget))
          .filter(col("cum") <= col("b")).select(col("quality"))
        q.join(broadcast(keep), Seq("quality"))
          .select(col("doc_id"), col("quality"), col("n_tok"))
          .orderBy("doc_id")
      },
      Some(oneLine(s"""WITH ${LlmOps.tokStatsCte("doc_id")},
                 | q AS (SELECT doc_id, n_tok,
                 |     round(least(n_tok/100.0, 1.0)*0.4 + (n_uniq/n_tok)*0.3 + (1.0 - n_stop/n_tok)*0.3, 3) AS quality
                 |   FROM st),
                 | lvl AS (SELECT quality,
                 |     SUM(sum(n_tok)) OVER (ORDER BY quality DESC)::BIGINT AS cum
                 |   FROM q GROUP BY quality),
                 | b AS (SELECT (sum(n_tok) // 3)::BIGINT AS b FROM q),
                 | keep AS (SELECT quality FROM lvl, b WHERE cum <= b.b)
                 | SELECT doc_id, quality, n_tok FROM q JOIN keep USING (quality)
                 | ORDER BY doc_id"""))),

    // Source-pair distribution divergence — the redundancy diagnostic a
    // mixture designer (i58) reads next: TOTAL-VARIATION distance
    // between every two sources' unigram distributions, TVD(p,q) =
    // ½Σ|p_t − q_t|. The cross-engine trick: with p_t = c1/N1, q_t =
    // c2/N2, every term cross-multiplies to the EXACT integer
    // |c1·N2 − c2·N1| over the constant denominator N1·N2 — no float
    // sum, no ln (the i26 rule); tokens present in only one source
    // contribute (N1−Σboth c1)·N2 + (N2−Σboth c2)·N1 via totals, so
    // the inner token join plus two aggregates covers the full outer
    // sum. One double division per pair, rounded. The pair spine is
    // the 20-row totals frame joined to itself (s1<s2) so pairs with
    // DISJOINT vocabularies still appear (TVD = 1) — an inner-join
    // drive would silently drop exactly the most-divergent pairs.
    // Scale: counts hash-aggregate once ((source, tk) keys, map-side
    // combine) and MATERIALIZE once for both join sides (the
    // nearDupPairs rule); the token join keys on 8-byte hashes and is
    // vocabulary-×-source bounded, never corpus-bounded; totals (K
    // rows) broadcast; output is K² pairs. Overflow honesty: c·N needs
    // < 2⁶³ — fine to ~3·10⁹ tokens/source; a 100 TB corpus first
    // quantizes counts to per-mille probabilities (the i23 rule),
    // which preserves the integer-exactness argument at any scale.
    Q("j15_source_divergence",
      (s, dir) => sourceTvd(t(s, dir, "documents")),
      Some(oneLine("""WITH occ AS (SELECT source, unnest(string_split(text, ' ')) AS w
                 |   FROM documents),
                 | cnt AS (SELECT source, w, count(*)::BIGINT AS c
                 |   FROM occ GROUP BY source, w),
                 | tot AS (SELECT source, sum(c)::BIGINT AS n FROM cnt GROUP BY source),
                 | pairs AS (SELECT t1.source AS s1, t1.n AS n1,
                 |     t2.source AS s2, t2.n AS n2
                 |   FROM tot t1 JOIN tot t2 ON t1.source < t2.source),
                 | bth AS (SELECT a.source AS s1, b.source AS s2,
                 |     sum(abs(a.c * tb.n - b.c * ta.n))::BIGINT AS sabs,
                 |     sum(a.c)::BIGINT AS sb1, sum(b.c)::BIGINT AS sb2
                 |   FROM cnt a JOIN cnt b ON a.w = b.w AND a.source < b.source
                 |     JOIN tot ta ON ta.source = a.source
                 |     JOIN tot tb ON tb.source = b.source
                 |   GROUP BY a.source, b.source)
                 | SELECT s1, s2,
                 |   round((coalesce(sabs, 0) + (n1 - coalesce(sb1, 0)) * n2
                 |       + (n2 - coalesce(sb2, 0)) * n1)::DOUBLE
                 |     / (2 * n1 * n2)::DOUBLE, 6) AS tvd
                 | FROM pairs LEFT JOIN bth USING (s1, s2)
                 | ORDER BY s1, s2"""))),

    // FILTERED ANN — the production retrieval shape i10 stops short of:
    // top-k under a METADATA PREDICATE (label = 1), the "filtered
    // vector search" every RAG store serves. The predicate pushes BELOW
    // the vector math: candidates filter on label before assignment
    // and scoring, so the routing, the probe join, and the dot products
    // all run on the filtered slice — at 100 TB the label predicate
    // prunes at the scan (a parquet row-group skip), and the IVF
    // bucket-bounding still applies within the slice. Assignment is
    // per-vector (independent of the rest of the corpus), so
    // filter-then-assign ≡ assign-then-filter — the oracle uses the
    // shared full-corpus assignment CTE with the label filter at the
    // candidate join, pinning that equivalence cross-engine.
    Q("i65_ann_filtered",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cent = stubCodebook(emb, ivfParams.k)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qemb"))
        val probe = cent.crossJoin(broadcast(qv))
          .select(col("cid"),
            round(VectorFunctions.dot(col("cemb"), col("qemb")), 6).as("qd"))
          .orderBy(col("qd").desc, col("cid"))
          .limit(ivfParams.nprobe).select("cid")
        assignToCentroids(emb.filter(col("label") === 1), cent)
          .join(broadcast(probe), "cid")
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some(ivfTop10Oracle("\n |         WHERE e.label = 1"))),

    // Per-source token concentration — the Simpson/Gini diversity index
    // 1 − Σp², j15's within-source companion (j15 compares sources,
    // this flags a source whose own distribution collapsed to template
    // spam: concentration → 1 means a few tokens dominate). The same
    // exactness trick: with p = c/N the index is 1 − Σc²/N² — Σc² is
    // an exact int64 (c ≤ N ≤ ~3·10⁹ before overflow; a 100 TB corpus
    // quantizes counts first, the i23 rule), one double division per
    // source, rounded. Plan: the (source, tk) count aggregate, then a
    // K-row per-source rollup — two hash aggregates on narrowing keys,
    // map-side combined, nothing else.
    Q("j16_token_gini",
      (s, dir) => tokenGini(t(s, dir, "documents")),
      Some(oneLine("""WITH cnt AS (SELECT source, w, count(*)::BIGINT AS c
                 |   FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                 |         FROM documents)
                 |   GROUP BY source, w)
                 | SELECT source, count(*)::BIGINT AS n_types,
                 |   sum(c)::BIGINT AS n_tok,
                 |   round(1.0 - sum(c * c)::DOUBLE
                 |     / (sum(c)::BIGINT * sum(c)::BIGINT)::DOUBLE, 6) AS gini_diversity
                 | FROM cnt GROUP BY source ORDER BY source"""))),

    // Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    // 1998, the consistent placement a 100 TB corpus store needs when
    // the shard count changes: each doc goes to argmax over shards of
    // md5("shard:s:doc_id"), so growing S=4 → S=5 moves ONLY the docs
    // the NEW shard wins (expected 1/5) and every mover lands ON the
    // new shard — no doc ever moves between two old shards (a mod-S
    // assignment reshuffles (S-1)/S of the corpus instead; PipelineSpec
    // pins the exact law). The argmax is an IN-ROW array_max over a
    // constant S-struct array — map-only, zero shuffle but the output
    // sort, the i54 rule; at any S the weights need no coordination,
    // no ring state, no lookup table — the whole "cluster membership"
    // is the literal shard count.
    Q("i64_rendezvous_shard",
      (s, dir) => rendezvousShards(t(s, dir, "documents")).orderBy("doc_id"),
      Some(oneLine("""WITH w AS (SELECT doc_id, s,
                 |     ('0x' || substr(md5('shard:' || CAST(s AS VARCHAR) || ':'
                 |       || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS w
                 |   FROM documents, range(0, 5) t(s)),
                 | a4 AS (SELECT doc_id, s AS shard4 FROM (
                 |     SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                 |       ORDER BY w DESC, s DESC) AS rn FROM w WHERE s < 4)
                 |   WHERE rn = 1),
                 | a5 AS (SELECT doc_id, s AS shard5 FROM (
                 |     SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                 |       ORDER BY w DESC, s DESC) AS rn FROM w)
                 |   WHERE rn = 1)
                 | SELECT doc_id, shard4::BIGINT AS shard4, shard5::BIGINT AS shard5
                 | FROM a4 JOIN a5 USING (doc_id) ORDER BY doc_id"""))),

    // Incremental DSIR — i60's ingest form (the i25/i36 lift): a NEW
    // batch (doc_id ≥ 400) scores against the PERSISTED corpus state —
    // the quantized ratio table and 1-row normalizer built from the
    // corpus MINUS the batch, exactly what a production ingest keeps
    // between crawls; corpus text is never re-tokenized per batch. A
    // bigram the corpus never saw scores the add-1 prior q = 1e6
    // (LEFT-join coalesce) — OOV text is neutral, not dropped. Scale:
    // the batch side is small by definition, the corpus contributes
    // only its (bk, q) table (16 bytes/bigram — the i36 band-table
    // argument), the score join keys on 8-byte hashes, and the scoring
    // is stateless per doc, so the streaming twin (stream-static join
    // in StreamingSpec) is ≡ batch under ANY micro-batch split.
    Q("i62_dsir_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val (rat, cfac) = dsirState(docs.filter(col("doc_id") < 400))
        dsirScoreAgainst(docs.filter(col("doc_id") >= 400), rat, cfac)
      },
      Some(oneLine(s"""WITH ${dsirStateCte("corp", "documents WHERE doc_id < 400")},
                 | bocc AS (
                 |   SELECT doc_id,
                 |     unnest(list_transform(range(1, len(toks)),
                 |       i -> toks[i] || ' ' || toks[i+1])) AS bg
                 |   FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 |         FROM documents WHERE doc_id >= 400)),
                 | sp AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                 |     sum(coalesce(q, 1000000))::BIGINT AS sq
                 |   FROM bocc LEFT JOIN rat ON bocc.bg = rat.bg GROUP BY doc_id)
                 | SELECT doc_id, n_bigrams,
                 |   round(sq::DOUBLE / n_bigrams / 1e6 * cfac, 4) AS dsir_weight
                 | FROM sp, cf ORDER BY doc_id""")))
  )

  private lazy val sketchOps: Seq[Q] = Seq(

    // Greedy k-CENTER batch step — the diverse-subset / coreset
    // selection primitive (farthest-point traversal): given the current
    // centers (vec_id < 4, the deterministic seed), emit the 5
    // candidates FARTHEST from their nearest center — the next center
    // batch; iterating this step with the winners appended builds the
    // k-center cover a curation run uses to pick maximally-diverse
    // training data. Exact integer geometry: d² = Σ(xq−cq)² of
    // micro-quantized coordinates (diff ≤ 2e6, squared 4e12, ×64 dims
    // ≪ 2⁶³). The scale spelling has ZERO hash Exchanges: the center
    // set collapses to ONE collected row (it is k vectors by
    // definition, order-irrelevant under min), rides a broadcast
    // nested-loop of exactly one row (the i26 1-row rule), the
    // min-over-centers is a row-local HOF over that array, and the
    // global top-5 is a TakeOrderedAndProject — the corpus never
    // shuffles, never self-joins.
    Q("i90_kcenter_step",
      (s, dir) => {
        val x = t(s, dir, "embeddings")
          .select(col("vec_id"), transform(col("embedding"),
            v => round(v.cast("double") * 1e6).cast("long")).as("xq"))
        val cs = x.filter(col("vec_id") < 4)
          .agg(collect_list(col("xq")).as("cs"))
        x.filter(col("vec_id") >= 4)
          .crossJoin(broadcast(cs))
          .withColumn("mind2", array_min(transform(col("cs"),
            cq => aggregate(zip_with(col("xq"), cq, (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, t2) => acc + t2))))
          .orderBy(col("mind2").desc, col("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("mind2"))
      },
      Some(oneLine("""WITH x AS (SELECT vec_id,
                 |     list_transform(embedding, e -> round(1e6 * e)::BIGINT) AS xq
                 |   FROM embeddings),
                 | c AS (SELECT list(xq) AS cs FROM x WHERE vec_id < 4),
                 | d AS (SELECT vec_id,
                 |     list_min(list_transform(cs, cq ->
                 |       CAST(list_sum(list_transform(range(1, len(xq) + 1),
                 |         j -> (xq[j] - cq[j]) * (xq[j] - cq[j]))) AS BIGINT))) AS mind2
                 |   FROM x, c WHERE vec_id >= 4)
                 | SELECT vec_id, mind2 FROM d
                 | ORDER BY mind2 DESC, vec_id LIMIT 5"""))),

    // k-NN majority-vote classification — the auto-labeling step a
    // training pipeline runs to propagate a seed set's labels (topic,
    // quality tier, domain) onto unlabeled data: each query vector takes
    // the majority label of its 10 nearest neighbors in the labeled
    // pool, ties broken (votes desc, label asc) so the verdict is total.
    // This is the EXACT brute-force form over the 20-query sample — the
    // i28 rule: ground truth on a sample is |sample|·|corpus| narrow dot
    // products with the query batch BROADCAST (never an all-pairs corpus
    // join); the production path labels via the same vote stage over
    // i42's IVF-PQ candidates instead of the full pool. The per-query
    // rank window partitions on qid (sample-bounded fan-out), the vote
    // aggregate is 10 rows per query.
    Q("i69_knn_classify",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
            col("label").as("true_label"))
        val pool = emb.filter(col("vec_id") >= 20)
        pool.crossJoin(broadcast(q))
          .select(col("qid"), col("true_label"), col("vec_id"), col("label"),
            round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
          .groupBy(col("qid"), col("true_label"), col("label"))
          .agg(count(lit(1)).as("votes"))
          .withColumn("pick", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("votes").desc, col("label"))))
          .filter(col("pick") === 1)
          .select(col("qid"), col("label").as("pred_label"),
            col("true_label"), col("votes"))
          .orderBy("qid")
      },
      Some(oneLine("""WITH q AS (SELECT vec_id AS qid, embedding AS qemb, label AS true_label
                 |   FROM embeddings WHERE vec_id < 20),
                 | sims AS (SELECT qid, vec_id, round(sum(p), 3) AS sim
                 |   FROM (SELECT q.qid, e.vec_id,
                 |           unnest(e.embedding)::DOUBLE * unnest(q.qemb)::DOUBLE AS p
                 |         FROM embeddings e, q WHERE e.vec_id >= 20)
                 |   GROUP BY 1, 2),
                 | top10 AS (SELECT qid, vec_id FROM (
                 |     SELECT qid, vec_id,
                 |       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
                 |     FROM sims) WHERE rn <= 10),
                 | votes AS (SELECT t.qid, e.label, count(*)::BIGINT AS votes
                 |   FROM top10 t JOIN embeddings e ON t.vec_id = e.vec_id
                 |   GROUP BY 1, 2),
                 | pick AS (SELECT qid, label AS pred_label, votes FROM (
                 |     SELECT qid, label, votes,
                 |       row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rn
                 |     FROM votes) WHERE rn = 1)
                 | SELECT p.qid, p.pred_label, q.true_label, p.votes
                 | FROM pick p JOIN q ON p.qid = q.qid ORDER BY p.qid"""))),

    // Count–Min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
    // streaming-friendly frequency sketch a 100 TB token pipeline keeps
    // instead of the full count table: d=3 hash rows × w=64 counters,
    // built in ONE map-side-combined aggregate (the corpus shuffles at
    // most d·w = 192 cells per partition, constant regardless of corpus
    // or vocabulary size — THE point vs the exact count table, whose
    // shuffle is vocabulary-sized). Hashes are md5-derived (row i keys
    // token w at ('0x'+md5(i:w)[0:8]) mod 64 — the b16/i16
    // content-addressed rule, reproducible in any engine). The estimate
    // for a probe token is min over rows of its counter — never an
    // undercount (PipelineSpec pins est ≥ truth); the probe set here is
    // the exact top-20 (the eval harness — also how the sketch's
    // overcount is measured in production), and the probe join
    // broadcasts the 192-cell sketch. The truth side's vocab-sized
    // aggregate exists only for this eval; the production artifact is
    // the sketch alone.
    Q("i67_cms_heavy_hitters",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sk = cmsSketch(docs)
        val toks = docs.select(explode(split(col("text"), " ")).as("w"))
        val top = toks.groupBy(col("w")).agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("w")).limit(20)
        top
          .select(col("w"), col("true_cnt"),
            explode(array(lit(0), lit(1), lit(2))).as("i"))
          .withColumn("b", cmsBucket(col("i"), col("w")))
          .join(broadcast(sk), Seq("i", "b"))
          .groupBy(col("w"), col("true_cnt"))
          .agg(min(col("c")).as("est_cnt"))
          .select(col("w"), col("true_cnt"), col("est_cnt"),
            (col("est_cnt") - col("true_cnt")).as("overcount"))
          .orderBy(col("true_cnt").desc, col("w"))
      },
      Some(oneLine("""WITH toks AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
                 | sk AS (SELECT i, ('0x'||substr(md5(i||':'||w),1,8))::BIGINT % 64 AS b,
                 |     count(*)::BIGINT AS c
                 |   FROM toks, range(0,3) t(i) GROUP BY 1, 2),
                 | top AS (SELECT w, count(*)::BIGINT AS true_cnt FROM toks GROUP BY w
                 |   ORDER BY true_cnt DESC, w LIMIT 20),
                 | est AS (SELECT w, true_cnt, min(c)::BIGINT AS est_cnt
                 |   FROM (SELECT t.w, t.true_cnt, sk.c
                 |         FROM top t, range(0,3) r(i)
                 |         JOIN sk ON sk.i = r.i
                 |           AND sk.b = ('0x'||substr(md5(r.i||':'||t.w),1,8))::BIGINT % 64)
                 |   GROUP BY w, true_cnt)
                 | SELECT w, true_cnt, est_cnt, (est_cnt - true_cnt)::BIGINT AS overcount
                 | FROM est ORDER BY true_cnt DESC, w"""))),

    // Bloom-prescreened contamination screen — i19's at-scale form: when
    // the eval shingle set is too big to broadcast raw, its
    // `bloom_filter_agg` bitmap (kilobytes for millions of shingles)
    // broadcasts instead, and `might_contain` drops ~all clean train
    // shingles BEFORE the exact confirm join ever shuffles them; the
    // confirm join then runs only on prescreen survivors, so Bloom false
    // positives cost a lookup, never a wrong answer. Output is
    // IDENTICAL to i19 (same oracle SQL; PipelineSpec pins the
    // DataFrame-level equivalence, PlanSpec pins that might_contain
    // guards the join) — the sketch changes the plan, not the
    // semantics. The per-doc size count aggregates the train stream
    // separately (no join needed for it); at 100 TB the shingle table is
    // the persisted artifact (the i36 band-table rule), so neither pass
    // re-tokenizes.
    Q("i68_bloom_prescreen",
      (s, dir) => {
        // might_contain requires its bloom input as a scalar subquery (a
        // constant per task), so the screen is phrased in SQL: the
        // subquery builds the bitmap once, every task probes it inline.
        t(s, dir, "documents")
          .select(col("doc_id"), explode(shingleZip(col("text"))).as("z"))
          .select(col("doc_id"),
            xxhash64(col("z.0"), col("z.1"), col("z.2")).as("sh"))
          .distinct()
          .createOrReplaceTempView("v_i68_sh")
        // Size the bitmap from the BUILD side (ADVICE r13, same rule as
        // b34): the eval set is a fixed 50 docs but its shingle count
        // still grows with document length across SFs, and a saturated
        // bloom is a silent no-op prescreen. The count pass re-derives
        // only the 50 eval docs' shingles — bounded at any corpus size.
        val nEval = math.max(10000L,
          s.sql("SELECT count(DISTINCT sh) FROM v_i68_sh WHERE doc_id < 50")
            .head().getLong(0))
        val nBits = math.min(nEval * 8L, 67108864L)
        s.sql(s"""WITH ev AS (SELECT DISTINCT sh FROM v_i68_sh WHERE doc_id < 50),
                |tr AS (SELECT doc_id, sh FROM v_i68_sh WHERE doc_id >= 50),
                |sz AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id),
                |pre AS (SELECT doc_id, sh FROM tr
                |  WHERE graft_might_contain(
                |    (SELECT graft_bloom_agg(sh, ${nEval}L, ${nBits}L) FROM ev), sh)),
                |shd AS (SELECT doc_id, count(*) AS n_shared
                |  FROM pre LEFT SEMI JOIN ev ON pre.sh = ev.sh GROUP BY doc_id)
                |SELECT sz.doc_id, n_shared,
                |  round(CAST(n_shared AS DOUBLE) / n_sh, 3) AS containment
                |FROM sz JOIN shd ON sz.doc_id = shd.doc_id
                |WHERE CAST(n_shared AS DOUBLE) / n_sh >= 0.2
                |ORDER BY sz.doc_id""".stripMargin)
      },
      Some(contaminationOracle)),

    // MinHash estimator calibration — the i28 rule applied to the
    // MinHash sketch: for every EXACT J ≥ 0.9 pair (i2's output), the
    // 8-permutation signature agreement n_agree/8 is the sketch's
    // Jaccard estimate; E[n_agree/8] = J, so high-J pairs must agree on
    // most components. The measurement a pipeline runs before trusting
    // LSH banding thresholds (band/row trade-offs are derived from this
    // estimator's variance — 8 perms ⇒ σ ≈ √(J(1−J)/8)). All integer
    // agreement counts joined onto the exact pairs; the signature table
    // is the i7 artifact (doc_id + 64 bytes), so both joins move
    // sketches, never text.
    Q("i71_minhash_estimate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        minhashEstimate(graft.operators.LlmOps.nearDupPairs(docs),
          minhashSig(docs))
      },
      Some(oneLine(s"""WITH ${LlmOps.nearDupPairsCte},
                 | ${duckSigCte("stok")},
                 | ag AS (SELECT nd.doc_id1, nd.doc_id2, nd.jaccard,
                 |     (${(0 until 8).map(j =>
                      s"(CASE WHEN s1.mh$j = s2.mh$j THEN 1 ELSE 0 END)")
                      .mkString(" + ")})::BIGINT AS n_agree
                 |   FROM nd JOIN sig s1 ON nd.doc_id1 = s1.doc_id
                 |     JOIN sig s2 ON nd.doc_id2 = s2.doc_id)
                 | SELECT doc_id1, doc_id2, jaccard, n_agree,
                 |   round(n_agree / 8.0, 3) AS est_jaccard
                 | FROM ag ORDER BY doc_id1, doc_id2"""))),

    // (i72 helpers live below the registry — snapshotOld/snapshotNew/
    // snapshotClassify — shared with the streaming twin in StreamingSpec:
    // classification of an arriving new-side doc is STATELESS given the
    // broadcast old fingerprint table, so a shuffled micro-batch feed
    // reproduces the batch delta; only 'removed' (old ids never seen)
    // needs end-of-stream, an anti-join both paths share.)
    // Corpus snapshot diff — the dataset-versioning primitive: two crawl
    // snapshots (old = ids < 450; new = ids ≥ 50, with a deterministic
    // simulated edit on every 7th doc) reconcile into
    // added/removed/changed/same by FINGERPRINT comparison under a full
    // outer join on doc_id. In production both sides are the persisted
    // md5 tables (the i1 artifact) — the diff joins 8-byte ids carrying
    // 16-byte fingerprints and never moves text; the per-doc delta table
    // is this same plan minus the final 4-row rollup, which is what the
    // oracle hash-checks. All four statuses are non-vacuous at every SF
    // by construction of the id windows.
    Q("i72_snapshot_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val old = snapshotOld(docs)
        val nw = snapshotNew(docs)
        snapshotClassify(nw, old)
          .unionAll(old.join(nw, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), lit("removed").as("status")))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy("status")
      },
      Some(oneLine("""WITH old AS (SELECT doc_id, md5(text) AS fp
                 |   FROM documents WHERE doc_id < 450),
                 | new AS (SELECT doc_id,
                 |     md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
                 |   FROM documents WHERE doc_id >= 50),
                 | d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                 |     CASE WHEN o.doc_id IS NULL THEN 'added'
                 |          WHEN n.doc_id IS NULL THEN 'removed'
                 |          WHEN o.fp <> n.fp THEN 'changed' ELSE 'same' END AS status
                 |   FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
                 | SELECT status, count(*)::BIGINT AS n_docs,
                 |   min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
                 | FROM d GROUP BY status ORDER BY status"""))),

    // Per-source token Shannon entropy — j16's log-scale companion (the
    // Rényi α→1 limit where j16 is α=2): low entropy flags template
    // spam, near-max entropy flags random/encrypted junk; norm_entropy
    // (H / log |V|) is the scale-free form quality pipelines threshold
    // on. Cross-engine float hazard handled the j13 way, but exact: each
    // type's contribution c·ln(c) is QUANTIZED to an int64 at 1e-6
    // resolution and summed exactly (sum order can't matter), so the
    // only float step is one final H = ln N − S/N per source — a 1-unit
    // quantization difference moves H by 1e-6/N ≪ the round(4)
    // contract. Plan: the (source, token-hash) count aggregate, then a
    // per-source rollup — two map-side-combined hash aggregates on
    // narrowing keys, the j16 shape exactly.
    Q("j17_token_entropy",
      (s, dir) => tokenEntropy(t(s, dir, "documents")),
      Some(oneLine("""WITH cnt AS (SELECT source, w, count(*)::BIGINT AS c
                 |   FROM (SELECT source, unnest(string_split(text,' ')) AS w FROM documents)
                 |   GROUP BY source, w),
                 | per AS (SELECT source, count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_tok,
                 |     sum(CAST(round(c * ln(c) * 1e6) AS BIGINT))::BIGINT AS s_q
                 |   FROM cnt GROUP BY source)
                 | SELECT source, n_types, n_tok,
                 |   round((ln(n_tok) - s_q / 1e6 / n_tok) / ln(2), 4) AS entropy_bits,
                 |   round(CASE WHEN n_types > 1
                 |     THEN (ln(n_tok) - s_q / 1e6 / n_tok) / ln(n_types)
                 |     ELSE 1.0 END, 4) AS norm_entropy
                 | FROM per ORDER BY source"""))),

    // LSH banding PRECISION/RECALL eval — the measurement that justifies
    // a band/row configuration before a 100 TB run trusts it (i71
    // calibrates the estimator's VALUE; this grades the candidate SET):
    // raw band-collision candidates vs the exact J ≥ 0.9 pairs under a
    // full outer join on the pair key → TP/FP/FN counts and the derived
    // precision/recall. Both inputs are the already-bucketed pipelines
    // (band-key equi-join, prefix-filtered exact join); the outer join
    // moves only 16-byte pair keys, and the rollup is one row. This is
    // the eval a pipeline re-runs on a sample after every tokenizer or
    // banding change — candidates ⊂ sample² keeps it cheap at any scale.
    Q("i75_lsh_eval",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        lshEval(
          bandCandidates(minhashSig(docs)).withColumn("is_cand", lit(1L)),
          LlmOps.nearDupPairs(docs)
            .select(col("doc_id1"), col("doc_id2"))
            .withColumn("is_true", lit(1L)))
      },
      Some(oneLine(s"""WITH ${duckSigCte("stok")},
                 | bands AS (
                 |   SELECT doc_id, source, 0 AS b, mh0 AS x, mh1 AS y FROM sig UNION ALL
                 |   SELECT doc_id, source, 1, mh2, mh3 FROM sig UNION ALL
                 |   SELECT doc_id, source, 2, mh4, mh5 FROM sig UNION ALL
                 |   SELECT doc_id, source, 3, mh6, mh7 FROM sig),
                 | cand AS (
                 |   SELECT DISTINCT l.doc_id AS doc_id1, r.doc_id AS doc_id2
                 |   FROM bands l JOIN bands r
                 |     ON l.b=r.b AND l.x=r.x AND l.y=r.y AND l.source=r.source
                 |        AND l.doc_id<r.doc_id),
                 | ${LlmOps.nearDupPairsCte},
                 | jj AS (
                 |   SELECT c.doc_id1 IS NOT NULL AS ic, x.doc_id1 IS NOT NULL AS it
                 |   FROM cand c FULL OUTER JOIN nd x
                 |     ON c.doc_id1 = x.doc_id1 AND c.doc_id2 = x.doc_id2),
                 | k AS (SELECT
                 |   CAST(count(*) FILTER (WHERE ic AND it) AS BIGINT) AS tp,
                 |   CAST(count(*) FILTER (WHERE ic AND NOT it) AS BIGINT) AS fp,
                 |   CAST(count(*) FILTER (WHERE NOT ic AND it) AS BIGINT) AS fn
                 |   FROM jj)
                 | SELECT tp, fp, fn,
                 |   CASE WHEN tp + fp > 0 THEN round(tp * 1.0 / (tp + fp), 4) END AS precision,
                 |   CASE WHEN tp + fn > 0 THEN round(tp * 1.0 / (tp + fn), 4) END AS recall
                 | FROM k"""))),

    // Per-label embedding CENTROID DRIFT between two snapshot halves —
    // the distribution-shift monitor a training pipeline runs between
    // crawl versions (did class k's semantic mass move?): split by
    // vec_id parity (SF-independent, both halves non-vacuous at any
    // scale), per (label, dimension) the micro-quantized component sums
    // (exact int64, order-free — the i23 rule), means re-quantized to
    // int micro-units (the i23b cmean_q arithmetic, so the only float
    // steps are deterministic int-ratio divisions), then cosine between
    // the two integer mean vectors — dot and norms are int64-exact
    // (|mq| ≤ 1e6, dim ≤ 64 ⇒ Σ mq² ≤ 6.4e13), one sqrt at the end.
    // Plan: one narrow posexplode pass + two stacked hash aggregates on
    // narrowing keys (label, pos) → (label); shuffles carry quantized
    // longs, never raw vectors.
    Q("j18_embedding_drift",
      (s, dir) => {
        val px = t(s, dir, "embeddings")
          .select(col("label"), pmod(col("vec_id"), lit(2L)).as("par"),
            posexplode(col("embedding")))
          .select(col("label"), col("par"), col("pos").cast("long").as("pos"),
            round(col("col").cast("double") * 1e6).cast("long").as("vq"))
        val sums = px.groupBy(col("label"), col("pos"))
          .agg(
            sum(when(col("par") === 0, col("vq"))).as("se"),
            sum(when(col("par") === 1, col("vq"))).as("so"),
            sum(when(col("par") === 0, 1L).otherwise(0L)).as("ne"),
            sum(when(col("par") === 1, 1L).otherwise(0L)).as("no"))
          .select(col("label"), col("ne"), col("no"),
            round(col("se").cast("double") / col("ne")).cast("long").as("me"),
            round(col("so").cast("double") / col("no")).cast("long").as("mo"))
        sums.groupBy(col("label"))
          .agg(max(col("ne")).as("n_even"), max(col("no")).as("n_odd"),
            sum(col("me") * col("mo")).as("dot"),
            sum(col("me") * col("me")).as("n2e"),
            sum(col("mo") * col("mo")).as("n2o"))
          .select(col("label").cast("long").as("label"),
            col("n_even"), col("n_odd"),
            round(col("dot") / (sqrt(col("n2e")) * sqrt(col("n2o"))), 5)
              .as("cos_drift"))
          .orderBy("label")
      },
      Some(oneLine("""WITH px AS (
                 |   SELECT label, vec_id % 2 AS par,
                 |     unnest(range(0, len(embedding))) AS pos,
                 |     unnest(list_transform(range(0, len(embedding)),
                 |       i -> round(embedding[i + 1]::DOUBLE * 1e6)::BIGINT)) AS vq
                 |   FROM embeddings),
                 | sums AS (
                 |   SELECT label, pos,
                 |     CAST(count(*) FILTER (WHERE par = 0) AS BIGINT) AS ne,
                 |     CAST(count(*) FILTER (WHERE par = 1) AS BIGINT) AS no,
                 |     round(CAST(sum(CASE WHEN par = 0 THEN vq END) AS DOUBLE) /
                 |       count(*) FILTER (WHERE par = 0))::BIGINT AS me,
                 |     round(CAST(sum(CASE WHEN par = 1 THEN vq END) AS DOUBLE) /
                 |       count(*) FILTER (WHERE par = 1))::BIGINT AS mo
                 |   FROM px GROUP BY label, pos)
                 | SELECT CAST(label AS BIGINT) AS label,
                 |   max(ne) AS n_even, max(no) AS n_odd,
                 |   round(CAST(sum(me * mo) AS BIGINT) /
                 |     (sqrt(CAST(sum(me * me) AS BIGINT)) * sqrt(CAST(sum(mo * mo) AS BIGINT))), 5)
                 |     AS cos_drift
                 | FROM sums GROUP BY label ORDER BY label"""))),

    // Modality/storage accounting ROLLUP — the capacity-planning view of
    // the m1 metadata: assets, total bytes, and the largest payload per
    // (source, format) with ROLLUP subtotals per source and a grand
    // total (the report a 100 TB multimodal lake emits per ingest). The
    // decode stays the m1 stub (no media libs here); the aggregate is
    // one hash aggregate with map-side combine — Expand replicates each
    // row ×3 for the grouping sets, all integer arithmetic.
    Q("m3_modality_rollup",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("source"), encode(col("text"), "UTF-8").as("payload"),
            conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long").as("h"))
          .select(col("source"),
            length(col("payload")).cast("long").as("n_bytes"),
            when(col("h") % 3 === 0, "png")
              .when(col("h") % 3 === 1, "jpeg").otherwise("webp").as("fmt"))
          .rollup(col("source"), col("fmt"))
          .agg(count(lit(1)).as("n_assets"),
            sum(col("n_bytes")).as("total_bytes"),
            max(col("n_bytes")).as("max_bytes"))
          .select(coalesce(col("source"), lit("ALL")).as("source"),
            coalesce(col("fmt"), lit("ALL")).as("fmt"),
            col("n_assets"), col("total_bytes"), col("max_bytes"))
          .orderBy("source", "fmt"),
      Some(oneLine("""SELECT coalesce(source, 'ALL') AS source,
                 |   coalesce(fmt, 'ALL') AS fmt,
                 |   count(*) AS n_assets,
                 |   CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                 |   max(n_bytes) AS max_bytes
                 | FROM (SELECT source, octet_length(text::BLOB)::BIGINT AS n_bytes,
                 |     CASE WHEN h % 3 = 0 THEN 'png' WHEN h % 3 = 1 THEN 'jpeg'
                 |          ELSE 'webp' END AS fmt
                 |   FROM (SELECT source, text, ('0x'||substr(md5(text),1,4))::BIGINT AS h
                 |         FROM documents))
                 | GROUP BY ROLLUP (source, fmt)
                 | ORDER BY source, fmt"""))),

    // HARD-NEGATIVE mining — the contrastive-training data step (the
    // highest-similarity pool vectors with a DIFFERENT label are exactly
    // the negatives a metric-learning loss needs): for each of the 20
    // sample queries, the top-5 nearest different-label neighbors. The
    // i28/i69 rule verbatim: query batch BROADCAST against the pool
    // (|sample|·|corpus| narrow dot products, never an all-pairs corpus
    // join), the label-exclusion predicate rides the broadcast join (no
    // post-join re-shuffle), the rank window partitions on the
    // sample-bounded qid. Production swaps the full pool for i42's
    // IVF-PQ candidates — the vote/rank stage is unchanged.
    Q("i76_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
            col("label").as("qlabel"))
        emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
          .select(col("qid"), col("vec_id"), col("label").cast("long").as("neg_label"),
            round(VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("sim").desc, col("vec_id"))).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("rk"), col("vec_id"), col("neg_label"), col("sim"))
          .orderBy("qid", "rk")
      },
      Some(oneLine("""WITH q AS (SELECT vec_id AS qid, embedding AS qemb, label AS qlabel
                 |   FROM embeddings WHERE vec_id < 20),
                 | sims AS (SELECT qid, vec_id, min(neg_label) AS neg_label,
                 |     round(sum(p), 3) AS sim
                 |   FROM (SELECT q.qid, e.vec_id, CAST(e.label AS BIGINT) AS neg_label,
                 |           unnest(e.embedding)::DOUBLE * unnest(q.qemb)::DOUBLE AS p
                 |         FROM embeddings e, q
                 |         WHERE e.vec_id <> q.qid AND e.label <> q.qlabel)
                 |   GROUP BY 1, 2)
                 | SELECT qid, rk, vec_id, neg_label, sim FROM (
                 |   SELECT qid, vec_id, neg_label, sim,
                 |     CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
                 |   FROM sims)
                 | WHERE rk <= 5 ORDER BY qid, rk"""))),

    // CLUSTER PURITY eval — the label-agreement measurement that tells a
    // pipeline whether its embedding clustering (the i10/i29 routing
    // substrate) tracks the semantic classes it will be used to
    // curate by: per cluster the member count, majority label, and
    // purity = majority/count. Assignment is the shared shuffle-free
    // i23 path (broadcast codebook + inline argmax); the label join
    // moves (vec_id, cid) pairs only; the majority pick is a k-bounded
    // rank window. All-integer until the final ratio.
    Q("i77_cluster_purity",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val asg = assignToCentroids(emb, stubCodebook(emb, ivfParams.k))
          .select(col("vec_id"), col("cid"))
        val lab = asg
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
          .groupBy(col("cid"), col("label"))
          .agg(count(lit(1)).as("c"))
        val tot = lab.groupBy(col("cid")).agg(sum(col("c")).as("n_members"))
        lab
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("cid")).orderBy(col("c").desc, col("label"))))
          .filter(col("rn") === 1)
          .join(tot, "cid")
          .select(col("cid"), col("n_members"),
            col("label").cast("long").as("top_label"), col("c").as("top_count"),
            round(col("c") / col("n_members"), 4).as("purity"))
          .orderBy("cid")
      },
      Some(oneLine(s"""WITH ${centroidAssignCte()},
                 | lab AS (SELECT a.cid, e.label, count(*)::BIGINT AS c
                 |   FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
                 |   GROUP BY 1, 2),
                 | tot AS (SELECT cid, CAST(sum(c) AS BIGINT) AS n_members
                 |   FROM lab GROUP BY cid),
                 | top AS (SELECT cid, label AS top_label, c AS top_count FROM (
                 |     SELECT cid, label, c,
                 |       row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn
                 |     FROM lab) WHERE rn = 1)
                 | SELECT t.cid, t.n_members, CAST(p.top_label AS BIGINT) AS top_label,
                 |   p.top_count, round(p.top_count * 1.0 / t.n_members, 4) AS purity
                 | FROM tot t JOIN top p ON t.cid = p.cid ORDER BY t.cid"""))),

    // Mixture REALIZATION — i58 computes the target per-source weights;
    // this op actually draws the mixture: each source gets an integer
    // acceptance threshold thr = min(20000, ⌊20000·tot_tok/(K·n_tok)⌋)
    // (uniform-token-mass target, thinning-only — a weight > 1 caps at
    // keep-all; upsampling is i34's job), and each doc keeps iff its
    // content-addressed coin (i73's salted-md5 mod 20000) < thr. ALL
    // integer — the threshold division is exact int64 (20000·tot_tok
    // stays < 2^63 for any realistic corpus; the float form would lose
    // exactness past 2^53), the coin test is the i73 pure filter, so at
    // scale this is one K-row aggregate + a broadcast threshold join +
    // a scan-parallel filter. The per-source kept counts are the
    // shipped report; the kept doc set itself is the same plan minus
    // the rollup.
    Q("i78_mixture_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val all = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val thr = docs
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tok"))
          .withColumn("tot_tok", sum(col("n_tok")).over(all))
          .withColumn("k", count(lit(1)).over(all))
          .withColumn("thr",
            expr("least(20000L, (20000L * tot_tok) div (k * n_tok))"))
          .select(col("source"), col("n_docs"), col("thr"))
        val coin = conv(substring(
          md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 12),
          16, 10).cast("long") % 20000
        val kept = docs.join(broadcast(thr.select("source", "thr")), "source")
          .filter(coin < col("thr"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        thr.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("thr"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(oneLine("""WITH per AS (SELECT source, count(*)::BIGINT AS n_docs,
                 |     sum(len(string_split(text,' ')))::BIGINT AS n_tok
                 |   FROM documents GROUP BY source),
                 | tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
                 |     count(*)::BIGINT AS k FROM per),
                 | thr AS (SELECT source, n_docs,
                 |     CAST(least(20000, (20000 * tot_tok) // (k * n_tok)) AS BIGINT) AS thr
                 |   FROM per, tot),
                 | kept AS (SELECT d.source, count(*)::BIGINT AS n_kept
                 |   FROM documents d JOIN thr t ON d.source = t.source
                 |   WHERE ('0x'||substr(md5('mix:'||CAST(d.doc_id AS VARCHAR)),1,12))::BIGINT % 20000
                 |         < t.thr
                 |   GROUP BY d.source)
                 | SELECT t.source, t.n_docs, t.thr,
                 |   coalesce(k.n_kept, 0)::BIGINT AS n_kept
                 | FROM thr t LEFT JOIN kept k ON t.source = k.source
                 | ORDER BY t.source"""))),

    // Frame-sample MANIFEST — the m2 rule applied to the video path: the
    // REAL typed-Dataset mapPartitions frame sampler (`sampleFrames` —
    // the generator shape a video pipeline decodes through) runs
    // end-to-end and its per-frame output is hash-checked against a SQL
    // oracle reproducing the stride arithmetic from octet lengths alone
    // (nf = min(4, max(1, len div 64)), stride = max(64, len div nf),
    // frame_len = min(start+64, len) − start — all integer, and
    // (nf−1)·stride < len always, so every frame is non-empty). Only
    // the codec is stubbed; the row-explosion plumbing being graded is
    // real and partition-parallel.
    Q("m4_frame_manifest",
      (s, dir) => {
        import s.implicits._
        val payloads = t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
        sampleFrames(payloads, 64, 4).toDF()
          .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
            length(col("frame")).cast("long").as("frame_len"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(oneLine("""WITH b AS (SELECT doc_id, octet_length(text::BLOB) AS len FROM documents),
                 | p AS (SELECT doc_id, len, least(4, greatest(1, len // 64)) AS nf FROM b),
                 | st AS (SELECT doc_id, len, nf, greatest(64, len // nf) AS stride FROM p),
                 | f AS (SELECT doc_id, unnest(range(0, nf)) AS frame_idx, len, stride FROM st)
                 | SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                 |   CAST(least(frame_idx * stride + 64, len) - frame_idx * stride AS BIGINT)
                 |     AS frame_len
                 | FROM f ORDER BY doc_id, frame_idx"""))),

    // SHOT SEGMENTATION over the m4 frame stream — the video-pipeline
    // shape after frame sampling (PySceneDetect's content detector):
    // per-frame feature, cut where the feature jumps, consecutive
    // frames between cuts grouped into shots, one manifest row per
    // shot. The REAL plumbing is graded end-to-end: the typed
    // mapPartitions sampler explodes frames, the per-frame feature is a
    // codegen'd projection, the cut detection is a per-doc lag window
    // (bounded by maxFrames, never corpus-wide), and the shot rollup is
    // a hash aggregate. Only the FEATURE is a codec stand-in (first
    // md5 byte of the frame octets — a real pipeline plugs a frame
    // histogram in the same column). The oracle rebuilds frames from
    // octet arithmetic and slices the VARCHAR — equal to the engine's
    // octet slice because the fixture corpus is ASCII (verified
    // octet_length == length at every SF); a non-ASCII corpus would
    // need a blob-capable oracle, the Spark side already slices bytes.
    Q("m5_shot_segments",
      (s, dir) => {
        import s.implicits._
        val payloads = t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
        sampleFrames(payloads, 64, 4).toDF()
          .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
            conv(substring(md5(col("frame")), 1, 2), 16, 10).cast("long").as("feat"))
          .withColumn("prev", lag(col("feat"), 1).over(w))
          .withColumn("cut",
            when(col("prev").isNull || abs(col("feat") - col("prev")) > 96, 1L)
              .otherwise(0L))
          .withColumn("shot_idx",
            sum(col("cut")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("shot_idx"))
          .agg(min(col("frame_idx")).as("start_frame"),
            count(lit(1)).as("n_frames"),
            min(col("feat")).as("feat_min"),
            max(col("feat")).as("feat_max"))
          .orderBy("doc_id", "shot_idx")
      },
      Some(oneLine("""WITH b AS (SELECT doc_id, text, octet_length(text::BLOB) AS len FROM documents),
                 | p AS (SELECT doc_id, text, len, least(4, greatest(1, len // 64)) AS nf FROM b),
                 | st AS (SELECT doc_id, text, len, nf, greatest(64, len // nf) AS stride FROM p),
                 | f AS (SELECT doc_id, unnest(range(0, nf)) AS frame_idx, text, len, stride FROM st),
                 | feat AS (SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                 |     ('0x'||substr(md5(substr(text, CAST(frame_idx*stride + 1 AS BIGINT),
                 |        CAST(least(frame_idx*stride + 64, len) - frame_idx*stride AS BIGINT))),1,2))::BIGINT AS feat
                 |   FROM f),
                 | cut AS (SELECT doc_id, frame_idx, feat,
                 |     CASE WHEN lag(feat) OVER w IS NULL
                 |       OR abs(feat - lag(feat) OVER w) > 96 THEN 1 ELSE 0 END AS cut
                 |   FROM feat WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
                 | sh AS (SELECT doc_id, frame_idx, feat,
                 |     sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                 |       ROWS UNBOUNDED PRECEDING) AS shot_idx
                 |   FROM cut)
                 | SELECT doc_id, CAST(shot_idx AS BIGINT) AS shot_idx,
                 |   min(frame_idx) AS start_frame, count(*) AS n_frames,
                 |   min(feat) AS feat_min, max(feat) AS feat_max
                 | FROM sh GROUP BY 1, 2 ORDER BY doc_id, shot_idx"""))),

    // ASPECT-RATIO bucketing — the batched-image-training step (the
    // SDXL recipe): variable-shape images can't batch, so each image
    // joins the NEAREST of 9 canonical aspect buckets and is resized
    // within it. Nearest-ratio is an EXACT RATIONAL argmin, no floats:
    // |w/h − p/q| comparisons cross-multiply to |w·q − h·p| scaled by
    // 144/q (144 = lcm of the bucket denominators, so all 9 distances
    // share one denominator h·144 and compare as plain int64s —
    // log-space nearest would be float-ordered and engine-drift-prone).
    // The argmin is a row-local array_min over a 9-struct literal
    // ((v, idx, bucket) — struct ordering breaks ties on bucket index),
    // so the whole assignment is a narrow map; the per-bucket rollup is
    // one bounded-output aggregate. Dimensions come from the SAME m1
    // metadata derivation (shipped plan rule).
    Q("m8_aspect_buckets",
      (s, dir) => aspectAssign(t(s, dir, "documents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("width") * col("height")).as("total_px"))
        .orderBy("bucket"),
      Some(oneLine("""WITH m AS (SELECT doc_id,
                 |     (16 + h % 240)::BIGINT AS w, (16 + (h // 240) % 240)::BIGINT AS ht
                 |   FROM (SELECT doc_id, ('0x'||substr(md5(text),1,4))::BIGINT AS h
                 |         FROM documents)),
                 | bk(p, q, f, bucket, idx) AS (VALUES
                 |   (1,1,144,'1:1',0),(4,3,48,'4:3',1),(3,4,36,'3:4',2),
                 |   (16,9,16,'16:9',3),(9,16,9,'9:16',4),(3,2,72,'3:2',5),
                 |   (2,3,48,'2:3',6),(2,1,144,'2:1',7),(1,2,72,'1:2',8)),
                 | d AS (SELECT doc_id, w, ht, bucket,
                 |     abs(w * q - ht * p) * f AS v, idx
                 |   FROM m CROSS JOIN bk),
                 | a AS (SELECT doc_id, w, ht, bucket,
                 |     row_number() OVER (PARTITION BY doc_id ORDER BY v, idx) AS rn
                 |   FROM d)
                 | SELECT bucket, count(*)::BIGINT AS n_images,
                 |   sum(w * ht)::BIGINT AS total_px
                 | FROM a WHERE rn = 1 GROUP BY bucket ORDER BY bucket"""))),

    // Voice-activity CHUNKING over the audio frame stream — the audio
    // sibling of m5's video shots, with the mechanic VAD actually needs
    // and shots don't: a HANGOVER gap merge (webrtcvad-style smoothing),
    // where voiced runs separated by ≤1 silent frame fuse into one
    // speech chunk instead of splitting. The typed mapPartitions sampler
    // runs at audio granularity (32-byte windows, up to 8 per doc — the
    // m4 plumbing with audio frame params), per-frame ENERGY is the
    // codec stand-in (first md5 byte; a real pipeline plugs RMS energy
    // into the same column), voiced = energy ≥ 64, and the segmenter is
    // d8's gap-islands on the VOICED SUBSET with tolerance 2: lag of
    // frame_idx over one per-doc window (bounded by maxFrames), prefix
    // sum, per-chunk rollup — one doc_id Exchange end to end.
    Q("m6_audio_vad",
      (s, dir) => {
        import s.implicits._
        val payloads = t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
        sampleFrames(payloads, 32, 8).toDF()
          .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
            conv(substring(md5(col("frame")), 1, 2), 16, 10).cast("long").as("energy"))
          .filter(col("energy") >= 64)
          .withColumn("prev", lag(col("frame_idx"), 1).over(w))
          .withColumn("is_new",
            when(col("prev").isNull || col("frame_idx") - col("prev") > 2, 1L)
              .otherwise(0L))
          .withColumn("seg_idx",
            sum(col("is_new")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("seg_idx"))
          .agg(min(col("frame_idx")).as("start_frame"),
            max(col("frame_idx")).as("end_frame"),
            count(lit(1)).as("n_voiced"),
            sum(col("energy")).as("energy_sum"))
          .orderBy("doc_id", "seg_idx")
      },
      Some(oneLine("""WITH b AS (SELECT doc_id, text, octet_length(text::BLOB) AS len FROM documents),
                 | p AS (SELECT doc_id, text, len, least(8, greatest(1, len // 32)) AS nf FROM b),
                 | st AS (SELECT doc_id, text, len, nf, greatest(32, len // nf) AS stride FROM p),
                 | f AS (SELECT doc_id, unnest(range(0, nf)) AS frame_idx, text, len, stride FROM st),
                 | en AS (SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                 |     ('0x'||substr(md5(substr(text, CAST(frame_idx*stride + 1 AS BIGINT),
                 |        CAST(least(frame_idx*stride + 32, len) - frame_idx*stride AS BIGINT))),1,2))::BIGINT AS energy
                 |   FROM f),
                 | v AS (SELECT doc_id, frame_idx, energy FROM en WHERE energy >= 64),
                 | mk AS (SELECT doc_id, frame_idx, energy,
                 |     CASE WHEN lag(frame_idx) OVER w IS NULL
                 |       OR frame_idx - lag(frame_idx) OVER w > 2 THEN 1 ELSE 0 END AS is_new
                 |   FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
                 | sg AS (SELECT doc_id, frame_idx, energy,
                 |     sum(is_new) OVER (PARTITION BY doc_id ORDER BY frame_idx
                 |       ROWS UNBOUNDED PRECEDING) AS seg_idx
                 |   FROM mk)
                 | SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
                 |   min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
                 |   count(*) AS n_voiced, CAST(sum(energy) AS BIGINT) AS energy_sum
                 | FROM sg GROUP BY 1, 2 ORDER BY doc_id, seg_idx"""))),

    // Perceptual-hash DEDUP over the payload stream — image dedup as
    // production pipelines actually run it: a 60-bit histogram-gradient
    // perceptual hash per payload (the luma-histogram dHash family —
    // robust to small re-encode perturbations, where md5/i1 is not),
    // deduped at EXACT hash match. Hamming-0 is the deliberate scale
    // choice: a radius-r pair join over banded perceptual hashes goes
    // quadratic in hot buckets (payloads from one generator cluster —
    // measured 266× candidates for 10× docs on this corpus), while the
    // ham-0 spelling is ONE map-side-combinable aggregate on an 8-byte
    // key — linear at any corpus size, and the radius story is i9's.
    // Hash build: per-payload 61-slot byte histogram (slot = octet mod
    // 61; chars ≡ octets on the verified-ASCII fixture, the m5 rule),
    // bit_k = hist[k] < hist[k+1] packed by bit_or(bit << k) — 60 bits
    // keeps every band and the hash itself sign-free (DuckDB's << is
    // overflow-checked at bit 63). Missing slots count 0 via a dense
    // 61-row spine per doc (explode of a literal range — row-local),
    // the gradient is one lead() over the per-doc 61-row window.
    Q("m7_phash_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cnt = docs
          .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
          .filter(col("c") =!= "")
          .select(col("doc_id"), pmod(ascii(col("c")), lit(61)).cast("long").as("b"))
          .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
        val spine = docs.select(col("doc_id"), col("source"))
          .withColumn("b", explode(sequence(lit(0L), lit(60L))))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("b"))
        val ph = spine.join(cnt, Seq("doc_id", "b"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .withColumn("bit",
            when(col("n") < lead(col("n"), 1).over(w), 1L).otherwise(0L))
          .filter(col("b") < 60)
          .groupBy(col("doc_id"), col("source"))
          .agg(expr("bit_or(shiftleft(bit, CAST(b AS INT)))").as("ph"))
        ph.groupBy(col("ph"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("rep_doc"),
            countDistinct(col("source")).cast("long").as("n_sources"))
          .filter(col("n_docs") >= 2)
          .orderBy("rep_doc")
      },
      Some(oneLine("""WITH ch AS (SELECT doc_id, ord(c) % 61 AS b
                 |   FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
                 |         FROM documents) WHERE c <> ''),
                 | cnt AS (SELECT doc_id, b, count(*)::BIGINT AS n FROM ch GROUP BY 1, 2),
                 | spine AS (SELECT d.doc_id, d.source, r.range AS b
                 |   FROM documents d CROSS JOIN range(0, 61) r),
                 | dense AS (SELECT s.doc_id, s.source, s.b, coalesce(cnt.n, 0) AS n
                 |   FROM spine s LEFT JOIN cnt ON s.doc_id = cnt.doc_id AND s.b = cnt.b),
                 | g AS (SELECT doc_id, source, b,
                 |     CASE WHEN n < lead(n) OVER (PARTITION BY doc_id ORDER BY b)
                 |       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
                 |   FROM dense),
                 | h AS (SELECT doc_id, source, bit_or(bit << b) AS ph
                 |   FROM g WHERE b < 60 GROUP BY 1, 2)
                 | SELECT ph, count(*)::BIGINT AS n_docs,
                 |   min(doc_id) AS rep_doc,
                 |   count(DISTINCT source)::BIGINT AS n_sources
                 | FROM h GROUP BY ph HAVING count(*) >= 2 ORDER BY rep_doc"""))),

    // Length×quality CORRELATION per source — the metadata diagnostic
    // behind every "filter by length" debate: does document length
    // predict quality in THIS source, or is the correlation an artifact
    // of one boilerplate cluster? Pearson r spelled EXACTLY by integer
    // cross-multiplication (the j15/d16 rule at aggregate scope): x =
    // n_tok, y = milli-quality, the six sums (n, Σx, Σy, Σxy, Σx², Σy²)
    // are order-free int64s in ONE map-side-combinable aggregate, and
    // the only floats are two sqrt's of exact int64s (< 2^53 through
    // sf10 — the sumMoney bound discipline) and one division —
    // bit-identical cross-engine. corr() as a builtin float-drifts under
    // re-partition; this is the deterministic spelling.
    Q("j20_len_quality_corr",
      (s, dir) => {
        val st = t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"),
            markerScore(col("text"), Seq("a", "the")).as("n_stop"))
          .select(col("source"), col("n_tok"),
            round(qualityExpr * 1000).cast("long").as("qm"))
        st.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("sx"), sum(col("qm")).as("sy"),
            sum(col("n_tok") * col("qm")).as("sxy"),
            sum(col("n_tok") * col("n_tok")).as("sxx"),
            sum(col("qm") * col("qm")).as("syy"))
          .select(col("source"), col("n_docs"),
            (col("n_docs") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("n_docs") * col("sxx") - col("sx") * col("sx")).as("dx"),
            (col("n_docs") * col("syy") - col("sy") * col("sy")).as("dy"))
          .select(col("source"), col("n_docs"), col("num"), col("dx"), col("dy"),
            when(col("dx") > 0 && col("dy") > 0,
              round(col("num") / sqrt(col("dx").cast("double"))
                / sqrt(col("dy").cast("double")), 4)).as("corr"))
          .orderBy("source")
      },
      Some(oneLine(s"""WITH ${LlmOps.tokStatsCte("source")},
                 | ${qmCte("source, n_tok")},
                 | a AS (SELECT source, count(*) AS n_docs,
                 |     CAST(sum(n_tok) AS BIGINT) AS sx, CAST(sum(qm) AS BIGINT) AS sy,
                 |     CAST(sum(n_tok*qm) AS BIGINT) AS sxy,
                 |     CAST(sum(n_tok*n_tok) AS BIGINT) AS sxx,
                 |     CAST(sum(qm*qm) AS BIGINT) AS syy
                 |   FROM v GROUP BY source)
                 | SELECT source, n_docs,
                 |   CAST(n_docs*sxy - sx*sy AS BIGINT) AS num,
                 |   CAST(n_docs*sxx - sx*sx AS BIGINT) AS dx,
                 |   CAST(n_docs*syy - sy*sy AS BIGINT) AS dy,
                 |   CASE WHEN n_docs*sxx - sx*sx > 0 AND n_docs*syy - sy*sy > 0
                 |     THEN round((n_docs*sxy - sx*sy)
                 |       / sqrt(CAST(n_docs*sxx - sx*sx AS DOUBLE))
                 |       / sqrt(CAST(n_docs*syy - sy*sy AS DOUBLE)), 4) END AS corr
                 | FROM a ORDER BY source"""))),

    // CCNet-style QUALITY BUCKETS — the corpus-curation step after j10's
    // scoring: train the bigram LM on a REFERENCE slice only (src0 = the
    // "wikipedia" stand-in), score EVERY doc against it (bigrams the
    // reference never saw score 0 — out-of-domain text tanks, unlike
    // j10's self-trained score), then cut each source into head/middle/
    // tail by BIGRAM MASS terciles (CCNet cuts by cumulative size, not
    // doc count, so each bucket feeds ~equal training tokens). The scale
    // spelling refuses CCNet's per-source sort: a source is a HANDFUL of
    // partitions at 100 TB (20 sources here), so "sort this source by
    // perplexity" is a one-task corpus sort — instead the per-doc scores
    // collapse to a BOUNDED milli-score histogram (kbin = sq div
    // (n·1000) ∈ [0,1000], exact integer division both engines; ≤1001
    // rows per source at ANY corpus size — the c17/c12 distribution
    // rule), the running-mass tercile test runs on the histogram
    // (cum·3 ≤ tot, all int64), and docs sharing a bin share a bucket
    // by construction. Production doc-level assignment is a broadcast
    // join of the ≤60-row threshold table — a pure filter pass.
    Q("j21_ccnet_buckets",
      (s, dir) => {
        val occ = Harness.materialize(t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(gramZip(col("text"), 2)).as("z"))
          .select(col("doc_id"), col("source"),
            xxhash64(col("z.0"), col("z.1")).as("bk"),
            xxhash64(col("z.0")).as("uk")))
        // Reference model: counts over the src0 slice only. c1r is
        // reference-vocabulary-bounded (broadcast hint); c2r grows with
        // the reference corpus — no hint, AQE broadcasts locally (the
        // j10 rule). LEFT joins: a bigram absent from the reference
        // scores 0 (c2r non-null ⇒ c1r non-null — every reference
        // bigram's prefix is a reference unigram).
        val ref = occ.filter(col("source") === "src0")
        val c2r = ref.groupBy(col("bk"), col("uk")).agg(count(lit(1)).as("c2"))
        val c1r = ref.groupBy(col("uk")).agg(count(lit(1)).as("c1"))
        val q = when(col("c2").isNull, lit(0L))
          .otherwise(round(lit(1e6) * col("c2") / col("c1")).cast("long"))
        val sp = occ.join(c2r, Seq("bk", "uk"), "left")
          .join(broadcast(c1r), Seq("uk"), "left")
          .select(col("doc_id"), col("source"), q.as("q"))
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        val hist = sp
          .withColumn("kbin", expr("sq div (n * 1000)"))
          .groupBy(col("source"), col("kbin"))
          .agg(sum(col("n")).as("mass"), count(lit(1)).as("docs"),
            sum(col("sq")).as("sqs"))
        val w = Window.partitionBy(col("source")).orderBy(col("kbin").desc)
        hist
          .withColumn("cum", sum(col("mass")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot", sum(col("mass")).over(Window.partitionBy(col("source"))))
          .withColumn("bucket",
            when(col("cum") * 3 <= col("tot"), "head")
              .when(col("cum") * 3 <= col("tot") * 2, "middle")
              .otherwise("tail"))
          .groupBy(col("source"), col("bucket"))
          .agg(sum(col("docs")).as("n_docs"),
            sum(col("mass")).as("n_bigrams"),
            round(sum(col("sqs")).cast("double") / sum(col("mass")) / 1e6, 4)
              .as("mean_score"))
          .orderBy("source", "bucket")
      },
      Some(oneLine("""WITH occ AS (
                 |   SELECT doc_id, source,
                 |     unnest(list_transform(range(1, len(toks)),
                 |       i -> toks[i] || ' ' || toks[i+1])) AS bg
                 |   FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
                 | o2 AS (SELECT doc_id, source, string_split(bg, ' ')[1] AS w1, bg FROM occ),
                 | c2r AS (SELECT bg, count(*) AS c2 FROM o2 WHERE source = 'src0' GROUP BY bg),
                 | c1r AS (SELECT w1, count(*) AS c1 FROM o2 WHERE source = 'src0' GROUP BY w1),
                 | q AS (SELECT o2.doc_id, o2.source,
                 |     CASE WHEN c2r.c2 IS NULL THEN 0
                 |          ELSE round(1e6 * c2r.c2 / c1r.c1)::BIGINT END AS q
                 |   FROM o2 LEFT JOIN c2r USING (bg) LEFT JOIN c1r USING (w1)),
                 | sp AS (SELECT doc_id, source, count(*)::BIGINT AS n,
                 |     sum(q)::BIGINT AS sq FROM q GROUP BY 1, 2),
                 | hist AS (SELECT source, sq // (n * 1000) AS kbin,
                 |     sum(n)::BIGINT AS mass, count(*)::BIGINT AS docs,
                 |     sum(sq)::BIGINT AS sqs
                 |   FROM sp GROUP BY 1, 2),
                 | wn AS (SELECT source, kbin, mass, docs, sqs,
                 |     sum(mass) OVER (PARTITION BY source ORDER BY kbin DESC
                 |       ROWS UNBOUNDED PRECEDING) AS cum,
                 |     sum(mass) OVER (PARTITION BY source) AS tot
                 |   FROM hist),
                 | bkt AS (SELECT source, mass, docs, sqs,
                 |     CASE WHEN cum * 3 <= tot THEN 'head'
                 |          WHEN cum * 3 <= tot * 2 THEN 'middle'
                 |          ELSE 'tail' END AS bucket
                 |   FROM wn)
                 | SELECT source, bucket, CAST(sum(docs) AS BIGINT) AS n_docs,
                 |   CAST(sum(mass) AS BIGINT) AS n_bigrams,
                 |   round(sum(sqs)::DOUBLE / sum(mass) / 1e6, 4) AS mean_score
                 | FROM bkt GROUP BY 1, 2 ORDER BY source, bucket"""))),

    // Lang-ID CONFUSION MATRIX — the eval the fixture makes possible
    // (documents carry a TRUE lang column): j1's unsupervised marker
    // classifier graded cell by cell, with per-true-lang row fractions
    // (the recall diagonal). The SAME langIdPred factoring feeds j1 and
    // this eval, so the matrix grades the shipped pipeline, not a
    // re-derivation. One hash aggregate over (true, pred) + a
    // bounded post-aggregation window for the row totals.
    Q("j19_langid_confusion",
      (s, dir) =>
        langIdPred(t(s, dir, "documents"))
          .groupBy(col("true_lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("n_true",
            sum(col("n_docs")).over(Window.partitionBy(col("true_lang"))))
          .select(col("true_lang"), col("pred_lang"), col("n_docs"),
            round(col("n_docs") / col("n_true"), 4).as("frac"))
          .orderBy("true_lang", "pred_lang"),
      Some {
        val scores = langMarkers.map { case (l, ws) =>
          s"len(list_filter(string_split(text,' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
        }.mkString(", ")
        val langs = langMarkers.map(_._1)
        val pred = langs.init.zipWithIndex.foldRight(s"'${langs.last}'") {
          case ((l, i), els) =>
            val rest = langs.drop(i + 1).map(o => s"s_$o").mkString(", ")
            s"CASE WHEN s_$l >= greatest($rest) THEN '$l' ELSE $els END"
        }
        oneLine(s"""WITH p AS (SELECT lang AS true_lang, $pred AS pred_lang
               |   FROM (SELECT doc_id, lang, $scores FROM documents)),
               | c AS (SELECT true_lang, pred_lang, count(*)::BIGINT AS n_docs
               |   FROM p GROUP BY 1, 2)
               | SELECT true_lang, pred_lang, n_docs,
               |   round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY true_lang), 4) AS frac
               | FROM c ORDER BY true_lang, pred_lang""")
      })
  )

  /** The i60 count-side state as persistable tables: the quantized
    * ratio table (bk, q) and the 1-row smoothing normalizer (cfac) —
    * what a production ingest keeps between crawls (the i36 premise).
    * Factored so the batch entry (i62), the streaming twin, and the
    * law tests provably score against the same state definition.
    */
  def dsirState(corpus: DataFrame): (DataFrame, DataFrame) = {
    val occ = Harness.materialize(corpus
      .select(col("lang"), explode(gramZip(col("text"), 2)).as("z"))
      .select(col("lang"), xxhash64(col("z.0"), col("z.1")).as("bk")))
    dsirRatios(occ)
  }

  /** (rat, cfac) over bigram occurrences `occ(bk, lang)`: the add-1
    * quantized en/all ratio per bigram hash and the 1-row smoothing
    * normalizer — shared by [[dsirState]] and [[dsirImportance]].
    */
  private def dsirRatios(occ: DataFrame): (DataFrame, DataFrame) = {
    val raw = occ.groupBy(col("bk")).agg(count(lit(1)).as("cs"))
    val tgt = occ.filter(col("lang") === "en")
      .groupBy(col("bk")).agg(count(lit(1)).as("ct"))
    val rat = raw.join(tgt, Seq("bk"), "left")
      .select(col("bk"),
        round(lit(1e6) * (coalesce(col("ct"), lit(0L)) + lit(1L))
          / (col("cs") + lit(1L))).cast("long").as("q"))
    val sv = raw.agg(sum(col("cs")).cast("double").as("s_tot"),
      count(lit(1)).cast("double").as("v"))
    val tv = occ.filter(col("lang") === "en")
      .agg(count(lit(1)).cast("double").as("t_tot"))
    val cfac = sv.crossJoin(broadcast(tv))
      .select(((col("s_tot") + col("v")) / (col("t_tot") + col("v")))
        .as("cfac"))
    (rat, cfac)
  }

  /** The DSIR state at COUNT level — the artifact form a daily-crawl
    * ingest can actually append to: per distinct bigram hash, its
    * corpus occurrence count `cs` and its target-language (en) count
    * `ct`. Counts are what's ADDITIVE — the (rat, cfac) pair i62 scores
    * against is a nonlinear function of totals, so the persisted
    * artifact stores counts and derives the state on read
    * ([[dsirStateFromCounts]]). Laws pinned in PersistedIndexSpec:
    * dsirCounts(corpus ∪ batch) ≡ merge-by-sum of the two counts (the
    * group-sum of a union splits over the union), and
    * dsirState(x) ≡ dsirStateFromCounts(dsirCounts(x)).
    */
  def dsirCounts(corpus: DataFrame): DataFrame =
    corpus
      .select(col("lang"), explode(gramZip(col("text"), 2)).as("z"))
      .select(col("lang"), xxhash64(col("z.0"), col("z.1")).as("bk"))
      .groupBy(col("bk"))
      .agg(count(lit(1)).as("cs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))

  /** Merge two count tables by summed counts — the i62 ingest's
    * merge-on-read (a delta segment groups with the base segment; a
    * compaction materializes the same sum).
    */
  def dsirMergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bk"))
      .agg(sum(col("cs")).as("cs"), sum(col("ct")).as("ct"))

  /** Derive the (rat, cfac) scoring state from a persisted count table —
    * output-identical to [[dsirState]] on the same corpus: q is the
    * same add-1 quantized ratio (ct = 0 rows ARE the left-join misses),
    * s_tot/v/t_tot are the same totals (t_tot = Σct — every en bigram
    * occurrence is counted once in ct).
    */
  def dsirStateFromCounts(counts: DataFrame): (DataFrame, DataFrame) = {
    val rat = counts.select(col("bk"),
      round(lit(1e6) * (col("ct") + lit(1L)) / (col("cs") + lit(1L)))
        .cast("long").as("q"))
    val cfac = counts
      .agg(sum(col("cs")).cast("double").as("s_tot"),
        count(lit(1)).cast("double").as("v"),
        sum(col("ct")).cast("double").as("t_tot"))
      .select(((col("s_tot") + col("v")) / (col("t_tot") + col("v")))
        .as("cfac"))
    (rat, cfac)
  }

  /** Score a batch against a persisted (rat, cfac) state — the i62
    * apply side, shared verbatim by the batch registry entry and the
    * StreamingSpec stream-static twin. A bigram the corpus has never
    * seen scores the add-1 prior (0+1)/(0+1) = 1 → q = 1e6 (the LEFT
    * join's coalesce), so out-of-vocabulary text is neutral, not
    * dropped. Stateless per doc: any micro-batch split scores
    * identically to the batch run.
    */
  def dsirScoreAgainst(batch: DataFrame, rat: DataFrame,
      cfac: DataFrame): DataFrame =
    batch
      .select(col("doc_id"), explode(gramZip(col("text"), 2)).as("z"))
      .select(col("doc_id"), xxhash64(col("z.0"), col("z.1")).as("bk"))
      .join(rat, Seq("bk"), "left")
      .select(col("doc_id"), coalesce(col("q"), lit(1000000L)).as("q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .crossJoin(broadcast(cfac))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sq").cast("double") / col("n_bigrams") / lit(1e6)
          * col("cfac"), 4).as("dsir_weight"))
      .orderBy("doc_id")

  /** The i60 pipeline over any (doc_id, lang, text) frame — factored so
    * PipelineSpec can assert the hand-computed weights on a crafted
    * corpus through the SAME code path the registry runs.
    */
  def dsirImportance(docs: DataFrame, topK: Int): DataFrame = {
    val occ = Harness.materialize(docs
      .select(col("doc_id"), col("lang"),
        explode(gramZip(col("text"), 2)).as("z"))
      .select(col("doc_id"), col("lang"),
        xxhash64(col("z.0"), col("z.1")).as("bk")))
    val (rat, cfac) = dsirRatios(occ)
    occ.join(rat, "bk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .crossJoin(broadcast(cfac))
      .orderBy((col("sq").cast("double") / col("n_bigrams")).desc,
        col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sq").cast("double") / col("n_bigrams") / lit(1e6)
          * col("cfac"), 4).as("dsir_weight"))
  }

  /** BPE TRAINER loop (the lifecycle closer for the tokenizer family —
    * i55 is one merge's argmax, i59 one merge's apply; this iterates
    * them to a merge LIST, the artifact a tokenizer deployment ships,
    * exactly as [[trainCodebook]] closes the i23 Lloyd step). Each
    * round: count adjacent symbol pairs over the CURRENT |vocab|-row
    * word table weighted by corpus frequency (i55's plan — the corpus
    * collapses to the counted vocabulary once, before any per-character
    * work), pick the (count desc, pair asc) argmax — ONE 1-row driver
    * read per round, the trainCodebook scalar rule — and apply it with
    * i59's greedy non-overlapping `replace`. Each merged pair becomes a
    * fresh PRIVATE-USE-AREA symbol (U+E000+round), so later rounds can
    * merge a merged symbol with its neighbors — real BPE's recursion,
    * which a fixed '#' placeholder would corrupt (round 2 could not
    * tell pair₁ from pair₂). Stops early when no pair repeats (max
    * count ≤ 1 — merging singletons buys nothing) or the vocabulary
    * runs out of 2-symbol words. Returns (merge list in training
    * order, final word table (w, n)); the corpus-weighted symbol count
    * strictly decreases every emitted round (PipelineSpec law, tied to
    * i59's total_merges arithmetic). Cost per round: one vocab-sized
    * projection + pair aggregate — never a corpus pass after round 0's
    * word count.
    */
  private[graft] def trainBpeMerges(docs: DataFrame,
      nMerges: Int): (Seq[String], DataFrame) = {
    var words = Harness.materialize(docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (!done && merges.size < nMerges) {
      val top = words.filter(length(col("w")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .collect()
      if (top.isEmpty || top(0).getLong(1) <= 1L) done = true
      else {
        val pair = top(0).getString(0)
        val sym = (0xE000 + merges.size).toChar.toString
        merges += pair
        // replace(w, pair, sym) via the codegen'd ternary replace —
        // lit() operands, no string interpolation into SQL.
        words = Harness.materialize(words
          .groupBy(replaceExpr(col("w"), pair, sym).as("w"))
          .agg(sum(col("n")).as("n")))
      }
    }
    (merges.toSeq, words)
  }

  /** `replace(src, search, rep)` as a Column over literal search/rep —
    * the exact greedy non-overlapping semantics i59's oracle pins.
    */
  private def replaceExpr(src: Column, search: String, rep: String): Column =
    call_function("replace", src, lit(search), lit(rep))

  /** Apply a trained merge list to any (w, n) word table, in training
    * order — the deployment-side half of [[trainBpeMerges]]: the merge
    * list is tiny and rides in the plan; each merge is one vocab-sized
    * projection.
    */
  private[graft] def bpeApplyMerges(words: DataFrame,
      merges: Seq[String]): DataFrame =
    merges.zipWithIndex.foldLeft(words) { case (acc, (pair, i)) =>
      acc.groupBy(replaceExpr(col("w"), pair,
          (0xE000 + i).toChar.toString).as("w"))
        .agg(sum(col("n")).as("n"))
    }

  /** The i61 matvec over any (vec_id, embedding) frame — factored so
    * PipelineSpec can assert the exact integer result on crafted
    * vectors through the SAME code path the registry runs.
    */
  def pcaPowerStep(emb: DataFrame): DataFrame =
    emb
      .select(
        round(lit(1e6) * element_at(col("embedding"), 1)).cast("long").as("q"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos"),
        (round(lit(1e6) * col("x")).cast("long") * col("q")).as("p"))
      .groupBy(col("pos")).agg(sum(col("p")).as("u_q"))
      .select(col("pos").cast("long").as("pos"), col("u_q"))
      .orderBy("pos")

  /** PCA POWER-ITERATION trainer — the third trainer loop (after
    * [[trainCodebook]] and [[trainBpeMerges]]), closing i61's documented
    * caller-owned iteration: v ← normalize(Gv) with G = XᵀX the corpus
    * Gram matrix, run until the direction stabilizes or `maxIters`.
    * Each round is ONE linear corpus pass: d = ⟨x, v⟩ row-local in
    * double (deterministic — no cross-row float order), then the
    * per-position sums of round(1e6·d·x_pos) as int64 — PRODUCT-then-
    * quantize, so partial-sum order can't flip a bit (the i23 rule) and
    * magnitudes stay ≲1e8/row — collected as ≤dim rows (a bounded
    * driver read, the clusterLabels scalar rule) and normalized driver-
    * side. G is PSD, so the Rayleigh quotient vᵀGv is non-decreasing
    * round over round and no sign oscillation occurs (PipelineSpec pins
    * both, plus convergence to a planted dominant direction and
    * partition invariance). Returns the unit direction; callers project
    * with one more row-local dot (i27's quantize shape). i61's registry
    * step IS round 1 at v = e₁ modulo its quantize-then-multiply
    * spelling (oracle-exact there; product-quantized here for overflow
    * headroom at 100 TB row counts).
    */
  private[graft] def trainPcaDirection(emb: DataFrame,
      maxIters: Int = 16): Seq[Double] = {
    val dim = emb.select(size(col("embedding"))).head.getAs[Number](0).intValue
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val vCol = array(v.map(lit): _*)
      // Per-position sums in DECIMAL(38,0), not int64: each |p| is
      // ≲1e8, so an int64 sum silently wraps past ~9e10 rows — a wrong
      // direction with no error. The decimal sum has 1e30 rows of
      // headroom; the abs-sum (an upper bound on |uq|) is checked
      // against Long.MaxValue LOUDLY before narrowing (ADVICE r15).
      val u = emb
        .withColumn("d", VectorFunctions.dot(col("embedding"), vCol))
        .select(posexplode(col("embedding")).as(Seq("pos", "x")), col("d"))
        .select(col("pos"),
          round(lit(1e6) * col("d") * col("x")).cast("long").as("p"))
        .groupBy(col("pos")).agg(
          sum(col("p").cast("decimal(38,0)")).as("uq"),
          sum(abs(col("p")).cast("decimal(38,0)")).as("uabs"))
        .collect().map { r =>
          val uabs = r.getDecimal(2)
          require(uabs.compareTo(
              new java.math.BigDecimal(Long.MaxValue)) <= 0,
            s"trainPcaDirection: quantized moment sum $uabs exceeds " +
              s"int64 at pos ${r.getInt(0)} — corpus too large for the " +
              "1e-6 quantization; lower the scale or shard the pass")
          r.getInt(0) -> r.getDecimal(1).longValueExact()
        }.toMap
      val raw = Array.tabulate(dim)(i => u.getOrElse(i, 0L).toDouble / 1e6)
      val norm = math.sqrt(raw.map(x => x * x).sum)
      require(norm > 0, "degenerate corpus: Gv = 0 — no dominant direction")
      val next = raw.map(_ / norm)
      converged = (0 until dim).forall(i => math.abs(next(i) - v(i)) < 1e-9)
      v = next
      iters += 1
    }
    v.toSeq
  }

  /** The i48/i52 placement arithmetic over a frame carrying
    * (doc_id, tok, cum_before): first/last sequence, in-sequence offset,
    * straddle count — pure integer div/mod on the exclusive running
    * total, shared so the global and incremental forms provably compute
    * the same function of cum_before.
    */
  def seqPlacement(placed: DataFrame, L: Long): DataFrame =
    placed.select(col("doc_id"), col("tok"),
      expr(s"cum_before div $L").as("first_seq"),
      (col("cum_before") % L).as("seq_offset"),
      expr(s"(cum_before + tok - 1) div $L").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + lit(1L))

  /** (doc_id, text) → (doc_id, tok): the packing family's token counts. */
  def tokFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))

  /** The i52 ingest form: place a (doc_id, text) batch at the tail of an
    * already-packed corpus whose persisted total token count arrives as
    * the 1-row broadcast `base` frame (`base_tok`) — the batch runs its
    * own two-level prefix sum offset by that scalar; corpus rows are
    * never touched. Shared by the batch registry entry and the
    * StreamingSpec foreachBatch twin (offset accumulation across
    * micro-batches).
    */
  def packIncremental(batch: DataFrame, base: DataFrame): DataFrame =
    seqPlacement(
      exclusiveRunningTokens(tokFrame(batch), 32)
        .crossJoin(broadcast(base))
        .withColumn("cum_before", col("cum_before") + col("base_tok")),
      512L)

  /** The i50 vocabulary as ONE broadcastable row: the top-`v` corpus
    * tokens by (freq desc, token asc — a deterministic SET), packed into
    * a sorted array. |vocab| rows reach the driver-side of nothing: the
    * array is built by an aggregate over the POST-aggregation top-v
    * frame and broadcast as a 1-row dimension (the evalShingleSet /
    * centroid-array pattern).
    */
  def vocabRow(docs: DataFrame, v: Int): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tk").asc).limit(v)
      .agg(sort_array(collect_list(col("tk"))).as("vocab"))

  /** The i50 coverage screen in IN-ROW form over a (doc_id, text) frame:
    * per-doc token and OOV counts via an HOF filter against the broadcast
    * vocab array — no explode, no shuffle, no state, so the SAME
    * expression maps over streaming micro-batches unchanged (the i19
    * in-row rule). PipelineSpec pins in-row ≡ the batch
    * explode/broadcast-join/groupBy registry form; StreamingSpec replays
    * a shuffled feed through it.
    */
  def oovScreenInRow(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(filter(split(col("text"), " "),
          t => !array_contains(col("vocab"), t))).cast("long").as("n_oov"))
      .withColumn("oov_permille", expr("(n_oov * 1000) div n_tok"))

  /** Exclusive global running token total in doc_id order over a
    * (doc_id, tok) frame, as a two-level prefix sum — shared by i22
    * (token-budget sharding) and i48 (sequence packing); the naive form
    * (ONE window over the whole corpus) is a single-partition sort, the
    * textbook scale trap the i22 registry comment walks through:
    *   1. bucket docs into B contiguous doc_id ranges (monotone in
    *      doc_id, so (bucket, doc_id) order ≡ global doc_id order) —
    *      integer `div` with the width computed FIRST: `doc_id * B`
    *      would overflow Long past doc_id ≈ 2^58 (hash-derived 64-bit
    *      ids), and double division would wobble past 2^53; width ≥ 1
    *      and the bucket stays in [0, B), contiguous and monotone;
    *   2. per-bucket running sums under a PARTITIONED window (B-way
    *      parallel, each partition 1/B of the corpus);
    *   3. per-bucket totals (a B-row aggregate) get their exclusive
    *      prefix via a window that is unpartitioned but runs over ≤B
    *      rows POST-aggregation — bounded by the constant B, not the
    *      corpus (PlanSpec pins this shape);
    *   4. broadcast the B offsets back and add.
    * Integer arithmetic end-to-end, so the decomposition is EXACTLY the
    * global running sum and DuckDB oracles can use the naive window form.
    * At 100 TB: B scales with the cluster (B ≈ cores), the corpus is
    * touched by exactly one extra narrow aggregate, and no stage sees
    * more than 1/B of the data in one task.
    */
  def exclusiveRunningTokens(docs: DataFrame, B: Int): DataFrame = {
    val maxId = docs.agg(max(col("doc_id")).as("max_id"))
    val bucketed = docs.crossJoin(broadcast(maxId))
      .withColumn("bucket", expr(s"doc_id div ((max_id div $B) + 1)"))
    val inBucket = bucketed.withColumn("cum_in",
      sum(col("tok")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("tok")).as("btok"))
      .withColumn("offset", coalesce(
        sum(col("btok")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    inBucket.join(broadcast(offsets), "bucket")
      .withColumn("cum_before", col("offset") + col("cum_in") - col("tok"))
  }

  /** Typed metadata record produced by the stubbed media decoder. */
  final case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long, height: Long, fmt: String)

  /** Fixed-width feature vector extracted from a binary payload. */
  final case class MediaFeatures(doc_id: Long, features: Array[Float])

  /** One sampled frame: parent doc, frame index, frame bytes. */
  final case class MediaFrame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Feature extraction over binary payloads — the embed-the-media stage
    * of a multimodal pipeline. The "model" is a stub (L1-normalized
    * 16-bin byte histogram — deterministic, media-lib-free), but the
    * plumbing is the real thing: per-partition iteration so an actual
    * encoder could batch onto an accelerator, fixed-width float output
    * ready for the vector operators (i3/i10/i12), no shuffle.
    */
  def extractFeatures(payloads: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): org.apache.spark.sql.Dataset[MediaFeatures] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.map { case (id, bytes) =>
        // Long counts: a float accumulator would saturate at 2^24 — a
        // ~17 MB payload concentrated in one bin would silently stop
        // counting, diverging from the oracle's exact BIGINT counts.
        val hist = new Array[Long](16)
        bytes.foreach(b => hist((b & 0xFF) >> 4) += 1L)
        // Divide in DOUBLE, round once to float: long counts are exact in
        // double up to 2^53, so the stored float is bit-reproducible from
        // SQL (`CAST(count/len AS FLOAT)`) — what lets m2_feature_topk
        // hash-check this mapPartitions path against the DuckDB oracle.
        val total = math.max(1, bytes.length).toDouble
        MediaFeatures(id, hist.map(h => (h / total).toFloat))
      }
    }
  }

  /** Resized payload: parent doc, target dims, resampled bytes. */
  final case class MediaResized(doc_id: Long, width: Long, height: Long, payload: Array[Byte])

  /** Resize — the transcode stage of a multimodal pipeline (decode →
    * RESIZE → feature-extract → frame-sample): binary in, binary out at
    * a fixed target budget. The "resampler" is a deterministic
    * byte-stride subsample to w·h bytes (real image codecs are
    * unavailable offline), but the plumbing is the real thing: a fixed
    * output-size contract (every row ≤ w·h bytes, exactly w·h once the
    * input exceeds it — what lets a downstream trainer pre-allocate),
    * per-partition iteration for an accelerator-batched codec, zero
    * shuffle.
    */
  def resizePayloads(payloads: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
      w: Int, h: Int): org.apache.spark.sql.Dataset[MediaResized] = {
    import payloads.sparkSession.implicits._
    val target = w * h
    payloads.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val out =
          if (bytes.length <= target) bytes
          else {
            val stride = bytes.length.toDouble / target
            Array.tabulate(target)(i => bytes((i * stride).toInt))
          }
        MediaResized(id, w.toLong, h.toLong, out)
      }
    }
  }

  /** Frame sampling — one row per sampled fixed-size "frame" (byte slice)
    * at a uniform stride, at most `maxFrames` per payload. The generator
    * shape (one input row → N output rows, order-stable) is exactly what
    * video frame-sampling needs; only the codec is stubbed.
    */
  def sampleFrames(payloads: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
      frameSize: Int, maxFrames: Int): org.apache.spark.sql.Dataset[MediaFrame] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val nFrames = math.min(maxFrames, math.max(1, bytes.length / frameSize))
        val stride = math.max(frameSize, bytes.length / nFrames)
        (0 until nFrames).iterator.map { i =>
          val start = i * stride
          MediaFrame(id, i, bytes.slice(start, math.min(start + frameSize, bytes.length)))
        }
      }
    }
  }

  /** The mapPartitions twin of `m1_multimodal_meta`'s decode: iterates
    * binary payloads partition-at-a-time, as a real codec (image/audio
    * decode, frame sampling) would. The decode itself is a deterministic
    * stub — this environment has no media libraries — but the plumbing
    * (binary in, typed metadata out, per-partition batching, no shuffle)
    * is exactly what a real decoder UDF needs at 100 TB.
    */
  def decodeMeta(payloads: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): org.apache.spark.sql.Dataset[MediaMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, bytes) =>
        digest.reset()
        val hex = digest.digest(bytes).take(2).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex, 16)
        MediaMeta(id, bytes.length.toLong, 16 + h % 240, 16 + (h / 240) % 240,
          (h % 3) match { case 0 => "png"; case 1 => "jpeg"; case _ => "webp" })
      }
    }
  }
}
