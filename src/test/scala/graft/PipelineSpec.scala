package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{LlmOps, PipelineOps}

/** Training-pipeline operator internals: the multimodal decode plumbing
  * and sketch invariants that the DuckDB oracles can't express.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("m1: mapPartitions decoder twin == expression twin") {
    val exprPath = Registry.byId("m1_multimodal_meta").build(spark, dir)
    val payloads = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    val typedPath = PipelineOps.decodeMeta(payloads).toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("fmt"))
    assertSameRows(typedPath, exprPath)
  }

  test("m2: feature extraction is deterministic, normalized, partition-stable") {
    val payloads = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    val f1 = PipelineOps.extractFeatures(payloads).collect()
      .map(f => f.doc_id -> f.features.toSeq).toMap
    // repartitioning must not change any vector (no cross-row state)
    val f2 = PipelineOps.extractFeatures(payloads.repartition(7)).collect()
      .map(f => f.doc_id -> f.features.toSeq).toMap
    assert(f1 == f2)
    f1.values.foreach { v =>
      assert(v.length == 16)
      assert(math.abs(v.sum - 1.0f) < 1e-3, s"histogram must be L1-normalized: ${v.sum}")
    }
  }

  test("m2: frame sampling caps frames and keeps deterministic slices") {
    val payloads = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    val frames = PipelineOps.sampleFrames(payloads, frameSize = 32, maxFrames = 4).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { fs =>
      assert(fs.length <= 4 && fs.length >= 1)
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until fs.length))
      fs.foreach(f => assert(f.frame.length <= 32 && f.frame.nonEmpty))
    }
    // deterministic across runs
    val again = PipelineOps.sampleFrames(payloads, 32, 4).collect()
    assert(frames.map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).toSet ==
      again.map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).toSet)
  }

  test("ANN family at a second (k, nprobe): nprobe = k degrades IVF to exact brute force") {
    // The params are one factored ivfParams at the registry sites, but
    // the operators themselves take (k, nprobe) — at nprobe = k the IVF
    // path probes every cluster, so candidates = the whole corpus and
    // the result must equal brute-force top-3 exactly (same rounding,
    // same tie-breaks). Run at (k=5, nprobe=5), not the registry (8, 2).
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(spark, dir, "embeddings")
    val q = PipelineOps.queryBatch(emb, 7)
    val ivf = PipelineOps.annBatchTop3(
      emb, PipelineOps.stubCodebook(emb, 5), q, nprobe = 5)
    val exact = emb.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.VectorFunctions.dot(col("embedding"), col("qemb")), 3).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("sim"))
    assertSameRows(ivf, exact)
    // ...and the recall evaluation agrees: every query scores 1.0.
    val rec = PipelineOps.annRecall(
      emb, PipelineOps.stubCodebook(emb, 5), q, nprobe = 5)
    assert(rec.filter(col("recall") =!= 1.0).count() == 0)
    assert(rec.count() == 7)
  }

  test("trained codebook: Lloyd iteration does not lose recall@3 vs the stub codebook") {
    // trainCodebook iterates the i23 step to a quantized fixpoint; the
    // measurement that justifies training is the i28 recall eval run on
    // the SAME factored plan with each codebook.
    val emb = Tables.load(spark, dir, "embeddings")
    val q = PipelineOps.queryBatch(emb, 20)
    def hits(cent: org.apache.spark.sql.DataFrame): Long =
      PipelineOps.annRecall(emb, cent, q, nprobe = 2)
        .agg(sum(col("n_hit"))).head.getLong(0)
    val stub = hits(PipelineOps.stubCodebook(emb, 8))
    val trained = hits(PipelineOps.trainCodebook(emb, 8))
    assert(trained >= stub,
      s"training must not lose recall: trained=$trained stub=$stub")
  }

  test("i23b: the oracled 2-step codebook's i28 recall >= the stub codebook's") {
    // The 2-step unrolling (the registry's SQL-reproducible training
    // slice) must already pay for itself on the recall eval — scored on
    // the SAME factored annRecall plan the i28 registry entry grades.
    val emb = Tables.load(spark, dir, "embeddings")
    val q = PipelineOps.queryBatch(emb, 20)
    def hits(cent: org.apache.spark.sql.DataFrame): Long =
      PipelineOps.annRecall(emb, cent, q, nprobe = 2)
        .agg(sum(col("n_hit"))).head.getLong(0)
    val c0 = PipelineOps.stubCodebook(emb, 8)
    val c1 = PipelineOps.lloydCodebook(PipelineOps.lloydQuantMeans(emb, c0), c0)
    val c2 = PipelineOps.lloydCodebook(PipelineOps.lloydQuantMeans(emb, c1), c1)
    val (stub, twoStep) = (hits(c0), hits(c2))
    assert(twoStep >= stub,
      s"two Lloyd steps must not lose recall: twoStep=$twoStep stub=$stub")
  }

  test("IVF k-scaling: k = ceil(sqrt(N)) stays balanced and keeps recall at equal probe fraction") {
    // The registry's k = 8 is fixture-bound; the production rule
    // (documented at ivfParams) is k ≈ N / target-bucket-size, with
    // nprobe scaled to hold the probed corpus fraction. This property
    // runs the SAME parameterized family at k = ceil(sqrt(N)) with a
    // TRAINED codebook and pins the two things the rule promises:
    //   1. balance — no cluster exceeds c·N/k (the quadratic dedup
    //      bound that justifies cluster-bucketed candidates), and
    //   2. recall — at an equal probe fraction (nprobe/k constant) the
    //      scaled index does not lose recall@3 vs the k = 8 stub.
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val cent = PipelineOps.trainCodebook(emb, k)
    val sizes = PipelineOps.assignToCentroids(emb, cent)
      .groupBy(col("cid")).agg(count(lit(1)).as("c"))
      .select("c").as[Long].collect()
    val maxCluster = sizes.max
    println(s"[ivf-k] N=$n k=$k clusters=${sizes.length} " +
      s"max=$maxCluster mean=${n.toDouble / k}")
    val q = PipelineOps.queryBatch(emb, 20)
    def hits(c: org.apache.spark.sql.DataFrame, nprobe: Int): Long =
      PipelineOps.annRecall(emb, c, q, nprobe)
        .agg(sum(col("n_hit"))).head.getLong(0)
    val nprobeScaled = math.ceil(2.0 * k / 8).toInt
    val stub8 = hits(PipelineOps.stubCodebook(emb, 8), 2)
    val scaled = hits(cent, nprobeScaled)
    println(s"[ivf-k] stub8=$stub8 scaled(k=$k,nprobe=$nprobeScaled)=$scaled")
    assert(maxCluster <= 4 * n / k,
      s"trained k=sqrt(N) index must stay balanced: max=$maxCluster N/k=${n / k}")
    assert(scaled >= stub8,
      s"equal-probe-fraction recall must not regress: scaled=$scaled stub=$stub8")
  }

  test("i37 PQ training descends: iterated per-block Lloyd cuts reconstruction error") {
    // The registry entry ships the 1-step codebook (SQL-reproducible);
    // the iterated loop is the production trainer — each Lloyd round
    // must not increase total reconstruction error (re-assignment and
    // the mean M-step are both non-increasing for the L2 objective),
    // and on random vectors the first step must strictly improve on
    // the stub. Codes must stay in [0, k).
    val emb = Tables.load(spark, dir, "embeddings")
    val sub = PipelineOps.pqBlocks(emb, 4, 16).localCheckpoint(true)
    def totalErr(cent: org.apache.spark.sql.DataFrame): Long =
      PipelineOps.pqQuantize(sub, cent, 4)
        .agg(sum(col("e2sum"))).head.getLong(0)
    val stub = totalErr(PipelineOps.pqStubCodebook(sub, 8))
    val one = totalErr(PipelineOps.pqTrainCodebook(sub, 8, 1))
    val four = totalErr(PipelineOps.pqTrainCodebook(sub, 8, 4))
    assert(one < stub, s"one Lloyd step must cut error: one=$one stub=$stub")
    assert(four <= one, s"more steps must not regress: four=$four one=$one")
    val codes = PipelineOps.pqQuantize(sub,
        PipelineOps.pqTrainCodebook(sub, 8, 1), 4)
      .select("code0", "code1", "code2", "code3")
      .as[(Long, Long, Long, Long)].collect()
    assert(codes.nonEmpty && codes.forall { case (a, b, c, d) =>
      Seq(a, b, c, d).forall(x => x >= 0 && x < 8) })
  }

  test("i40 span excision keeps the first occurrence and removals stay inside i35 spans") {
    // Crafted geometry: B repeats A's 5-token boilerplate header, C is
    // clean. Keep-first means A survives whole, B loses exactly the
    // header's 5 tokens, C is untouched.
    val docs = Seq(
      (0L, "H1 H2 H3 H4 H5 a1 a2 a3"),
      (1L, "H1 H2 H3 H4 H5 b1 b2 b3"),
      (2L, "c1 c2 c3 c4 c5 c6")).toDF("doc_id", "text")
    val got = PipelineOps.spanExcise(docs).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) == ((0L, 8L, 0L, "H1 H2 H3 H4 H5 a1 a2 a3")),
      s"first occurrence must survive whole: ${got(0)}")
    assert(got(1) == ((1L, 8L, 5L, "b1 b2 b3")),
      s"repeat must lose exactly the header: ${got(1)}")
    assert(got(2) == ((2L, 6L, 0L, "c1 c2 c3 c4 c5 c6")),
      s"clean doc must be untouched: ${got(2)}")
    // Containment law on real data: every token position i40 excises
    // lies inside some i35 duplicated-span range for that doc — the
    // repeat occurrences are a subset of i35's marked occurrences.
    val corpus = Tables.load(spark, dir, "documents")
    val spans = PipelineOps.duplicateSpans(corpus)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3))).toMap
    val excised = PipelineOps.spanExcise(corpus)
      .filter(col("n_removed") > 0)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect()
    assert(excised.nonEmpty, "excision must be non-vacuous at sf0.001")
    excised.foreach { case (d, nTok, nRem, _) =>
      val covered = spans.getOrElse(d, Array.empty)
        .map { case (a, b) => b - a + 1 }.sum
      assert(nRem <= covered,
        s"doc $d: removed $nRem tokens but i35 spans cover only $covered")
      assert(nRem < nTok || covered == nTok,
        s"doc $d: fully excised yet spans don't cover the whole doc")
    }
  }

  test("i41 incremental span dedup == the global i40 excision restricted to the batch") {
    // The two-route law the oracle encodes: (corpus-present OR
    // earlier-in-batch) over batch occurrences is exactly the global
    // rn >= 2 rule restricted to batch docs, because every corpus
    // occurrence precedes every batch one. Both routes must agree
    // row-for-row on real data, and the batch must be non-trivially
    // excised.
    val docs = Tables.load(spark, dir, "documents")
    val inc = PipelineOps.spanExciseIncremental(docs, 400)
    val global = PipelineOps.spanExcise(docs).filter(col("doc_id") >= 400)
    assertSameRows(inc, global)
    assert(inc.filter(col("n_removed") > 0).count() > 0,
      "incremental excision must be non-vacuous at sf0.001")
  }

  test("i39 ADC search: recall against exact-L2 brute force, and the LUT sum is exact") {
    // ADC ranks by sum-of-4 table lookups; the test pins (a) agreement
    // with the exact L2 brute-force top-20 at or above the recall the
    // 4×8-codebook geometry actually delivers on this fixture, and
    // (b) that the registry entry's integer adc_q for each vector
    // equals the independently-computed LUT sum (the order-free
    // integer contract).
    val emb = Tables.load(spark, dir, "embeddings")
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val exact = emb.crossJoin(broadcast(qvec))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        VectorFunctions.l2sq(col("embedding"), col("qe")).as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(20)
      .select("vec_id").as[Long].collect().toSet
    val adc = Registry.byId("i39_ann_pq_adc").build(spark, dir)
    val adcRows = adc.select("vec_id", "adc_q").as[(Long, Long)].collect()
    val overlap = adcRows.map(_._1).toSet.intersect(exact).size
    println(s"[pq-adc] recall@20 overlap=$overlap/20")
    assert(overlap >= 6,
      s"ADC top-20 must overlap exact top-20 on >=6: got $overlap")
    // adc_q must be the sum of the per-block LUT entries for the
    // vector's own codes — recompute via pqQuantize + an independent
    // LUT join and compare integer-for-integer.
    val sub = PipelineOps.pqBlocks(emb, 4, 16).localCheckpoint(true)
    val cent = PipelineOps.pqTrainStep(sub, PipelineOps.pqStubCodebook(sub, 8))
    val qsub = sub.filter(col("vec_id") === 0).select(col("b"), col("sub").as("qv"))
    val lut = cent.join(qsub, Seq("b"))
      .select(col("b"), col("cid"),
        round(round(VectorFunctions.l2sq(col("qv"), col("cemb")), 6) * 1e6)
          .cast("long").as("d2q"))
      .as[(Int, Long, Long)].collect()
      .map { case (b, cid, d) => (b.toLong, cid) -> d }.toMap
    val codes = PipelineOps.pqQuantize(sub, cent, 4)
      .select("vec_id", "code0", "code1", "code2", "code3")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (v, c0, c1, c2, c3) =>
        v -> Seq(c0, c1, c2, c3).zipWithIndex.map {
          case (c, b) => lut((b.toLong, c)) }.sum
      }.toMap
    adcRows.foreach { case (v, q) =>
      assert(codes(v) == q, s"vec $v: registry adc_q=$q recomputed=${codes(v)}")
    }
  }

  test("i42 IVF-PQ: results live in probed clusters and agree with the full ADC ranking") {
    // The composed index must be exactly "i39's ADC restricted to the
    // probe set": every returned vector's coarse assignment is one of
    // the query's nprobe nearest centroids (recomputed independently
    // with the same rounded-dot order), and adc_q agrees
    // integer-for-integer with the unrestricted i39 ranking wherever
    // the two overlap.
    val emb = Tables.load(spark, dir, "embeddings")
    val i42 = Registry.byId("i42_ann_ivf_pq").build(spark, dir)
      .as[(Long, Long)].collect()
    assert(i42.nonEmpty && i42.length <= 10)
    val assigned = PipelineOps.assignToCentroids(
        emb, PipelineOps.stubCodebook(emb, 8))
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val cents = emb.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val probes = cents
      .map { case (cid, ce) =>
        (BigDecimal(dot(qv, ce))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, cid) }
      .sortBy { case (d, cid) => (-d, cid) }.take(2).map(_._2).toSet
    i42.foreach { case (v, _) =>
      assert(probes(assigned(v)),
        s"vec $v (cluster ${assigned(v)}) outside probed clusters $probes")
    }
    val i39 = Registry.byId("i39_ann_pq_adc").build(spark, dir)
      .as[(Long, Long)].collect().toMap
    val shared = i42.filter { case (v, _) => i39.contains(v) }
    assert(shared.nonEmpty, "i42 and i39 tops must overlap on this fixture")
    shared.foreach { case (v, a) =>
      assert(i39(v) == a, s"vec $v: i42 adc_q=$a i39 adc_q=${i39(v)}")
    }
  }

  test("i44 batch ADC: the qid=0 slice IS i39's single-query ranking") {
    // The lift must change the orchestration, never the math: i44's
    // qid=0 rows (top-10, self-match dropped) are exactly the first 10
    // rows of i39's global top-20 for the same query, adc_q
    // integer-for-integer — same codebooks, same LUT arithmetic, just
    // batched. Catches any drift between the per-query and unified
    // LUT formulations.
    val i44q0 = Registry.byId("i44_ann_pq_batch").build(spark, dir)
      .filter(col("qid") === 0)
      .select("rank", "vec_id", "adc_q")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(i44q0.length == 10, s"expected 10 qid=0 rows, got ${i44q0.length}")
    val i39 = Registry.byId("i39_ann_pq_adc").build(spark, dir)
      .as[(Long, Long)].collect()
    i44q0.foreach { case (r, v, a) =>
      val (v39, a39) = i39(r.toInt - 1)
      assert(v == v39 && a == a39,
        s"rank $r: i44 ($v, $a) vs i39 ($v39, $a39)")
    }
  }

  test("i45 delete cascade: crafted geometry fires every column, incl. canon_moved") {
    // The parquet fixtures never delete an exact-dup canonical that has
    // survivors (canon_moved sums to 0 at all three SFs — verified), so
    // the pointer-rewrite flag needs crafted geometry: pick a deleted
    // bucket id and a surviving one (computed from the same salted-md5
    // rule the operator uses), give them IDENTICAL text, and check the
    // deleted canonical reports the full cascade while the survivor
    // reports zeros.
    val buckets = spark.range(0, 100)
      .select(col("id").as("doc_id"), graft.operators.LlmOps.saltedBucket("del:").as("b"))
      .as[(Long, Long)].collect().toMap
    val dDel = (0L until 100L).find(buckets(_) < 5).get
    val dSur = (dDel + 1 until 100L).find(buckets(_) >= 5).get
    val dDelSolo = (dSur + 1 until 100L).find(buckets(_) < 5).get
    val dupText = "a b c d e f" // 6 tokens -> 2 five-grams
    val docs = Seq(
      (dDel, dupText, "s0"),
      (dSur, dupText, "s0"),
      (dDelSolo, "unique text pad pad2 pad3 pad4 pad5", "s0"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.LlmOps.deleteCascade(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // deleted canonical of a surviving dup group: full cascade + rewrite
    assert(out(dDel) == ((dDel, 1L, 1L, 8L, 2L, 1L, 1L)),
      s"deleted canonical row wrong: ${out(dDel)}")
    // its surviving twin: nothing removed, no flags
    assert(out(dSur) == ((dSur, 0L, 0L, 0L, 0L, 0L, 0L)),
      s"survivor row wrong: ${out(dSur)}")
    // deleted singleton: cascade but no membership, no pointer rewrite
    assert(out(dDelSolo) == ((dDelSolo, 1L, 1L, 8L, 3L, 0L, 0L)),
      s"deleted singleton row wrong: ${out(dDelSolo)}")
  }

  test("i32 composed dedup verdict subsumes i15/i18/i31 (resolution, apply, cap laws)") {
    // The composed entry must be a strict superset view: each of the
    // three separate dedup entries is a filter over the verdict table.
    val e2e = Registry.byId("i32_dedup_e2e").build(spark, dir)
    val i15 = Registry.byId("i15_dedup_clusters").build(spark, dir)
    assertSameRows(
      e2e.filter(col("cluster_size") > 1)
        .select("doc_id", "canon_id", "cluster_size"),
      i15.select("doc_id", "canon_id", "cluster_size"))
    val i18 = Registry.byId("i18_dedup_apply").build(spark, dir).select("doc_id")
    assertSameRows(e2e.filter(col("rnk") === 1).select("doc_id"), i18)
    val i31 = Registry.byId("i31_dedup_cap").build(spark, dir).select("doc_id")
    assertSameRows(e2e.filter(col("kept") === 1).select("doc_id"), i31)
  }

  test("upsampling under a sub-1 rate drops docs, never emits phantom copies") {
    // The general helper admits rates < 1.0 (source 'src-1' makes
    // ratePct = 87): a doc whose bucket misses the fractional draw must
    // emit ZERO rows — Spark's sequence(1, 0) would otherwise generate
    // the descending [1, 0] and emit two phantom copies.
    val docs = (0 until 200).map(i => (i.toLong, "src-1"))
      .toDF("doc_id", "source")
    val out = PipelineOps.upsampleCopies(docs)
      .select("doc_id", "copy_idx").as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L), "a sub-1 rate emits at most one copy")
    val kept = out.map(_._1).toSet
    assert(kept.size < 200 && kept.nonEmpty,
      s"the fractional draw must split the batch, kept ${kept.size}")
    // The kept set is exactly the bucket < 87 docs (content-addressed).
    val want = docs.select(col("doc_id"))
      .filter(graft.operators.LlmOps.saltedBucket("upsample:") < 87)
      .as[Long].collect().toSet
    assert(kept == want)
  }

  test("upsampling fails loudly on an unparseable source, never drops it silently") {
    // A source that does not parse as srcK casts to NULL; without the
    // guard the NULL n_copies would be silently dropped by the >= 1
    // filter while the DuckDB oracle's CAST errors — the guard makes
    // the engine fail the same way the oracle does.
    val docs = Seq((1L, "src3"), (2L, "garbage")).toDF("doc_id", "source")
    val e = intercept[Exception] {
      PipelineOps.upsampleCopies(docs).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("unparseable source")),
      s"expected the upsampleCopies guard, got: $e")
  }

  test("i35 duplicate spans: exact ranges, island split vs merge, within-doc repeats") {
    // Crafted geometry (k = 5): docs 0/1 share a 6-token span (two
    // overlapping dup grams -> ONE island) and a separate 5-token span
    // (gap > k-1 -> a SECOND island); doc 2 is unique (no output);
    // doc 3 repeats its own 5-token boilerplate (within-doc dup, two
    // far-apart islands); docs 6/7/8 pin the merge rule — doc 6's two
    // dup grams come from DIFFERENT partners at gap 2 <= k-1, so their
    // overlapping windows consolidate into one 7-token span.
    val docs = Seq(
      0L -> "u0 u1 u2 u3 u4 u5 A B C D E F u6 u7 u8 u9 u10 u11 u12 G H I J K u13",
      1L -> "w0 A B C D E F w1 w2 w3 w4 w5 w6 w7 G H I J K w8",
      2L -> "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9",
      3L -> "p q r s t x1 x2 x3 p q r s t",
      6L -> "s1 s2 T U V W X Y Z s3",
      7L -> "T U V W X t1",
      8L -> "t2 V W X Y Z").toDF("doc_id", "text")
    val got = PipelineOps.duplicateSpans(docs)
      .select("doc_id", "span_start", "span_end", "n_tokens", "n_grams")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (0L, 6L, 11L, 6L, 2L), (0L, 19L, 23L, 5L, 1L),
      (1L, 1L, 6L, 6L, 2L), (1L, 14L, 18L, 5L, 1L),
      (3L, 0L, 4L, 5L, 1L), (3L, 8L, 12L, 5L, 1L),
      (6L, 2L, 8L, 7L, 2L),
      (7L, 0L, 4L, 5L, 1L),
      (8L, 1L, 5L, 5L, 1L))
    assert(got == want, s"got=$got")
  }

  test("j11 normalization exactly inverts the injected noise (recovery law)") {
    // The fixture text is canonical ([a-z0-9 ], single spaces), so
    // lowercase + strip-punct + collapse + trim must recover the raw
    // text bit-for-bit from the noised form: fp_norm = md5(raw) and
    // n_norm = len(raw) for EVERY doc — and the injection provably
    // changed something (n_noised > n_norm everywhere).
    val docs = Tables.load(spark, dir, "documents")
    val got = Registry.byId("j11_normalize").build(spark, dir)
    val want = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_norm"),
      md5(col("text")).as("fp_norm"))
    assertSameRows(got.select("doc_id", "n_norm", "fp_norm"), want)
    assert(got.filter(col("n_noised") <= col("n_norm")).count() == 0,
      "the injection must lengthen every doc")
  }

  test("int8 quantization satisfies the round-to-nearest error bound per element") {
    // The law the oracled checksum can't express: symmetric round-to-
    // nearest guarantees |v − q·amax/127| ≤ amax/254 for every element
    // (half a quantization step) — the bound an ANN shard relies on
    // when it searches over codes. Checked in the engine's exact
    // arithmetic (HALF_UP on the scaled double) over every fixture
    // vector.
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    assert(vecs.nonEmpty)
    vecs.foreach { case (id, v) =>
      val amax = v.map(x => math.abs(x.toDouble)).max
      if (amax > 0) v.foreach { x =>
        val q = BigDecimal(x.toDouble / amax * 127)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(q) <= 127, s"vec $id: |q| must saturate at 127")
        val err = math.abs(x.toDouble - q * amax / 127.0)
        assert(err <= amax / 254.0 + 1e-12,
          s"vec $id: reconstruction error $err exceeds half-step ${amax / 254.0}")
      }
    }
  }

  test("trained codebook keeps empty clusters on their previous centroid") {
    // trainCodebook derives its stub from the frame's first k rows, so
    // craft a frame whose first k=3 rows ARE the intended centroids:
    // every later vector sits near [1, 0], so centroid 2 ([-1, 0]) wins
    // nothing — training must return a full k-row codebook with the
    // loser unchanged and the winner moved to its member mean.
    val emb = (Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(-1f, 0f))) ++
      (10 until 30).map(i => (i.toLong, Seq(1f, i / 100f))))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val trained = PipelineOps.trainCodebook(emb, k = 3, maxIters = 8)
      .as[(Long, Seq[Float])].collect().toMap
    assert(trained.size == 3, s"codebook must stay k-row: $trained")
    // Centroid 2 attracts nothing (every vector has a positive first
    // component; centroid 1 keeps its self-assigned member) — it must
    // survive unchanged.
    assert(trained(2L) == Seq(-1f, 0f),
      s"empty cluster must keep its centroid: ${trained(2L)}")
    // Centroid 0 moved toward its members' mean second component.
    assert(trained(0L)(1) > 0f, s"winner must move to the member mean: ${trained(0L)}")
  }

  test("minhash: identical texts yield identical signatures, sketch is 8-wide") {
    val docs = Seq(
      (1L, "alpha beta gamma", "s0"),
      (2L, "alpha beta gamma", "s0"),
      (3L, "delta epsilon", "s0")).toDF("doc_id", "text", "source")
    val sig = PipelineOps.minhashSig(docs).orderBy("doc_id").collect()
    assert(sig.length == 3)
    val row1 = sig(0).toSeq.drop(2); val row2 = sig(1).toSeq.drop(2)
    assert(row1 == row2, "equal token sets must hash to equal signatures")
    assert(row1 != sig(2).toSeq.drop(2))
  }

  test("simhash: equal token sets collide; hamming to a disjoint set is large") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "s0"),
      (2L, "delta gamma beta alpha", "s0"), // same set, different order
      (3L, "zz yy xx ww vv uu", "s0")).toDF("doc_id", "text", "source")
    val sh = PipelineOps.simhash(docs).orderBy("doc_id")
      .select(col("sh")).as[Long].collect()
    assert(sh(0) == sh(1), "simhash is a bag sketch — order-insensitive")
    assert(java.lang.Long.bitCount(sh(0) ^ sh(2)) > 2,
      "disjoint vocabularies should not be near-duplicates")
  }

  test("i8 LSH pairs are a subset of same-source pairs with high signature agreement") {
    val pairs = Registry.byId("i8_lsh_pairs").build(spark, dir).collect()
    assert(pairs.nonEmpty, "the dup-heavy corpus must produce LSH candidates")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "canonical pair order doc_id1 < doc_id2")
      assert(r.getDouble(2) >= 0.75 && r.getDouble(2) <= 1.0)
    }
  }

  test("i14 LSH end-to-end == i2 exact near-dedup (the declared 100 TB path)") {
    // Same exact verify stage, different candidate generation: prefix
    // filter (lossless by pigeonhole) vs minhash 8×1 bands (miss prob
    // ≤ 1e-8 per J≥0.9 pair, deterministic hashes). On the test corpora
    // the outputs must be identical — this closes the loop on "LSH is
    // the i2 scale path" (SURVEY §2.D).
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      assertSameRows(
        Registry.byId("i14_lsh_dedup_e2e").build(spark, d),
        Registry.byId("i2_dedup_near").build(spark, d))
    }
  }

  test("i15 cluster resolution == driver-side union-find on the same pairs") {
    // The distributed min-label fixpoint must agree with a trivial
    // union-find over the collected pair list (test-only collect).
    val pairs = Registry.byId("i2_dedup_near").build(spark, dir)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val canon = nodes.map(n => n -> find(n)).toMap
    val sizes = canon.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = nodes.toSeq.sorted
      .map(n => (n, canon(n), sizes(canon(n)))).toDF("doc_id", "canon_id", "cluster_size")
    val got = Registry.byId("i15_dedup_clusters").build(spark, dir)
    assertSameRows(got, expected)
    // canonical ids are component minima, so never above their members
    assert(got.filter(col("canon_id") > col("doc_id")).isEmpty)
  }

  test("i18 kept corpus = total docs minus non-canonical cluster members") {
    val total = Tables.load(spark, dir, "documents").count()
    val clusters = Registry.byId("i15_dedup_clusters").build(spark, dir)
    val dropped = clusters.filter(col("doc_id") =!= col("canon_id")).count()
    val kept = Registry.byId("i18_dedup_apply").build(spark, dir)
    assert(kept.count() == total - dropped)
    // every canonical doc survives; no dropped member does
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    clusters.collect().foreach { r =>
      val (d, c) = (r.getLong(0), r.getLong(1))
      assert(keptIds.contains(c), s"canonical $c must be kept")
      if (d != c) assert(!keptIds.contains(d), s"member $d must be dropped")
    }
  }

  test("i16 split assignment is a pure function of doc_id at the declared rates") {
    val a = Registry.byId("i16_split_assign").build(spark, dir).collect()
    // bucket in [0,100); split matches the bucket band
    a.foreach { r =>
      val (b, s) = (r.getLong(2), r.getString(3))
      assert(b >= 0 && b < 100)
      assert(s == (if (b < 80) "train" else if (b < 90) "validation" else "test"))
    }
    // deterministic: a second independent build bit-agrees
    val b = Registry.byId("i16_split_assign").build(spark, dir).collect()
    assert(a.map(_.toSeq.toList).toList == b.map(_.toSeq.toList).toList)
    // the hash actually stratifies: all three splits occupied at 500 docs
    assert(a.map(_.getString(3)).toSet == Set("train", "validation", "test"))
  }

  test("j5 percentile_approx sketch lands within 1 token of the exact quantiles") {
    // The mergeable-sketch path a 100 TB run uses in place of the exact
    // per-group sort; accuracy 10000 on these group sizes should be
    // near-exact.
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val both = docs.groupBy(col("source")).agg(
      percentile(col("n_tok"), lit(0.5)).as("exact"),
      percentile_approx(col("n_tok"), lit(0.5), lit(10000)).as("approx"))
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getLong(2)) <= 1.0,
        s"approx median off by > 1 token for ${r.getString(0)}")
    }
  }

  test("i10 IVF top-10 contains the query itself at sim 1.0") {
    val top = Registry.byId("i10_ann_ivf").build(spark, dir).collect()
    assert(top.length == 10)
    val self = top.find(_.getLong(0) == 0L)
    assert(self.isDefined && self.get.getDouble(1) == 1.0,
      "unit-normalized query must match itself at cosine 1.0")
  }

  test("resize stub honors the fixed output-size contract, deterministically") {
    val payloads = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    val (w, h) = (8, 4) // 32-byte budget — smaller than most docs
    val out = PipelineOps.resizePayloads(payloads, w, h).collect()
    assert(out.length == payloads.count())
    val orig = payloads.collect().toMap
    out.foreach { r =>
      val n = orig(r.doc_id).length
      assert(r.payload.length == math.min(n, w * h),
        s"doc ${r.doc_id}: resized ${r.payload.length} bytes, input $n, budget ${w * h}")
      assert(r.width == w && r.height == h)
      // subsample bytes must come from the input in order (stride pick)
      if (n > 0) assert(r.payload.head == orig(r.doc_id).head,
        "stride resample must keep the first byte")
    }
    // determinism + partition-stability: a repartitioned run is identical
    val again = PipelineOps.resizePayloads(payloads.repartition(7), w, h)
      .collect().map(r => r.doc_id -> r.payload.toSeq).toMap
    assert(out.forall(r => again(r.doc_id) == r.payload.toSeq))
  }

  test("i22 two-level prefix sum == the naive global-window running sum") {
    import org.apache.spark.sql.expressions.Window
    // The naive form (fine at test scale, a single-partition sort at real
    // scale) is the semantic spec the decomposed plan must reproduce.
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    val naive = docs
      .withColumn("cb", coalesce(sum(col("tok")).over(Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard_id", expr("cb div 2000"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok_total"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    val got = Registry.byId("i22_token_shards").build(spark, dir)
    assertSameRows(got, naive)
    // Invariants: every doc lands in exactly one shard; ids contiguous
    // from 0; shard doc-ranges are disjoint and ordered.
    val rows = got.orderBy("shard_id").collect()
    assert(rows.map(_.getLong(1)).sum == docs.count(), "docs conserved")
    assert(rows.map(_.getLong(0)).toSeq == (0L until rows.length).toSeq,
      "shard ids contiguous from 0")
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) < b.getLong(3),
        "shard doc-id ranges must be disjoint and ordered")
      case _ => ()
    }
  }

  test("i48 packing == the naive global-window placement and tiles the token stream") {
    import org.apache.spark.sql.expressions.Window
    // The naive form (fine at test scale, a single-partition sort at real
    // scale) is the semantic spec the decomposed prefix sum must match.
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    val naive = docs
      .withColumn("cb", coalesce(sum(col("tok")).over(Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("tok"),
        expr("cb div 512").as("first_seq"), (col("cb") % 512).as("seq_offset"),
        expr("(cb + tok - 1) div 512").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + lit(1L))
    val got = Registry.byId("i48_pack_sequences").build(spark, dir)
    assertSameRows(got, naive)
    // Tiling invariants: in doc_id order each doc starts exactly where
    // the previous one ended (the concatenated stream has no gaps and no
    // overlaps), and at least one doc straddles a sequence boundary so
    // the straddle arithmetic is provably exercised.
    val rows = got.orderBy("doc_id").collect()
    var expect = 0L
    rows.foreach { r =>
      assert(r.getLong(2) * 512 + r.getLong(3) == expect,
        s"doc ${r.getLong(0)} must start at token $expect")
      expect += r.getLong(1)
    }
    assert(rows.exists(_.getLong(5) > 1),
      "no doc straddles a boundary — fixture too small to exercise packing")
  }

  test("i51 manifest: every non-final sequence holds exactly 512 tokens, ids gapless") {
    val got = Registry.byId("i51_pack_manifest").build(spark, dir)
      .orderBy("seq_id").collect()
    // Sequence ids are contiguous from 0 (the packed corpus has no
    // holes), every sequence but the last is exactly full (L = 512),
    // the last holds the remainder, and fills total the token count.
    assert(got.map(_.getLong(0)).toSeq == (0L until got.length).toSeq,
      "sequence ids must be contiguous from 0")
    got.init.foreach(r => assert(r.getLong(4) == 512L,
      s"non-final sequence ${r.getLong(0)} must be full, got ${r.getLong(4)}"))
    val totalTok = Tables.load(spark, dir, "documents")
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
    assert(got.map(_.getLong(4)).sum == totalTok,
      "sequence fills must conserve the token stream")
    assert(got.last.getLong(4) <= 512L && got.last.getLong(4) > 0L)
    // Consistency with the per-doc view: straddle rows in i48 equal the
    // manifest's multi-doc boundary structure — every doc appears in
    // (last_seq - first_seq + 1) sequences, so Σ n_docs = Σ n_seqs.
    val nSeqsSum = Registry.byId("i48_pack_sequences").build(spark, dir)
      .agg(sum("n_seqs")).head.getLong(0)
    assert(got.map(_.getLong(1)).sum == nSeqsSum,
      "manifest membership must equal the per-doc straddle view")
  }

  test("i52 incremental packing == global i48 restricted to the batch (prefix-additivity)") {
    // Packing is prefix-additive: appending at the tail given only the
    // persisted corpus token total must reproduce the global placement
    // BIT-EXACTLY on the batch rows — the law that makes the ingest
    // form sound (and the analogue of i25/i41's incremental ≡
    // global-restricted pins).
    val got = Registry.byId("i52_pack_incremental").build(spark, dir)
    val want = Registry.byId("i48_pack_sequences").build(spark, dir)
      .filter(col("doc_id") >= 400)
    assertSameRows(got, want)
    assert(got.count() > 0, "the >= 400 batch must be non-empty at sf0.001")
  }

  test("i49 shuffle is a reproducible permutation with dense per-shard positions") {
    val got = Registry.byId("i49_global_shuffle").build(spark, dir)
      .localCheckpoint(true)
    val n = Tables.load(spark, dir, "documents").count()
    assert(got.count() == n && got.select("doc_id").distinct().count() == n,
      "every doc appears exactly once")
    // Each shard's positions must be exactly 1..|shard| — dense ranks,
    // no holes (a reader streams its shard file sequentially by pos).
    val bad = got.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("nd"))
      .filter(!(col("mn") === 1 && col("mx") === col("n") && col("nd") === col("n")))
    assert(bad.count() == 0, "per-shard positions must be dense 1..n")
    assert(got.select("shard_id").distinct().count() > 1, "fixture must span shards")
    // Content-addressed: a rebuild is bit-identical (no RNG, no
    // partitioning dependence).
    assertSameRows(got, Registry.byId("i49_global_shuffle").build(spark, dir))
  }

  test("i53 curriculum: quality-monotone phases, dense positions, conservation") {
    val got = Registry.byId("i53_curriculum_phase").build(spark, dir)
      .localCheckpoint(true)
    val n = Tables.load(spark, dir, "documents").count()
    assert(got.count() == n && got.select("doc_id").distinct().count() == n,
      "every doc gets exactly one curriculum slot")
    // Phases are quality-monotone: the best score in phase p never
    // exceeds the worst score in phase p+1 (equal scores share a phase
    // by construction, so the boundaries are strict).
    val ranges = got.groupBy("phase")
      .agg(min("quality").as("lo"), max("quality").as("hi"))
      .orderBy("phase").collect()
    assert(ranges.map(_.getLong(0)).toSeq.forall(p => p >= 1 && p <= 4))
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(2) < b.getDouble(1),
        s"phase ${a.getLong(0)} must be strictly below phase ${b.getLong(0)}")
      case _ => ()
    }
    assert(ranges.length > 1, "fixture must span phases")
    // Positions are dense 1..|phase| within each phase.
    val bad = got.groupBy("phase")
      .agg(count(lit(1)).as("n"), min("pos_in_phase").as("mn"),
        max("pos_in_phase").as("mx"), countDistinct("pos_in_phase").as("nd"))
      .filter(!(col("mn") === 1 && col("mx") === col("n") && col("nd") === col("n")))
    assert(bad.count() == 0, "per-phase positions must be dense 1..n")
  }

  test("i50 in-row broadcast-vocab screen == batch explode/join form") {
    val docs = Tables.load(spark, dir, "documents")
    val inRow = PipelineOps.oovScreenInRow(
      docs.select("doc_id", "text"), PipelineOps.vocabRow(docs, 16))
    val want = Registry.byId("i50_vocab_coverage").build(spark, dir)
    assertSameRows(inRow, want)
    // Non-vacuous in both directions at the TOKEN level: the vocab
    // covers a nonzero share of the token mass (it is a real top-V, not
    // disjoint from the corpus) and misses a nonzero share (the screen
    // actually fires).
    val Array(tok, oov) = want.agg(sum("n_tok"), sum("n_oov")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(oov > 0, "screen must be non-vacuous at sf0.001")
    assert(oov < tok, "vocab must cover a nonzero share of the token mass")
  }

  test("i23 Lloyd step: quantized means track the true means within the grid") {
    val emb = Tables.load(spark, dir, "embeddings")
    val got = Registry.byId("i23_kmeans_step").build(spark, dir).collect()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // Every centroid emits exactly `dim` positions, membership is
    // constant across a centroid's positions, and members total the
    // corpus (every vector assigned exactly once).
    val byCid = got.groupBy(_.getLong(0))
    byCid.foreach { case (cid, rows) =>
      assert(rows.length == dim, s"cid $cid must emit $dim positions")
      assert(rows.map(_.getLong(2)).distinct.length == 1,
        s"cid $cid membership must be constant across positions")
    }
    assert(byCid.map(_._2.head.getLong(2)).sum == emb.count(),
      "cluster memberships must partition the corpus")
    // The micro-quantized mean may differ from the true double mean by at
    // most half the 1e-6 grid (plus the final 6dp rounding). Read the
    // means from the rows already collected — no second pipeline run.
    val truth = got
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    import spark.implicits._
    val naive = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect()
    val centroids = naive.filter(_._1 < 8).map { case (id, e) => id -> e }.toMap
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val assign = naive.map { case (id, e) =>
      val best = centroids.toSeq
        .map { case (cid, c) => (BigDecimal(dot(e, c)).setScale(6, BigDecimal.RoundingMode.HALF_UP), -cid) }
        .max
      (id, -best._2, e)
    }
    assign.groupBy(_._2).foreach { case (cid, members) =>
      (0 until dim).foreach { p =>
        val mean = members.map(_._3(p).toDouble).sum / members.length
        val gotMean = truth((cid, p.toLong))
        assert(math.abs(gotMean - mean) <= 0.5e-6 + 0.5e-6 + 1e-9,
          s"cid=$cid pos=$p quantized mean $gotMean vs true $mean")
      }
    }
  }

  test("i25 drops cross-corpus and within-batch duplicates on crafted input") {
    // The driver fixture has no exact duplicates across the 400-boundary
    // (verified in DuckDB), so the equivalence test below cannot see the
    // drop paths fire. Crafted input exercises both: a batch doc whose
    // text exists in the corpus (400), a within-batch duplicate pair
    // (401/402 — min doc_id wins regardless of partitioning), and a
    // clean doc (403).
    val docs = Seq(
      (0L, "old text one"), (1L, "old text two"),
      (400L, "old text one"), // cross-corpus dup → dropped
      (402L, "fresh dup"), (401L, "fresh dup"), // in-batch dup → 401 kept
      (403L, "unique text")
    ).toDF("doc_id", "text").repartition(5)
    val got = graft.operators.LlmOps.incrementalDedup(docs, 400L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(401L, 403L), s"got $got")
  }

  test("i25 incremental dedup == the global i1 canonicals restricted to the batch") {
    // A batch doc survives incremental dedup iff it is the GLOBAL
    // canonical of its fingerprint: fp absent from the corpus side means
    // the global min doc_id lives in the batch, and the batch keeps its
    // min. So i25's survivors are exactly i1's canonical list ≥ 400 —
    // the incremental path and the full-corpus path agree on the split.
    val inc = Registry.byId("i25_dedup_incremental").build(spark, dir)
      .select("doc_id", "fp")
    val full = Registry.byId("i1_dedup_exact").build(spark, dir)
      .filter(col("doc_id") >= 400).select("doc_id", "fp")
    assertSameRows(inc, full)
  }

  test("i29 semdedup drops transitive within-cluster dups, keeps cross-cluster and sub-θ pairs") {
    // Crafted geometry (the fixture's random vectors never reach a
    // θ=0.9 drop): cluster 0 holds an exact dup pair (10/11), a 0.8-sim
    // neighbor (12, below θ), and a transitive chain 18-19-20 in the
    // orthogonal dims (cos(18,19)=cos(19,20)=0.966 ≥ θ but
    // cos(18,20)=0.866 < θ — only components, not direct edges, decide
    // the drop). Cluster 1 holds a sub-θ pair (13/14). 12 and 14 sit at
    // cos 0.96 ≥ θ but in DIFFERENT clusters — both survive, pinning the
    // SemDeDup semantic that candidates are cluster-bounded. Expected:
    // drop 11 (canon 10) and 19/20 (canon 18), keep everything else.
    val emb = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),
      (11L, Array(1f, 0f, 0f, 0f)),
      (12L, Array(0.8f, 0.6f, 0f, 0f)),
      (13L, Array(0f, 1f, 0f, 0f)),
      (14L, Array(0.6f, 0.8f, 0f, 0f)),
      (18L, Array(0f, 0f, 1f, 0f)),
      (19L, Array(0f, 0f, 0.966f, 0.259f)),
      (20L, Array(0f, 0f, 0.866f, 0.5f))
    ).toDF("vec_id", "embedding").repartition(5)
    val cent = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))
    ).toDF("cid", "cemb")
    val got = PipelineOps.semDedup(emb, cent, 0.9)
      .select("vec_id", "cid").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, 0L), (12L, 0L), (13L, 1L), (14L, 1L), (18L, 0L)),
      s"got $got")
  }

  test("i30 fuzzy join links probes to best base match with min-id tiebreak, drops sub-θ") {
    // Probe 400 ties two identical base docs at J=1 → min match_id wins;
    // 401 overlaps only 2/6 with anything (below θ=0.5) → absent;
    // 402 matches base 3 at J=3/5; 403 shares nothing → absent.
    val docs = Seq(
      (1L, "s0", "a b c d"),
      (2L, "s0", "a b c d"),
      (3L, "s1", "p q r s"),
      (400L, "s0", "a b c d"),
      (401L, "s0", "a b x y"),
      (402L, "s2", "p q r t"),
      (403L, "s0", "zz ww")
    ).toDF("doc_id", "source", "text").repartition(5)
    val got = graft.operators.LlmOps.fuzzyJoin(docs, 400L)
      .select("probe_id", "match_id", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((400L, 1L, 1.0), (402L, 3L, 0.6)), s"got $got")
  }

  test("j9 profile counts, vocabulary, and alphabetical top-term tiebreak on crafted corpus") {
    // s1: tokens a a b | b c → 5 tokens, 3 terms, a and b tie at 2 →
    // alphabetical tiebreak picks a; avg chars (10+20)/2. s2: one doc.
    val docs = Seq(
      (0L, "a a b", "s1", 10L),
      (1L, "b c", "s1", 20L),
      (2L, "x", "s2", 7L)
    ).toDF("doc_id", "text", "source", "n_chars").repartition(3)
    val got = PipelineOps.corpusProfile(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long, Double, String, Long)].collect().toSeq
    assert(got == Seq(
      ("s1", 2L, 5L, 3L, 15.0, "a", 2L),
      ("s2", 1L, 1L, 1L, 7.0, "x", 1L)), s"got $got")
  }

  test("factored pipeline helpers tolerate empty inputs") {
    // An empty crawl batch / empty pair graph / empty corpus must flow
    // through every factored helper as zero rows, never an exception —
    // the shapes an incremental pipeline hits on its first or idle runs.
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val noDocs4 = Seq.empty[(Long, String, String, Long)]
      .toDF("doc_id", "text", "source", "n_chars")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_id1", "doc_id2")
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cent = Seq((0L, Array(1f, 0f))).toDF("cid", "cemb")
    assert(graft.operators.LlmOps.fuzzyJoin(noDocs, 400L).count() == 0)
    assert(graft.operators.LlmOps.clusterLabels(noPairs).count() == 0)
    assert(graft.operators.LlmOps.nearDupClusters(noPairs).count() == 0)
    assert(graft.operators.LlmOps.incrementalDedup(
      noDocs.select("doc_id", "text"), 400L).count() == 0)
    assert(PipelineOps.corpusProfile(noDocs4).count() == 0)
    assert(PipelineOps.semDedup(noEmb, cent, 0.9).count() == 0)
    assert(PipelineOps.piiRedact(noDocs.select("doc_id", "text")).count() == 0)
    assert(PipelineOps.mixtureSample(noDocs).count() == 0)
    // round-9 helpers: span family, contamination screen, PQ spine
    assert(PipelineOps.duplicateSpans(noDocs).count() == 0)
    assert(PipelineOps.spanExcise(noDocs).count() == 0)
    assert(PipelineOps.spanExciseIncremental(noDocs, 400L).count() == 0)
    assert(PipelineOps.repeatGramsIncremental(noDocs, 400L).count() == 0)
    assert(PipelineOps.contaminationScreen(
      noDocs.select("doc_id", "text"),
      PipelineOps.evalShingleSet(noDocs)).count() == 0)
    assert(PipelineOps.pqBlocks(noEmb, 4, 16).count() == 0)
  }

  test("i31 capped dedup keeps min(K, size) per cluster and contains the full dedup") {
    // Per-cluster law against the i15 resolution: every cluster keeps
    // exactly its min(2, cluster_size) lowest ids, every unclustered doc
    // survives, and the K=1 semantics (i18) is a subset of K=2.
    val clusters = Registry.byId("i15_dedup_clusters").build(spark, dir)
      .select("doc_id", "canon_id").as[(Long, Long)].collect()
    val kept31 = Registry.byId("i31_dedup_cap").build(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val kept18 = Registry.byId("i18_dedup_apply").build(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept18.subsetOf(kept31))
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (canon, members) =>
      val ids = members.map(_._1).sorted
      val keptHere = ids.filter(kept31)
      assert(keptHere.toSeq == ids.take(2).toSeq,
        s"cluster $canon kept $keptHere of $ids")
    }
    val clustered = clusters.map(_._1).toSet
    val all = Tables.load(spark, dir, "documents")
      .select("doc_id").as[Long].collect().toSet
    assert((all -- clustered).subsetOf(kept31), "an unclustered doc was dropped")
  }

  test("i27 quantization error is bounded by the grid and the max element saturates") {
    val got = Registry.byId("i27_embed_quantize").build(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val nDims = r.getAs[Long]("n_dims")
      val nSat = r.getAs[Long]("n_sat")
      val e2 = r.getAs[Long]("e2sum")
      val amax = r.getAs[Double]("amax6")
      // Per-element rounding error ≤ amax/254, so the micro-quantized
      // error sum is ≤ n_dims·(amax/254)²·1e12 (+1 per-element round-up).
      // amax6 is the 6dp-ROUNDED max (may sit up to 5e-7 below the true
      // amax the error was computed against) — widen it back before
      // bounding so the assertion can never be spuriously tight.
      val amaxUb = amax + 5e-7
      val bound = nDims * (amaxUb / 254.0) * (amaxUb / 254.0) * 1e12 + nDims
      assert(e2 <= bound, s"vec ${r.get(0)}: e2sum $e2 exceeds grid bound $bound")
      // The element achieving |v| = amax quantizes to ±127 exactly.
      assert(amax == 0.0 || nSat >= 1, s"vec ${r.get(0)}: max element must saturate")
    }
  }

  test("i28 recall is well-formed and every query finds itself") {
    val got = Registry.byId("i28_ann_recall").build(spark, dir).collect()
    assert(got.length == 20, "one recall row per query")
    got.foreach { r =>
      val nHit = r.getAs[Long]("n_hit")
      val recall = r.getAs[Double]("recall")
      assert(recall >= 0.0 && recall <= 1.0)
      // The query vector is in the corpus, its own cluster is always
      // probed (the probe argmax IS the assignment argmax), and sim 1.0
      // ranks first — so at least one of the 3 slots is always a hit.
      assert(nHit >= 1 && nHit <= 3, s"qid ${r.get(0)}: n_hit $nHit out of range")
    }
  }

  test("j8 novelty: the first doc is fully novel and every shingle is new exactly once") {
    val got = Registry.byId("j8_ngram_novelty").build(spark, dir)
    val first = got.orderBy("doc_id").limit(1).collect()(0)
    assert(first.getAs[Double]("novelty") == 1.0,
      "the lowest doc_id can only contain first-seen shingles")
    // Σ n_new over docs == number of distinct shingles in the corpus:
    // each distinct shingle is "new" in exactly one doc (its first).
    val totalNew = got.agg(sum("n_new")).collect()(0).getLong(0)
    val distinctShingles = Tables.load(spark, dir, "documents")
      .select(explode(PipelineOps.gramZip(col("text"), 3)).as("z"))
      .select(xxhash64(col("z.0"), col("z.1"), col("z.2")).as("g"))
      .distinct().count()
    assert(totalNew == distinctShingles,
      s"sum(n_new)=$totalNew must equal distinct shingle count $distinctShingles")
  }

  test("j7 patterns count and scrub crafted PII variants") {
    // piiRedact's patterns against hand-built cases beyond the
    // fixture's single injection: multiple instances, mixed classes,
    // and clean text. (The injection suffix adds one of each class to
    // every row, so expected counts are crafted + 1.)
    val rows = Seq(
      (0L, "reach a.b+tag@sub.example.org or ops@example.io today"), // +2 emails
      (1L, "call +1-800-555-0199 then +44-20-7946-0958"),            // +2 phones
      (2L, "hosts 192.168.0.1 and 8.8.8.8 and 255.255.255.255"),     // +3 ips
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val got = PipelineOps.piiRedact(rows).orderBy("doc_id")
      .select("n_email", "n_phone", "n_ip").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 1L, 1L), (1L, 3L, 1L), (1L, 1L, 4L), (1L, 1L, 1L)),
      s"got $got")
  }

  test("j7 redaction provably fires: every doc counts one of each PII class") {
    val got = Registry.byId("j7_pii_redact").build(spark, dir)
    assert(got.filter(col("n_email") < 1 || col("n_phone") < 1 || col("n_ip") < 1)
      .count() == 0,
      "the deterministic injection must be found by all three patterns")
  }

  test("i21 sample is reproducible and respects every per-source rate bound") {
    val got = Registry.byId("i21_sample_stratified").build(spark, dir)
    // Deterministic: a second independent build is row-identical.
    assertSameRows(got, Registry.byId("i21_sample_stratified").build(spark, dir))
    // Every surviving bucket is under its source's rate by construction;
    // re-check from the raw table so the filter itself is exercised.
    val bad = got.filter(col("bucket") >= col("rate")).count()
    assert(bad == 0, "no kept doc may sit at or above its source rate")
    // src0 has rate 100 — everything survives.
    val total0 = Tables.load(spark, dir, "documents")
      .filter(col("source") === "src0").count()
    assert(got.filter(col("source") === "src0").count() == total0,
      "rate-100 source must be fully kept")
  }

  test("i54 chunking laws: full coverage, fixed stride, W-bounded, overlap W-S") {
    val got = Registry.byId("i54_chunk_windows").build(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
    val byDoc = got.groupBy(col("doc_id")).agg(
      count(lit(1)).as("nc"), max(col("chunk_id")).as("maxc"),
      max(col("tok_start") + col("n_toks")).as("covered_end"),
      max(col("n_toks")).as("max_len"))
    val j = byDoc.join(docs, "doc_id")
    // Every doc chunks; chunk_ids are dense 0..nc-1; the last chunk ends
    // exactly at the doc's last token; no chunk exceeds W=32 tokens.
    assert(j.count() == docs.count(), "every doc must produce >=1 chunk")
    assert(j.filter(col("maxc") =!= col("nc") - 1).count() == 0)
    assert(j.filter(col("covered_end") =!= col("nt")).count() == 0,
      "chunks must cover the doc exactly to its last token")
    assert(j.filter(col("max_len") > 32).count() == 0)
    // Fixed stride: chunk i starts at 24*i, so consecutive full windows
    // overlap by exactly W-S=8 tokens.
    assert(got.filter(col("tok_start") =!= col("chunk_id") * 24).count() == 0)
  }

  test("i55 BPE step: crafted corpus yields the textbook merge argmax") {
    // Classic BPE example: 'lo' appears in every word of ll/lo corpus.
    val crafted = Seq(
      (0L, "low low low lower lowest"),
      (1L, "new newer newest low")).toDF("doc_id", "text")
    val words = crafted.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val pairs = words.filter(length(col("w")) >= 2)
      .select(col("n"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // 'lo' and 'ow': in low(x4), lower, lowest -> 6 each; 'lo' wins the
    // pair-asc tie-break — the merge a sequential BPE trainer picks.
    assert(pairs.head == ("lo" -> 6L), s"argmax was ${pairs.head}")
    assert(pairs.toMap.apply("ow") == 6L)
    assert(pairs.toMap.apply("ne") == 3L) // new, newer, newest
  }

  test("i56 winnowing guarantee: a shared 6-token run always collides; short docs fingerprint") {
    // Winnowing with k=3, w=4 guarantees any shared substring of
    // >= w+k-1 = 6 tokens yields a shared fingerprint (Schleimer 2003).
    val shared = "q7 q8 q9 qa qb qc" // 6 tokens, 4 grams, one full window
    val crafted = Seq(
      (0L, s"u1 u2 u3 $shared u4 u5"), // "eval" doc
      (60L, s"v1 v2 $shared v3 v4 v5 v6"), // train doc with the run
      (61L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"), // train doc, disjoint tokens
      (62L, "s1 s2 s3 s4")).toDF("doc_id", "text") // 2 grams < window
    val fp = PipelineOps.winnowFingerprints(crafted)
    val evFp = fp.filter(col("doc_id") === 0L).select("fp")
    val hit = fp.filter(col("doc_id") === 60L).join(evFp, "fp").count()
    assert(hit >= 1, "shared 6-token run must produce a shared fingerprint")
    val miss = fp.filter(col("doc_id") === 61L).join(evFp, "fp").count()
    assert(miss == 0, "token-disjoint docs share no fingerprint")
    // A doc shorter than the window still emits its global-min gram.
    assert(fp.filter(col("doc_id") === 62L).count() == 1)
    // Density: winnowed set is a strict subset of the gram set.
    val grams = crafted.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t")).count()
    assert(fp.count() < grams)
  }

  test("i57 decontamination: drops exactly the over-threshold docs, keeps the rest") {
    // The apply step must agree with the screen it composes: survivors =
    // train docs minus the i19-flagged set, and the flagged set is
    // NON-EMPTY on the fixture (a vacuously-clean corpus would pass any
    // broken anti-join).
    val out = Registry.byId("i57_decontaminate").build(spark, dir)
    val train = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") >= 50)
    val flagged = Registry.byId("i19_contamination").build(spark, dir)
      .select("doc_id")
    val nFlagged = flagged.count()
    assert(nFlagged > 0, "fixture must contain contaminated docs")
    assert(out.count() == train.count() - nFlagged,
      "survivors = train minus flagged, exactly")
    assert(out.join(flagged, "doc_id").count() == 0,
      "no flagged doc survives")
  }

  test("i58 mixture weights: token-share after weighting is uniform across sources") {
    // The defining property: weight_s * tokens_s = total/K for every
    // source (up to the round(6) display contract).
    val rows = Registry.byId("i58_mixture_weights").build(spark, dir)
      .collect()
    val total = rows.map(_.getAs[Long]("n_tok")).sum.toDouble
    val k = rows.length
    rows.foreach { r =>
      val weighted = r.getAs[Double]("weight") * r.getAs[Long]("n_tok")
      assert(math.abs(weighted - total / k) < total / k * 1e-4,
        s"${r.getAs[String]("source")}: weighted share $weighted != ${total / k}")
    }
  }

  test("i59 BPE apply: merge counts match a literal per-word scan of the corpus") {
    // Independent model: count non-overlapping pair occurrences with a
    // driver-side greedy scan over the distinct words.
    val out = Registry.byId("i59_bpe_merge_apply").build(spark, dir).collect()
    assert(out.nonEmpty, "the argmax pair must occur somewhere")
    val pair = out.head.getAs[String]("pair")
    def greedy(w: String): Long = {
      var i = 0; var c = 0L
      while (i <= w.length - 2) {
        if (w.substring(i, i + 2) == pair) { c += 1; i += 2 } else i += 1
      }
      c
    }
    out.foreach { r =>
      val w = r.getAs[String]("w")
      assert(r.getAs[Long]("merged") == greedy(w),
        s"word '$w': engine ${r.getAs[Long]("merged")} != greedy ${greedy(w)}")
      assert(r.getAs[Long]("total_merges") ==
        greedy(w) * r.getAs[Long]("n"))
    }
  }

  test("j13 Zipf slope: negative on the fixture; -1 on a crafted exact power law") {
    // The fixture fit must come out negative (more frequent => lower
    // rank). Then a crafted corpus whose frequencies are EXACTLY
    // n(rank) = 12 / rank at ranks 1..4 (counts 12, 6, 4, 3):
    // ln n = ln 12 - ln rank, so the least-squares slope is exactly -1 —
    // run through the SAME Spark pipeline shape as the registry entry,
    // not recomputed driver-side.
    val fixture = Registry.byId("j13_zipf_slope").build(spark, dir).head()
    assert(fixture.getAs[Double]("zipf_slope") < 0,
      "corpus slope must be negative")
    val crafted = Seq((0L,
      (Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++ Seq.fill(4)("w3") ++
        Seq.fill(3)("w4")).mkString(" "))).toDF("doc_id", "text")
    crafted.createOrReplaceTempView("zipf_crafted")
    val slope = spark.sql(
      """WITH w AS (SELECT w, count(*) AS n
        |  FROM (SELECT explode(split(text, ' ')) AS w FROM zipf_crafted)
        |  GROUP BY w),
        |ranked AS (SELECT ln(row_number() OVER (ORDER BY n DESC, w)) AS x,
        |    ln(n) AS y FROM w ORDER BY n DESC, w LIMIT 30)
        |SELECT (count(*) * sum(x*y) - sum(x) * sum(y)) /
        |       (count(*) * sum(x*x) - sum(x) * sum(x)) AS slope
        |FROM ranked""".stripMargin).head().getDouble(0)
    assert(math.abs(slope - -1.0) < 1e-9, s"crafted slope $slope")
  }

  test("i60 DSIR: crafted corpus ranks target-like > mixed > off-target with hand-computed weights") {
    // Target (en) doc speaks 'a b' bigrams; an off-target doc speaks
    // 'x y'; a mixed doc speaks half of each. Hand computation:
    //   occurrences: d0 ab3 ba2 | d1 xy3 yx2 | d2 ab2 ba1 bx1 xy1
    //   raw: ab5 ba3 xy4 yx2 bx1; target (d0): ab3 ba2
    //   q = round(1e6(ct+1)/(cs+1)): ab 666667, ba 750000, xy 200000,
    //       yx 333333, bx 500000
    //   means/1e6: d0 .7000002, d1 .2533332, d2 .5566668
    //   cfac = (S+V)/(T+V) = (15+5)/(5+5) = 2
    //   weights (round 4): d0 1.4, d1 .5067, d2 1.1133
    val crafted = Seq(
      (0L, "en", "a b a b a b"),
      (1L, "de", "x y x y x y"),
      (2L, "de", "a b a b x y")).toDF("doc_id", "lang", "text")
    val got = PipelineOps.dsirImportance(crafted, topK = 3).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 2L, 1L),
      s"rank order must be target > mixed > off-target: ${got.toSeq}")
    val w = got.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("dsir_weight")).toMap
    assert(w(0L) == 1.4 && w(2L) == 1.1133 && w(1L) == 0.5067,
      s"hand-computed weights must match exactly: $w")
  }

  test("i61 power step: crafted matrix yields the exact integer X^T(Xv0)") {
    // X = [[1, 0], [0.5, 0.5]], v0 = e0 -> Xv0 = (1, 0.5); quantized
    // q = (1e6, 5e5). u = X^T diag-free accumulation:
    //   u0 = 1e6*1e6 + 5e5*5e5 = 1.25e12
    //   u1 = 0*1e6   + 5e5*5e5 = 2.5e11
    val crafted = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val got = PipelineOps.pcaPowerStep(crafted).collect()
      .map(r => r.getAs[Long]("pos") -> r.getAs[Long]("u_q")).toMap
    assert(got == Map(0L -> 1250000000000L, 1L -> 250000000000L),
      s"exact integer matvec mismatch: $got")
    // Fixture invariant: u[0] = sum of squares of the first coordinate,
    // strictly positive on any non-degenerate corpus.
    val fix = Registry.byId("i61_pca_power_step").build(spark, dir)
      .filter(col("pos") === 0L).head().getAs[Long]("u_q")
    assert(fix > 0L, "u[0] is a sum of squares, must be positive")
  }

  test("i63 budget selection: within budget, level-maximal, quality-monotone") {
    val sel = Registry.byId("i63_budget_select").build(spark, dir).collect()
    val q = PipelineOps.docTokQuality(Tables.load(spark, dir, "documents"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("quality"), r.getAs[Long]("n_tok")))
    val budget = q.map(_._3).sum / 3
    val selIds = sel.map(_.getAs[Long]("doc_id")).toSet
    // Conservation: the selection fits the budget.
    val used = sel.map(_.getAs[Long]("n_tok")).sum
    assert(used <= budget, s"selection $used must fit budget $budget")
    // Maximality at level granularity: the best excluded LEVEL would
    // not have fit on top of the selection.
    val excluded = q.filterNot(t => selIds(t._1))
    assert(excluded.nonEmpty && sel.nonEmpty, "the cut must bite both ways")
    val bestExcl = excluded.map(_._2).max
    val bestExclTok = excluded.filter(_._2 == bestExcl).map(_._3).sum
    assert(used + bestExclTok > budget,
      s"adding the best excluded level ($bestExcl, $bestExclTok tok) must overflow")
    // Quality monotonicity: keep-set is a prefix of the score order —
    // no excluded doc outranks any selected doc.
    val minSel = sel.map(_.getAs[Double]("quality")).min
    assert(bestExcl < minSel,
      s"excluded quality $bestExcl must sit strictly below selected min $minSel")
  }

  test("i64 rendezvous: growing 4->5 shards moves docs ONLY onto the new shard") {
    val rows = Registry.byId("i64_rendezvous_shard").build(spark, dir).collect()
    val moved = rows.filter(r => r.getAs[Long]("shard4") != r.getAs[Long]("shard5"))
    // The minimal-disruption law, EXACT: a doc's weights for shards
    // 0..3 are unchanged by adding shard 4, so the argmax can only
    // change if the NEW shard wins — no doc ever moves between two
    // old shards (a mod-S scheme reshuffles (S-1)/S of the corpus).
    assert(moved.nonEmpty, "some docs must land on the new shard")
    assert(moved.forall(_.getAs[Long]("shard5") == 4L),
      s"every mover must land ON shard 4: ${moved.take(3).toSeq}")
    // Expected move fraction is 1/5; bound it loosely (md5 uniformity).
    val frac = moved.length.toDouble / rows.length
    assert(frac > 0.05 && frac < 0.4, s"move fraction $frac far from 1/5")
    // Balance sanity: every old shard owns someone under S=4.
    assert(rows.map(_.getAs[Long]("shard4")).distinct.sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L))
  }

  test("j15 TVD laws: identical sources -> 0, disjoint -> 1, fixture bounded in (0,1)") {
    // Metric endpoints on a crafted corpus through the registry's code
    // path: sources A and B share one distribution (TVD 0), C is
    // token-disjoint from both (TVD 1), D overlaps A halfway: p_A =
    // (½,½) on (x,y), p_D = (½,½) on (y,z) -> TVD = ½(½+0+½)... = 0.5.
    val crafted = Seq(
      (0L, "A", "x y x y"),
      (1L, "B", "x x y y"),
      (2L, "C", "w w w w"),
      (3L, "D", "y z y z")).toDF("doc_id", "source", "text")
    val got = PipelineOps.sourceTvd(crafted).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("tvd"))
      .toMap
    assert(got(("A", "B")) == 0.0, s"identical distributions: $got")
    assert(got(("A", "C")) == 1.0 && got(("B", "C")) == 1.0,
      s"disjoint vocabularies: $got")
    assert(got(("A", "D")) == 0.5, s"half-overlap: $got")
    // Fixture sanity: every pair lands strictly inside [0, 1] and the
    // full 190-pair matrix materializes.
    val fix = Registry.byId("j15_source_divergence").build(spark, dir).collect()
    assert(fix.length == 190)
    assert(fix.forall { r =>
      val t = r.getAs[Double]("tvd"); t >= 0.0 && t <= 1.0
    })
  }

  test("i66 sibling law vs i18: same survivor count, quality-dominant canonicals") {
    // Both apply rules keep exactly one doc per near-dup cluster, so
    // the survivor COUNT must be identical; and wherever the two picks
    // differ, i66's pick must strictly quality-dominate i18's (equal
    // quality falls back to min-id and the picks coincide).
    val byQuality = Registry.byId("i66_dedup_quality_canon").build(spark, dir)
    val byMinId = Registry.byId("i18_dedup_apply").build(spark, dir)
    assert(byQuality.count() == byMinId.count(),
      "one survivor per cluster under either rule")
    val q = PipelineOps.docTokQuality(Tables.load(spark, dir, "documents"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("quality")).toMap
    val qIds = byQuality.collect().map(_.getAs[Long]("doc_id")).toSet
    val mIds = byMinId.collect().map(_.getAs[Long]("doc_id")).toSet
    assert((qIds -- mIds).nonEmpty,
      "the quality rule must disagree somewhere on the fixture")
    // The per-cluster law: each cluster's i66 pick quality-dominates
    // its i18 pick (they coincide when qualities tie — the doc_id
    // fallback is min-id on both sides then).
    val clusters = LlmOps.clusterLabels(
      LlmOps.nearDupPairs(Tables.load(spark, dir, "documents")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("lbl"))
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      val ids = members.map(_._1)
      val pickQ = ids.filter(qIds).toSeq
      val pickM = ids.filter(mIds).toSeq
      assert(pickQ.size == 1 && pickM.size == 1,
        s"cluster $lbl must keep exactly one member under each rule")
      assert(q(pickQ.head) >= q(pickM.head),
        s"cluster $lbl: quality pick ${pickQ.head} must dominate ${pickM.head}")
    }
  }

  test("j16 Gini endpoints: uniform over k types -> 1-1/k, single-token collapse -> 0") {
    val crafted = Seq(
      (0L, "U", "a b c d"),          // uniform over 4 -> 1 - 4/16 = 0.75
      (1L, "S", "spam spam spam"),   // collapsed -> 0
      (2L, "M", "a a a b")).toDF("doc_id", "source", "text")
      // M: (3/4)^2 + (1/4)^2 = 10/16 -> 0.375
    val got = PipelineOps.tokenGini(crafted).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Double]("gini_diversity")).toMap
    assert(got("U") == 0.75 && got("S") == 0.0 && got("M") == 0.375,
      s"endpoint mismatch: $got")
  }

  test("i67 CMS law: the sketch never undercounts any probed token") {
    val rows = Registry.byId("i67_cms_heavy_hitters").build(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("est_cnt") >= r.getAs[Long]("true_cnt"),
        s"CMS undercounted ${r.getAs[String]("w")}")
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("est_cnt") - r.getAs[Long]("true_cnt"))
    }
  }

  test("i68 Bloom prescreen is semantics-preserving: row-identical to i19") {
    assertSameRows(
      Registry.byId("i68_bloom_prescreen").build(spark, dir),
      Registry.byId("i19_contamination").build(spark, dir))
  }

  test("j17 entropy endpoints: uniform -> max bits & norm 1, collapse -> 0, 3:1 split exact") {
    val crafted = Seq(
      (0L, "U", "a b c d"),          // uniform over 4 -> 2 bits, norm 1
      (1L, "S", "spam spam spam"),   // collapsed -> 0 bits (norm 1 by the
                                     // single-support convention)
      (2L, "M", "a a a b")).toDF("doc_id", "source", "text")
    val got = PipelineOps.tokenEntropy(crafted).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("entropy_bits"), r.getAs[Double]("norm_entropy"))).toMap
    assert(got("U") == ((2.0, 1.0)), s"uniform: ${got("U")}")
    assert(got("S") == ((0.0, 1.0)), s"collapsed: ${got("S")}")
    // H(3/4, 1/4) = 2 - 0.75·log2(3) = 0.8113 bits; |V|=2 so norm == H.
    assert(got("M") == ((0.8113, 0.8113)), s"split: ${got("M")}")
  }

  test("scaledK pins bucket depth: fixture k at every gate SF, N/250 beyond") {
    def embOf(n: Long) = spark.range(n).toDF("vec_id")
    // Gate SFs (N ≤ 2000) must reproduce the fixture k = 8 bit-for-bit —
    // the sf0.1 fixture depth IS the rule's target bucket (2000/250 = 8).
    assert(PipelineOps.scaledK(embOf(500)) == 8)    // sf0.001 / sf0.01
    assert(PipelineOps.scaledK(embOf(2000)) == 8)   // sf0.1
    // Scaled clones: bucket depth stays ~250, so k grows with the corpus.
    assert(PipelineOps.scaledK(embOf(20000)) == 80)  // sf1
    assert(PipelineOps.scaledK(embOf(200000)) == 800) // sf10
  }

  // Shared crafted near-dup geometry for the graph operators: a sliding
  // 20-token window over a 23-token stream chains P1–P4 into a PATH
  // (adjacent windows share 19/21 tokens → J = 0.9047 ≥ 0.9; two apart
  // share 18/22 → J = 0.818 < 0.9), and three IDENTICAL docs form a
  // TRIANGLE on a disjoint vocabulary.
  private def graphDocs = {
    val stream = (0 until 23).map(i => s"w$i")
    val path = (0 until 4).map(i =>
      (i.toLong, stream.slice(i, i + 20).mkString(" ")))
    val triText = (0 until 20).map(i => s"t$i").mkString(" ")
    val tri = (10 until 13).map(i => (i.toLong, triText))
    (path ++ tri).toDF("doc_id", "text")
      .withColumn("source", lit("s0"))
  }

  test("i83 k-core peel: the second round fires on a path, spares the triangle") {
    val got = LlmOps.kcorePeel(graphDocs.withColumn("lang", lit("xx")))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // Path endpoints: degree 1, gone in round 1.
    assert(got(0L) == ((0L, 1L, 0L, 0L)) && got(3L) == ((3L, 1L, 0L, 0L)),
      s"endpoints: ${got(0L)}, ${got(3L)}")
    // Path interior: degree 2 survives round 1 but drops to 1 once the
    // endpoints go — round 2 peels it (deg2 = 0). This is the case the
    // fixture graph never exercises (no sf has a deg1 = 1 node).
    assert(got(1L) == ((1L, 2L, 1L, 0L)) && got(2L) == ((2L, 2L, 1L, 0L)),
      s"interior: ${got(1L)}, ${got(2L)}")
    // Triangle: 2-core, untouched by both rounds.
    (10L until 13L).foreach(i =>
      assert(got(i) == ((i, 2L, 2L, 2L)), s"triangle $i: ${got(i)}"))
  }

  test("i82 label propagation: majority wins, ties go to the smallest lang, isolated keep") {
    // Triangle with langs (bb, aa, bb): the aa member flips to the
    // neighbor-majority bb; each bb member sees one aa + one bb vote —
    // a TIE, resolved to the lexicographically smaller aa.
    val docs = graphDocs.withColumn("lang",
      when(col("doc_id") === 11L, lit("aa"))
        .when(col("doc_id").isin(10L, 12L), lit("bb"))
        .otherwise(lit("zz")))
      // keep only the triangle + one isolated doc (path doc 0 loses its
      // neighbors, so it is edge-free and must keep its own label)
      .filter(col("doc_id").isin(0L, 10L, 11L, 12L))
    val got = LlmOps.labelPropagateStep(docs)
      .as[(Long, String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(11L) == ((11L, "aa", "bb", 2L, 1L)), s"majority: ${got(11L)}")
    assert(got(10L) == ((10L, "bb", "aa", 1L, 1L)), s"tie->min: ${got(10L)}")
    assert(got(12L) == ((12L, "bb", "aa", 1L, 1L)), s"tie->min: ${got(12L)}")
    assert(got(0L) == ((0L, "zz", "zz", 0L, 0L)), s"isolated: ${got(0L)}")
  }

  test("i95 quota select: a starved source reports fill_ppm=0, never vanishes") {
    // s1: three IDENTICAL docs → ONE quality level; its cum (= stot)
    // always exceeds quota (stot div 3), so all-or-nothing keeps zero
    // levels — the starved case ADVICE r14 flagged as silently dropped.
    // s2: two distinct quality levels, the better one fits its quota.
    val docs = Seq(
      ("s1", "alpha beta gamma delta"),
      ("s1", "alpha beta gamma delta"),
      ("s1", "alpha beta gamma delta"),
      ("s2", "one two three four five six seven eight nine ten"),
      ("s2", "the the the the a a a a the a the a the a the a the a the a"),
      ("s2", "the the the the a a a a the a the a the a the a the a the a")
    ).toDF("source", "text")
    val got = PipelineOps.quotaSelect(docs)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val s1 = got("s1")
    assert(s1._2 == 0L && s1._3 == 0L && s1._5 == 0L,
      s"starved source must report an explicit zero row: $s1")
    assert(s1._4 == 4L, s"quota = 12 tokens div 3: $s1") // 3 docs x 4 tok
    val s2 = got("s2")
    assert(s2._2 >= 1L && s2._3 >= 1L && s2._5 > 0L,
      s"non-starved source keeps its best level: $s2")
  }

  /** An INDEPENDENT row_number formulation of stub two-level routing
    * (stage 1 top-2 of the g lowest-cid supers, stage 2 argmax over the
    * routed groups' members, each super pinned to its own group):
    * (vec_id, cid, best_sim).
    */
  private def twoStageOracle(emb: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    val supers = cent.filter(col("cid") < g)
    def rankTo(rows: org.apache.spark.sql.DataFrame, keep: Int, idOut: String) =
      rows.crossJoin(supers.select(col("cid").as("xid"), col("cemb").as("xemb")))
        .withColumn("d", round(VectorFunctions.dot(col("embedding"), col("xemb")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d").desc, col("xid"))))
        .filter(col("rn") <= keep)
        .select(col("vec_id"), col("embedding"), col("xid").as(idOut))
    val grouping = rankTo(
        cent.select(col("cid").as("vec_id"), col("cemb").as("embedding")), 1, "gid0")
      .select(col("vec_id").as("mcid"),
        when(col("vec_id") < g, col("vec_id")).otherwise(col("gid0")).as("gid"))
      .join(cent.select(col("cid").as("mcid"), col("cemb")), "mcid")
    // stage 1 keeps the TOP-2 supers; joining both routed rows to the
    // (disjoint) groups unions their members, and the final argmax over
    // the union is the two-level winner.
    rankTo(emb, 2, "gid").join(grouping, "gid")
      .withColumn("d", round(VectorFunctions.dot(col("embedding"), col("cemb")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d").desc, col("mcid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("mcid").as("cid"), col("d").as("best_sim"))
  }

  /** `body` with every broadcast join below a hint turned off. */
  private def withoutBroadcastJoins(body: => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, old)
  }

  test("two-level routing == the window-formulated two-stage oracle (k=256)") {
    // The hierarchical router's inline argmaxes (stage 1 supers, stage 2
    // group members, + the super self-pin in the grouping) must
    // reproduce the row_number formulation of the same two-stage
    // semantics exactly — the same law the flat form's SQL oracle pins
    // at the gate SFs, where k stays below hierRouteMin. Broadcast joins
    // off must not change a row.
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 256
    val cent = PipelineOps.stubCodebook(emb, k).localCheckpoint(true)
    val expect = twoStageOracle(emb, cent, k)
    def got = PipelineOps.assignToCentroids(emb, cent, k)
      .select(col("vec_id"), col("cid"), col("best_sim"))
    assertSameRows(got, expect)
    withoutBroadcastJoins(assertSameRows(got, expect))
  }

  test("two-level routing laws: best_sim never exceeds flat; dispatcher honors hierRouteMin") {
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 256
    val cent = PipelineOps.stubCodebook(emb, k).localCheckpoint(true)
    val two = PipelineOps.assignToCentroids(emb, cent, k)
      .select(col("vec_id"), col("cid"), col("best_sim"))
    val flat = PipelineOps.assignToCentroidsFlat(emb, cent)
      .select(col("vec_id"), col("cid").as("fcid"), col("best_sim").as("fsim"))
    val j = two.join(flat, "vec_id").localCheckpoint(true)
    // Subset law: stage 2 argmaxes over a SUBSET of the codebook, so its
    // winner can never beat the flat global argmax.
    assert(j.filter(col("best_sim") > col("fsim")).count() == 0,
      "routed best_sim must be <= the flat global best")
    // Whenever the routed winner IS the flat winner, sims agree exactly.
    assert(j.filter(col("cid") === col("fcid") &&
      col("best_sim") =!= col("fsim")).count() == 0)
    val tot = j.count()
    val agree = j.filter(col("cid") === col("fcid")).count()
    println(s"[two-level] flat-agreement $agree/$tot at k=$k")
    assert(agree > 0, "routing must recover at least some flat winners")
    // Dispatcher: below hierRouteMin the k hint still plans FLAT (the
    // gate-SF guarantee — CORRECTNESS plans bit-identical to r14).
    // Supplied supers are ignored there: flat routing has no stage 1.
    val small = PipelineOps.stubCodebook(emb, 8)
    Seq(None, Some(small)).foreach(sup =>
      assertSameRows(PipelineOps.assignToCentroids(emb, small, 8, sup),
        PipelineOps.assignToCentroidsFlat(emb, small)))
    // Dispatcher, partitioned stage 2: at k >= partitionedRouteMin the
    // SAME call routes stage 2 through the gid join — the plan gains the
    // vec_id merge Exchange (the broadcast form has none) — and still
    // matches the two-stage oracle, with broadcast joins on and off.
    val kp = PipelineOps.partitionedRouteMin
    def dispatched = PipelineOps.assignToCentroids(emb, cent, kp)
    assert(!two.queryExecution.executedPlan.toString.contains("hashpartitioning(vec_id"),
      "below partitionedRouteMin stage 2 must stay broadcast")
    assert(dispatched.queryExecution.executedPlan.toString.contains("hashpartitioning(vec_id"),
      "k >= partitionedRouteMin must plan the partitioned stage 2")
    val expect = twoStageOracle(emb, cent, kp)
    assertSameRows(dispatched.select(col("vec_id"), col("cid"), col("best_sim")), expect)
    withoutBroadcastJoins(assertSameRows(
      dispatched.select(col("vec_id"), col("cid"), col("best_sim")), expect))
  }

  test("BPE trainer: deterministic merge list, strict per-round compression, replay == trainer state") {
    val docs = Tables.load(spark, dir, "documents")
    val (merges, finalWords) = PipelineOps.trainBpeMerges(docs, 6)
    assert(merges.nonEmpty && merges.size <= 6)
    // Training is deterministic end to end (the i55 tie-break rule).
    assert(merges == PipelineOps.trainBpeMerges(docs, 6)._1)
    // Round 1's merge IS the oracled i55 argmax.
    val i55top = Registry.byId("i55_bpe_merge_step").build(spark, dir)
      .orderBy(col("cnt").desc, col("pair").asc).limit(1)
      .head.getString(0)
    assert(merges.head == i55top, s"first merge ${merges.head} != i55 $i55top")
    // Corpus-weighted symbol count strictly decreases at every emitted
    // merge (each argmax had cnt > 1, and i59's replace arithmetic
    // removes total_merges symbols).
    val base = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n")).localCheckpoint(true)
    def symCount(ws: org.apache.spark.sql.DataFrame): Long =
      ws.agg(sum(length(col("w")) * col("n"))).head.getLong(0)
    val counts = (0 to merges.size).map(k =>
      symCount(PipelineOps.bpeApplyMerges(base, merges.take(k))))
    assert(counts.sliding(2).forall(p => p(1) < p(0)),
      s"symbol counts must strictly decrease: $counts")
    // Deployment replay of the merge list reproduces the trainer's
    // final word table exactly.
    assertSameRows(PipelineOps.bpeApplyMerges(base, merges), finalWords)
  }

  test("PCA power trainer: planted direction recovered, Rayleigh quotient non-decreasing, partition-invariant") {
    // Planted spectrum: many vectors along e2 (the dominant direction),
    // a few along e3 — the trainer must turn its e1 start into ±e2.
    val planted = ((1 to 40).map(i => (i.toLong,
        Seq(0.01f, 1.0f, 0.0f, 0.0f))) ++
      (41 to 45).map(i => (i.toLong, Seq(0.0f, 0.0f, 1.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val v = PipelineOps.trainPcaDirection(planted, maxIters = 24)
    assert(math.abs(v(1)) > 0.99,
      s"dominant direction must be ~e2: $v")
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9,
      "result must be unit-norm")
    // Partition invariance (the product-then-quantize sums are
    // order-free) on the real fixture.
    val emb = Tables.load(spark, dir, "embeddings")
    val a = PipelineOps.trainPcaDirection(emb, maxIters = 4)
    val b = PipelineOps.trainPcaDirection(emb.repartition(7), maxIters = 4)
    assert(a == b, "trainer must be partition-invariant")
    // Rayleigh quotient non-decreasing (PSD Gram): RQ after k rounds =
    // |Gv_k| · (v_kᵀ v_{k+1}) — proxy: RQ(v) = vᵀGv computed per round
    // via the same machinery, strictly tracked over the fixture.
    def rq(vv: Seq[Double]): Double = {
      val vCol = array(vv.map(lit): _*)
      emb.withColumn("d", graft.functions.VectorFunctions.dot(col("embedding"), vCol))
        .agg(sum(col("d") * col("d"))).head.getDouble(0)
    }
    val rqs = (1 to 4).map(k => rq(PipelineOps.trainPcaDirection(emb, maxIters = k)))
    assert(rqs.sliding(2).forall(p => p(1) >= p(0) - 1e-6),
      s"Rayleigh quotient must be non-decreasing: $rqs")
  }

  test("trained-supers router: subset law holds, every row assigned, cids valid") {
    // The opt-in trained router (Lloyd over the k-row codebook) obeys
    // the same laws as the stub router: its winner is an argmax over a
    // SUBSET of the codebook (best_sim <= flat's global best, exact-sim
    // agreement when the winner matches), every row gets a valid cid
    // (member-empty groups are excluded from stage-1 routing, so the
    // lookup can never go NULL), and no row is dropped.
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 64
    val cent = PipelineOps.stubCodebook(emb, k).localCheckpoint(true)
    val sup = PipelineOps.trainRoutingSupers(cent, k)
    assert(sup.isDefined, s"k = $k >= hierRouteMin must train supers")
    val tr = PipelineOps.assignToCentroids(emb, cent, k, sup)
      .select(col("vec_id"), col("cid"), col("best_sim"))
      .localCheckpoint(true)
    assert(tr.count() == emb.count(), "every row must be assigned")
    assert(tr.filter(col("cid").isNull || col("cid") < 0 || col("cid") >= k)
      .count() == 0, "cids must be valid codebook members")
    val flat = PipelineOps.assignToCentroidsFlat(emb, cent)
      .select(col("vec_id"), col("cid").as("fcid"), col("best_sim").as("fsim"))
    val j = tr.join(flat, "vec_id")
    assert(j.filter(col("best_sim") > col("fsim")).count() == 0,
      "trained-routed best_sim must not exceed the flat global best")
    assert(j.filter(col("cid") === col("fcid") &&
      col("best_sim") =!= col("fsim")).count() == 0)
    // Below hierRouteMin routing is flat: there are no supers to train.
    assert(PipelineOps.trainRoutingSupers(cent, PipelineOps.hierRouteMin - 1).isEmpty)
  }

  test("trained router: gid-partitioned stage 2 == broadcast stage 2 (k=256), dispatched at partitionedRouteMin") {
    // The trained router runs the same two stage-2 rungs as the stub
    // one. Over the SAME trained supers, k picks only the rung: k = 256
    // plans the broadcast stage 2 and k = partitionedRouteMin the gid
    // join (hash Exchange on vec_id), and the rows are identical, with
    // broadcast joins on and off.
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 256
    val cent = PipelineOps.stubCodebook(emb, k).localCheckpoint(true)
    val sup = PipelineOps.trainRoutingSupers(cent, k)
    val want = PipelineOps.assignToCentroids(emb, cent, k, sup)
      .select("vec_id", "cid", "best_sim")
    def dispatched = PipelineOps.assignToCentroids(emb, cent,
      PipelineOps.partitionedRouteMin, sup)
    assert(!want.queryExecution.executedPlan.toString.contains("hashpartitioning(vec_id"))
    assert(dispatched.queryExecution.executedPlan.toString.contains("hashpartitioning(vec_id"),
      "trained k >= partitionedRouteMin must plan the partitioned stage 2")
    assertSameRows(dispatched.select("vec_id", "cid", "best_sim"), want)
    withoutBroadcastJoins(
      assertSameRows(dispatched.select("vec_id", "cid", "best_sim"), want))
  }
}
