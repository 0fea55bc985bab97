package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{EnvelopeOps, LlmOps}

/** Property-based tests (SURVEY §5 layer 4), run as model-based
  * differential checks: scalacheck generates adversarial inputs, ONE
  * Spark job evaluates the operator column/pipeline over the whole
  * generated batch, and each row is compared against an independent pure
  * Scala model (or an algebraic law). Fixed seeds keep the suite
  * deterministic; batching keeps it one job per property instead of one
  * job per scalacheck case.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, Seed(seed + i)))
      .collect { case Some(a) => a }
      .take(n).toSeq

  test("short_host_id derivation is total and matches the reference model on arbitrary keys") {
    // Arbitrary partition keys: printable junk, with and without ':'
    // segments and task// instance/ prefixes, empty segments included.
    // Non-ASCII segments put byte and char offsets in different places.
    val seg = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const(""),
      Gen.oneOf("task/x", "instance/y", "task/", "instance/", "a.b.c.d"),
      Gen.oneOf("task/é", "ü:instance/ß", "中:task/", "instance/中文", "é"))
    val keyGen = for {
      n <- Gen.choose(1, 4)
      segs <- Gen.listOfN(n, seg)
    } yield segs.mkString(":")
    val keys = sample(keyGen, 300, seed = 1L).distinct
    // the reference's rule (main.go:252-262): last ':'-segment, then
    // strip ONE leading "task/" or "instance/"
    def model(k: String): String = {
      val last = k.split(":", -1).last
      if (last.startsWith("task/")) last.stripPrefix("task/")
      else if (last.startsWith("instance/")) last.stripPrefix("instance/")
      else last
    }
    val got = keys.toDF("host_id")
      .select(col("host_id"), EnvelopeOps.shortHostId(col("host_id")).as("s"))
      .as[(String, String)].collect()
    got.foreach { case (k, s) =>
      assert(s != null, s"derivation must be total, null for key '$k'")
      assert(s == model(k), s"key '$k': got '$s', model '${model(k)}'")
    }
  }

  test("zip-shingle build matches the naive sliding-window model on arbitrary texts") {
    // The codegen'd arrays_zip(slice,slice,slice) shingle build (the
    // interpreted-HOF replacement) must agree with a pure Scala sliding
    // window for every token count 0..n, including texts shorter than
    // the shingle width and repeated tokens.
    val word = Gen.oneOf("a", "bb", "ccc", "d", "a")
    val text = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = sample(text, 300, 4242L).distinct
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), col("text"),
        transform(graft.operators.PipelineOps.gramZip(col("text"), 3),
          z => concat_ws(" ", z.getField("0"), z.getField("1"), z.getField("2")))
          .as("shingles"))
      .as[(Long, String, Seq[String])].collect()
    got.foreach { case (_, t, shingles) =>
      val toks = t.split(" ", -1).toSeq
      val want =
        if (toks.length < 3) Seq.empty else toks.sliding(3).map(_.mkString(" ")).toSeq
      assert(shingles == want, s"text '$t': got $shingles want $want")
    }
  }

  test("near-dup verify: Jaccard is symmetric, bounded, and matches a set model") {
    // Random same-source docs over a tiny vocabulary (forces overlaps).
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = sample(docGen, 60, seed = 2L).zipWithIndex
      .map { case (ws, i) => (i.toLong, "s0", "en", ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "source", "lang", "text")
    val pairs = LlmOps.nearDupPairs(df)
      .as[(Long, Long, Double)].collect()
    val sets = docs.map { case (id, _, _, t) => id -> t.split(" ").toSet }.toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sets(a), sets(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    // every emitted pair matches the set model, is >= 0.9, and is
    // canonically ordered (symmetry: the (b, a) form never appears)
    val seen = pairs.map(p => (p._1, p._2)).toSet
    pairs.foreach { case (a, b, j) =>
      assert(a < b && !seen.contains((b, a)))
      assert(j >= 0.9 && j <= 1.0)
      assert(math.abs(j - BigDecimal(jac(a, b)).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // completeness: the model finds no qualifying pair the operator missed
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b && jac(a, b) >= 0.9
    } yield (a, b)).toSet
    assert(seen == want, s"missing=${want -- seen} extra=${seen -- want}")
  }

  test("truth-pair ingest additivity holds on random corpora at theta in {0.5, 0.9}") {
    // Random same-source docs over a tiny vocabulary (dense overlaps),
    // random corpus/batch split: pairStats(all) must equal
    // pairStats(corpus) ∪ pairStatsIngest(corpusSets, batchSets) as an
    // exact disjoint partition, and the union must match the
    // brute-force set model — at BOTH a loose and a tight θ (the prefix
    // lengths differ, so this exercises two candidate geometries).
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = sample(docGen, 50, seed = 7L).zipWithIndex
      .map { case (ws, i) => (i.toLong, "s0", ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "source", "text")
    val cut = 30L
    val corpusSets = LlmOps.hashedTokenSets(df.filter(col("doc_id") < cut))
      .localCheckpoint(true)
    val batchSets = LlmOps.hashedTokenSets(df.filter(col("doc_id") >= cut))
    val sets = docs.map { case (id, _, t) => id -> t.split(" ").toSet }.toMap
    Seq(5, 9).foreach { th =>
      val all = LlmOps.pairStats(df, th)
        .as[(Long, Long, Long, Long)].collect().toSet
      val corpusOnly = LlmOps.pairStats(df.filter(col("doc_id") < cut), th)
        .as[(Long, Long, Long, Long)].collect().toSet
      val ingested = LlmOps.pairStatsIngest(corpusSets, batchSets, th)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(corpusOnly.intersect(ingested).isEmpty, s"theta=$th overlap")
      assert(corpusOnly ++ ingested == all,
        s"theta=$th: missing=${all -- corpusOnly -- ingested} " +
          s"extra=${(corpusOnly ++ ingested) -- all}")
      // brute-force model over raw token sets
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size.toLong
        un = sets(a).union(sets(b)).size.toLong
        if inter * 10 >= un * th
      } yield (a, b, inter, un)).toSet
      assert(all == want,
        s"theta=$th vs model: missing=${want -- all} extra=${all -- want}")
    }
  }

  test("semdedup matches the assign/threshold/union-find model on random unit vectors") {
    // Random 2-D unit vectors from integer angles (no integer-degree
    // cosine lands within 5e-4 of the θ=0.9 round boundary, so the
    // rounded comparison is never knife-edge); the model mirrors the
    // engine bit-for-bit: same float32-stored components, double dot,
    // HALF_UP rounds (6dp assignment, 3dp similarity), min-cid
    // assignment tiebreak, union-find components, min-id canonical.
    val angleGen = Gen.choose(0, 359)
    val angles = sample(angleGen, 70, seed = 21L).zipWithIndex
      .map { case (a, i) => (i.toLong, a) }
    def unit(deg: Int): Array[Float] = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val emb = angles.map { case (id, a) => (id, unit(a)) }
      .toDF("vec_id", "embedding").repartition(7)
    val centAngles = Seq(0L -> 0, 1L -> 120, 2L -> 240)
    val cent = centAngles.map { case (cid, a) => (cid, unit(a)) }
      .toDF("cid", "cemb")
    val theta = 0.9
    val got = graft.operators.PipelineOps.semDedup(emb, cent, theta)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

    def round(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.toSeq.zip(b.toSeq).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val vecs = angles.map { case (id, a) => id -> unit(a) }.toMap
    val cents = centAngles.map { case (cid, a) => cid -> unit(a) }
    val assign = vecs.map { case (id, v) =>
      id -> cents.map { case (cid, c) => (round(dot(v, c), 6), -cid) }
        .max._2 * -1
    }
    val ids = angles.map(_._1)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for {
      a <- ids; b <- ids
      if a < b && assign(a) == assign(b) &&
        round(dot(vecs(a), vecs(b)), 3) >= theta
    } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = ids.filter(id => find(id) == id).sorted.map(id => (id, assign(id)))
    assert(got == want, s"missing=${want.toSet -- got.toSet} extra=${got.toSet -- want.toSet}")
  }

  test("fuzzy join matches the naive doc-level model on random corpora") {
    // The set-collapse + group-argmax rewrite must be INVISIBLE: on
    // random dup-heavy corpora (tiny vocabulary forces overlaps AND
    // repeated identical sets, exercising the collapse), every probe's
    // best match equals the naive all-pairs doc-level model — same
    // match, same rounded Jaccard, min-id tiebreak — and no probe
    // appears without a ≥ 0.5 match.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, word))
    val boundary = 100L
    val baseDocs = sample(docGen, 40, seed = 11L).zipWithIndex
      .map { case (ws, i) => (i.toLong, s"s${i % 3}", ws.mkString(" ")) }
    val probeDocs = sample(docGen, 30, seed = 12L).zipWithIndex
      .map { case (ws, i) => (boundary + i, s"s${i % 3}", ws.mkString(" ")) }
    val df = (baseDocs ++ probeDocs).toDF("doc_id", "source", "text")
    val got = LlmOps.fuzzyJoin(df, boundary)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val sets = (baseDocs ++ probeDocs)
      .map { case (id, _, t) => id -> t.split(" ").toSet }.toMap
    def jac3(a: Long, b: Long): Double = {
      val (x, y) = (sets(a), sets(b))
      BigDecimal(x.intersect(y).size.toDouble / x.union(y).size)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = probeDocs.map(_._1).flatMap { p =>
      val cands = baseDocs.map(_._1)
        .filter(b => sets(p).intersect(sets(b)).size.toDouble /
          sets(p).union(sets(b)).size >= 0.5)
        .map(b => (jac3(p, b), b))
      if (cands.isEmpty) None
      else Some(p -> cands.minBy { case (j, b) => (-j, b) }.swap)
    }.toMap
    assert(got == want,
      s"missing=${(want.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- want.keySet).take(3)} " +
        s"diff=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}")
  }

  test("fuzzy join prefix filter is lossless at theta in {0.5, 0.7, 0.9}") {
    // The θ-general prefix length n − ceil(θ·n) + 1 must lose no
    // qualifying pair at ANY supported θ: on random dup-heavy corpora
    // the operator's output equals the naive all-pairs doc-level model
    // recomputed at the same θ — every probe with a ≥ θ match links to
    // its argmax (max rounded J, min-id tiebreak), no probe is missing,
    // none is extra. Runs the SAME generated corpus through all three
    // θs so a filter that over-prunes at one θ can't hide.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, word))
    val boundary = 100L
    val baseDocs = sample(docGen, 40, seed = 31L).zipWithIndex
      .map { case (ws, i) => (i.toLong, s"s${i % 3}", ws.mkString(" ")) }
    val probeDocs = sample(docGen, 30, seed = 32L).zipWithIndex
      .map { case (ws, i) => (boundary + i, s"s${i % 3}", ws.mkString(" ")) }
    val df = (baseDocs ++ probeDocs).toDF("doc_id", "source", "text")
    val sets = (baseDocs ++ probeDocs)
      .map { case (id, _, t) => id -> t.split(" ").toSet }.toMap
    for (tt <- Seq(5, 7, 9)) {
      val theta = tt / 10.0
      val got = LlmOps.fuzzyJoin(df, boundary, thetaTenths = tt)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      def jac3(a: Long, b: Long): Double = {
        val (x, y) = (sets(a), sets(b))
        BigDecimal(x.intersect(y).size.toDouble / x.union(y).size)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val want = probeDocs.map(_._1).flatMap { p =>
        val cands = baseDocs.map(_._1)
          .filter(b => sets(p).intersect(sets(b)).size.toDouble /
            sets(p).union(sets(b)).size >= theta)
          .map(b => (jac3(p, b), b))
        if (cands.isEmpty) None
        else Some(p -> cands.minBy { case (j, b) => (-j, b) }.swap)
      }.toMap
      assert(got == want,
        s"theta=$theta: missing=${(want.keySet -- got.keySet).take(3)} " +
          s"extra=${(got.keySet -- want.keySet).take(3)} " +
          s"diff=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}")
    }
  }

  test("bigram-LM scoring matches the pure conditional-MLE model on random corpora") {
    // Third independent check for j10 (the oracle shares the SQL shape
    // with the engine, so a shared blind spot is possible): a pure Scala
    // model computes corpus bigram counts, per-occurrence micro-
    // quantized conditional MLE, and the per-doc mean with the same
    // HALF_UP rounding — every doc must agree to the emitted 4dp.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = sample(docGen, 50, seed = 51L).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Run the registry builder against a staged parquet dir so the
    // entry's own scan path is what executes; clean the staging up.
    val dir = java.nio.file.Files.createTempDirectory("graft-j10")
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got =
      try Registry.byId("j10_bigram_lm").build(spark, dir.toString)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    // Pure model.
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val occs = docs.flatMap { case (id, _) =>
      toks(id).sliding(2).filter(_.size == 2).map(p => (id, p.head, p.last))
    }
    val c2 = occs.groupBy(o => (o._2, o._3)).view.mapValues(_.size).toMap
    val c1 = occs.groupBy(_._2).view.mapValues(_.size).toMap
    def rnd(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = occs.groupBy(_._1).map { case (id, os) =>
      val qs = os.map(o => rnd(1e6 * c2((o._2, o._3)) / c1(o._2), 0).toLong)
      id -> (os.size.toLong, rnd(qs.sum.toDouble / os.size / 1e6, 4))
    }
    assert(got == want,
      s"diff=${want.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}")
  }

  test("leave-one-out LM screening matches the literal per-doc retrain model") {
    // j12 implements self-exclusion as count SUBTRACTION from the
    // global tables; the independent model RETRAINS the LM from
    // scratch on corpus-minus-doc for every doc — if the subtraction,
    // the own2 occurrence weighting, or the owned-prefix guard is
    // wrong anywhere, the two disagree. Rounding mirrors the engine:
    // micro-quantized integer q per occurrence, 4dp display mean,
    // ranking on the unrounded sq/n with doc_id tie-break.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = sample(docGen, 40, seed = 73L).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-j12")
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got =
      try Registry.byId("j12_lm_holdout").build(spark, dir.toString)
        .as[(Long, Long, Double)].collect().toSeq
      finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    def rnd(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    def bigrams(id: Long): Seq[(String, String)] =
      toks(id).sliding(2).filter(_.size == 2).map(p => (p.head, p.last)).toSeq
    val scored = docs.map(_._1).map { d =>
      val restOccs = docs.map(_._1).filter(_ != d).flatMap(bigrams)
      val c2r = restOccs.groupBy(identity).view.mapValues(_.size).toMap
      val c1r = restOccs.groupBy(_._1).view.mapValues(_.size).toMap
      val qs = bigrams(d).map { bg =>
        val c1v = c1r.getOrElse(bg._1, 0)
        if (c1v == 0) 0L
        else rnd(1e6 * c2r.getOrElse(bg, 0) / c1v, 0).toLong
      }
      (d, qs.size.toLong, qs.sum)
    }
    val want = scored
      .sortBy { case (d, n, sq) => (sq.toDouble / n, d) }.take(20)
      .map { case (d, n, sq) => (d, n, rnd(sq.toDouble / n / 1e6, 4)) }
    assert(got == want,
      s"first diff: ${got.zip(want).find { case (a, b) => a != b }}")
  }

  test("exact dedup is idempotent and keeps one row per distinct text") {
    val word = Gen.oneOf("x", "y", "z")
    val docGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, word))
    val docs = sample(docGen, 80, seed = 3L).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    def dedup(d: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      d.withColumn("fp", md5(col("text")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("text"))
    }
    val once = dedup(df)
    assertSameRows(dedup(once), once)
    assert(once.count() == docs.map(_._2).distinct.size)
    // the kept representative is the min doc_id of its text group
    val minIds = docs.groupBy(_._2).map { case (_, g) => g.map(_._1).min }.toSet
    assert(once.select("doc_id").as[Long].collect().toSet == minIds)
  }

  test("CDF range aggregate == naive pair-join model on adversarial integer values") {
    // Values deliberately include negatives, exact bin edges (multiples
    // of binw), interval endpoints (pm ± halfWidth), duplicates, and a
    // spread much wider than one interval — every branch of the
    // interior/boundary decomposition fires. Two (halfWidth, binw)
    // shapes: binw dividing 2·halfWidth and not.
    val vGen = Gen.oneOf(
      Gen.choose(-400L, 400L),
      Gen.choose(-400L, 400L).map(_ * 20),        // bin edges
      Gen.oneOf(-2000L, -37L, 0L, 37L, 2000L))
    val vals = sample(vGen, 300, seed = 8L)
    val probes = sample(vGen, 120, seed = 9L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val valsDf = vals.toDF("sm")
    val probesDf = probes.toDF("key", "pm")
    for ((hw, bw) <- Seq((200L, 20L), (170L, 60L), (30L, 60L))) {
      val got = graft.operators.RelationalOps
        .rangeAggCdf(probesDf, valsDf, hw, bw)
        .orderBy("key")
        .as[(Long, Long, Long)].collect().toSeq
      val want = probes.map { case (k, pm) =>
        val hit = vals.filter(v => v >= pm - hw && v <= pm + hw)
        (k, hit.size.toLong, hit.sum)
      }
      assert(got == want, s"hw=$hw binw=$bw")
    }
  }

  test("cluster resolution survives a 500-node adversarial chain in O(log n) rounds") {
    // A path graph is the worst case star contraction exists for: its
    // diameter is n-1, so min-label propagation needs one round per hop
    // (a 500-chain would blow any sane round budget), while the
    // alternating algorithm folds depth geometrically. maxRounds=12
    // pins the log bound: log2(500) ≈ 9.
    val n = 500L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_id1", "doc_id2")
    val got = LlmOps.nearDupClusters(chain, maxRounds = 12)
    assert(got.count() == n)
    // One component, canon = global min, size = n for every node.
    assert(got.select("canon_id").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(got.select("cluster_size").distinct().as[Long].collect().toSeq == Seq(n))
  }

  test("salted self-pairs == plain all-pairs model at any salt count and threshold") {
    // The shared skew machinery (i12 labels, i24/i29 clusters) must be
    // OUTPUT-INVARIANT for every (hotThreshold, salts) setting: on a
    // random key distribution with a manufactured hot key, the emitted
    // (key, i, j) set equals the naive nested-loop model — pairs appear
    // exactly once, ordered i < j, regardless of how the quadratic work
    // is spread.
    val rowGen = for {
      key <- Gen.frequency(6 -> Gen.const(0), 4 -> Gen.choose(1, 5))
    } yield key
    val keys = sample(rowGen, 120, seed = 61L).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }
    val e = keys.toDF("label", "vec_id")
      .withColumn("embedding",
        array((0 until 2).map(d => (col("vec_id") * (d + 1)).cast("float")): _*))
    val want = (for {
      (ka, a) <- keys; (kb, b) <- keys if ka == kb && a < b
    } yield (ka, a, b)).toSet
    for ((thr, salts) <- Seq((1L, 2), (1L, 16), (40L, 4), (Long.MaxValue, 16))) {
      val got = graft.operators.PipelineOps
        .labelPairs(e, hotThreshold = thr, salts = salts)
        .select("label", "i", "j")
        .as[(Int, Long, Long)].collect()
      assert(got.length == got.toSet.size, s"(thr=$thr,salts=$salts): duplicate pairs")
      assert(got.toSet == want,
        s"(thr=$thr,salts=$salts): missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
    }
  }

  test("cluster resolution: mixed chains + cliques converge within 3·log2(n) rounds and match union-find") {
    // The shape a template-spam corpus produces: a few dense cliques
    // (mass-duplicated boilerplate) wired together by long transitive
    // chains (drifting near-copies). Generated shapes mix pure chains,
    // pure cliques, and cliques threaded onto chains; the round budget
    // is pinned at 3·ceil(log2(n)) — the Kiveris bound with slack —
    // so a regression to diameter-bounded propagation fails the
    // require() inside clusterLabels, and labels must equal union-find.
    val shapeGen = for {
      kind <- Gen.oneOf(0, 1, 2)
      size <- Gen.choose(3, 50)
    } yield (kind, size)
    val comps = sample(shapeGen, 10, seed = 41L)
    var off = 0L
    val edges = scala.collection.mutable.Buffer.empty[(Long, Long)]
    comps.foreach { case (kind, size0) =>
      val size = if (kind == 1) math.min(size0, 12) else size0
      val ids = (0 until size).map(i => off + i)
      if (kind != 1) // chain backbone
        ids.sliding(2).foreach { w => edges += ((w.head, w.last)) }
      if (kind != 0) { // dense clique (whole component or the chain head)
        val cl = if (kind == 1) ids else ids.take(math.min(6, size))
        for (a <- cl; b <- cl if a < b) edges += ((a, b))
      }
      off += size
    }
    // Deterministically flip orientations — input order must not matter.
    val df = edges.zipWithIndex
      .map { case ((a, b), i) => if (i % 2 == 0) (a, b) else (b, a) }
      .toSeq.toDF("doc_id1", "doc_id2")
    val n = off
    val maxR = 3 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1))
    val got = LlmOps.nearDupClusters(df, maxRounds = maxR)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (0L until n).toSeq
    val canon = nodes.map(x => x -> find(x)).toMap
    val sizes = canon.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = nodes.map(x => (x, canon(x), sizes(canon(x))))
      .toDF("doc_id", "canon_id", "cluster_size")
    assertSameRows(got, expected)
  }

  test("cluster resolution matches union-find on random multi-component graphs") {
    // Random sparse graphs: many components of varying shape (isolated
    // edges, triangles via duplicates, reversed + self pairs thrown in).
    val edgeGen = for {
      a <- Gen.choose(0L, 120L)
      b <- Gen.choose(0L, 120L)
    } yield (a, b)
    val edges = sample(edgeGen, 150, seed = 7L)
    val df = edges.toDF("doc_id1", "doc_id2")
    // Self-pairs are degenerate input (a doc is trivially its own dup);
    // drop them from the model exactly as canonicalization drops them —
    // but keep the NODE if it appears in any real pair.
    val real = edges.filter(p => p._1 != p._2)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = real.flatMap(p => Seq(p._1, p._2)).distinct
    val canon = nodes.map(x => x -> find(x)).toMap
    val sizes = canon.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = nodes.sorted
      .map(x => (x, canon(x), sizes(canon(x))))
      .toDF("doc_id", "canon_id", "cluster_size")
    assertSameRows(LlmOps.nearDupClusters(df.filter(col("doc_id1") =!= col("doc_id2"))),
      expected)
  }

  test("distMedian matches the sorted-array interpolated median on arbitrary groups") {
    // The rank-window machinery under c10/c12/e4, checked against the
    // textbook definition on adversarial shapes: singleton groups, heavy
    // ties, all-equal groups, even/odd counts, negative values.
    val valGen = Gen.oneOf(Gen.choose(-50L, 50L), Gen.const(7L), Gen.const(-3L))
    val groupGen = for {
      n <- Gen.choose(1, 40)
      vs <- Gen.listOfN(n, valGen)
    } yield vs
    val groups = sample(groupGen, 25, seed = 7L).zipWithIndex
    val rows = groups.flatMap { case (vs, g) => vs.map(v => (g.toLong, v)) }
    val got = graft.operators.RelationalOps.distMedian(
      rows.toDF("g", "vc"), "vc", "med")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    groups.foreach { case (vs, g) =>
      val s = vs.sorted
      val n = s.length
      val expected =
        if (n % 2 == 1) s(n / 2).toDouble
        else (s(n / 2 - 1) + s(n / 2)) / 2.0
      assert(got(g.toLong) == expected,
        s"group $g: got ${got(g.toLong)}, expected $expected of ${s.mkString(",")}")
    }
  }
}
