package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.PipelineOps

/** Dev tool (VERDICT r14 ask #9): re-grade the ANN evals against the
  * TWO-LEVEL router so BASELINE.md can record the before/after — the
  * recall evals exist precisely to re-grade routing changes.
  *
  * For each requested k, runs the SAME shipped plans under flat and
  * two-level assignment:
  *   - annRecall (the i28 eval) at nprobe ∈ {1, 2, k/4}: recall@3 sum
  *     over the 20-query batch — the routing-quality axis;
  *   - assignment agreement (fraction of rows whose routed cid equals
  *     the flat global argmax) and the subset-law violation count
  *     (must be 0);
  *   - bucket balance (max cluster size) under each routing — the
  *     quadratic-dedup-bound axis i24/i29 inherit.
  *
  * `--scale` (the 1000× mode, VERDICT r15 ask #5): the flat global
  * argmax is ANALYTICALLY out of the race at sf100 (k = scaledK = 8000
  * → k·dim = 512k multiplies/row, ~30× two-level's (g + ~2√k)·dim), so
  * instead of burning an hour measuring a router nobody would run, the
  * scale mode measures what matters at 2M vectors:
  *   - assignment WALL for two-level (broadcast) vs gid-partitioned
  *     (the past-broadcast-comfort rung) — eager-materialization timed;
  *   - their output equality at full scale (the PipelineSpec k=256 law,
  *     re-asserted at the production k);
  *   - max bucket (the dedup-bound axis) and recall@3 vs exact truth;
  *   - the flat wall PROJECTED from a measured 1% sample (where
  *     "intractable" actually lands, with numbers);
  *   - (r17) the TRAINED router through both physical stage-2 rungs
  *     over the same trained supers — the gap the partitionedRouteMin
  *     dispatch buys a --trained-routing deployment, plus their
  *     full-scale output equality and the training wall itself.
  *
  * Usage: RouteEval <sfDir> <k1,k2,...> [out=ROUTEEVAL_<basename>.json] [--scale]
  */
object RouteEval {
  def main(args: Array[String]): Unit = {
    // Health stamps bracket the run (VERDICT r17 #2): the r17 sf100
    // stub rungs silently overlapped the sf10 DuckDB sweep and read
    // 955 s where the idle r16 point read 125 s — stamps make that
    // adjudicatable from the artifact.
    val healthStart = graft.HealthStamp.json()
    val scaleMode = args.contains("--scale")
    val pos = args.filterNot(_.startsWith("--"))
    val dir = pos(0)
    val ks = pos(1).split(",").map(_.trim.toInt)
    val spark = graft.Harness.session(graft.Harness.cpus(32))

    val emb = Harness.materialize(spark.read.parquet(s"$dir/embeddings.parquet"))
    val n = emb.count()
    val q = PipelineOps.queryBatch(emb, 20)

    def timedCk(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Double) = {
      val t0 = System.nanoTime()
      val c = Harness.materialize(df) // eager: times the full materialization
      (c, (System.nanoTime() - t0) / 1e9)
    }

    val rows = if (scaleMode) ks.map { k =>
      val cent = Harness.materialize(PipelineOps.stubCodebook(emb, k))
      val (two, wTwo) = timedCk(PipelineOps.assignToCentroidsTwoLevel(emb, cent, k))
      val (part, wPart) = timedCk(
        PipelineOps.assignToCentroidsTwoLevelPartitioned(emb, cent, k))
      // Full-scale output-equality law (PipelineSpec pins it at k=256;
      // this is the production-k re-assertion).
      val diff = two.select(col("vec_id"), col("cid"))
        .exceptAll(part.select(col("vec_id"), col("cid"))).count()
      val mb = two.groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head.getLong(0)
      // TRAINED router at scale (VERDICT r16 ask #3): both physical
      // stage-2 rungs over the SAME trained supers — the wall gap is
      // what the partitionedRouteMin dispatch buys a --trained-routing
      // deployment, and diff_rows re-asserts the PipelineSpec k=256
      // equality law at production scale. Training cost (Lloyd over the
      // k-row codebook) is timed separately — it amortizes into the
      // build.
      val tTr0 = System.nanoTime()
      val sup = PipelineOps.trainRoutingSupers(cent, k)
      val wTrain = (System.nanoTime() - tTr0) / 1e9
      val (trB, wTrB) = timedCk(PipelineOps.assignToCentroidsTwoLevelFromSupers(
        emb, cent, sup, k, partitionedStage2 = Some(false)))
      val (trP, wTrP) = timedCk(PipelineOps.assignToCentroidsTwoLevelFromSupers(
        emb, cent, sup, k, partitionedStage2 = Some(true)))
      val diffTr = trB.select(col("vec_id"), col("cid"))
        .exceptAll(trP.select(col("vec_id"), col("cid"))).count()
      val mbTr = trB.groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head.getLong(0)
      // Flat projected from a measured contiguous 1% sample: the flat
      // cost is exactly linear in rows at fixed (k, dim), so
      // wall(sample) · N/m bounds the full run from below (same
      // broadcast, same codegen, less data).
      val m = math.max(1L, n / 100L)
      val sample = Harness.materialize(emb.filter(col("vec_id") < m))
      val (_, wFlatS) = timedCk(PipelineOps.assignToCentroidsFlat(sample, cent))
      def recallSum(assigned: org.apache.spark.sql.DataFrame, nprobe: Int): Long =
        PipelineOps.annRecallAssigned(assigned, emb, cent, q, nprobe)
          .agg(sum(col("n_hit"))).head.getLong(0)
      val rj = Seq(1, 2, math.max(1, k / 4)).map { p =>
        s"""{"nprobe":$p,"two_level_hits":${recallSum(two, p)},""" +
          s""""trained_hits":${recallSum(trP, p)}}"""
      }.mkString("[", ",", "]")
      s"""{"k":$k,"n":$n,"wall_two_level_sec":$wTwo,""" +
        s""""wall_partitioned_sec":$wPart,"two_vs_partitioned_diff_rows":$diff,""" +
        s""""max_bucket_two_level":$mb,""" +
        s""""wall_train_supers_sec":$wTrain,""" +
        s""""wall_trained_broadcast_sec":$wTrB,""" +
        s""""wall_trained_partitioned_sec":$wTrP,""" +
        s""""trained_bcast_vs_partitioned_diff_rows":$diffTr,""" +
        s""""max_bucket_trained":$mbTr,"flat_sample_rows":$m,""" +
        s""""wall_flat_sample_sec":$wFlatS,""" +
        s""""wall_flat_projected_sec":${wFlatS * n / m},"recall":$rj}"""
    }
    else ks.map { k =>
      val cent = Harness.materialize(PipelineOps.stubCodebook(emb, k))
      val flat = Harness.materialize(PipelineOps.assignToCentroidsFlat(emb, cent))
      val two = Harness.materialize(PipelineOps.assignToCentroids(emb, cent, k))
      val trained = Harness.materialize(PipelineOps.assignToCentroidsTwoLevelTrained(emb, cent, k))
      def recallSum(assigned: org.apache.spark.sql.DataFrame, nprobe: Int): Long =
        PipelineOps.annRecallAssigned(assigned, emb, cent, q, nprobe)
          .agg(sum(col("n_hit"))).head.getLong(0)
      val probes = Seq(1, 2, math.max(1, k / 4))
      def stats(a: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
        val f = flat.select(col("vec_id"), col("cid").as("fcid"),
          col("best_sim").as("fsim"))
        val j = Harness.materialize(a.select(col("vec_id"), col("cid"), col("best_sim"))
          .join(f, "vec_id"))
        (j.filter(col("cid") === col("fcid")).count(),
          j.filter(col("best_sim") > col("fsim")).count(),
          a.groupBy(col("cid")).agg(count(lit(1)).as("c"))
            .agg(max(col("c"))).head.getLong(0))
      }
      val (agreeT, lawT, mbT) = stats(two)
      val (agreeTr, lawTr, mbTr) = stats(trained)
      val mbF = flat.groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head.getLong(0)
      val rj = probes.map { p =>
        s"""{"nprobe":$p,"flat_hits":${recallSum(flat, p)},""" +
          s""""two_level_hits":${recallSum(two, p)},""" +
          s""""trained_hits":${recallSum(trained, p)}}"""
      }.mkString("[", ",", "]")
      s"""{"k":$k,"n":$n,"agreement":$agreeT,"agreement_trained":$agreeTr,""" +
        s""""law_violations":${lawT + lawTr},""" +
        s""""max_bucket_flat":$mbF,"max_bucket_two_level":$mbT,""" +
        s""""max_bucket_trained":$mbTr,"recall":$rj}"""
    }
    val tag = java.nio.file.Paths.get(dir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val line = s"""{"dir":"$dir","n_vectors":$n,"evals":${rows.mkString("[", ",", "]")},""" +
      s""""health_start":$healthStart,"health_end":${graft.HealthStamp.json()}}"""
    println(line)
    // Optional out file comes from the FLAG-FILTERED positionals — raw
    // args(2) would read "--scale" as the filename (ADVICE r16).
    val out = if (pos.length > 2) pos(2) else s"ROUTEEVAL_$tag.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    spark.stop()
  }
}
