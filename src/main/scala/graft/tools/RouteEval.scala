package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.PipelineOps

/** Dev tool (VERDICT r14 ask #9): re-grade the ANN evals against each
  * router [[PipelineOps.assignToCentroids]] ships, so BASELINE.md can
  * record the before/after — the recall evals exist precisely to
  * re-grade routing changes.
  *
  * For each requested k, runs the SAME shipped plans under flat, stub
  * two-level and trained-supers assignment (both two-level forms are
  * flat below hierRouteMin):
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
  *   - assignment WALL for the stub and the trained two-level router
  *     (eager-materialization timed), plus the supers' training wall;
  *   - max bucket (the dedup-bound axis) and recall@3 vs exact truth;
  *   - the flat wall PROJECTED from a measured 1% sample (where
  *     "intractable" actually lands, with numbers).
  *
  * Usage: RouteEval <sfDir> <k1,k2,...> [out=<file>] [--scale]
  * (default out: ROUTEEVAL_<basename of sfDir>.json; the output's
  * directory must exist).
  */
object RouteEval {
  final case class Args(dir: String, ks: Seq[Int], out: String, scale: Boolean)

  /** The command line as [[Args]]; flags are filtered out before the
    * positionals are read, so `--scale` is never taken as the output.
    */
  def parseArgs(args: Seq[String]): Args = {
    val pos = args.filterNot(_.startsWith("--"))
    val dir = pos(0)
    val tag = Paths.get(dir).getFileName.toString.replaceAll("[^A-Za-z0-9._-]", "_")
    Args(dir, pos(1).split(",").map(_.trim.toInt).toSeq,
      pos.lift(2).fold(s"ROUTEEVAL_$tag.json")(_.stripPrefix("out=")),
      args.contains("--scale"))
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq)
    // Checked before any Spark work: a missing directory would otherwise
    // surface only at the final write, after the whole evaluation.
    val outDir = Paths.get(a.out).toAbsolutePath.getParent
    if (!Files.isDirectory(outDir)) {
      System.err.println(s"RouteEval: output directory $outDir does not exist")
      sys.exit(2)
    }
    // Health stamps bracket the run (VERDICT r17 #2): the r17 sf100
    // stub rungs silently overlapped the sf10 DuckDB sweep and read
    // 955 s where the idle r16 point read 125 s — stamps make that
    // adjudicatable from the artifact.
    val healthStart = graft.HealthStamp.json()
    val dir = a.dir
    val spark = graft.Harness.session(graft.Harness.cpus(32))

    val emb = Harness.materialize(spark.read.parquet(s"$dir/embeddings.parquet"))
    val n = emb.count()
    val q = PipelineOps.queryBatch(emb, 20)

    def timedCk(df: DataFrame): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      val c = Harness.materialize(df) // eager: times the full materialization
      (c, (System.nanoTime() - t0) / 1e9)
    }
    def maxBucket(assigned: DataFrame): Long =
      assigned.groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head.getLong(0)

    val rows = if (a.scale) a.ks.map { k =>
      val cent = Harness.materialize(PipelineOps.stubCodebook(emb, k))
      val (two, wTwo) = timedCk(PipelineOps.assignToCentroids(emb, cent, k))
      // Training cost (Lloyd over the k-row codebook) is timed
      // separately — it amortizes into the build.
      val tTr0 = System.nanoTime()
      val sup = PipelineOps.trainRoutingSupers(cent, k)
      val wTrain = (System.nanoTime() - tTr0) / 1e9
      val (trained, wTrained) = timedCk(PipelineOps.assignToCentroids(emb, cent, k, sup))
      // Flat projected from a measured contiguous 1% sample: the flat
      // cost is exactly linear in rows at fixed (k, dim), so
      // wall(sample) · N/m bounds the full run from below (same
      // broadcast, same codegen, less data).
      val m = math.max(1L, n / 100L)
      val sample = Harness.materialize(emb.filter(col("vec_id") < m))
      val (_, wFlatS) = timedCk(PipelineOps.assignToCentroidsFlat(sample, cent))
      def recallSum(assigned: DataFrame, nprobe: Int): Long =
        PipelineOps.annRecallAssigned(assigned, emb, cent, q, nprobe)
          .agg(sum(col("n_hit"))).head.getLong(0)
      val rj = Seq(1, 2, math.max(1, k / 4)).map { p =>
        s"""{"nprobe":$p,"two_level_hits":${recallSum(two, p)},""" +
          s""""trained_hits":${recallSum(trained, p)}}"""
      }.mkString("[", ",", "]")
      s"""{"k":$k,"n":$n,"wall_two_level_sec":$wTwo,""" +
        s""""max_bucket_two_level":${maxBucket(two)},""" +
        s""""wall_train_supers_sec":$wTrain,""" +
        s""""wall_trained_sec":$wTrained,""" +
        s""""max_bucket_trained":${maxBucket(trained)},"flat_sample_rows":$m,""" +
        s""""wall_flat_sample_sec":$wFlatS,""" +
        s""""wall_flat_projected_sec":${wFlatS * n / m},"recall":$rj}"""
    }
    else a.ks.map { k =>
      val cent = Harness.materialize(PipelineOps.stubCodebook(emb, k))
      val flat = Harness.materialize(PipelineOps.assignToCentroidsFlat(emb, cent))
      val two = Harness.materialize(PipelineOps.assignToCentroids(emb, cent, k))
      val trained = Harness.materialize(PipelineOps.assignToCentroids(emb, cent, k,
        PipelineOps.trainRoutingSupers(cent, k)))
      def recallSum(assigned: DataFrame, nprobe: Int): Long =
        PipelineOps.annRecallAssigned(assigned, emb, cent, q, nprobe)
          .agg(sum(col("n_hit"))).head.getLong(0)
      val probes = Seq(1, 2, math.max(1, k / 4))
      def stats(assigned: DataFrame): (Long, Long) = {
        val f = flat.select(col("vec_id"), col("cid").as("fcid"),
          col("best_sim").as("fsim"))
        val j = Harness.materialize(assigned.select(col("vec_id"), col("cid"), col("best_sim"))
          .join(f, "vec_id"))
        (j.filter(col("cid") === col("fcid")).count(),
          j.filter(col("best_sim") > col("fsim")).count())
      }
      val (agreeT, lawT) = stats(two)
      val (agreeTr, lawTr) = stats(trained)
      val rj = probes.map { p =>
        s"""{"nprobe":$p,"flat_hits":${recallSum(flat, p)},""" +
          s""""two_level_hits":${recallSum(two, p)},""" +
          s""""trained_hits":${recallSum(trained, p)}}"""
      }.mkString("[", ",", "]")
      s"""{"k":$k,"n":$n,"agreement":$agreeT,"agreement_trained":$agreeTr,""" +
        s""""law_violations":${lawT + lawTr},""" +
        s""""max_bucket_flat":${maxBucket(flat)},"max_bucket_two_level":${maxBucket(two)},""" +
        s""""max_bucket_trained":${maxBucket(trained)},"recall":$rj}"""
    }
    val line = s"""{"dir":"$dir","n_vectors":$n,"evals":${rows.mkString("[", ",", "]")},""" +
      s""""health_start":$healthStart,"health_end":${graft.HealthStamp.json()}}"""
    println(line)
    Files.writeString(Paths.get(a.out), line + "\n")
    spark.stop()
  }
}
