package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.PipelineOps

/** Dev tool: the PRODUCTION-SIZING datapoint for the cluster-bucketed
  * quadratic family (i24 candidate ranking / i29 SemDeDup).
  *
  * The registry entries run at the fixture codebook (k = 8) because the
  * DuckDB oracle pins those exact semantics; their Scaladoc declares the
  * production rule instead: k ≈ N / target-bucket-size, so the expected
  * bucket holds a CONSTANT number of vectors and total within-bucket pair
  * work is `N/b · b² = N·b` — linear in the corpus at fixed bucket size.
  * GenScale replicates embeddings verbatim (vectors unchanged per copy),
  * so at a fixed k the bucket size grows with the copy count and the
  * registry entries' cost grows quadratically BY CONSTRUCTION — a fixture
  * artifact, not the production path. This probe runs the SAME operators
  * (`assignToCentroids` → `saltedSelfPairs` → rank / `semDedup`) at the
  * production k for the given corpus and prints one JSON line of wall
  * times plus the candidate-pair count, so two SFs can be compared
  * against the linear-cost model (BASELINE.md sf10 section).
  *
  * Usage: QuadProbe <sfDir> <k> [theta=0.4] [out=QUADPROBE_<basename>.json]
  */
object QuadProbe {
  def main(args: Array[String]): Unit = {
    // Same health-stamp discipline as every other measurement tool
    // (VERDICT r18 ask #8 wants the refreshed linearity datapoint
    // STAMPED — the prior probe predates the stamps).
    val healthStart = graft.HealthStamp.json()
    val dir = args(0)
    val k = args(1).toInt
    val theta = if (args.length > 2) args(2).toDouble else 0.4
    val spark = graft.Harness.session(graft.Harness.cpus(32))

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val cent = PipelineOps.stubCodebook(emb, k)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Workload size: candidate pairs the bucketed self-join emits (the
    // quadratic term the sizing rule bounds).
    val assigned = Harness.materialize(PipelineOps.assignToCentroids(emb, cent, k))
    val pairs = PipelineOps.saltedSelfPairs(
      assigned.select(col("cid"), col("vec_id"), col("embedding")), "cid")
    val nPairs = pairs.count()

    // i24 shape: rank candidates by exact cosine, global top-20.
    val tI24 = timed {
      pairs
        .select(col("cid"), col("i"), col("j"),
          round(graft.functions.VectorFunctions.dot(col("ea"), col("eb")), 3).as("sim"))
        .orderBy(col("sim").desc, col("i"), col("j")).limit(20)
        .write.format("noop").mode("overwrite").save()
    }

    // i29 shape: threshold edges -> components -> anti-join survivors.
    val tI29 = timed {
      PipelineOps.semDedup(emb, cent, theta, assignK = k)
        .write.format("noop").mode("overwrite").save()
    }

    graft.Harness.isolate(spark)
    val tag = java.nio.file.Paths.get(dir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val line =
      s"""{"dir":"$dir","n_vectors":$n,"k":$k,"theta":$theta,""" +
        s""""candidate_pairs":$nPairs,"i24_shape_sec":$tI24,"i29_shape_sec":$tI29,""" +
        s""""health_start":$healthStart,"health_end":${graft.HealthStamp.json()}}"""
    println(line)
    val out = if (args.length > 3) args(3) else s"QUADPROBE_$tag.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    spark.stop()
  }
}
