package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place a main builds its `SparkSession`, the engine materializes
  * a frame, and a main isolates one query from the next — batch mains,
  * the tailer and the tools all start the engine the same way (Structured
  * Streaming runs batch and streaming on one session model).
  *
  * `SPARK_GRAFT_CPUS` sets the core count (each caller passes its own
  * default) and `SPARK_GRAFT_MASTER`, when set, replaces the
  * `local[cpus]` master; shuffle partitions always follow the core count.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** Spark 4.1 isolates each session's artifacts by default: every
    * session, a streaming query's clone included, gets its own executor
    * class loader, so each query compiles its codegen stages again with a
    * cold JIT. The engine adds no JARs, files or classes to a session, so
    * isolation only throws compiled code away. [[session]] sets this pair
    * and `Tail.run` sets it on a caller's session that does not set the
    * key itself.
    */
  private[graft] val NoArtifactIsolation: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** The engine session: UTC session time zone, no UI, the
    * [[graft.plans.GraftExtensions]] rules (the ns-timestamp pushdown),
    * no artifact isolation ([[NoArtifactIsolation]]) and WARN logging.
    * `warehouse` sets `spark.sql.warehouse.dir` for the tools that write
    * catalog tables.
    */
  def session(cpus: Int, warehouse: Option[String] = None): SparkSession =
    session(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus, warehouse)

  /** [[session]] at a fixed master, whatever `SPARK_GRAFT_MASTER` says. */
  private[graft] def session(master: String, cpus: Int, warehouse: Option[String]): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(NoArtifactIsolation._1, NoArtifactIsolation._2)
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one way the engine materializes a frame. The rule: materialize
    * only where at least two consumers would otherwise re-run a producer
    * that has a shuffle, or where a loop must cut its lineage. A
    * shuffle-free producer (a scan, an explode over one) stays
    * materialized only where a same-window A/B shows its recompute costs
    * more than the copy, as the PQ block explode over the embeddings
    * scan does in i39, i42, i43 and i44.
    *
    * On a local master this is `df.localCheckpoint(eager)`: the frame is
    * a `Scan ExistingRDD` over blocks in the one JVM, which no executor
    * loss can take away. Off local mode a lost executor takes its blocks
    * with it, and a local checkpoint has no lineage left to recompute
    * them from, so the query fails. There the frame is a reliable
    * `checkpoint(eager)` when the context has a checkpoint dir, and
    * otherwise `persist(MEMORY_AND_DISK)` (counted when `eager`); either
    * way a lost block is recomputed. A loop without a checkpoint dir then
    * keeps its lineage, so a cluster that runs the iterative families
    * should set one.
    */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    materialize(df, eager, df.sparkSession.sparkContext.isLocal)

  private[graft] def materialize(df: DataFrame, eager: Boolean, local: Boolean): DataFrame =
    if (local) df.localCheckpoint(eager)
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) p.count()
      p
    }

  /** Per-query isolation, run after each query's time is captured: drops
    * the blocks [[materialize]] left behind (a reliable checkpoint's files
    * stay in the checkpoint dir until the ContextCleaner removes them,
    * which it does only with `spark.cleaner.referenceTracking.cleanCheckpoints`).
    *
    * r10 driver-run diagnosis: eager localCheckpoint blocks from the
    * dedup/kmeans pipelines stay pinned in the block manager until the
    * driver GC happens to collect their DataFrames, so a long
    * all-registry run accumulates storage pressure and late queries (the
    * trivial j*) degrade 10-100x under eviction+GC thrash. Each registry
    * query is an independent job; drop its persisted blocks as soon as it
    * is drained, exactly as separate job JVMs would. Callers run this
    * UNCONDITIONALLY — a query that throws mid-pipeline after eagerly
    * checkpointing would otherwise leak its pinned blocks into every
    * later measurement — and the unpersist is blocking, so async eviction
    * cannot overlap the next query's timed region.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    // THRESHOLD-TRIGGERED broadcast hygiene (VERDICT r14 ask #2):
    // broadcast blocks outlive clearCache — the ContextCleaner reaps
    // one only after the driver GC collects its variable — so a long
    // all-registry run accumulates dead-but-pinned broadcasts, and on
    // rare draws a mid-registry query degrades under that storage
    // pressure (the diagnosed i57 51.8s-vs-3.4s scale-gate allow at
    // sf1, where ~240 had piled up). A UNIFORM per-query System.gc()
    // was measured at ~1.27x on every query (rejected, r13); instead
    // the GC fires only when the block-manager's broadcast-block
    // count says pressure is real (~once per 100+ queries at the
    // observed accumulation rate — ~1/50th of the uniform tax). The
    // probe is one driver-local metadata read; the brief sleep lets
    // the async ContextCleaner drain the reference queue before the
    // next timed region starts.
    val probe = org.apache.spark.GraftBlockProbe
    if (probe.broadcastBlockCount(spark.sparkContext) > 128) {
      System.gc()
      Thread.sleep(200)
      System.err.println("[harness] broadcast hygiene GC " +
        s"(post-GC blocks: ${probe.broadcastBlockCount(spark.sparkContext)})")
    }
  }
}
