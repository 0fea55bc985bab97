package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its `SparkSession` and isolates one query
  * from the next — batch mains, the tailer and the tools all start the
  * engine the same way (Structured Streaming runs batch and streaming on
  * one session model).
  *
  * `SPARK_GRAFT_CPUS` sets the core count (each caller passes its own
  * default) and `SPARK_GRAFT_MASTER`, when set, replaces the
  * `local[cpus]` master; shuffle partitions always follow the core count.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** The engine session: UTC session time zone, no UI, the
    * [[graft.plans.GraftExtensions]] rules (the ns-timestamp pushdown)
    * and WARN logging. `warehouse` sets `spark.sql.warehouse.dir` for the
    * tools that write catalog tables.
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
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-query isolation, run after each query's time is captured.
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
