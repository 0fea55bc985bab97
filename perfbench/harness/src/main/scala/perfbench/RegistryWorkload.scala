package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import Main._

/** A closed loop over a frozen list of registry queries
  * (`graft.SparkEntry.queries`), each drained through the `noop` sink as
  * `graft.Bench` drains it.
  */
object RegistryWorkload {

  /** The per-query isolation `graft.Bench` applies after each query. */
  private def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    if (org.apache.spark.GraftBlockProbe.broadcastBlockCount(spark.sparkContext) > 128) {
      System.gc()
      Thread.sleep(200)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(o: Opts, work: Path, r: Result): SparkSession = {
    val sf = o("sf-dir")
    val ids = o("queries").split(",").toSeq
    val order = o("order").split(",").toSeq
    val fns = graft.SparkEntry.queries
    val firsts = ArrayBuffer.empty[Double]
    val (spark, setupsKept) = setUp(o.int("setups"), () => session(o.int("cores"), work), s => {
      // First result from a fresh session: the list's first query, cold.
      val t0 = System.nanoTime()
      noop(fns(ids.head)(s, sf))
      firsts += (System.nanoTime() - t0) / 1e9
      isolate(s)
    }, r)

    // Verify pass (`--verify 1`, the first JVM of a run): each query's
    // result written as graft.Verify writes it, with the oracle SQL beside
    // it, for tools/check.py, which counts a query whose result is missing
    // or wrong. In the other JVMs the pass drains through the noop sink.
    // Either way it warms every query's plan and relation caches before
    // the timed loop.
    val verify = o("verify") == "1"
    val vdir = work.resolve("verify")
    if (verify) Files.createDirectories(vdir)
    val broken = mutable.Set.empty[String]
    ids.foreach { id =>
      if (verify) r.attempted += 1
      try {
        val df = fns(id)(spark, sf)
        if (verify) df.coalesce(1).write.mode("overwrite").parquet(vdir.resolve(id).toString)
        else noop(df)
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $id failed: ${e.getMessage}")
        broken += id
        // With no verify output, tools/check.py cannot count this one.
        if (!verify) { r.attempted += 1; r.failed += 1 }
      }
      isolate(spark)
    }
    if (verify) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val oracle = new java.util.TreeMap[String, String]()
      graft.SparkEntry.oracleSql.foreach { case (k, v) => if (ids.contains(k)) oracle.put(k, v) }
      Files.writeString(vdir.resolve("oracle_sql.json"), mapper.writeValueAsString(oracle))
    }

    // Untimed warm-up passes: per-query times still fall by up to 40 %
    // over the first executions after the verify pass while the JIT warms.
    for (_ <- 1 to o.int("warm-passes"); id <- order.filterNot(broken)) {
      try noop(fns(id)(spark, sf))
      catch { case e: Exception => System.err.println(s"[perfbench] $id failed: ${e.getMessage}") }
      isolate(spark)
    }

    /** A closed loop over `order`: at least `min-passes` whole passes, then
      * on until `seconds` of query time. Each metric is built from per-query
      * figures (median, p99), so queries of different sizes are not pooled
      * into one percentile; each query's figures come from the half of its
      * executions during which the host stole the least CPU, so a burst of
      * host contention does not decide them. With `trace`, whole passes
      * alternate untraced
      * and traced for twice as long, so the tracing overhead compares each
      * query with itself.
      */
    def window(trace: Boolean): Unit = {
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val samples, steals = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val plain, traced = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
      val acc = new LayerAccumulator
      val live = order.filterNot(broken)
      var elapsed = 0.0
      var k = 0
      val (minRuns, target) =
        if (trace) (2 * live.size * o.int("min-passes"), 2 * o.double("seconds"))
        else (live.size * o.int("min-passes"), o.double("seconds"))
      while (live.nonEmpty && (k < minRuns || elapsed < target)) {
        val id = live(k % live.size)
        val on = trace && (k / live.size) % 2 == 1
        k += 1
        if (on) tracer.foreach(_.install())
        val (steal0, total0) = graft.HealthStamp.cpuJiffies()
        val t0 = System.nanoTime()
        var t1 = t0
        val ok =
          try { val df = fns(id)(spark, sf); t1 = System.nanoTime(); noop(df); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $id failed: ${e.getMessage}"); false
          }
        val t2 = System.nanoTime()
        val steal = stealFrac(steal0, total0)
        r.attempted += 1
        if (!ok) r.failed += 1
        else {
          val ms = (t2 - t0) / 1e6
          samples.getOrElseUpdate(id, ArrayBuffer.empty) += ms
          steals.getOrElseUpdate(id, ArrayBuffer.empty) += steal
          (if (on) traced else plain).getOrElseUpdate(id, ArrayBuffer.empty) += ms
          elapsed += ms / 1000.0
        }
        if (on) tracer.foreach { t =>
          val persisted = spark.sparkContext.getPersistentRDDs.size
          t.drain()
          val (a, b, c) = (Clock.epochUs(t0), Clock.epochUs(t1), Clock.epochUs(t2))
          val lo = a / 1000L
          val phases = t.synchronized(t.qes.filter(q => q.endMs >= lo).toList)
            .flatMap(q => q.phases.collect { case (p, (s, e)) if p != "parsing" =>
              Span(s"sql.$p", s * 1000L, e * 1000L, 2) })
          val jobs = t.synchronized(t.jobs.filter(j => j.startMs >= lo).toList)
            .map(j => Span("spark.job", j.startMs * 1000L, j.endMs * 1000L, 3))
          val self = acc.addUnit(UnitSpans(Span("query", a, c, 0),
            Seq(Span("Registry.build", a, b), Span("sink.noop", b, c)) ++ phases ++ jobs),
            t, Map("Registry.build_ms" -> (b - a) / 1000.0, "spark.persisted_rdds" -> persisted))
          acc.add("spark.driver_gap_ms", self.getOrElse("sink.noop", 0L) / 1000.0)
          t.uninstall()
        }
        isolate(spark)
      }
      val kept = samples.map { case (id, xs) => leastStolen(steals(id).toSeq).map(xs) }.toSeq
      val medians = kept.map(median)
      val p99s = kept.map(percentile(_, 0.99))
      r.put("passes", k.toDouble / math.max(live.size, 1))
      r.put("samples", samples.values.map(_.size).sum)
      val qms = new java.util.TreeMap[String, Double]()
      samples.foreach { case (k, v) => qms.put(k, median(v.toSeq)) }
      r.put("query_median_ms", qms)
      val qss = new java.util.TreeMap[String, java.util.List[Double]]()
      samples.foreach { case (k, v) => qss.put(k, v.toSeq.asJava) }
      r.put("query_samples_ms", qss)
      r.put("timed_s", elapsed)
      r.metric("drain_records_per_s", medians.size / (medians.sum / 1000.0))
      r.metric("first_line_s", median(setupsKept.map(firsts)))
      r.metric("emit_latency_ms_p50", geomean(medians))
      r.metric("emit_latency_ms_p99", geomean(p99s))
      r.metric("registry_total_s", medians.sum / 1000.0)
      r.metric("registry_geomean_ms", geomean(medians))
      tracer.foreach { _ =>
        Layers.put(r, acc, Map.empty)
        val both = plain.keySet.intersect(traced.keySet).toSeq
        val p = geomean(both.map(id => median(plain(id).toSeq)))
        val q = geomean(both.map(id => median(traced(id).toSeq)))
        r.put("trace_untraced_unit_ms", p)
        r.put("trace_traced_unit_ms", q)
        r.metric("trace.overhead_pct", (q / p - 1.0) * 100.0)
      }
    }

    window(o.trace)
    spark
  }
}
