package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import Main._

/** Grabs the handle of the streaming query `graft.Tail.run` starts, so its
  * progress can be read after the run without registering a listener.
  */
final class QueryGrabber(spark: SparkSession) extends Thread("perfbench-grabber") {
  setDaemon(true)
  @volatile var query: StreamingQuery = _
  @volatile private var done = false
  override def run(): Unit =
    while (query == null && !done) {
      spark.streams.active.headOption.foreach(q => query = q)
      if (query == null) Thread.sleep(1)
    }
  def finish(): Unit = { done = true; join() }
  def progress: Seq[StreamingQueryProgress] =
    Option(query).map(q => Progress.all(q.recentProgress.toSeq)).getOrElse(Nil)
}

/** The one-shot catch-up drain over the `sharded-events` source and Tail's
  * stdout sink.
  */
object TailWorkloads {

  /** Per-layer figures for the micro-batches the tracer saw. */
  private def tailLayers(t: Tracer, sink: Seq[Span], sinkBytes: Long, r: Result): Unit = {
    t.drain()
    val ps = Progress.all(t.synchronized(t.progress.toList))
    val acc = new LayerAccumulator
    ps.foreach { p =>
      val (root, phases) = Progress.spans(p)
      def inside(s: Span) = s.startUs >= root.startUs && s.startUs < root.endUs
      val jobs = t.synchronized(t.jobs.toList)
        .map(j => Span("spark.job", j.startMs * 1000L, j.endMs * 1000L, 3)).filter(inside)
      val self = acc.addUnit(UnitSpans(root, phases ++ jobs ++ sink.filter(inside)), t, Map(
        "ShardedEvents.latest_offset_ms" -> Progress.dur(p, "latestOffset"),
        "ShardedEvents.get_batch_ms" -> Progress.dur(p, "getBatch"),
        "streaming.query_planning_ms" -> Progress.dur(p, "queryPlanning"),
        "streaming.add_batch_ms" -> Progress.dur(p, "addBatch"),
        "streaming.wal_commit_ms" -> Progress.dur(p, "walCommit"),
        "streaming.commit_offsets_ms" -> Progress.dur(p, "commitOffsets")))
      acc.add("Tail.sink_write_ms", self.getOrElse("Tail.sink", 0L) / 1000.0)
      acc.add("spark.driver_gap_ms", self.getOrElse("streaming.addBatch", 0L) / 1000.0)
      acc.max("ShardedEvents.lag_records_max", Progress.lag(p).toDouble)
    }
    Layers.put(r, acc, Map(
      "streaming.batches" -> ps.size.toDouble,
      "spark.jobs_per_batch" -> acc.mean("spark.jobs"),
      "Tail.sink_bytes" -> (if (ps.isEmpty) 0.0 else sinkBytes.toDouble / ps.size)))
  }

  def drain(o: Opts, work: Path, r: Result): SparkSession = {
    val cores = o.int("cores")
    val nowUs = o.long("now-us")
    val args = Array("-O", "-s", o("start"), java.nio.file.Paths.get(o("input")).resolve("stream").toString)
    def once(spark: SparkSession, cap: Capture): (Int, Long, Long, Seq[StreamingQueryProgress]) = {
      val g = new QueryGrabber(spark)
      g.start()
      val t0 = System.nanoTime()
      val rc = graft.Tail.run(args, () => spark, cap, System.err, nowUs)
      val t1 = System.nanoTime()
      g.finish()
      removeTailCheckpoints()
      (rc, t0, t1, g.progress)
    }
    val (spark, _) = setUp(o.int("setups"),
      () => session(cores, work),
      s => require(once(s, new Capture(false))._1 == 0, "warm-up Tail.run failed"), r)
    // Untimed warm-up passes: pass times still fall by about 20 % over the
    // first passes after the set-ups while the JIT warms.
    for (_ <- 1 to o.int("warm-passes"))
      require(once(spark, new Capture(false))._1 == 0, "warm-up Tail.run failed")

    /** Drain passes until `seconds` of pass time; each metric is the
      * median of its per-pass values over the half of the passes during
      * which the host stole the least CPU. With `trace`, passes alternate
      * untraced and traced for twice as long, so the tracing overhead
      * compares neighbouring passes. Each pass's exit code and lines are
      * left for the output checks, which count a failed pass once.
      */
    def window(trace: Boolean): Unit = {
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val walls, plainWalls, tracedWalls, rates, firsts, p50s, p99s, geos, steals = ArrayBuffer.empty[Double]
      val rcs = ArrayBuffer.empty[Int]
      val sinkSpans = ArrayBuffer.empty[Span]
      var sinkBytes = 0L
      var lines = 0L
      val target = o.double("seconds") * (if (trace) 2 else 1)
      while (walls.size < (if (trace) 2 else 1) || walls.sum < target) {
        val traced = trace && walls.size % 2 == 1
        if (traced) tracer.foreach(_.install())
        val cap = new Capture(traced)
        val (steal0, total0) = graft.HealthStamp.cpuJiffies()
        val (rc, t0, t1, ps) = once(spark, cap)
        steals += stealFrac(steal0, total0)
        if (traced) tracer.foreach(_.uninstall())
        val out = work.resolve("lines")
        Files.createDirectories(out)
        cap.writeLines(out.resolve(s"drain-pass${walls.size}.txt"))
        rcs += rc
        val wall = (t1 - t0) / 1e9
        walls += wall
        (if (traced) tracedWalls else plainWalls) += wall
        rates += cap.count / wall
        // One entry per pass, so `leastStolen` indices line up; a pass with
        // no lines reads 0 here and fails the output checks.
        val lat = (0 until cap.count).map(k => (cap.timeNs(k) - t0) / 1e6)
        firsts += lat.headOption.getOrElse(0.0) / 1000.0
        p50s += percentile(lat, 0.5)
        p99s += percentile(lat, 0.99)
        geos += geomean(ps.map(p => Progress.dur(p, "triggerExecution").toDouble))
        lines += cap.count
        if (traced) {
          sinkSpans ++= cap.spans
          sinkBytes += cap.bytes
        }
      }
      r.attempted += walls.size
      r.put("pass_rc", rcs.asJava)
      r.put("passes", walls.size)
      r.put("pass_walls_s", walls.asJava)
      r.put("pass_steal_frac", steals.asJava)
      r.put("samples", lines)
      val keep = leastStolen(steals.toSeq)
      def med(xs: ArrayBuffer[Double]) = median(keep.map(xs))
      r.metric("drain_records_per_s", med(rates))
      r.metric("first_line_s", med(firsts))
      r.metric("emit_latency_ms_p50", med(p50s))
      r.metric("emit_latency_ms_p99", med(p99s))
      r.metric("registry_total_s", med(walls))
      r.metric("registry_geomean_ms", med(geos))
      tracer.foreach { t =>
        tailLayers(t, sinkSpans.toSeq, sinkBytes, r)
        val (p, q) = (median(plainWalls.toSeq), median(tracedWalls.toSeq))
        r.put("trace_untraced_unit_ms", p * 1000)
        r.put("trace_traced_unit_ms", q * 1000)
        r.metric("trace.overhead_pct", (q / p - 1.0) * 100.0)
      }
    }

    window(o.trace)
    if (!o.trace) spark
    else {
      // Single-thread baseline: one drain pass at local[1].
      spark.stop()
      val one = session(1, work.resolve("local1"))
      val (rc, t0, t1, _) = once(one, new Capture(false))
      r.attempted += 1
      if (rc != 0) r.failed += 1
      r.metric("baseline.local1_drain_s", (t1 - t0) / 1e9)
      one
    }
  }
}
