package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the epoch-microsecond clock. `depth` breaks ties when
  * two spans start together: the deeper one is the inner one.
  */
final case class Span(name: String, startUs: Long, endUs: Long, depth: Int = 1) {
  def durUs: Long = endUs - startUs
}

/** A unit of work (one registry query or one micro-batch): its root span
  * and the spans recorded inside it.
  */
final case class UnitSpans(root: Span, children: Seq[Span])

object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def epochUs(nanoTime: Long): Long = baseUs + (nanoTime - baseNs) / 1000L
  def nowUs(): Long = epochUs(System.nanoTime())
}

object SelfTime {

  /** Splits the root's wall time among its spans. Every elementary
    * interval between span boundaries goes to the innermost span covering
    * it (latest start, then greatest depth, then shortest), or to the root
    * when none does. The attributed times therefore sum to the root's wall
    * time exactly; where children do not overlap this equals "duration
    * minus the part covered by child spans".
    */
  def apply(u: UnitSpans): Map[String, Long] = {
    val root = u.root
    val cs = u.children
      .map(s => s.copy(startUs = math.max(s.startUs, root.startUs),
        endUs = math.min(s.endUs, root.endUs)))
      .filter(s => s.endUs > s.startUs)
    val bounds = (cs.flatMap(s => Seq(s.startUs, s.endUs)) ++
      Seq(root.startUs, root.endUs)).distinct.sorted
    val acc = mutable.LinkedHashMap.empty[String, Long]
    bounds.iterator.zip(bounds.iterator.drop(1)).foreach { case (a, b) =>
      val cover = cs.filter(s => s.startUs <= a && s.endUs >= b)
      val owner =
        if (cover.isEmpty) root.name
        else cover.maxBy(s => (s.startUs, s.depth, -s.durUs)).name
      acc(owner) = acc.getOrElse(owner, 0L) + (b - a)
    }
    acc.toMap
  }
}

final case class JobRec(startMs: Long, endMs: Long)
final case class StageRec(submitMs: Long, runMs: Long, cpuMs: Double, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, shuffleMap: Boolean)
final case class TaskRec(launchMs: Long, durMs: Long)
final case class QeRec(endMs: Long, phases: Map[String, (Long, Long)])

/** Collects Spark's own events through its public listener interfaces
  * (SparkListener, QueryExecutionListener, StreamingQueryListener). Events
  * are kept in memory and attributed to units of work by time.
  */
final class Tracer(spark: SparkSession) {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val qes = ArrayBuffer.empty[QeRec]
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private val jobStart = mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += JobRec(s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages += StageRec(i.submissionTime.getOrElse(0L), m.executorRunTime,
          m.executorCpuTime / 1e6, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, org.apache.spark.PerfbenchBus.isShuffleMap(i))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += TaskRec(e.taskInfo.launchTime, e.taskInfo.duration)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      qes += QeRec(System.currentTimeMillis(), ph)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Per-unit layer figures, averaged over the units of a traced window. */
final class LayerAccumulator {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val maxes = mutable.LinkedHashMap.empty[String, Double]
  private val selfTotals = mutable.LinkedHashMap.empty[String, Double]
  var units = 0

  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def max(name: String, v: Double): Unit = maxes(name) = math.max(maxes.getOrElse(name, v), v)

  /** Records one unit: its self-time split and the Spark events whose
    * timestamps fall inside it.
    */
  def addUnit(u: UnitSpans, t: Tracer, extra: Map[String, Double]): Map[String, Long] = {
    units += 1
    val self = SelfTime(u)
    self.foreach { case (k, v) => selfTotals(k) = selfTotals.getOrElse(k, 0.0) + v / 1000.0 }
    val lo = u.root.startUs / 1000L
    val hi = (u.root.endUs + 999L) / 1000L
    def in(ms: Long) = ms >= lo && ms <= hi
    val jobs = t.synchronized(t.jobs.filter(j => in(j.startMs)).toList)
    val stages = t.synchronized(t.stages.filter(s => in(s.submitMs)).toList)
    val tasks = t.synchronized(t.tasks.filter(x => in(x.launchMs)).toList)
    val qes = t.synchronized(t.qes.filter(q => in(q.endMs)).toList)
    add("spark.jobs", jobs.size)
    add("spark.stages", stages.size)
    add("spark.tasks", tasks.size)
    add("spark.exchanges", stages.count(_.shuffleMap))
    add("spark.executor_run_ms", stages.map(_.runMs).sum)
    add("spark.executor_cpu_ms", stages.map(_.cpuMs).sum)
    add("spark.jvm_gc_ms", stages.map(_.gcMs).sum)
    add("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum)
    add("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum)
    add("spark.spill_bytes", stages.map(_.spill).sum)
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"sql.${p}_ms", qes.flatMap(_.phases.get(p)).map { case (a, b) => (b - a).toDouble }.sum)
    }
    if (tasks.size >= 2) {
      val d = tasks.map(_.durMs).sorted
      val med = math.max(1L, d(d.size / 2))
      add("spark.task_ms_max_over_median", d.last.toDouble / med)
      add("task_ratio_units", 1)
    }
    extra.foreach { case (k, v) => add(k, v) }
    self
  }

  def names: Seq[String] = sums.keys.toSeq
  def maxNames: Seq[String] = maxes.keys.toSeq
  def mean(name: String): Double = if (units == 0) 0.0 else sums.getOrElse(name, 0.0) / units
  def maxOf(name: String): Double = maxes.getOrElse(name, 0.0)
  def taskRatio: Double = {
    val n = sums.getOrElse("task_ratio_units", 0.0)
    if (n == 0) 0.0 else sums("spark.task_ms_max_over_median") / n
  }
  /** Mean self time per unit, by span name. */
  def selfMeans: Map[String, Double] =
    selfTotals.map { case (k, v) => k -> v / math.max(units, 1) }.toMap
}

object Progress {
  def startUs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli * 1000L

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Records behind the newest data, summed over shards: the source's
    * latest offset minus the batch's end offset.
    */
  def lag(p: StreamingQueryProgress): Long = p.sources.headOption.map { s =>
    val end = graft.sources.ShardOffsets.fromJson(Option(s.endOffset).getOrElse("{}")).positions
    val latest = graft.sources.ShardOffsets.fromJson(Option(s.latestOffset).getOrElse("{}")).positions
    latest.map { case (k, v) => math.max(0L, v - end.getOrElse(k, 0L)) }.sum
  }.getOrElse(0L)

  /** The micro-batch as spans. Progress reports durations only, so the
    * phases are laid out in execution order: latestOffset and walCommit
    * from the trigger's start, getBatch through commitOffsets back to back
    * ending at the trigger's end (where the sink's jobs run).
    */
  def spans(p: StreamingQueryProgress): (Span, Seq[Span]) = {
    val s = startUs(p)
    val root = Span("streaming.trigger", s, s + dur(p, "triggerExecution") * 1000L, 0)
    val fwd = Seq("latestOffset" -> "ShardedEvents.latestOffset", "walCommit" -> "streaming.walCommit")
    val back = Seq("commitOffsets" -> "streaming.commitOffsets", "addBatch" -> "streaming.addBatch",
      "queryPlanning" -> "streaming.queryPlanning", "getBatch" -> "ShardedEvents.getBatch")
    val out = ArrayBuffer.empty[Span]
    var t = s
    fwd.foreach { case (k, n) => val d = dur(p, k) * 1000L; out += Span(n, t, t + d); t += d }
    var e = root.endUs
    back.foreach { case (k, n) => val d = dur(p, k) * 1000L; out += Span(n, e - d, e); e -= d }
    (root, out.toSeq)
  }

  def isData(p: StreamingQueryProgress): Boolean = p.numInputRows > 0

  def all(ps: Iterable[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.toSeq.filter(isData).groupBy(p => (p.runId, p.batchId)).values.map(_.head).toSeq
      .sortBy(Progress.startUs)
}

object Layers {
  /** Writes the window's per-layer figures: per-unit means of everything
    * added per unit, the maxima, the straggler ratio, and the self-time
    * split.
    */
  def put(r: Main.Result, acc: LayerAccumulator, extra: Map[String, Double]): Unit = {
    acc.names.filterNot(_ == "task_ratio_units").foreach(n => r.metric(n, acc.mean(n)))
    acc.maxNames.foreach(n => r.metric(n, acc.maxOf(n)))
    r.metric("spark.task_ms_max_over_median", acc.taskRatio)
    extra.foreach { case (k, v) => r.metric(k, v) }
    val self = new java.util.TreeMap[String, Double]()
    acc.selfMeans.foreach { case (k, v) => self.put(k, v) }
    r.put("self_time_ms_per_unit", self)
    r.put("traced_units", acc.units)
  }
}
