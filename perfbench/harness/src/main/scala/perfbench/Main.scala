package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM. `perfbench/run.py` generates the
  * inputs, starts this main, then checks the outputs it leaves behind.
  *
  * Arguments are `--key value` pairs; see `Opts`. The run writes one JSON
  * object to `--out`: the timed samples, the per-layer figures when
  * `--trace 1`, the health stamps, and the paths of the outputs to check.
  */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def double(k: String): Double = apply(k).toDouble
    def trace: Boolean = get("trace").contains("1")
  }

  /** The run's result, filled in by the workload. */
  final class Result {
    val fields = new java.util.LinkedHashMap[String, Any]()
    val metrics = new java.util.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    def put(k: String, v: Any): Unit = fields.put(k, v)
    def metric(k: String, v: Double): Unit = metrics.put(k, v)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A host-health stamp with the fields `graft.HealthStamp.json()`
    * carries. The disk probes are left at their -1 "unavailable" sentinel:
    * they write tens of MB outside the run's directory and take seconds.
    */
  def healthStamp(): String = {
    import graft.HealthStamp._
    val (steal, total) = cpuJiffies()
    s"""{"load":${loadavg()},"other_spark_jvms":${otherSparkJvms()},""" +
      s""""fault_us_per_page":${faultUsPerPage()},"page_cache_mb":${pageCacheMb()},""" +
      """"cold_read_mbps":-1.0,"write_mbps":-1.0,"write_sustained_mbps":-1.0,""" +
      s""""cpu_steal_jiffies":$steal,"cpu_total_jiffies":$total}"""
  }

  /** Peak resident set of this JVM, in MB (`VmHWM`). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The host CPU steal fraction since a `graft.HealthStamp.cpuJiffies()`
    * reading.
    */
  def stealFrac(steal0: Long, total0: Long): Double = {
    val (steal1, total1) = graft.HealthStamp.cpuJiffies()
    if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
  }

  /** Indices of the samples taken while the host stole the least CPU: the
    * cleaner half, at least three.
    */
  def leastStolen(steals: Seq[Double]): Seq[Int] =
    steals.indices.sortBy(i => (steals(i), i)).take(math.max(3, (steals.size + 1) / 2)).sorted
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Times `n` fresh set-ups (each stops the previous session) and keeps
    * the last session. `setup_s` is the median over the set-ups the host
    * stole the least CPU from; their indices are returned with the session.
    */
  def setUp(n: Int, build: () => SparkSession, warm: SparkSession => Unit,
      r: Result): (SparkSession, Seq[Int]) = {
    var s: SparkSession = null
    val steals = ArrayBuffer.empty[Double]
    val times = (1 to n).map { _ =>
      if (s != null) s.stop()
      val (steal0, total0) = graft.HealthStamp.cpuJiffies()
      val t0 = System.nanoTime()
      s = build()
      warm(s)
      val t = (System.nanoTime() - t0) / 1e9
      steals += stealFrac(steal0, total0)
      t
    }
    val kept = leastStolen(steals.toSeq)
    r.put("setup_samples_s", times.asJava)
    r.put("setup_steal_frac", steals.asJava)
    r.metric("setup_s", median(kept.map(times)))
    (s, kept)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val (steal0, total0) = graft.HealthStamp.cpuJiffies()
    val healthStart = healthStamp()
    val r = new Result
    val work = Paths.get(o("work")).toAbsolutePath
    val spark = o("workload") match {
      case "tail_drain" => TailWorkloads.drain(o, work, r)
      case "registry_mix" => RegistryWorkload.run(o, work, r)
      case w => sys.error(s"unknown workload $w")
    }
    r.metric("peak_rss_mb", peakRssMb())
    if (spark != null) spark.stop()
    val (steal1, total1) = graft.HealthStamp.cpuJiffies()
    val healthEnd = healthStamp()
    val mapper = new ObjectMapper()
    val verdicts = graft.tools.ClassifyWindow.classify(
      mapper.readTree(healthStart), mapper.readTree(healthEnd))
    val bad = verdicts.filter(_.status == "IMPLICATED").map(_.mechanism)
    r.put("health_start", mapper.readTree(healthStart))
    r.put("health_end", mapper.readTree(healthEnd))
    r.put("steal_frac",
      if (total1 > total0 && steal0 >= 0) (steal1 - steal0).toDouble / (total1 - total0) else -1.0)
    r.put("window_verdict",
      if (bad.isEmpty) "no mechanism implicated" else s"CONTAMINATED by ${bad.mkString(", ")}")
    r.put("window_classes", verdicts.map(v => s"${v.mechanism}: ${v.status}").asJava)
    r.put("attempted", r.attempted)
    r.put("failed", r.failed)
    r.put("metrics", r.metrics)
    Files.writeString(Paths.get(o("out")), mapper.writeValueAsString(r.fields))
  }

  /** Deletes a directory tree; a missing one is fine. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Removes the checkpoint directories `graft.Tail` leaves in the JVM's
    * temp dir, which the launcher points inside the run's directory.
    */
  def removeTailCheckpoints(): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.filter(_.getFileName.toString.startsWith("graft-tail-ckpt")).forEach(p => deleteTree(p))
    finally s.close()
  }
}
