package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ClassifyWindow

/** The four-mode window classifier is the BASELINE.md mechanism decision
  * table as code (VERDICT r19 ask #6) — artifacts from every round feed
  * it, so the current eight-field shape, the r20 nine-field shape (with
  * the burst `write_mbps`) and the pre-r19-close shapes (no steal
  * counters, no sustained-write field) must classify without
  * fabricating verdicts for fields an artifact does not carry. Bench's
  * promote gate reads the same verdicts, so its refuse/pass cases live
  * here too.
  */
class ClassifyWindowSpec extends AnyFunSuite {

  private def artifact(start: String, end: String): String =
    s"""{"metric":"total","value":1.0,"health_start":$start,"health_end":$end}"""

  private val healthy =
    """{"load":[0.5,0.6,0.7],"other_spark_jvms":0,"fault_us_per_page":0.8,
      |"page_cache_mb":6000,"cold_read_mbps":250.0,"write_mbps":480.0,
      |"write_sustained_mbps":320.0,"cpu_steal_jiffies":100,"cpu_total_jiffies":100000}"""
      .stripMargin.replace("\n", "")

  private def status(vs: Seq[ClassifyWindow.Verdict], mech: String): String =
    vs.find(_.mechanism == mech).map(_.status).getOrElse(fail(s"no $mech verdict"))

  test("a healthy window classifies CLEAR on all four mechanisms") {
    val end = healthy
      .replace("\"cpu_steal_jiffies\":100", "\"cpu_steal_jiffies\":110")
      .replace("\"cpu_total_jiffies\":100000", "\"cpu_total_jiffies\":200000")
    val Right(vs) = ClassifyWindow.classifyArtifact(artifact(healthy, end)): @unchecked
    Seq("fault-latency", "cache-reclaim", "write-throttle", "cpu-steal", "shared-box")
      .foreach(m => assert(status(vs, m) == "CLEAR", s"$m: $vs"))
  }

  test("each mechanism implicates on its own gate") {
    // #1 fault latency >= 5 at one end (the r17 episode)
    val faulty = healthy.replace("\"fault_us_per_page\":0.8", "\"fault_us_per_page\":13.0")
    val Right(v1) = ClassifyWindow.classifyArtifact(artifact(healthy, faulty)): @unchecked
    assert(status(v1, "fault-latency") == "IMPLICATED")
    // the 1..5 band is ELEVATED (above the healthy re-anchor bar)
    val warm = healthy.replace("\"fault_us_per_page\":0.8", "\"fault_us_per_page\":2.3")
    val Right(v1b) = ClassifyWindow.classifyArtifact(artifact(warm, warm)): @unchecked
    assert(status(v1b, "fault-latency") == "ELEVATED")

    // #2 cold read under 100 MB/s (the r18 hydration mode)
    val cold = healthy.replace("\"cold_read_mbps\":250.0", "\"cold_read_mbps\":11.0")
    val Right(v2) = ClassifyWindow.classifyArtifact(artifact(cold, healthy)): @unchecked
    assert(status(v2, "cache-reclaim") == "IMPLICATED")

    // #3 sustained write floor under 50 (the r19 sf10 tail)
    val throttled =
      healthy.replace("\"write_sustained_mbps\":320.0", "\"write_sustained_mbps\":6.0")
    val Right(v3) = ClassifyWindow.classifyArtifact(artifact(healthy, throttled)): @unchecked
    assert(status(v3, "write-throttle") == "IMPLICATED")

    // #4 window steal fraction >= 5% (draw C)
    val starved = healthy
      .replace("\"cpu_steal_jiffies\":100", "\"cpu_steal_jiffies\":20100")
      .replace("\"cpu_total_jiffies\":100000", "\"cpu_total_jiffies\":300000")
    val Right(v4) = ClassifyWindow.classifyArtifact(artifact(healthy, starved)): @unchecked
    assert(status(v4, "cpu-steal") == "IMPLICATED") // 20000/200000 = 10%

    // shared box: a foreign Spark JVM at either end
    val shared = healthy.replace("\"other_spark_jvms\":0", "\"other_spark_jvms\":2")
    val Right(v5) = ClassifyWindow.classifyArtifact(artifact(shared, healthy)): @unchecked
    assert(status(v5, "shared-box") == "IMPLICATED")
    // ... but the END stamp's loadavg is the draw's OWN work (an sf10
    // rung ends at load ~25) — only pre-draw load implicates:
    val busyEnd = healthy.replace("\"load\":[0.5,0.6,0.7]", "\"load\":[24.9,20.1,12.0]")
    val Right(v5b) = ClassifyWindow.classifyArtifact(artifact(healthy, busyEnd)): @unchecked
    assert(status(v5b, "shared-box") == "CLEAR")
    val busyStart = healthy.replace("\"load\":[0.5,0.6,0.7]", "\"load\":[5.2,4.8,4.1]")
    val Right(v5c) = ClassifyWindow.classifyArtifact(artifact(busyStart, healthy)): @unchecked
    assert(status(v5c, "shared-box") == "IMPLICATED")
    // ... and of the start triple only the 1-MIN figure gates: elevated
    // 5/15-min averages are the ritual's own previous draw (the r19
    // close starts at [1.08, 1.72, 4.45] mid-ladder and is not shared):
    val ritual = healthy.replace("\"load\":[0.5,0.6,0.7]", "\"load\":[1.08,1.72,4.45]")
    val Right(v5d) = ClassifyWindow.classifyArtifact(artifact(ritual, healthy)): @unchecked
    assert(status(v5d, "shared-box") == "CLEAR")
  }

  test("pre-r20 artifacts: burst write is an upper bound, not a clearance") {
    // No write_sustained_mbps field + healthy-LOOKING burst figure →
    // INCONCLUSIVE (the r19 lesson: 32 MB bursts read ~500 MB/s through
    // an active throttle); a LOW burst still implicates.
    val pre = healthy.replace("\"write_sustained_mbps\":320.0,", "")
    val Right(v) = ClassifyWindow.classifyArtifact(artifact(pre, pre)): @unchecked
    assert(status(v, "write-throttle") == "INCONCLUSIVE")
    val preLow = pre.replace("\"write_mbps\":480.0", "\"write_mbps\":14.0")
    val Right(vLow) = ClassifyWindow.classifyArtifact(artifact(preLow, preLow)): @unchecked
    assert(status(vLow, "write-throttle") == "IMPLICATED")
  }

  test("pre-r19-close artifacts abstain on steal; sentinel probes abstain") {
    val old = healthy
      .replace(",\"cpu_steal_jiffies\":100,\"cpu_total_jiffies\":100000", "")
    val Right(v) = ClassifyWindow.classifyArtifact(artifact(old, old)): @unchecked
    assert(status(v, "cpu-steal") == "INCONCLUSIVE")
    val sentinel = healthy.replace("\"cold_read_mbps\":250.0", "\"cold_read_mbps\":-1.0")
    val Right(v2) = ClassifyWindow.classifyArtifact(artifact(sentinel, sentinel)): @unchecked
    assert(status(v2, "cache-reclaim") == "INCONCLUSIVE")
  }

  /** A stamp carrying the readings the promote gate judges: the jiffies
    * counters, the sustained-write floor and the cold read (-1 is the
    * probes' sentinel). The other fields read healthy.
    */
  private def gateStamp(steal: Long, total: Long,
      sustained: Double = 400.0, cold: Double = 250.0): String =
    s"""{"load":[0.5,0.6,0.7],"other_spark_jvms":0,"fault_us_per_page":0.8,""" +
      s""""page_cache_mb":6000,"cold_read_mbps":$cold,"write_sustained_mbps":$sustained,""" +
      s""""cpu_steal_jiffies":$steal,"cpu_total_jiffies":$total}"""

  /** The gated mechanisms a (start, end) pair refuses a promote on. */
  private def refusals(start: String, end: String): Set[String] = {
    val Right(vs) = ClassifyWindow.classifyArtifact(artifact(start, end)): @unchecked
    ClassifyWindow.promoteRefusals(vs).map(_.mechanism).toSet
  }

  test("promote gate: steal and sustained-write cases") {
    // 10% window steal refuses; so does a 12.5 MB/s sustained floor.
    assert(refusals(gateStamp(100, 1000, 500.0), gateStamp(200, 2000, 500.0)) == Set("cpu-steal"))
    assert(refusals(gateStamp(0, 1000), gateStamp(0, 2000, 12.5)) == Set("write-throttle"))
    assert(refusals(gateStamp(0, 1000), gateStamp(100, 2000, 5.0)) ==
      Set("cpu-steal", "write-throttle"))
    // A healthy window promotes.
    assert(refusals(gateStamp(10, 1000), gateStamp(11, 2000)).isEmpty)
    // Boundaries: 5% steal refuses, 4.9% passes; 50 MB/s passes, 49.9 refuses.
    assert(refusals(gateStamp(0, 0, 50.0), gateStamp(50, 1000, 50.0)) == Set("cpu-steal"))
    assert(refusals(gateStamp(0, 0, 50.0), gateStamp(49, 1000, 50.0)).isEmpty)
    assert(refusals(gateStamp(0, 1000, 49.9), gateStamp(0, 2000, 400.0)) == Set("write-throttle"))
    // Sentinels abstain (off-Linux counters, collided probes), and an
    // empty jiffies window neither divides by zero nor refuses.
    assert(refusals(gateStamp(-1, -1, -1.0, -1.0), gateStamp(-1, -1, -1.0, -1.0)).isEmpty)
    assert(refusals(gateStamp(0, 1000, -1.0), gateStamp(0, 1000, -1.0)).isEmpty)
  }

  test("promote gate: r20 draw-A cold read path refuses") {
    // Draw A (r20): steal 3.2%, sustained 57 MB/s, both clean, but the
    // window read cold at 48.5 -> 76.5 MB/s and promoted at 1.7x the
    // lineage.
    assert(refusals(gateStamp(0, 1000, 57.0, 48.5), gateStamp(32, 2000, 57.0, 76.5)) ==
      Set("cache-reclaim"))
    assert(refusals(gateStamp(0, 1000, cold = 100.0), gateStamp(0, 2000, cold = 100.0)).isEmpty)
    assert(refusals(gateStamp(0, 1000, cold = 99.9), gateStamp(0, 2000, cold = 100.0)).nonEmpty)
    assert(refusals(gateStamp(0, 1000, cold = -1.0), gateStamp(0, 2000, cold = -1.0)).isEmpty)
  }

  test("promote gate judges floors on the measured end") {
    // A sentinel at one end must not hide a low reading at the other.
    assert(refusals(gateStamp(0, 1000, cold = -1.0), gateStamp(0, 2000, cold = 48.5)) ==
      Set("cache-reclaim"))
    assert(refusals(gateStamp(0, 1000, sustained = 12.5), gateStamp(0, 2000, sustained = -1.0)) ==
      Set("write-throttle"))
    val Right(vs) = ClassifyWindow.classifyArtifact(
      artifact(gateStamp(0, 1000, cold = -1.0), gateStamp(0, 2000, cold = 480.0))): @unchecked
    assert(status(vs, "cache-reclaim") == "CLEAR")
    assert(vs.find(_.mechanism == "cache-reclaim").get.detail.startsWith("cold read n/a -> 480 "))
  }

  test("promote gate passes the committed envelopes") {
    // The sf1 envelope starts at 1-min load 8.13, left over from the
    // ladder's previous draw: shared-box implicates, but it is not gated.
    for (f <- Seq("BENCH_FULL_sf0.1.json", "BENCH_FULL_sf1.json")) {
      val Right(vs) = ClassifyWindow.classifyArtifact(
        java.nio.file.Files.readString(java.nio.file.Paths.get(f))): @unchecked
      assert(ClassifyWindow.promoteRefusals(vs).isEmpty, s"$f: $vs")
      if (f == "BENCH_FULL_sf1.json") assert(status(vs, "shared-box") == "IMPLICATED")
    }
  }

  test("stealFrac is the window fraction; None on sentinels") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def frac(a: String, b: String) = ClassifyWindow.stealFrac(m.readTree(a), m.readTree(b))
    assert(frac(gateStamp(0, 0), gateStamp(50, 1000)) == Some(0.05))
    assert(frac(gateStamp(-1, -1), gateStamp(-1, -1)).isEmpty)
    assert(frac(gateStamp(0, 1000), gateStamp(0, 1000)).isEmpty, "empty window")
  }

  test("an artifact without stamps reports the missing pair, not a crash") {
    assert(ClassifyWindow.classifyArtifact("""{"metric":"total","value":3}""").isLeft)
  }

  test("the committed r19 envelope classifies (live artifact round-trip)") {
    // The promoted BENCH_FULL_sf0.1.json predates the sustained-write
    // field; the classifier must read it end-to-end and abstain only
    // where the shape demands.
    val p = java.nio.file.Paths.get("BENCH_FULL_sf0.1.json")
    if (java.nio.file.Files.exists(p)) {
      val Right(vs) = ClassifyWindow.classifyArtifact(
        java.nio.file.Files.readString(p)): @unchecked
      assert(vs.nonEmpty && vs.exists(_.mechanism == "fault-latency"))
    }
  }
}
