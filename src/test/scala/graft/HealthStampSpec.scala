package graft

import org.scalatest.funsuite.AnyFunSuite

/** The health stamps are embedded verbatim inside every measurement
  * manifest (Bench envelopes, RouteEval, BuildIndexes/IngestBatch/
  * compact) and parsed downstream by json.load — a malformed fragment
  * would silently break every artifact reader, so the shape is pinned
  * here rather than discovered at adjudication time.
  */
class HealthStampSpec extends AnyFunSuite {

  test("json() is a parseable object with the eight stamp fields") {
    val s = HealthStamp.json()
    // Parse with the same strictness a python json.load applies, via
    // Spark's bundled Jackson (no extra dependency).
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s)
    assert(m.isObject)
    assert(m.has("load") && m.get("load").isArray)
    assert(m.get("load").size() == 3 || m.get("load").size() == 0) // [] off-Linux
    assert(m.has("other_spark_jvms") && m.get("other_spark_jvms").canConvertToLong)
    assert(m.has("fault_us_per_page") && m.get("fault_us_per_page").isNumber)
    // The r19 page-cache visibility pair (VERDICT r18 ask #2): guest
    // cache occupancy and the O_DIRECT first-touch read rate.
    assert(m.has("page_cache_mb") && m.get("page_cache_mb").canConvertToLong)
    assert(m.has("cold_read_mbps") && m.get("cold_read_mbps").isNumber)
    // The r20 sustained-write floor (VERDICT r19 ask #2): min-chunk rate
    // over fsync'd 32 MB chunks — the figure a wide Exchange pays. The
    // 32 MB burst probe it replaced is gone from the stamp.
    assert(m.has("write_sustained_mbps") && m.get("write_sustained_mbps").isNumber)
    assert(!m.has("write_mbps"))
    // The r19 fourth-dimension counters: cumulative steal/total jiffies
    // (readers diff two stamps for the window's steal fraction).
    assert(m.has("cpu_steal_jiffies") && m.get("cpu_steal_jiffies").canConvertToLong)
    assert(m.has("cpu_total_jiffies") && m.get("cpu_total_jiffies").canConvertToLong)
    assert(m.size() == 8)
  }

  test("sustained write probe returns a positive min-chunk rate (or the -1 sentinel)") {
    val v = HealthStamp.writeSustainedMbps()
    assert(v == -1.0 || (v > 0.0 && v < 1e6))
  }

  test("cpu jiffies counters are monotone non-negative on Linux") {
    val (s1, t1) = HealthStamp.cpuJiffies()
    if (t1 != -1L) {
      assert(s1 >= 0L && t1 > 0L && s1 <= t1)
      val (s2, t2) = HealthStamp.cpuJiffies()
      assert(s2 >= s1 && t2 >= t1, "cumulative counters must not go backwards")
    }
  }

  test("fault probe returns a positive finite latency") {
    val v = HealthStamp.faultUsPerPage()
    assert(v > 0.0 && v < 1e6 && !v.isNaN)
  }

  test("page-cache probe reads a plausible occupancy on Linux") {
    val v = HealthStamp.pageCacheMb()
    // -1 is the documented off-Linux sentinel; on Linux the value is a
    // non-negative MB count bounded by physical memory.
    assert(v == -1L || (v >= 0L && v < 64L * 1024 * 1024))
  }

  test("cold-read probe returns a positive rate (or the -1 sentinel)") {
    val v = HealthStamp.coldReadMbps()
    // O_DIRECT can be unsupported on some filesystems (tmpfs, overlay);
    // the sentinel keeps the stamp parseable rather than crashing the
    // tool that embeds it.
    assert(v == -1.0 || (v > 0.0 && v < 1e6))
  }

  test("the run's own ancestor chain is excluded from the foreign-JVM count") {
    // ADVICE r18: the prior spelling asserted `otherSparkJvms() >= 0`,
    // which is vacuously true of any count. Assert the exclusion
    // DIRECTLY: every process in the current ancestor chain — which
    // includes the sbt-launched test JVM itself, whose commandline
    // matches the spark/sbt name predicate — must be rejected by the
    // foreign-JVM predicate when the ancestor set is supplied, and
    // would be COUNTED by the same predicate against an empty set
    // (proving the name predicate alone does match this chain and the
    // exclusion is what suppresses the constant false 1).
    val ancestors = HealthStamp.ancestorPids()
    assert(ancestors.contains(ProcessHandle.current().pid()))
    val chain = Iterator.iterate(Option(ProcessHandle.current())) {
      _.flatMap(p => Option(p.parent().orElse(null)))
    }.takeWhile(_.isDefined).take(16).map(_.get).toList
    chain.foreach { p =>
      assert(!HealthStamp.isForeignSparkJvm(p, ancestors),
        s"ancestor pid ${p.pid()} must not count as foreign")
    }
    // The current JVM (sbt-forked, 'java … sbt/spark…' commandline)
    // matches the name predicate — the exclusion, not the predicate,
    // is what keeps it out of the count.
    val self = ProcessHandle.current()
    if (HealthStamp.isForeignSparkJvm(self, Set.empty))
      assert(!HealthStamp.isForeignSparkJvm(self, ancestors))
  }
}
