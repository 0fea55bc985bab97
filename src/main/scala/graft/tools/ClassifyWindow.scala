package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Dev tool: the four-mode environmental-window classifier (VERDICT r19
  * ask #6).
  *
  * BASELINE.md names four host-side mechanisms, each with the stamp
  * field(s) that expose it — anonymous-fault latency (r17), page-cache
  * reclaim / cold-read hydration (r18), sustained-write throttling
  * (r19 mechanism #3), and CPU steal (r19 draw C). This tool is that
  * decision table AS CODE: point it at any stamped artifact (a Bench
  * envelope, a ladder rung, a RouteEval/BuildIndexes manifest line) and
  * it prints which modes the start/end stamps implicate, so a per-query
  * anomaly triages in one command instead of a re-read of the
  * mechanism sections.
  *
  *   sbt "runMain graft.tools.ClassifyWindow BENCH_FULL_sf0.1.json"
  *
  * Verdict vocabulary (per mechanism):
  *   - CLEAR        — the reading rules the mode out for this window
  *   - IMPLICATED   — the reading is past the mode's documented gate
  *   - ELEVATED     — past the healthy-window re-anchor bar but under
  *                    the contamination gate (fault latency only)
  *   - INCONCLUSIVE — the artifact predates the field (or the probe
  *                    returned its -1 sentinel), so the mode cannot be
  *                    classified from this artifact in that direction
  */
object ClassifyWindow {

  final case class Verdict(mechanism: String, status: String, detail: String) {
    def line: String = f"$mechanism%-16s $status%-12s $detail"
  }

  private def num(n: JsonNode, field: String): Option[Double] =
    Option(n.get(field)).filter(_.isNumber).map(_.asDouble)
      .filter(_ != -1.0) // -1 is every probe's "unavailable" sentinel

  private def lng(n: JsonNode, field: String): Option[Long] =
    Option(n.get(field)).filter(_.canConvertToLong).map(_.asLong)
      .filter(_ != -1L)

  /** The lower of whichever ends were measured, so a -1 sentinel at one
    * end cannot hide a low reading at the other. None when neither end
    * was measured.
    */
  private def worstMeasured(ends: (Option[Double], Option[Double])): Option[Double] =
    (ends._1 ++ ends._2).minOption

  private def pair(ends: (Option[Double], Option[Double])): String =
    Seq(ends._1, ends._2).map(_.fold("n/a")(v => f"$v%.0f")).mkString(" -> ")

  /** The window's CPU steal fraction, Δsteal/Δtotal between the two
    * stamps' cumulative jiffies. None when a counter is missing (pre-r19-
    * close artifact) or a sentinel, or the window is empty.
    */
  def stealFrac(start: JsonNode, end: JsonNode): Option[Double] =
    (lng(start, "cpu_steal_jiffies"), lng(start, "cpu_total_jiffies"),
      lng(end, "cpu_steal_jiffies"), lng(end, "cpu_total_jiffies")) match {
      case (Some(s1), Some(t1), Some(s2), Some(t2)) if t2 > t1 && s2 >= s1 =>
        Some((s2 - s1).toDouble / (t2 - t1))
      case _ => None
    }

  /** The decision table over a (start, end) stamp pair. Thresholds are
    * the documented gates: fault ≥ 5 µs/page contaminated / ≥ 1 above
    * the healthy re-anchor bar; cold read < 100 MB/s = hydration-bound;
    * sustained write < 50 MB/s = mechanism #3 (burst `write_mbps` is an
    * upper bound — it can only implicate, never clear, BASELINE.md
    * "Mechanism #3 characterized"); Δsteal/Δtotal ≥ 5% = host-starved;
    * any foreign Spark JVM or loadavg > 3 = shared/contended box.
    */
  def classify(start: JsonNode, end: JsonNode): Seq[Verdict] = {
    val out = Seq.newBuilder[Verdict]
    def both(field: String) = (num(start, field), num(end, field))

    // #1 — anonymous-page fault latency (r17 episode; gate < 5, healthy < 1)
    both("fault_us_per_page") match {
      case (Some(a), Some(b)) =>
        val worst = math.max(a, b)
        val st =
          if (worst >= 5) "IMPLICATED"
          else if (worst >= 1) "ELEVATED"
          else "CLEAR"
        out += Verdict("fault-latency", st, f"$a%.2f -> $b%.2f us/page (gate >= 5; healthy < 1)")
      case _ =>
        out += Verdict("fault-latency", "INCONCLUSIVE", "fault_us_per_page missing from a stamp")
    }

    // #2 — page-cache reclaim / cold-read hydration (r18; healthy >= 100 MB/s)
    val cold = both("cold_read_mbps")
    worstMeasured(cold) match {
      case Some(worst) =>
        val cache = (lng(start, "page_cache_mb"), lng(end, "page_cache_mb")) match {
          case (Some(c1), Some(c2)) => f"; cache $c1%d -> $c2%d MB"
          case _ => ""
        }
        out += Verdict("cache-reclaim",
          if (worst < 100) "IMPLICATED" else "CLEAR",
          s"cold read ${pair(cold)} MB/s (gate < 100)$cache")
      case None =>
        out += Verdict("cache-reclaim", "INCONCLUSIVE", "cold_read_mbps missing from both stamps")
    }

    // #3 — sustained-write throttling (r19; gate < 50 MB/s min-chunk).
    // Pre-r20 artifacts carry only the 32 MB burst figure, which rides
    // the throttle's burst window: a LOW burst still implicates, but a
    // healthy-looking burst proves nothing.
    val sustained = both("write_sustained_mbps")
    worstMeasured(sustained) match {
      case Some(worst) =>
        out += Verdict("write-throttle",
          if (worst < 50) "IMPLICATED" else "CLEAR",
          s"sustained min-chunk ${pair(sustained)} MB/s (gate < 50)")
      case None =>
        both("write_mbps") match {
          case (Some(a), Some(b)) if math.min(a, b) < 50 =>
            out += Verdict("write-throttle", "IMPLICATED",
              f"burst $a%.0f -> $b%.0f MB/s — under the gate even as an upper bound")
          case (Some(a), Some(b)) =>
            out += Verdict("write-throttle", "INCONCLUSIVE",
              f"burst $a%.0f -> $b%.0f MB/s is only an upper bound (pre-r20 artifact: no sustained probe)")
          case _ =>
            out += Verdict("write-throttle", "INCONCLUSIVE", "no write probe in the stamps")
        }
    }

    // #4 — CPU steal (r19 draw C; gate: window Δsteal/Δtotal >= 5%)
    stealFrac(start, end) match {
      case Some(frac) =>
        out += Verdict("cpu-steal",
          if (frac >= 0.05) "IMPLICATED" else "CLEAR",
          f"${frac * 100}%.1f%% of window jiffies stolen (gate >= 5%%)")
      case None =>
        out += Verdict("cpu-steal", "INCONCLUSIVE",
          "steal counters missing (pre-r19-close artifact) or window empty")
    }

    // Box-sharing flags (the r15 contention mode — older than the four
    // mechanisms but still the first thing to rule out). The load gate
    // reads the START stamp ONLY: the end stamp's loadavg is dominated
    // by the draw's own 32-thread work (a first classifier pass over the
    // r19 ladder flagged every long draw's own load as "shared-box" —
    // the sf10 rung's end stamp reads 25), while foreign JVMs at either
    // end genuinely shared the window.
    val jvms = (lng(start, "other_spark_jvms"), lng(end, "other_spark_jvms")) match {
      case (Some(a), Some(b)) => math.max(a, b)
      case _ => -1L
    }
    // ... and of the start triple, only the 1-MINUTE average: in a
    // back-to-back ladder ritual the 5/15-minute figures still carry
    // the builder's own previous draw (the r19 close starts at
    // [1.08, 1.72, 4.45]), so they flag the ritual itself.
    val load =
      Option(start.get("load")).filter(a => a.isArray && a.size() > 0)
        .map(_.get(0).asDouble).getOrElse(-1.0)
    out += Verdict("shared-box",
      if (jvms > 0 || load > 3) "IMPLICATED"
      else if (jvms == 0 && load >= 0) "CLEAR"
      else "INCONCLUSIVE",
      s"foreign spark JVMs $jvms; start 1-min load $load (gate: any foreign JVM or pre-draw 1-min load > 3)")

    out.result()
  }

  /** The mechanisms that refuse a `Bench --promote` (unless `--force`):
    * window CPU steal (r19 draw C: 496 s behind healthy-looking point
    * stamps), the sustained-write floor (r19 mechanism #3, paid by every
    * wide Exchange) and the cold read path (r20 draw A: promoted at 1.7x
    * the lineage with steal and writes clean). shared-box stays advisory:
    * its start-stamp 1-min load still carries a ladder's previous draw
    * (the gate-clean sf1 envelope starts at 8.13). So does fault latency,
    * ELEVATED in every promoted envelope since r19 and never gated.
    */
  val PromoteGate: Set[String] = Set("cpu-steal", "write-throttle", "cache-reclaim")

  /** The verdicts that refuse a promote: IMPLICATED on a gated mechanism. */
  def promoteRefusals(vs: Seq[Verdict]): Seq[Verdict] =
    vs.filter(v => v.status == "IMPLICATED" && PromoteGate(v.mechanism))

  /** One-line summary over every mechanism, gated or not. */
  def windowVerdict(vs: Seq[Verdict]): String = {
    val bad = vs.filter(_.status == "IMPLICATED").map(_.mechanism)
    if (bad.isEmpty) "no mechanism implicated" else s"CONTAMINATED by ${bad.mkString(", ")}"
  }

  /** Pulls the health_start/health_end pair out of an artifact object
    * (every tool writes the nested r19+ shape). */
  def classifyArtifact(artifactJson: String): Either[String, Seq[Verdict]] = {
    val root = new ObjectMapper().readTree(artifactJson)
    (Option(root.get("health_start")), Option(root.get("health_end"))) match {
      case (Some(s), Some(e)) if s.isObject && e.isObject => Right(classify(s, e))
      case _ => Left("artifact has no health_start/health_end stamp pair")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: ClassifyWindow <stamped-artifact.json> [...]")
      sys.exit(2)
    }
    args.foreach { path =>
      println(s"== $path ==")
      classifyArtifact(java.nio.file.Files.readString(java.nio.file.Paths.get(path))) match {
        case Left(err) => println(s"  $err")
        case Right(vs) =>
          vs.foreach(v => println("  " + v.line))
          println(s"  window: ${windowVerdict(vs)}")
      }
    }
  }
}
