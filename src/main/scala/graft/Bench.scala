package graft
import scala.util.control.NonFatal

/** Per-round benchmark main (driver contract): runs every registered query
  * on `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with the total and
  * per-query seconds.
  *
  * Measurement notes (VERDICT r1 "what's wrong" #7):
  *   - a query that throws is recorded in `errors` with a sentinel -1
  *     timing, never as its (fast) time-to-fail — a small total must mean
  *     healthy, not broken;
  *   - results are drained through the built-in `noop` sink, which
  *     evaluates every output column (a bare `count()` lets Catalyst prune
  *     the projections being measured).
  */
object Bench {
  // Host-health stamps (loadavg / foreign-JVM / page-fault latency /
  // page-cache occupancy / O_DIRECT cold-read rate) live in the shared
  // [[HealthStamp]] so the ladder rungs, RouteEval and the
  // index-lifecycle manifests stamp identically (VERDICT r17 ask #2);
  // since r19 Bench embeds the same NESTED health_start/health_end
  // objects as every other tool (ADVICE r18 — the flat r17 key layout
  // was the one remaining artifact-shape exception).
  def main(args: Array[String]): Unit = {
    val healthStart = HealthStamp.json()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus(4))
    // Untimed warmup: JVM/codegen/parquet-footer costs land here, not in
    // whichever query happens to run first (steady-state measurement).
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // Dev-only subset filter (comma-separated ids); the driver never sets
    // it, so protocol runs always measure the full registry. Ids are
    // trimmed, and a blank/empty variable means NO filter — a bench that
    // silently measured zero queries would print a bogus healthy total.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // A subset's first query would otherwise pay its family's JIT and
    // codegen warm-up inside its timed region (i37 read 6.0-9.6 s first
    // in a subset against a 2.18 s envelope), so a subset also runs that
    // query once untimed. A full-registry run keeps the entry warm-up
    // only.
    if (only.isDefined) selected.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
      Harness.isolate(spark)
    }
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Query isolation (see [[Harness.isolate]]); dt is already
      // captured, so the cleanup costs nothing in measured time.
      Harness.isolate(spark)
      if (!ok) { errors += name; name -> -1.0 } else name -> dt
    }
    // Stdout line: per-query seconds rounded to ms so the one-line JSON
    // stays within the harness's stdout-tail capture even at 133+ queries
    // (VERDICT r12 #8: the r12 line was tail-truncated and parsed null —
    // full-precision doubles cost ~40 bytes/entry, rounded ~26). The
    // file artifact below keeps full precision.
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qsShort = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val healthEnd = HealthStamp.json()
    // The window verdict is a pure function of the two stamps. Each reads
    // its jiffies before its disk probes, so the start stamp's probes sit
    // inside the window like everything else the draw pays for.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (stampStart, stampEnd) = (mapper.readTree(healthStart), mapper.readTree(healthEnd))
    val verdicts = tools.ClassifyWindow.classify(stampStart, stampEnd)
    val stealFrac = tools.ClassifyWindow.stealFrac(stampStart, stampEnd)
      .fold(-1.0)(f => math.rint(f * 10000) / 10000)
    val loadJson =
      s""""health_start":$healthStart,"health_end":$healthEnd,""" +
        s""""window_verdict":${mapper.writeValueAsString(tools.ClassifyWindow.windowVerdict(verdicts))},""" +
        s""""steal_frac":$stealFrac"""
    // PROMOTE gate (VERDICT r19 ask #1): a promote request is refused
    // when the window implicates a gated mechanism
    // ([[tools.ClassifyWindow.PromoteGate]]), unless --force records the
    // verdicts and promotes anyway.
    val promoteRequested = args.contains("--promote") ||
      sys.env.get("SPARK_GRAFT_PROMOTE").contains("1")
    val force = args.contains("--force")
    val violations =
      if (promoteRequested) tools.ClassifyWindow.promoteRefusals(verdicts).map(_.line) else Seq.empty
    val promote = promoteRequested && (violations.isEmpty || force)
    val gateJson =
      if (promoteRequested)
        s""","promote_gate":{"violations":${violations.map(mapper.writeValueAsString).mkString("[", ",", "]")},""" +
          s""""forced":${force && violations.nonEmpty},"promoted":$promote}"""
      else ""
    if (promoteRequested && violations.nonEmpty) {
      val verdict = if (force) "FORCED past the promote gate" else "promote REFUSED"
      System.err.println(s"[bench] $verdict: ${violations.mkString("; ")}" +
        (if (force) " (readings recorded in the artifact)"
         else " — re-run in a healthy window, or add --force to record the readings and promote anyway"))
    }
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsShort,"errors":$errJson,"sf":"$sfDir"}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir",$loadJson$gateJson}"""
    // Self-contained artifact: the FULL-precision line is also written to
    // a file. The default name carries the sf directory's basename so
    // back-to-back runs at different SFs (sf0.1 then sf1) land in
    // distinct files instead of overwriting each other;
    // $SPARK_GRAFT_OUT still overrides.
    //
    // PROMOTE gating (VERDICT r18 ask #4): the committed-envelope file
    // `BENCH_FULL_<sf>.json` is written ONLY when the caller opts in
    // with `--promote` or SPARK_GRAFT_PROMOTE=1 — every other run
    // (including the driver's unprompted per-round invocation) lands in
    // a timestamped `BENCH_full_draw_<sf>_<ts>.json`, so a driver run
    // can never overwrite the round's adjudicated envelope and the
    // round-close ritual no longer needs a manual `git checkout`.
    val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    // `promote` above is the GATED verdict: a refused promote falls
    // through to the timestamped draw filename, so a contaminated window
    // can never overwrite the committed envelope mechanically.
    val defaultOut =
      if (promote) s"BENCH_FULL_$sfTag.json"
      else {
        val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
        s"BENCH_full_draw_${sfTag}_$ts.json"
      }
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullLine + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    println(line)
    // The driver's per-round artifact keeps only the LAST ~2000 chars of
    // stdout and json-parses what it finds there; at 200+ queries the
    // contract line above is ~5 KB, so its head truncates out of the
    // window and the round records `parsed: null` (VERDICT r12 #8 /
    // r13 #3). No complete per-query map can fit that window at this
    // registry size, so the LAST line is a compact trailer that always
    // parses — total, errors, the 10 slowest queries, and a pointer to
    // the committed full-precision artifact written above.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"errors":$errJson,"queries_file":"$outFile",$loadJson,"slowest10":$slowest}""")
    spark.stop()
  }
}
