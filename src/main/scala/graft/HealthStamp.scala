package graft

import scala.util.control.NonFatal

/** Host-health stamps shared by every measurement artifact the repo
  * writes (Bench envelopes, ladder rungs, RouteEval, the
  * BuildIndexes/IngestBatch/compact manifests).
  *
  * Why this exists (VERDICT r17 asks #1/#2): the round-17 session hit a
  * HOST-side memory-pressure episode — anonymous page-fault latency
  * oscillating 60–1300 µs/page against ~0.25 nominal — that uniformly
  * inflated whole benchmark draws while every guest-visible counter
  * (loadavg, free memory, user-space CPU speed) looked healthy. A
  * datapoint taken through such an episode is silently poisoned unless
  * the artifact itself carries the evidence. `Bench` grew the stamps in
  * r17; this object centralizes them so EVERY tool that writes a number
  * stamps it the same way, making an unadjudicatable artifact (like the
  * r17 `BENCH_sf1_r17.json`) structurally impossible.
  *
  * This object only measures. What a pair of stamps says about the
  * window, and which verdicts refuse a promote, is decided in one place:
  * [[graft.tools.ClassifyWindow]].
  */
object HealthStamp {

  /** `/proc/loadavg`'s three load fields as a JSON array ("[]"
    * off-Linux). A contended draw — another Spark JVM sharing the box,
    * the diagnosed ~1.2× uniform inflation of the r15 driver draw — is
    * mechanically flaggable from the artifact instead of requiring
    * forensics (VERDICT r15 ask #2).
    */
  def loadavg(): String =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.mkString.trim.split("\\s+").take(3).mkString("[", ",", "]")
      finally f.close()
    } catch { case NonFatal(_) => "[]" }

  /** The calling process plus up to 15 ancestors (the sbt/shell chain
    * that forked this JVM). Factored out so the spec can assert the
    * exclusion DIRECTLY (ADVICE r18: the prior test's `>= 0` on a count
    * was vacuously true).
    */
  private[graft] def ancestorPids(): Set[Long] =
    Iterator.iterate(Option(ProcessHandle.current())) {
      _.flatMap(p => Option(p.parent().orElse(null)))
    }.takeWhile(_.isDefined).take(16).map(_.get.pid()).toSet

  /** True when `p` is a Spark/sbt-looking JVM that is NOT in the given
    * ancestor set — the per-process predicate `otherSparkJvms` counts.
    */
  private[graft] def isForeignSparkJvm(p: ProcessHandle, ancestors: Set[Long]): Boolean =
    !ancestors.contains(p.pid()) &&
      p.info().command().map[Boolean](_.contains("java")).orElse(false) &&
      p.info().commandLine().map[Boolean](c =>
        c.contains("spark") || c.contains("sbt")).orElse(false)

  /** Count of OTHER live JVMs on the box that look like Spark/sbt work
    * (commandline mentions spark or sbt) — >0 at either stamp means the
    * draw shared the machine and its envelope is suspect. The run's own
    * ancestor chain (the sbt launcher that forked this JVM) is
    * excluded, so an sbt-launched idle draw reads 0, not a constant
    * false 1.
    */
  def otherSparkJvms(): Long = {
    val ancestors = ancestorPids()
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .count(isForeignSparkJvm(_, ancestors)).toLong
  }

  /** Defeats dead-store elimination of the probe's touch loop: the
    * checksum lands in a volatile the JIT cannot prove unread
    * (ADVICE r17 on the end-of-run stamp).
    */
  @volatile private var faultProbeSink: Long = 0L

  /** Anonymous-page fault-in latency in µs/page.
    *
    * The probe allocates a fresh 64 MiB DIRECT buffer — `allocateDirect`
    * is a malloc outside the JVM heap, which glibc serves for this size
    * with a brand-new `mmap` region, so its pages are guaranteed
    * fresh-from-kernel and MUST fault on first touch. The r17 probe
    * allocated inside the already-grown heap, where a warm JVM's pages
    * are typically pre-committed and the "end" stamp measured memset
    * speed rather than host fault-in (ADVICE r17). Note the JDK zeroes
    * a direct buffer at allocation, so the timed region is
    * alloc + zeroing sweep + touch loop; the zeroing IS the first touch
    * of every page, so the fault cost lands inside the timer, at the
    * price of a higher healthy baseline than the bare ~0.25 µs fault
    * floor: measured ~1.9–2.3 µs/page idle on this box (alloc + 64 MiB
    * zero + accessor loop). Still well under `ClassifyWindow`'s
    * contamination gate, and the r17 episode read 60–1300.
    */
  def faultUsPerPage(): Double = {
    val bytes = 64 * 1024 * 1024
    val pages = bytes / 4096
    val t0 = System.nanoTime()
    val bb = java.nio.ByteBuffer.allocateDirect(bytes)
    var i = 0
    var acc = 0L
    while (i < bytes) { acc += bb.get(i); bb.put(i, 1.toByte); i += 4096 }
    val us = (System.nanoTime() - t0) / 1e3
    faultProbeSink = acc
    math.rint(us / pages * 1000) / 1000
  }

  /** Guest page-cache occupancy in MB (`Buffers + Cached` from
    * `/proc/meminfo`; -1 off-Linux). Mechanism #2 of the r18 forensics:
    * the host reclaims the guest's page cache under its own pressure —
    * after the r18 sf10 draw only ~5 GB survived — and every first
    * touch afterwards re-hydrates from the backing store. A draw whose
    * start stamp shows a near-empty cache on a box that just read the
    * working set is running cold THROUGH NO FAULT OF THE ENGINE, and
    * the artifact now says so (VERDICT r18 ask #2).
    */
  def pageCacheMb(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/meminfo")
      try {
        val kv = f.getLines().flatMap { l =>
          l.split(":\\s+") match {
            case Array(k, v) => Some(k -> v.split("\\s+")(0).toLong)
            case _ => None
          }
        }.toMap
        (kv.getOrElse("Buffers", 0L) + kv.getOrElse("Cached", 0L)) / 1024
      } finally f.close()
    } catch { case NonFatal(_) => -1L }

  /** Runs `body` holding the probe directory's advisory lock, retrying
    * briefly; returns the failure sentinel instead when another process
    * holds it. Two concurrent stamps (a HealthProbe watcher running
    * DURING a draw — the documented ritual use) would otherwise corrupt
    * each other's disk probes: both truncate the shared write-probe file
    * and both bump the cold-read pool's mtimes mid-read (ADVICE r19). A
    * sentinel from a collided stamp is honest — the artifact reader sees
    * "this reading was unavailable", never a number measured against a
    * concurrently-thrashed file. `body` gets the probe directory; a
    * non-fatal failure inside it also yields the sentinel.
    */
  private def withProbeLock[A](sentinel: A)(body: java.nio.file.Path => A): A =
    try {
      val dir = java.nio.file.Paths.get("/tmp/graft_coldprobe")
      java.nio.file.Files.createDirectories(dir)
      val ch = java.nio.channels.FileChannel.open(dir.resolve("probe.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var lock: java.nio.channels.FileLock = null
        var tries = 0
        while (lock == null && tries < 20) {
          // Same-JVM overlap (parallel suites) surfaces as an exception,
          // not a null — treat both as "held elsewhere, retry".
          lock =
            try ch.tryLock()
            catch { case _: java.nio.channels.OverlappingFileLockException => null }
          if (lock == null) { Thread.sleep(100); tries += 1 }
        }
        if (lock == null) sentinel
        else try body(dir) finally lock.release()
      } finally ch.close()
    } catch { case NonFatal(_) => sentinel }

  /** Cold-file first-touch read rate in MB/s (VERDICT r18 ask #2's
    * second probe; -1 when the O_DIRECT path is unavailable). The r18
    * episode's big-scan tail hydrated evicted files at ~10 MB/s while
    * warm re-reads ran ~5 GB/s — a gap only a read that BYPASSES the
    * guest cache can see. The probe keeps a small pool of 10 MB files
    * under /tmp/graft_coldprobe (created once, fsync'd); each stamp
    * reads the LEAST-RECENTLY-read one through `O_DIRECT`
    * (`ExtendedOpenOption.DIRECT` — no guest page-cache hit possible),
    * times the full sweep, then touches the file's mtime so successive
    * stamps rotate through the pool. Files age between stamps, so by
    * the time one is re-read the host has had the same opportunity to
    * evict it as the real parquet working set. Healthy figure on this
    * box: several hundred MB/s+; the r18 episode would read ~10.
    */
  def coldReadMbps(): Double = withProbeLock(-1.0) { dir =>
    val poolSize = 6
    val fileBytes = 10 * 1024 * 1024
    val files = (0 until poolSize).map(i => dir.resolve(f"probe_$i%02d.bin"))
    files.foreach { p =>
      if (!java.nio.file.Files.exists(p) ||
          java.nio.file.Files.size(p) != fileBytes.toLong) {
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          // Non-constant content so no storage layer can dedup/compress
          // the probe into an unrepresentatively-fast read.
          val buf = java.nio.ByteBuffer.allocate(1 << 20)
          var written = 0L
          val rnd = new java.util.Random(0x5DEECE66DL + p.hashCode())
          while (written < fileBytes) {
            buf.clear(); rnd.nextBytes(buf.array()); buf.limit(buf.capacity())
            written += ch.write(buf)
          }
          ch.force(true)
        } finally ch.close()
      }
    }
    val target = files.minBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
    val align = 4096
    val raw = java.nio.ByteBuffer.allocateDirect((1 << 20) + align)
    val buf = raw.alignedSlice(align)
    val ch = java.nio.channels.FileChannel.open(target,
      java.nio.file.StandardOpenOption.READ,
      com.sun.nio.file.ExtendedOpenOption.DIRECT)
    val t0 = System.nanoTime()
    try {
      var total = 0L
      var n = 0
      while ({ buf.clear(); n = ch.read(buf); n > 0 }) total += n
      val sec = (System.nanoTime() - t0) / 1e9
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      math.rint(total / 1e6 / sec * 10) / 10
    } finally ch.close()
  }

  /** SUSTAINED durable-write floor in MB/s: the WORST per-chunk rate over
    * up to 8 fsync'd 32 MB chunks (-1 on failure). The THIRD
    * environmental mechanism (r19): the host's write path throttles at
    * times, which lands on shuffle-heavy joins — every wide Exchange
    * writes its map outputs to local disk — while scans read normally.
    * A single 32 MB burst cannot prove write health (VERDICT r19 asks
    * #1/#2): the throttle admits ~32 MB bursts at ~500 MB/s while 256 MB
    * of sustained writes drain at 5–16 MB/s — exactly the
    * shuffle-spill profile that inflated the r19 sf10 tail
    * 7.1×. Chunked writes with a per-chunk fsync exhaust the burst
    * window, and the MIN chunk rate is the figure a wide Exchange
    * actually experiences. Cost-bounded: the loop stops once ~12 s have
    * elapsed (a throttled box must not spend 50 s per stamp proving it
    * is throttled); the floor is already evident in whichever chunks —
    * or partial chunk, at minimum 4 MB of progress — completed by then.
    * Healthy on this box: several hundred MB/s; mechanism #3 reads
    * single digits.
    */
  def writeSustainedMbps(): Double = withProbeLock(-1.0) { dir =>
    val p = dir.resolve(s"writeprobe_${ProcessHandle.current().pid()}.bin")
    val chunkBytes = 32 * 1024 * 1024
    val maxChunks = 8
    val budgetNs = 12L * 1000 * 1000 * 1000
    val data = new Array[Byte](1 << 20)
    new java.util.Random(0x5057A1EDL).nextBytes(data)
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val start = System.nanoTime()
      var minRate = Double.MaxValue
      var chunk = 0
      while (chunk < maxChunks && System.nanoTime() - start < budgetNs) {
        val t0 = System.nanoTime()
        var written = 0L
        var aborted = false
        // fsync every 4 MB inside the chunk so a mid-chunk budget stop
        // still has durable progress to rate (the partial-chunk case).
        while (!aborted && written < chunkBytes) {
          var sub = 0
          while (sub < 4 && written < chunkBytes) {
            val b = java.nio.ByteBuffer.wrap(data)
            while (b.hasRemaining) ch.write(b)
            written += data.length
            sub += 1
          }
          ch.force(true)
          if (written < chunkBytes && System.nanoTime() - start >= budgetNs) {
            // Budget exhausted mid-chunk: rate the durable partial
            // (≥ 4 MB by construction — one sub-block always lands
            // before the first budget check).
            val sec = (System.nanoTime() - t0) / 1e9
            minRate = math.min(minRate, written / 1e6 / sec)
            aborted = true
          }
        }
        if (!aborted) {
          val sec = (System.nanoTime() - t0) / 1e9
          minRate = math.min(minRate, chunkBytes / 1e6 / sec)
        }
        ch.truncate(0); ch.position(0) // re-dirty the same extent each chunk
        chunk += 1
      }
      if (minRate == Double.MaxValue) -1.0
      else math.rint(minRate * 10) / 10
    } finally {
      ch.close()
      java.nio.file.Files.deleteIfExists(p)
    }
  }

  /** Raw cumulative (steal, total) jiffies from `/proc/stat`'s
    * aggregate cpu line ((-1,-1) off-Linux). The FOURTH environmental
    * dimension, exposed by the r19 draw C anomaly: a 496 s sf0.1 draw
    * whose loadavg read ~1.7 THROUGHOUT — the guest's runnable queue
    * was short because its vCPUs were not being scheduled by the host,
    * which no point-in-time guest probe can see. Steal is a COUNTER,
    * so the stamp emits the raw cumulative values and a reader diffs
    * the start/end stamps: steal fraction over the measured window =
    * Δsteal / Δtotal (`ClassifyWindow.stealFrac`). Healthy: ~0; past
    * `ClassifyWindow`'s steal gate the draw was CPU-starved by the host
    * regardless of what its other stamps say.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val fields = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // cpu line: user nice system idle iowait irq softirq steal guest gnice.
        // Total sums only the first 8 fields (user..steal): the kernel
        // already folds guest/guest_nice into user/nice, so including
        // fields 9-10 double-counts guest time and UNDERSTATES the
        // Δsteal/Δtotal fraction the readers compute (ADVICE r19).
        val steal = if (fields.length > 7) fields(7) else 0L
        (steal, fields.take(8).sum)
      } finally f.close()
    } catch { case NonFatal(_) => (-1L, -1L) }

  /** One-shot stamp as a JSON-object STRING — embed as the value of a
    * `"health_start"` / `"health_end"` key in any manifest line.
    */
  def json(): String = {
    val (steal, total) = cpuJiffies()
    s"""{"load":${loadavg()},"other_spark_jvms":${otherSparkJvms()},""" +
      s""""fault_us_per_page":${faultUsPerPage()},""" +
      s""""page_cache_mb":${pageCacheMb()},"cold_read_mbps":${coldReadMbps()},""" +
      s""""write_sustained_mbps":${writeSustainedMbps()},""" +
      s""""cpu_steal_jiffies":$steal,"cpu_total_jiffies":$total}"""
  }

}
