package graft

import java.io.{ByteArrayOutputStream, IOException, OutputStream, PrintStream}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Millis, Seconds, Span}

import graft.functions.Template
import graft.operators.EnvelopeOps
import graft.sources.ShardedEvents
import graft.streaming.LocalCheckpointFileManager

/** The `graft.Tail` CLI end-to-end (VERDICT r12 #3): the reference's flag
  * surface and exit-code contract (`main.go:62-135`) driving the
  * sharded-events source through template render to stdout.
  */
class TailSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private lazy val streamRoot: String = {
    val r = Files.createTempDirectory("tail-shards").toString
    ShardedEvents.dump(Tables.load(spark, dir, "events"), r, 4)
    r
  }

  /** Run Tail.run with captured stdio; returns (exit, stdout, stderr). */
  private def tail(nowUs: Long, args: String*): (Int, String, String) =
    tailOn(spark, nowUs, args: _*)

  private def tailOn(session: SparkSession, nowUs: Long, args: String*): (Int, String, String) = {
    val o = new ByteArrayOutputStream(); val e = new ByteArrayOutputStream()
    val out = new PrintStream(o, true, "UTF-8")
    val err = new PrintStream(e, true, "UTF-8")
    val code = Tail.run(args.toArray, () => session, out, err, nowUs)
    (code, o.toString("UTF-8"), e.toString("UTF-8"))
  }

  private def nowAfterAllData: Long =
    Tables.load(spark, dir, "events")
      .select(max(unix_micros(col("ts")))).head().getLong(0) + 1L

  test("-h prints usage to stdout and exits 0") {
    val (code, out, _) = tail(0L, "-h")
    assert(code == 0 && out.contains("graft-tail [options] <stream-dir>"))
    assert(out.contains("{{.ShortHostId}}") && out.contains("--one-shot"))
  }

  test("invalid start duration exits 2 with usage on stderr (main.go:81-87)") {
    for (bad <- Seq("xyz", "5q", "-5m")) {
      val (code, _, err) = tail(0L, "-s", bad, "-O", streamRoot)
      assert(code == 2, s"start=$bad must exit 2")
      assert(err.contains(s"Invalid start time: $bad") && err.contains("graft-tail"))
    }
  }

  test("invalid or non-positive watch time exits 2 (main.go:93-102)") {
    for (bad <- Seq("junk", "0")) {
      val (code, _, err) = tail(0L, "-w", bad, streamRoot)
      assert(code == 2, s"watch=$bad must exit 2")
      assert(err.contains(s"Invalid watch/poll time: $bad"))
    }
    // ...but a non-positive watch is IGNORED under one-shot, like the
    // reference (pollTime is only parsed when not one-shot, main.go:93).
    val (code, _, _) = tail(nowAfterAllData, "-w", "0", "-O", "-s", "20000d", streamRoot)
    assert(code == 0)
  }

  test("template parse failure exits 2 (main.go:108-114)") {
    val (code, _, err) = tail(0L, "-f", "{{.NoSuchField}}", "-O", streamRoot)
    assert(code == 2)
    assert(err.contains("Invalid format") && err.contains("NoSuchField"))
  }

  test("missing stream exits 2; extra positional exits 2 (main.go:117-129)") {
    val (c1, _, e1) = tail(0L, "-O")
    assert(c1 == 2 && e1.contains("must be specified"))
    val (c2, _, e2) = tail(0L, "-O", streamRoot, "surplus")
    assert(c2 == 2 && e2.contains("Unknown argument: surplus"))
  }

  test("unreadable stream exits 1 (the ListShards failure, main.go:153-156)") {
    val (code, _, err) = tail(0L, "-O", "/nonexistent/stream/dir")
    assert(code == 1 && err.contains("Failed to list shards"))
  }

  test("one-shot drain renders every record through the default template") {
    val (code, out, _) = tail(nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(code == 0)
    val got = out.split("\n").filter(_.nonEmpty).toSeq
    val want = EnvelopeOps.envelope(Tables.load(spark, dir, "events"))
      .select(Template.compile(Template.DefaultTemplate, EnvelopeOps.templateScope).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(got.size == want.size, s"expected ${want.size} lines, got ${got.size}")
    assert(got.sorted == want.sorted)
    // Spot-check the template shape: short host id, timestamp, payload.
    assert(got.head.matches(".+ \\d{4}-\\d{2}-\\d{2} .+"))
  }

  test("a one-shot run leaves no checkpoint directory in the temp dir") {
    def ckpts(): Set[String] = tempEntries("graft-tail-ckpt")
    val before = ckpts()
    val (code, out, _) = tail(nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(code == 0 && out.nonEmpty)
    assert((ckpts() -- before).isEmpty, s"left behind: ${ckpts() -- before}")
  }

  test("a failed stream query exits 1 with the cause on stderr, checkpoint removed") {
    // One good record, then a line whose event_id is not a number: the
    // slice reader's parse fails inside the micro-batch.
    val root = Files.createTempDirectory("tail-malformed")
    val shard = Files.createDirectories(root.resolve("shard_id=shard-000"))
    Files.write(shard.resolve("part-00000.txt"), Seq(
      "0\t1\t1000\t7\tclick\t1.0\t\\N",
      "1\tnot-a-number\t2000\t7\tclick\t1.0\t\\N").asJava)
    val before = tempEntries("graft-tail-ckpt")
    val (code, _, err) = tail(0L, "-O", "-s", "0", root.toString)
    assert(code == 1, s"stderr: $err")
    assert(err.contains(s"Failed to read stream $root:") && err.contains("not-a-number"), err)
    assert((tempEntries("graft-tail-ckpt") -- before).isEmpty)
  }

  test("a failing stdout makes -O exit 1 after its batch, and no later batch drains") {
    // 25,000 records in one shard: three pulls of at most 10,000 each.
    val root = Files.createTempDirectory("tail-closed-stdout")
    val shard = Files.createDirectories(root.resolve("shard_id=shard-000"))
    Files.write(shard.resolve("part-00000.txt"), (0 until 25000).map { i =>
      s"$i\t$i\t${1000L * (i + 1)}\t7\tclick\t1.0\t\\N"
    }.asJava)
    // Takes its first write, then throws on every later one, as a closed
    // pipe does; counts the lines offered to it.
    val offered = new AtomicLong()
    val closed = new OutputStream {
      private var writes = 0
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        offered.addAndGet((off until off + len).count(b(_) == '\n').toLong)
        writes += 1
        if (writes > 1) throw new IOException("Broken pipe")
      }
    }
    val e = new ByteArrayOutputStream()
    val code = Tail.run(Array("-O", "-s", "0", root.toString), () => spark,
      new PrintStream(closed, true, "UTF-8"), new PrintStream(e, true, "UTF-8"), 0L)
    val err = e.toString("UTF-8")
    assert(code == 1, err)
    assert(err.contains("Failed to write records") && !err.contains("Failed to read"), err)
    assert(offered.get <= 10000L,
      s"${offered.get} lines offered: a batch after the failing one was drained")
  }

  test("Tail selects the fork-free checkpoint manager unless the session names one") {
    val key = LocalCheckpointFileManager.ClassKey
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(key).isEmpty)
    val (c1, out1, _) = tailOn(fresh, nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(c1 == 0 && out1.nonEmpty)
    assert(fresh.conf.getOption(key).contains(classOf[LocalCheckpointFileManager].getName))

    val named = spark.newSession()
    val fsManager = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    named.conf.set(key, fsManager)
    val (c2, out2, _) = tailOn(named, nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(c2 == 0 && out2.split("\n").length == out1.split("\n").length)
    assert(named.conf.get(key) == fsManager)
  }

  /** Janino compilations in this JVM so far. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second one-shot run on one session prints the same lines and compiles no class") {
    val s = spark.newSession()
    s.conf.unset(Harness.NoArtifactIsolation._1) // a caller's session that does not set it
    val (c1, out1, _) = tailOn(s, nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    val before = compiles()
    val (c2, out2, _) = tailOn(s, nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(c1 == 0 && c2 == 0 && out1.nonEmpty)
    assert(out2 == out1)
    assert(compiles() - before == 0, "the second run compiled its stages again")
  }

  test("Tail turns artifact isolation off unless the session sets the key") {
    val (key, off) = Harness.NoArtifactIsolation
    val fresh = spark.newSession()
    fresh.conf.unset(key)
    assert(!fresh.conf.getAll.contains(key) && fresh.conf.get(key) == "true") // Spark's default
    val (c1, out1, _) = tailOn(fresh, nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(c1 == 0 && out1.nonEmpty)
    assert(fresh.conf.get(key) == off)

    val named = spark.newSession()
    named.conf.set(key, "true")
    val (c2, out2, _) = tailOn(named, nowAfterAllData, "-O", "-s", "20000d", streamRoot)
    assert(c2 == 0 && out2 == out1)
    assert(named.conf.get(key) == "true")
  }

  test("one-shot honors -start as the AT_TIMESTAMP offset") {
    val medianUs = Tables.load(spark, dir, "events")
      .select(expr("percentile_approx(unix_micros(ts), 0.5, 100)"))
      .head().getLong(0)
    // now == median and -s 0: only records at/after the median flow.
    val (code, out, _) = tail(medianUs, "-O", "-s", "0", streamRoot)
    assert(code == 0)
    val n = out.split("\n").count(_.nonEmpty)
    val want = Tables.eventsSince(spark, dir, medianUs).count()
    assert(n.toLong == want, s"expected $want rows since median, got $n")
  }

  test("custom template with strftime and JSON field access renders") {
    val (code, out, _) = tail(nowAfterAllData, "-O", "-s", "20000d",
      "-f", "{{strftime \"%Y\" .Timestamp}}|{{.SequenceNumber}}|{{.Log.k}}",
      streamRoot)
    assert(code == 0)
    val lines = out.split("\n").filter(_.nonEmpty)
    assert(lines.nonEmpty && lines.forall(_.matches("\\d{4}\\|\\d+\\|.*")))
  }

  test("many shards x full batches: per-shard output order is preserved by the iterator drain") {
    // sf0.01 events over 8 shards, drained one-shot with the hardwired
    // 10000-records-per-shard-per-pull cap (main.go:218): every shard's
    // lines must appear in strictly increasing sequence order in stdout —
    // the property the ordered drain (a bounded window of pieces on the
    // driver, VERDICT r13 #4) must keep identical to a full collect.
    val bigDir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("tail-shards-big").toString
    ShardedEvents.dump(Tables.load(spark, bigDir, "events"), root, 8)
    val nowUs = Tables.load(spark, bigDir, "events")
      .select(max(unix_micros(col("ts")))).head().getLong(0) + 1L
    val (code, out, _) = tail(nowUs, "-O", "-s", "20000d",
      "-f", "{{.ShardId}}|{{.SequenceNumber}}", root)
    assert(code == 0)
    val lines = out.split("\n").filter(_.nonEmpty).toSeq
    assert(lines.size == 10000, s"expected 10000 lines, got ${lines.size}")
    val byShard = lines.map { l =>
      val Array(sh, seq) = l.split("\\|"); (sh, seq.toLong)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byShard.size == 8, s"expected 8 shards, got ${byShard.keySet}")
    for ((sh, seqs) <- byShard)
      assert(seqs == seqs.sorted,
        s"shard $sh lines out of sequence order: ${seqs.take(20)}...")
  }

  test("Go-style durations parse like the reference examples") {
    assert(Tail.parseDuration("30s").contains(30L * 1000000))
    assert(Tail.parseDuration("5m").contains(300L * 1000000))
    assert(Tail.parseDuration("3h").contains(10800L * 1000000))
    assert(Tail.parseDuration("1d").contains(86400L * 1000000))
    assert(Tail.parseDuration("1h30m").contains(5400L * 1000000))
    assert(Tail.parseDuration("1.5s").contains(1500000L))
    assert(Tail.parseDuration("0").contains(0L))
    assert(Tail.parseDuration("-5m").contains(-300L * 1000000))
    assert(Tail.parseDuration("").isEmpty)
    assert(Tail.parseDuration("5").isEmpty)
    assert(Tail.parseDuration("s5").isEmpty)
  }

  test("a props value holding a bare \\r comes out of dump -> Tail -O as one line") {
    import spark.implicits._
    val root = Files.createTempDirectory("tail-cr").toString
    ShardedEvents.dump(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L,
      "click", 1.0, "before\rafter")).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      root, 1)
    val (code, out, err) = tail(0L, "-O", "-s", "0", root)
    assert(code == 0, err)
    val got = out.split("\n").filter(_.nonEmpty).toSeq
    assert(got.size == 1 && got.head.endsWith(" before\rafter"), got)
  }

  test("a non-ASCII props value prints as the shard file's bytes through a US-ASCII stdout") {
    // With LANG unset the JVM's stdout encodes with ANSI_X3.4-1968, and a
    // line printed straight through it shows every non-ASCII character as
    // '?'. Tail.main wraps its stdout with Tail.utf8, as here.
    import spark.implicits._
    val root = Files.createTempDirectory("tail-utf8").toString
    val value = "naïve café · 中文 ✓ 😀"
    ShardedEvents.dump(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L,
      "click", 1.0, value)).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      root, 1)
    val utf8 = value.getBytes("UTF-8").toSeq
    val files = Files.walk(java.nio.file.Paths.get(root))
    val inShard =
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .exists(p => Files.readAllBytes(p).toSeq.containsSlice(utf8))
      finally files.close()
    assert(inShard, "the shard file must hold the value's UTF-8 bytes")
    val o = new ByteArrayOutputStream(); val e = new ByteArrayOutputStream()
    val out = Tail.utf8(new PrintStream(o, true, "US-ASCII"))
    val code = Tail.run(Array("-O", "-s", "0", root), () => spark,
      out, new PrintStream(e, true, "UTF-8"), 0L)
    out.flush()
    assert(code == 0, e.toString("UTF-8"))
    assert(o.toByteArray.toSeq.endsWith((" " + value + "\n").getBytes("UTF-8").toSeq),
      o.toString("UTF-8"))
  }

  test("a printf value that fails its verb prints Go's %!verb form and the stream goes on") {
    // The reference never dies on a render: Go's fmt prints a verb/type
    // mismatch as %!d(string=abc) in place.
    import spark.implicits._
    val root = Files.createTempDirectory("tail-printf").toString
    val ks = Seq("1", "2", "\"abc\"", "4", "5")
    ShardedEvents.dump(ks.zipWithIndex.map { case (k, i) =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0,
        s"""{"k":$k}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), root, 1)
    val (code, out, err) = tail(0L, "-O", "-s", "0", "-f", """{{printf "%d" .Log.k}}""", root)
    assert(code == 0, err)
    assert(out.split("\n").filter(_.nonEmpty).toSeq == Seq("1", "2", "%!d(string=abc)", "4", "5"),
      out)
  }

  private def window: Int = 2 * spark.sparkContext.defaultParallelism

  private val discard = new PrintStream(OutputStream.nullOutputStream())

  /** `parts` partitions of 250 rows rendered as lines: non-ASCII text, some
    * nulls, some with an embedded `\n` or `\r`. Partition `slow` sleeps
    * before its first row, `fail` throws there, and each `stall` piece
    * waits there until its task is killed (60 s at most).
    */
  private def drainLines(parts: Int, slow: Int = -1, fail: Int = -1,
      stall: Set[Int] = Set.empty): DataFrame = {
    val render = udf { (p: Int, id: Long) =>
      if (id % 250 == 0) {
        if (p == slow) Thread.sleep(400)
        if (p == fail) throw new IllegalStateException(s"piece $p fails")
        val t0 = System.nanoTime()
        while (stall(p) && !TaskContext.get().isInterrupted() && System.nanoTime() - t0 < 60e9)
          Thread.sleep(20)
      }
      if (id % 97 == 5) null
      else s"piece $p · row $id" + (if (id % 50 == 1) "\n\r!" else "")
    }
    spark.range(0, parts * 250L, 1, parts).select(render(spark_partition_id(), col("id")).as("line"))
  }

  private def noActiveJobs(): Unit =
    eventually(timeout(Span(20, Seconds)), interval(Span(50, Millis))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }

  test("the ordered drain prints collect() order byte for byte over several windows") {
    val df = drainLines(5 * window, slow = 1)
    val want = new ByteArrayOutputStream()
    val wantOut = new PrintStream(want, false, "UTF-8")
    df.collect().foreach(r => wantOut.println(r.getString(0)))
    wantOut.flush()
    val got = new ByteArrayOutputStream()
    val gotOut = new PrintStream(got, false, "UTF-8")
    Tail.drainOrdered(df.queryExecution.toRdd, gotOut)
    gotOut.flush()
    assert(want.size() > 0 && got.toByteArray.sameElements(want.toByteArray))
  }

  test("the ordered drain holds at most two windows of blocks on the driver") {
    val peak = Tail.drainOrdered(drainLines(6 * window, slow = 1).queryExecution.toRdd, discard)
    assert(peak <= 2 * window, s"held $peak blocks, bound ${2 * window}")
    assert(peak > 1, "the slowed piece must leave later blocks waiting")
  }

  test("an interrupted drain cancels the windows still running and rethrows") {
    // One stalled piece in each of the first two windows keeps both jobs
    // running until the drain cancels them.
    val rows = drainLines(4 * window, stall = Set(1, window + 1)).queryExecution.toRdd
    val thrown = new java.util.concurrent.atomic.AtomicReference[InterruptedException]()
    val drain = new Thread(() =>
      try Tail.drainOrdered(rows, discard)
      catch { case e: InterruptedException => thrown.set(e) })
    drain.start()
    try {
      eventually(timeout(Span(20, Seconds)), interval(Span(50, Millis))) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.length == 2)
      }
      drain.interrupt()
      drain.join(20000L)
      assert(thrown.get() != null, "the drain must rethrow the interrupt")
      noActiveJobs() // the stalled pieces' jobs would run on for 60 s
    } finally {
      drain.interrupt()
      spark.sparkContext.cancelAllJobs()
    }
  }

  test("a task failing in a later drain window makes -O exit 1 and leaves no job running") {
    // Three 10,000-line shards in one pull: 30 pieces of 1,000 lines, four
    // windows at local[4]; the bad line sits in the last piece.
    val root = Files.createTempDirectory("tail-late-failure")
    for (s <- 0 until 3) {
      val shard = Files.createDirectories(root.resolve(f"shard_id=shard-$s%03d"))
      Files.write(shard.resolve("part-00000.txt"), (0 until 10000).map { i =>
        val id = if (s == 2 && i == 9500) "not-a-number" else i.toString
        s"$i\t$id\t${1000L * (i + 1)}\t7\tclick\t1.0\t\\N"
      }.asJava)
    }
    val (code, out, err) = tail(0L, "-O", "-s", "0", root.toString)
    assert(code == 1, err)
    assert(err.contains("not-a-number"), err)
    assert(out.split("\n").count(_.nonEmpty) >= 2 * window * 1000, "earlier windows must print")
    noActiveJobs()
  }
}
