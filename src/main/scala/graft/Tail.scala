package graft

import java.io.{ByteArrayOutputStream, DataOutputStream, PrintStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.concurrent.ExecutionContext

import org.apache.commons.io.FileUtils
import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.functions.Template
import graft.operators.EnvelopeOps
import graft.sources.ShardedEvents
import graft.streaming.LocalCheckpointFileManager

/** The user-facing tailer — the reference CLI (`main.go:62-135`) composed
  * from the engine's parts: flag parsing with the reference's exact
  * surface and exit-code contract, [[Template.compile]] for `-format`,
  * duration parsing for `-start`/`-watch`, and the `sharded-events`
  * DSv2 source for the stream itself (the positional argument names a
  * dumped stream directory — the offline stand-in for a Kinesis stream
  * name, SURVEY §7 H6).
  *
  * Contract mapped from the reference:
  *   - `-h/--help` → usage on stdout, exit 0 (`main.go:76-79`)
  *   - `-O/--one-shot` → drain once and exit (`main.go:89-92`), run as
  *     one `Trigger.AvailableNow` pass
  *   - `-f/--format <template>` → per-record render, default
  *     `{{.ShortHostId}} {{.Timestamp}} {{.LogEntry}}` (`main.go:65`);
  *     parse failure → usage, exit 2 (`main.go:108-114`)
  *   - `-s/--start <duration>` → AT_TIMESTAMP start offset `now − d`,
  *     default `5m`; invalid/negative → exit 2 (`main.go:81-87`)
  *   - `-w/--watch <duration>` → poll trigger interval, default `10s`;
  *     invalid/non-positive → exit 2 (`main.go:93-102`)
  *   - `-r/--region`, `-p/--profile` → accepted for CLI compatibility,
  *     ignored offline (no AWS endpoint exists to point them at)
  *   - missing stream / extra positional → exit 2 (`main.go:117-129`)
  *   - unreadable stream (the reference's ListShards failure) → exit 1
  *     (`main.go:153-156`); so does a stream whose query fails (a
  *     malformed or truncated shard), or a one-shot drain that has not
  *     finished after 600 s, with the cause on stderr
  *   - stdout closed or failing (the reference dies on SIGPIPE) → exit 1
  *     after the batch whose write failed; no later batch is drained
  *   - SIGINT during watch → graceful drain then exit (`main.go:180-208`),
  *     as a shutdown hook stopping the streaming query
  */
object Tail {

  def usage(w: PrintStream): Unit = w.print(
    s"""graft-tail [options] <stream-dir>
       |
       |Watch incoming log entries from a sharded event stream directory
       |(written by graft.sources.ShardedEvents.dump).
       |
       |Valid durations are a number followed by a unit abbreviation.
       |Examples: 30s, 5m, 3h, 1d.
       |
       |Fields available to the format template:
       |    {{.HostId}} {{.HostID}} -- The full ARN of the host generating the log.
       |    {{.ShortHostId}} {{.ShortHostID}} -- Short hostname (just the last part).
       |    {{.Timestamp}} -- The timestamp when the log was sent to the stream.
       |    {{.SequenceNumber}} -- The record's per-shard sequence number.
       |    {{.ShardId}} -- The shard the record was read from.
       |    {{.LogEntry}} -- The log entry in string format.
       |    {{.Log}} -- JSON field access via {{.Log.FieldName}} (any depth:
       |                {{.Log.a.b.c}}); printf pipelines are supported
       |                ({{.Log.k | printf "%05d"}}).
       |
       |Options:
       |  -h, --help               Show this usage information.
       |  -O, --one-shot           Display logs only once.
       |  -f, --format <template>  Format template for log entries.
       |                           [${Template.DefaultTemplate}]
       |  -s, --start <duration>   Start time, as a duration before now. [5m]
       |  -w, --watch <duration>   Watch/poll time. [10s]
       |  -r, --region <region>    Accepted for compatibility; unused offline.
       |  -p, --profile <profile>  Accepted for compatibility; unused offline.
       |""".stripMargin)

  /** Go-style duration: concatenated `<number><unit>` segments
    * (`30s`, `1h30m`, `1d`); returns micros. A bare `0` is valid, a
    * leading `-` yields a negative duration (rejected later for both
    * flags, matching the reference's range checks).
    */
  private val Seg = raw"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d)".r

  def parseDuration(s: String): Option[Long] = {
    val (neg, body) = if (s.startsWith("-")) (true, s.drop(1)) else (false, s)
    if (body == "0") return Some(0L)
    val segs = Seg.findAllMatchIn(body).toList
    if (segs.isEmpty || segs.map(_.matched).mkString != body) None
    else {
      val us = segs.map { m =>
        val mult = m.group(2) match {
          case "ns" => 1e-3
          case "us" | "µs" => 1.0
          case "ms" => 1e3
          case "s" => 1e6
          case "m" => 6e7
          case "h" => 3.6e9
          case "d" => 8.64e10
        }
        m.group(1).toDouble * mult
      }.sum
      Some(math.round(if (neg) -us else us))
    }
  }

  private case class Opts(
      help: Boolean = false,
      oneShot: Boolean = false,
      format: String = Template.DefaultTemplate,
      start: String = "5m",
      watch: String = "10s",
      positional: List[String] = Nil)

  private def parseArgs(args: List[String], acc: Opts): Either[String, Opts] =
    args match {
      case Nil => Right(acc)
      case ("-h" | "--help") :: rest => parseArgs(rest, acc.copy(help = true))
      case ("-O" | "--one-shot") :: rest => parseArgs(rest, acc.copy(oneShot = true))
      case ("-f" | "--format") :: v :: rest => parseArgs(rest, acc.copy(format = v))
      case ("-s" | "--start") :: v :: rest => parseArgs(rest, acc.copy(start = v))
      case ("-w" | "--watch") :: v :: rest => parseArgs(rest, acc.copy(watch = v))
      case ("-r" | "--region") :: _ :: rest => parseArgs(rest, acc)
      case ("-p" | "--profile") :: _ :: rest => parseArgs(rest, acc)
      case (f @ ("-f" | "--format" | "-s" | "--start" | "-w" | "--watch" |
          "-r" | "--region" | "-p" | "--profile")) :: Nil =>
        Left(s"Option $f requires a value.")
      case opt :: _ if opt.startsWith("-") && opt != "-" =>
        Left(s"Unknown option: $opt")
      case v :: rest => parseArgs(rest, acc.copy(positional = acc.positional :+ v))
    }

  /** Testable entry: returns the process exit code instead of exiting.
    * `nowUs` is injectable so specs can pin "now" against fixture data.
    */
  def run(args: Array[String], spark: () => SparkSession,
      out: PrintStream, err: PrintStream,
      nowUs: Long = System.currentTimeMillis() * 1000L): Int = {
    parseArgs(args.toList, Opts()) match {
      case Left(msg) =>
        err.println(msg); usage(err); 2
      case Right(o) if o.help =>
        usage(out); 0
      case Right(o) =>
        val startUs = parseDuration(o.start) match {
          case Some(d) if d >= 0 => nowUs - d
          case _ =>
            err.println(s"Invalid start time: ${o.start}"); usage(err); return 2
        }
        val pollUs =
          if (o.oneShot) Long.MaxValue
          else parseDuration(o.watch) match {
            case Some(d) if d > 0 => d
            case _ =>
              err.println(s"Invalid watch/poll time: ${o.watch}"); usage(err); return 2
          }
        val line =
          try {
            // The tailer's record scope: the envelope fields over the
            // sharded source's columns, with SequenceNumber bound to the
            // TRUE per-shard sequence number the source carries.
            Template.compile(o.format,
              EnvelopeOps.templateScope +
                ("SequenceNumber" -> col("seq")) + // the true per-shard seq
                ("ShardId" -> col("shard_id")) + // the source's shard identity
                ("Log" -> col("props"))) // {{.Log.Field}} JSON navigation
          } catch {
            case e: IllegalArgumentException =>
              err.println(s"Invalid format: ${o.format}: ${e.getMessage}")
              usage(err); return 2
          }
        o.positional match {
          case Nil =>
            err.println("Stream directory must be specified."); usage(err); 2
          case _ :: extra :: _ =>
            err.println(s"Unknown argument: $extra"); usage(err); 2
          case streamDir :: Nil =>
            if (!new java.io.File(streamDir).isDirectory) {
              err.println(s"Failed to list shards for stream $streamDir: not a directory")
              return 1
            }
            val s = spark()
            // A key the session sets stays as it is. Otherwise the scratch
            // checkpoint below gets the manager that never forks a process,
            // and the query keeps the JVM's compiled code instead of
            // compiling its stages again in a class loader of its own.
            // `getAll` holds only the keys set; `getOption` would read
            // isolation's default `true`.
            def setUnlessSet(kv: (String, String)): Unit =
              if (!s.conf.getAll.contains(kv._1)) s.conf.set(kv._1, kv._2)
            setUnlessSet(LocalCheckpointFileManager.ClassKey -> classOf[LocalCheckpointFileManager].getName)
            setUnlessSet(Harness.NoArtifactIsolation)
            val rendered = EnvelopeOps.envelope(
              ShardedEvents.readStream(s, streamDir,
                startTimestampUs = Some(startUs),
                maxRecordsPerTrigger = Some(10000L))) // main.go:218
              .select(line.as("line"))
            // The checkpoint only carries this run's own offsets (a new run
            // starts from -start, never from a saved offset), so it is
            // removed once the query has stopped, on every exit path.
            val ckpt = java.nio.file.Files.createTempDirectory("graft-tail-ckpt").toFile
            // stdout IS the sink (the reference's funnel, main.go:288-292),
            // drained by drainOrdered: the micro-batch's pieces render in
            // parallel, but the driver holds at most two windows of
            // 2 × defaultParallelism pieces' lines at a time — a collect()
            // would materialize the whole micro-batch at once: 10M rows at
            // 1000 shards × full pulls (VERDICT r13 #4). Lines print in the
            // order collect() has: shards in partition order, each shard's
            // records in sequence order.
            val writer = rendered.writeStream
              .option("checkpointLocation", ckpt.toString)
              .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                drainOrdered(batch.queryExecution.toRdd, out)
                out.flush()
                // PrintStream swallows write errors: a closed stdout (the
                // reference dies on SIGPIPE) would drain every batch, and
                // in watch mode poll forever.
                if (out.checkError()) throw new OutputWriteFailed
              }
            try {
              val q = (if (o.oneShot) writer.trigger(Trigger.AvailableNow())
                else writer.trigger(Trigger.ProcessingTime(pollUs / 1000L))).start()
              if (o.oneShot) {
                if (!q.awaitTermination(600000L)) {
                  err.println(s"Failed to read stream $streamDir: one-shot drain did not finish within 600 s")
                  q.stop()
                  return 1
                }
                0
              } else {
                // Graceful shutdown on SIGINT/SIGTERM: stop the query so the
                // in-flight micro-batch drains, then fall through to exit —
                // the reference's interrupt handler (main.go:180-208). The
                // hook deletes the checkpoint itself because the JVM halts
                // as soon as the hooks finish.
                val hook = new Thread(() => { q.stop(); FileUtils.deleteQuietly(ckpt) })
                Runtime.getRuntime.addShutdownHook(hook)
                try q.awaitTermination()
                finally
                  try Runtime.getRuntime.removeShutdownHook(hook)
                  catch { case _: IllegalStateException => () } // already exiting
                0
              }
            } catch {
              case e: StreamingQueryException
                  if ExceptionUtils.indexOfType(e, classOf[OutputWriteFailed]) >= 0 =>
                err.println(s"Failed to write records: ${ExceptionUtils.getRootCauseMessage(e)}")
                1
              case e: StreamingQueryException =>
                err.println(s"Failed to read stream $streamDir: ${ExceptionUtils.getRootCauseMessage(e)}")
                1
            } finally FileUtils.deleteQuietly(ckpt)
        }
    }
  }

  /** The output stream reported an error (`PrintStream.checkError`). */
  private final class OutputWriteFailed
      extends java.io.IOException("write to the output stream failed")

  /** One partition's rows of a single string column as one block: per
    * row, its UTF-8 length (-1 for null) and its bytes. A named function
    * object, not a lambda: `submitJob`'s `ClosureCleaner` would otherwise
    * read `Tail$`'s bytecode on every job.
    */
  private object RenderBlock extends (Iterator[InternalRow] => Array[Byte]) with Serializable {
    def apply(rows: Iterator[InternalRow]): Array[Byte] = {
      val bytes = new ByteArrayOutputStream(1 << 16)
      val data = new DataOutputStream(bytes)
      rows.foreach { r =>
        if (r.isNullAt(0)) data.writeInt(-1)
        else {
          val s = r.getUTF8String(0)
          data.writeInt(s.numBytes())
          s.writeTo(data)
        }
      }
      data.flush()
      bytes.toByteArray
    }
  }

  private def printBlock(block: Array[Byte], out: PrintStream): Unit = {
    val b = ByteBuffer.wrap(block)
    while (b.hasRemaining) {
      val len = b.getInt()
      if (len < 0) out.println(null: String)
      else {
        out.println(new String(block, b.position(), len, UTF_8))
        b.position(b.position() + len)
      }
    }
  }

  /** Prints every row of `rows` (one string column) to `out`, one
    * `println` per row, in partition order — the order `collect()` has —
    * while the partitions run in parallel. Partitions go out as jobs of
    * `2 × defaultParallelism` (a window), two windows at a time: window
    * `w + 2` is submitted once window `w` is printed, so the driver never
    * holds more than two windows of rendered blocks. A failed job or an
    * interrupt cancels the jobs still running and rethrows. Returns the
    * most blocks held at once.
    */
  private[graft] def drainOrdered(rows: RDD[InternalRow], out: PrintStream): Int = {
    val sc = rows.sparkContext
    val n = rows.getNumPartitions
    val window = 2 * sc.defaultParallelism
    val slots = new Array[Array[Byte]](n)
    val jobs = new Array[FutureAction[Unit]]((n + window - 1) / window)
    var held, peak = 0
    def submit(w: Int): Unit = if (w < jobs.length) {
      val lo = w * window
      val job = sc.submitJob(rows, RenderBlock, lo until math.min(n, lo + window),
        (k: Int, block: Array[Byte]) => slots.synchronized {
          slots(lo + k) = block
          held += 1
          peak = math.max(peak, held)
          slots.notifyAll()
        }, ())
      job.onComplete(_ => slots.synchronized(slots.notifyAll()))(ExecutionContext.parasitic)
      jobs(w) = job
    }
    try {
      submit(0)
      submit(1)
      for (i <- 0 until n) {
        val block = slots.synchronized {
          while (slots(i) == null) {
            jobs(i / window).value.foreach(_.get) // a failed job rethrows here
            slots.wait()
          }
          val b = slots(i)
          slots(i) = null
          held -= 1
          b
        }
        printBlock(block, out)
        if ((i + 1) % window == 0) submit((i + 1) / window + 1)
      }
      peak
    } finally jobs.foreach(j => if (j != null && !j.isCompleted) j.cancel())
  }

  /** A stream that prints lines as UTF-8 bytes onto `out`, whatever
    * charset `out` encodes with: the JVM's stdout encodes with
    * `file.encoding`, which is ASCII when `LANG` is unset, and would print
    * every non-ASCII character of a record as `?`.
    */
  private[graft] def utf8(out: PrintStream): PrintStream = new PrintStream(out, false, UTF_8)

  def main(args: Array[String]): Unit = {
    val out = utf8(System.out)
    val code = try run(args, () => Harness.session(Harness.cpus(4)), out, System.err)
      finally out.flush()
    sys.exit(code)
  }
}
