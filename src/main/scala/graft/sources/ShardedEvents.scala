package graft.sources

import java.io.{Closeable, File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `sharded-events`: a DataSource V2 **micro-batch streaming source** that
  * makes the reference's one native behavior — a sharded, resumable,
  * per-shard-ordered record stream — a first-class, swappable Spark
  * source instead of a test harness.
  *
  * Reference semantics mapped 1:1 (reference `main.go`):
  *   - **shard enumeration** (`main.go:148-172`, paginated ListShards with
  *     a NextToken loop): [[ShardedEvents.listShards]] lists the stream
  *     directory once; each `shard_id=<id>` partition directory is one
  *     shard. Re-enumerated every trigger, so shards appearing mid-stream
  *     (a reshard) are picked up — strictly more than the reference, which
  *     lists once at startup.
  *   - **per-shard ordered read** (`main.go:295-396`, one goroutine per
  *     shard advancing `NextShardIterator` sequentially): each shard's
  *     slice of a micro-batch is cut into contiguous pieces, one
  *     [[InputPartition]] each, in shard-then-sequence order; a piece's
  *     reader seeks to the nearest indexed line and walks the shard's
  *     files/lines strictly in sequence order.
  *   - **sequence-number offsets** (`main.go:362`, `latestSequenceNumber`):
  *     a stream offset is the map shard → next line position. Spark's
  *     offset log persists it per micro-batch, so a killed query restarted
  *     on the same checkpoint resumes exactly where it stopped — the
  *     reference's `AT_SEQUENCE_NUMBER` iterator renewal (`main.go:300-327`)
  *     with the durability the reference lacks.
  *   - **`AT_TIMESTAMP` initial position** (`main.go:300-305`): option
  *     `startTimestampUs` positions every shard at its first record with
  *     `ts >= start`; absent, the shard is read from the trim horizon.
  *   - **bounded pulls** (`main.go:218`, `Limit: 10000` per GetRecords):
  *     option `maxRecordsPerTrigger` caps each shard's advance per
  *     micro-batch via Spark's admission-control [[ReadLimit]].
  *
  * Storage is one append-only TSV file set per shard under
  * `root/shard_id=<id>/` (written by [[ShardedEvents.dump]]) — the local
  * stand-in for the Kinesis service in this offline environment (no
  * connector jar exists; SURVEY §7 H6). The listing layer is the only
  * thing a real-service binding would replace; the offset/order/resume
  * semantics proved by `ShardedSourceSpec` are the part that matters.
  * Scale note: one shard maps to one or more contiguous pieces, one task
  * each — the reference's goroutine-per-shard, split further so a hot
  * shard's pull is not one task. A piece holds
  * `ceil(rows / (8 × defaultParallelism))` lines of the micro-batch, and
  * never fewer than one index stride (1,024 lines), so a 1000-shard
  * stream fans out to at least 1000 tasks and no task holds more than
  * one piece in memory. Lines end in `\n` only, as [[dump]] and Spark's
  * text writer write them.
  */
object ShardedEvents {
  val SHORT_NAME = "sharded-events"

  /** The record envelope: the stream's shard/sequence identity plus the
    * events payload columns (`graft.Tables.eventSchema`).
    */
  val schema: StructType = StructType.fromDDL(
    "shard_id STRING, seq BIGINT, event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** Null sentinel for the text payload column (`props`). */
  private[sources] val NullToken = "\\N"

  /** The stream's shard ids (`shard_id=<id>` directories), sorted for
    * determinism. The reference pages through ListShards
    * (`main.go:148-172`); a directory listing arrives whole.
    */
  private[sources] def listShards(root: String): Seq[String] =
    Option(new File(root).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(_.getName.stripPrefix("shard_id="))
      .sorted
      .toSeq

  /** A shard's data files in sequence order. */
  private[sources] def shardFiles(root: String, shard: String): Seq[File] =
    Option(new File(new File(root), s"shard_id=$shard").listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
      .toSeq

  /** Lines between two index points of a shard file. */
  private[sources] val IndexStride = 1024

  /** A shard file's line count and the byte offset of lines 0, 1024,
    * 2048, … (every [[IndexStride]]-th line).
    */
  private[sources] final case class LineIndex(lines: Long, offsets: Array[Long])

  /** One pass over `f` counting `\n` bytes; a last line without one
    * still counts, as [[LineReader]] returns it.
    */
  private[sources] def indexLines(f: File): LineIndex = {
    val offsets = Array.newBuilder[Long]
    offsets += 0L
    val buf = new Array[Byte](1 << 16)
    var lines = 0L
    var at = 0L
    var last: Byte = '\n'
    val in = new FileInputStream(f)
    try {
      var len = in.read(buf)
      while (len > 0) {
        var i = 0
        while (i < len) {
          if (buf(i) == '\n') {
            lines += 1
            if (lines % IndexStride == 0) offsets += at + i + 1
          }
          i += 1
        }
        last = buf(len - 1)
        at += len
        len = in.read(buf)
      }
    } finally in.close()
    LineIndex(if (last == '\n') lines else lines + 1, offsets.result())
  }

  /** Rows of a micro-batch per piece: enough pieces for eight per core,
    * but never fewer rows than one index stride.
    */
  private[sources] def pieceRows(rows: Long, parallelism: Int): Long =
    math.max(IndexStride.toLong, (rows + 8L * parallelism - 1) / (8L * parallelism))

  /** `[from, until)` of a shard cut into near-equal pieces of at most
    * `size` lines, each starting from its nearest index point in `files`
    * (the shard's files in order).
    */
  private[sources] def pieces(root: String, shard: String, files: Seq[LineIndex],
      from: Long, until: Long, size: Long): Seq[ShardSlice] = {
    val n = (until - from + size - 1) / size
    (0L until n).map { j =>
      val a = from + (until - from) * j / n
      val b = from + (until - from) * (j + 1) / n
      var f = 0
      var first = 0L
      while (f < files.size && first + files(f).lines <= a) { first += files(f).lines; f += 1 }
      // Past the files' end the reader starts at line 0 and reports
      // the shortfall.
      if (f == files.size) ShardSlice(root, shard, a, b)
      else {
        val k = ((a - first) / IndexStride).toInt
        ShardSlice(root, shard, a, b, f, files(f).offsets(k), first + k.toLong * IndexStride)
      }
    }
  }

  /** First position with record ts >= startUs — the `AT_TIMESTAMP`
    * iterator (`main.go:300-305`). Lines are ts-sorted within a shard
    * (dump() orders by arrival time), so this is the offset of the first
    * non-skipped record.
    */
  private[sources] def atTimestamp(root: String, shard: String, startUs: Long): Long = {
    if (startUs == Long.MinValue) return 0L
    var pos = 0L
    shardFiles(root, shard).foreach { f =>
      val r = new LineReader(f, 0L)
      try {
        while (r.next()) {
          val b = r.bytes
          val t1 = tab(b, tab(b, r.start, r.start, r.end) + 1, r.start, r.end)
          if (long(b, t1 + 1, tab(b, t1 + 1, r.start, r.end)) >= startUs) return pos
          pos += 1
        }
      } finally r.close()
    }
    pos
  }

  /** Parses one line, `b[start, end)`: seq \t event_id \t ts_us \t user_id
    * \t event_type \t value \t props. `props` is last, so a tab inside it
    * stays part of it. Numbers parse in place; string fields are copied
    * out of `b`, which the reader reuses for the next line.
    */
  private[sources] def parse(shard: UTF8String, b: Array[Byte], start: Int, end: Int): InternalRow = {
    val t0 = tab(b, start, start, end)
    val t1 = tab(b, t0 + 1, start, end)
    val t2 = tab(b, t1 + 1, start, end)
    val t3 = tab(b, t2 + 1, start, end)
    val t4 = tab(b, t3 + 1, start, end)
    val t5 = tab(b, t4 + 1, start, end)
    val props =
      if (end - t5 == 3 && b(t5 + 1) == '\\' && b(t5 + 2) == 'N') null // NullToken
      else UTF8String.fromBytes(util.Arrays.copyOfRange(b, t5 + 1, end))
    try new GenericInternalRow(Array[Any](
      shard,
      long(b, start, t0),
      long(b, t0 + 1, t1),
      long(b, t1 + 1, t2), // TimestampType = micros since epoch
      long(b, t2 + 1, t3),
      UTF8String.fromBytes(util.Arrays.copyOfRange(b, t3 + 1, t4)),
      double(b, t4 + 1, t5),
      props))
    catch {
      case e: NumberFormatException => throw malformed(b, start, end, e.getMessage)
    }
  }

  /** The first tab in `b[from, end)` of the line `b[start, end)`. */
  private def tab(b: Array[Byte], from: Int, start: Int, end: Int): Int = {
    var i = from
    while (i < end && b(i) != '\t') i += 1
    if (i == end) throw malformed(b, start, end, "fewer than 7 tab-separated fields")
    i
  }

  /** The decimal long in `b[from, until)`. Up to 18 digits with an
    * optional `-` parse in place; anything else is `String.toLong` of the
    * text, so a bad field's error names it.
    */
  private def long(b: Array[Byte], from: Int, until: Int): Long = {
    val neg = from < until && b(from) == '-'
    var i = if (neg) from + 1 else from
    if (i == until || until - i > 18) return new String(b, from, until - from, UTF_8).toLong
    var v = 0L
    while (i < until) {
      val d = b(i) - '0'
      if (d < 0 || d > 9) return new String(b, from, until - from, UTF_8).toLong
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  /** Exact powers of ten: 1e0 to 1e22 are each one double. */
  private val Pow10 = Array.tabulate(23)(k => s"1e$k".toDouble)

  /** The double in `b[from, until)`, as `Double.parseDouble` reads it. A
    * plain decimal, `-?d+(.d+)?`, of at most 15 significant digits and at
    * most 22 fraction digits is `mantissa / 10^scale`: both are exact
    * doubles, so the one division rounds correctly, as `parseDouble` does.
    * Anything else (an exponent, more digits, `NaN`, `Infinity`) is
    * `parseDouble` of the text.
    */
  private[graft] def double(b: Array[Byte], from: Int, until: Int): Double = {
    val neg = from < until && b(from) == '-'
    val digits = if (neg) from + 1 else from
    var i = digits
    var m = 0L
    var sig = 0
    var dot = -1
    while (i < until && sig <= 15 &&
        (b(i) >= '0' && b(i) <= '9' || b(i) == '.' && dot < 0 && i > digits)) {
      if (b(i) == '.') dot = i
      else {
        if (m != 0 || b(i) != '0') sig += 1
        m = m * 10 + (b(i) - '0')
      }
      i += 1
    }
    val scale = if (dot < 0) 0 else until - dot - 1
    if (i < until || i == digits || sig > 15 || scale == 0 && dot >= 0 || scale > 22)
      java.lang.Double.parseDouble(new String(b, from, until - from, UTF_8))
    else {
      val v = m / Pow10(scale)
      if (neg) -v else v
    }
  }

  private def malformed(b: Array[Byte], start: Int, end: Int, why: String) =
    new IllegalArgumentException(
      s"malformed record line: ${new String(b, start, end - start, UTF_8)} ($why)")

  /** Materialize an events DataFrame as a sharded stream directory:
    * records are routed to `numShards` shards by hash of `user_id` (the
    * reference's partition-key routing — a host's records always land in
    * one shard, `main.go:249-267`), ordered within each shard by arrival
    * time, and stamped with a per-shard sequence number. The write is a
    * plain distributed text write — `repartition` on the shard key puts
    * each shard in exactly one task, `sortWithinPartitions` fixes the
    * file's line order, and the partitioned layout gives the reader its
    * shard directories. No driver-side materialization.
    */
  def dump(events: DataFrame, root: String, numShards: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("shard_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("shard_id",
        format_string("shard-%03d", pmod(hash(col("user_id")), lit(numShards))))
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .withColumn("value_s", col("value").cast("string"))
      .withColumn("props_s", coalesce(col("props"), lit(NullToken)))
      .repartition(numShards, col("shard_id"))
      // Leading shard_id sort satisfies the partitioned writer's required
      // ordering, so it inserts no re-sort and the (ts, event_id) line
      // order survives into each shard's file.
      .sortWithinPartitions(col("shard_id"), col("ts"), col("event_id"))
      .select(col("shard_id"),
        concat_ws("\t",
          col("seq"), col("event_id"), unix_micros(col("ts")),
          col("user_id"), col("event_type"), col("value_s"), col("props_s"))
          .as("value"))
      .write.partitionBy("shard_id").mode("overwrite").text(root)
  }

  /** Convenience reader: the streaming DataFrame for a dumped stream. */
  def readStream(spark: SparkSession, root: String,
      startTimestampUs: Option[Long] = None,
      maxRecordsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format(SHORT_NAME).option("path", root)
    val r1 = startTimestampUs.fold(r)(v => r.option("startTimestampUs", v.toString))
    val r2 = maxRecordsPerTrigger.fold(r1)(v => r1.option("maxRecordsPerTrigger", v.toString))
    r2.load()
  }
}

/** Offset: shard id → next line position to read (≡ last consumed
  * sequence number + 1). JSON is a flat sorted map, diff-stable in the
  * checkpoint offset log.
  */
case class ShardOffsets(positions: Map[String, Long]) extends Offset {
  override def json(): String =
    positions.toSeq.sorted
      .map { case (s, p) => "\"" + s + "\":" + p }
      .mkString("{", ",", "}")
}

object ShardOffsets {
  private val Entry = "\"([^\"]+)\":(\\d+)".r
  def fromJson(json: String): ShardOffsets =
    ShardOffsets(Entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

/** One piece of a shard's slice of a micro-batch: lines [from, until).
  * The reader starts at byte `offset` of the shard's `file`-th file,
  * which is where line `line` (an index point at or before `from`)
  * begins.
  */
case class ShardSlice(root: String, shard: String, from: Long, until: Long,
    file: Int = 0, offset: Long = 0L, line: Long = 0L)
  extends InputPartition

/** The V2 provider — registered as `sharded-events` via
  * META-INF/services (DataSourceRegister).
  */
class ShardedEventsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = ShardedEvents.SHORT_NAME
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardedEvents.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardedEventsTable(properties)
}

class ShardedEventsTable(properties: util.Map[String, String])
  extends Table with SupportsRead {
  private def path: String =
    Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("sharded-events requires option 'path'"))
  override def name(): String = s"sharded_events:`$path`"
  override def schema(): StructType = ShardedEvents.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardedEventsScan(options)
    }
}

class ShardedEventsScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = ShardedEvents.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardedEventsStream(
      options.get("path"),
      Option(options.get("startTimestampUs")).map(_.toLong).getOrElse(Long.MinValue),
      Option(options.get("maxRecordsPerTrigger")).map(_.toLong))
}

class ShardedEventsStream(root: String, startUs: Long, maxPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  // AT_TIMESTAMP positions, computed once per shard per query lifetime
  // (the reference's one GetShardIterator call per shard).
  private val initialPos = scala.collection.mutable.Map.empty[String, Long]
  private def initialPositionOf(shard: String): Long =
    initialPos.getOrElseUpdate(shard,
      ShardedEvents.atTimestamp(root, shard, startUs))

  // Trigger.AvailableNow: pin the end-of-stream target at prepare time so
  // the bounded run drains to a fixed frontier and terminates.
  @volatile private var availableNowTarget: Option[ShardOffsets] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = Some(allAvailable())
  }

  private def allAvailable(): ShardOffsets =
    ShardOffsets(shardEnds(ShardedEvents.listShards(root)))

  // Line indexes per shard file as (length, mtime, index): a trigger
  // indexes only the files that changed since the last one, not the
  // whole stream.
  private val lineIndexes =
    scala.collection.mutable.Map.empty[String, (Long, Long, ShardedEvents.LineIndex)]

  /** A shard's files with their line indexes, in file order. */
  private def shardIndex(shard: String): Seq[(String, ShardedEvents.LineIndex)] = synchronized {
    ShardedEvents.shardFiles(root, shard).map { f =>
      val (key, len, mtime) = (f.getPath, f.length(), f.lastModified())
      key -> (lineIndexes.get(key) match {
        case Some((`len`, `mtime`, ix)) => ix
        case _ =>
          val ix = ShardedEvents.indexLines(f)
          lineIndexes(key) = (len, mtime, ix)
          ix
      })
    }
  }

  /** Each shard's record count (the service's "latest sequence"). Files
    * no longer listed leave the cache.
    */
  private def shardEnds(shards: Seq[String]): Map[String, Long] = synchronized {
    val files = shards.map(shard => shard -> shardIndex(shard))
    val listed = files.flatMap(_._2.map(_._1)).toSet
    lineIndexes.filterInPlace((k, _) => listed(k))
    files.map { case (shard, ixs) => shard -> ixs.map(_._2.lines).sum }.toMap
  }

  private[graft] def cachedLineCounts: Int = synchronized(lineIndexes.size)

  private lazy val parallelism = SparkSession.active.sparkContext.defaultParallelism

  override def initialOffset(): Offset =
    ShardOffsets(ShardedEvents.listShards(root)
      .map(s => s -> initialPositionOf(s)).toMap)

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Advance each shard from its committed position toward the shard end,
    * capped per shard by the read limit — the GetRecords pull
    * (`main.go:218,300-327`): `Limit` bounds one pull, and a shard first
    * seen mid-query starts at its AT_TIMESTAMP position. A shard that
    * holds fewer records than its committed position, or is no longer
    * listed at all, fails the query: skipping it would hide the loss.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[ShardOffsets].positions
    val target = availableNowTarget
    val shards = ShardedEvents.listShards(root)
    val listed = shards.toSet
    startPos.find { case (shard, _) => !listed(shard) }.foreach { case (shard, committed) =>
      throw new IllegalStateException(
        s"shard $shard at committed offset $committed is no longer listed under $root")
    }
    lazy val ends = shardEnds(shards)
    val next = shards.map { shard =>
      val from = startPos.getOrElse(shard, initialPositionOf(shard))
      val end = target match {
        case Some(t) => t.positions.getOrElse(shard, from)
        case None => ends(shard)
      }
      startPos.get(shard).foreach { committed =>
        if (end < committed) throw new IllegalStateException(
          s"shard $shard holds $end records, fewer than its committed offset $committed")
      }
      val capped = limit match {
        case m: ReadMaxRows => math.min(end, from + m.maxRows())
        case _ => end
      }
      shard -> math.max(from, capped)
    }.toMap
    ShardOffsets(next)
  }

  override def reportLatestOffset(): Offset = allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].positions
    val e = end.asInstanceOf[ShardOffsets].positions
    val slices = e.toSeq.sorted.flatMap { case (shard, until) =>
      val from = s.getOrElse(shard, initialPositionOf(shard))
      if (until > from) Some((shard, from, until)) else None
    }
    val size = ShardedEvents.pieceRows(slices.map(x => x._3 - x._2).sum, parallelism)
    slices.flatMap { case (shard, from, until) =>
      ShardedEvents.pieces(root, shard, shardIndex(shard).map(_._2), from, until, size)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardedEventsReaderFactory

  override def commit(end: Offset): Unit = () // files are retained
  override def stop(): Unit = ()
}

class ShardedEventsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShardSliceReader(partition.asInstanceOf[ShardSlice])
}

/** Sequential reader over one piece's [from, until) lines — per-shard
  * order is the file order. It seeks to the piece's index point and
  * skips the lines before `from` without parsing them.
  */
class ShardSliceReader(slice: ShardSlice) extends PartitionReader[InternalRow] {
  private val files =
    ShardedEvents.shardFiles(slice.root, slice.shard).drop(slice.file).iterator
  private val shard = UTF8String.fromString(slice.shard)
  private var reader: LineReader = _
  private var offset = slice.offset
  private var pos = slice.line
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (pos < slice.from) { line(); pos += 1 }
    if (pos >= slice.until) return false
    val r = line()
    current = ShardedEvents.parse(shard, r.bytes, r.start, r.end)
    pos += 1
    true
  }

  /** The reader positioned on the next line of the shard. */
  private def line(): LineReader = {
    while (true) {
      if (reader == null) {
        // The offset was committed past the files' end: emitting fewer
        // rows would advance the stream over records never delivered.
        if (!files.hasNext) throw new IllegalStateException(
          s"shard ${slice.shard} holds $pos lines, fewer than its slice " +
            s"[${slice.from}, ${slice.until}) needs")
        reader = new LineReader(files.next(), offset)
        offset = 0L
      }
      if (reader.next()) return reader
      reader.close()
      reader = null
    }
    null // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()
}

/** `\n`-terminated lines of `f` from byte `offset` on; a last line
  * without `\n` is returned too. A bare `\r` is data, not a terminator.
  * After [[next]] the line, without its `\n`, is `bytes[start, end)`:
  * a view of the read buffer, valid until the next call. A line that
  * crosses the buffer's end is moved to its front, and the buffer
  * doubles for a line longer than itself.
  */
private[sources] final class LineReader(f: File, offset: Long) extends Closeable {
  private val in = new FileInputStream(f)
  in.getChannel.position(offset)
  var bytes = new Array[Byte](1 << 16)
  var start = 0
  var end = 0
  private var pos = 0
  private var lim = 0

  /** Moves to the next line; false at the end of the file. */
  def next(): Boolean = {
    var i = pos
    while (true) {
      val b = bytes
      while (i < lim && b(i) != '\n') i += 1
      if (i < lim) {
        start = pos; end = i; pos = i + 1
        return true
      }
      val n = lim - pos
      if (n == b.length) bytes = util.Arrays.copyOf(b, 2 * n)
      else if (pos > 0) System.arraycopy(b, pos, b, 0, n)
      pos = 0
      lim = n
      i = n
      val read = in.read(bytes, n, bytes.length - n)
      if (read <= 0) {
        if (n == 0) return false
        start = 0; end = n; pos = n
        return true
      }
      lim += read
    }
    false // unreachable
  }

  override def close(): Unit = in.close()
}
