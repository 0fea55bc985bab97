package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.operators.StreamingOps
import graft.sources.{ShardOffsets, ShardSlice, ShardSliceReader, ShardedEvents, ShardedEventsStream}
import graft.streaming.LocalCheckpointFileManager

/** The DSv2 `sharded-events` micro-batch source — the reference's native
  * identity (sharded resumable tail, reference `main.go:148-172,295-396`)
  * as a first-class pluggable source. Proves, per VERDICT r12 #1:
  * (a) per-shard order is preserved across micro-batches,
  * (b) a killed query restarted on the same checkpoint resumes from the
  *     checkpointed per-shard sequence numbers with no loss and no dup,
  * (c) AT_TIMESTAMP initial positioning matches the batch `eventsSince`,
  * (d) the h1/h4 streaming twins run green on the new source.
  */
class ShardedSourceSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val batchDF: DataFrame =
    Tables.load(spark, dir, "events")

  /** One dumped 4-shard stream shared by the read-only tests. */
  private lazy val root: String = {
    val r = tmp("graft-shards")
    ShardedEvents.dump(batchDF, r, 4)
    r
  }

  private def payload(df: DataFrame): DataFrame =
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Drain a stream to completion (AvailableNow), collecting every
    * micro-batch's rows in arrival order via foreachBatch.
    */
  private def drain(stream: DataFrame, checkpoint: String,
      sink: ArrayBuffer[(Long, String, Long, Long)]): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select("shard_id", "seq", "event_id").collect().foreach { r =>
          sink.synchronized {
            sink += ((batchId, r.getString(0), r.getLong(1), r.getLong(2)))
          }
        }
        ()
      }
      .start()
    assert(q.awaitTermination(120000L), "stream did not drain in time")
  }

  test("dump round-trip: streamed payload == batch events table") {
    val got = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(spark, root), tmp("ckpt"), got)
    assert(got.size == batchDF.count())
    // Full-fidelity check on all columns through the memory sink.
    val q = ShardedEvents.readStream(spark, root).writeStream
      .format("memory").queryName("shard_rt")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000L))
    assertSameRows(payload(spark.table("shard_rt")), payload(batchDF))
  }

  test("per-shard order preserved across bounded micro-batches") {
    val got = ArrayBuffer.empty[(Long, String, Long, Long)]
    // 100 records per shard per pull (the reference's Limit-bounded
    // GetRecords loop, main.go:218): the largest sf0.001 shard holds
    // ~377 records → at least 4 bounded pulls.
    drain(ShardedEvents.readStream(spark, root,
      maxRecordsPerTrigger = Some(100L)), tmp("ckpt"), got)
    val batches = got.map(_._1).distinct
    assert(batches.size > 3, s"expected several bounded pulls, got $batches")
    // The cap is per shard per pull, like the reference's GetRecords Limit.
    got.groupBy(r => (r._1, r._2)).foreach { case ((b, shard), rows) =>
      assert(rows.size <= 100, s"batch $b shard $shard exceeded the pull limit")
    }
    got.groupBy(_._2).foreach { case (shard, rows) =>
      val seqs = rows.map(_._3) // arrival order: batch order, then
      // within-batch collect order (one sequential reader per shard)
      assert(seqs == seqs.sorted,
        s"shard $shard delivered out of order: ${seqs.take(10)}...")
      assert(seqs == (0L until seqs.size.toLong),
        s"shard $shard must deliver the exact 0..n-1 sequence")
    }
  }

  test("AT_TIMESTAMP initial position == batch eventsSince") {
    // Median event time: half the stream is behind the start offset.
    val startUs = batchDF
      .select(expr("percentile_approx(unix_micros(ts), 0.5, 100)"))
      .head().getLong(0)
    val got = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(spark, root,
      startTimestampUs = Some(startUs)), tmp("ckpt"), got)
    val want = Tables.eventsSince(spark, dir, startUs)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val gotIds = got.map(_._4).toSet
    assert(gotIds == want,
      s"AT_TIMESTAMP row set mismatch: got ${gotIds.size}, want ${want.size}")
    assert(want.size < batchDF.count(), "start offset must actually skip rows")
  }

  /** Drain half the stream into `ckpt` on `session`, let the stream
    * grow, drain again on the same checkpoint: no record may be lost,
    * redelivered or reordered.
    */
  private def killAndRestart(session: SparkSession, ckpt: String): Unit = {
    val batchDF = Tables.load(session, dir, "events")
    // Deterministic two-phase tail: phase 1 dumps only the first half of
    // event time; the full dump then EXTENDS each shard's file with the
    // same prefix (same shard routing, same (ts, event_id) order), which
    // is exactly an append-only stream observed at two instants.
    val root2 = tmp("graft-shards2")
    val cutUs = batchDF
      .select(expr("percentile_approx(unix_micros(ts), 0.5, 100)"))
      .head().getLong(0)
    val phase1 = batchDF.filter(unix_micros(col("ts")) < cutUs)
    ShardedEvents.dump(phase1, root2, 4)
    val run1 = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(session, root2), ckpt, run1)
    assert(run1.size.toLong == phase1.count())

    // The stream grows; a NEW query on the SAME checkpoint must resume
    // from the per-shard positions in the offset log (AT_SEQUENCE_NUMBER,
    // main.go:300-327), not from the trim horizon and not from
    // AT_TIMESTAMP.
    ShardedEvents.dump(batchDF, root2, 4)
    val run2 = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(session, root2), ckpt, run2)

    val ids1 = run1.map(_._4)
    val ids2 = run2.map(_._4)
    assert(ids1.toSet.intersect(ids2.toSet).isEmpty, "no record may be redelivered")
    assert(ids1.size + ids2.size == batchDF.count(), "no record may be lost")
    val all = batchDF.select("event_id").collect().map(_.getLong(0)).toSet
    assert((ids1 ++ ids2).toSet == all)
    // And per-shard order still holds across the restart boundary.
    (run1 ++ run2).groupBy(_._2).foreach { case (shard, rows) =>
      val seqs = rows.map(_._3)
      assert(seqs == (0L until seqs.size.toLong),
        s"shard $shard lost order across restart: ${seqs.take(10)}...")
    }
  }

  test("kill + restart resumes from checkpointed sequence numbers, no loss/dup") {
    killAndRestart(spark, tmp("ckpt"))
  }

  test("kill + restart through LocalCheckpointFileManager: no loss/dup") {
    val session = spark.newSession()
    session.conf.set(LocalCheckpointFileManager.ClassKey,
      classOf[LocalCheckpointFileManager].getName)
    val ckpt = tmp("ckpt")
    killAndRestart(session, ckpt)
    // Spark's default manager writes a .crc beside every metadata file on
    // the local file system; this one writes none.
    val files = Files.walk(Paths.get(ckpt))
    val names = try files.iterator().asScala.map(_.getFileName.toString).toSeq
      finally files.close()
    assert(names.contains("offsets") && names.contains("commits"))
    assert(!names.exists(_.endsWith(".crc")), s"written by another manager: $names")
  }

  test("h1 tumbling twin runs green on the sharded source") {
    val q = StreamingOps.tumbling(payload(ShardedEvents.readStream(spark, root)))
      .writeStream.format("memory").queryName("shard_h1")
      .outputMode("complete")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000L))
    assertSameRows(spark.table("shard_h1"), StreamingOps.tumbling(batchDF))
  }

  test("h4 dedup twin runs green on the sharded source") {
    val q = payload(ShardedEvents.readStream(spark, root))
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
      .writeStream.format("memory").queryName("shard_h4")
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000L))
    assertSameRows(spark.table("shard_h4"),
      batchDF.select("user_id", "event_type").distinct())
  }

  test("h2 sliding twin survives kill+restart MID-WINDOW on the sharded source") {
    // Phase 1 ends at the median event time — every 1h/30m window
    // straddling the cut is half-filled when the first query stops, so
    // the restarted query must ACCUMULATE into checkpointed window state,
    // not recount (r14 ask #8: the native-source twin of StreamingSpec's
    // MemoryStream h2 case, plus the recovery axis).
    val root2 = tmp("graft-shards-h2")
    val ckpt = tmp("ckpt")
    val cutUs = batchDF
      .select(expr("percentile_approx(unix_micros(ts), 0.5, 100)"))
      .head().getLong(0)
    ShardedEvents.dump(batchDF.filter(unix_micros(col("ts")) < cutUs), root2, 4)
    def runOnce(qn: String): Unit = {
      val q = StreamingOps.sliding(payload(ShardedEvents.readStream(spark, root2)))
        .writeStream.format("memory").queryName(qn)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L))
    }
    runOnce("shard_h2_a") // "killed": AvailableNow stops mid-stream-life
    ShardedEvents.dump(batchDF, root2, 4) // the stream grew
    runOnce("shard_h2_b") // restart on the SAME checkpoint
    assertSameRows(spark.table("shard_h2_b"), StreamingOps.sliding(batchDF))
    // Cross-restart accumulation actually happened: some window straddling
    // the cut has a strictly larger count in the final snapshot.
    val snap1 = spark.table("shard_h2_a").collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val snap2 = spark.table("shard_h2_b").collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(snap1.exists { case (ws, c) => snap2.getOrElse(ws, 0L) > c },
      "at least one mid-cut window must accumulate across the restart")
  }

  test("h3 session twin (append + watermark) == batch on the sharded source") {
    // Sessions flush in append mode only when the watermark PROVES no
    // more members can arrive; the tail sessions need a later event, so
    // phase 2 extends the stream with one far-future sentinel — the
    // restarted query's watermark then passes every real session. This
    // is how a production tailer's session job drains on shutdown: one
    // high-watermark heartbeat, then the final offsets commit.
    val root3 = tmp("graft-shards-h3")
    val ckpt = tmp("ckpt")
    ShardedEvents.dump(batchDF, root3, 4)
    val got = ArrayBuffer.empty[(Long, String, Long)]
    def runOnce(): Unit = {
      val q = StreamingOps.session(
          payload(ShardedEvents.readStream(spark, root3))
            .withWatermark("ts", "10 minutes"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            got.synchronized {
              got += ((r.getLong(0), String.valueOf(r.get(1)), r.getLong(2)))
            }
          }
          ()
        }
        .start()
      assert(q.awaitTermination(120000L), "session stream did not drain")
    }
    runOnce() // real data
    val sentinel = batchDF.agg(max(col("ts")).as("mx"))
      .select(lit(-1L).as("event_id"),
        (col("mx") + expr("INTERVAL 240 HOURS")).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
    ShardedEvents.dump(payload(batchDF).unionByName(sentinel), root3, 4)
    runOnce() // restart: the sentinel advances the watermark past every session
    runOnce() // idle restart: commits/evicts whatever the flush batch left
    val want = StreamingOps.session(batchDF).collect()
      .map(r => (r.getLong(0), String.valueOf(r.get(1)), r.getLong(2))).toSet
    val gotReal = got.filter(_._1 != -1L).toSet
    assert(gotReal == want,
      s"session stream≡batch: got ${gotReal.size}, want ${want.size}")
  }

  test("h8 stream-stream interval join twin runs green on the sharded source") {
    // Two independent readers of the SAME dumped stream (the reference's
    // two-consumer pattern), filtered to purchases/errors, joined on the
    // watermark-bounded interval condition. Inner-join emission needs no
    // flush — every match emits once both sides' rows have arrived — so
    // one AvailableNow drain reproduces the batch join exactly.
    val joined = StreamingOps.purchaseErrorJoin(
      payload(ShardedEvents.readStream(spark, root))
        .withWatermark("ts", "1 hour")
        .filter(col("event_type") === "purchase"),
      payload(ShardedEvents.readStream(spark, root))
        .withWatermark("ts", "1 hour")
        .filter(col("event_type") === "error"))
    val q = joined.writeStream.format("memory").queryName("shard_h8")
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000L))
    val want = StreamingOps.purchaseErrorJoin(
      batchDF.filter(col("event_type") === "purchase"),
      batchDF.filter(col("event_type") === "error"))
    assertSameRows(spark.table("shard_h8"), want)
    assert(want.count() > 0, "the join must be non-vacuous at sf0.001")
  }

  test("h5 watermark drops a late row arriving through the native source") {
    // The one h-row not yet exercised on `sharded-events` (r15 ask #8):
    // a record that is IN-ORDER within its own shard (per-shard files
    // are (ts, event_id)-sorted, the Kinesis per-shard contract) but
    // LATE against the query's GLOBAL watermark — another shard already
    // advanced event time past its window. Shard routing is by
    // hash(user_id), so two users on different shards craft it:
    //   phase 1  u1-shard: 10:05, 10:15, 11:30   (watermark -> 11:20)
    //            u2-shard: 10:01
    //   phase 2  u2-shard appends 10:30 — a legal suffix of ITS shard
    //            (10:30 > 10:01), but below the checkpointed 11:20
    //            watermark: the closed [10:00, 11:00) window must not
    //            count it. u1-shard appends 12:40, closing [11:00).
    import java.sql.Timestamp
    import spark.implicits._
    val u1 = 1L
    // First user id routing to a DIFFERENT shard than u1 under the
    // 4-way hash (routing is Murmur3 — probe, don't predict).
    val shardOf = spark.range(1, 32)
      .select(col("id"), pmod(hash(col("id")), lit(4)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val u2 = (2L to 31L).find(shardOf(_) != shardOf(u1)).get
    def ev(id: Long, ts: String, user: Long): (Long, Timestamp, Long, String, Double, String) =
      (id, Timestamp.valueOf(ts), user, "t", 0.0, null)
    def df(rows: Seq[(Long, Timestamp, Long, String, Double, String)]): DataFrame =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val phase1 = Seq(
      ev(1, "2024-01-01 10:05:00", u1), ev(2, "2024-01-01 10:15:00", u1),
      ev(3, "2024-01-01 11:30:00", u1), ev(4, "2024-01-01 10:01:00", u2))
    val phase2 = phase1 ++ Seq(
      ev(5, "2024-01-01 10:30:00", u2), // LATE: < watermark 11:20
      ev(6, "2024-01-01 12:40:00", u1)) // closes [11:00, 12:00)
    val root5 = tmp("graft-shards-h5")
    val ckpt = tmp("ckpt")
    val got = scala.collection.mutable.Map.empty[String, Long]
    def runOnce(): Unit = {
      val q = StreamingOps.watermarkedTumbling(
          payload(ShardedEvents.readStream(spark, root5)))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select(col("ws").cast("string"), col("cnt")).collect().foreach { r =>
            got.synchronized { got(r.getString(0)) = r.getLong(1) }
          }
          ()
        }
        .start()
      assert(q.awaitTermination(120000L), "h5 stream did not drain")
    }
    ShardedEvents.dump(df(phase1), root5, 4)
    runOnce() // watermark advances to 11:20, checkpointed
    ShardedEvents.dump(df(phase2), root5, 4)
    runOnce() // the late row arrives; 12:40 moves the watermark on
    runOnce() // idle restart flushes the last closed window
    // The source itself DELIVERED the late row (drop happens in the
    // aggregation, not by record loss): a fresh full drain sees all 6.
    val all = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(spark, root5), tmp("ckpt"), all)
    assert(all.map(_._4).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      "the dumped stream must carry the late record")
    assert(got("2024-01-01 10:00:00") == 3L,
      s"late row must not increment the closed window (got $got)")
    assert(got("2024-01-01 11:00:00") == 1L, s"got $got")
  }

  test("every listed shard of a many-shard stream is read") {
    // Route into 12 shards: hash routing leaves some empty (few distinct
    // partition keys at sf0.001 — empty shards write no directory); the
    // materialized directories must all be listed and read.
    val root12 = tmp("graft-shards12")
    ShardedEvents.dump(batchDF, root12, 12)
    val dirs = new java.io.File(root12).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id=")).map(_.getName).toSet
    assert(dirs.size > 5, s"fixture must hold many shards, got $dirs")
    val got = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(spark, root12), tmp("ckpt"), got)
    assert(got.map(_._2).distinct.size == dirs.size, "every shard must be read")
    assert(got.size == batchDF.count())
  }

  /** Shard lines in the dump layout for the given sequence numbers (ids
    * and timestamps follow the sequence number).
    */
  private def lines(seqs: Range): java.util.List[String] =
    seqs.map(i => s"$i\t${100 + i}\t${1000L * (i + 1)}\t7\tclick\t1.0\t\\N").asJava

  test("a slice longer than its shard's files fails instead of ending early") {
    val r = tmp("graft-shards-short")
    val shard = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    Files.write(shard.resolve("part-00000.txt"), lines(0 until 3))
    val reader = new ShardSliceReader(ShardSlice(r, "s1", 0L, 5L))
    try {
      assert((1 to 3).forall(_ => reader.next()))
      val e = intercept[IllegalStateException](reader.next())
      for (part <- Seq("s1", "[0, 5)", "3 lines"))
        assert(e.getMessage.contains(part), e.getMessage)
    } finally reader.close()
  }

  test("latestOffset counts lines appended to a part file and a new part file") {
    val r = tmp("graft-shards-grow")
    val shard = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    val part0 = shard.resolve("part-00000.txt")
    Files.write(part0, lines(0 until 3))
    val stream = new ShardedEventsStream(r, Long.MinValue, None)
    def end(): Long = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[ShardOffsets].positions("s1")
    assert(end() == 3L)
    Files.write(part0, lines(3 until 5), StandardOpenOption.APPEND)
    Files.write(shard.resolve("part-00001.txt"), lines(5 until 8))
    assert(end() == 8L)
    assert(stream.cachedLineCounts == 2)
    Files.delete(part0)
    assert(end() == 3L)
    assert(stream.cachedLineCounts == 1, "a file no longer listed must leave the cache")
  }

  /** Seq numbers a reader over `slice` returns. */
  private def seqsOf(slice: ShardSlice): Seq[Long] = {
    val reader = new ShardSliceReader(slice)
    try Iterator.continually(reader.next()).takeWhile(identity).map(_ => reader.get().getLong(1)).toList
    finally reader.close()
  }

  test("a shard truncated below its committed offset fails the restarted query") {
    val r = tmp("graft-shards-shrink")
    val shard = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    val part = shard.resolve("part-00000.txt")
    Files.write(part, lines(0 until 10))
    val ckpt = tmp("ckpt")
    val run1 = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(spark, r), ckpt, run1)
    assert(run1.size == 10)
    Files.write(part, lines(0 until 4))
    val e = intercept[StreamingQueryException](
      drain(ShardedEvents.readStream(spark, r), ckpt, ArrayBuffer.empty))
    val msg = org.apache.commons.lang3.exception.ExceptionUtils.getRootCauseMessage(e)
    for (part <- Seq("shard s1", "4 records", "committed offset 10"))
      assert(msg.contains(part), msg)
  }

  test("a shard directory removed between runs fails the restarted query") {
    val r = tmp("graft-shards-gone")
    for (s <- Seq("s1", "s2")) {
      val shard = Files.createDirectories(Paths.get(r, s"shard_id=$s"))
      Files.write(shard.resolve("part-00000.txt"), lines(0 until 6))
    }
    val ckpt = tmp("ckpt")
    val run1 = ArrayBuffer.empty[(Long, String, Long, Long)]
    drain(ShardedEvents.readStream(spark, r), ckpt, run1)
    assert(run1.size == 12)
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(r, "shard_id=s2").toFile)
    val e = intercept[StreamingQueryException](
      drain(ShardedEvents.readStream(spark, r), ckpt, ArrayBuffer.empty))
    val msg = org.apache.commons.lang3.exception.ExceptionUtils.getRootCauseMessage(e)
    for (part <- Seq("shard s2", "committed offset 6", s"no longer listed under $r"))
      assert(msg.contains(part), msg)
  }

  test("pieces tile each shard's slice in shard-then-sequence order and read their own lines") {
    val r = tmp("graft-shards-pieces")
    val s1 = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    Files.write(s1.resolve("part-00000.txt"), lines(0 until 1500))
    Files.write(s1.resolve("part-00001.txt"), lines(1500 until 4100))
    val s2 = Files.createDirectories(Paths.get(r, "shard_id=s2"))
    Files.write(s2.resolve("part-00000.txt"), lines(0 until 3000))
    val stream = new ShardedEventsStream(r, Long.MinValue, None)
    val (start, end) = (Map("s1" -> 100L, "s2" -> 0L), Map("s1" -> 4000L, "s2" -> 2999L))
    val slices = stream.planInputPartitions(ShardOffsets(start), ShardOffsets(end))
      .map(_.asInstanceOf[ShardSlice]).toSeq
    assert(slices.map(_.shard).distinct == Seq("s1", "s2"))
    assert(slices.map(_.shard) == slices.map(_.shard).sorted, "shard-then-sequence order")
    for ((shard, ps) <- slices.groupBy(_.shard)) {
      assert(ps.size > 1, s"shard $shard must be cut into pieces: $ps")
      assert(ps.head.from == start(shard) && ps.last.until == end(shard))
      ps.zip(ps.tail).foreach { case (a, b) => assert(a.until == b.from, s"gap or overlap: $a $b") }
      ps.foreach { p =>
        assert(p.line <= p.from && p.from - p.line < 1024, s"not the nearest index point: $p")
        assert(seqsOf(p) == (p.from until p.until), s"piece $p read other lines")
      }
    }
    val s1p = slices.filter(_.shard == "s1")
    assert(s1p.exists(p => p.from < 1500 && p.until > 1500), s"no piece spans the two files: $s1p")
    assert(s1p.exists(p => p.file == 1 && p.offset > 0 && p.line < p.from),
      s"no piece seeks into the second file and starts past its index point: $s1p")
  }

  test("a piece starting between index points and one spanning two files read their own lines") {
    val r = tmp("graft-shards-seek")
    val shard = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    Files.write(shard.resolve("part-00000.txt"), lines(0 until 1500))
    Files.write(shard.resolve("part-00001.txt"), lines(1500 until 4100))
    val stream = new ShardedEventsStream(r, Long.MinValue, None)
    def plan(from: Long, until: Long): ShardSlice = {
      val ps = stream.planInputPartitions(ShardOffsets(Map("s1" -> from)),
        ShardOffsets(Map("s1" -> until))).map(_.asInstanceOf[ShardSlice])
      assert(ps.length == 1, ps.toSeq)
      ps.head
    }
    val mid = plan(1500 + 1030, 1500 + 1100) // 6 lines past the second file's index point 1024
    assert(mid.file == 1 && mid.line == 1500 + 1024 && mid.offset > 0, mid)
    assert(seqsOf(mid) == (mid.from until mid.until))
    val span = plan(1400, 1600)
    assert(span.file == 0 && span.line == 1024, span)
    assert(seqsOf(span) == (1400L until 1600L))
  }

  test("appending to a part file rebuilds that file's index") {
    val r = tmp("graft-shards-reindex")
    val shard = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    val part = shard.resolve("part-00000.txt")
    Files.write(part, lines(0 until 1500))
    val stream = new ShardedEventsStream(r, Long.MinValue, None)
    def plan(from: Long, until: Long): Seq[ShardSlice] =
      stream.planInputPartitions(ShardOffsets(Map("s1" -> from)),
        ShardOffsets(Map("s1" -> until))).map(_.asInstanceOf[ShardSlice]).toSeq
    assert(plan(0, 1500).map(_.line).toSet == Set(0L)) // indexes the 1,500-line file
    Files.write(part, lines(1500 until 3500), StandardOpenOption.APPEND)
    val Seq(p) = plan(2500, 3400)
    val want = lines(0 until 2048).asScala.map(_.getBytes("UTF-8").length + 1L).sum
    assert(p.line == 2048L && p.offset == want, p)
    assert(seqsOf(p) == (2500L until 3400L))
  }

  /** Reads every line of one shard file holding `body` through the slice
    * reader; the reader closes at the end or on a failure.
    */
  private def readAll(body: String, n: Int): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val r = tmp("graft-shards-bytes")
    val shard = Files.createDirectories(Paths.get(r, "shard_id=s1"))
    Files.write(shard.resolve("part-00000.txt"), body.getBytes("UTF-8"))
    val reader = new ShardSliceReader(ShardSlice(r, "s1", 0L, n.toLong))
    try (1 to n).map { _ => assert(reader.next()); reader.get().copy() }
    finally reader.close()
  }

  test("the slice reader parses every field from bytes as the split model does") {
    val odd = Seq(
      s"0\t-1\t-1700000000000000\t-42\tclick\tNaN\t\\N",
      s"1\t${Long.MaxValue}\t${Long.MinValue}\t${Long.MaxValue}\tview\tInfinity\t",
      "2\t3\t4\t5\tclick\t-0.0\t{\"a\":1}\tx\t\ty",
      "3\t4\t5\t6\tклик\t1e-05\t{\"k\":\"é中\"}",
      "4\t5\t6\t7\tbuy\t1.0E-5\t-Infinity",
      "5\t6\t7\t8\tbuy\t+1.5\t\\N\t",
      "6\t+7\t007\t0\tbuy\t0\t\\n")
    // Short lines past the 64 KiB buffer's end, a line longer than the
    // buffer, and a last line without its '\n'.
    val filler = (0 until 4000).map(i => s"""${7 + i}\t${i * 37}\t${i * 1000L}\t${i % 9}\te\t${i / 7.0}\t{"i":$i}""")
    val long = s"4007\t1\t2\t3\tbig\t2.5\t${"é" * 40000}"
    val all = odd ++ filler :+ long :+ "4008\t9\t9\t9\tlast\t1\tno-newline"
    val rows = readAll(all.mkString("\n"), all.size)
    all.zip(rows).foreach { case (line, row) =>
      val p = line.split("\t", 7) // the model
      assert(row.getUTF8String(0).toString == "s1")
      for (i <- 0 until 4) assert(row.getLong(i + 1) == p(i).toLong, line)
      assert(row.getUTF8String(5).toString == p(4), line)
      assert(java.lang.Double.doubleToLongBits(row.getDouble(6)) ==
        java.lang.Double.doubleToLongBits(p(5).toDouble), line)
      if (p(6) == "\\N") assert(row.isNullAt(7), line)
      else assert(row.getUTF8String(7).toString == p(6), line)
    }
  }

  test("the byte-level value parse is bit-equal to Double.parseDouble") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val digits = (n: Int) => Gen.listOfN(n, Gen.numChar).map(_.mkString)
    // Plain decimals around the fast path's limits: up to 17 integer and
    // 24 fraction digits, leading zeros and a sign included.
    val plain = for {
      sign <- Gen.oneOf("", "-")
      whole <- Gen.choose(1, 17).flatMap(digits)
      frac <- Gen.choose(0, 24).flatMap(n => if (n == 0) Gen.const("") else digits(n).map("." + _))
    } yield sign + whole + frac
    val rendered = Gen.oneOf(
      org.scalacheck.Arbitrary.arbitrary[Double].map(_.toString),
      Gen.choose(0.0, 500.0).map(v => (math.round(v * 100) / 100.0).toString))
    val edges = Seq("-0.0", "0", "-0", "0.1", "0.2", "0.30000000000000004",
      "123456789012345", "1234567890123456", "999999999999999", "9999999999999999",
      "9007199254740993", "0.123456789012345", "0.1234567890123456",
      "10000000000000000000000", "1e22", "1e23", "0.0000000000000000000001",
      "0.00000000000000000000001", "1.0E-5", "1e-05", "NaN", "-NaN", "Infinity",
      "-Infinity", "1.", ".5", "-.5", "+1.5", "1.2.3", "1-2", "-", "", " 1", "1d")
    val inputs = edges ++ (0 until 3000).map(i =>
      Gen.frequency(3 -> plain, 1 -> rendered).apply(Gen.Parameters.default, Seed(600L + i)).get)
    def parsed(f: => Double): Either[String, Long] =
      try Right(java.lang.Double.doubleToRawLongBits(f))
      catch { case e: NumberFormatException => Left(e.getClass.getName) }
    inputs.foreach { text =>
      val b = s"x$text\t".getBytes("UTF-8") // the field sits inside a line
      assert(parsed(ShardedEvents.double(b, 1, b.length - 1)) ==
        parsed(java.lang.Double.parseDouble(text)), s"'$text'")
    }
  }

  test("a line with six fields or an empty number fails, naming the line") {
    for (bad <- Seq("0\t1\t2\t3\tclick\t1.0", "0\t\t2\t3\tclick\t1.0\t\\N")) {
      val e = intercept[IllegalArgumentException](readAll(bad + "\n", 1))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }
}
