package graft

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{LlmOps, PipelineOps, StreamingOps}
import graft.streaming.{CuratedDedup, CuratedDoc, Replay, Running, StatefulRunning}

/** Stream ≡ batch equivalence for every SURVEY §2.C operator (the unified
  * model: one logic function, two execution modes), plus the T-only rows —
  * watermark late-drop (h5), foreachBatch sink (h7), one-shot trigger and
  * graceful shutdown (the reference's `--one-shot` `main.go:89-92` and
  * SIGINT drain `main.go:180-208`).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val eventSeq: Seq[Event] =
    Tables.events(spark, dir).collect().toSeq.sortBy(_.event_id)
  private lazy val batchDF: DataFrame = {
    val df = eventSeq.toDF()
    df.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  test("h1 tumbling window: stream (complete mode) == batch") {
    val got = Replay.run(spark, eventSeq, 5, OutputMode.Complete())(
      ds => StreamingOps.tumbling(ds.toDF()))
    assertSameRows(got, StreamingOps.tumbling(batchDF))
  }

  test("h9 windowed leaderboard: rank over the streamed complete-mode counts == batch") {
    // The leaderboard pattern: the count table is continuously
    // maintained by the stream (complete mode); the top-k rank stage
    // materializes from it per refresh — here asserted on the final
    // snapshot. Rank is deterministic under ties (count desc, type
    // asc), so any micro-batch split converges to the batch board.
    val counts = Replay.run(spark, eventSeq, 5, OutputMode.Complete())(
      ds => StreamingOps.tumbling(ds.toDF()))
    val got = StreamingOps.windowTopK(counts, 2)
    val want = StreamingOps.windowTopK(StreamingOps.tumbling(batchDF), 2)
    assertSameRows(got, want)
    assert(want.count() > 0)
  }

  test("h2 sliding window: stream (complete mode) == batch") {
    val got = Replay.run(spark, eventSeq, 5, OutputMode.Complete())(
      ds => StreamingOps.sliding(ds.toDF()))
    assertSameRows(got, StreamingOps.sliding(batchDF))
  }

  test("h3 session window: stream (append + watermark + flush) == batch") {
    // Feed in event-time order so nothing is late; a far-future sentinel
    // row advances the watermark past every real session to flush append
    // mode. Sessions merge across micro-batches before being emitted.
    val ordered = eventSeq.sortBy(_.ts.getTime)
    val maxTs = ordered.last.ts.getTime
    val sentinel = Event(-1L, new Timestamp(maxTs + 10L * 24 * 3600 * 1000),
      -1L, "sentinel", 0.0, null)
    val got = Replay.run(spark, ordered :+ sentinel, 5, OutputMode.Append())(
      ds => StreamingOps.session(
        ds.toDF().withWatermark("ts", "10 minutes")))
      .filter(col("user_id") =!= -1L)
    assertSameRows(got, StreamingOps.session(batchDF))
  }

  test("h4 streaming dedup drops exact replays across micro-batches") {
    // Duplicate the whole feed across different chunks; dropDuplicates on
    // the unique key must reduce it back to exactly the original rows.
    val doubled = eventSeq ++ eventSeq
    val got = Replay.run(spark, doubled, 8, OutputMode.Append())(
      ds => ds.toDF().dropDuplicates("event_id"))
    assertSameRows(got, batchDF)
  }

  test("dropDuplicatesWithinWatermark: same output as h4's dedup, BOUNDED state (TTL eviction)") {
    // The 100 TB distinction between dropDuplicates and its
    // WithinWatermark variant is not the OUTPUT (both emit each key
    // once) — it is the STATE: plain dropDuplicates keeps every key
    // forever (state grows with the corpus), the watermark variant
    // evicts a key once the watermark passes its event time + delay, so
    // steady-state memory is bounded by the delay window. Asserted via
    // the state-operator metrics: after the watermark sails past both
    // early keys, their rows LEAVE the store.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, ts: String): Event =
      Event(id, Timestamp.valueOf(ts), 1L, "t", 0.0, null)
    val ms = MemoryStream[Event]
    val q = ms.toDS().toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("ttl_dedup")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ttl").toString)
      .start()
    // Batch 1: two keys + an in-batch duplicate → 2 state rows.
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"),
      ev(1, "2024-01-01 10:00:00")))
    q.processAllAvailable()
    // Batch 2: a cross-batch duplicate while state is alive → dropped;
    // plus a far row pushing the watermark to 11:50 (> both 10:10/10:15
    // expirations).
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00"), ev(3, "2024-01-01 12:00:00")))
    q.processAllAvailable()
    // Batch 3: any row; eviction applies with the advanced watermark.
    ms.addData(Seq(ev(4, "2024-01-01 12:01:00")))
    q.processAllAvailable()
    val state = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0).numRowsTotal)
    q.stop(); q.awaitTermination()
    val out = spark.table("ttl_dedup")
    assert(out.count() == 4 &&
      out.select("event_id").as[Long].collect().sorted.sameElements(Array(1L, 2L, 3L, 4L)),
      "output must be exactly one row per key — duplicates in- and cross-batch dropped")
    assert(state.last < state.max,
      s"watermark must evict expired dedup state, saw ${state.mkString(",")}")
  }

  test("h5 watermark drops a late row into a closed window") {
    def ev(id: Long, ts: String): Event =
      Event(id, Timestamp.valueOf(ts), 1L, "t", 0.0, null)
    // Batch 1 closes window [10:00, 11:00) once watermark reaches 11:20.
    val batch1 = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:15:00"),
      ev(3, "2024-01-01 11:30:00"))
    // Batch 2: a late row into the closed 10:00 window (must be dropped)
    // plus a future row that closes [11:00, 12:00).
    val batch2 = Seq(
      ev(4, "2024-01-01 10:30:00"), // LATE: event time < watermark 11:20
      ev(5, "2024-01-01 12:40:00"))
    val got = Replay.run(spark, batch1 ++ batch2, 2, OutputMode.Append())(
      ds => StreamingOps.watermarkedTumbling(ds.toDF()))
      .select(col("ws").cast("string"), col("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("2024-01-01 10:00:00") == 2L,
      s"late row must not increment the closed window (got $got)")
    assert(got("2024-01-01 11:00:00") == 1L)
  }

  test("h6 stateful running aggregate: typed stream fold == batch Catalyst agg") {
    // Batch twin (hash aggregate) — the 100 TB plan.
    val want = StreamingOps.statefulRunning(batchDF)
      .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))

    // Streaming typed fold, state carried across 6 micro-batches; keep the
    // LAST update per key (update output mode emits one row per key per
    // batch it changed in).
    val latest = TrieMap.empty[Long, Running]
    Replay.runForeach(spark, eventSeq, 6, OutputMode.Update())(
      ds => StatefulRunning(ds).toDF()) { (df, _) =>
      df.as[Running].collect().foreach(r => latest(r.user_id) = r)
    }
    val got = latest.values.toSeq.toDF()
      .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))
    assertSameRows(got, want)

    // The typed fold also runs in batch mode (empty initial state) and
    // must agree with the Catalyst aggregate too.
    val foldBatch = StatefulRunning(eventSeq.toDS()).toDF()
      .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))
    assertSameRows(foldBatch, want)
  }

  test("h6b transformWithState (RocksDB) == mapGroupsWithState == batch agg") {
    val want = StreamingOps.statefulRunning(batchDF)
      .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val latest = TrieMap.empty[Long, Running]
      Replay.runForeach(spark, eventSeq, 6, OutputMode.Update())(
        ds => StatefulRunning.transformWithStateVariant(ds).toDF()) { (df, _) =>
        df.as[Running].collect().foreach(r => latest(r.user_id) = r)
      }
      val got = latest.values.toSeq.toDF()
        .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))
      assertSameRows(got, want)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("h6c transformWithState under a SHUFFLED feed == batch agg (VERDICT r13 #8)") {
    // The fold is order-free by construction (sums + max for
    // last_event_id), so ANY arrival order across ANY micro-batch split
    // must reproduce the batch Catalyst aggregate — the property that
    // makes the running aggregate safe on a real stream, where per-key
    // cross-shard order is not guaranteed.
    val want = StreamingOps.statefulRunning(batchDF)
      .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val feed = new scala.util.Random(97).shuffle(eventSeq)
      val latest = TrieMap.empty[Long, Running]
      Replay.runForeach(spark, feed, 7, OutputMode.Update())(
        ds => StatefulRunning.transformWithStateVariant(ds).toDF()) { (df, _) =>
        df.as[Running].collect().foreach(r => latest(r.user_id) = r)
      }
      val got = latest.values.toSeq.toDF()
        .select(col("user_id"), col("n_events"), col("sum_cents"), col("last_event_id"))
      assertSameRows(got, want)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("offset-log recovery: restart from checkpoint, no loss, no reprocessing") {
    // The engine form of the reference's resume-from-sequence-number
    // (expired-iterator renewal, main.go:332-351): stop a file-source
    // query mid-feed, add more data, restart from the SAME checkpoint.
    // Complete-mode counts detect both failure modes — re-reading file 1
    // doubles them, losing state halves them.
    import java.nio.file.{Files, Path, StandardCopyOption}
    val stage = Files.createTempDirectory("graft-recov-src")
    val ckpt = Files.createTempDirectory("graft-recov-ckpt").toString
    def stageHalf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-recov-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, stage.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val half = eventSeq.size / 2
    val df1 = eventSeq.take(half).toDF()
    val df2 = eventSeq.drop(half).toDF()
    def startQuery(name: String) =
      spark.readStream.schema(df1.schema).parquet(stage.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("us"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .start()

    stageHalf(df1, "h1")
    val q1 = startQuery("recov_t1")
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()

    stageHalf(df2, "h2")
    val q2 = startQuery("recov_t2")
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()

    val want = batchDF.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("us"))
    assertSameRows(spark.table("recov_t2"), want)
  }

  test("h7 foreachBatch sink receives exactly the rendered lines") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Replay.runForeach(spark, eventSeq, 4, OutputMode.Append())(
      ds => graft.operators.EnvelopeOps.renderPipeline(ds.toDF())) { (df, _) =>
      df.select(col("line")).as[String].collect().foreach(lines.add)
    }
    val want = graft.operators.EnvelopeOps.renderPipeline(batchDF)
      .select(col("line")).as[String].collect()
    assert(lines.size == want.length)
    assert(lines.iterator().hasNext)
    import scala.jdk.CollectionConverters._
    assert(lines.asScala.toSet == want.toSet)
  }

  test("one-shot trigger drains everything then terminates by itself") {
    val (q, table) = Replay.runOneShot(spark, eventSeq, OutputMode.Append())(
      ds => ds.toDF().select(col("event_id"), col("event_type")))
    assert(!q.isActive, "AvailableNow query must self-terminate")
    assert(q.exception.isEmpty)
    assert(table.count() == eventSeq.size)
  }

  test("Replay deletes each query's checkpoint dir once the query stops") {
    val before = tempEntries("graft-ckpt")
    val logic = (ds: Dataset[Event]) => ds.toDF().select(col("event_id"))
    assert(Replay.run(spark, eventSeq, 3, OutputMode.Append())(logic).count() == eventSeq.size)
    Replay.runForeach(spark, eventSeq, 3, OutputMode.Append())(logic)((_, _) => ())
    val (q, _) = Replay.runOneShot(spark, eventSeq, OutputMode.Append())(logic)
    assert(!q.isActive)
    val left = tempEntries("graft-ckpt") -- before
    assert(left.isEmpty, s"left behind: $left")
  }

  test("h8 stream-stream interval join == batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ordered = eventSeq.sortBy(_.ts.getTime)
    val purchases = ordered.filter(_.event_type == "purchase")
    val errors = ordered.filter(_.event_type == "error")
    val msP = MemoryStream[Event]; val msE = MemoryStream[Event]
    val joined = StreamingOps.purchaseErrorJoin(
      msP.toDS().toDF().withWatermark("ts", "1 hour"),
      msE.toDS().toDF().withWatermark("ts", "1 hour"))
    val q = joined.writeStream.format("memory").queryName("h8_t")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-h8").toString)
      .start()
    // Feed both sides in event-time order, interleaved in 4 rounds.
    val pChunks = purchases.grouped(math.max(1, purchases.size / 4 + 1)).toSeq
    val eChunks = errors.grouped(math.max(1, errors.size / 4 + 1)).toSeq
    (0 until math.max(pChunks.size, eChunks.size)).foreach { i =>
      if (i < pChunks.size) msP.addData(pChunks(i))
      if (i < eChunks.size) msE.addData(eChunks(i))
      q.processAllAvailable()
    }
    q.stop(); q.awaitTermination()
    val want = StreamingOps.purchaseErrorJoin(
      batchDF.filter(col("event_type") === "purchase"),
      batchDF.filter(col("event_type") === "error"))
    assertSameRows(spark.table("h8_t"), want)
  }

  test("h8b LEFT OUTER stream-stream join == batch left join (watermark proves absence)") {
    // The outer variant needs the watermark to PROVE a match can no
    // longer arrive before it null-pads a buffered left row. Feeding
    // the data alone leaves the last hour of purchases stuck in state
    // (their absence is not yet provable), so a sentinel event on EACH
    // stream advances both watermarks past every real row; the sentinel
    // purchase then shows as one unmatched row we drop before compare.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ordered = eventSeq.sortBy(_.ts.getTime)
    val purchases = ordered.filter(_.event_type == "purchase")
    val errors = ordered.filter(_.event_type == "error")
    val maxTs = ordered.last.ts.getTime
    val sentinelP = Event(-999L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000),
      -1L, "purchase", 0.0, "{}")
    val sentinelE = Event(-998L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000),
      -1L, "error", 0.0, "{}")
    val msP = MemoryStream[Event]; val msE = MemoryStream[Event]
    val joined = StreamingOps.purchaseErrorJoin(
      msP.toDS().toDF().withWatermark("ts", "1 hour"),
      msE.toDS().toDF().withWatermark("ts", "1 hour"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("h8b_t")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-h8b").toString)
      .start()
    val pChunks = purchases.grouped(math.max(1, purchases.size / 4 + 1)).toSeq
    val eChunks = errors.grouped(math.max(1, errors.size / 4 + 1)).toSeq
    (0 until math.max(pChunks.size, eChunks.size)).foreach { i =>
      if (i < pChunks.size) msP.addData(pChunks(i))
      if (i < eChunks.size) msE.addData(eChunks(i))
      q.processAllAvailable()
    }
    msP.addData(Seq(sentinelP)); msE.addData(Seq(sentinelE))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val got = spark.table("h8b_t").filter(col("p_id") =!= -999L)
    val want = StreamingOps.purchaseErrorJoin(
      batchDF.filter(col("event_type") === "purchase"),
      batchDF.filter(col("event_type") === "error"), "left_outer")
    assertSameRows(got, want)
    // the outer semantics actually fired: null-padded rows exist
    assert(got.filter(col("e_id").isNull).count() > 0)
  }

  test("file-source streaming replay of the events table == batch") {
    // The second real source path (SURVEY §1.4): stream the ns-precision
    // parquet with an explicit raw-nanos schema (readStream cannot infer),
    // convert exactly like Tables.load, aggregate, compare to batch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    // The file source wants a directory; stage the single table file.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-filesrc")
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = spark.readStream.schema(schema)
      .parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("us"))
    val q = agg.writeStream.format("memory").queryName("filesrc_t")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val want = batchDF.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("us"))
    assertSameRows(spark.table("filesrc_t"), want)
  }

  test("streaming curation (stateful canonical dedup) == batch i17") {
    // The composed pipeline runs incrementally: the stateless prefix
    // (lang cut, quality threshold, fingerprint) maps over each
    // micro-batch; canonical-per-fingerprint selection is keyed state.
    // Feed is SHUFFLED (not doc_id-ordered) to prove the min-doc_id fold
    // is arrival-order independent — dropDuplicates would not be.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSeq
    val feed = new scala.util.Random(42).shuffle(docs)
    val updates = Replay.run(spark, feed, 5, OutputMode.Update())(ds =>
      CuratedDedup(PipelineOps.curationCandidates(
        ds.toDF("doc_id", "text", "lang")).as[CuratedDoc]).toDF())
    // Update mode emits one row per (fingerprint, micro-batch that
    // touched it); the final state per fingerprint is its min-doc_id row.
    val finalStates = updates.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("quality"), col("doc_id")).as("quality"))
      .select(col("doc_id"), col("quality"))
    val got = finalStates.select(col("doc_id"), col("quality"),
      graft.operators.LlmOps.splitBand(graft.operators.LlmOps.splitBucket).as("split"))
    val want = Registry.byId("i17_curation_e2e").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming Markov transitions == batch d19 (keyed last-seen state across micro-batches)") {
    // Each user's stream folds through ONE LastSeen record; transitions
    // emitted across micro-batch boundaries must chain exactly (the
    // last event of batch k pairs with the first of batch k+1), so the
    // re-aggregated counts reproduce the batch lead() matrix verbatim.
    // The feed delivers event-time order (the stateful-twin contract).
    val feed = eventSeq.sortBy(e =>
      (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L, e.event_id))
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      graft.streaming.MarkovStream(ds).toDF())
    val counts = got.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("cur"))))
      .select(col("cur"), col("nxt"), col("n"),
        expr("n * 1000000 div tot").as("ppm"))
    val want = Registry.byId("d19_markov_transition").build(spark, dir)
    assertSameRows(counts, want)
    assert(want.count() > 0)
  }

  test("streaming intra-doc excision == batch i89 (stateless, arrival-order free)") {
    // The excision is entirely row-local HOFs, so the SAME expression
    // tree runs per micro-batch with no state; a shuffled feed must
    // reproduce the batch report exactly.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(29).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.intradocExcise(ds.toDF("doc_id", "text")))
    val want = Registry.byId("i89_intradoc_excise").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming aspect assignment == batch m8 (stateless rational argmin + rollup agreement)") {
    // Bucket assignment is a row-local exact-rational argmin — no
    // state; the shuffled-feed assignments match batch row-for-row,
    // and their rollup reproduces the registry's m8 report.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(31).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.aspectAssign(ds.toDF("doc_id", "text")))
    val want = PipelineOps.aspectAssign(Tables.load(spark, dir, "documents"))
    assertSameRows(got, want)
    assertSameRows(
      got.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("width") * col("height")).as("total_px")),
      Registry.byId("m8_aspect_buckets").build(spark, dir))
  }

  test("streaming pad-cap assignment == batch i93 (stateless ladder + rollup agreement)") {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(37).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.padCapAssign(ds.toDF("doc_id", "text")))
    val want = PipelineOps.padCapAssign(Tables.load(spark, dir, "documents"))
    assertSameRows(got, want)
    assertSameRows(
      got.groupBy(col("cap"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("tokens"),
          sum(col("cap") - col("kept")).as("pad_tokens"),
          sum(when(col("n_tok") > col("cap"), col("n_tok") - col("cap"))
            .otherwise(0L)).as("truncated_tokens"))
        .withColumn("waste_ppm", expr("pad_tokens * 1000000 div (cap * n_docs)")),
      Registry.byId("i93_pad_waste").build(spark, dir))
  }

  test("streaming mixture sampling == batch i21 (stateless, arrival-order free)") {
    // The sampling filter is content-addressed and stateless, so the
    // SAME expression applies per micro-batch with no state store; a
    // shuffled feed must still reproduce the batch sample exactly.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(17).shuffle(docs)
    val sampled = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.mixtureSample(ds.toDF("doc_id", "source")))
    val want = Registry.byId("i21_sample_stratified").build(spark, dir)
    assertSameRows(sampled, want)
  }

  test("streaming incremental dedup == batch i25 (stream-static anti-join + keyed state)") {
    // The i25 ingest shape run INCREMENTALLY: the new batch arrives as a
    // stream, the existing corpus's fingerprint set is a STATIC side
    // (stream-static join — the corpus doesn't move during an ingest),
    // and within-stream dedup is the CuratedDedup min-doc_id fold so a
    // shuffled arrival order still picks the batch-canonical doc.
    val docs = Tables.load(spark, dir, "documents")
    val corpusFps = docs.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("fp")).distinct()
    val batch = docs.filter(col("doc_id") >= 400)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(31).shuffle(batch)
    val updates = Replay.run(spark, feed, 5, OutputMode.Update())(ds =>
      CuratedDedup(
        ds.toDF("doc_id", "text")
          .select(md5(col("text")).as("fp"), col("doc_id"), lit(0.0).as("quality"))
          .join(corpusFps, Seq("fp"), "left_anti")
          .as[CuratedDoc]).toDF())
    val got = updates.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
    val want = Registry.byId("i25_dedup_incremental").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming fuzzy join == batch i30 (per-batch linking against the static base)") {
    // Linking is probe-independent: a probe's best match depends only on
    // the STATIC base side, never on other probes — so the incremental
    // form runs the same fuzzyJoin per micro-batch (base ∪ arrived
    // probes) and the union of batch outputs reproduces the batch answer
    // for any arrival order and batching. This is the crawl-ingest
    // shape: link each incoming batch against the persisted corpus
    // sketch without re-linking earlier arrivals.
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.filter(col("doc_id") < 400)
      .select("doc_id", "source", "text")
    val probes = docs.filter(col("doc_id") >= 400)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val feed = new scala.util.Random(47).shuffle(probes)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(
      ds => ds.toDF("doc_id", "source", "text")) { (bdf, _) =>
      out ++= LlmOps.fuzzyJoin(base.unionByName(bdf), 400L)
        .as[(Long, Long, Double)].collect()
    }
    val got = out.toSeq.toDF("probe_id", "match_id", "jaccard")
    val want = Registry.byId("i30_fuzzy_join").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming semantic dedup == batch greedy (stream-static screen + keyed state)") {
    // The i29 shape run as an ingest: incoming vectors route to their
    // cluster with the SAME inline broadcast-argmax the batch engine
    // uses, the static corpus's materialized assignment screens them via
    // a stream-static anti-join (cosine ≥ θ with any same-cluster corpus
    // member ⇒ dropped), and within-stream canonical choice is keyed
    // state per cluster. Crafted geometry makes every stage non-vacuous:
    // cluster-0 arrivals with a large second component are screened by
    // the corpus; cluster-1 arrivals never hit the corpus but merge
    // among THEMSELVES in state. Feed is shuffled: the member-
    // accumulating fold must reproduce the batch greedy for any order.
    import graft.streaming.{SemArrival, SemDedupStream}
    val theta = 1.2
    val centSeq = Seq(0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f))
    val cent = centSeq.toDF("cid", "cemb")
    val corpus = (0 until 15).map(i => (i.toLong, Seq(1f, i / 20f, 0f, 0f))) ++
      (15 until 20).map(i => (i.toLong, Seq((i - 15) / 100f, 1f, 0f, 0f)))
    val corpusAssigned = PipelineOps.assignToCentroids(
        corpus.toDF("vec_id", "embedding"), cent)
      .select(col("cid").as("ccid"), col("embedding").as("cemb2"))
      .localCheckpoint(true)
    val arrivals = (100 until 160).map { j =>
      val a = (j - 100) / 80f
      if (j % 2 == 0) (j.toLong, Seq(1f, a, 0f, 0f))
      else (j.toLong, Seq(a, 1f, 0f, 0f))
    }
    val feed = new scala.util.Random(53).shuffle(arrivals)
    val latest = TrieMap.empty[Long, Seq[Long]]
    Replay.runForeach(spark, feed, 5, OutputMode.Update())(ds => {
      val assigned = PipelineOps.assignToCentroids(
        ds.toDF("vec_id", "embedding"), cent)
      val screened = assigned.join(corpusAssigned,
        assigned("cid") === col("ccid") &&
          round(graft.functions.VectorFunctions.dot(
            assigned("embedding"), col("cemb2")), 3) >= theta,
        "left_anti")
      SemDedupStream(
        screened.select("cid", "vec_id", "embedding").as[SemArrival],
        theta).toDF()
    }) { (df, _) =>
      df.as[(Long, Seq[Long])].collect()
        .foreach { case (cid, kept) => latest(cid) = kept }
    }
    val got = latest.toMap

    // INDEPENDENT batch model (no SemDedupStream code): assignment
    // (6dp argmax, min-cid tiebreak — the engine's exact arithmetic),
    // static screen, then union-find component minima over each
    // cluster's FULL membership at once — batch i29's resolve rule.
    def round3(x: Double): Double =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def assign(v: Seq[Float]): Long =
      centSeq.map { case (cid, c) => (round6(dot(v, c)), -cid) }.max._2 * -1
    val corpusByCluster = corpus.groupBy { case (_, v) => assign(v) }
    val survivors = arrivals.filter { case (_, v) =>
      val cid = assign(v)
      !corpusByCluster.getOrElse(cid, Seq.empty)
        .exists { case (_, cv) => round3(dot(v, cv)) >= theta }
    }
    val want = survivors.groupBy { case (_, v) => assign(v) }
      .map { case (cid, ms) =>
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        val sorted = ms.sortBy(_._1)
        for {
          i <- sorted.indices; j <- (i + 1) until sorted.size
          if round3(dot(sorted(i)._2, sorted(j)._2)) >= theta
        } {
          val (ra, rb) = (find(sorted(i)._1), find(sorted(j)._1))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        cid -> sorted.map(_._1).filter(id => find(id) == id)
      }
    assert(got == want, s"got=$got want=$want")
    // Every stage proved non-vacuous: the static screen dropped some
    // arrivals, and the keyed state merged some survivors.
    assert(survivors.size < arrivals.size, "static screen must drop")
    assert(got.values.map(_.size).sum < survivors.size,
      "within-stream state must merge")
    assert(got.keySet == Set(0L, 1L))
  }

  test("streaming incremental near-dedup == batch i36 (stream-static screen + keyed state)") {
    // The i36 ingest shape run INCREMENTALLY: arrivals compute their
    // token-hash sketch as a stateless per-row expression, the static
    // corpus sketch table screens them via a stream-static anti-join
    // (same-source J >= 0.9 against any corpus doc => dropped), and
    // within-stream canonicalization is keyed state per SOURCE (the
    // near-dup candidate bucket) running batch i36's component-min rule.
    // Crafted geometry makes every path non-vacuous and hand-checkable:
    //   101/106 are near-copies of corpus doc 1  -> screened out;
    //   102~103 merge in state                   -> keep 102;
    //   104 repeats corpus doc 3's text under a DIFFERENT source ->
    //     survives (the source-bucket rule);
    //   107~108~109 is a transitive chain (J(107,109) < 0.9) -> the
    //     component rule keeps 107 alone;
    //   105 is unique -> survives.
    // Oracle-exactness note: this twin (and the DuckDB oracle) screens
    // against the corpus EXACTLY, while the batch engine's corpus
    // screen is LSH-band-gated — agreement therefore holds up to the
    // documented banding miss probability <= (1-J)^8 per true pair
    // (J >= 0.9 => <= 1e-8), verified zero-miss on this geometry and
    // at all three SFs. If the band count ever changes, re-derive the
    // bound at the i36 registry entry and here.
    import graft.streaming.{NearArrival, NearDedupStream}
    val boundary = 100L
    val corpus = Seq(
      (1L, "s0", "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "s0", "z1 z2 z3 z4 z5"),
      (3L, "s1", "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"))
    val batch = Seq(
      (101L, "s0", "a b c d e f g h i j k l m n o p q r s u"),
      (102L, "s0", (1 to 20).map(i => s"q$i").mkString(" ")),
      (103L, "s0", (1 to 19).map(i => s"q$i").mkString(" ") + " q21"),
      (104L, "s0", "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"),
      (105L, "s0", "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"),
      (106L, "s0", "a b c d e f g h i j k l m n o p q r s u"),
      (107L, "s0", (1 to 30).map(i => s"c$i").mkString(" ")),
      (108L, "s0", (1 to 29).map(i => s"c$i").mkString(" ") + " d1"),
      (109L, "s0", (1 to 28).map(i => s"c$i").mkString(" ") + " d1 d2"))
    val all = (corpus ++ batch).toDF("doc_id", "source", "text")
    val want = graft.operators.LlmOps.nearDedupIncremental(all, boundary)
      .select("doc_id").as[Long].collect().toSet
    // The batch operator itself must reproduce the hand-computed truth.
    assert(want == Set(102L, 104L, 105L, 107L), s"batch operator got $want")
    val corpusSets = graft.operators.LlmOps.hashedTokenSets(
        all.filter(col("doc_id") < boundary))
      .select(col("source").as("csource"), col("rks").as("crks"),
        col("n_tok").as("cn"))
      .localCheckpoint(true)
    val feed = new scala.util.Random(71).shuffle(batch)
    val latest = TrieMap.empty[String, Seq[Long]]
    Replay.runForeach(spark, feed, 4, OutputMode.Update())(ds => {
      val arr = ds.toDF("doc_id", "source", "text")
        .withColumn("rks", array_sort(array_distinct(
          transform(split(col("text"), " "), t => xxhash64(t)))))
      val inter = size(array_intersect(col("rks"), col("crks"))).cast("double")
      val screened = arr.join(corpusSets,
        col("source") === col("csource") &&
          inter / (size(col("rks")) + col("cn") - inter) >= 0.9,
        "left_anti")
      NearDedupStream(
        screened.select(col("source"), col("doc_id"), col("rks"))
          .as[NearArrival], 0.9).toDF()
    }) { (df, _) =>
      df.as[(String, Seq[Long])].collect()
        .foreach { case (src, kept) => latest(src) = kept }
    }
    val got = latest.values.flatten.toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("streaming truth-pair maintenance == batch pairStatsIngest (shuffled feed)") {
    // The truth artifact's streaming twin (r15): the within-stream pairs
    // come from TruthPairStream's keyed state (each doc scored once, at
    // its own arrival — final pair SET is arrival-order free); the
    // stream-static pairs against the persisted corpus sketches are
    // STATELESS (the i33/i21 rule) and computed batch-side here. Their
    // union must equal pairStatsIngest on the same split, (inter, un)
    // stats included — the nightly batch build and the continuous tailer
    // maintain the SAME artifact.
    import graft.streaming.{TruthArrival, TruthPairStream}
    val boundary = 100L
    val corpus = Seq(
      (1L, "s0", "a b c d e f g h i j"),
      (2L, "s1", "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"))
    val batch = Seq(
      (101L, "s0", "a b c d e f g h i k"),
      (102L, "s0", "a b c d e f g h j k"),
      (103L, "s0", (1 to 10).map(i => s"x$i").mkString(" ")),
      (104L, "s0", (1 to 9).map(i => s"x$i").mkString(" ") + " y1"),
      (105L, "s1", "p1 p2 p3 p4 p5 p6 p7 p8 p9 q1"),
      (106L, "s1", (1 to 10).map(i => s"r$i").mkString(" ")))
    val all = (corpus ++ batch).toDF("doc_id", "source", "text")
    val corpusSets = LlmOps.hashedTokenSets(
      all.filter(col("doc_id") < boundary)).localCheckpoint(true)
    val batchSets = LlmOps.hashedTokenSets(all.filter(col("doc_id") >= boundary))
    val want = LlmOps.pairStatsIngest(corpusSets, batchSets, 7)
      .as[(Long, Long, Long, Long)].collect().toSet
    // Both pair kinds must be non-vacuous by construction.
    assert(want.exists(_._1 < boundary), s"corpus-batch pair expected: $want")
    assert(want.exists(_._1 >= boundary), s"batch-batch pair expected: $want")
    // Within-stream pairs: keyed state over a SHUFFLED micro-batch feed.
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Long)]
    val feed = new scala.util.Random(43).shuffle(batch)
    Replay.runForeach(spark, feed, 3, OutputMode.Update())(ds =>
      TruthPairStream(
        ds.toDF("doc_id", "source", "text")
          .withColumn("rks", array_sort(array_distinct(
            transform(split(col("text"), " "), t => xxhash64(t)))))
          .select(col("source"), col("doc_id"), col("rks"))
          .as[TruthArrival], 7).toDF()
    ) { (df, _) =>
      val rows = df.select(explode(col("pairs")).as("p")).select("p.*")
        .as[(Long, Long, Long, Long)].collect()
      got.synchronized { got ++= rows }
      ()
    }
    // Stream-static pairs are stateless — one pass of the batch side
    // against the persisted corpus sketches.
    val cs = corpusSets.select(col("source"), col("doc_id").as("cid"),
      col("rks").as("crks"), col("n_tok").as("cn"))
    val static = batchSets.join(cs, "source")
      .withColumn("inter",
        size(array_intersect(col("rks"), col("crks"))).cast("long"))
      .withColumn("un", col("n_tok") + col("cn") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * 7)
      .select(least(col("doc_id"), col("cid")).as("doc_id1"),
        greatest(col("doc_id"), col("cid")).as("doc_id2"),
        col("inter"), col("un"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert((got.toSet ++ static) == want,
      s"stream+static=${got.toSet ++ static}\nwant=$want")
  }

  test("streaming outlier screen == batch i33 (stateless, arrival-order free)") {
    // The semantic outlier screen is a pure projection + filter against
    // the broadcast codebook — no state store; the SAME expression maps
    // over each micro-batch and a shuffled feed reproduces the batch
    // screen exactly (the i21/j7 rule in vector space).
    val emb = Tables.load(spark, dir, "embeddings")
    val cent = PipelineOps.stubCodebook(emb, 8).localCheckpoint(true)
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val feed = new scala.util.Random(61).shuffle(vecs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.assignToCentroids(ds.toDF("vec_id", "embedding"), cent)
        .filter(col("best_sim") < 0.1)
        .select(col("vec_id"), col("cid"), col("best_sim")))
    val want = Registry.byId("i33_embed_outliers").build(spark, dir)
    assertSameRows(got, want)
    assert(want.count() > 0, "screen must be non-vacuous at sf0.001")
  }

  test("streaming incremental span dedup == batch i41 marks (stream-static flag + gram state)") {
    // The i41 ingest shape run INCREMENTALLY: each micro-batch computes
    // its gram occurrences statelessly, the persisted corpus gram set
    // joins a static in_corpus flag on, and gram-keyed state recomputes
    // the repeat set from full membership — so a shuffled feed
    // reproduces the batch operator's marked positions exactly.
    import graft.streaming.{GramArrival, SpanDedupStream}
    val boundary = 400L
    val docs = Tables.load(spark, dir, "documents")
    def occ(d: DataFrame) = d
      .select(col("doc_id"), posexplode(PipelineOps.gramZip(col("text"), 5)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64((0 until 5).map(i => col(s"col.$i")): _*).as("g"))
    val corpusGrams = occ(docs.filter(col("doc_id") < boundary))
      .select(col("g")).distinct()
      .withColumn("inc", lit(true)).localCheckpoint(true)
    val want = PipelineOps.repeatGramsIncremental(docs, boundary)
      .as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "batch marks must be non-vacuous at sf0.001")
    val batch = docs.filter(col("doc_id") >= boundary)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(43).shuffle(batch)
    val latest = TrieMap.empty[Long, Seq[(Long, Long)]]
    Replay.runForeach(spark, feed, 4, OutputMode.Update())(ds =>
      SpanDedupStream(
        occ(ds.toDF("doc_id", "text"))
          .join(corpusGrams, Seq("g"), "left")
          .select(col("g"), col("doc_id"), col("pos"),
            coalesce(col("inc"), lit(false)).as("in_corpus"))
          .as[GramArrival]).toDF()
    ) { (df, _) =>
      df.as[(Long, Seq[(Long, Long)])].collect()
        .foreach { case (g, reps) => latest(g) = reps }
    }
    val got = latest.values.flatten.toSet
    assert(got == want,
      s"marked-position sets differ: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("streaming ANN index ingest == batch i43 (stateless encode against corpus codebooks)") {
    // The i43 ingest run INCREMENTALLY: new vectors stream in and route
    // + PQ-encode against the STATIC corpus-trained codebooks (broadcast
    // stream-static side, NO retrain — the production index contract).
    // The encode runs inside foreachBatch — the production index-write
    // path (encode each micro-batch, append to the index table): the
    // per-vector 4-block pivot is a batch-local aggregation there, and
    // since per-arrival work needs no cross-batch state a shuffled feed
    // reproduces the batch operator exactly (the i33 rule applied to
    // the index write path).
    val emb = Tables.load(spark, dir, "embeddings")
    val boundary = 400L
    val corpus = emb.filter(col("vec_id") < boundary)
    val c0 = PipelineOps.stubCodebook(corpus, 8)
    val coarse = PipelineOps.lloydCodebook(
      PipelineOps.lloydQuantMeans(corpus, c0), c0).localCheckpoint(true)
    val subC = PipelineOps.pqBlocks(corpus, 4, 16).localCheckpoint(true)
    val pqCent = PipelineOps.pqTrainStep(
      subC, PipelineOps.pqStubCodebook(subC, 8)).localCheckpoint(true)
    val batch = emb.filter(col("vec_id") >= boundary)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val feed = new scala.util.Random(83).shuffle(batch)
    val rows = TrieMap.empty[Long, Seq[org.apache.spark.sql.Row]]
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(
      ds => ds.toDF("vec_id", "embedding")) { (df, id) =>
      val enc = PipelineOps.assignToCentroids(df, coarse)
        .select(col("vec_id"), col("cid"))
        .join(PipelineOps.pqQuantize(
          PipelineOps.pqBlocks(df, 4, 16), pqCent, 4), Seq("vec_id"))
      rows(id) = enc.collect().toSeq
    }
    val got = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.values.flatten.toSeq),
      Registry.byId("i43_ann_index_ingest").build(spark, dir).schema)
    val want = Registry.byId("i43_ann_index_ingest").build(spark, dir)
    assertSameRows(got, want)
    assert(want.count() > 0, "ingest must be non-vacuous at sf0.001")
  }

  test("streaming delete cascade == batch i45 (tombstone stream; canon_moved flips when the last survivor goes)") {
    // i45 run as a TOMBSTONE stream: delete requests arrive keyed by
    // their doc's fingerprint group, per-group state accumulates the
    // deleted members, and the group's verdicts re-emit on every
    // update. canon_moved is the one cascade column that is NOT
    // arrival-local — "does the group still have survivors?" — so a
    // later delete in the same group must FLIP the canonical's earlier
    // verdict once the last survivor goes. The crafted geometry drives
    // exactly that flip; the final snapshot must equal the batch
    // operator's atomic-list verdicts.
    import graft.streaming.{DeleteCascadeStream, DeleteRequest}
    val docs = Seq(
      (1L, "a b c d e f", "s0"), (2L, "a b c d e f", "s0"),
      (3L, "a b c d e f", "s0"),
      (7L, "solo text x1 x2 x3 x4", "s0"),
      (9L, "keep me around y1 y2 y3", "s0"))
      .toDF("doc_id", "text", "source")
    val byFp = Window.partitionBy(col("fp"))
    val base = docs.select(col("doc_id"), md5(col("text")).as("fp"),
        greatest(size(split(col("text"), " ")) - 4, lit(0))
          .cast("long").as("n_grams"))
      .withColumn("gmin", min(col("doc_id")).over(byFp))
      .withColumn("group_size", count(lit(1)).over(byFp).cast("long"))
    val members = LlmOps.clusterLabels(LlmOps.nearDupPairs(docs))
      .select(col("doc_id"), lit(true).as("is_member"))
    val enrich = base.join(members, Seq("doc_id"), "left")
      .select(col("fp"), col("doc_id"), col("n_grams"),
        coalesce(col("is_member"), lit(false)).as("is_member"),
        col("gmin"), col("group_size"))
      .as[DeleteRequest].collect().map(r => r.doc_id -> r).toMap
    // Deletion order: 1 (group canonical; 2,3 survive) → 7 (singleton)
    // → 2 (3 still survives) → 3 (last survivor gone — the flip).
    val feed = Seq(1L, 7L, 2L, 3L).map(enrich)
    val canonHist = scala.collection.mutable.ArrayBuffer.empty[Long]
    val latest = TrieMap.empty[String, Seq[(Long, Long, Long, Long, Long, Long, Long)]]
    Replay.runForeach(spark, feed, 4, OutputMode.Update())(
      ds => DeleteCascadeStream(ds).toDF()) { (df, _) =>
      df.as[(String, Seq[(Long, Long, Long, Long, Long, Long, Long)])]
        .collect().foreach { case (fp, vs) =>
          latest(fp) = vs
          vs.find(_._1 == 1L).foreach(v => canonHist += v._7)
        }
    }
    // The flip: doc 1's canon_moved was 1 while any twin survived, 0
    // once the whole group is deleted.
    assert(canonHist.headOption.contains(1L) && canonHist.lastOption.contains(0L),
      s"expected canon_moved 1→0 flip for doc 1, saw $canonHist")
    val got = latest.values.flatten.toSet
    val deletes = Seq(1L, 7L, 2L, 3L).toDF("doc_id")
    val want = LlmOps.deleteCascadeFor(docs, deletes)
      .filter(col("deleted") === 1)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"final verdicts diverge: got=$got want=$want")
  }

  test("streaming delete cascade == batch i45 on the parquet fixture (shuffled tombstones)") {
    // Breadth twin of the crafted law above: the registry's own
    // content-addressed delete list replayed as a shuffled tombstone
    // stream over the sf0.001 corpus; the final verdict snapshot must
    // equal the i45 registry rows for deleted docs (survivor rows are
    // simply never emitted — a tombstone stream only speaks about
    // tombstones).
    import graft.streaming.{DeleteCascadeStream, DeleteRequest}
    val docs = Tables.load(spark, dir, "documents")
    val byFp = Window.partitionBy(col("fp"))
    val base = docs.select(col("doc_id"), md5(col("text")).as("fp"),
        greatest(size(split(col("text"), " ")) - 4, lit(0))
          .cast("long").as("n_grams"))
      .withColumn("gmin", min(col("doc_id")).over(byFp))
      .withColumn("group_size", count(lit(1)).over(byFp).cast("long"))
    val members = LlmOps.clusterLabels(LlmOps.nearDupPairs(docs))
      .select(col("doc_id"), lit(true).as("is_member"))
    val delIds = docs.filter(LlmOps.saltedBucket("del:") < 5)
      .select(col("doc_id"))
    val feed0 = base.join(members, Seq("doc_id"), "left")
      .join(delIds, Seq("doc_id"), "left_semi")
      .select(col("fp"), col("doc_id"), col("n_grams"),
        coalesce(col("is_member"), lit(false)).as("is_member"),
        col("gmin"), col("group_size"))
      .as[DeleteRequest].collect().toSeq
    val feed = new scala.util.Random(59).shuffle(feed0)
    assert(feed.nonEmpty, "delete list must be non-empty at sf0.001")
    val latest = TrieMap.empty[String, Seq[(Long, Long, Long, Long, Long, Long, Long)]]
    Replay.runForeach(spark, feed, 4, OutputMode.Update())(
      ds => DeleteCascadeStream(ds).toDF()) { (df, _) =>
      df.as[(String, Seq[(Long, Long, Long, Long, Long, Long, Long)])]
        .collect().foreach { case (fp, vs) => latest(fp) = vs }
    }
    val got = latest.values.flatten.toSet
    val want = Registry.byId("i45_delete_cascade").build(spark, dir)
      .filter(col("deleted") === 1)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"fixture verdicts diverge: got ${got.size} want ${want.size}")
  }

  test("streaming ANN query batch == batch i44 (query stream against the static PQ index)") {
    // The i44 lift with queries ARRIVING as a stream — the production
    // search path: the PQ index (codes + codebooks) sits static, each
    // micro-batch of queries builds its own broadcast LUT slice in
    // foreachBatch, and per-query top-10s are query-local (no
    // cross-query state), so a shuffled query feed reproduces the
    // batch ranking exactly. Completes the ANN family's streaming
    // story: ingest (i43), screen (i46), search (here).
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val feed = new scala.util.Random(47).shuffle(queries)
    val rows = TrieMap.empty[Long, Seq[org.apache.spark.sql.Row]]
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(
      ds => ds.toDF("vec_id", "embedding")) { (df, id) =>
      rows(id) = PipelineOps.annPqBatchFor(emb, df, topK = 10).collect().toSeq
    }
    val want = Registry.byId("i44_ann_pq_batch").build(spark, dir)
    val got = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.values.flatten.toSeq),
      want.schema)
    assertSameRows(got, want)
  }

  test("streaming ANN ingest screen == batch i46 (stateless cid-bounded corpus probe)") {
    // The i46 screen run at ingest: arrivals stream in, the corpus's
    // per-cluster vector table sits static, and each micro-batch
    // routes + screens in foreachBatch (the i43 write-path pattern).
    // No cross-batch state — a match verdict depends only on the
    // arrival and the static corpus — so a shuffled feed reproduces
    // the batch operator exactly.
    val emb = Tables.load(spark, dir, "embeddings")
    val boundary = 400L
    val batch = emb.filter(col("vec_id") >= boundary)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val feed = new scala.util.Random(71).shuffle(batch)
    val rows = TrieMap.empty[Long, Seq[org.apache.spark.sql.Row]]
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(
      ds => ds.toDF("vec_id", "embedding")) { (df, id) =>
      // Screen THIS micro-batch against the full static corpus by
      // substituting the arrivals for the batch slice: union them with
      // the corpus rows so the shared operator sees (corpus ∪ batch).
      val corpus = emb.filter(col("vec_id") < boundary)
        .select(col("vec_id"), col("embedding"))
      val screened = PipelineOps.annIngestScreen(
        corpus.union(df.select(col("vec_id"), col("embedding"))),
        boundary, 0.4)
      rows(id) = screened.collect().toSeq
    }
    val want = Registry.byId("i46_ann_ingest_screen").build(spark, dir)
    val got = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.values.flatten.toSeq),
      want.schema)
    assertSameRows(got, want)
    assert(want.filter(col("kept") === 0).count() > 0,
      "screen must drop at least one arrival at sf0.001 (non-vacuous)")
  }

  test("streaming contamination screen == batch i19 (stateless broadcast eval set)") {
    // The leakage check run at INGEST time: train docs stream in, the
    // eval-set shingle hashes sit static in one broadcast row, and the
    // per-doc containment is computed IN-ROW (array_distinct +
    // array_intersect over the hashed gram array) — no explode, no
    // shuffle, no state store, so the same expression maps over each
    // micro-batch and a shuffled feed reproduces batch i19 exactly.
    // The twin also proves the in-row form == the batch explode/groupBy
    // form, the same two-route check as the m1 decoder twin.
    val docs = Tables.load(spark, dir, "documents")
    val evalSet = PipelineOps.evalShingleSet(docs.filter(col("doc_id") < 50))
      .localCheckpoint(true)
    val train = docs.filter(col("doc_id") >= 50)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(37).shuffle(train)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.contaminationScreen(ds.toDF("doc_id", "text"), evalSet))
    val want = Registry.byId("i19_contamination").build(spark, dir)
    assertSameRows(got, want)
    assert(want.count() > 0, "screen must be non-vacuous at sf0.001")
  }

  test("streaming incremental packing == batch i52 (ordered feed, offset accumulation)") {
    // The pack-state ingest loop: micro-batches of new docs arrive in
    // doc_id order (packing is ORDER-DEPENDENT — the h3 in-order rule,
    // not the shuffled-feed rule) and each batch places against the
    // accumulated token offset, which then advances by the batch's own
    // total — exactly the persisted pack-state read-modify-write of a
    // production ingest, driven here through foreachBatch.
    val docs = Tables.load(spark, dir, "documents")
    val baseTok = docs.filter(col("doc_id") < 400)
      .agg(coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)))
      .head.getLong(0)
    val feed = docs.filter(col("doc_id") >= 400)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    var offset = baseTok
    val placed = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(ds =>
      ds.toDF("doc_id", "text")) { (df, _) =>
      val batch = df.sort("doc_id").localCheckpoint(true)
      if (!batch.isEmpty) {
        val base = batch.sparkSession.range(1)
          .select(lit(offset).as("base_tok"))
        placed ++= PipelineOps.packIncremental(
          batch.select("doc_id", "text"), base).collect()
        offset += PipelineOps.tokFrame(batch)
          .agg(coalesce(sum(col("tok")), lit(0L))).head.getLong(0)
      }
    }
    val got = spark.createDataFrame(
      spark.sparkContext.parallelize(placed.toSeq),
      Registry.byId("i52_pack_incremental").build(spark, dir).schema)
    assertSameRows(got, Registry.byId("i52_pack_incremental").build(spark, dir))
  }

  test("streaming DSIR importance ingest == batch i62 (stream vs persisted count state)") {
    // The importance screen at INGEST time: the corpus's quantized
    // ratio table and 1-row normalizer sit STATIC (the persisted state
    // a production ingest keeps between crawls — the i36 premise), and
    // each arriving doc scores against them via a per-batch join.
    // Scoring is stateless per doc (each doc's bigrams ride its own
    // row), so a SHUFFLED feed under any micro-batch split reproduces
    // batch i62 exactly — the same state definition feeds both paths
    // through the shared dsirState/dsirScoreAgainst factoring.
    val docs = Tables.load(spark, dir, "documents")
    val (rat0, cfac0) = PipelineOps.dsirState(docs.filter(col("doc_id") < 400))
    val rat = rat0.localCheckpoint(true)
    val cfac = cfac0.localCheckpoint(true)
    val feed = new scala.util.Random(31).shuffle(
      docs.filter(col("doc_id") >= 400)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq)
    val scored = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(ds =>
      ds.toDF("doc_id", "text")) { (df, _) =>
      if (!df.isEmpty)
        scored ++= PipelineOps.dsirScoreAgainst(
          df.select("doc_id", "text"), rat, cfac).collect()
    }
    val want = Registry.byId("i62_dsir_incremental").build(spark, dir)
    val got = spark.createDataFrame(
      spark.sparkContext.parallelize(scored.toSeq), want.schema)
    assertSameRows(got, want)
    assert(want.count() > 0, "the batch slice must be non-empty")
  }

  test("streaming snapshot-diff ingest == batch i72 (stateless classify vs static old table)") {
    // The dataset-versioning diff at INGEST time: the old crawl's
    // fingerprint table sits STATIC (the persisted i1 artifact) and each
    // arriving new-side doc classifies added/changed/same via the SAME
    // snapshotClassify both paths share — stateless per doc, so a
    // SHUFFLED feed under any micro-batch split reproduces the batch
    // per-doc delta; 'removed' is inherently end-of-stream (an old id is
    // only known missing once the feed drains) and is the same anti-join
    // the batch registry query runs.
    val docs = Tables.load(spark, dir, "documents")
    val old = PipelineOps.snapshotOld(docs).localCheckpoint(true)
    val feed = new scala.util.Random(53).shuffle(
      PipelineOps.snapshotNew(docs).as[(Long, String)].collect().toSeq)
    val statuses = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    Replay.runForeach(spark, feed, 4, OutputMode.Append())(ds =>
      ds.toDF("doc_id", "fp_n")) { (df, _) =>
      if (!df.isEmpty)
        statuses ++= PipelineOps.snapshotClassify(df, old).collect()
    }
    val seen = statuses.map(_.getLong(0)).toSet
    val removed = old.collect().map(_.getLong(0)).filterNot(seen)
      .map(id => org.apache.spark.sql.Row(id, "removed"))
    val delta = PipelineOps.snapshotClassify(PipelineOps.snapshotNew(docs), old)
      .unionAll(old.join(PipelineOps.snapshotNew(docs), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("removed").as("status")))
    val got = spark.createDataFrame(
      spark.sparkContext.parallelize((statuses ++ removed).toSeq), delta.schema)
    assertSameRows(got, delta)
    // And the rolled-up registry form stays non-vacuous in all four states.
    val counts = Registry.byId("i72_snapshot_diff").build(spark, dir)
      .select("status").as[String].collect().toSet
    assert(counts == Set("added", "removed", "changed", "same"))
  }

  test("streaming vocab-coverage screen == batch i50 (stateless broadcast vocab)") {
    // The coverage screen at INGEST time: the top-V vocab sits
    // static in one broadcast row and each arriving doc is scored
    // IN-ROW (HOF filter against the vocab array) — no explode, no
    // shuffle, no state store, so the same expression maps over each
    // micro-batch and a shuffled feed reproduces batch i50 exactly.
    // Two-route check: in-row form == the batch explode/broadcast-join/
    // groupBy registry form (also pinned batch-side in PipelineSpec).
    val docs = Tables.load(spark, dir, "documents")
    val vocab = PipelineOps.vocabRow(docs, 16).localCheckpoint(true)
    val feed = new scala.util.Random(41).shuffle(
      docs.select("doc_id", "text").as[(Long, String)].collect().toSeq)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.oovScreenInRow(ds.toDF("doc_id", "text"), vocab))
    val want = Registry.byId("i50_vocab_coverage").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming CMS sketch == batch i67 sketch (linear sketch merges across micro-batches)") {
    // CMS counters are plain sums, so the sketch is LINEAR: a streaming
    // Complete-mode aggregation over ANY micro-batch split (here a
    // shuffled 4-chunk feed) merges to exactly the batch sketch — the
    // property that lets a 100 TB ingest maintain the sketch
    // incrementally and union per-day sketches without rebuilds.
    val texts = Tables.load(spark, dir, "documents")
      .select("text").as[String].collect().toSeq
    val feed = new scala.util.Random(47).shuffle(texts)
    val got = Replay.run(spark, feed, 4, OutputMode.Complete())(ds =>
      PipelineOps.cmsSketch(ds.toDF("text")))
    val want = PipelineOps.cmsSketch(Tables.load(spark, dir, "documents"))
    assertSameRows(got, want)
  }

  test("streaming rendezvous sharding == batch i64 (stateless, arrival-order free)") {
    // Placement is a pure per-row projection of doc_id (the j7 rule):
    // the SAME expression maps over each micro-batch with no state
    // store, and a shuffled feed reproduces the batch assignment
    // exactly — the property that makes rendezvous placement usable at
    // ingest time (a new doc's shard needs no coordination).
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(43).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.rendezvousShards(ds.toDF("doc_id", "source")))
    val want = Registry.byId("i64_rendezvous_shard").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming PII scrub == batch j7 (stateless, arrival-order free)") {
    // Redaction is a pure per-row projection: the SAME expression maps
    // over each micro-batch with no state store, and a shuffled feed
    // reproduces the batch scrub exactly.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(23).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.piiRedact(ds.toDF("doc_id", "text")))
    val want = Registry.byId("j7_pii_redact").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming upsampling == batch i34 (stateless, arrival-order free)") {
    // The copy generator is content-addressed and stateless (the i21
    // rule): the SAME expression maps over each micro-batch and a
    // shuffled feed reproduces the batch copy set exactly.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(37).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.upsampleCopies(ds.toDF("doc_id", "source")))
    val want = Registry.byId("i34_upsample").build(spark, dir)
    assertSameRows(got, want)
  }

  test("streaming normalization == batch j11 (stateless, arrival-order free)") {
    // Normalization is a pure per-row projection (the j7 rule): the
    // SAME expression maps over each micro-batch and a shuffled feed
    // reproduces the batch canonicalization exactly.
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val feed = new scala.util.Random(29).shuffle(docs)
    val got = Replay.run(spark, feed, 4, OutputMode.Append())(ds =>
      PipelineOps.normalizeText(ds.toDF("doc_id", "text")))
    val want = Registry.byId("j11_normalize").build(spark, dir)
    assertSameRows(got, want)
  }

  test("state caps are byte-based and trip before a runaway key OOMs") {
    // ADVICE r9: a member-count cap sized for small payloads would let
    // an embedding/sketch key accumulate hundreds of MB of serialized
    // state and OOM the store before firing. The guard now counts
    // approximate payload BYTES, so a tiny cap trips on the second
    // heavy member while the 64 MiB default passes normal folds.
    import graft.streaming._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    def st[S]: TestGroupState[S] = TestGroupState.create[S](
      Optional.empty[S], GroupStateTimeout.NoTimeout(), 0L,
      Optional.empty[Long], hasTimedOut = false)
    val emb = Seq.fill(64)(0.0f) // 16 + 4*64 = 272 bytes/member
    val exSem = intercept[IllegalArgumentException] {
      SemDedupStream.fold(0.99, maxStateBytes = 500L)(1L,
        Iterator(SemArrival(1L, 1L, emb), SemArrival(1L, 2L, emb)),
        st[SemState])
    }
    assert(exSem.getMessage.contains("state bytes"))
    val ok = SemDedupStream.fold(0.99)(1L,
      Iterator(SemArrival(1L, 3L, emb)), st[SemState])
    assert(ok.kept == Seq(3L))
    val exNear = intercept[IllegalArgumentException] {
      NearDedupStream.fold(0.9, maxStateBytes = 800L)("s",
        Iterator(NearArrival("s", 1L, (1L to 100L).toSeq)), // 816 bytes
        st[NearState])
    }
    assert(exNear.getMessage.contains("state bytes"))
    val exSpan = intercept[IllegalArgumentException] {
      SpanDedupStream.fold(maxStateBytes = 31L)(7L, // 2 occ * 16 = 32
        Iterator(GramArrival(7L, 1L, 0L, in_corpus = false),
          GramArrival(7L, 1L, 1L, in_corpus = false)),
        st[GramState])
    }
    assert(exSpan.getMessage.contains("state bytes"))
    val exScd = intercept[IllegalArgumentException] {
      Scd2Stream.fold(maxStateBytes = 35L)(1L, // 2 × (16 + 2·1) = 36
        Iterator(ChangeArrival(1L, 1L, 1L, "A"), ChangeArrival(1L, 2L, 2L, "B")),
        st[Scd2State])
    }
    assert(exScd.getMessage.contains("state bytes"))
  }

  test("streaming MV maintenance == batch i47 (foreachBatch merge-upserts, shuffled feed)") {
    // The i47 MV maintained INCREMENTALLY: delta docs stream in shuffled,
    // each micro-batch folds its partial aggregates into the running MV
    // with the SAME mergeMv the batch operator uses (foreachBatch — the
    // production read-merge-write loop against the persisted MV table).
    // Every kept statistic is mergeable (adds/folds), so merge order and
    // batch boundaries cannot matter — the final MV must equal the batch
    // operator's one-shot merge exactly, including the derived ×10⁴ mean.
    val docs = Tables.load(spark, dir, "documents")
    val boundary = 400L
    var mv = LlmOps.mvPartials(docs.filter(col("doc_id") < boundary))
      .localCheckpoint(true)
    val delta = docs.filter(col("doc_id") >= boundary)
      .select("doc_id", "source", "lang", "n_chars")
      .as[(Long, String, String, Long)].collect().toSeq
    val feed = new scala.util.Random(47).shuffle(delta)
    Replay.runForeach(spark, feed, 5, OutputMode.Append())(
      ds => ds.toDF("doc_id", "source", "lang", "n_chars")) { (df, _) =>
      mv = LlmOps.mergeMv(mv, LlmOps.mvPartials(df))
        .drop("avg_chars_x1e4").localCheckpoint(true)
    }
    val emptyPartials = LlmOps.mvPartials(
      docs.filter(lit(false)).select("source", "lang", "n_chars"))
    val got = LlmOps.mergeMv(mv, emptyPartials)
    val want = Registry.byId("i47_mv_maintain").build(spark, dir)
    assertSameRows(got, want)
    assert(want.count() > 0, "MV must be non-vacuous at sf0.001")
  }

  test("streaming SCD2 merge: a LATE change re-derives its neighbors (crafted geometry)") {
    // The property that forces full-history state: versions derive from
    // (ts, seq) order, never arrival order. Batch 1 establishes
    // A(t1)→B(t3); a LATE arrival B'(t2) then lands BETWEEN them — the
    // t3 change becomes a no-op against its new predecessor, so the
    // B-value version's valid_from must move EARLIER to t2 while the
    // version count stays 2. An append-only fold would emit 3 versions
    // with t3 intact — exactly the wrong answer this test pins out.
    import graft.streaming.{ChangeArrival, Scd2Stream}
    val (t1, t2, t3) = (1000000L, 2000000L, 3000000L)
    val hist = TrieMap.empty[Long, Seq[(Long, Long, Long, String, Long)]]
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, Long, String, Long)]]
    val feed = Seq(
      ChangeArrival(1L, t1, 10L, "A"), ChangeArrival(1L, t3, 30L, "B"),
      ChangeArrival(1L, t2, 20L, "B"))
    Replay.runForeach(spark, feed, 2, OutputMode.Update())(
      ds => Scd2Stream(ds).toDF()) { (df, _) =>
      df.as[(Long, Seq[(Long, Long, Long, String, Long)])]
        .collect().foreach { case (k, vs) => hist(k) = vs; snapshots += vs }
    }
    assert(snapshots.exists(_ ==
      Seq((1L, t1, t3, "A", 0L), (2L, t3, -1L, "B", 1L))),
      s"pre-late-arrival chain must be A(t1..t3), B(t3..): $snapshots")
    assert(hist(1L) == Seq((1L, t1, t2, "A", 0L), (2L, t2, -1L, "B", 1L)),
      s"late B'(t2) must pull the B version back to t2: ${hist(1L)}")
  }

  test("streaming SCD2 merge == batch b15 on the parquet fixture (shuffled CDC feed)") {
    // b15 run as CDC: the snapshot and every order change replayed as a
    // SHUFFLED stream (arrival order deliberately scrambled across
    // batches), keyed state re-deriving each customer's version chain
    // on update. The final snapshot must equal the batch merge exactly
    // — same suppression, same intervals, same open versions.
    import graft.streaming.{ChangeArrival, Scd2Stream}
    val epochUs = 631152000000000L // 1990-01-01 00:00:00 UTC
    val snap = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), lit(epochUs).as("us"), lit(-1L).as("seq"),
        lit("NONE").as("attr"))
    val changes = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        col("o_orderkey").as("seq"), col("o_orderpriority").as("attr"))
    val feed0 = snap.unionAll(changes)
      .as[(Long, Long, Long, String)].collect().toSeq
      .map(c => ChangeArrival(c._1, c._2, c._3, c._4))
    val feed = new scala.util.Random(15).shuffle(feed0)
    val latest = TrieMap.empty[Long, Seq[(Long, Long, Long, String, Long)]]
    Replay.runForeach(spark, feed, 5, OutputMode.Update())(
      ds => Scd2Stream(ds).toDF()) { (df, _) =>
      df.as[(Long, Seq[(Long, Long, Long, String, Long)])]
        .collect().foreach { case (k, vs) => latest(k) = vs }
    }
    val got = latest.toSeq
      .flatMap { case (k, vs) => vs.map(v => (k, v._1, v._2, v._3, v._4, v._5)) }
      .toDF("c_custkey", "ver", "from_us", "to_us", "attr", "is_current")
      .select(col("c_custkey"), col("ver"),
        timestamp_micros(col("from_us")).cast("timestamp_ntz").as("valid_from"),
        when(col("to_us") === -1L, lit(null))
          .otherwise(timestamp_micros(col("to_us"))).cast("timestamp_ntz").as("valid_to"),
        col("attr"), col("is_current"))
    val want = Registry.byId("b15_scd2_merge").build(spark, dir)
    assertSameRows(got, want)
    assert(want.count() > 0)
  }

  test("graceful shutdown: stop() drains without error") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = ms.toDS().toDF().groupBy(col("event_type")).count()
      .writeStream.format("memory").queryName("shutdown_t")
      .outputMode(OutputMode.Complete()).start()
    ms.addData(eventSeq.take(100))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    assert(!q.isActive)
    assert(q.exception.isEmpty, s"clean stop must not record an exception")
    assert(spark.table("shutdown_t").count() > 0)
  }
}
