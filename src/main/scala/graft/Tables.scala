package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed envelope for the stream surrogate table (`events`).
  *
  * Mirrors the reference's record envelope (reference `main.go:264-279`):
  * `event_id` ≅ SequenceNumber, `ts` ≅ ApproximateArrivalTimestamp,
  * `user_id` ≅ partition key, `props` ≅ the dynamic JSON payload (`Log`).
  */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String
)

/** Parquet-backed table access for the driver's test data.
  *
  * Every table is a plain columnar scan — Catalyst handles column pruning
  * and filter pushdown, so callers should express projections/predicates
  * declaratively on the returned DataFrame rather than pre-materializing.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Per-session RELATION cache — the in-session analog of a catalog
  // metastore entry (optimization r21, the per-query fixed-overhead
  // floor): a bare `spark.read.parquet` pays a file listing plus a
  // schema-inference footer job on EVERY call, ~0.10-0.14 s measured
  // (OPTIMIZATION_r21.md), and the registry's 253 queries each re-create
  // their relations from scratch — pure metadata overhead repeated
  // hundreds of times per bench/verify run. A real deployment reads
  // these ten fixed tables through a catalog that resolves the schema
  // and file list ONCE; this cache is that, scoped to the session.
  // It holds ONLY the resolved logical relation (schema + file index) —
  // never row data, never results: every query still scans parquet and
  // computes from it inside its own timed region. Each entry carries the
  // table directory's mtime and is replaced when it differs, so an
  // overwrite-then-reload (tools and tests writing scratch dirs) can
  // never serve a stale file list, and the cache holds one entry per
  // (session, dir, table) however often a table is rewritten.
  private val relCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (Long, DataFrame)]()

  private[graft] def cachedRelations: Int = relCache.size

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val mtime =
      try Files.getLastModifiedTime(Paths.get(s"$dir/$name.parquet")).toMillis
      catch { case NonFatal(_) => -1L }
    relCache.compute((spark, dir, name), (_, hit) =>
      if (hit != null && hit._1 == mtime) hit else (mtime, loadFresh(spark, dir, name)))._2
  }

  private def loadFresh(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts comes in more than one physical layout. The installed
      // test data stores TIMESTAMP(MICROS, isAdjustedToUTC=false), which
      // Spark 4.1.2 reads as TIMESTAMP_NTZ; a TIMESTAMP(NANOS) file reads
      // as NTZ truncated to µs on 4.1.2, while some 4.x builds refuse it
      // (PARQUET_TYPE_ILLEGAL) and need the legacy nanosAsLong conf to
      // expose the raw int64; GenScale-written copies store plain int64
      // nanos. Normalize ADAPTIVELY on the type actually read rather than
      // assuming any one layout — every path lands on the same µs values
      // DuckDB sees, as TimestampType.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize a raw events read to the canonical envelope schema with
    * `ts: TimestampType` at µs precision, whatever the reader produced:
    *   - int64 raw nanos (legacy conf applied, or GenScale data) →
    *     `timestamp_micros(ts div 1000)` (truncation, = DuckDB's read);
    *   - TIMESTAMP_NTZ (native nanos read, already µs-truncated) → cast to
    *     TimestampType. The engine pins `spark.sql.session.timeZone=UTC`
    *     everywhere (Bench/Verify/tests), under which the cast is a value
    *     identity — the stored wall-clock micros ARE the instant micros
    *     the int64 path produces;
    *   - TimestampType → already canonical.
    */
  private def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val canon = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
    canon.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** The events envelope as an explicit schema, for non-parquet sources.
    * Explicit on purpose: schema INFERENCE is a scale antipattern — it
    * scans the input once before the real job does (twice through
    * 100 TB), and a malformed line can silently flip a column type.
    */
  val eventSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")

  /** Spark's default JSON timestampFormat is MILLISECOND precision —
    * a naive dump silently truncates the envelope's microsecond event
    * times. Both sides of the JSONL path pin a µs format instead.
    */
  private val jsonTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Events from JSON-lines — the migration-path source: the reference
    * tails JSON records, so a dumped stream is a JSONL file. PERMISSIVE
    * mode yields null fields for malformed lines, the reference's
    * null-on-parse-failure contract (reference `main.go:275-277`);
    * asserted in SourceSpec along with a lossless parquet↔jsonl
    * round-trip.
    */
  def readEventsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema)
      .option("timestampFormat", jsonTsFormat).json(path)

  /** µs-lossless JSONL dump of an events DataFrame (SourceSpec asserts
    * the round-trip).
    */
  def writeEventsJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", jsonTsFormat).json(path)

  /** Events from CSV — the other common log-delivery format, completing
    * the source matrix (parquet / JSONL / CSV). Same explicit schema and
    * µs-pinned timestampFormat as the JSONL path; PERMISSIVE nulls for
    * malformed rows. The `props` payload is a JSON string full of commas
    * and double quotes, so both sides pin quote-doubling (`escape = "`,
    * RFC-4180 style rather than backslash-escaping); asserted lossless
    * in SourceSpec. Two deliberate contract bounds:
    *   - fields must be newline-free (`multiLine` stays OFF — a
    *     multi-line CSV is not splittable, one file = one task at
    *     100 TB). JSON payloads satisfy this by construction: raw
    *     control characters are illegal inside JSON strings, so a
    *     newline can only appear escaped as the two characters `\n`;
    *   - Spark's CSV reader maps empty string fields to null (empty and
    *     missing are indistinguishable in CSV); the envelope never emits
    *     empty strings, but an external producer's `""` arrives as null.
    */
  def readEventsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema)
      .option("header", "true")
      .option("timestampFormat", jsonTsFormat)
      .option("escape", "\"")
      .csv(path)

  /** µs-lossless RFC-4180 CSV dump of an events DataFrame (SourceSpec
    * asserts the round-trip).
    */
  def writeEventsCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", jsonTsFormat)
      .option("escape", "\"")
      .csv(path)

  /** Events from ORC — the fourth leg of the source matrix (parquet /
    * JSONL / CSV / ORC): the other splittable columnar format log
    * warehouses deliver, read with the same explicit schema. ORC stores
    * timestamps at ns precision natively, so unlike the text paths no
    * format pinning is needed — the round-trip is lossless at µs by
    * construction (asserted in SourceSpec). Predicate pushdown and
    * column pruning work exactly as on parquet (ORC carries row-group
    * min/max); the scan is splittable per stripe.
    */
  def readEventsOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema).orc(path)

  /** ORC dump of an events DataFrame (SourceSpec asserts the lossless
    * round-trip).
    */
  def writeEventsOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-layout partitioned parquet write — the delivery format for a
    * curated corpus: readers filtering on a partition column (`split`,
    * `lang`, …) prune whole directories at PLANNING time, so a
    * train-split consumer of a 100 TB corpus never lists, opens, or
    * scans the other splits' files. Asserted in SinkSpec (partition
    * filters on read-back + lossless round-trip).
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite").parquet(path)

  /** Events at-or-after `startMicros` — the engine form of the
    * reference's server-side `AT_TIMESTAMP` start offset (reference
    * `main.go:300-305`). One filter on the normalized `ts`, read through
    * the relation cache; it still reaches the parquet scan
    * (row-group/page skipping): on a native TIMESTAMP_NTZ read Spark
    * unwraps the cast to TimestampType, and on a raw int64-nanos read
    * [[graft.plans.NsTimestampPushdown]] rewrites it to `ns >= T·1000`.
    */
  def eventsSince(spark: SparkSession, dir: String, startMicros: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    load(spark, dir, "events").filter(col("ts") >= timestamp_micros(lit(startMicros)))
  }

  def events(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    load(spark, dir, "events").as[Event]
  }
}
