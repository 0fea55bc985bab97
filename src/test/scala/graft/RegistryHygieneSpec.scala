package graft

import org.apache.spark.sql.types.{ArrayType, FloatType, MapType}

/** Registry-WIDE invariants — one sweep over every query so a future
  * operator can't silently violate what the per-query specs pin locally:
  *
  *   1. No `CartesianProduct` in any physical plan. Every cross join in
  *      the engine is a deliberately-broadcast small side (1-row centroid
  *      arrays, query vectors, probe lists) which plans as
  *      `BroadcastNestedLoopJoin`; a `CartesianProduct` means two
  *      non-broadcast sides met — the one operator shape that cannot
  *      survive 100 TB under any partitioning.
  *   2. Oracled outputs obey the determinism contract (Registry scaladoc):
  *      no MapType (unordered stringification) and no raw float-array
  *      columns (per-engine formatting) in a column that DuckDB hashes.
  *
  * Building a plan executes the iterative builders (star contraction runs
  * its rounds at build time), so this suite runs at sf0.001.
  */
class RegistryHygieneSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("no registry query plans a CartesianProduct") {
    Registry.all.foreach { q =>
      val p = q.build(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"${q.id} plans a CartesianProduct — a non-broadcast cross join:\n$p")
    }
  }

  test("no registry query funnels raw corpus rows through an unpartitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, Window => LWindow}
    // The r3 i2 scale-killer, generalized to EVERY query: an
    // unpartitioned window whose input is not already bounded is a
    // single-partition sort of the corpus. Bounded = an Aggregate
    // somewhere below (group-count-sized frame, the i22 rule) OR a
    // GlobalLimit (constant-k frame — j13's rank window reads a
    // TakeOrdered(30); the aggregate below it hides behind a
    // localCheckpoint's LogicalRDD, but the limit alone is the bound).
    // Exemptions are the operators whose SEMANTICS are a global ranking
    // over a base table (d6's distribution analytics) — there the total
    // order is the deliverable, and the 100 TB form is
    // rank-by-range-partition (the e1 sort machinery), not a different
    // plan for the same op.
    val globalBySemantics = Set("d6_window_distribution")
    Registry.all.filterNot(q => globalBySemantics(q.id)).foreach { q =>
      val wins = q.build(spark, dir).queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      wins.foreach { w =>
        val bounded = w.child.collectFirst {
          case a: Aggregate => a
          case l: GlobalLimit => l
        }.nonEmpty
        assert(bounded,
          s"${q.id}: unpartitioned window over unbounded input:\n$w")
      }
    }
  }

  test("oracled query outputs carry no MapType or float-array columns") {
    Registry.all.filter(_.oracle.nonEmpty).foreach { q =>
      q.build(spark, dir).schema.fields.foreach { f =>
        assert(!f.dataType.isInstanceOf[MapType],
          s"${q.id}.${f.name} is a MapType — unordered stringification breaks the hash gate")
        assert(f.dataType != ArrayType(FloatType, containsNull = true) &&
          f.dataType != ArrayType(FloatType, containsNull = false),
          s"${q.id}.${f.name} is a raw float array — per-engine float formatting breaks the hash gate")
      }
    }
  }

  // ---- events-read regression guard (VERDICT r12 #7) -------------------
  //
  // The r11 breakage: a Spark upgrade silently flipped the ns-parquet
  // events read from "refuse unless legacy nanosAsLong" (int64 raw nanos)
  // to a native TIMESTAMP_NTZ read, and Tables.load's then-unconditional
  // div-1000 rebuild threw DATATYPE_MISMATCH on ~23 events queries — at
  // the full driver run, not at test time. These two cases would have
  // caught it at compile-test time: every reader-type branch of
  // Tables.load must normalize the SAME instants to the SAME µs values,
  // on this build and on any future one that flips the read path again.

  test("events normalization: all three reader-type branches agree on µs values") {
    import org.apache.spark.sql.functions._
    // Known ns instants with sub-µs remainders: truncation (= DuckDB's
    // read), never rounding. 999 ns must drop; 1 µs boundary exact.
    val ns = Seq(1704067200000000000L, 1704067200000000999L,
      1704067200123456789L, 1704153599999999999L)
    val wantUs = ns.map(_ / 1000L)
    def mkDir(): java.io.File =
      java.nio.file.Files.createTempDirectory("evguard").toFile
    import spark.implicits._
    val base = ns.zipWithIndex.map { case (n, i) =>
      (i.toLong, n, i.toLong, "t", 1.0, s"""{"k": $i}""") }
    // (a) GenScale layout: raw int64 nanos → LongType branch.
    val dLong = mkDir()
    base.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dLong/events.parquet")
    // (b) native-NTZ layout: what Spark 4.1.2 yields from ns parquet
    //     (already µs-truncated) → TimestampNTZType branch.
    val dNtz = mkDir()
    base.toDF("event_id", "ns", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(expr("ns div 1000")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dNtz/events.parquet")
    // (c) canonical TimestampType layout → passthrough branch.
    val dTs = mkDir()
    base.toDF("event_id", "ns", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(expr("ns div 1000")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dTs/events.parquet")
    for (d <- Seq(dLong, dNtz, dTs)) {
      val got = Tables.load(spark, d.toString, "events")
      assert(got.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"$d: normalized ts must be TimestampType")
      val us = got.orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(us == wantUs, s"$d: µs mismatch: $us != $wantUs")
    }
    // eventsSince on each layout: exactly the rows at or after the start
    // (a start equal to a row's µs keeps it), with the predicate reaching
    // the scan on the int64 and NTZ layouts.
    val startUs = wantUs(2)
    val wantIds = wantUs.indices.filter(i => wantUs(i) >= startUs).map(_.toLong)
    for (d <- Seq(dLong, dNtz, dTs)) {
      val since = Tables.eventsSince(spark, d.toString, startUs)
      val ids = since.orderBy("event_id").select("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids == wantIds, s"$d: eventsSince kept $ids, want $wantIds")
      if (d != dTs) {
        val p = since.queryExecution.executedPlan.toString
        assert(p.contains("PushedFilters") &&
          p.replaceAll("\\s", "").contains("GreaterThanOrEqual(ts"),
          s"$d: start predicate must reach the scan:\n$p")
      }
    }
  }

  test("driver ns-parquet: Tables.load equals an independent raw read of the same file") {
    import org.apache.spark.sql.functions._
    // Second opinion through a DIFFERENT reader path: request the ts
    // column as BIGINT via an explicit schema (physical int64). Interpret
    // adaptively — a value that large is raw nanos (future build), else
    // the reader already truncated to µs (current build) — so the pin
    // survives either environment flip and fails only if Tables.load and
    // the raw read disagree on the instant.
    val p = s"$dir/events.parquet"
    val raw = spark.read.schema("event_id BIGINT, ts BIGINT").parquet(p)
      .withColumn("us",
        when(abs(col("ts")) > lit(100000000000000000L), expr("ts div 1000"))
          .otherwise(col("ts")))
      .select(col("event_id"), col("us"))
    val loaded = Tables.load(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    assert(loaded.join(raw, "event_id")
      .filter(loaded("us") =!= raw("us")).count() == 0,
      "Tables.load µs values diverge from the raw int64 read of events.parquet")
    assert(loaded.count() == raw.count())
  }
}
