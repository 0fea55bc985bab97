package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Non-parquet source surface: JSON-lines in with an EXPLICIT schema (no
  * inference pass over the input) and the reference's silent-null
  * contract for malformed records.
  */
class SourceSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("events round-trip losslessly through JSON-lines with an explicit schema") {
    val out = "/tmp/graft-test-events-jsonl"
    val orig = Tables.load(spark, dir, "events")
    Tables.writeEventsJson(orig, out)
    val back = Tables.readEventsJson(spark, out)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assertSameRows(back, orig)
  }

  test("events round-trip losslessly through RFC-4180 CSV with an explicit schema") {
    val out = "/tmp/graft-test-events-csv"
    val orig = Tables.load(spark, dir, "events")
    Tables.writeEventsCsv(orig, out)
    val back = Tables.readEventsCsv(spark, out)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // props is a JSON string full of commas and double quotes — the
    // round-trip certifies the quoting contract, not just the schema.
    assertSameRows(back, orig)
    assert(back.filter(col("props").contains("\"")).count() > 0,
      "fixture must actually exercise embedded quotes")
  }

  test("events round-trip losslessly through ORC with an explicit schema") {
    val out = Files.createTempDirectory("graft-test-events-orc").toString
    val orig = Tables.load(spark, dir, "events")
    Tables.writeEventsOrc(orig, out)
    val back = Tables.readEventsOrc(spark, out)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assertSameRows(back, orig)
  }

  test("ORC scans push filters and prune columns like parquet") {
    val out = Files.createTempDirectory("graft-test-events-orc-plan").toString
    Tables.writeEventsOrc(Tables.load(spark, dir, "events"), out)
    val plan = Tables.readEventsOrc(spark, out)
      .filter(col("event_id") > 100).select("event_id", "event_type")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)]"),
      s"ORC scan must push the predicate:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,event_type:string>"),
      s"ORC scan must prune to the 2 projected columns:\n$plan")
  }

  test("malformed CSV rows become null-field rows, not failures") {
    val out = Files.createTempDirectory("graft-test-events-csv-broken")
    val good = (1 to 5).map(i =>
      s"""$i,2024-01-0${i}T00:00:00.000001Z,$i,view,$i.5,"{""k"":$i}"""")
    Files.write(out.resolve("part-000.csv"),
      ("event_id,ts,user_id,event_type,value,props" +: good :+
        "not,a,number,here,oops").mkString("\n").getBytes)
    val back = Tables.readEventsCsv(spark, out.toString)
    assert(back.count() == 6, "the broken row must surface as a row")
    assert(back.filter(col("event_id").isNull).count() == 1,
      "the broken row carries null fields, and no exception is thrown")
  }

  test("malformed JSON lines become null-field rows, not failures") {
    // the reference prints nothing and moves on when a record's payload
    // fails to parse (main.go:275-277); PERMISSIVE mode is the same
    // contract at the source level.
    // hand-written file: appending to Spark's own output would break its
    // .crc checksum sidecar and fail the read for the wrong reason
    val out = Files.createTempDirectory("graft-test-events-broken")
    val good = (1 to 5).map(i =>
      s"""{"event_id":$i,"ts":"2024-01-0${i}T00:00:00.000001Z","user_id":$i,""" +
        s""""event_type":"view","value":$i.5,"props":"{}"}""")
    Files.write(out.resolve("part-000.json"),
      (good :+ "{not json at all").mkString("\n").getBytes)
    val back = Tables.readEventsJson(spark, out.toString)
    assert(back.count() == 6, "the broken line must surface as a row")
    assert(back.filter(col("event_id").isNull).count() == 1,
      "the broken row carries null fields, and no exception is thrown")
  }

  test("Tables.load replaces a rewritten table's cached relation") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-test-relcache").toString
    Seq(1, 2).toDF("x").write.parquet(s"$root/t.parquet")
    assert(Tables.load(spark, root, "t").count() == 2)
    val entries = Tables.cachedRelations
    Seq(3, 4, 5).toDF("x").write.mode("overwrite").parquet(s"$root/t.parquet")
    assert(Tables.load(spark, root, "t").as[Int].collect().sorted.toSeq == Seq(3, 4, 5))
    assert(Tables.cachedRelations == entries,
      s"cache grew from $entries to ${Tables.cachedRelations} entries on a rewrite")
  }
}
