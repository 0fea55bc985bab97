package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.Q.oneLine
import graft.functions.{Strftime, Template}

/** Group A (SURVEY.md §2.A): the reference's literal operator surface —
  * sharded source scan, envelope projection, JSON payload parse, template
  * render, strftime, start-time filter, batch limit, ordered replay.
  *
  * The reference processes these record-at-a-time per shard goroutine
  * (reference `main.go:247-293`); here each is a declarative projection
  * over the `events` stream surrogate so the whole pipeline is one
  * narrow, whole-stage-codegen'd stage with filter/column pushdown into
  * the parquet scan. Shard ≅ input partition; at 100 TB the same plan
  * fans out to one task per file split with zero shuffles.
  */
object EnvelopeOps {

  /** Synthesizes the reference's partition-key shapes from `user_id`
    * (TESTDATA maps `user_id` → host/partition key). The reference sees
    * ARN / `ip-address:a.b.c.d` / `uuid:...` keys (`main.go:249-250`).
    */
  def hostId(userId: Column): Column =
    when(userId % 3 === 0,
      concat(lit("arn:aws:ecs:cluster/default:task/"), userId.cast("string")))
      .when(userId % 3 === 1,
        concat(lit("ip-address:10.0.0."), (userId % 256).cast("string")))
      .otherwise(concat(lit("uuid:instance/"), userId.cast("string")))

  /** `ShortHostId` derivation (reference `main.go:252-262`): last
    * `:`-segment of the partition key, with one leading `task/` or
    * `instance/` stripped. Every step works on the value's UTF-8 bytes.
    */
  def shortHostId(hostId: Column): Column = {
    val last = substring_index(hostId, ":", -1)
    when(last.startsWith("task/"), substring(last, 6, Int.MaxValue))
      .when(last.startsWith("instance/"), substring(last, 10, Int.MaxValue))
      .otherwise(last)
  }

  /** Full envelope projection (reference `main.go:264-279`):
    * ts / host_id / short_host_id / seq / log_entry (+ raw json props).
    */
  def envelope(events: DataFrame): DataFrame =
    events
      .withColumn("host_id", hostId(col("user_id")))
      .withColumn("short_host_id", shortHostId(col("host_id")))

  /** Envelope + default-template render — the reference's end-to-end
    * record pipeline (`printRecords`, `main.go:247-293`) as one
    * projection. Used as the flagship `SparkEntry.entry` query.
    */
  /** Template scope over an envelope'd frame. The reference exposes BOTH
    * casings of the host fields (`HostId`/`HostID`, main.go:266-269) —
    * register both so a reference user's `{{.HostID}}` template compiles.
    */
  val templateScope: Map[String, Column] = Map(
    "ShortHostId" -> col("short_host_id"),
    "ShortHostID" -> col("short_host_id"),
    "HostId" -> col("host_id"),
    "HostID" -> col("host_id"),
    "Timestamp" -> col("ts"),
    "SequenceNumber" -> col("event_id"),
    "LogEntry" -> col("props"))

  def renderPipeline(events: DataFrame): DataFrame = {
    val env = envelope(events)
    env.select(
      col("event_id"),
      Template.compile(Template.DefaultTemplate, templateScope).as("line"))
  }

  // DuckDB fragment for the same host_id/short_host_id derivation.
  private val duckHostId =
    oneLine("""CASE WHEN user_id % 3 = 0 THEN 'arn:aws:ecs:cluster/default:task/' || CAST(user_id AS VARCHAR)
      |     WHEN user_id % 3 = 1 THEN 'ip-address:10.0.0.' || CAST(user_id % 256 AS VARCHAR)
      |     ELSE 'uuid:instance/' || CAST(user_id AS VARCHAR) END""")
  private val duckShort =
    "regexp_replace(list_extract(string_split(host_id, ':'), -1), '^(task/|instance/)', '')"

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "events")

  val qs: Seq[Q] = Seq(
    Q("a1_source_scan",
      (s, dir) =>
        ev(s, dir)
          .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .orderBy("event_id"),
      Some("SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id")),

    Q("a2_envelope_project",
      (s, dir) =>
        envelope(ev(s, dir))
          .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("host_id"), col("short_host_id"))
          .orderBy("event_id"),
      Some(oneLine(s"""SELECT event_id, ts, host_id, $duckShort AS short_host_id
              | FROM (SELECT event_id, ts, $duckHostId AS host_id FROM events)
              | ORDER BY event_id"""))),

    Q("a3_json_parse",
      (s, dir) =>
        ev(s, dir).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("double").as("k_val"),
          get_json_object(col("props"), "$.missing").as("missing_val"))
          .orderBy("event_id"),
      Some(oneLine("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val,
             | json_extract_string(props, '$.missing') AS missing_val
             | FROM events ORDER BY event_id"""))),

    // Oracle renders with concat + coalesce('' for NULL) to match the
    // compiled template's null semantics exactly (a NULL field renders
    // empty; it must not null the whole line — ADVICE r1 low). The
    // timestamp body reproduces Go time.Time.String()'s trailing-zero
    // trim (bare {{.Timestamp}} renders Go-natively since r18): %f is
    // DuckDB's 6-digit microseconds; rtrim-'0' eats only fraction
    // zeros (it stops at the dot), rtrim-'.' drops a fully-zero
    // fraction's dot. Null semantics are ACTION-level (ADVICE r18): the
    // compiled template empties the whole {{.Timestamp}} action —
    // suffix included — on a NULL ts, so the oracle renders body+suffix
    // through `||` (NULL-propagating) inside ONE coalesce rather than
    // letting DuckDB's NULL-skipping concat leak the literal
    // ' +0000 UTC' past a NULL timestamp.
    Q("a4_template_render",
      (s, dir) => renderPipeline(ev(s, dir)).orderBy("event_id"),
      Some(oneLine(s"""SELECT event_id, concat($duckShort, ' ', coalesce(rtrim(rtrim(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '0'), '.') || ' +0000 UTC', ''), ' ', coalesce(props, '')) AS line
              | FROM (SELECT event_id, ts, props, $duckHostId AS host_id FROM events)
              | ORDER BY event_id"""))),

    // Nested JSON field access in a template ({{.Log.k}} — the reference's
    // `{{.Log.FieldName}}` navigation, main.go:50-51 / README.md:19).
    Q("a4b_template_nested",
      (s, dir) =>
        envelope(ev(s, dir)).select(
          col("event_id"),
          Template.compile(
            "{{.ShortHostId}} k={{.Log.k}}",
            Map(
              "ShortHostId" -> col("short_host_id"),
              "Log" -> col("props"))).as("line"))
          .orderBy("event_id"),
      Some(oneLine(s"""SELECT event_id, concat($duckShort, ' k=', coalesce(json_extract_string(props, '$$.k'), '')) AS line
              | FROM (SELECT event_id, props, $duckHostId AS host_id FROM events)
              | ORDER BY event_id"""))),

    // The round-14 template-language surface under the hash gate:
    // MULTI-LEVEL JSON navigation ({{.Env.outer.inner.k}} — Go fields
    // recurse arbitrarily, main.go:50-51 documents one level and the Go
    // library the rest), printf verb formatting, and the pipeline form
    // ({{.X | printf "fmt"}} appends the piped value LAST, Go's rule).
    // The nested JSON is synthesized identically on both engines by
    // wrapping the flat props payload two levels deep.
    Q("a4c_template_deep",
      (s, dir) => {
        val nested = ev(s, dir).withColumn("env",
          concat(lit("""{"outer": {"inner": """), col("props"), lit(""", "tag": "x"}}""")))
        nested.select(
          col("event_id"),
          Template.compile(
            """k={{.Env.outer.inner.k}} tag={{.Env.outer.tag}} n={{printf "%05d" .SequenceNumber}} {{.User | printf "u-%s"}}""",
            Map(
              "Env" -> col("env"),
              "SequenceNumber" -> col("event_id"),
              "User" -> col("user_id"))).as("line"))
          .orderBy("event_id")
      },
      Some(oneLine("""SELECT event_id,
                 | concat('k=', coalesce(json_extract_string(env, '$.outer.inner.k'), ''),
                 |   ' tag=', coalesce(json_extract_string(env, '$.outer.tag'), ''),
                 |   ' n=', printf('%05d', event_id),
                 |   ' ', printf('u-%s', CAST(user_id AS VARCHAR))) AS line
                 | FROM (SELECT event_id, user_id,
                 |   concat('{"outer": {"inner": ', props, ', "tag": "x"}}') AS env FROM events)
                 | ORDER BY event_id"""))),

    // The r19 Stringer-through-printf renderer under the HASH gate
    // (VERDICT r19 ask #5): Go's fmt calls time.Time's String() method
    // for the %v AND %s verbs (reference main.go:281-289 via
    // text/template's reflective print), so a bare Timestamp routed
    // through a printf action — argument form and pipeline form both —
    // must render the Go-native `yyyy-MM-dd HH:mm:ss[.fraction] +0000
    // UTC` line, not the raw column cast. TemplateSpec pins the golden
    // line; this pins the same render differentially against DuckDB
    // with a4's rtrim fraction twin + the constant zone suffix. A
    // numeric verb over the SAME scope (%d on the sequence) rides along
    // to prove the Stringer fires per-VALUE, not per-action.
    Q("a4d_template_printf",
      (s, dir) =>
        envelope(ev(s, dir)).select(
          col("event_id"),
          Template.compile(
            """v=[{{printf "%v" .Timestamp}}] s=[{{.Timestamp | printf "%s"}}] n={{printf "%d" .SequenceNumber}}""",
            Map(
              "Timestamp" -> col("ts"),
              "SequenceNumber" -> col("event_id"))).as("line"))
          .orderBy("event_id"),
      Some(oneLine("""SELECT event_id,
                 | concat('v=[', coalesce(rtrim(rtrim(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '0'), '.') || ' +0000 UTC', ''),
                 |   '] s=[', coalesce(rtrim(rtrim(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '0'), '.') || ' +0000 UTC', ''),
                 |   '] n=', printf('%d', event_id)) AS line
                 | FROM events ORDER BY event_id"""))),

    Q("a5_strftime",
      (s, dir) =>
        ev(s, dir).select(
          col("event_id"),
          Strftime.format(col("ts"), "%Y-%m-%d").as("d"),
          Strftime.format(col("ts"), "%H:%M:%S").as("t"),
          Strftime.format(col("ts"), "%Y-%m-%dT%H:%M:%S").as("iso"),
          Strftime.format(col("ts"), "%Y/%m/%d %H:%M").as("slashed"))
          .orderBy("event_id"),
      Some(oneLine("""SELECT event_id, strftime(ts, '%Y-%m-%d') AS d, strftime(ts, '%H:%M:%S') AS t,
             | strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso, strftime(ts, '%Y/%m/%d %H:%M') AS slashed
             | FROM events ORDER BY event_id"""))),

    // The computed day-of-week / week-number tokens under the hash gate:
    // these are the structural formulas java.time patterns can't express
    // (%u ISO dow, %w Sunday-dow, %U/%W POSIX week numbers, %V ISO week)
    // — DuckDB's strftime implements the same POSIX semantics, so every
    // event timestamp differentially checks the arithmetic (StrftimeSpec
    // pins the year-boundary cases the fixture window may not cover).
    Q("a5b_strftime_weeks",
      (s, dir) =>
        ev(s, dir).select(
          col("event_id"),
          Strftime.format(col("ts"), "%u|%w").as("dow"),
          Strftime.format(col("ts"), "%U|%W|%V").as("weeks"),
          Strftime.format(col("ts"), "%j %T").as("yday_time"))
          .orderBy("event_id"),
      Some(oneLine("""SELECT event_id, strftime(ts, '%u|%w') AS dow, strftime(ts, '%U|%W|%V') AS weeks,
             | strftime(ts, '%j %T') AS yday_time
             | FROM events ORDER BY event_id"""))),

    // The start-offset predicate is applied to the raw ns column inside
    // Tables.eventsSince so it pushes into the parquet scan (the
    // reference's server-side AT_TIMESTAMP, main.go:300-305); PlanSpec
    // asserts the PushedFilters line.
    Q("a6_time_filter",
      (s, dir) => {
        val startMicros = java.time.Instant.parse("2024-01-15T00:00:00Z")
          .getEpochSecond * 1000000L
        Tables.eventsSince(s, dir, startMicros)
          .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
          .orderBy("event_id")
      },
      Some(oneLine("""SELECT event_id, ts, event_type FROM events
             | WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' ORDER BY event_id"""))),

    Q("a7_batch_limit",
      (s, dir) =>
        ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"))
          .orderBy("event_id").limit(1000),
      Some("SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 1000")),

    Q("a8_ordered_replay",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val shard = (col("user_id") % 4).as("shard")
        ev(s, dir)
          .select(col("event_id"), shard)
          .withColumn("seq",
            row_number()
              .over(Window.partitionBy(col("shard")).orderBy(col("event_id")))
              .cast("long"))
          .orderBy("event_id")
      },
      Some(oneLine("""SELECT event_id, user_id % 4 AS shard,
             | row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS seq
             | FROM events ORDER BY event_id""")))
  )
}
