package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: an id from SURVEY.md §2, a DataFrame builder
  * over a scale-factor directory, and (when SQL-expressible) a hand-written
  * DuckDB oracle that must hash-match the builder's output.
  *
  * A pure-SQL query (the engine's SQL surface) is declared with
  * [[Q.sql]] and ships ONE text: Spark runs it over views named after the
  * tables, and the same text is the oracle. A separate `duck` text is only
  * for a real dialect difference (`::BIGINT`, `<<`, `//`).
  *
  * An oracle stage that two or more queries use is one named fragment: a
  * `|`-margin string beside the queries (`nearDupLabelsCte`,
  * `centroidAssignCte`), parameterized only where the uses differ and
  * interpolated into each oracle text before [[Q.oneLine]] strips it.
  * `HarnessSpec` fails when 8 margin lines are pasted into two entries.
  *
  * Determinism contract (SURVEY.md §7): every oracled query ends in a
  * total-order ORDER BY; float aggregates are rounded or computed in
  * DECIMAL; timestamps are emitted as TIMESTAMP_NTZ so both engines write
  * naive microsecond values; no MapType or raw float-array output columns.
  * DECIMAL is an INTERNAL type only — exact sums run in decimal but every
  * OUTPUT column is cast to double, because a decimal output stringifies
  * scale-padded ("61309.40") on the parquet side while the DuckDB oracle
  * yields a float ("61309.4"), failing the driver's value-hash compare.
  */
final case class Q(
    id: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Q {

  /** A query written once as SQL: Spark runs `text` over the views
    * [[views]] registers, and DuckDB runs `duck.getOrElse(text)` over the
    * same tables. Both texts are margin-stripped onto one line.
    */
  def sql(id: String, text: String, duck: Option[String] = None): Q = {
    val line = oneLine(text)
    Q(id, (s, dir) => { views(s, dir, line); s.sql(line) }, Some(duck.fold(line)(oneLine)))
  }

  /** Registers a temp view, under the table's own name, for every
    * [[Tables.names]] table that `text` names as a word. A word that is
    * not a table reference (a column alias `nation`) only registers a
    * view nothing reads.
    */
  def views(s: SparkSession, dir: String, text: String): Unit =
    Tables.names.filter(n => s"\\b$n\\b".r.findFirstIn(text).isDefined)
      .foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))

  /** `s` margin-stripped onto one line: the normal form of every SQL
    * text the registry ships, to Spark or to the oracle.
    */
  private[graft] def oneLine(s: String): String = s.stripMargin.replace("\n", " ").trim
}

object Registry {
  import graft.operators._

  lazy val all: Seq[Q] =
    EnvelopeOps.qs ++ RelationalOps.qs ++ StreamingOps.qs ++ LlmOps.qs ++ PipelineOps.qs

  lazy val byId: Map[String, Q] = all.map(q => q.id -> q).toMap
}
