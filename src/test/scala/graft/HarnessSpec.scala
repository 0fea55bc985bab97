package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col

/** [[Harness]] is the one place the engine builds a `SparkSession` and
  * isolates one query from the next.
  */
class HarnessSpec extends SparkTestBase {

  /** Sources under src/main/scala, other than `except`, that contain `needle`. */
  private def sitesOf(needle: String, except: String = ""): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != except)
      .filter(p => Files.readString(p).contains(needle))
      .map(root.relativize(_).toString).toList.sorted
    finally s.close()
  }

  test("no file in src/main builds a SparkSession outside Harness") {
    val sites = sitesOf("SparkSession.builder", except = "Harness.scala")
    assert(sites.isEmpty, s"SparkSession.builder outside Harness.scala: ${sites.mkString(", ")}")
  }

  test("the engine session keeps compiled code across sessions: artifact isolation is off") {
    val (key, off) = Harness.NoArtifactIsolation
    assert(off == "false")
    assert(spark.conf.get(key) == off)
  }

  test("no file in src/main drains serially through toLocalIterator") {
    // One job per partition, one after another: Tail.drainOrdered's
    // parallel, ordered drain replaced it.
    val sites = sitesOf("toLocalIterator")
    assert(sites.isEmpty, s"toLocalIterator in: ${sites.mkString(", ")}")
  }

  test("no file in src/main materializes a frame outside Harness") {
    // Harness.materialize picks the form per deployment; a raw call
    // elsewhere fails its query on a cluster once an executor is lost.
    val sites = Seq(".localCheckpoint(", ".checkpoint(", ".persist(", ".cache()")
      .flatMap(n => sitesOf(n, except = "Harness.scala").map(f => s"$f ($n)"))
    assert(sites.isEmpty, s"materialized outside Harness.scala: ${sites.mkString(", ")}")
  }

  test("no file in src/main registers a temp view outside Q.views and i68's derived frame") {
    // A SQL-surface query ships one text through Q.sql, whose views
    // Q.views registers; a hand-registered view is where a Spark-only
    // twin of an oracle text starts.
    val needle = "createOrReplaceTempView("
    val counts = sitesOf(needle).map { f =>
      f -> (Files.readString(Paths.get("src/main/scala", f)).split(Pattern.quote(needle), -1).length - 1)
    }.toMap
    assert(counts == Map("graft/Registry.scala" -> 1, "graft/operators/PipelineOps.scala" -> 1),
      s"createOrReplaceTempView sites per file: $counts")
  }

  /** The runs of consecutive `|`-margin lines (trimmed) of each registry
    * entry under graft/operators, with the entry's query id. An entry runs
    * from its `Q(`/`Q.sql(` line to the next one or to the next line at
    * member indentation, so a fragment defined outside `qs` is in none.
    */
  private def registryMarginRuns(): Seq[(String, Vector[String])] = {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val start = """\s*Q(?:\.sql)?\("([^"]+)".*""".r
    val s = Files.list(root)
    try s.iterator().asScala.toSeq.sorted.flatMap { p =>
      val runs = Seq.newBuilder[(String, Vector[String])]
      var id = Option.empty[String]
      var run = Vector.empty[String]
      def flush(): Unit = {
        if (run.nonEmpty) id.foreach(q => runs += q -> run)
        run = Vector.empty
      }
      Files.readAllLines(p).asScala.foreach {
        case start(q) => flush(); id = Some(q)
        case l if l.trim.startsWith("|") => run :+= l.trim
        case l => flush(); if (l.matches("  \\S.*")) id = None
      }
      flush()
      runs.result()
    } finally s.close()
  }

  test("no run of 8 margin lines is typed into two registry entries") {
    // An oracle stage that two queries share is one named fragment; a
    // pasted copy is where a fix to one of them misses the other. A
    // query's own Spark text and duck text sit in one entry (b24, b28).
    val shared = registryMarginRuns()
      .flatMap { case (q, run) => run.sliding(8).filter(_.size == 8).map(_ -> q) }
      .groupBy(_._1).map { case (w, owners) => w -> owners.map(_._2).distinct }
      .filter(_._2.size > 1)
    assert(shared.isEmpty, shared.map { case (w, qs) =>
      s"${qs.mkString(", ")} share:\n  ${w.mkString("\n  ")}" }.mkString("\n"))
  }

  /** A frame with a shuffle, and its rows. */
  private def grouped() = {
    val df = spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    (df, rowSet(df))
  }

  test("off local mode a materialized frame recomputes its lost blocks; a local checkpoint cannot") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val (df, want) = grouped()
    val m = Harness.materialize(df, eager = true, local = false)
    assert(rowSet(m) == want)
    Harness.isolate(spark) // drops every block, as losing the executor that held them would
    assert(rowSet(m) == want)
    val raw = df.localCheckpoint(eager = true)
    assert(rowSet(raw) == want)
    Harness.isolate(spark)
    val e = intercept[SparkException](raw.collect())
    assert(ExceptionUtils.getRootCauseMessage(e).contains("Checkpoint block"), e)
  }

  test("off local mode with a checkpoint dir a materialized frame reads its reliable checkpoint") {
    // A SparkContext's checkpoint dir cannot be unset, so it stays set for
    // the suites after this one; on a local master materialize never
    // reads it.
    val dir = Files.createTempDirectory("graft-harness-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val (df, want) = grouped()
      val m = Harness.materialize(df, eager = true, local = false)
      assert(m.queryExecution.executedPlan.toString.contains("ExistingRDD"))
      Harness.isolate(spark)
      assert(rowSet(m) == want)
    } finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("isolate unpersists a localCheckpoint's RDD") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = spark.range(1000).selectExpr("id % 7 AS k").localCheckpoint(eager = true)
    assert(df.count() == 1000)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint registered no persistent RDD")
    Harness.isolate(spark)
    assert((sc.getPersistentRDDs.keySet & added).isEmpty,
      s"still persisted after isolate: ${sc.getPersistentRDDs.keySet & added}")
  }
}
