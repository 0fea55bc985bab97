package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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

  test("no file in src/main drains serially through toLocalIterator") {
    // One job per partition, one after another: Tail.drainOrdered's
    // parallel, ordered drain replaced it.
    val sites = sitesOf("toLocalIterator")
    assert(sites.isEmpty, s"toLocalIterator in: ${sites.mkString(", ")}")
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
