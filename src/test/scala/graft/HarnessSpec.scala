package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[Harness]] is the one place the engine builds a `SparkSession` and
  * isolates one query from the next.
  */
class HarnessSpec extends SparkTestBase {

  test("no file in src/main builds a SparkSession outside Harness") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val s = Files.walk(root)
    val sites =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Harness.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList.sorted
      finally s.close()
    assert(sites.isEmpty, s"SparkSession.builder outside Harness.scala: ${sites.mkString(", ")}")
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
