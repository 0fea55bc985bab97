package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM; sbt forks once), at a
  * fixed `local[4]` whatever `SPARK_GRAFT_CPUS` or `SPARK_GRAFT_MASTER`
  * say.
  */
object SparkTestBase {
  lazy val session: SparkSession =
    Harness.session("local[4]", 4, Some("/tmp/graft-test-warehouse"))
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Names of the entries in `java.io.tmpdir` that start with `prefix`. */
  def tempEntries(prefix: String): Set[String] = {
    val s = java.nio.file.Files.list(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    } finally s.close()
  }

  /** Order-insensitive row comparison on stringified cells. */
  def rowSet(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).map(_.toSeq).toSet

  def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = rowSet(got); val w = rowSet(want)
    val missing = w -- g; val extra = g -- w
    assert(missing.isEmpty && extra.isEmpty,
      s"row mismatch: missing=${missing.take(3)} extra=${extra.take(3)} " +
        s"(got ${g.size} rows, want ${w.size})")
  }
}
