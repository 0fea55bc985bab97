package graft
/** Dev smoke runner: drives the driver's t1 check (SparkEntry.entry
  * rows > 0 on sf0.001) and prints a sample of the rendered lines.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus(4))
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
