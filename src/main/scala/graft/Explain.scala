package graft
/** Dev plan inspector: prints the formatted physical plan of one or more
  * registry queries — the `.explain("formatted")` loop the scale review
  * runs after every operator change.
  *
  * Usage: runMain graft.Explain <sfDir> <queryId> [queryId ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, ids @ _*) = args
    val spark = Harness.session(Harness.cpus(4))
    ids.foreach { id =>
      println(s"==== $id ====")
      Registry.byId(id).build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
