package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev plan inspector: prints the formatted physical plan of one or more
  * registry queries — the `.explain("formatted")` loop the scale review
  * runs after every operator change. Expression ids (`#123`) and
  * exchange `plan_id=` values print as one fixed token, so the plans of
  * two builds compare with plain `diff`.
  *
  * Usage: runMain graft.Explain <sfDir> <queryId> [queryId ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, ids @ _*) = args
    val spark = Harness.session(Harness.cpus(4))
    ids.foreach { id =>
      println(s"==== $id ====")
      val plan = Registry.byId(id).build(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      println(plan.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x"))
    }
    spark.stop()
  }
}
