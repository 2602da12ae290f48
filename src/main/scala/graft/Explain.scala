package graft

/** Plan-inspection runner: dumps the formatted physical plan of each
  * registered query (or the ones named as extra args) so scan pruning
  * (ReadSchema/PushedFilters), join strategies (BroadcastHashJoin vs
  * SortMergeJoin), TakeOrderedAndProject, and WholeStageCodegen spans
  * can be audited. Usage:
  *   sbt "runMain graft.Explain /root/testdata/sf0.01 [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Registry.all
      .filter(q => only.isEmpty || only(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        try println(q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case t: Throwable => println(s"explain failed: $t") }
      }
    spark.stop()
  }
}
