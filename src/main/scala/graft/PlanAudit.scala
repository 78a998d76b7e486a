package graft

/** Dev tool: physical-plan shape audit over named queries (or the whole
  * inventory) — counts exchanges / joins per plan so a new operator's
  * shuffle shape is reviewed the way the SURVEY ledger documents it.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = GraftSession.local("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, dir).queryExecution.executedPlan.toString
          def n(re: String) = re.r.findAllIn(plan).length
          val ex = n("Exchange") - n("ReusedExchange")
          println(s"$name  exchanges=$ex (bcast=${n("BroadcastExchange")}, " +
            s"reused=${n("ReusedExchange")}) smj=${n("SortMergeJoin")} " +
            s"cartesian=${n("CartesianProduct")} " +
            s"bnlj=${n("BroadcastNestedLoopJoin")}")
        } catch {
          case e: Throwable => println(s"$name  FAILED: ${e.getMessage}")
        } finally ops.Scratch.release(spark)
      }
    spark.stop()
  }
}
