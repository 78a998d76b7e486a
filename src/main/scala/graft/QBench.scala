package graft

/** Dev utility: time (and optionally explain) a subset of the declared
  * queries. Usage: runMain graft.QBench [-explain] [-once] q40_minhash_lsh ...
  * SF dir from SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Default timing matches Bench: one untimed warm run, then the median
  * of three timed runs. `-once` gives the old single cold run (useful
  * when probing first-run behavior like footer-cache cost).
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val explain = args.contains("-explain")
    val once = args.contains("-once")
    val names = args.filterNot(_.startsWith("-"))
    val spark = GraftSession.local("graft-qbench")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      if (explain) df.explain("formatted")
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val sec =
        if (once) run()
        else { run(); Seq.fill(3)(run()).sorted.apply(1) }
      println(f"[qbench] $name $sec%.2f s")
      ops.Scratch.release(spark)
    }
    spark.stop()
  }
}
