package graft.ops

import graft.SparkSpec

/** Plan guard: every key that buckets embeddings computes the bucket with
  * the native LshBucket kernel inside a whole-stage-codegen span, and no
  * higher-order-function lambda (the interpreted zip_with/aggregate form)
  * is left in its executed plan. */
class LshBucketPlanSpec extends SparkSpec {
  Seq("q38_lsh_buckets", "q43_embedding_neardup", "q44_ann_probe",
      "q92_knn_graph", "q163_truncation_eval").foreach { key =>
    test(s"$key buckets with the codegen'd LshBucket kernel") {
      val df = graft.SparkEntry.queries(key)(spark, sf)
      df.collect()
      // AQE shows codegen spans only in the final (post-execution) plan
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("== Final Plan =="), plan)
      val bucketLines = plan.linesIterator.filter(_.contains("lshbucket(")).toSeq
      assert(bucketLines.nonEmpty, plan)
      bucketLines.foreach(l => assert(l.contains("*("), s"$l\n$plan"))
      assert(!plan.contains("zip_with") && !plan.contains("lambdafunction"), plan)
    }
  }
}
