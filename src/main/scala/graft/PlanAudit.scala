package graft

/** Dumps formatted physical plans for the headline queries so scan
  * pushdown (PushedFilters), column pruning (ReadSchema), and join
  * strategies (Broadcast vs SortMerge) can be audited per round.
  * Run: `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.PlanAudit [query ...]"`
  * (the sf dir defaults to sf0.01).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession(cpus, "graft-plan-audit")
    val dir = "/root/testdata/sf0.01"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", dir)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q3_top_unshipped", "q5_region_revenue",
        "join_asof", "idx_index_files", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "ann_bruteforce", "text_stats")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
