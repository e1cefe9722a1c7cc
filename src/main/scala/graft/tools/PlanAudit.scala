package graft.tools
/** Dev-only: dump formatted plans for scan/join queries to audit pushdown,
  * pruning, and join strategy. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    val dir = "/root/testdata/sf0.01"
    val defaults = Seq("q_scan_project_filter", "q_join_broadcast", "q_join_shuffle",
      "q_topk", "q_agg_hash", "q_ngram_containment", "q_bm25",
      "q_dup_spans", "q_sliding_window", "q_vec_quantize")
    for (n <- if (args.nonEmpty) args.toSeq else defaults) {
      println(s"===== $n =====")
      println(graft.SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
