package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Queries run CONCURRENTLY from the harness pool (guide §2.6: overlap
    // independent jobs so the next query's tasks back-fill cores the
    // current query's straggler tail leaves idle — at verify scale most
    // queries keep only a few of the 32 cores busy). Each query's plan, its
    // result, and its output file are untouched: outputs go to disjoint
    // per-query directories, every registered query is deterministic
    // (trailing ORDER BY convention), and SessionCache memoizes shared
    // artifacts under a per-entry lock, so concurrent consumers block on
    // one build exactly as sequential ones did.
    val failed = Harness.inPool(SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> (() =>
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
      })
    for ((name, e) <- failed)
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    def q(s: String): String = "\"" + graft.util.Json.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${failed.map(_._1).mkString(",")}")
      sys.exit(1)
    }
  }
}
