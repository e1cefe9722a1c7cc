package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive a 10× scale point from the sf0.1 fixtures for the sf1 scaling
  * evidence run (`tools/bench_sf1.json`): ten key-shifted replicas of
  * every FACT table unioned into one — the shard model (each replica is
  * internally consistent: every foreign key shifts by the same
  * replica-sized stride as its referenced primary key, so join
  * cardinalities scale exactly 10× and per-key selectivities are
  * preserved). Dimension tables bounded by the real world (region,
  * nation) keep ONE copy, as a real 10× corpus would. Strides are
  * max(key)+1 per table, read from the source.
  *
  * This is DERIVED evidence data, not a driver fixture: the driver's
  * correctness gate stays on /root/testdata; this exists so the "designed
  * for 100×" plan arguments carry one measured 10× point.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [replicas=10]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Harness.session()

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union `replicas` copies with each (column → stride) shifted by
      * r·stride; the replica index comes from one explode, so the whole
      * scale-up is a single narrow scan per table. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val reps = df.withColumn("__r",
        explode(sequence(lit(0L), lit(replicas - 1L))))
      shifts.foldLeft(reps) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__r") * lit(s))
      }.drop("__r")
    }

    def write(df: DataFrame, name: String): Unit = {
      // one part file per table: the downstream oracle tooling (DuckDB)
      // reads parquet FILES, and bench_sf1.sh fails on multi-part dirs.
      // repartition(1) (not coalesce) so the single-file constraint stays
      // on the WRITE side of a shuffle — the scan+replicate upstream keeps
      // full parallelism instead of collapsing into one task.
      df.repartition(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val cust = tbl("customer"); val custS = strideOf(cust, "c_custkey")
    val supp = tbl("supplier"); val suppS = strideOf(supp, "s_suppkey")
    val part = tbl("part"); val partS = strideOf(part, "p_partkey")
    val ord = tbl("orders"); val ordS = strideOf(ord, "o_orderkey")
    val docs = tbl("documents"); val docS = strideOf(docs, "doc_id")
    val emb = tbl("embeddings"); val embS = strideOf(emb, "vec_id")
    val ev = tbl("events")
    val evS = strideOf(ev, "event_id")
    val userS = ev.agg(max(col("user_id"))).head().getLong(0) + 1L

    // world-bounded dimensions: one copy
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(cust, "c_custkey" -> custS), "customer")
    write(replicate(supp, "s_suppkey" -> suppS), "supplier")
    write(replicate(part, "p_partkey" -> partS), "part")
    write(replicate(ord, "o_orderkey" -> ordS, "o_custkey" -> custS), "orders")
    write(replicate(tbl("lineitem"), "l_orderkey" -> ordS,
      "l_partkey" -> partS, "l_suppkey" -> suppS), "lineitem")
    write(replicate(ev, "event_id" -> evS, "user_id" -> userS), "events")
    write(replicate(docs, "doc_id" -> docS), "documents")
    write(replicate(emb, "vec_id" -> embS), "embeddings")
    spark.stop()
  }
}
