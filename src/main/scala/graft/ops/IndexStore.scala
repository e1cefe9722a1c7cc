package graft.ops

import graft.util.{DirSwap, LocalFs}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for trained ANN index artifacts — the train-once /
  * load-many lifecycle every production deployment runs: at 100 TB the
  * quantizers are trained on one scheduled job and every encoder, searcher
  * and monitor loads the SAME artifact (retraining per query run would
  * both waste the cluster and silently shift bucket/code assignments
  * between runs, corrupting incremental indexes).
  *
  * Artifacts are plain parquet — readable by any engine, diffable by the
  * lake's usual tooling, and tiny (codebooks are subspaces·k·subDim longs,
  * coarse centroids k·dim doubles). Writes go through a temp-dir +
  * atomic-rename install so a concurrent loader never sees a partial
  * artifact; each artifact carries its geometry columns so [[loadPq]] /
  * [[loadIvf]] can validate a loaded index against the caller's
  * expectation instead of mis-encoding silently.
  */
object IndexStore {

  // ---- PQ codebooks -----------------------------------------------------

  /** Persist PQ codebooks at `path` (overwrite-install). */
  def savePq(spark: SparkSession, path: String, cells: Seq[Pq.Cell]): Unit = {
    import spark.implicits._
    install(spark, path,
      cells.map(c => (c.s, c.c, c.centroid)).toDF("s", "code", "centroid"))
  }

  /** Load PQ codebooks; validates the stored geometry when expectations
    * are given. Returns cells sorted (s, code) — the [[Pq.train]] order. */
  def loadPq(spark: SparkSession, path: String,
             expectSubspaces: Int = -1, expectK: Int = -1): Seq[Pq.Cell] = {
    DirSwap.recover(spark, path)
    val cells = spark.read.parquet(path)
      .select(col("s").cast("int"), col("code").cast("int"), col("centroid"))
      .collect()
      .map(r => Pq.Cell(r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(c => (c.s, c.c)).toSeq
    val (ss, ks) = (cells.map(_.s).distinct.size, cells.map(_.c).distinct.size)
    require(expectSubspaces < 0 || ss == expectSubspaces,
      s"loaded PQ artifact has $ss subspaces, caller expects $expectSubspaces")
    require(expectK < 0 || ks == expectK,
      s"loaded PQ artifact has $ks codes/subspace, caller expects $expectK")
    cells
  }

  // ---- IVF coarse centroids --------------------------------------------

  /** Persist IVF coarse centroids at `path` (overwrite-install). */
  def saveIvf(spark: SparkSession, path: String,
              centroids: Seq[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    install(spark, path, centroids.toDF("cluster", "centroid"))
  }

  /** Load IVF centroids sorted by cluster id; validates k when given. */
  def loadIvf(spark: SparkSession, path: String,
              expectK: Int = -1): Seq[(Int, Seq[Double])] = {
    DirSwap.recover(spark, path)
    val cs = spark.read.parquet(path)
      .select(col("cluster").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq
    require(expectK < 0 || cs.size == expectK,
      s"loaded IVF artifact has ${cs.size} centroids, caller expects $expectK")
    cs
  }

  /** The codebook table as a DataFrame, never collected to the driver —
    * the load-side companion of [[Pq.trainDf]] / [[Ivf.trainDf]], feeding
    * [[Pq.encodeByJoin]] / [[Ivf.assignByJoin]] (and
    * [[graft.stream.IvfIndexMaintainer]]'s one-row codebook) directly. */
  def loadPqDf(spark: SparkSession, path: String): DataFrame = {
    DirSwap.recover(spark, path)
    spark.read.parquet(path).select(col("s").cast("int"),
      col("code").cast("int"), col("centroid"))
  }

  def loadIvfDf(spark: SparkSession, path: String): DataFrame = {
    DirSwap.recover(spark, path)
    spark.read.parquet(path).select(col("cluster").cast("int"), col("centroid"))
  }

  /** Single-file overwrite through [[DirSwap]]: a loader sees
    * the old artifact or the new one, never a partial directory. */
  private def install(spark: SparkSession, path: String, df: DataFrame): Unit =
    DirSwap.install(spark, path)(
      df.coalesce(1).write.options(LocalFs.options).mode("overwrite").parquet(_))
}
