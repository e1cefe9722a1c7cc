package graft.ops

import graft.ops.expr.{VecMath, VecQuant}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style coarse quantization for ANN search: k coarse centroids
  * partition the vector space; each vector is indexed under its nearest
  * centroid; a query probes only the `nprobe` nearest cells. The index build
  * is a distributed Lloyd iteration (assignment = the `vec_nearest` kernel
  * against a one-row broadcast codebook, update = posexplode + hash agg);
  * only the k×dim centroid table ever reaches the driver. Complements
  * [[Lsh]]: IVF adapts to the data distribution where hyperplane LSH is
  * oblivious.
  *
  * Every assignment is one [[graft.ops.expr.VecNearest]] call per row: the
  * lowest-index argmin over a codebook sorted by cluster id, so ties go to
  * the lowest id. A `Seq` codebook reaches it as one literal, a DataFrame
  * codebook as the one-row broadcast [[codebook]]; either way the plan size
  * does not grow with k. `exact = true` measures the quantized-integer
  * distance ([[graft.ops.expr.VecQuant.dist2]]): components quantize to
  * floor(x·2²⁴) and the squared distance is an exact long sum, so every
  * argmin over it is engine- and order-independent, the contract
  * oracle-checked queries need. In exact mode centroid components are
  * already-quantized integers carried as doubles (exactly, they are < 2⁵³).
  */
object Ivf {

  /** A codebook table as one row per `keys` group: `__ids`, its `id`
    * column in ascending order, and `__cs`, the matching centroids cast to
    * the nearest kernel's type — the broadcast side of every DataFrame
    * assignment ([[nearestId]] reads the two columns). */
  private[graft] def codebook(cells: DataFrame, keys: Seq[String], id: String,
                              exact: Boolean): DataFrame =
    cells.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(id), col("centroid")))).as("__cb"))
      .select(keys.map(col) ++ Seq(col(s"__cb.$id").as("__ids"),
        col("__cb.centroid").cast(if (exact) "array<array<bigint>>" else "array<array<double>>")
          .as("__cs")): _*)

  /** The (cluster, centroid) codebook as one row. */
  private[graft] def codebook(centroids: DataFrame, exact: Boolean): DataFrame =
    codebook(centroids, Nil, "cluster", exact)

  /** The id in `ids` at the position of `v`'s nearest centroid in `cs`. */
  private[graft] def nearestId(v: Column, ids: Column = col("__ids"),
                               cs: Column = col("__cs")): Column =
    ids.getItem(VecMath.nearestColumn(v, cs))

  /** A `Seq` codebook as (ids, centroids) literals sorted by id. */
  private[graft] def literal(centroids: Seq[(Int, Seq[Double])],
                             exact: Boolean): (Column, Column) = {
    val sorted = centroids.sortBy(_._1)
    (typedLit(sorted.map(_._1)),
      if (exact) typedLit(sorted.map(_._2.map(_.toLong))) else typedLit(sorted.map(_._2)))
  }

  /** Nearest-centroid id for a vector column (ties → lowest id). */
  def nearestCentroid(v: Column, centroids: Seq[(Int, Seq[Double])],
                      exact: Boolean = false): Column = {
    val (ids, cs) = literal(centroids, exact)
    nearestId(v, ids, cs)
  }

  /** Train k coarse centroids: [[trainDf]], collected. Returns the k×dim
    * table sorted by cluster (small; safe to collect/broadcast) — callers at
    * extreme k should consume [[trainDf]] + [[assignByJoin]] and never
    * materialize centroids on the driver at all. */
  def train(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
            iterations: Int = 1, exact: Boolean = false): Seq[(Int, Seq[Double])] =
    trainDf(vectors, idCol, vecCol, k, iterations, exact)
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq

  /** Lloyd training as DataFrame jobs: deterministic seeds (first k vectors
    * by id), then `iterations` steps. The centroid table stays a (cluster,
    * centroid) DataFrame end to end, so nothing k×dim-sized reaches the
    * driver. Assignment is [[assignByJoin]]; the update re-assembles
    * per-cluster component means into arrays inside one hash agg; empty
    * cells keep their previous centroid via the left join. Each round
    * localCheckpoints eagerly — iterative self-joins otherwise double the
    * logical plan per iteration.
    *
    * Exact mode: components quantize to floor(x·2²⁴); the updated centroid
    * component is floor(Σqx / count) — the long sum is exact (and < 2⁵³, so
    * its double image is too), the IEEE division is exactly rounded, and
    * the floor re-quantizes, so the trained centroids (and every distance
    * computed against them) replay bit-identically elsewhere. Fast mode is
    * a plain average. */
  def trainDf(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
              iterations: Int = 1, exact: Boolean = false): DataFrame = {
    val q: Column => Column = x => floor(x.cast("double") * VecQuant.Scale)
    val component: Column => Column =
      if (exact) x => q(x).cast("double") else x => x.cast("double")
    val mean: Column =
      if (exact) floor(sum(q(col("__x"))).cast("double") / count(lit(1)).cast("double"))
        .cast("double")
      else avg(col("__x").cast("double"))
    // seeds: first k by id; the row_number window spans only the k-row
    // limit result, never the corpus
    val seeds = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__sid"), transform(col(vecCol), component).as("centroid"))
      .withColumn("cluster", row_number().over(Window.orderBy(col("__sid"))) - 1)
      .select(col("cluster"), col("centroid"))
      .localCheckpoint(true)
    (0 until iterations).foldLeft(seeds) { (centroids, _) =>
      val updated = assignByJoin(vectors, idCol, vecCol, centroids, exact)
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("__p", "__x")))
        .groupBy("cluster", "__p")
        .agg(mean.as("__m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("__p"), col("__m")))),
          s => s.getField("__m")).as("upd"))
      centroids.join(updated, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("upd"), col("centroid")).as("centroid"))
        .localCheckpoint(true)
    }
  }

  /** Assignment against a (cluster, centroid) DataFrame: [[index]] with
    * the codebook broadcast as the one-row [[codebook]] instead of inlined.
    * Returns (idCol, vecCol, cluster). */
  def assignByJoin(vectors: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, exact: Boolean = false): DataFrame =
    vectors.crossJoin(broadcast(codebook(centroids, exact)))
      .select(col(idCol), col(vecCol), nearestId(col(vecCol)).as("cluster"))

  /** Index: (id, vector, cluster) assignment of every vector; a null vector
    * gets a null cluster. */
  def index(vectors: DataFrame, idCol: String, vecCol: String,
            centroids: Seq[(Int, Seq[Double])], exact: Boolean = false): DataFrame =
    vectors.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), centroids, exact).as("cluster"))

  /** Top-`nprobe` nearest cells per query vector (`idCol` identifies the
    * query row): the codebook literal posexploded once per query, one
    * distance kernel call per cell, ranked by (d2, cluster). */
  def probes(queries: DataFrame, idCol: String, vecCol: String,
             centroids: Seq[(Int, Seq[Double])], nprobe: Int,
             exact: Boolean = false): DataFrame = {
    val (ids, cs) = literal(centroids, exact)
    val d2: Column =
      if (exact) VecQuant.dist2Column(col(vecCol), col("__c"))
      else VecMath.dist2Column(col(vecCol), col("__c"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("d2"), col("cluster"))
    queries.select(col("*"), posexplode(cs).as(Seq("__p", "__c")))
      .withColumn("cluster", ids.getItem(col("__p")))
      .withColumn("d2", d2)
      .drop("__p", "__c")
      .withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nprobe)
      .drop("__pr", "d2")
  }
}
