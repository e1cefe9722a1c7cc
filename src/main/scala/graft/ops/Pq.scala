package graft.ops

import graft.ops.expr.VecQuant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization: split each d-dim vector into `subspaces` contiguous
  * sub-vectors, train an independent codebook of `k` centroids per subspace
  * (one Lloyd iteration, deterministic seeds), and encode every vector as
  * `subspaces` small code ids. Search runs ADC (asymmetric distance
  * computation): a query precomputes its distance to every (subspace,
  * centroid) cell — `subspaces·k` longs — and a candidate's approximate
  * distance is a table lookup-and-sum over its codes, never an O(d) dot.
  *
  * This is the memory half of the IVF-PQ stack every billion-vector ANN
  * deployment runs: codes are `subspaces·log2(k)` bits per vector (4 bytes
  * at the queries' 8×16 configuration vs 256 for the raw floats), so the
  * candidate stream the ADC join
  * scans is ~30× smaller than the embedding column itself. Arithmetic is
  * the [[graft.ops.expr.VecQuant]] quantized-integer contract throughout —
  * components quantize to floor(x·2²⁴), distances and centroid updates are
  * exact long folds — so training, codes, and rankings replay in any engine.
  *
  * Scale notes: codebooks are `subspaces·k·(d/subspaces)` longs — at
  * production size (8×256×128 over dim 1024) that is 256 KB, always
  * broadcastable; only codebooks ever reach the driver. Encoding and ADC
  * are single-pass map-side plans; the only shuffle in search is the final
  * per-query top-k aggregation.
  */
object Pq {

  /** One codebook cell: subspace, code id, quantized centroid. */
  final case class Cell(s: Int, c: Int, centroid: Seq[Long])

  private def subvec(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  /** The vectors as (idCol, s, sv) rows, one per subspace. */
  private def subvectors(vectors: DataFrame, idCol: String, vecCol: String,
                         subspaces: Int, subDim: Int): DataFrame =
    vectors.select(col(idCol),
      explode(array((0 until subspaces).map { s =>
        struct(lit(s).as("s"), subvec(col(vecCol), s, subDim).as("sv"))
      }: _*)).as("v"))
      .select(col(idCol), col("v.s").as("s"), col("v.sv").as("sv"))

  /** Each (s, sv) row's nearest code in its subspace's codebook, a
    * DataFrame of (s, code, centroid) cells: a broadcast join on s against
    * the per-subspace codebook rows ([[Ivf.codebook]]), then one
    * `vec_nearest` call per row (ties → lowest code). */
  private def codesByJoin(sv: DataFrame, cells: DataFrame): DataFrame =
    sv.join(broadcast(Ivf.codebook(cells, Seq("s"), "code", exact = true)), Seq("s"))
      .withColumn("code", Ivf.nearestId(col("sv")))

  /** Train per-subspace codebooks: [[trainDf]], collected and sorted
    * (s, code). Returns `subspaces·k` cells (tiny; broadcast-safe) — callers
    * at extreme k should consume [[trainDf]] + [[encodeByJoin]] and keep
    * codebooks off the driver entirely. */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
            subspaces: Int, k: Int): Seq[Cell] =
    trainDf(vectors, idCol, vecCol, subspaces, k)
      .collect()
      .map(r => Cell(r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(c => (c.s, c.c)).toSeq

  /** Train per-subspace codebooks as a (s, code, centroid) DataFrame: seeds
    * are the first `k` vectors by id (their quantized sub-vectors), refined
    * by one Lloyd iteration whose centroid update re-quantizes
    * floor(Σqx/count) — the same engine-replayable step [[Ivf.train]]'s
    * exact mode uses. Nothing subspaces·k·subDim-sized reaches the driver.
    * Assignment streams the exploded (id, s, sv) sub-vectors past the
    * broadcast codebook rows joined on s; the update is one hash agg per
    * (s, code, i); empty cells keep their seed via the left join. */
  def trainDf(vectors: DataFrame, idCol: String, vecCol: String,
              subspaces: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = vectors.select(size(col(vecCol))).head().getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible by $subspaces")
    val subDim = dim / subspaces
    val q: Column => Column = x => floor(x.cast("double") * VecQuant.Scale)
    // seeds: first k by id, exploded per subspace, quantized to longs; the
    // row_number window spans only the k-row limit result
    val seeds = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__sid"), col(vecCol))
      .withColumn("code", row_number().over(Window.orderBy(col("__sid"))) - 1)
      .select(explode(array((0 until subspaces).map { s =>
        struct(lit(s).as("s"), col("code"),
          transform(subvec(col(vecCol), s, subDim), x => q(x).cast("long")).as("centroid"))
      }: _*)).as("c"))
      .select(col("c.s"), col("c.code"), col("c.centroid"))
      .localCheckpoint(true)
    val updated = codesByJoin(subvectors(vectors, idCol, vecCol, subspaces, subDim), seeds)
      .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy("s", "code", "i")
      .agg(floor(sum(q(col("x"))).cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("m"))
      .groupBy("s", "code")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        e => e.getField("m")).as("upd"))
    seeds.join(updated, Seq("s", "code"), "left")
      .select(col("s"), col("code"),
        coalesce(col("upd"), col("centroid")).as("centroid"))
  }

  /** Encode: one row per (id, subspace) with the nearest code id — the
    * long-format code table an ADC join consumes (8 rows/vector here; a
    * production sink would pack them into one long). The codebook is one
    * literal of per-subspace code and centroid arrays, indexed by s. */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
             cells: Seq[Cell], subspaces: Int, subDim: Int): DataFrame = {
    val bySub = (0 until subspaces).map(s => cells.filter(_.s == s).sortBy(_.c))
    subvectors(vectors, idCol, vecCol, subspaces, subDim)
      .select(col(idCol), col("s"), Ivf.nearestId(col("sv"),
        typedLit(bySub.map(_.map(_.c))).getItem(col("s")),
        typedLit(bySub.map(_.map(_.centroid))).getItem(col("s"))).as("code"))
  }

  /** Encode against a (s, code, centroid) DataFrame codebook — [[encode]]
    * with the codebook broadcast instead of inlined; same codes. */
  def encodeByJoin(vectors: DataFrame, idCol: String, vecCol: String,
                   cells: DataFrame, subspaces: Int, subDim: Int): DataFrame =
    codesByJoin(subvectors(vectors, idCol, vecCol, subspaces, subDim), cells)
      .select(col(idCol), col("s"), col("code"))

  /** Per-query ADC lookup table: distance from the query's sub-vector to
    * every (subspace, code) centroid — `subspaces·k` rows per query, the
    * small side of the search join. The cells are one literal, exploded
    * per query through the distance kernel. */
  def adcTable(queries: DataFrame, idCol: String, vecCol: String,
               cells: Seq[Cell], subDim: Int): DataFrame =
    queries.select(col(idCol), col(vecCol),
      explode(typedLit(cells.map(c => (c.s, c.c, c.centroid)))).as("t"))
      .select(col(idCol), col("t._1").as("s"), col("t._2").as("code"),
        VecQuant.dist2Column(slice(col(vecCol), col("t._1") * subDim + 1, lit(subDim)),
          col("t._3")).as("d2"))
}
