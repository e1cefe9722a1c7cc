package graft

import graft.ops.expr.VecQuant

/** Plain-Scala reference for the exact-mode Lloyd training of `Ivf` and
  * `Pq`: seeds are the first k vectors by id, components
  * quantize to floor(x·2²⁴), each vector joins the lowest-index argmin of
  * the exact long squared distance, and a centroid component becomes
  * floor(Σq / count) (one IEEE division); an empty cell keeps its
  * centroid. */
object LloydReference {

  def quantize(v: Seq[Double]): Seq[Long] = v.map(VecQuant.q)

  /** Position of the nearest centroid, the lowest among ties. */
  def nearest(q: Seq[Long], centroids: Seq[Seq[Long]]): Int =
    centroids.indices.minBy { i =>
      (q.zip(centroids(i)).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }

  /** Quantized centroids after `iterations` steps over (id, vector) rows. */
  def train(rows: Seq[(Long, Seq[Double])], k: Int, iterations: Int): Seq[Seq[Long]] = {
    val qs = rows.sortBy(_._1).map(r => quantize(r._2))
    (0 until iterations).foldLeft(qs.take(k)) { (centroids, _) =>
      val members = qs.groupBy(nearest(_, centroids))
      centroids.indices.map { c =>
        members.get(c).fold(centroids(c))(m =>
          m.transpose.map(xs => math.floor(xs.sum.toDouble / m.size.toDouble).toLong))
      }
    }
  }
}
