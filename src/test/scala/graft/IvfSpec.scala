package graft

import graft.ops.Ivf
import graft.queries.Q

import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  lazy val e = Q.tbl(spark, sfDir, "embeddings").cache()

  test("IVF: every vector lands in exactly one of k cells; cells cover data") {
    val centroids = Ivf.train(e, "vec_id", "embedding", k = 8)
    assert(centroids.size == 8)
    assert(centroids.forall(_._2.size == 64))
    val idx = Ivf.index(e, "vec_id", "embedding", centroids)
    assert(idx.count() == e.count())
    val cells = idx.groupBy("cluster").count().count()
    assert(cells > 1, "all vectors in one cell — training degenerated")
  }

  test("IVF probes: nprobe cells per query, nearest cell first") {
    val centroids = Ivf.train(e, "vec_id", "embedding", k = 8)
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val p = Ivf.probes(q, "query_id", "qv", centroids, nprobe = 3)
    val perQuery = p.groupBy("query_id").count().select("count")
      .as[Long].collect()
    assert(perQuery.forall(_ == 3))
    // a query's own indexed cell must be among its probes (recall sanity)
    val own = Ivf.index(e.filter($"vec_id" < 5), "vec_id", "embedding", centroids)
      .select($"vec_id".as("query_id"), $"cluster".as("own_cluster"))
    val joined = p.join(own, "query_id")
      .filter($"cluster" === $"own_cluster").select("query_id").distinct().count()
    assert(joined == 5)
  }

  // synthetic corpus big enough for k=256 (the fixture has too few rows):
  // 600 16-dim vectors with a fixed seed
  private lazy val synth: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(3)
    (0 until 600).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f).toSeq))
  }
  private lazy val vecs = synth.toDF("vec_id", "embedding").localCheckpoint(true)

  test("large-k training matches the plain-Scala reference; both public forms agree") {
    val rows = synth.map { case (id, v) => id -> v.map(_.toDouble) }
    def centroids(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Double])] =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    // exact mode, so the comparison is bit-for-bit
    val small = Ivf.train(vecs, "vec_id", "embedding", k = 32, iterations = 2, exact = true)
    assert(small.map(_._2) == LloydReference.train(rows, 32, 2).map(_.map(_.toDouble)))
    assert(centroids(Ivf.trainDf(vecs, "vec_id", "embedding", k = 32,
      iterations = 2, exact = true)) == small)
    // k=256: a complete, covering quantizer, the same through both forms
    val big = Ivf.train(vecs, "vec_id", "embedding", k = 256, exact = true)
    assert(big.size == 256 && big.forall(_._2.size == 16))
    assert(big.map(_._2) == LloydReference.train(rows, 256, 1).map(_.map(_.toDouble)))
    val idx = Ivf.assignByJoin(vecs, "vec_id", "embedding",
      Ivf.trainDf(vecs, "vec_id", "embedding", k = 256, exact = true),
      exact = true)
    assert(idx.count() == 600)
    assert(idx.groupBy("cluster").count().count() > 32,
      "large-k quantizer degenerated")
    val viaJoin = idx.select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet
    val viaSeq = Ivf.index(vecs, "vec_id", "embedding", big, exact = true)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toSet
    assert(viaJoin == viaSeq)
    val cs = big.map(_._2.map(_.toLong))
    assert(viaSeq == rows.map { case (id, v) =>
      id -> LloydReference.nearest(LloydReference.quantize(v), cs) }.toSet)
  }

  test("training on array<double> vectors equals the same vectors as array<float>") {
    // components are multiples of 2⁻⁸, so float and double hold them
    // exactly and every sum is exact in any order
    val rnd = new scala.util.Random(11)
    val f = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextInt(512) - 256) / 256f)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val d = f.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    for (exact <- Seq(false, true)) {
      assert(Ivf.train(d, "vec_id", "embedding", k = 16, iterations = 2, exact = exact) ==
        Ivf.train(f, "vec_id", "embedding", k = 16, iterations = 2, exact = exact),
        s"exact = $exact")
    }
  }

  test("k=256 assignment and probing run in generated code") {
    val centroids = Ivf.train(vecs, "vec_id", "embedding", k = 256, exact = true)
    CodegenGuard.noFallback {
      for (exact <- Seq(false, true)) {
        // an aggregate over the cluster column, so the kernel is generated
        Ivf.index(vecs, "vec_id", "embedding", centroids, exact = exact)
          .agg(sum($"cluster")).collect()
        Ivf.probes(vecs.filter($"vec_id" < 20), "vec_id", "embedding", centroids,
          nprobe = 4, exact = exact).agg(sum($"cluster")).collect()
      }
    }
  }

  test("IVF ANN recall vs brute force on the probed queries") {
    import graft.ops.VectorOps
    val ann = SparkEntry.queries("q_ann_ivf")(spark, sfDir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = SparkEntry.queries("q_cosine_topk")(spark, sfDir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      ann.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.2, s"mean IVF recall $mean — probing is broken")
  }
}
