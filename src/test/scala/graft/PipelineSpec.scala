package graft

import graft.cdc.Changelog
import graft.embed.{Embedder, Embedders}
import graft.model.Mapping
import graft.ops.{TextOps, VectorOps}
import graft.pipeline.VectorPipeline

import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The shipped featurizer, counting its calls across executors. */
final class CountingEmbedder(calls: LongAccumulator) extends Embedder {
  def dim: Int = Embedders.deterministic.dim
  def embed(text: String): Array[Float] = {
    calls.add(1)
    Embedders.deterministic.embed(text)
  }
}

/** End-to-end semantics of the CDC replay pipeline on sf0.001. */
class PipelineSpec extends SparkSpec {

  lazy val changes = Changelog.changes(spark, sfDir).cache()
  lazy val points =
    VectorPipeline.vectorPoints(changes, Mapping.documents).cache()

  test("entry produces vector points (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("vector points carry id, unit-or-zero vector, metadata with table+pk") {
    val r = points.limit(5).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[String]("id").startsWith("public.documents:"))
      val meta = row.getAs[Map[String, String]]("metadata")
      assert(meta("table") == "public.documents")
      assert(meta.contains("pk"))
    }
  }

  test("deleted pks do not appear among vector points") {
    import spark.implicits._
    val deleted = VectorPipeline.deletions(changes, Mapping.documents)
      .as[String].collect().toSet
    assert(deleted.nonEmpty)
    val pointIds = points.select($"id").as[String].collect().toSet
    assert(deleted.intersect(pointIds).isEmpty)
  }

  test("latestByPk is idempotent under at-least-once replay (B2 contract)") {
    val replayed = changes.unionAll(changes) // duplicate delivery
    val once = VectorPipeline.latestByPk(changes)
      .select("schema", "table", "primary_key", "lsn", "op")
    val twice = VectorPipeline.latestByPk(replayed)
      .select("schema", "table", "primary_key", "lsn", "op")
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("each output point is embedded exactly once (vectorPoints and the " +
    "l2normalize(embed(text)) shape)") {
    val calls = spark.sparkContext.longAccumulator("embed_calls")
    VectorPipeline.vectorPoints(changes, Mapping.documents, new CountingEmbedder(calls))
      .write.format("noop").mode("overwrite").save()
    val n = points.count()
    assert(n > 0)
    assert(calls.value == n, s"${calls.value} embed calls for $n points")

    // the index maintainer's projection: normalize straight over the UDF
    calls.reset()
    val embed = Embedders.embedColumn(new CountingEmbedder(calls))
    val texts = VectorPipeline.latestByPk(changes)
      .filter(col("op") =!= "d")
      .withColumn("text", TextOps.textConcat(Mapping.documents.textColumns
        .map(c => element_at(col("after"), c))))
      .filter(length(col("text")) > 0)
    texts.select(VectorOps.l2normalize(embed(col("text"))).cast("array<double>"))
      .write.format("noop").mode("overwrite").save()
    val m = texts.count()
    assert(m > 0)
    assert(calls.value == m, s"${calls.value} embed calls for $m rows")
  }

  test("no change visible for unmapped tables (F1)") {
    assert(points.filter(not(col("id").startsWith("public.documents:"))).count() == 0)
  }
}
