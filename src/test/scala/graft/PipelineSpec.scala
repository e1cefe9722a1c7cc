package graft

import graft.cdc.Changelog
import graft.embed.{Embedder, Embedders}
import graft.model.Mapping
import graft.ops.{TextOps, VectorOps}
import graft.pipeline.VectorPipeline
import graft.stream.RowChangeRec

import org.apache.spark.sql.{DataFrame, Row}
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

    // the frame: one call per upsert row, none for a delete row
    calls.reset()
    val ops = VectorPipeline.pointOps(changes, Mapping.documents,
      new CountingEmbedder(calls)).collect()
    val (ups, dels) = ops.partition(_.getAs[String]("op") == "upsert")
    assert(ups.nonEmpty && dels.nonEmpty && ups.length + dels.length == ops.length)
    assert(calls.value == ups.length,
      s"${calls.value} embed calls for ${ups.length} upsert rows")
    assert(dels.forall(r => r.getAs[AnyRef]("vector") == null &&
      r.getAs[AnyRef]("metadata") == null), "a delete row carries a vector or metadata")

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

  test("pointOps: upsert rows equal the two-window reference's points bit " +
    "for bit, delete ids its deletions") {
    import spark.implicits._
    def rec(op: String, pk: String, after: Map[String, String], lsn: Long) =
      RowChangeRec(op, "public", "documents", pk, null, after, lsn.toString)
    def doc(pk: String, title: String) =
      Map("id" -> pk, "title" -> title, "content" -> s"body of $pk", "author" -> "a")
    val edge = Seq(
      rec("c", "h1", doc("h1", "first"), 10),
      rec(null, "h1", doc("h1", "masked"), 20),        // null op: latest, neither
      rec("c", "h2", doc("h2", "kept"), 10),
      rec("u", "h2", null, 20),                        // null-after update
      rec("d", "", null, 30),                          // blind delete
      rec("c", "h4", doc("h4", "old"), 10),
      rec("d", "h4", null, 20),
      rec("c", "h4", doc("h4", "reborn"), 30),         // re-insert after delete
      rec("c", "h5", Map("id" -> "h5", "title" -> "", "author" -> "a"), 10), // empty text
      rec("c", "h6", doc("h6", "gone"), 10),
      rec("d", "h6", null, 20)).toDF()
    val input = changes.unionByName(edge)

    val ops = VectorPipeline.pointOps(input, Mapping.documents)
    val want = PipelineSpec.refPoints(input, Mapping.documents)
    val wantDel = PipelineSpec.refDeletions(input, Mapping.documents)
      .as[String].collect().toSeq.sorted
    val got = ops.filter($"op" === "upsert").drop("op")
    assert(PipelineSpec.wholePoints(got) == PipelineSpec.wholePoints(want))
    assert(ops.filter($"op" === "delete").select("id").as[String].collect().toSeq.sorted ==
      wantDel)

    // the edge rows reach the reference the way their comments say
    val wantIds = want.select("id").as[String].collect().toSet
    assert(Seq("h2", "h4").forall(k => wantIds("public.documents:" + k)))
    assert(Seq("h1", "h5", "h6").forall(k => !wantIds("public.documents:" + k)))
    assert(Seq("", "h6").forall(k => wantDel.contains("public.documents:" + k)))
  }

  test("no change visible for unmapped tables (F1)") {
    assert(points.filter(not(col("id").startsWith("public.documents:"))).count() == 0)
  }
}

object PipelineSpec {

  /** `vectorPoints` as it was before the single-collapse frame, kept as the
    * reference: its own collapse, then text → embed → normalize. */
  def refPoints(changes: DataFrame, mapping: Mapping): DataFrame = {
    val latest = VectorPipeline.latestByPk(VectorPipeline.mappedOnly(changes, Seq(mapping.table)))
      .filter(col("op") =!= "d" && col("after").isNotNull)
    val textCols = mapping.textColumns.map(c => element_at(col("after"), c))
    val embed = Embedders.embedColumn(Embedders.deterministic)
    latest
      .withColumn("text", TextOps.textConcat(textCols))
      .filter(length(col("text")) > 0)
      .withColumn("vector", VectorOps.l2normalize(embed(col("text"))))
      .filter(size(col("vector")) > 0)
      .select(
        TextOps.docId(col("schema"), col("table"), col("primary_key")).as("id"),
        col("vector"),
        TextOps.metaProject(col("schema"), col("table"), col("primary_key"),
          col("after"), mapping.metadataColumns).as("metadata"))
  }

  /** `deletions` as it was, with its own collapse. */
  def refDeletions(changes: DataFrame, mapping: Mapping): DataFrame =
    VectorPipeline.latestByPk(VectorPipeline.mappedOnly(changes, Seq(mapping.table)))
      .filter(col("op") === "d")
      .select(TextOps.docId(col("schema"), col("table"), col("primary_key")).as("id"))

  /** Sorted `(id, vector bits, sorted metadata)` of each point: equal for
    * two frames exactly when they hold the same multiset of points. */
  def wholePoints(points: DataFrame): Seq[(String, Seq[Int], Seq[(String, String)])] =
    points.select(col("id"), col("vector"), array_sort(map_entries(col("metadata"))))
      .collect().toSeq
      .map(r => (r.getString(0),
        r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits),
        r.getSeq[Row](2).map(e => (e.getString(0), e.getString(1)))))
      .sortBy(p => (p._1, p._2.mkString(","), p._3.mkString(",")))
}
