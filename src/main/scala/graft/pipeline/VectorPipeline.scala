package graft.pipeline

import graft.embed.{Embedder, Embedders}
import graft.model.Mapping
import graft.ops.{TextOps, VectorOps}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's whole processing path (reference:
  * internal/pipeline/pipeline.go:182-258) as one declarative DataFrame
  * transform: change records → current-state upserts + deletes → text concat
  * → embed → normalize → vector points. Works identically on a batch
  * DataFrame and inside a streaming `foreachBatch`.
  */
object VectorPipeline {

  /** Upsert-side output: `(id, vector, metadata)` per
    * (reference: internal/types/types.go:14-18). `changes` must be in
    * RowChange shape ([[graft.model.Types.rowChangeSchema]]). These are
    * the upsert rows of [[pointOps]]. */
  def vectorPoints(changes: DataFrame, mapping: Mapping,
                   embedder: Embedder = Embedders.deterministic,
                   normalize: Boolean = true): DataFrame =
    pointOps(changes, mapping, embedder, normalize)
      .filter(col("op") === "upsert")
      // upsert rows always carry metadata; the coalesce only keeps the
      // column's non-null schema
      .select(col("id"), col("vector"),
        coalesce(col("metadata"), typedLit(Map.empty[String, String])).as("metadata"))

  /** One micro-batch's whole effect on a vector store: the batch collapsed
    * by key once, then one `(id, vector, metadata, op)` row per surviving
    * key. `op` is `upsert` for a key whose latest change carries non-empty
    * text (F3, pipeline.go:204-207) and embeds to a non-empty vector (E2,
    * pipeline.go:223-228), `delete` for a key whose latest change is a
    * delete; a delete row has a null vector and null metadata. The embedder
    * runs under `CASE WHEN op = 'upsert'`, so a delete never reaches it. */
  def pointOps(changes: DataFrame, mapping: Mapping,
               embedder: Embedder = Embedders.deterministic,
               normalize: Boolean = true): DataFrame = {
    // a null op is neither: it falls through both branches and is dropped
    val kind = when(col("op") === "d", "delete")
      .when(col("op") =!= "d" && col("after").isNotNull, "upsert")
    val (upsert, delete) = (col("op") === "upsert", col("op") === "delete")
    val textCols = mapping.textColumns.map(c => element_at(col("after"), c))
    val vec = Embedders.embedColumn(embedder)(col("text"))
    latestByPk(mappedOnly(changes, Seq(mapping.table)))
      .withColumn("op", kind)
      .withColumn("text", TextOps.textConcat(textCols))
      .filter(delete || (upsert && length(col("text")) > 0))
      .withColumn("vector", when(upsert, if (normalize) VectorOps.l2normalize(vec) else vec))
      .filter(delete || size(col("vector")) > 0)
      .select(
        TextOps.docId(col("schema"), col("table"), col("primary_key")).as("id"),
        col("vector"),
        when(upsert, TextOps.metaProject(col("schema"), col("table"),
          col("primary_key"), col("after"), mapping.metadataColumns)).as("metadata"),
        col("op"))
  }

  /** Delete-side output: external ids whose latest change is a delete. A
    * projection of the same collapse as [[pointOps]] that never embeds:
    * filtering `pointOps` instead would embed every upsert row, since
    * Catalyst cannot push a filter below a nondeterministic projection. */
  def deletions(changes: DataFrame, mapping: Mapping): DataFrame =
    latestByPk(mappedOnly(changes, Seq(mapping.table)))
      .filter(col("op") === "d")
      .select(TextOps.docId(col("schema"), col("table"), col("primary_key")).as("id"))

  /** F1 mapped-table filter. */
  def mappedOnly(changes: DataFrame, tables: Seq[String]): DataFrame =
    changes.filter(concat(col("schema"), lit("."), col("table")).isin(tables: _*))

  /** Collapse an at-least-once change stream to current state per key —
    * idempotent-upsert semantics (K1) + commit ordering (S5). */
  def latestByPk(changes: DataFrame): DataFrame = {
    val effective = changes.filter(col("op") === "d" || col("after").isNotNull)
    val key: Seq[Column] = Seq(col("schema"), col("table"), col("primary_key"))
    val w = Window.partitionBy(key: _*).orderBy(col("lsn").cast("long").desc)
    effective.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }
}
