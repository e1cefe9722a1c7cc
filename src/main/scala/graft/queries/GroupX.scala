package graft.queries

import graft.cdc.Changelog
import graft.ops.VectorOps
import graft.queries.Q.big

import org.apache.spark.sql.functions._

/** Merge-store operations audits — the batch observability for the
  * round-7 storage engine (`stream/MergeStream.scala`): tombstone-GC risk
  * and bucketed write amplification, both computed from the changelog
  * alone and both DuckDB-oracle-gated.
  */
object GroupX {

  /** Effective mapped-table changes with an addressable pk. */
  private def eff(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Changelog.changes(spark, dir)
      .filter(concat(col("schema"), lit("."), col("table")) === "public.documents" &&
        col("primary_key") =!= "" &&
        (col("op") === "d" || col("after").isNotNull))
      .select(col("primary_key").as("pk"), col("lsn").cast("long").as("lsn"),
        col("op"))

  val all: Seq[Q] = Seq(

    // Tombstone-dependency audit: which pks RELY on their tombstone — the
    // current state is a delete AND an earlier upsert exists that a
    // re-delivery could resurrect if the tombstone were GC'd without the
    // horizon-refusal rule. `slack` (delete lsn minus the latest prior
    // upsert lsn) is how much horizon margin protects the pk: GC is safe
    // for any horizon at or above del_lsn because the store refuses
    // pre-horizon changes outright (MergeStreamSpec pins the refusal).
    // Shape: ONE hash agg per pk (max-struct latest + conditional max),
    // no window, no join — the audit stays a single pass at any scale.
    Q("q_gc_tombstone_audit",
      s"""${Changelog.cte},
         |eff AS (
         |  SELECT pk, lsn, op FROM changes
         |  WHERE schema_name = 'public' AND table_name = 'documents'
         |    AND pk <> '' AND (op = 'd' OR has_after)),
         |agg AS (
         |  SELECT pk, arg_max(op, lsn) AS last_op, max(lsn) AS del_lsn,
         |         max(CASE WHEN op <> 'd' THEN lsn END) AS prior_lsn
         |  FROM eff GROUP BY pk)
         |SELECT pk, CAST(del_lsn AS BIGINT) AS del_lsn,
         |       CAST(prior_lsn AS BIGINT) AS prior_lsn,
         |       CAST(del_lsn - prior_lsn AS BIGINT) AS slack
         |FROM agg WHERE last_op = 'd' AND prior_lsn IS NOT NULL
         |ORDER BY pk""".stripMargin) { (spark, dir) =>
      eff(spark, dir)
        .groupBy("pk")
        .agg(max(struct(col("lsn"), col("op"))).as("latest"),
          max(when(col("op") =!= "d", col("lsn"))).as("prior_lsn"))
        .filter(col("latest.op") === "d" && col("prior_lsn").isNotNull)
        .select(col("pk"), big(col("latest.lsn")).as("del_lsn"),
          big(col("prior_lsn")).as("prior_lsn"),
          big(col("latest.lsn") - col("prior_lsn")).as("slack"))
        .orderBy("pk")
    },

    // Bucketed-merge write amplification: per micro-batch (the changelog
    // in lsn-contiguous slices), how many of the store's 32 pk-buckets
    // the batch touches — i.e. the fraction of the table the bucketed
    // store rewrites where the old design rewrote ALL of it (1e6 ppm,
    // every batch). The bucket function is the store's
    // pmod(fnv1a64(pk), B) (ParquetTableStore.bucketCol — the store
    // buckets with the native FNV-1a since round 8, so the audit's
    // touched-bucket ids are the real partition dirs, not a proxy;
    // MergeStreamSpec pins store-bucket ≡ audit-bucket). Replay scope:
    // the DuckDB CTE folds per CHARACTER codepoint (ascii/substr are
    // char-based) while the store folds UTF-8 BYTES — identical for
    // ASCII pks, divergent beyond; the fixture's pks are ASCII doc ids
    // and MergeStreamSpec guards that precondition explicitly. 32
    // divides 2^64, so DuckDB's unsigned-HUGEINT `% 32` equals Spark's
    // pmod of the signed value with no sign fix-up. Shape: one FNV per
    // DISTINCT pk, one hash agg by batch.
    Q("q_merge_amplification",
      s"""${Changelog.cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |eff AS (
         |  SELECT pk, lsn FROM changes
         |  WHERE schema_name = 'public' AND table_name = 'documents'
         |    AND pk <> '' AND (op = 'd' OR has_after)),
         |pks AS (SELECT DISTINCT pk FROM eff),
         |fnv AS (
         |  SELECT pk, 1 AS pos,
         |         CAST(14695981039346656037 AS HUGEINT) AS h FROM pks
         |  UNION ALL
         |  SELECT pk, pos+1,
         |         (xor(h, CAST(ascii(substr(pk, pos, 1)) AS HUGEINT))
         |          * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
         |  FROM fnv WHERE pos <= length(pk)),
         |bk AS (SELECT pk, CAST(h % 32 AS BIGINT) AS bucket
         |       FROM fnv WHERE pos = length(pk) + 1)
         |SELECT CAST(lsn // 1000 AS BIGINT) AS batch,
         |       CAST(count(*) AS BIGINT) AS n_changes,
         |       CAST(count(DISTINCT bucket) AS BIGINT) AS touched_buckets,
         |       CAST(count(DISTINCT bucket) * 1000000 // 32 AS BIGINT)
         |         AS rewrite_share_ppm
         |FROM eff JOIN bk USING (pk)
         |GROUP BY 1
         |ORDER BY batch""".stripMargin) { (spark, dir) =>
      eff(spark, dir)
        .withColumn("bucket", pmod(VectorOps.fnv1a64(col("pk")), lit(32L)))
        .withColumn("batch", expr("lsn div 1000"))
        .groupBy("batch")
        .agg(big(count(lit(1))).as("n_changes"),
          big(countDistinct(col("bucket"))).as("touched_buckets"))
        .select(col("batch"), col("n_changes"), col("touched_buckets"),
          big(expr("touched_buckets * 1000000 div 32")).as("rewrite_share_ppm"))
        .orderBy("batch")
    }
  )
}
