package graft.queries

import graft.queries.Q.{big, tbl}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Group Q — round-5 ninth wave: the declarative data-quality suite
  * (Deequ-style): column profiling, referential-integrity auditing, and a
  * constraint-rule battery. The checks a pipeline runs BEFORE publishing a
  * table — here as first-class oracle-checked queries.
  */
object GroupQ {

  val all: Seq[Q] = Seq(

    // Column profiling (the Deequ/Glue-crawler panel): per column of
    // orders — row count, null count, distinct count, and the modal value
    // with its frequency (max count, ties to the lexicographically
    // smallest value). Profiled columns are cast through engine-identical
    // renderings (integers and strings; dates via strftime) so the long
    // form compares exactly. Shape: ONE scan explodes to (col, val) long
    // form, one (col, val) hash agg, then per-col aggregates — the modal
    // value via max-count + min-value-at-max (two agg passes over the
    // bounded (col, val) count table, NO window over data-sized
    // partitions: a per-col sort would be key-cardinality-sized for id
    // columns).
    Q("q_col_profile",
      """WITH long AS (
        |  SELECT u.col, u.val FROM orders o,
        |  LATERAL (VALUES
        |    ('o_orderkey', CAST(o.o_orderkey AS VARCHAR)),
        |    ('o_custkey', CAST(o.o_custkey AS VARCHAR)),
        |    ('o_orderstatus', o.o_orderstatus),
        |    ('o_orderpriority', o.o_orderpriority),
        |    ('o_orderdate', strftime(o.o_orderdate, '%Y-%m-%d'))) AS u(col, val)),
        |vc AS (
        |  SELECT col, val, count(*) AS cnt FROM long
        |  WHERE val IS NOT NULL GROUP BY 1, 2),
        |prof AS (
        |  SELECT col, count(*) AS n_distinct, max(cnt) AS max_cnt,
        |         sum(cnt) AS n_filled
        |  FROM vc GROUP BY 1),
        |top AS (
        |  SELECT v.col, min(v.val) AS top_val
        |  FROM vc v JOIN prof p ON p.col = v.col AND v.cnt = p.max_cnt
        |  GROUP BY 1),
        |nn AS (
        |  SELECT col, count(*) AS n_rows,
        |         sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS n_null
        |  FROM long GROUP BY 1)
        |SELECT nn.col AS col, CAST(nn.n_rows AS BIGINT) AS n_rows,
        |       CAST(nn.n_null AS BIGINT) AS n_null,
        |       CAST(p.n_distinct AS BIGINT) AS n_distinct,
        |       t.top_val AS top_val, CAST(p.max_cnt AS BIGINT) AS top_freq
        |FROM nn JOIN prof p ON p.col = nn.col JOIN top t ON t.col = nn.col
        |ORDER BY col""".stripMargin) { (spark, dir) =>
      // SessionCache, not localCheckpoint: both frames are corpus-sized,
      // and a lineage-truncated checkpoint dies with a lost executor where
      // a persisted-with-lineage frame recomputes
      val longF = graft.util.SessionCache
        .getOrMaterialize(spark, s"colprofile_long:$dir") {
          tbl(spark, dir, "orders")
            .select(explode(array(
              struct(lit("o_orderkey").as("col"),
                col("o_orderkey").cast("string").as("val")),
              struct(lit("o_custkey").as("col"),
                col("o_custkey").cast("string").as("val")),
              struct(lit("o_orderstatus").as("col"),
                col("o_orderstatus").as("val")),
              struct(lit("o_orderpriority").as("col"),
                col("o_orderpriority").as("val")),
              struct(lit("o_orderdate").as("col"),
                date_format(col("o_orderdate"), "yyyy-MM-dd").as("val"))))
              .as("u"))
            .select(col("u.col").as("col"), col("u.val").as("val"))
        } // value counts + null counts both read it
      val vc = graft.util.SessionCache
        .getOrMaterialize(spark, s"colprofile_vc:$dir") {
          longF.filter(col("val").isNotNull)
            .groupBy("col", "val").agg(count(lit(1)).as("cnt"))
        } // profile + modal-value passes share it
      val prof = vc.groupBy("col")
        .agg(count(lit(1)).as("n_distinct"), max("cnt").as("max_cnt"))
      val top = vc.join(broadcast(prof), Seq("col"))
        .filter(col("cnt") === col("max_cnt"))
        .groupBy("col").agg(min("val").as("top_val"))
      val nn = longF.groupBy("col")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_null"))
      nn.join(broadcast(prof), Seq("col")).join(broadcast(top), Seq("col"))
        .select(col("col"), big(col("n_rows")).as("n_rows"),
          big(col("n_null")).as("n_null"),
          big(col("n_distinct")).as("n_distinct"),
          col("top_val"), big(col("max_cnt")).as("top_freq"))
        .orderBy("col")
    },

    // Referential-integrity audit: per declared relationship, child rows,
    // orphan rows (no matching parent key — LEFT ANTI), and distinct
    // orphan keys. Two fact relationships (lineitem→orders,
    // orders→customer) plus the pipeline-coverage pair
    // (documents→embeddings both ways — "which docs have no vector yet?"
    // is the question an indexing pipeline asks every run). Each check is
    // one anti join on the key both sides hash by; parents reduce to
    // their key column before joining.
    Q("q_fk_violations",
      """WITH lo AS (
        |  SELECT count(*) AS n_child, count(DISTINCT l_orderkey) AS n_keys
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |lot AS (SELECT count(*) AS n FROM lineitem),
        |oc AS (
        |  SELECT count(*) AS n_child, count(DISTINCT o_custkey) AS n_keys
        |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |oct AS (SELECT count(*) AS n FROM orders),
        |de AS (
        |  SELECT count(*) AS n_child, count(DISTINCT doc_id) AS n_keys
        |  FROM documents WHERE doc_id NOT IN (SELECT vec_id FROM embeddings)),
        |det AS (SELECT count(*) AS n FROM documents),
        |ed AS (
        |  SELECT count(*) AS n_child, count(DISTINCT vec_id) AS n_keys
        |  FROM embeddings WHERE vec_id NOT IN (SELECT doc_id FROM documents)),
        |edt AS (SELECT count(*) AS n FROM embeddings)
        |SELECT * FROM (
        |  SELECT 'lineitem->orders' AS rel, CAST(lot.n AS BIGINT) AS n_rows,
        |         CAST(lo.n_child AS BIGINT) AS n_orphans,
        |         CAST(lo.n_keys AS BIGINT) AS n_orphan_keys
        |  FROM lo, lot
        |  UNION ALL
        |  SELECT 'orders->customer', CAST(oct.n AS BIGINT),
        |         CAST(oc.n_child AS BIGINT), CAST(oc.n_keys AS BIGINT)
        |  FROM oc, oct
        |  UNION ALL
        |  SELECT 'documents->embeddings', CAST(det.n AS BIGINT),
        |         CAST(de.n_child AS BIGINT), CAST(de.n_keys AS BIGINT)
        |  FROM de, det
        |  UNION ALL
        |  SELECT 'embeddings->documents', CAST(edt.n AS BIGINT),
        |         CAST(ed.n_child AS BIGINT), CAST(ed.n_keys AS BIGINT)
        |  FROM ed, edt)
        |ORDER BY rel""".stripMargin) { (spark, dir) =>
      def audit(rel: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame = {
        // the total rides as a ONE-ROW broadcast (the q_bm25 scalar shape)
        // rather than a driver-side count(): query CONSTRUCTION stays
        // action-free, so building the registry never runs jobs
        val total = child.agg(big(count(lit(1))).as("n_rows"))
        val orphans = child.select(col(childKey))
          .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
            "left_anti")
        orphans.agg(big(count(lit(1))).as("n_orphans"),
          big(countDistinct(childKey)).as("n_orphan_keys"))
          .crossJoin(broadcast(total))
          .select(lit(rel).as("rel"), col("n_rows"),
            col("n_orphans"), col("n_orphan_keys"))
      }
      audit("lineitem->orders", tbl(spark, dir, "lineitem"), "l_orderkey",
          tbl(spark, dir, "orders"), "o_orderkey")
        .unionByName(audit("orders->customer", tbl(spark, dir, "orders"),
          "o_custkey", tbl(spark, dir, "customer"), "c_custkey"))
        .unionByName(audit("documents->embeddings", tbl(spark, dir, "documents"),
          "doc_id", tbl(spark, dir, "embeddings"), "vec_id"))
        .unionByName(audit("embeddings->documents", tbl(spark, dir, "embeddings"),
          "vec_id", tbl(spark, dir, "documents"), "doc_id"))
        .orderBy("rel")
    },

    // Constraint-rule battery (Deequ check suite): five declarative rules
    // over orders — key completeness, key uniqueness (distinct = rows),
    // positive amounts, status enum membership, priority format — each
    // reported as (rule, n_rows, n_pass, pass_ppm). ONE scan computes
    // every rule as a conditional sum; uniqueness adds one distinct agg.
    // The publish gate a warehouse evaluates before a table goes live.
    Q("q_constraint_check",
      """WITH s AS (
        |  SELECT count(*) AS n,
        |         sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS c_complete,
        |         sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS c_positive,
        |         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS c_enum,
        |         sum(CASE WHEN regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+')
        |                  THEN 1 ELSE 0 END) AS c_format,
        |         count(DISTINCT o_orderkey) AS n_distinct
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'key_complete' AS rule, CAST(n AS BIGINT) AS n_rows,
        |         CAST(c_complete AS BIGINT) AS n_pass,
        |         CAST(1000000 * c_complete // n AS BIGINT) AS pass_ppm FROM s
        |  UNION ALL
        |  SELECT 'key_unique', CAST(n AS BIGINT),
        |         CAST(CASE WHEN n_distinct = n THEN n ELSE n_distinct END AS BIGINT),
        |         CAST(1000000 * n_distinct // n AS BIGINT) FROM s
        |  UNION ALL
        |  SELECT 'amount_positive', CAST(n AS BIGINT), CAST(c_positive AS BIGINT),
        |         CAST(1000000 * c_positive // n AS BIGINT) FROM s
        |  UNION ALL
        |  SELECT 'status_enum', CAST(n AS BIGINT), CAST(c_enum AS BIGINT),
        |         CAST(1000000 * c_enum // n AS BIGINT) FROM s
        |  UNION ALL
        |  SELECT 'priority_format', CAST(n AS BIGINT), CAST(c_format AS BIGINT),
        |         CAST(1000000 * c_format // n AS BIGINT) FROM s)
        |ORDER BY rule""".stripMargin) { (spark, dir) =>
      // persisted WITH lineage (SessionCache), not localCheckpoint: the
      // one-row aggregate survives a lost executor by recomputing
      val s = graft.util.SessionCache
        .getOrMaterialize(spark, s"constraint_agg:$dir") {
          tbl(spark, dir, "orders")
            .agg(count(lit(1)).as("n"),
              sum(when(col("o_orderkey").isNotNull, 1L).otherwise(0L))
                .as("c_complete"),
              sum(when(col("o_totalprice") > 0, 1L).otherwise(0L))
                .as("c_positive"),
              sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L)
                .otherwise(0L)).as("c_enum"),
              sum(when(col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"), 1L)
                .otherwise(0L)).as("c_format"),
              countDistinct("o_orderkey").as("n_distinct"))
        } // five rule rows project from one scan
      def rule(name: String, passCol: String): DataFrame =
        s.select(lit(name).as("rule"), big(col("n")).as("n_rows"),
          big(col(passCol)).as("n_pass"),
          big(expr(s"1000000 * $passCol div n")).as("pass_ppm"))
      rule("key_complete", "c_complete")
        .unionByName(s.select(lit("key_unique").as("rule"),
          big(col("n")).as("n_rows"),
          big(when(col("n_distinct") === col("n"), col("n"))
            .otherwise(col("n_distinct"))).as("n_pass"),
          big(expr("1000000 * n_distinct div n")).as("pass_ppm")))
        .unionByName(rule("amount_positive", "c_positive"))
        .unionByName(rule("status_enum", "c_enum"))
        .unionByName(rule("priority_format", "c_format"))
        .orderBy("rule")
    }
  )
}
