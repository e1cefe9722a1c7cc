package graft.queries

import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Group U — round-5 thirteenth wave: catalog statistics for join
  * planning, growth accounting over the event stream, and the
  * per-language parity report a multilingual corpus publishes.
  */
object GroupU {

  val all: Seq[Q] = Seq(

    // Catalog statistics + broadcast advisor: per table — rows, estimated
    // in-memory bytes (strings at payload length, fixed-width types at
    // their width), and whether the table fits a 10 MB broadcast
    // threshold. This is the statistic ANALYZE TABLE persists and the
    // planner reads before choosing q_join_broadcast's plan over
    // q_join_shuffle's; q_join_cardinality profiles the join outputs,
    // this profiles the inputs. One scan per table, 5-row output.
    Q("q_table_stats",
      """SELECT * FROM (
        |  SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(sum(8 + length(c_name) + length(c_mktsegment) + 8)
        |              AS BIGINT) AS est_bytes,
        |         CAST(CASE WHEN sum(8 + length(c_name) + length(c_mktsegment) + 8)
        |                        < 10485760 THEN 1 ELSE 0 END AS BIGINT)
        |           AS broadcastable
        |  FROM customer
        |  UNION ALL
        |  SELECT 'nation', CAST(count(*) AS BIGINT),
        |         CAST(sum(4 + length(n_name) + 4) AS BIGINT),
        |         CAST(CASE WHEN sum(4 + length(n_name) + 4) < 10485760
        |                   THEN 1 ELSE 0 END AS BIGINT)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |         CAST(sum(8 + 8 + length(o_orderstatus) + 8 + 8
        |                  + length(o_orderpriority)) AS BIGINT),
        |         CAST(CASE WHEN sum(8 + 8 + length(o_orderstatus) + 8 + 8
        |                            + length(o_orderpriority)) < 10485760
        |                   THEN 1 ELSE 0 END AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'part', CAST(count(*) AS BIGINT),
        |         CAST(sum(8 + length(p_name) + length(p_brand) + 4) AS BIGINT),
        |         CAST(CASE WHEN sum(8 + length(p_name) + length(p_brand) + 4)
        |                        < 10485760 THEN 1 ELSE 0 END AS BIGINT)
        |  FROM part
        |  UNION ALL
        |  SELECT 'supplier', CAST(count(*) AS BIGINT),
        |         CAST(sum(8 + length(s_name) + 4 + 8) AS BIGINT),
        |         CAST(CASE WHEN sum(8 + length(s_name) + 4 + 8) < 10485760
        |                   THEN 1 ELSE 0 END AS BIGINT)
        |  FROM supplier)
        |ORDER BY tbl""".stripMargin) { (spark, dir) =>
      def stats(name: String, bytesExpr: String): DataFrame =
        tbl(spark, dir, name).agg(count(lit(1)).as("n_rows"),
            sum(expr(bytesExpr)).as("est_bytes"))
          .select(lit(name).as("tbl"), big(col("n_rows")).as("n_rows"),
            big(col("est_bytes")).as("est_bytes"),
            big(when(col("est_bytes") < 10485760L, 1L).otherwise(0L))
              .as("broadcastable"))
      stats("customer", "8 + length(c_name) + length(c_mktsegment) + 8")
        .unionByName(stats("nation", "4 + length(n_name) + 4"))
        .unionByName(stats("orders",
          "8 + 8 + length(o_orderstatus) + 8 + 8 + length(o_orderpriority)"))
        .unionByName(stats("part", "8 + length(p_name) + length(p_brand) + 4"))
        .unionByName(stats("supplier", "8 + length(s_name) + 4 + 8"))
        .orderBy("tbl")
    },

    // Growth accounting (the standard DAU decomposition): per day, active
    // users split into new (first ever day), retained (also active
    // yesterday), resurrected (seen before, not yesterday), plus the
    // previous day's churn (active yesterday, silent today). Pure integer
    // counts; the day axis is calendar-bounded, and the only joins are
    // user-keyed equi-joins on (user, day−1) and the per-user first-day
    // aggregate.
    Q("q_growth_accounting",
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM a GROUP BY 1),
        |j AS (
        |  SELECT a.user_id, a.day, f.first_day,
        |         CASE WHEN y.user_id IS NOT NULL THEN 1 ELSE 0 END AS was_active
        |  FROM a JOIN f USING (user_id)
        |  LEFT JOIN a y ON y.user_id = a.user_id AND y.day = a.day - 1),
        |c AS (
        |  SELECT a.day + 1 AS day, count(*) AS churned
        |  FROM a LEFT JOIN a t ON t.user_id = a.user_id AND t.day = a.day + 1
        |  WHERE t.user_id IS NULL
        |  GROUP BY 1)
        |SELECT CAST(j.day AS BIGINT) AS day,
        |       CAST(count(*) AS BIGINT) AS active,
        |       CAST(sum(CASE WHEN j.first_day = j.day THEN 1 ELSE 0 END) AS BIGINT)
        |         AS new_users,
        |       CAST(sum(CASE WHEN j.first_day < j.day AND j.was_active = 1
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |       CAST(sum(CASE WHEN j.first_day < j.day AND j.was_active = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
        |       CAST(coalesce(max(c.churned), 0) AS BIGINT) AS churned_in
        |FROM j LEFT JOIN c ON c.day = j.day
        |GROUP BY j.day
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      val a = events(spark, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .localCheckpoint(true) // active set feeds four different legs
      val f = a.groupBy("user_id").agg(min("day").as("first_day"))
      val y = a.select(col("user_id"), (col("day") + 1).as("day"),
        lit(1L).as("was_active"))
      val churn = a.join(
          a.select(col("user_id"), (col("day") - 1).as("day")),
          Seq("user_id", "day"), "left_anti")
        .groupBy((col("day") + 1).as("day"))
        .agg(count(lit(1)).as("churned"))
      a.join(f, Seq("user_id"))
        .join(y, Seq("user_id", "day"), "left")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("active"),
          sum(when(col("first_day") === col("day"), 1L).otherwise(0L))
            .as("new_users"),
          sum(when(col("first_day") < col("day") &&
            col("was_active").isNotNull, 1L).otherwise(0L)).as("retained"),
          sum(when(col("first_day") < col("day") &&
            col("was_active").isNull, 1L).otherwise(0L)).as("resurrected"))
        .join(churn, Seq("day"), "left")
        .select(big(col("day")).as("day"), big(col("active")).as("active"),
          big(col("new_users")).as("new_users"),
          big(col("retained")).as("retained"),
          big(col("resurrected")).as("resurrected"),
          big(coalesce(col("churned"), lit(0L))).as("churned_in"))
        .orderBy("day")
    },

    // Per-language parity report: the fairness panel a multilingual
    // corpus ships — per lang: docs, token mass, mean tokens per doc
    // (exact integer parts + ppm remainder avoided: reported as floor and
    // total), near-dup exposure ppm, and mean chars. One corpus scan +
    // the SESSION-SHARED pair artifact; output bounded by the language
    // axis.
    Q("q_lang_quality",
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |         len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
        |           AS n_tok
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, lang,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS s
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |              / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
        |        >= 0.95),
        |dup AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT a_id AS doc_id FROM pairs
        |    UNION ALL SELECT b_id FROM pairs))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_tok) // count(*) AS BIGINT) AS tokens_per_doc,
        |       CAST(sum(n_chars) // count(*) AS BIGINT) AS chars_per_doc,
        |       CAST(1000000 * count(d.doc_id) // count(*) AS BIGINT) AS dup_ppm
        |FROM t LEFT JOIN dup d USING (doc_id)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val p = PipelineQueries.jaccardPairs(spark, dir)
      val dup = p.select(col("a_id").as("doc_id"))
        .unionByName(p.select(col("b_id").as("doc_id")))
        .distinct().withColumn("is_dup", lit(1L))
      tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(graft.ops.DedupOps.tokens(lower(col("text")))).as("n_tok"))
        .join(dup, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(big(count(lit(1))).as("n_docs"),
          big(sum(col("n_tok"))).as("total_tokens"),
          big(expr("sum(n_tok) div count(1)")).as("tokens_per_doc"),
          big(expr("sum(n_chars) div count(1)")).as("chars_per_doc"),
          big(expr("1000000 * count(is_dup) div count(1)")).as("dup_ppm"))
        .orderBy("lang")
    }
  )
}
