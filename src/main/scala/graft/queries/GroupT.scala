package graft.queries

import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Group T — round-5 twelfth wave: supply-side and engagement panels plus
  * a variance-decomposition diagnostic for the time-series family.
  */
object GroupT {

  val all: Seq[Q] = Seq(

    // Supplier scorecard rolled up to nations: suppliers, shipped line
    // items, discounted revenue (exact DECIMAL), and the returned-line
    // rate in ppm — procurement's country-level risk panel. Shapes: ONE
    // fact scan; supplier (bounded dim) and nation (25 rows) broadcast;
    // the rollup axis is nations, so everything after the join is
    // dimension-sized.
    Q("q_supplier_scorecard",
      """WITH j AS (
        |  SELECT n.n_name, l.l_suppkey,
        |         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))
        |           AS rev,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey)
        |SELECT n_name AS nation,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(rev) AS DOUBLE) AS revenue,
        |       CAST(1000000 * sum(ret) // count(*) AS BIGINT) AS return_ppm
        |FROM j GROUP BY 1
        |ORDER BY nation""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .join(broadcast(tbl(spark, dir, "supplier")
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))),
          Seq("l_suppkey"))
        .join(broadcast(tbl(spark, dir, "nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
          Seq("s_nationkey"))
        .select(col("n_name").as("nation"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(25, 6)).as("rev"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
        .groupBy("nation")
        .agg(big(countDistinct("l_suppkey")).as("n_suppliers"),
          big(count(lit(1))).as("n_items"),
          sum("rev").cast(DoubleType).as("revenue"),
          big(expr("1000000 * sum(ret) div count(1)")).as("return_ppm"))
        .orderBy("nation")
    },

    // Repeat-purchase histogram: customers bucketed by lifetime order
    // count — the one-chart answer to "is this business repeat-driven?"
    // (the x-axis of every retention curve). Two cascaded aggregations:
    // custkey → n_orders (fact-keyed), then n_orders → customers
    // (bounded by the max order count).
    Q("q_reorder_rate",
      """WITH c AS (SELECT o_custkey, count(*) AS n_orders
        |           FROM orders GROUP BY 1)
        |SELECT CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST(count(*) AS BIGINT) AS n_customers
        |FROM c GROUP BY 1
        |ORDER BY n_orders""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
        .select(big(col("n_orders")).as("n_orders"),
          big(col("n_customers")).as("n_customers"))
        .orderBy("n_orders")
    },

    // Weekday variance decomposition: per event type, how much of the
    // daily-total variance does the weekday profile explain? SST around
    // the grand mean vs SSR around per-weekday means, explained share in
    // ppm — the quantitative follow-up to q_dow_profile ("errors lean
    // Monday" → "weekday explains 34% of error volume variance").
    // Everything runs on the CALENDAR-BOUNDED daily table; all sums pass
    // through DECIMAL accumulators, and the shared float ops (subtract,
    // square, one divide) are bit-replayable IEEE.
    Q("q_variance_explained",
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(v AS DECIMAL(25,6))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mu
        |  FROM d GROUP BY 1),
        |md AS (
        |  SELECT event_type, day % 7 AS dow,
        |         CAST(sum(CAST(v AS DECIMAL(25,6))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mud
        |  FROM d GROUP BY 1, 2),
        |s AS (
        |  SELECT d.event_type,
        |         CAST(sum(CAST((v - mu) * (v - mu) AS DECIMAL(30,12)))
        |              AS DOUBLE) AS sst,
        |         CAST(sum(CAST((v - mud) * (v - mud) AS DECIMAL(30,12)))
        |              AS DOUBLE) AS ssr
        |  FROM d JOIN m USING (event_type)
        |         JOIN md ON md.event_type = d.event_type AND md.dow = d.day % 7
        |  GROUP BY 1)
        |SELECT event_type, round(sst, 6) AS sst, round(ssr, 6) AS ssr,
        |       CAST(CASE WHEN sst = 0 THEN 0
        |                 ELSE floor(1000000.0 * (sst - ssr) / sst) END AS BIGINT)
        |         AS explained_ppm
        |FROM s ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val d = events(spark, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(Q.dsum(col("value")).as("v"))
        .localCheckpoint(true) // grand means, weekday means, residual pass
      val m = d.groupBy("event_type")
        .agg((sum(col("v").cast(DecimalType(25, 6))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mu"))
      val md = d.withColumn("dow", expr("day % 7"))
        .groupBy("event_type", "dow")
        .agg((sum(col("v").cast(DecimalType(25, 6))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mud"))
      d.withColumn("dow", expr("day % 7"))
        .join(broadcast(m), Seq("event_type"))
        .join(broadcast(md), Seq("event_type", "dow"))
        .groupBy("event_type")
        .agg(
          sum(((col("v") - col("mu")) * (col("v") - col("mu")))
            .cast(DecimalType(30, 12))).cast(DoubleType).as("sst"),
          sum(((col("v") - col("mud")) * (col("v") - col("mud")))
            .cast(DecimalType(30, 12))).cast(DoubleType).as("ssr"))
        .select(col("event_type"), round(col("sst"), 6).as("sst"),
          round(col("ssr"), 6).as("ssr"),
          big(when(col("sst") === 0, 0L)
            .otherwise(floor(lit(1000000.0) * (col("sst") - col("ssr")) /
              col("sst")))).as("explained_ppm"))
        .orderBy("event_type")
    }
  )
}
