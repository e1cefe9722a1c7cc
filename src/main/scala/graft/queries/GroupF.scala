package graft.queries

import graft.queries.Q._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Group F — round-5 second wave: the remaining TPC-H shapes expressible on
  * the fixture tables (Q9/Q13/Q15/Q16/Q17/Q22 — the fixtures carry no
  * `partsupp`, so Q16 derives the part–supplier relation from lineitem and
  * Q9 prices cost as a retail-price fraction; both keep the reference
  * query's join/agg skeleton, which is what the shape exercises), plus the
  * data-selection operators a training-data pipeline runs after dedup:
  * DSIR-style hashed-n-gram importance weighting (Xie et al. 2023,
  * arXiv:2302.03169), BPE merge application (the iterated half of
  * q_bpe_pairs), and per-language Zipf profiles.
  *
  * Determinism contract as everywhere: DECIMAL accumulators for money,
  * pure-integer scores (·10⁶, floor division) for ratios, one final double
  * conversion at most, trailing ORDER BY with unique tiebreaks.
  */
object GroupF {

  /** Lower-cased whitespace tokens, empties dropped (GroupE's convention;
    * DuckDB twin below). */
  private def toks(c: Column): Column =
    filter(split(lower(c), " "), t => t =!= "")

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  /** Codepoint-fold FNV-1a of a string column (native codegen'd kernel). */
  private def fnv(c: Column): Column = graft.ops.VectorOps.fnv1a64(c)

  val all: Seq[Q] = Seq(

    // TPC-H Q13 shape (customer order-count distribution): the canonical
    // outer-join histogram. The scale-critical move is aggregating orders
    // down to (custkey, count) BEFORE the join — the join then moves 16
    // bytes per customer instead of every order row — and keeping the
    // LEFT join so zero-order customers land in the c_count = 0 bucket.
    // The second aggregation's key space is order-counts (tiny), so the
    // final shuffle is bounded no matter the scale.
    Q("q_tpch_q13",
      """WITH c_orders AS (
        |  SELECT o_custkey, count(*) AS c_count
        |  FROM orders WHERE o_orderpriority <> '1-URGENT'
        |  GROUP BY o_custkey)
        |SELECT CAST(c_count AS BIGINT) AS c_count,
        |       CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, coalesce(c_count, 0) AS c_count
        |      FROM customer LEFT JOIN c_orders ON c_custkey = o_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (spark, dir) =>
      val co = tbl(spark, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("c_count"))
      tbl(spark, dir, "customer").select("c_custkey")
        .join(co, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(big(count(lit(1))).as("custdist"))
        .select(big(col("c_count")).as("c_count"), col("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q15 shape (top supplier): quarter revenue per supplier, then
    // the suppliers hitting the maximum. The per-supplier aggregate is the
    // only corpus-sized job; its output (≤ |supplier| rows) feeds a 1-row
    // max that broadcasts back as the scalar-subquery shape, and the
    // equality compare runs on the exact DECIMAL revenue — float revenue
    // would make "ties with the max" engine-dependent, the classic Q15
    // trap. Supplier joins by broadcast of the (tiny) qualifying set.
    Q("q_tpch_q15",
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
        |           AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |       CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey,
        |     (SELECT max(total_revenue) AS mr FROM revenue) m
        |WHERE total_revenue = m.mr
        |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
      val rev = tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(25, 6))).as("total_revenue"))
      val top = rev
        .crossJoin(broadcast(rev.agg(max(col("total_revenue")).as("mr"))))
        .filter(col("total_revenue") === col("mr"))
      tbl(spark, dir, "supplier").select("s_suppkey", "s_name")
        .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q16 shape (parts/supplier relationship count): the fixtures
    // carry no partsupp, so the relation is derived as the DISTINCT
    // (l_partkey, l_suppkey) pairs lineitem witnessed — same key space,
    // same join skeleton. The attribute-filtered part slice broadcasts
    // into the pair stream, the "complaints" exclusion (negative-balance
    // suppliers standing in for the LIKE filter) is a broadcast anti join,
    // and count(DISTINCT suppkey) re-shuffles only surviving pairs on the
    // (brand, type, size) group key.
    Q("q_tpch_q16",
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#4' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM bad)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) {
      (spark, dir) =>
        val bad = tbl(spark, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val parts = tbl(spark, dir, "part")
          .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "MEDIUM" &&
            col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        // Round 16 (guide §3.2/§2.3 — reduce the big side BEFORE its
        // exchange): the filtered-part semi-join is a row-local predicate
        // on the pair stream, so it commutes with the DISTINCT — applied
        // map-side (broadcast of the already-hinted dimension slice,
        // projected to the key) it cuts the pair-dedup shuffle to the
        // qualifying ~1/6 slice of lineitem instead of deduping every
        // witnessed pair and discarding most of them afterwards. The
        // supplier anti-join stays where it was, on the deduped pairs.
        val ps = tbl(spark, dir, "lineitem")
          .select("l_partkey", "l_suppkey")
          .join(broadcast(parts.select("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .distinct()
        ps.join(bad, ps("l_suppkey") === bad("s_suppkey"), "left_anti")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(big(countDistinct(col("l_suppkey"))).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // "below 20% of this part's average quantity" filter. One hash agg
    // builds per-part (Σqty, count) for the brand's parts only — the
    // brand slice broadcasts into lineitem first, so the agg and the
    // re-join both touch ~1/25 of the fact. Quantities are integral, so
    // the 20%-of-average boundary is the pure-BIGINT cross-multiplication
    // 5·qty·cnt < Σqty — no engine ever divides, the boundary rows are
    // exact. Output is the canonical single-row avg_yearly.
    Q("q_tpch_q17",
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS ql, l_extendedprice
        |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM bp)),
        |st AS (
        |  SELECT l_partkey, sum(ql) AS sq, count(*) AS cnt
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6)))
        |                 AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM li JOIN st USING (l_partkey)
        |WHERE 5 * ql * cnt < sq
        |ORDER BY n_lines""".stripMargin) { (spark, dir) =>
      val bp = tbl(spark, dir, "part")
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      val li = tbl(spark, dir, "lineitem")
        .join(broadcast(bp), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_quantity").cast(LongType).as("ql"),
          col("l_extendedprice"))
      val st = li.groupBy("l_partkey")
        .agg(sum(col("ql")).as("sq"), count(lit(1)).as("cnt"))
      li.join(st, "l_partkey")
        .filter(lit(5) * col("ql") * col("cnt") < col("sq"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).cast(DoubleType)
          .as("avg_yearly"),
          big(count(lit(1))).as("n_lines"))
    },

    // TPC-H Q22 shape (global sales opportunity): above-average-balance
    // customers with no recent order, grouped by nation (the fixtures
    // carry no phone column, so nation plays the country-code role; every
    // fixture customer has SOME order, so "dormant since 2000" plays
    // never-ordered — same anti-join skeleton). The global average is a
    // 1-row exact aggregate broadcast as the scalar-subquery shape; the
    // "above average" compare cross-multiplies integer cents (balances
    // are 2-decimal, so round(bal·100) is exact) — no division,
    // engine-exact boundary. The dormancy test is an anti join against
    // the date-filtered order keys.
    Q("q_tpch_q22",
      """WITH pos AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |           AS tot_c
        |  FROM customer WHERE c_acctbal > 0),
        |eligible AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal
        |  FROM customer, pos
        |  WHERE CAST(round(c_acctbal * 100) AS BIGINT) * cnt > tot_c
        |    AND NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_custkey = c_custkey
        |                      AND o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |         AS totacctbal
        |FROM eligible JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (spark, dir) =>
      val cents = round(col("c_acctbal") * 100).cast(LongType)
      val cust = tbl(spark, dir, "customer")
      val pos = cust.filter(col("c_acctbal") > 0)
        .agg(big(count(lit(1))).as("cnt"), sum(cents).as("tot_c"))
      cust.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .crossJoin(broadcast(pos))
        .filter(cents * col("cnt") > col("tot_c"))
        .join(tbl(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(tbl(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(big(count(lit(1))).as("numcust"),
          dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("n_name")
    },

    // TPC-H Q9 shape (product-type profit): the 5-table profit rollup by
    // supplier nation × order year. No partsupp in the fixtures, so unit
    // cost prices as 60% of retail — the join graph (part and supplier
    // both constraining lineitem, orders supplying the year, nation the
    // group key) is unchanged. The name-filtered part slice and supplier
    // broadcast into the lineitem scan; the one wide shuffle is
    // lineitem⋈orders on orderkey. Profit terms quantize to DECIMAL(25,6)
    // per element before the sum, so the mixed +/- accumulation is
    // order-independent.
    Q("q_tpch_q9",
      """SELECT n_name AS nation,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
        |                - CAST(CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity
        |                       AS DECIMAL(25,6))) AS DOUBLE) AS profit
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |              JOIN supplier ON s_suppkey = l_suppkey
        |              JOIN nation ON s_nationkey = n_nationkey
        |              JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin) { (spark, dir) =>
      val dec = DecimalType(25, 6)
      val parts = tbl(spark, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      val supp = tbl(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
      val ord = tbl(spark, dir, "orders").select("o_orderkey", "o_orderdate")
      val profit =
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec) -
          (lit(0.6) * col("p_retailprice") * col("l_quantity")).cast(dec)
      tbl(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(profit).cast(DoubleType).as("profit"))
        .select(col("nation"), big(col("o_year")).as("o_year"), col("profit"))
        .orderBy("nation", "o_year")
    },

    // TPC-H Q2 shape (minimum-cost supplier): the correlated-min join-back.
    // The fixtures carry no partsupp, so the part–supplier cost relation is
    // derived as the minimum witnessed line revenue in integer cents per
    // (partkey, suppkey) — one hash agg over the fact. The Europe supplier
    // slice (supplier⋈nation⋈region, region-filtered) collapses to one
    // broadcast — BOUND: ~20% of supplier at 4 narrow columns, and TPC-H
    // fixes supplier:lineitem at 1:6000, so the broadcast is ~60–100 MB at
    // sf10k while the fact side is tens of TB; if supplier ever outgrows
    // executor memory the fallback is the q7 convention (drop the hint,
    // shuffle on s_suppkey). The LARGE slice of part gets NO hint: a type
    // slice of a growing dimension is not a dim (the q14/q19 convention),
    // and the window output is already hash-partitioned by l_partkey, so
    // the shuffle join reuses that exchange — only part itself shuffles.
    // The classic min-per-part-then-join-back shape would scan and
    // aggregate the fact TWICE (Spark does not reuse the exchange across
    // the self-join); instead the per-part minimum is a window over the
    // already-aggregated candidate relation — one fact scan, one extra
    // shuffle on l_partkey, and min-cost ties surface exactly as Q2
    // requires (rows equal to their partition min), engine-independently.
    Q("q_tpch_q2",
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cand AS (
        |  SELECT ps.l_partkey, ps.l_suppkey, ps.cost_c
        |  FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey),
        |mn AS (SELECT l_partkey, min(cost_c) AS min_c
        |       FROM cand GROUP BY l_partkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |       cand.cost_c AS cost_c, eu.s_suppkey AS s_suppkey
        |FROM cand JOIN mn ON cand.l_partkey = mn.l_partkey
        |                 AND cand.cost_c = mn.min_c
        |          JOIN part ON p_partkey = cand.l_partkey
        |          JOIN eu ON cand.l_suppkey = eu.s_suppkey
        |WHERE p_type = 'LARGE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        |LIMIT 100""".stripMargin) { (spark, dir) =>
      val ps = tbl(spark, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(round(col("l_extendedprice") * 100).cast(LongType)).as("cost_c"))
      val eu = tbl(spark, dir, "supplier")
        .join(broadcast(tbl(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(spark, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val cand = ps.join(broadcast(eu.select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
        .select("l_partkey", "l_suppkey", "cost_c")
      cand
        .withColumn("min_c",
          min(col("cost_c")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("cost_c") === col("min_c"))
        .join(tbl(spark, dir, "part")
          .filter(col("p_type") === "LARGE")
          .select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"), col("cost_c"), col("s_suppkey"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"), col("s_suppkey"))
        .limit(100)
    },

    // TPC-H Q11 shape (important stock): group value vs a fraction of the
    // global total. Inventory value per part is the witnessed line revenue
    // (integer cents) of one nation's suppliers — the nation slice
    // broadcasts into the fact scan, one hash agg per part, and the global
    // total re-aggregates that output (never a second fact pass). The
    // "more than 0.15% of total" HAVING is the cross-multiplied integer
    // compare value·10000 > total·15 — no division, exact boundary.
    Q("q_tpch_q11",
      """WITH pv AS (
        |  SELECT l_partkey,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |                JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'
        |  GROUP BY l_partkey),
        |tot AS (SELECT sum(value_c) AS total_c FROM pv)
        |SELECT l_partkey AS p_partkey, CAST(value_c AS BIGINT) AS value_c
        |FROM pv, tot
        |WHERE value_c * 10000 > total_c * 15
        |ORDER BY value_c DESC, p_partkey""".stripMargin) { (spark, dir) =>
      val natSupp = tbl(spark, dir, "supplier")
        .join(broadcast(tbl(spark, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val pv = tbl(spark, dir, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
          .as("value_c"))
      pv.crossJoin(broadcast(pv.agg(sum(col("value_c")).as("total_c"))))
        .filter(col("value_c") * 10000 > col("total_c") * 15)
        .select(col("l_partkey").as("p_partkey"), big(col("value_c")).as("value_c"))
        .orderBy(col("value_c").desc, col("p_partkey"))
    },

    // TPC-H Q12 shape (shipping-priority matrix): the two-way conditional
    // aggregate over the orders⋈lineitem join (the fixtures carry no
    // l_shipmode, so l_linestatus plays the mode dimension — same
    // CASE-sum skeleton). The date filter pushes into the lineitem scan;
    // the one shuffle is the fact-fact orderkey join, and priority
    // classification is integer CASE arithmetic on both engines.
    Q("q_tpch_q12",
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (spark, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
        .join(tbl(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(big(sum(when(hi, 1).otherwise(0))).as("high_line_count"),
          big(sum(when(hi, 0).otherwise(1))).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // TPC-H Q20 shape (part promotion): the nested semi-join chain —
    // suppliers qualify through an aggregate predicate on their own
    // shipment history. Per (supplier, red part): does the 1997 quantity
    // exceed half the all-time quantity (2·q97 > qtot, integral — Q20's
    // availqty > ½·shipped with derived inventory)? The red-part slice
    // broadcast-semi-reduces the fact before its only agg; qualifying
    // suppliers collapse to a distinct key set that semi-joins the
    // nation-filtered supplier dimension.
    Q("q_tpch_q20",
      """WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
        |sp AS (
        |  SELECT l_suppkey,
        |         sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |                   AND l_shipdate < TIMESTAMP '1998-01-01'
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q97,
        |         sum(CAST(l_quantity AS BIGINT)) AS qtot
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM rp)
        |  GROUP BY l_suppkey, l_partkey),
        |qual AS (SELECT DISTINCT l_suppkey FROM sp WHERE 2 * q97 > qtot)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_7', 'NATION_12', 'NATION_17')
        |  AND s_suppkey IN (SELECT l_suppkey FROM qual)
        |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
      val rp = tbl(spark, dir, "part")
        .filter(col("p_name").like("%red%")).select("p_partkey")
      val in97 = col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp")
      val qual = tbl(spark, dir, "lineitem")
        .join(broadcast(rp), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(when(in97, col("l_quantity").cast(LongType)).otherwise(0L))
          .as("q97"),
          sum(col("l_quantity").cast(LongType)).as("qtot"))
        .filter(lit(2) * col("q97") > col("qtot"))
        .select("l_suppkey").distinct()
      tbl(spark, dir, "supplier")
        .join(broadcast(tbl(spark, dir, "nation")
          .filter(col("n_name").isin("NATION_7", "NATION_12", "NATION_17"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    },

    // DSIR-style data selection (Xie et al. 2023): importance weight of
    // every document under a hashed-bigram feature model, target domain =
    // the English slice. Bigram features hash into 64 buckets with the
    // codepoint-fold FNV (oracle-replayable); the per-bucket weight is the
    // add-one-smoothed target/raw probability ratio as a ·10⁶ floored
    // integer, and a document's score is the count-weighted floor-mean of
    // its buckets' weights — pure integer end to end, so selection
    // boundaries replay exactly. Scale shape: one corpus pass builds the
    // 64-row weight table (broadcast back), one pass aggregates per-doc
    // bucket counts — both map-side-combining hash aggs; nothing pairwise.
    Q("q_dsir",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id, lang, tk[i] || ' ' || tk[i + 1] AS bigram
         |  FROM t, UNNEST(range(1, len(tk))) AS u(i)),
         |hb AS (
         |  SELECT doc_id, lang,
         |         CAST(${fnvSql("bigram")} % 64 AS BIGINT) AS b
         |  FROM bg),
         |stats AS (
         |  SELECT b, count(*) AS r_b, count(*) FILTER (lang = 'en') AS t_b
         |  FROM hb GROUP BY b),
         |tot AS (SELECT sum(r_b) AS nr, sum(t_b) AS nt FROM stats),
         |w AS (
         |  SELECT b,
         |         CAST(CAST(t_b + 1 AS HUGEINT) * nr * 1000000
         |              // (CAST(r_b + 1 AS HUGEINT) * nt) AS BIGINT) AS w
         |  FROM stats, tot),
         |dc AS (SELECT doc_id, b, count(*) AS c FROM hb GROUP BY doc_id, b)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |       CAST(sum(c * w) // sum(c) AS BIGINT) AS dsir_score
         |FROM dc JOIN w USING (b)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val tk = toks(col("text"))
      val n1 = greatest(size(tk) - 1, lit(0))
      val bg = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
      val hb = bg.select(col("doc_id"), col("lang"),
        pmod(fnv(col("bigram")), lit(64L)).as("b"))
      val stats = hb.groupBy("b")
        .agg(count(lit(1)).as("r_b"),
          count(when(col("lang") === "en", 1)).as("t_b"))
      val tot = stats.agg(sum(col("r_b")).as("nr"), sum(col("t_b")).as("nt"))
      val w = stats.crossJoin(broadcast(tot))
        .select(col("b"),
          expr("""CAST((CAST(t_b + 1 AS DECIMAL(38,0)) * nr * 1000000)
                 |     div (CAST(r_b + 1 AS DECIMAL(38,0)) * nt) AS BIGINT)"""
            .stripMargin).as("w"))
      hb.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .join(broadcast(w), "b")
        .groupBy("doc_id")
        .agg(big(sum(col("c"))).as("n_bigrams"),
          big(expr("sum(c * w) div sum(c)")).as("dsir_score"))
        .orderBy("doc_id")
    },

    // BPE merge application — the iterated half of tokenizer training
    // (q_bpe_pairs mined round-1 merge candidates; this applies the top
    // merge and recounts, proving the loop closes). Everything runs on the
    // DISTINCT-WORD frequency table, so per-round cost is vocabulary-sized
    // regardless of corpus size — the property that makes distributed BPE
    // training feasible. The merge itself is a leftmost non-overlapping
    // string replace over space-joined symbols (both engines scan
    // left-to-right, which IS greedy BPE application), with the 1-row top
    // pair broadcast as the scalar-subquery shape.
    Q("q_bpe_apply",
      s"""WITH words AS (
         |  SELECT u AS w, count(*) AS freq
         |  FROM (SELECT unnest($toksSql) AS u FROM documents)
         |  GROUP BY 1),
         |syms AS (
         |  SELECT freq,
         |         array_to_string(list_filter(string_split(w, ''), c -> c <> ''),
         |                         ' ') AS s
         |  FROM words),
         |p1 AS (
         |  SELECT cs[i] AS a, cs[i + 1] AS b, sum(freq) AS cnt
         |  FROM (SELECT freq, list_filter(string_split(w, ''), c -> c <> '') AS cs
         |        FROM words),
         |       UNNEST(range(1, len(cs))) AS u(i)
         |  GROUP BY a, b),
         |top1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
         |merged AS (
         |  SELECT freq, string_split(replace(s, a || ' ' || b, a || b), ' ') AS cs
         |  FROM syms, top1),
         |prs AS (
         |  SELECT cs[i] AS a, cs[i + 1] AS b, freq
         |  FROM merged, UNNEST(range(1, len(cs))) AS u(i))
         |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM prs GROUP BY a, b
         |ORDER BY cnt DESC, a, b LIMIT 10""".stripMargin) { (spark, dir) =>
      val words = tbl(spark, dir, "documents")
        .select(explode(toks(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val chars = filter(split(col("w"), ""), c => c =!= "")
      val syms = words.select(col("freq"), array_join(chars, " ").as("s"))
      def pairCounts(df: DataFrame, cs: Column): DataFrame = {
        val n1 = greatest(size(cs) - 1, lit(0))
        df.select(col("freq"),
            explode(zip_with(slice(cs, lit(1), n1), slice(cs, lit(2), n1),
              (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
      }
      val top1 = pairCounts(words.select(col("freq"), col("w")), chars)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .select(col("a").as("ma"), col("b").as("mb"))
      val merged = syms.crossJoin(broadcast(top1))
        .select(col("freq"),
          split(call_function("replace", col("s"),
            concat(col("ma"), lit(" "), col("mb")),
            concat(col("ma"), col("mb"))), " ").as("cs"))
      pairCounts(merged, col("cs"))
        .select(col("a"), col("b"), big(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(10)
    },

    // Sequence packing — the last step before a pretraining run: documents
    // pack into fixed 2048-token training sequences (docs straddle
    // boundaries; causal masking handles the seams). Deterministic packing
    // order (length DESC, id) + a per-language cumulative-sum window makes
    // bin assignment a pure integer function of the data: bin = ⌊(cum−1)
    // /2048⌋. The window partitions by language (never global) — at corpus
    // scale each language packs independently, which is also what a
    // multilingual batch mixer wants. Output: per-bin doc/token counts,
    // i.e. the packing-efficiency report.
    Q("q_seq_packing",
      s"""WITH sized AS (
         |  SELECT doc_id, lang, len($toksSql) AS n_tokens FROM documents),
         |packed AS (
         |  SELECT doc_id, lang, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY lang
         |                             ORDER BY n_tokens DESC, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sized WHERE n_tokens > 0)
         |SELECT lang, CAST((cum - 1) // 2048 AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM packed
         |GROUP BY lang, bin
         |ORDER BY lang, bin""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks(col("text"))).cast(LongType).as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("lang"), expr("(cum - 1) div 2048").as("bin"),
          col("n_tokens"))
        .groupBy("lang", "bin")
        .agg(big(count(lit(1))).as("n_docs"),
          big(sum(col("n_tokens"))).as("n_tokens"))
        .select(col("lang"), big(col("bin")).as("bin"), col("n_docs"),
          col("n_tokens"))
        .orderBy("lang", "bin")
    },

    // Deterministic masking schedule — MLM/denoising example prep: token i
    // of document d is masked iff fnv1a64(d‖':'‖i) mod 100 < 15, a pure
    // function of (doc, position) — the property that makes masked-example
    // generation reproducible across re-runs, engines, and epochs (salt
    // the position string per epoch for fresh masks). One map-side explode
    // + hash agg; the oracle refolds every position hash in HUGEINT and
    // agrees on each mask decision, so n_masked hash-matches exactly.
    // (The fold must wrap to SIGNED before the mod: 100 does not divide
    // 2⁶⁴, so unsigned-mod and pmod-of-signed disagree above 2⁶³.)
    Q("q_span_mask",
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |tok AS (
         |  SELECT doc_id, i,
         |         ((CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
         |                     THEN h - CAST(18446744073709551616 AS HUGEINT)
         |                     ELSE h END AS BIGINT) % 100) + 100) % 100 AS r
         |  FROM (
         |    SELECT doc_id, i,
         |           ${fnvSql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} AS h
         |    FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN r < 15 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_masked
         |FROM tok GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val tk = toks(col("text"))
      tbl(spark, dir, "documents")
        .select(col("doc_id"), posexplode(tk).as(Seq("p", "tok")))
        .select(col("doc_id"),
          pmod(fnv(concat(col("doc_id").cast("string"), lit(":"),
            (col("p") + 1).cast("string"))), lit(100L)).as("r"))
        .groupBy("doc_id")
        .agg(big(count(lit(1))).as("n_tokens"),
          big(sum(when(col("r") < 15, 1).otherwise(0))).as("n_masked"))
        .orderBy("doc_id")
    },

    // Per-language Zipf profile: rank×frequency products for each
    // language's top-20 tokens as ·10⁶ floored integers — the flatness of
    // zipf_e6 down the ranks is the Zipf-law diagnostic corpus reports
    // ship. Ranking windows partition by language (never global), the
    // per-language totals re-aggregate the token-frequency shuffle, and
    // everything is integer so the profile replays exactly.
    Q("q_zipf_profile",
      s"""WITH tok AS (SELECT lang, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT lang, tok, count(*) AS freq FROM tok GROUP BY lang, tok),
         |tot AS (SELECT lang, sum(freq) AS total FROM tf GROUP BY lang),
         |ranked AS (
         |  SELECT lang, tok, freq,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY freq DESC, tok) AS rank
         |  FROM tf)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, tok,
         |       CAST(freq AS BIGINT) AS freq,
         |       CAST(freq * rank * 1000000 // total AS BIGINT) AS zipf_e6
         |FROM ranked JOIN tot USING (lang)
         |WHERE rank <= 20
         |ORDER BY lang, rank""".stripMargin) { (spark, dir) =>
      val tf = tbl(spark, dir, "documents")
        .select(col("lang"), explode(toks(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
      val tot = tf.groupBy("lang").agg(sum(col("freq")).as("total"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("freq").desc, col("tok"))
      tf.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .join(broadcast(tot), "lang")
        .select(col("lang"), big(col("rank")).as("rank"), col("tok"),
          big(col("freq")).as("freq"),
          big(expr("freq * rank * 1000000L div total")).as("zipf_e6"))
        .orderBy("lang", "rank")
    }
  )
}
