package graft.queries

import graft.cdc.Changelog
import graft.queries.Q.{big, tbl}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Group K — round-6 third wave: incremental view maintenance over the
  * change log, market-basket co-occurrence, and the join-skew advisor.
  */
object GroupK {

  val all: Seq[Q] = Seq(

    // Incremental view maintenance: maintain per-author (doc count, total
    // content chars) from change-log DELTAS — +1/+len on insert,
    // len(new)−len(old) on update, −1/−len on delete — without ever
    // recomputing from the latest state (the classic IVM contract: the
    // view aggregates the deltas, and converges to the recompute). The
    // old value rides a per-pk `last_value IGNORE NULLS` window over the
    // preceding effective images, so each change costs O(1) state lookup;
    // shuffles are keyed by pk then author — both scale-safe. Skipped
    // like the reference pipeline skips: null-After updates are no-ops,
    // blind deletes (empty pk) have nothing to repair and route to the
    // DLQ path instead.
    Q("q_ivm_delta",
      s"""${Changelog.cte},
         |eff AS (
         |  SELECT pk, lsn, op,
         |         CASE WHEN has_after THEN coalesce(content, '') END AS cur,
         |         CASE WHEN has_after THEN author END AS cur_author
         |  FROM changes
         |  WHERE table_name = 'documents' AND pk <> ''
         |    AND (has_after OR op = 'd')),
         |st AS (
         |  SELECT pk, lsn, op, cur,
         |         last_value(cur IGNORE NULLS) OVER w AS prev,
         |         coalesce(cur_author,
         |                  last_value(cur_author IGNORE NULLS) OVER w) AS author
         |  FROM eff
         |  WINDOW w AS (PARTITION BY pk ORDER BY lsn
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |d AS (
         |  SELECT author,
         |         CASE op WHEN 'c' THEN 1 WHEN 'd' THEN -1 ELSE 0 END AS dn,
         |         CASE op WHEN 'c' THEN length(cur)
         |                 WHEN 'u' THEN length(cur) - length(prev)
         |                 ELSE -length(prev) END AS dc
         |  FROM st)
         |SELECT author, CAST(sum(dn) AS BIGINT) AS n_docs,
         |       CAST(sum(dc) AS BIGINT) AS n_chars
         |FROM d GROUP BY author
         |ORDER BY author""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("pk").orderBy("lsn")
        .rowsBetween(Window.unboundedPreceding, -1)
      val eff = Changelog.flat(spark, dir)
        .filter(col("table_name") === "documents" && col("pk") =!= "" &&
          (col("has_after") || col("op") === "d"))
        .select(col("pk"), col("lsn"), col("op"),
          when(col("has_after"), coalesce(col("content"), lit(""))).as("cur"),
          when(col("has_after"), col("author")).as("cur_author"))
      val st = eff
        .withColumn("prev", last("cur", ignoreNulls = true).over(w))
        .withColumn("author",
          coalesce(col("cur_author"),
            last("cur_author", ignoreNulls = true).over(w)))
      st.select(col("author"),
          when(col("op") === "c", 1L).when(col("op") === "d", -1L)
            .otherwise(0L).as("dn"),
          when(col("op") === "c", length(col("cur")))
            .when(col("op") === "u", length(col("cur")) - length(col("prev")))
            .otherwise(-length(col("prev"))).cast(LongType).as("dc"))
        .groupBy("author")
        .agg(big(sum("dn")).as("n_docs"), big(sum("dc")).as("n_chars"))
        .orderBy("author")
    },

    // Market-basket pair mining: parts co-ordered in the same order, with
    // support ≥ 2 and integer-exact lift (10⁶·n_orders·support over the
    // product of the parts' order frequencies). Pairs expand WITHIN each
    // basket from ONE hash agg (groupBy order → sorted part array → array
    // pair expansion, ≲ basket width² per order — bounded by basket size
    // at any corpus scale, never corpus-quadratic); the self-join
    // formulation would shuffle the (order, part) stream TWICE and pay a
    // corpus-sized hash join for the same in-basket volume. Pair counts
    // shuffle on the (a, b) key, and the per-part frequency dimension
    // broadcasts back. The classic association-rule first stage.
    Q("q_basket_pairs",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pf AS (SELECT l_partkey, count(*) AS c FROM lp GROUP BY 1),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp),
        |p AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT CAST(p.pa AS BIGINT) AS pa, CAST(p.pb AS BIGINT) AS pb,
        |       CAST(p.support AS BIGINT) AS support,
        |       CAST(1000000 * n.n_orders * p.support // (fa.c * fb.c)
        |            AS BIGINT) AS lift_ppm
        |FROM p CROSS JOIN n
        |JOIN pf fa ON fa.l_partkey = p.pa
        |JOIN pf fb ON fb.l_partkey = p.pb
        |WHERE p.support >= 2
        |ORDER BY pa, pb""".stripMargin) { (spark, dir) =>
      // SessionCache (persisted WITH lineage), not localCheckpoint: lp is
      // corpus-sized, and pairs + frequencies + order count all read it
      val lp = graft.util.SessionCache
        .getOrMaterialize(spark, s"basket_lp:$dir") {
          tbl(spark, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")).distinct()
        }
      val pf = lp.groupBy("l_partkey").agg(count(lit(1)).as("c"))
      val n = lp.agg(countDistinct("l_orderkey").as("n_orders"))
      val nb = size(col("parts"))
      val pairs = lp.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .filter(nb > 1)
        .select(explode(flatten(transform(
          sequence(lit(1), nb - 1),
          i => transform(slice(col("parts"), i + 1, nb - i),
            b => struct(element_at(col("parts"), i.cast("int")).as("pa"),
              b.as("pb")))))).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
      pairs
        .crossJoin(broadcast(n))
        .join(broadcast(pf.select(col("l_partkey").as("pa"), col("c").as("fa"))),
          Seq("pa"))
        .join(broadcast(pf.select(col("l_partkey").as("pb"), col("c").as("fb"))),
          Seq("pb"))
        .select(big(col("pa")).as("pa"), big(col("pb")).as("pb"),
          big(col("support")).as("support"),
          big(expr("1000000 * n_orders * support div (fa * fb)")).as("lift_ppm"))
        .orderBy("pa", "pb")
    },

    // Join-skew advisor: for the lineitem self-join key (partkey), the
    // top-20 keys by their would-be join contribution c² plus each key's
    // share of the total Σc² — exactly the table a planner consults
    // before deciding to salt (q_join_salted) or let AQE split. One
    // map-side-combining key-count agg, a 1-row Σc² broadcast (the
    // q_bm25 scalar shape), and a bounded top-k — the fact table is
    // scanned once, nothing wide shuffles.
    Q("q_skew_advisor",
      """WITH kc AS (
        |  SELECT l_partkey AS key, count(*) AS c FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(c * c) AS total_c2, count(*) AS n_keys FROM kc),
        |r AS (
        |  SELECT key, c, c * c AS c2,
        |         row_number() OVER (ORDER BY c DESC, key) AS rn
        |  FROM kc)
        |SELECT CAST(r.key AS BIGINT) AS key, CAST(r.c AS BIGINT) AS c,
        |       CAST(r.c2 AS BIGINT) AS c2,
        |       CAST(1000000 * r.c2 // t.total_c2 AS BIGINT) AS share_ppm,
        |       CAST(t.n_keys AS BIGINT) AS n_keys
        |FROM r, tot t WHERE r.rn <= 20
        |ORDER BY c DESC, key""".stripMargin) { (spark, dir) =>
      // SessionCache, not localCheckpoint: kc is |part|-sized (grows with
      // the corpus) and totals + top-k both read it
      val kc = graft.util.SessionCache
        .getOrMaterialize(spark, s"skewadv_kc:$dir") {
          tbl(spark, dir, "lineitem")
            .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("c"))
        }
      val tot = kc.agg(sum(col("c") * col("c")).as("total_c2"),
        count(lit(1)).as("n_keys"))
      // top-k via TakeOrderedAndProject (orderBy+limit) — no global
      // window even over the dimension-sized key-count frame
      kc.orderBy(col("c").desc, col("key")).limit(20)
        .crossJoin(broadcast(tot))
        .select(big(col("key")).as("key"), big(col("c")).as("c"),
          big(col("c") * col("c")).as("c2"),
          big(expr("1000000 * c * c div total_c2")).as("share_ppm"),
          big(col("n_keys")).as("n_keys"))
        .orderBy(col("c").desc, col("key"))
    }
  )
}
