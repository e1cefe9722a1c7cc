package graft.queries

import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group W — round-5 fifteenth wave: approximate query processing with
  * EXACT oracles — KMV sketch set operations and coordinated (universe)
  * join sampling. Both estimators are pure deterministic functions of the
  * data through the replayable FNV fold, so the oracle checks estimate
  * AND error, not just the exact side.
  */
object GroupW {

  private val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"

  /** DuckDB HUGEINT codepoint FNV-1a fold of an expression. */
  private def fnvSql(e: String): String =
    s"""CAST(list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_transform(list_filter(string_split($e, ''), c -> c <> ''),
       |          c -> CAST(ascii(c) AS HUGEINT))),
       |      (acc, x) -> (xor(acc, x) * 1099511628211)
       |                  % CAST(18446744073709551616 AS HUGEINT))
       |    AS HUGEINT)""".stripMargin

  val all: Seq[Q] = Seq(

    // KMV set-operation estimation: per event-type pair, the distinct-user
    // union and intersection estimated FROM THE SKETCHES (k=16 minimum FNV
    // hashes per type — the mergeable summary a distributed system ships
    // instead of user sets), against the exact counts. Union sketch =
    // k smallest of the merged minima, est = (k−1)·2⁶⁴/h_k; intersection
    // via the standard ρ·est_union with ρ = |K_∪ ∩ K_a ∩ K_b|/k. Every
    // value is integer-exact (unsigned hashes as DECIMAL(38,0)), so both
    // engines produce identical ESTIMATES — the property that makes a
    // sketch auditable. Scale shape: sketches are 16 longs per type; only
    // the exact baseline touches the full user sets.
    Q("q_kmv_setops",
      s"""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
         |h AS (
         |  SELECT event_type, ${fnvSql("CAST(user_id AS VARCHAR)")} AS u
         |  FROM ut),
         |k AS (
         |  SELECT event_type, u FROM (
         |    SELECT event_type, u,
         |           row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
         |    FROM h) WHERE rn <= 16),
         |prs AS (
         |  SELECT a.event_type AS ta, b.event_type AS tb
         |  FROM (SELECT DISTINCT event_type FROM ut) a
         |  JOIN (SELECT DISTINCT event_type FROM ut) b
         |    ON a.event_type < b.event_type),
         |mrg AS (
         |  SELECT ta, tb, u FROM (
         |    SELECT p.ta, p.tb, k.u,
         |           row_number() OVER (PARTITION BY p.ta, p.tb ORDER BY k.u) AS rn
         |    FROM prs p JOIN (SELECT DISTINCT event_type, u FROM k) k
         |      ON k.event_type = p.ta OR k.event_type = p.tb) s
         |  WHERE rn <= 16),
         |kth AS (
         |  SELECT ta, tb, max(u) AS hk, count(*) AS kk FROM mrg GROUP BY 1, 2),
         |inb AS (
         |  SELECT m.ta, m.tb, count(*) AS c
         |  FROM mrg m
         |  JOIN k ka ON ka.event_type = m.ta AND ka.u = m.u
         |  JOIN k kb ON kb.event_type = m.tb AND kb.u = m.u
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT p.ta, p.tb,
         |         count(DISTINCT ut.user_id) AS true_union
         |  FROM prs p JOIN ut ON ut.event_type = p.ta OR ut.event_type = p.tb
         |  GROUP BY 1, 2),
         |exi AS (
         |  SELECT a.event_type AS ta, b.event_type AS tb,
         |         count(*) AS true_int
         |  FROM ut a JOIN ut b
         |    ON a.user_id = b.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT kth.ta, kth.tb,
         |         CAST(((kth.kk - 1) * CAST(18446744073709551616 AS HUGEINT))
         |              // kth.hk AS BIGINT) AS est_union,
         |         coalesce(inb.c, 0) AS c, kth.kk
         |  FROM kth LEFT JOIN inb ON inb.ta = kth.ta AND inb.tb = kth.tb)
         |SELECT est.ta AS ta, est.tb AS tb,
         |       CAST(ex.true_union AS BIGINT) AS true_union, est.est_union,
         |       CAST(coalesce(exi.true_int, 0) AS BIGINT) AS true_int,
         |       CAST(est.c * est.est_union // est.kk AS BIGINT) AS est_int
         |FROM est JOIN ex ON ex.ta = est.ta AND ex.tb = est.tb
         |LEFT JOIN exi ON exi.ta = est.ta AND exi.tb = est.tb
         |ORDER BY ta, tb""".stripMargin) { (spark, dir) =>
      val ut = events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint(true) // sketches + both exact baselines read it
      val h2 = ut.select(col("event_type"),
          graft.ops.expr.Fnv1a64.columnCodePoints(col("user_id").cast("string"))
            .as("hs"))
        .select(col("event_type"),
          expr(s"CASE WHEN hs >= 0 THEN CAST(hs AS DECIMAL(38,0)) " +
            s"ELSE CAST(hs AS DECIMAL(38,0)) + $two64 END").as("u"))
      val byT = Window.partitionBy("event_type").orderBy("u")
      val k = h2.withColumn("rn", row_number().over(byT))
        .filter(col("rn") <= 16).select("event_type", "u")
        .localCheckpoint(true) // merged sketch + both membership probes
      val types = ut.select("event_type").distinct()
      val prs = types.select(col("event_type").as("ta"))
        .crossJoin(types.select(col("event_type").as("tb")))
        .filter(col("ta") < col("tb"))
      val byPair = Window.partitionBy("ta", "tb").orderBy("u")
      val mrg = prs.join(k.select("event_type", "u").distinct(),
          col("event_type") === col("ta") || col("event_type") === col("tb"))
        .select("ta", "tb", "u")
        .withColumn("rn", row_number().over(byPair))
        .filter(col("rn") <= 16).select("ta", "tb", "u")
        .localCheckpoint(true) // kth + membership agg share it
      val kth = mrg.groupBy("ta", "tb")
        .agg(max("u").as("hk"), count(lit(1)).as("kk"))
      val both = mrg
        .join(k.select(col("event_type").as("ta"), col("u")), Seq("ta", "u"))
        .join(k.select(col("event_type").as("tb"), col("u")), Seq("tb", "u"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("c"))
      val ex = prs.join(ut,
          col("event_type") === col("ta") || col("event_type") === col("tb"))
        .groupBy("ta", "tb").agg(countDistinct("user_id").as("true_union"))
      val exi = ut.select(col("event_type").as("ta"), col("user_id"))
        .join(ut.select(col("event_type").as("tb"), col("user_id")), Seq("user_id"))
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("true_int"))
      kth.join(both, Seq("ta", "tb"), "left")
        .withColumn("est_union",
          expr(s"CAST((CAST(kk - 1 AS DECIMAL(38,0)) * $two64) DIV hk AS BIGINT)"))
        .join(ex, Seq("ta", "tb"))
        .join(exi, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"), big(col("true_union")).as("true_union"),
          col("est_union"),
          big(coalesce(col("true_int"), lit(0L))).as("true_int"),
          big(expr("coalesce(c, 0) * est_union div kk")).as("est_int"))
        .orderBy("ta", "tb")
    },

    // Coordinated (universe) join sampling: restrict BOTH join sides to
    // the same 10% of the KEY UNIVERSE (pmod(fnv(key), 100) < 10) — the
    // sampled join then contains every joined row whose key falls in the
    // sampled universe, so join_rows/10% is an unbiased size estimate
    // without ever joining the full inputs. Independent Bernoulli samples
    // of each side would estimate p² of the join and miss key-correlation;
    // coordination through the SHARED hash is the whole trick (the AQP
    // "universe sampling" of Quickr/BlinkDB lineage). The hash wraps to
    // SIGNED and uses pmod on both engines (100 ∤ 2⁶⁴, so the unsigned
    // residue would diverge). Exact side + estimate + signed error ppm.
    Q("q_join_sample",
      s"""WITH lk AS (
         |  SELECT l_orderkey AS k FROM lineitem),
         |ok AS (SELECT o_orderkey AS k FROM orders),
         |hs AS (
         |  SELECT k,
         |    CAST(CASE WHEN ${fnvSql("CAST(k AS VARCHAR)")}
         |                   >= CAST(9223372036854775808 AS HUGEINT)
         |              THEN ${fnvSql("CAST(k AS VARCHAR)")}
         |                   - CAST(18446744073709551616 AS HUGEINT)
         |              ELSE ${fnvSql("CAST(k AS VARCHAR)")} END AS BIGINT) AS h
         |  FROM (SELECT DISTINCT k FROM ok)),
         |surv AS (SELECT k FROM hs WHERE ((h % 100) + 100) % 100 < 10),
         |exact AS (
         |  SELECT count(*) AS n FROM lk JOIN ok USING (k)),
         |samp AS (
         |  SELECT count(*) AS n
         |  FROM lk JOIN surv USING (k) JOIN ok USING (k))
         |SELECT CAST(exact.n AS BIGINT) AS exact_rows,
         |       CAST(samp.n AS BIGINT) AS sample_rows,
         |       CAST(samp.n * 10 AS BIGINT) AS est_rows,
         |       CAST((samp.n * 10 - exact.n) * 1000000 // exact.n AS BIGINT)
         |         AS err_ppm
         |FROM exact, samp
         |ORDER BY exact_rows""".stripMargin) { (spark, dir) =>
      val lk = tbl(spark, dir, "lineitem").select(col("l_orderkey").as("k"))
      val ok = tbl(spark, dir, "orders").select(col("o_orderkey").as("k"))
      val surv = ok.select("k").distinct()
        .withColumn("h",
          graft.ops.expr.Fnv1a64.columnCodePoints(col("k").cast("string")))
        .filter(pmod(col("h"), lit(100)) < 10)
        .select("k")
      val exact = lk.join(ok, Seq("k")).agg(count(lit(1)).as("n"))
        .select(col("n").as("exact_rows"))
      val samp = lk.join(surv, Seq("k")).join(ok, Seq("k"))
        .agg(count(lit(1)).as("n")).select(col("n").as("sample_rows"))
      exact.crossJoin(broadcast(samp))
        .select(big(col("exact_rows")).as("exact_rows"),
          big(col("sample_rows")).as("sample_rows"),
          big(col("sample_rows") * 10).as("est_rows"),
          big(expr("(sample_rows * 10 - exact_rows) * 1000000 div exact_rows"))
            .as("err_ppm"))
        .orderBy("exact_rows")
    },

    // Grouped-aggregate estimation from a coordinated sample — the third
    // leg of the AQP set (q_kmv_setops: distinct cardinality, q_join_sample:
    // join size, here: SUMs). Per event type, total value estimated from
    // the 10% USER-universe sample (same signed-fnv pmod gate — sampling
    // whole users, not rows, keeps per-user correlation intact, the
    // cluster-sampling property dashboards need) scaled ×10, against the
    // exact DECIMAL total, with signed error ppm. Values stay in integer
    // micros end-to-end, so the estimate replays exactly.
    Q("q_sum_sample",
      s"""WITH ev AS (
         |  SELECT event_type, user_id,
         |         CAST(CAST(value AS DECIMAL(25,6)) * 1000000 AS BIGINT)
         |           AS v_micros
         |  FROM events),
         |uh AS (
         |  SELECT user_id,
         |    CAST(CASE WHEN ${fnvSql("CAST(user_id AS VARCHAR)")}
         |                   >= CAST(9223372036854775808 AS HUGEINT)
         |              THEN ${fnvSql("CAST(user_id AS VARCHAR)")}
         |                   - CAST(18446744073709551616 AS HUGEINT)
         |              ELSE ${fnvSql("CAST(user_id AS VARCHAR)")} END AS BIGINT) AS h
         |  FROM (SELECT DISTINCT user_id FROM ev)),
         |surv AS (SELECT user_id FROM uh WHERE ((h % 100) + 100) % 100 < 10),
         |ex AS (
         |  SELECT event_type, sum(v_micros) AS exact_micros FROM ev GROUP BY 1),
         |sm AS (
         |  SELECT ev.event_type, sum(ev.v_micros) AS samp_micros
         |  FROM ev JOIN surv USING (user_id) GROUP BY 1)
         |SELECT ex.event_type AS event_type,
         |       CAST(ex.exact_micros AS BIGINT) AS exact_micros,
         |       CAST(coalesce(sm.samp_micros, 0) * 10 AS BIGINT) AS est_micros,
         |       CAST(CAST(coalesce(sm.samp_micros, 0) * 10 - ex.exact_micros
         |                 AS HUGEINT)
         |            * 1000000 // ex.exact_micros AS BIGINT) AS err_ppm
         |FROM ex LEFT JOIN sm ON sm.event_type = ex.event_type
         |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // ONE scan, ONE aggregation shuffle (round 16, guide §2.4): the 10%
      // user gate pmod(fnv(user_id), 100) < 10 is a pure per-ROW function,
      // so the sampled leg is a conditional sum in the SAME aggregate as
      // the exact total. The previous plan localCheckpoint'ed the whole
      // projected fact, hashed the DISTINCT user universe, and semi-joined
      // it back — at 100 TB that is a full materialized copy plus two
      // extra shuffles of the fact; re-hashing a short id per row is
      // plain CPU inside the scan. A user's rows all share the hash, so
      // summing gated rows ≡ joining the gated user set: bit-identical.
      val sampled = pmod(graft.ops.expr.Fnv1a64.columnCodePoints(
        col("user_id").cast("string")), lit(100)) < 10
      events(spark, dir)
        .select(col("event_type"),
          (col("value").cast(DecimalType(25, 6)) * 1000000)
            .cast("long").as("v_micros"),
          sampled.as("in_sample"))
        .groupBy("event_type")
        .agg(sum("v_micros").as("exact_micros"),
          // empty sample ⇒ 0 (matches the old left join's coalesce(·, 0))
          sum(when(col("in_sample"), col("v_micros")).otherwise(0L))
            .as("samp_micros"))
        .select(col("event_type"), big(col("exact_micros")).as("exact_micros"),
          big(col("samp_micros") * 10).as("est_micros"),
          // DECIMAL(38,0) headroom: diff·10⁶ overflows int64 at large SF
          big(expr("CAST(samp_micros * 10 - exact_micros" +
            " AS DECIMAL(38,0)) * 1000000 div exact_micros")).as("err_ppm"))
        .orderBy("event_type")
    },

    // Max-min fair quota allocation (waterfilling): split a token budget
    // (half the corpus here) across sources so that no source gets more
    // than it has, small sources keep everything, and the remainder is
    // levelled — alloc_i = min(mass_i, L) with the unique water level L
    // where the budget exhausts. The quota planner a multi-source ingest
    // runs when one supplier would otherwise flood the mix
    // (q_mix_temperature re-weights; this CAPS). The waterfilling solve
    // runs entirely on the BOUNDED source axis (one partition-less window
    // over ≤|sources| rows — the q_revenue_growth exception class); the
    // corpus scan reduces to source-keyed token masses first. All integer
    // arithmetic; alloc ≤ budget with the div remainder documented.
    Q("q_fair_quota",
      """WITH m AS (
        |  SELECT source,
        |         sum(len(list_filter(string_split(lower(text), ' '),
        |                             x -> x <> ''))) AS mass
        |  FROM documents GROUP BY 1),
        |b AS (SELECT sum(mass) // 2 AS budget FROM m),
        |r AS (
        |  SELECT source, mass,
        |         row_number() OVER (ORDER BY mass, source) AS rn,
        |         count(*) OVER () AS n,
        |         sum(mass) OVER (ORDER BY mass, source
        |                         ROWS UNBOUNDED PRECEDING) - mass AS pfx
        |  FROM m),
        |lvl AS (
        |  SELECT min(CASE WHEN pfx + (n - rn + 1) * mass >= b.budget
        |                  THEN (b.budget - pfx) // (n - rn + 1) END) AS level
        |  FROM r, b)
        |SELECT r.source AS source, CAST(r.mass AS BIGINT) AS mass,
        |       CAST(least(r.mass, lvl.level) AS BIGINT) AS alloc,
        |       CAST(CASE WHEN r.mass > lvl.level THEN 1 ELSE 0 END AS BIGINT)
        |         AS capped
        |FROM r, lvl
        |ORDER BY source""".stripMargin) { (spark, dir) =>
      val m = tbl(spark, dir, "documents")
        .groupBy("source")
        .agg(sum(size(graft.ops.DedupOps.tokens(lower(col("text")))))
          .as("mass"))
        .localCheckpoint(true) // budget, ranks, and the final join share it
      val b = m.agg(expr("sum(mass) div 2").as("budget"))
      val byMass = Window.orderBy(col("mass"), col("source"))
      val all = Window.partitionBy()
      val r = m
        .withColumn("rn", row_number().over(byMass))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("pfx", sum("mass").over(
          byMass.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("mass"))
        .crossJoin(broadcast(b))
      val lvl = r.agg(min(when(
          expr("pfx + (n - rn + 1) * mass >= budget"),
          expr("(budget - pfx) div (n - rn + 1)"))).as("level"))
      r.crossJoin(broadcast(lvl))
        .select(col("source"), big(col("mass")).as("mass"),
          big(least(col("mass"), col("level"))).as("alloc"),
          big(when(col("mass") > col("level"), 1L).otherwise(0L)).as("capped"))
        .orderBy("source")
    },

    // Join-order advisor for the customer⋈orders⋈lineitem chain: the CBO
    // decision COMPUTED — both left-deep orders' intermediate sizes from
    // EXACT per-key cardinalities (q_join_cardinality's statistic), cost =
    // intermediate + final rows materialized, cheapest plan flagged. The
    // final join size is order-independent; the intermediate is the whole
    // decision. Everything runs on key-cardinality-sized count tables.
    Q("q_join_order",
      """WITH oc AS (SELECT o_custkey AS ck, o_orderkey AS ok FROM orders),
        |ck AS (SELECT c_custkey AS ck FROM customer),
        |lc AS (SELECT l_orderkey AS ok, count(*) AS c FROM lineitem GROUP BY 1),
        |co AS (SELECT count(*) AS n FROM oc JOIN ck USING (ck)),
        |ol AS (SELECT sum(lc.c) AS n FROM oc JOIN lc USING (ok)),
        |fin AS (
        |  SELECT sum(lc.c) AS n
        |  FROM oc JOIN ck USING (ck) JOIN lc USING (ok))
        |SELECT * FROM (
        |  SELECT '(customer*orders)*lineitem' AS plan,
        |         CAST(co.n AS BIGINT) AS inter_rows,
        |         CAST(fin.n AS BIGINT) AS final_rows,
        |         CAST(co.n + fin.n AS BIGINT) AS cost,
        |         CAST(CASE WHEN co.n <= ol.n THEN 1 ELSE 0 END AS BIGINT)
        |           AS chosen
        |  FROM co, ol, fin
        |  UNION ALL
        |  SELECT '(orders*lineitem)*customer', CAST(ol.n AS BIGINT),
        |         CAST(fin.n AS BIGINT), CAST(ol.n + fin.n AS BIGINT),
        |         CAST(CASE WHEN ol.n < co.n THEN 1 ELSE 0 END AS BIGINT)
        |  FROM co, ol, fin)
        |ORDER BY plan""".stripMargin) { (spark, dir) =>
      val oc = tbl(spark, dir, "orders")
        .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"))
        .localCheckpoint(true) // all three cardinality probes read it
      val ckeys = tbl(spark, dir, "customer").select(col("c_custkey").as("ck"))
      val lcnt = tbl(spark, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok")).agg(count(lit(1)).as("c"))
      val co = oc.join(ckeys, Seq("ck")).agg(count(lit(1)).as("co_n"))
      val ol = oc.join(lcnt, Seq("ok")).agg(sum("c").as("ol_n"))
      val fin = oc.join(ckeys, Seq("ck")).join(lcnt, Seq("ok"))
        .agg(sum("c").as("fin_n"))
      val s = co.crossJoin(broadcast(ol)).crossJoin(broadcast(fin))
        .localCheckpoint(true) // both plan rows project from one 1-row frame
      def plan(name: String, inter: String, chosenExpr: String): DataFrame =
        s.select(lit(name).as("plan"), big(col(inter)).as("inter_rows"),
          big(col("fin_n")).as("final_rows"),
          big(expr(s"$inter + fin_n")).as("cost"),
          big(expr(chosenExpr)).as("chosen"))
      plan("(customer*orders)*lineitem", "co_n",
          "CASE WHEN co_n <= ol_n THEN 1 ELSE 0 END")
        .unionByName(plan("(orders*lineitem)*customer", "ol_n",
          "CASE WHEN ol_n < co_n THEN 1 ELSE 0 END"))
        .orderBy("plan")
    }
  )
}
