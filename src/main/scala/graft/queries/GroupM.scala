package graft.queries

import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Group M — round-5 fifth wave: time-series autocorrelation, interval
  * coverage, diversified retrieval re-ranking, and clickstream paths.
  *
  * Determinism contracts unchanged: integer/DECIMAL arithmetic, final
  * IEEE expressions mirrored token for token between engines, ties broken
  * by total keys.
  */
object GroupM {

  val all: Seq[Q] = Seq(

    // Lag-k autocorrelation (k = 1..3) of the daily event-count series per
    // event type — the seasonality/trend diagnostic behind every anomaly
    // monitor. The facts are touched by ONE (type, day) hash agg; the
    // calendar grid (min..max day per type, zero-filled — autocorrelation
    // needs the gaps) and the lag alignment are equi-joins on the BOUNDED
    // type × day axis. Pearson r from exact BIGINT sums (m·Σxy − Σx·Σy
    // over the sqrt product), one final double expression mirrored token
    // for token; degenerate (constant) series yield NULL via the same
    // CASE in both engines.
    Q("q_autocorr",
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, min(day) AS mind, max(day) AS maxd
        |  FROM c GROUP BY 1),
        |grid AS (
        |  SELECT s.event_type, g.day, coalesce(c.cnt, 0) AS cnt
        |  FROM (SELECT event_type, unnest(range(mind, maxd + 1)) AS day
        |        FROM span) g
        |  JOIN span s USING (event_type)
        |  LEFT JOIN c ON c.event_type = s.event_type AND c.day = g.day),
        |lagged AS (
        |  SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
        |  FROM grid a
        |  JOIN (SELECT unnest([1, 2, 3]) AS lag) l ON true
        |  JOIN grid b ON b.event_type = a.event_type AND b.day = a.day + l.lag),
        |s AS (
        |  SELECT event_type, lag, count(*) AS m,
        |         sum(x) AS sx, sum(y) AS sy,
        |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM lagged GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(m AS BIGINT) AS m,
        |       CAST(m * sxy - sx * sy AS BIGINT) AS num,
        |       CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
        |            THEN CAST(m * sxy - sx * sy AS DOUBLE)
        |                 / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |                    * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
        |       END AS r
        |FROM s ORDER BY event_type, lag""".stripMargin) { (spark, dir) =>
      val c = events(spark, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val span = c.groupBy("event_type")
        .agg(min("day").as("mind"), max("day").as("maxd"))
      val grid = span
        .select(col("event_type"),
          explode(sequence(col("mind"), col("maxd"))).as("day"))
        .join(c, Seq("event_type", "day"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .localCheckpoint(true) // both sides of the lag join read it
      val lagged = grid
        .withColumn("lag", explode(array(lit(1L), lit(2L), lit(3L))))
        .withColumn("dayk", col("day") + col("lag"))
        .join(grid.select(col("event_type"), col("day").as("dayk"),
          col("cnt").as("y")), Seq("event_type", "dayk"))
        .select(col("event_type"), col("lag"), col("cnt").as("x"), col("y"))
      val num = col("m") * col("sxy") - col("sx") * col("sy")
      val dx = col("m") * col("sxx") - col("sx") * col("sx")
      val dy = col("m") * col("syy") - col("sy") * col("sy")
      lagged.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), big(col("lag")).as("lag"),
          big(col("m")).as("m"), big(num).as("num"),
          when(dx > 0 && dy > 0,
            num.cast(DoubleType) /
              (sqrt(dx.cast(DoubleType)) * sqrt(dy.cast(DoubleType))))
            .as("r"))
        .orderBy("event_type", "lag")
    },

    // Interval union (coverage) per customer: each order spans
    // [orderdate, last shipment + 1) in days; overlapping spans merge via
    // the sweep — a running max of interval ends inside a customer-
    // partitioned window opens an island exactly when a start clears
    // everything before it. Reports covered days, island count, and raw
    // (double-counted) span-days so the overlap factor is visible. The
    // fact-fact orderkey join is the only wide shuffle; the sweep is one
    // custkey-partitioned sort. The classic warehouse "active coverage"
    // operator (SLA windows, machine uptime, campaign overlap).
    Q("q_interval_coverage",
      """WITH iv AS (
        |  SELECT o.o_custkey AS custkey,
        |         epoch_us(o.o_orderdate) // 86400000000 AS s,
        |         max(epoch_us(l.l_shipdate) // 86400000000) + 1 AS e
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, o.o_orderkey, 2),
        |sw AS (
        |  SELECT custkey, s, e,
        |         max(e) OVER (PARTITION BY custkey ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prev_max
        |  FROM iv),
        |isl AS (
        |  SELECT custkey, s, e,
        |         sum(CASE WHEN prev_max IS NULL OR s > prev_max
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY custkey ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM sw),
        |seg AS (
        |  SELECT custkey, isl, max(e) - min(s) AS covered
        |  FROM isl GROUP BY 1, 2),
        |raw AS (SELECT custkey, sum(e - s) AS span_days, count(*) AS n_orders
        |        FROM iv GROUP BY 1)
        |SELECT CAST(r.custkey AS BIGINT) AS custkey,
        |       CAST(r.n_orders AS BIGINT) AS n_orders,
        |       CAST(r.span_days AS BIGINT) AS span_days,
        |       CAST(sum(g.covered) AS BIGINT) AS covered_days,
        |       CAST(count(*) AS BIGINT) AS n_islands
        |FROM raw r JOIN seg g USING (custkey)
        |GROUP BY 1, 2, 3
        |ORDER BY custkey""".stripMargin) { (spark, dir) =>
      // round 15: the raw per-customer totals (span_days, n_orders) ride
      // the SAME sweep pass as the island aggregation — partial sums per
      // (custkey, island) roll up to the customer in the second agg — so
      // the interval table is computed once, never materialized (the
      // previous shape paid an eager localCheckpoint job so a second
      // branch and a join could re-read it; one pass, no join, same rows)
      val iv = Q.instantTs(tbl(spark, dir, "orders"), "o_orderdate")
        .join(Q.instantTs(tbl(spark, dir, "lineitem"), "l_shipdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("custkey"), col("o_orderkey"),
          expr("unix_micros(o_orderdate) div 86400000000").as("s"))
        .agg((max(expr("unix_micros(l_shipdate) div 86400000000")) + 1).as("e"))
      val order = Window.partitionBy("custkey").orderBy("s", "e")
      iv
        .withColumn("prev_max",
          max("e").over(order.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("isl",
          sum(when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
            .otherwise(0L))
            .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("custkey", "isl")
        .agg((max("e") - min("s")).as("covered"),
          sum(col("e") - col("s")).as("span_part"),
          count(lit(1)).as("n_part"))
        .groupBy("custkey")
        .agg(sum("covered").as("covered_days"), count(lit(1)).as("n_islands"),
          sum("span_part").as("span_days"), sum("n_part").as("n_orders"))
        .select(big(col("custkey")).as("custkey"), big(col("n_orders")).as("n_orders"),
          big(col("span_days")).as("span_days"),
          big(col("covered_days")).as("covered_days"),
          big(col("n_islands")).as("n_islands"))
        .orderBy("custkey")
    },

    // Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998,
    // λ = 1/2): from each query's exact top-10 cosine shortlist, greedily
    // select 3 results balancing relevance against redundancy —
    // mmr(d) = (rel(d) − max_{s∈selected} cos(d, s)) / 2. THE dedup pass
    // for retrieved training contexts: near-identical passages burn the
    // context budget, and the shortlist's top-2 are often clones. Every
    // step runs on BOUNDED frames: the 10-candidate shortlist per query,
    // its 10×9 pairwise-cosine table, and three unrolled greedy steps
    // (windows partitioned by query). The corpus is touched only by the
    // q_cosine_topk broadcast scan; rel/cos are the quantized-integer
    // cosine contract rounded to 6, so both engines compare identical
    // doubles, ties to the smaller candidate id. The MMR score rounds the
    // DIFFERENCE (which lies exactly on the 6-decimal grid — no half-way
    // case) and THEN halves (IEEE-exact): round((rel-cos)/2, 6) instead
    // would hit x.xxxxx5 half-way ties where Spark (HALF_UP) and DuckDB
    // (half-even) disagree — observed once at sf0.1.
    Q("q_mmr_diversify", {
      val qn = Q.quantNormsCte()
      s"""WITH $qn,
         |rel AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |         ${Q.quantCosSql("q", "c")} AS rel
         |  FROM qn q JOIN qn c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |top AS (
         |  SELECT query_id, cand_id, rel FROM (
         |    SELECT query_id, cand_id, rel,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY rel DESC, cand_id) AS rn
         |    FROM rel) WHERE rn <= 10),
         |pc AS (
         |  SELECT t.query_id, t.cand_id AS a_id, u.cand_id AS b_id,
         |         ${Q.quantCosSql("qa", "qb")} AS cos
         |  FROM top t JOIN top u
         |    ON u.query_id = t.query_id AND u.cand_id <> t.cand_id
         |  JOIN qn qa ON qa.vec_id = t.cand_id
         |  JOIN qn qb ON qb.vec_id = u.cand_id),
         |s1 AS (
         |  SELECT query_id, cand_id AS s1, rel AS score1 FROM (
         |    SELECT query_id, cand_id, rel,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY rel DESC, cand_id) AS rn
         |    FROM top) WHERE rn = 1),
         |m2 AS (
         |  SELECT t.query_id, t.cand_id,
         |         round(t.rel - p.cos, 6) / 2 AS mmr
         |  FROM top t
         |  JOIN s1 ON s1.query_id = t.query_id AND t.cand_id <> s1.s1
         |  JOIN pc p ON p.query_id = t.query_id AND p.a_id = t.cand_id
         |              AND p.b_id = s1.s1),
         |s2 AS (
         |  SELECT query_id, cand_id AS s2, mmr AS score2 FROM (
         |    SELECT query_id, cand_id, mmr,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY mmr DESC, cand_id) AS rn
         |    FROM m2) WHERE rn = 1),
         |m3 AS (
         |  SELECT t.query_id, t.cand_id,
         |         round(t.rel - greatest(p1.cos, p2.cos), 6) / 2 AS mmr
         |  FROM top t
         |  JOIN s1 ON s1.query_id = t.query_id
         |  JOIN s2 ON s2.query_id = t.query_id
         |  JOIN pc p1 ON p1.query_id = t.query_id AND p1.a_id = t.cand_id
         |               AND p1.b_id = s1.s1
         |  JOIN pc p2 ON p2.query_id = t.query_id AND p2.a_id = t.cand_id
         |               AND p2.b_id = s2.s2
         |  WHERE t.cand_id <> s1.s1 AND t.cand_id <> s2.s2),
         |s3 AS (
         |  SELECT query_id, cand_id AS s3, mmr AS score3 FROM (
         |    SELECT query_id, cand_id, mmr,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY mmr DESC, cand_id) AS rn
         |    FROM m3) WHERE rn = 1)
         |SELECT query_id, CAST(1 AS BIGINT) AS rank, CAST(s1 AS BIGINT) AS sel_id,
         |       score1 AS score
         |FROM s1
         |UNION ALL
         |SELECT query_id, CAST(2 AS BIGINT), CAST(s2 AS BIGINT), score2 FROM s2
         |UNION ALL
         |SELECT query_id, CAST(3 AS BIGINT), CAST(s3 AS BIGINT), score3 FROM s3
         |ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Q.quantN2(col("embedding")).as("n2"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("n2").as("qn2"))
      val cands = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("n2").as("cn2"))
      val byRel = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("cand_id"))
      // the only corpus-sized stage: the broadcast 10-query scan; the
      // shortlist (10×10 rows total) is checkpointed for the bounded tail
      val top = broadcast(queries)
        .join(cands, col("cand_id") =!= col("query_id"))
        .withColumn("rel", Q.quantCos(col("qv"), col("cv"), col("qn2"), col("cn2")))
        .withColumn("rn", row_number().over(byRel))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("cand_id"), col("rel"),
          col("cv"), col("cn2"))
        .localCheckpoint(true)
      def side(p: String) = top.select(col("query_id"),
        col("cand_id").as(s"${p}_id"), col("cv").as(s"${p}v"),
        col("cn2").as(s"${p}n2"))
      val pc = side("a").join(side("b"),
          Seq("query_id")).filter(col("a_id") =!= col("b_id"))
        .withColumn("cos", Q.quantCos(col("av"), col("bv"), col("an2"), col("bn2")))
        .select("query_id", "a_id", "b_id", "cos")
        .localCheckpoint(true) // steps 2 and 3 both read it
      val s1 = top.withColumn("rn", row_number().over(byRel))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("s1"), col("rel").as("score1"))
      val byMmr = Window.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("cand_id"))
      val m2 = top.join(s1, Seq("query_id"))
        .filter(col("cand_id") =!= col("s1"))
        .join(pc.select(col("query_id"), col("a_id").as("cand_id"),
          col("b_id").as("s1"), col("cos")), Seq("query_id", "cand_id", "s1"))
        .withColumn("mmr", round(col("rel") - col("cos"), 6) / 2)
      val s2 = m2.withColumn("rn", row_number().over(byMmr))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("s2"), col("mmr").as("score2"))
      val m3 = top.join(s1, Seq("query_id")).join(s2, Seq("query_id"))
        .filter(col("cand_id") =!= col("s1") && col("cand_id") =!= col("s2"))
        .join(pc.select(col("query_id"), col("a_id").as("cand_id"),
          col("b_id").as("s1"), col("cos").as("cos1")),
          Seq("query_id", "cand_id", "s1"))
        .join(pc.select(col("query_id"), col("a_id").as("cand_id"),
          col("b_id").as("s2"), col("cos").as("cos2")),
          Seq("query_id", "cand_id", "s2"))
        .withColumn("mmr",
          round(col("rel") - greatest(col("cos1"), col("cos2")), 6) / 2)
      val s3 = m3.withColumn("rn", row_number().over(byMmr))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("s3"), col("mmr").as("score3"))
      s1.select(col("query_id"), lit(1L).as("rank"),
          big(col("s1")).as("sel_id"), col("score1").as("score"))
        .unionByName(s2.select(col("query_id"), lit(2L).as("rank"),
          big(col("s2")).as("sel_id"), col("score2").as("score")))
        .unionByName(s3.select(col("query_id"), lit(3L).as("rank"),
          big(col("s3")).as("sel_id"), col("score3").as("score")))
        .orderBy("query_id", "rank")
    },

    // Top clickstream paths: sessionize (30-min gap, the q_sessionize
    // rule), render each session as its ordered event-type path, count
    // paths, keep the global top-10 (count DESC, path ASC). The per-user
    // window and the session agg shuffle on user_id; the path count is a
    // hash agg on the path string; the top-10 is TakeOrderedAndProject —
    // no global window anywhere. The funnel-discovery complement of
    // q_funnel (which checks ONE hypothesized order; this surfaces the
    // orders that actually happen).
    Q("q_session_path",
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS session_id
        |  FROM (SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
        |               lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                       ORDER BY ts, event_id) AS prev_us
        |        FROM events)),
        |p AS (
        |  SELECT user_id, session_id,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2),
        |c AS (
        |  SELECT path, count(*) AS n_sessions,
        |         count(DISTINCT user_id) AS n_users
        |  FROM p GROUP BY 1)
        |SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
        |       CAST(n_users AS BIGINT) AS n_users
        |FROM c ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin) { (spark, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("session_id",
          sum(when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
            .over(cum))
        .groupBy("user_id", "session_id")
        // ordered path without a second sort: collect (us, event_id, type)
        // structs in one hash agg, sort the bounded in-row array
        .agg(sort_array(collect_list(struct(col("us"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(col("user_id"),
          concat_ws(">", expr("transform(evs, e -> e.event_type)")).as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct("user_id").as("n_users"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
        .select(col("path"), big(col("n_sessions")).as("n_sessions"),
          big(col("n_users")).as("n_users"))
    }
  )
}
