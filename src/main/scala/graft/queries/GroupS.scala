package graft.queries

import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Group S — round-5 eleventh wave: forecast backtesting and revenue
  * concentration — the evaluation loop around the time-series
  * diagnostics (q_autocorr/q_burst_detect/q_rolling_median) and the
  * whale-curve complement to the RFM/LTV customer analytics.
  */
object GroupS {

  val all: Seq[Q] = Seq(

    // Naive seasonal forecast backtest: predict each day's per-type total
    // as the SAME WEEKDAY LAST WEEK (the t−7 naive every real forecaster
    // must beat — q_dow_profile showed the weekday effect; this measures
    // how much of the variance it explains). Per event type: evaluable
    // days, MAE, and WAPE in ppm (Σ|err| / Σ|actual| — the
    // scale-independent form that doesn't blow up on near-zero days).
    // Daily totals are exact DECIMAL sums cast to double; |err| is one
    // IEEE subtract+abs; both sums re-enter DECIMAL accumulators, so the
    // only engine-shared float ops are replayed bit-for-bit. Shape: ONE
    // fact scan → (type, day) agg, one equi-join on (type, day−7).
    Q("q_forecast_eval",
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.day, a.v, f.v AS fc, abs(a.v - f.v) AS ae
        |  FROM d a JOIN d f
        |    ON a.event_type = f.event_type AND f.day = a.day - 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       round(CAST(sum(CAST(ae AS DECIMAL(25,6))) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS mae,
        |       CAST(floor(1000000.0 * CAST(sum(CAST(ae AS DECIMAL(25,6))) AS DOUBLE)
        |                  / CAST(sum(CAST(abs(v) AS DECIMAL(25,6))) AS DOUBLE))
        |            AS BIGINT) AS wape_ppm
        |FROM j GROUP BY 1
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val d = events(spark, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(Q.dsum(col("value")).as("v"))
        .localCheckpoint(true) // actuals and the t−7 forecast leg share it
      d.join(d.select(col("event_type"), (col("day") + 7).as("day"),
          col("v").as("fc")), Seq("event_type", "day"))
        .withColumn("ae", abs(col("v") - col("fc")))
        .groupBy("event_type")
        .agg(big(count(lit(1))).as("n_days"),
          round(sum(col("ae").cast(DecimalType(25, 6))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 6).as("mae"),
          floor(lit(1000000.0) *
            sum(col("ae").cast(DecimalType(25, 6))).cast(DoubleType) /
            sum(abs(col("v")).cast(DecimalType(25, 6))).cast(DoubleType))
            .cast("long").as("wape_ppm"))
        .orderBy("event_type")
    },

    // Revenue concentration (whale curve) per market segment: customers
    // ranked by exact revenue within their segment, split into deciles by
    // rank, each decile reporting customer count, revenue (integer
    // micros), and its ppm share of segment revenue — "the top 10% of
    // BUILDING customers carry how much?". The rank window partitions by
    // SEGMENT (the q_winsorize shape: one per-group sort, never a global
    // one); revenue is integer micros end-to-end, so shares are exact
    // integer division.
    Q("q_revenue_deciles",
      """WITH cr AS (
        |  SELECT c.c_mktsegment AS seg, o.o_custkey AS ck,
        |         CAST(sum(CAST(o.o_totalprice AS DECIMAL(25,6))) * 1000000
        |              AS BIGINT) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT seg, rev,
        |         row_number() OVER (PARTITION BY seg
        |                            ORDER BY rev DESC, ck) AS rn,
        |         count(*) OVER (PARTITION BY seg) AS n,
        |         sum(rev) OVER (PARTITION BY seg) AS segrev
        |  FROM cr)
        |SELECT seg, CAST(least(9, (rn - 1) * 10 // n) AS BIGINT) AS decile,
        |       CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(rev) AS BIGINT) AS rev_micros,
        |       CAST(floor(1000000.0 * CAST(sum(rev) AS DOUBLE)
        |                  / CAST(max(segrev) AS DOUBLE)) AS BIGINT) AS share_ppm
        |FROM r GROUP BY 1, 2
        |ORDER BY seg, decile""".stripMargin) { (spark, dir) =>
      val cr = tbl(spark, dir, "orders")
        .join(tbl(spark, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("seg")),
          Seq("o_custkey"))
        .groupBy(col("seg"), col("o_custkey").as("ck"))
        .agg((sum(col("o_totalprice").cast(DecimalType(25, 6))) * 1000000)
          .cast("long").as("rev"))
      val byRev = Window.partitionBy("seg").orderBy(col("rev").desc, col("ck"))
      val bySeg = Window.partitionBy("seg")
      cr.withColumn("rn", row_number().over(byRev))
        .withColumn("n", count(lit(1)).over(bySeg))
        .withColumn("segrev", sum(col("rev")).over(bySeg))
        .groupBy(col("seg"),
          big(least(lit(9), expr("(rn - 1) * 10 div n"))).as("decile"))
        .agg(big(count(lit(1))).as("n_cust"), big(sum(col("rev"))).as("rev_micros"),
          // ppm share via one IEEE divide+floor of exact longs (identical
          // int→double conversion both engines) — the integer form
          // 10⁶·Σrev overflows int64 on micros-scale revenue
          big(floor(lit(1000000.0) * sum(col("rev")).cast(DoubleType) /
            max(col("segrev")).cast(DoubleType))).as("share_ppm"))
        .orderBy("seg", "decile")
    },

    // Hapax-legomena audit: per document, its distinct-token count, how
    // many of those tokens occur in NO other document (corpus df = 1),
    // and the hapax share in ppm — the out-of-vocabulary risk signal: a
    // doc made of corpus-unique tokens is either precious long-tail
    // knowledge or garbage (OCR noise, base64 blobs), and either way it
    // inflates the tokenizer's vocabulary pressure. Shapes: one distinct
    // (doc, token) explode, a df agg on TOKENS (vocabulary-sized), a
    // semi-ish join back of df=1 terms, a left join to keep zero-hapax
    // docs.
    Q("q_hapax_docs",
      """WITH dt AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(lower(text), ' '),
        |                                          x -> x <> ''))) AS tok
        |  FROM documents),
        |df AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        |hx AS (
        |  SELECT dt.doc_id, count(*) AS n_hapax
        |  FROM dt JOIN df USING (tok) WHERE df.df = 1 GROUP BY 1),
        |dn AS (SELECT doc_id, count(*) AS n_distinct FROM dt GROUP BY 1)
        |SELECT CAST(dn.doc_id AS BIGINT) AS doc_id,
        |       CAST(dn.n_distinct AS BIGINT) AS n_distinct,
        |       CAST(coalesce(hx.n_hapax, 0) AS BIGINT) AS n_hapax,
        |       CAST(1000000 * coalesce(hx.n_hapax, 0) // dn.n_distinct AS BIGINT)
        |         AS hapax_ppm
        |FROM dn LEFT JOIN hx USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val dt = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(
            graft.ops.DedupOps.tokens(lower(col("text"))))).as("tok"))
        .localCheckpoint(true) // df agg, hapax join-back, per-doc counts
      val df = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      val hx = dt.join(df.filter(col("df") === 1).select("tok"), Seq("tok"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hapax"))
      dt.groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
        .join(hx, Seq("doc_id"), "left")
        .select(big(col("doc_id")).as("doc_id"),
          big(col("n_distinct")).as("n_distinct"),
          big(coalesce(col("n_hapax"), lit(0L))).as("n_hapax"),
          big(expr("1000000 * coalesce(n_hapax, 0L) div n_distinct"))
            .as("hapax_ppm"))
        .orderBy("doc_id")
    },

    // Duplication-vs-quality calibration curve: near-dup incidence per
    // stopword-ratio decile — is the dedup queue eating the low-quality
    // tail (good: dedup and quality filters agree) or concentrated in
    // high-quality docs (bad: templates of valuable text, review the
    // threshold)? Integer decile = 10·stop // n_tok capped at 9; dup
    // membership is a left join against the SESSION-SHARED verified pair
    // artifact; output bounded at 10 rows.
    Q("q_dup_calibration",
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tok,
        |    len(list_filter(string_split(lower(text), ' '),
        |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
        |      AS stop
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, lang,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS st
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
        |              / CAST(len(list_distinct(list_concat(a.st, b.st))) AS DOUBLE), 6)
        |        >= 0.95),
        |dup AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT a_id AS doc_id FROM pairs
        |    UNION ALL SELECT b_id FROM pairs))
        |SELECT CAST(least(9, 10 * s.stop // s.n_tok) AS BIGINT) AS stop_decile,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(d.doc_id) AS BIGINT) AS dup_docs,
        |       CAST(1000000 * count(d.doc_id) // count(*) AS BIGINT) AS dup_ppm
        |FROM s LEFT JOIN dup d USING (doc_id)
        |WHERE s.n_tok > 0
        |GROUP BY 1
        |ORDER BY stop_decile""".stripMargin) { (spark, dir) =>
      val toks = graft.ops.DedupOps.tokens(lower(col("text")))
      val s = tbl(spark, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tok"),
          graft.ops.TextAnalysis.stopwordCount(toks).as("stop"))
        .filter(col("n_tok") > 0)
      val p = PipelineQueries.jaccardPairs(spark, dir)
      val dup = p.select(col("a_id").as("doc_id"))
        .unionByName(p.select(col("b_id").as("doc_id")))
        .distinct().withColumn("is_dup", lit(1L))
      s.join(dup, Seq("doc_id"), "left")
        .groupBy(big(least(lit(9), expr("10 * stop div n_tok"))).as("stop_decile"))
        .agg(big(count(lit(1))).as("n_docs"),
          big(count(col("is_dup"))).as("dup_docs"),
          big(expr("1000000 * count(is_dup) div count(1)")).as("dup_ppm"))
        .orderBy("stop_decile")
    },

    // Fulfillment-latency SLO panel: order-to-ship lead time in whole days
    // per order priority — count, exact nearest-rank p50/p90, and mean.
    // Lead times are INTEGERS (µs difference, truncating day division —
    // identical on both engines, negatives included), so the percentiles
    // are exact picks, not interpolations. Shape (round 15, guide §2.3
    // aggregate-before-shuffle): the fact-fact join output collapses to
    // per-(priority, day) COUNTS in one map-side-combining hash agg — the
    // day axis is calendar-bounded, so the frame after it is ~|pri|×|days|
    // rows at ANY scale — and the nearest-rank pick becomes "smallest d
    // whose cumulative count reaches the rank" over that bounded frame.
    // The previous shape sorted the full fact join output inside 5
    // priority partitions (a 5-task sort of the corpus at any scale —
    // the straggler shape guide §2.5 warns about); this one never sorts
    // anything data-sized. Value-at-rank-r = min{d : cum(d) ≥ r} is
    // definitionally the same pick as row_number() = r over (d ASC).
    Q("q_ship_latency",
      """WITH j AS (
        |  SELECT o.o_orderpriority AS pri,
        |         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
        |           // 86400000000 AS d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |r AS (
        |  SELECT pri, d,
        |         row_number() OVER (PARTITION BY pri ORDER BY d) AS rn,
        |         count(*) OVER (PARTITION BY pri) AS n,
        |         sum(d) OVER (PARTITION BY pri) AS sd
        |  FROM j)
        |SELECT pri, CAST(max(n) AS BIGINT) AS n,
        |       CAST(min(CASE WHEN rn = (n-1)//2+1 THEN d END) AS BIGINT)
        |         AS p50_days,
        |       CAST(min(CASE WHEN rn = ((n-1)*9)//10+1 THEN d END) AS BIGINT)
        |         AS p90_days,
        |       round(CAST(max(sd) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
        |         AS avg_days
        |FROM r GROUP BY pri
        |ORDER BY pri""".stripMargin) { (spark, dir) =>
      val li = Q.instantTs(tbl(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate")), "l_shipdate")
      val od = Q.instantTs(tbl(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"),
          col("o_orderdate")), "o_orderdate")
      // bounded frames from here down: ~|pri| × |calendar days| rows
      val byPri = Window.partitionBy("pri").orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val overPri = Window.partitionBy("pri")
      li.join(od, Seq("l_orderkey"))
        .select(col("o_orderpriority").as("pri"),
          expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate))" +
            " div 86400000000").as("d"))
        .groupBy("pri", "d").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(byPri))
        .withColumn("n", sum(col("c")).over(overPri))
        .withColumn("sd", sum(col("d") * col("c")).over(overPri))
        .groupBy("pri")
        .agg(big(max(col("n"))).as("n"),
          big(min(when(col("cum") >= expr("(n-1) div 2 + 1"), col("d"))))
            .as("p50_days"),
          big(min(when(col("cum") >= expr("((n-1)*9) div 10 + 1"), col("d"))))
            .as("p90_days"),
          round(max(col("sd")).cast(DoubleType) / max(col("n")).cast(DoubleType), 6)
            .as("avg_days"))
        .orderBy("pri")
    }
  )
}
