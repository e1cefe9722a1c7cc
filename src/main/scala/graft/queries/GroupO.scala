package graft.queries

import graft.queries.Q.{big, tbl}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Group O — round-5 seventh wave: embedding-quality outliers, RFM customer
  * segmentation, the dedup savings report, and rollup shares.
  */
object GroupO {

  /** `qe(vec_id, d, qx)`: quantized components floor(x·2²⁴), 0-indexed —
    * the oracle twin of [[graft.ops.expr.VecQuant]] element quantization
    * (the q_embedding_drift contract). */
  private val quantElemsCte: String =
    """qe AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16777216.0)
      |              AS BIGINT) AS qx
      |  FROM embeddings)""".stripMargin

  val all: Seq[Q] = Seq(

    // Embedding-quality audit: per label, the integer centroid
    // (floor(Σqx/count) per dimension — the q_embedding_drift contract),
    // each vector's exact quantized squared distance to its own centroid,
    // and the 3 FARTHEST vectors per label with the label's exact floor
    // mean d² beside them — the pre-index QA list a human (or a
    // relabeling pass) reviews before vectors poison a centroid or an
    // IVF cell. (A fixed multiplier-threshold rule degenerates in high
    // dimension — concentration of measure packs d² within ±10% of its
    // mean on any isotropic-noise corpus — so the audit ranks instead of
    // thresholding.) Shapes: one posexplode scan, a k×dim centroid agg
    // (bounded), a (label,d)-keyed broadcast join back, one vec-keyed
    // agg, a k-row stats broadcast, and a label-partitioned top-3 window.
    Q("q_embedding_outliers",
      s"""WITH $quantElemsCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cent AS (
         |  SELECT l.label, q.d,
         |         CAST(floor(CAST(sum(q.qx) AS DOUBLE)
         |                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
         |  FROM qe q JOIN lab l USING (vec_id)
         |  GROUP BY l.label, q.d),
         |d2 AS (
         |  SELECT q.vec_id, l.label,
         |         CAST(sum((q.qx - c.m) * (q.qx - c.m)) AS BIGINT) AS d2
         |  FROM qe q JOIN lab l USING (vec_id)
         |  JOIN cent c ON c.label = l.label AND c.d = q.d
         |  GROUP BY q.vec_id, l.label),
         |st AS (
         |  SELECT label, count(*) AS n, sum(d2) AS sum_d2
         |  FROM d2 GROUP BY 1),
         |r AS (
         |  SELECT vec_id, label, d2,
         |         row_number() OVER (PARTITION BY label
         |                            ORDER BY d2 DESC, vec_id) AS rn
         |  FROM d2)
         |SELECT CAST(r.label AS BIGINT) AS label, CAST(r.rn AS BIGINT) AS rn,
         |       CAST(r.vec_id AS BIGINT) AS vec_id, r.d2 AS d2,
         |       CAST(s.sum_d2 // s.n AS BIGINT) AS mean_d2
         |FROM r JOIN st s USING (label)
         |WHERE r.rn <= 3
         |ORDER BY label, rn""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val qe = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("vec_id"), col("label"), col("d"),
          floor(col("x").cast(DoubleType) * lit(graft.ops.expr.VecQuant.Scale))
            .cast(LongType).as("qx"))
      // k×dim rows — bounded
      val cent = qe.groupBy("label", "d")
        .agg(floor(sum(col("qx")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).cast(LongType).as("m"))
        .localCheckpoint(true)
      val d2 = qe.join(broadcast(cent), Seq("label", "d"))
        .groupBy("vec_id", "label")
        .agg(sum((col("qx") - col("m")) * (col("qx") - col("m"))).as("d2"))
        .localCheckpoint(true) // stats + the ranked audit both read it
      val st = d2.groupBy("label")
        .agg(count(lit(1)).as("n"), sum("d2").as("sum_d2"))
      val byLabel = Window.partitionBy("label")
        .orderBy(col("d2").desc, col("vec_id"))
      d2.withColumn("rn", row_number().over(byLabel))
        .filter(col("rn") <= 3)
        .join(broadcast(st), Seq("label"))
        .select(big(col("label")).as("label"), big(col("rn")).as("rn"),
          big(col("vec_id")).as("vec_id"), big(col("d2")).as("d2"),
          big(expr("sum_d2 div n")).as("mean_d2"))
        .orderBy("label", "rn")
    },

    // RFM customer segmentation — the classic warehouse marketing cut:
    // per customer, Recency (days since last order vs the corpus max
    // date), Frequency (order count), Monetary (exact-DECIMAL spend);
    // each axis split at its exact median (interpolated — both engines
    // compute index p·(n−1) with midpoint interpolation, exact IEEE on
    // these inputs), customers land in one of 8 'RFM'/'rfm' cells, and
    // the report is per-cell size + exact-decimal spend. The exact
    // percentile over a customer-sized frame is the oracle-baseline
    // contract (the same call q_percentiles pins); at 100 TB the t-digest
    // `approx_percentile` drops in without touching the plan shape. One
    // fact agg + three bounded broadcasts (max-date row, median row).
    Q("q_rfm_segments",
      """WITH c AS (
        |  SELECT o_custkey AS custkey,
        |         max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |         count(*) AS freq,
        |         sum(CAST(o_totalprice AS DECIMAL(25,6))) AS mon
        |  FROM orders GROUP BY 1),
        |g AS (SELECT max(last_day) AS now FROM c),
        |r AS (
        |  SELECT custkey, g.now - last_day AS rec, freq,
        |         CAST(mon AS DOUBLE) AS mon
        |  FROM c, g),
        |med AS (
        |  SELECT quantile_cont(rec, 0.5) AS rm, quantile_cont(freq, 0.5) AS fm,
        |         quantile_cont(mon, 0.5) AS mm
        |  FROM r),
        |seg AS (
        |  SELECT (CASE WHEN rec <= rm THEN 'R' ELSE 'r' END ||
        |          CASE WHEN freq >= fm THEN 'F' ELSE 'f' END ||
        |          CASE WHEN mon >= mm THEN 'M' ELSE 'm' END) AS segment, mon
        |  FROM r, med)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(CAST(mon AS DECIMAL(25,6))) AS DOUBLE) AS total_spend
        |FROM seg GROUP BY segment
        |ORDER BY segment""".stripMargin) { (spark, dir) =>
      val c = Q.instantTs(tbl(spark, dir, "orders"), "o_orderdate")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(expr("unix_micros(o_orderdate) div 86400000000")).as("last_day"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast(DecimalType(25, 6))).as("mon"))
        .localCheckpoint(true) // max-date, medians, and the cut all read it
      val g = c.agg(max("last_day").as("now"))
      val r = c.crossJoin(broadcast(g))
        .select(col("custkey"), (col("now") - col("last_day")).as("rec"),
          col("freq"), col("mon").cast(DoubleType).as("mon"))
        .localCheckpoint(true)
      val med = r.agg(expr("percentile(rec, 0.5)").as("rm"),
        expr("percentile(freq, 0.5)").as("fm"),
        expr("percentile(mon, 0.5)").as("mm"))
      r.crossJoin(broadcast(med))
        .select(concat(
          when(col("rec") <= col("rm"), lit("R")).otherwise(lit("r")),
          when(col("freq") >= col("fm"), lit("F")).otherwise(lit("f")),
          when(col("mon") >= col("mm"), lit("M")).otherwise(lit("m")))
          .as("segment"), col("mon"))
        .groupBy("segment")
        .agg(big(count(lit(1))).as("n_customers"),
          sum(col("mon").cast(DecimalType(25, 6))).cast(DoubleType)
            .as("total_spend"))
        .orderBy("segment")
    },

    // Dedup savings report: per language, the documents and token mass
    // the near-dup keep rule would remove — a doc drops iff it has a
    // SMALLER-id near-dup partner at Jaccard ≥ 0.95 (the canonical-min
    // keep the curation pipeline applies), so "savings" is the exact
    // token budget the pass frees. Consumes the session-cached verified
    // pair artifact (computed once, shared with q_ngram_jaccard /
    // q_dup_components / q_dataset_card — a real pipeline materializes
    // pairs once); the report itself is one corpus scan + a broadcast
    // anti-ish flag join + a 5-row agg.
    Q("q_dedup_savings",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        |  FROM documents),
        |tset AS (SELECT doc_id, lang, list_distinct(t) AS s FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM tset a JOIN tset b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |              / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
        |        >= 0.95),
        |dropped AS (SELECT DISTINCT b_id AS doc_id FROM pairs)
        |SELECT t.lang AS lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(d.doc_id) AS BIGINT) AS n_dropped,
        |       CAST(sum(len(t.t)) AS BIGINT) AS tokens_total,
        |       CAST(coalesce(sum(CASE WHEN d.doc_id IS NOT NULL
        |                              THEN len(t.t) END), 0) AS BIGINT)
        |         AS tokens_dropped,
        |       CAST(1000000 * coalesce(sum(CASE WHEN d.doc_id IS NOT NULL
        |                                        THEN len(t.t) END), 0)
        |            // sum(len(t.t)) AS BIGINT) AS savings_ppm
        |FROM toks t LEFT JOIN dropped d USING (doc_id)
        |GROUP BY t.lang
        |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val toks = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("n_tok"))
      val dropped = PipelineQueries.jaccardPairs(spark, dir)
        .select(col("b_id").as("doc_id")).distinct()
      toks.join(broadcast(dropped.withColumn("is_dropped", lit(1L))),
          Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(big(count(lit(1))).as("n_docs"),
          big(count(col("is_dropped"))).as("n_dropped"),
          big(sum("n_tok")).as("tokens_total"),
          big(coalesce(sum(when(col("is_dropped").isNotNull, col("n_tok"))),
            lit(0L))).as("tokens_dropped"))
        .select(col("lang"), col("n_docs"), col("n_dropped"),
          col("tokens_total"), col("tokens_dropped"),
          big(expr("1000000 * tokens_dropped div tokens_total"))
            .as("savings_ppm"))
        .orderBy("lang")
    },

    // Rollup shares (ratio-to-report): monthly revenue with its share of
    // the year and of the grand total, in ppm — the percent-of-parent
    // column every BI rollup renders next to the absolute number.
    // Exact: DECIMAL month sums → integer micro-units, shares as
    // DECIMAL(38,0) integral divisions (month·10⁶ fits 38 digits where
    // BIGINT would overflow). The fact table is touched by ONE
    // (year, month) map-side-combining agg; year and total roll up from
    // the ≤hundreds-row month table and broadcast back.
    Q("q_rollup_share",
      """WITH m AS (
        |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 1000000
        |              AS HUGEINT) AS rev_u
        |  FROM orders GROUP BY 1, 2),
        |y AS (SELECT yr, sum(rev_u) AS yrev_u FROM m GROUP BY 1),
        |t AS (SELECT sum(rev_u) AS trev_u FROM m)
        |SELECT CAST(m.yr AS BIGINT) AS yr, CAST(m.mo AS BIGINT) AS mo,
        |       CAST(CAST(m.rev_u AS DOUBLE) / 1000000.0 AS DOUBLE) AS revenue,
        |       CAST(1000000 * m.rev_u // y.yrev_u AS BIGINT) AS share_of_year_ppm,
        |       CAST(1000000 * m.rev_u // t.trev_u AS BIGINT) AS share_of_total_ppm
        |FROM m JOIN y USING (yr), t
        |ORDER BY yr, mo""".stripMargin) { (spark, dir) =>
      val m = tbl(spark, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg((sum(col("o_totalprice").cast(DecimalType(25, 6))) * 1000000)
          .cast(DecimalType(38, 0)).as("rev_u"))
        .localCheckpoint(true) // year rollup, total, and the report read it
      val y = m.groupBy("yr").agg(sum("rev_u").cast(DecimalType(38, 0)).as("yrev_u"))
      val t = m.agg(sum("rev_u").cast(DecimalType(38, 0)).as("trev_u"))
      m.join(broadcast(y), Seq("yr"))
        .crossJoin(broadcast(t))
        .select(big(col("yr")).as("yr"), big(col("mo")).as("mo"),
          (col("rev_u").cast(DoubleType) / lit(1000000.0)).as("revenue"),
          big(expr("1000000 * rev_u div yrev_u")).as("share_of_year_ppm"),
          big(expr("1000000 * rev_u div trev_u")).as("share_of_total_ppm"))
        .orderBy("yr", "mo")
    }
  )
}
