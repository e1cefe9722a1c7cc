package graft.queries

import graft.cdc.Changelog
import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Group N — round-5 sixth wave: CDC lifecycle auditing, multi-touch
  * attribution, conversion-lag distribution, and zone-map pruning
  * effectiveness.
  */
object GroupN {

  val all: Seq[Q] = Seq(

    // CDC lifecycle histogram: every primary key's op sequence in LSN
    // order rendered as a signature string ('c', 'cu', 'cd', 'cuud', …),
    // counted per (table, signature) — the audit that surfaces EVERY
    // anomalous lifecycle at once (updates before any insert,
    // double-deletes, resurrections) instead of testing for each by name.
    // Blind deletes (pk '') keep their own row — they are unattributable
    // by definition. One pk-keyed hash agg builds the in-row op array
    // (sorted by lsn inside the row — no second sort); the signature
    // count is a second bounded agg.
    Q("q_lifecycle_hist",
      s"""${Changelog.cte},
         |sig AS (
         |  SELECT table_name, pk,
         |         string_agg(op, '' ORDER BY lsn) AS signature
         |  FROM changes GROUP BY 1, 2)
         |SELECT table_name, signature,
         |       CAST(count(*) AS BIGINT) AS n_keys
         |FROM sig GROUP BY 1, 2
         |ORDER BY table_name, signature""".stripMargin) { (spark, dir) =>
      Changelog.flat(spark, dir)
        .groupBy("table_name", "pk")
        // ordered signature via ONE hash agg: collect (lsn, op) structs,
        // sort the bounded per-key array in-row
        .agg(sort_array(collect_list(struct(col("lsn"), col("op")))).as("evs"))
        .select(col("table_name"),
          concat_ws("", expr("transform(evs, e -> e.op)")).as("signature"))
        .groupBy("table_name", "signature")
        .agg(big(count(lit(1))).as("n_keys"))
        .orderBy("table_name", "signature")
    },

    // Multi-touch attribution window: every purchase credits the clicks
    // of the SAME user in the trailing 7 days — touch count, equal-split
    // credit in ppm, and the most recent touch's timestamp — the
    // marketing-attribution pass (q_asof_join is last-touch only; this is
    // the linear model). ONE user-partitioned RANGE window over the event
    // stream computes everything: no self-join, no per-pair explosion —
    // each row is scanned once regardless of how many purchases a click
    // precedes. Scale shape: shuffles keyed by user_id only.
    Q("q_attribution_window",
      """WITH w AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                 RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
        |           AS n_touches,
        |         max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                 RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
        |           AS last_touch_us
        |  FROM events)
        |SELECT CAST(event_id AS BIGINT) AS event_id,
        |       CAST(user_id AS BIGINT) AS user_id,
        |       CAST(coalesce(n_touches, 0) AS BIGINT) AS n_touches,
        |       CAST(CASE WHEN coalesce(n_touches, 0) > 0
        |                 THEN 1000000 // n_touches ELSE 0 END AS BIGINT)
        |         AS credit_ppm,
        |       CAST(last_touch_us AS BIGINT) AS last_touch_us
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin) { (spark, dir) =>
      val frame = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-604800000000L, -1L)
      events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("n_touches",
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .over(frame))
        .withColumn("last_touch_us",
          max(when(col("event_type") === "click", col("us"))).over(frame))
        .filter(col("event_type") === "purchase")
        .select(big(col("event_id")).as("event_id"),
          big(col("user_id")).as("user_id"),
          big(coalesce(col("n_touches"), lit(0L))).as("n_touches"),
          big(when(coalesce(col("n_touches"), lit(0L)) > 0,
            expr("1000000 div n_touches")).otherwise(0L)).as("credit_ppm"),
          big(col("last_touch_us")).as("last_touch_us"))
        .orderBy("event_id")
    },

    // Conversion-lag distribution: days from a user's FIRST view to their
    // FIRST purchase (converters only), histogrammed per whole-day lag —
    // negative lags (purchase before any view) bucket at -1, surfacing
    // attribution-breaking journeys instead of hiding them. One
    // conditional-min hash agg per user (the q_funnel shape) + one
    // bounded histogram agg; integer µs → day arithmetic throughout.
    Q("q_conversion_lag",
      """WITH f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        |  FROM events GROUP BY 1),
        |lag AS (
        |  SELECT user_id,
        |         CASE WHEN p >= v THEN (p - v) // 86400000000 ELSE -1 END AS lag_days
        |  FROM f WHERE v IS NOT NULL AND p IS NOT NULL)
        |SELECT CAST(lag_days AS BIGINT) AS lag_days,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM lag GROUP BY 1
        |ORDER BY lag_days""".stripMargin) { (spark, dir) =>
      events(spark, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", unix_micros(col("ts")))).as("v"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p"))
        .filter(col("v").isNotNull && col("p").isNotNull)
        .select(when(col("p") >= col("v"),
          expr("(p - v) div 86400000000")).otherwise(-1L).as("lag_days"))
        .groupBy("lag_days")
        .agg(big(count(lit(1))).as("n_users"))
        .select(big(col("lag_days")).as("lag_days"), col("n_users"))
        .orderBy("lag_days")
    },

    // Zone-map pruning effectiveness: simulate row-group zone maps by
    // bucketing documents into id-contiguous groups of 100, collect each
    // bucket's (min, max, count) of n_chars — the file-level metadata a
    // Delta/Iceberg scan consults — then report, for the `n_chars > 600`
    // predicate, how many buckets and rows data skipping would prune
    // (max ≤ 600 ⟹ the whole bucket skips without being read). The
    // decision input for whether re-clustering (q_zorder_layout) pays:
    // near-zero skip rates on a hot predicate mean the layout does not
    // serve it. One map-side-combining bucket agg + a bounded stats agg.
    Q("q_zone_skipping",
      """WITH z AS (
        |  SELECT doc_id // 100 AS bucket, min(n_chars) AS mn, max(n_chars) AS mx,
        |         count(*) AS n
        |  FROM documents GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(n) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN mx <= 600 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS skipped_buckets,
        |       CAST(sum(CASE WHEN mx <= 600 THEN n ELSE 0 END) AS BIGINT)
        |         AS skipped_rows,
        |       CAST(1000000 * sum(CASE WHEN mx <= 600 THEN n ELSE 0 END)
        |            // sum(n) AS BIGINT) AS skip_ppm
        |FROM z ORDER BY n_buckets""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "documents")
        .groupBy(expr("doc_id div 100").as("bucket"))
        .agg(min("n_chars").as("mn"), max("n_chars").as("mx"),
          count(lit(1)).as("n"))
        .agg(big(count(lit(1))).as("n_buckets"),
          big(sum("n")).as("n_rows"),
          big(sum(when(col("mx") <= 600, 1L).otherwise(0L)))
            .as("skipped_buckets"),
          big(sum(when(col("mx") <= 600, col("n")).otherwise(0L)))
            .as("skipped_rows"))
        .select(col("n_buckets"), col("n_rows"), col("skipped_buckets"),
          col("skipped_rows"),
          big(expr("1000000 * skipped_rows div n_rows")).as("skip_ppm"))
        .orderBy("n_buckets")
    }
  )
}
