package graft.queries

import graft.queries.Q.{big, events, tbl}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group R — round-5 tenth wave: optimizer/maintenance diagnostics and a
  * graph-completion operator — Benford fraud audit, exact join-cardinality
  * estimation (the optimizer's statistic, computed rather than guessed),
  * a small-file compaction planner, and common-neighbor link prediction
  * over the near-dup graph.
  */
object GroupR {

  val all: Seq[Q] = Seq(

    // Benford first-digit audit over order amounts: distribution of the
    // first significant digit of floor(o_totalprice) — the classic
    // fabricated-data screen (organic amounts lean low; uniform first
    // digits flag synthesis). Counts and ppm shares only — integer-exact
    // on both engines (the log-expectation compare stays downstream where
    // floats are allowed). ONE scan → 9-row digit agg; the grand total
    // joins back as a ONE-ROW broadcast (the q_bm25 scalar shape).
    // Digits come from the BIGINT rendering (identical on both engines);
    // floor() first because DuckDB's DOUBLE→BIGINT cast rounds-to-nearest
    // while Spark's truncates.
    Q("q_benford",
      """WITH d AS (
        |  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |                   1, 1) AS digit,
        |         count(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM d)
        |SELECT d.digit AS digit, CAST(d.n AS BIGINT) AS n,
        |       CAST(1000000 * d.n // t.total AS BIGINT) AS share_ppm
        |FROM d, t
        |ORDER BY digit""".stripMargin) { (spark, dir) =>
      val d = tbl(spark, dir, "orders")
        .groupBy(substring(floor(col("o_totalprice")).cast("long").cast("string"),
          1, 1).as("digit"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // shares + the total read the 9-row table
      d.crossJoin(broadcast(d.agg(sum("n").as("total"))))
        .select(col("digit"), big(col("n")).as("n"),
          big(expr("1000000 * n div total")).as("share_ppm"))
        .orderBy("digit")
    },

    // Exact join-cardinality profile: for each declared join relationship,
    // the EXACT output size Σₖ c₁(k)·c₂(k), matched key count, the largest
    // single-key contribution, and its ppm share of the output — the
    // statistic a cost-based optimizer estimates from sketches, computed
    // here from two per-key count aggregates and one equi-join of the
    // count tables (key-cardinality-sized, never row-sized). The skew_ppm
    // column is the join-planning signal: a hot key near 10⁶ ppm says
    // "salt this join" (q_join_salted) before running it.
    Q("q_join_cardinality",
      """WITH lc AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |ok AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |oc AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |ck AS (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY 1),
        |lp AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |pk AS (SELECT p_partkey AS k, count(*) AS c FROM part GROUP BY 1),
        |j1 AS (SELECT count(*) AS nk, sum(lc.c * ok.c) AS jr,
        |              max(lc.c * ok.c) AS mx
        |       FROM lc JOIN ok USING (k)),
        |j2 AS (SELECT count(*) AS nk, sum(oc.c * ck.c) AS jr,
        |              max(oc.c * ck.c) AS mx
        |       FROM oc JOIN ck USING (k)),
        |j3 AS (SELECT count(*) AS nk, sum(lp.c * pk.c) AS jr,
        |              max(lp.c * pk.c) AS mx
        |       FROM lp JOIN pk USING (k))
        |SELECT * FROM (
        |  SELECT 'lineitem*orders' AS rel, CAST(nk AS BIGINT) AS n_keys,
        |         CAST(jr AS BIGINT) AS join_rows, CAST(mx AS BIGINT) AS max_key_rows,
        |         CAST(1000000 * mx // jr AS BIGINT) AS skew_ppm FROM j1
        |  UNION ALL
        |  SELECT 'orders*customer', CAST(nk AS BIGINT), CAST(jr AS BIGINT),
        |         CAST(mx AS BIGINT), CAST(1000000 * mx // jr AS BIGINT) FROM j2
        |  UNION ALL
        |  SELECT 'lineitem*part', CAST(nk AS BIGINT), CAST(jr AS BIGINT),
        |         CAST(mx AS BIGINT), CAST(1000000 * mx // jr AS BIGINT) FROM j3)
        |ORDER BY rel""".stripMargin) { (spark, dir) =>
      def card(rel: String, a: DataFrame, ka: String,
               b: DataFrame, kb: String): DataFrame = {
        val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("ca"))
        val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cb"))
        ca.join(cb, Seq("k"))
          .agg(count(lit(1)).as("nk"), sum(col("ca") * col("cb")).as("jr"),
            max(col("ca") * col("cb")).as("mx"))
          .select(lit(rel).as("rel"), big(col("nk")).as("n_keys"),
            big(col("jr")).as("join_rows"), big(col("mx")).as("max_key_rows"),
            big(expr("1000000 * mx div jr")).as("skew_ppm"))
      }
      card("lineitem*orders", tbl(spark, dir, "lineitem"), "l_orderkey",
          tbl(spark, dir, "orders"), "o_orderkey")
        .unionByName(card("orders*customer", tbl(spark, dir, "orders"),
          "o_custkey", tbl(spark, dir, "customer"), "c_custkey"))
        .unionByName(card("lineitem*part", tbl(spark, dir, "lineitem"),
          "l_partkey", tbl(spark, dir, "part"), "p_partkey"))
        .orderBy("rel")
    },

    // Small-file compaction planner: treat each (event_type, day) slice as
    // one "file" (bytes = payload chars), then pack consecutive files per
    // type into ~2 KB output bins by cumulative-size assignment —
    // bin = floor(preceding-cum / target) — the deterministic, windowed
    // form of greedy first-fit that a table-maintenance job (OPTIMIZE /
    // rewrite_data_files) runs over manifest metadata, never data rows.
    // Per bin: file count, bytes, covered day span. The window partitions
    // by type and orders by day — manifest-sized input, one shuffle.
    Q("q_compaction_plan",
      """WITH f AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         sum(length(props)) AS bytes
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, bytes,
        |         sum(bytes) OVER (PARTITION BY event_type ORDER BY day
        |                          ROWS UNBOUNDED PRECEDING) - bytes AS cumb
        |  FROM f)
        |SELECT event_type, CAST(cumb // 2000 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |       CAST(min(day) AS BIGINT) AS first_day,
        |       CAST(max(day) AS BIGINT) AS last_day
        |FROM w GROUP BY 1, 2
        |ORDER BY event_type, bin""".stripMargin) { (spark, dir) =>
      val f = events(spark, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(length(col("props"))).as("bytes"))
      val cum = sum("bytes").over(Window.partitionBy("event_type")
        .orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow))
      f.withColumn("cumb", cum - col("bytes"))
        .groupBy(col("event_type"), expr("cumb div 2000").as("bin"))
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"),
          min("day").as("first_day"), max("day").as("last_day"))
        .select(col("event_type"), big(col("bin")).as("bin"),
          big(col("n_files")).as("n_files"), big(col("bin_bytes")).as("bin_bytes"),
          big(col("first_day")).as("first_day"), big(col("last_day")).as("last_day"))
        .orderBy("event_type", "bin")
    },

    // Common-neighbor link prediction over the verified near-dup graph:
    // for every NON-adjacent pair sharing ≥1 neighbor, the shared-neighbor
    // count and neighborhood Jaccard (ppm) — "these two documents are not
    // yet marked duplicates, but they co-occur with the same clones":
    // the candidate queue an entity-resolution pass reviews next, and the
    // standard graph-completion baseline. Shapes: the session pair
    // artifact both directions, ONE mid-keyed self-join for wedges with a
    // HUB CAP (GraphOps.commonNeighbors — only mids of degree ≤ 1024
    // generate wedges; a 10⁵-member template hub would otherwise put 10¹⁰
    // wedges on one key, and its co-membership carries no linkage signal
    // anyway — the df-cap treatment the inverted index applies to
    // stop-words), an anti join to drop closed edges, two key-joins to
    // the degree table. The cap is part of the declared semantics: the
    // oracle SQL below applies the SAME mid filter, so the hash gate
    // checks the capped operator, and GraphSaturationSpec pins the ≥20×
    // candidate-volume drop on a synthetic hub fixture.
    Q("q_link_predict",
      """WITH toks AS (
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
        |e AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |h1 AS (SELECT DISTINCT src, dst FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM h1 GROUP BY 1),
        |cn AS (
        |  SELECT a.src AS a_id, b.src AS b_id, count(*) AS common
        |  FROM h1 a JOIN h1 b ON a.dst = b.dst AND a.src < b.src
        |       JOIN deg m ON m.src = a.dst AND m.deg <= 1024
        |  GROUP BY 1, 2),
        |nonadj AS (
        |  SELECT cn.a_id, cn.b_id, cn.common FROM cn
        |  LEFT JOIN h1 ON h1.src = cn.a_id AND h1.dst = cn.b_id
        |  WHERE h1.src IS NULL)
        |SELECT CAST(n.a_id AS BIGINT) AS a_id, CAST(n.b_id AS BIGINT) AS b_id,
        |       CAST(n.common AS BIGINT) AS common,
        |       CAST(1000000 * n.common // (da.deg + db.deg - n.common) AS BIGINT)
        |         AS jaccard_ppm
        |FROM nonadj n JOIN deg da ON da.src = n.a_id
        |             JOIN deg db ON db.src = n.b_id
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      // wedges, degrees, and the anti join all read the symmetric closure
      // artifact (PipelineQueries.h1sym — shared with q_graph_khop since
      // round 16): SessionCache persists it with lineage intact (a lost
      // executor recomputes), unlike a localCheckpoint whose truncated
      // lineage failed the job on any storage loss
      val h1 = PipelineQueries.h1sym(spark, dir)
      val deg = h1.groupBy("src").agg(count(lit(1)).as("deg"))
      val cn = graft.ops.GraphOps.commonNeighbors(h1)
      cn.join(h1.select(col("src").as("a_id"), col("dst").as("b_id")),
          Seq("a_id", "b_id"), "left_anti")
        .join(deg.select(col("src").as("a_id"), col("deg").as("dega")), Seq("a_id"))
        .join(deg.select(col("src").as("b_id"), col("deg").as("degb")), Seq("b_id"))
        .select(big(col("a_id")).as("a_id"), big(col("b_id")).as("b_id"),
          big(col("common")).as("common"),
          big(expr("1000000 * common div (dega + degb - common)")).as("jaccard_ppm"))
        .orderBy("a_id", "b_id")
    },

    // Edit-distance verification of the near-dup candidates: exact
    // Levenshtein distance (chars) and a per-10k-chars edit rate for every
    // pair the token-set Jaccard stage admitted — token sets ignore word
    // ORDER, so two docs of identical vocabulary can still be heavy
    // rewrites; the edit rate is the second opinion a curation pipeline
    // applies before collapsing a pair. Levenshtein is O(|a|·|b|) per
    // pair — bounded by TWO containments: it runs only on the verified
    // candidate set (the session pair artifact), never the corpus cross
    // product, and it is CLONE-COMPACTED (round 14): the distance is a
    // pure function of the text VALUES, and clone-heavy corpora make most
    // admitted pairs share their (text_a, text_b) combo, so the kernel
    // runs once per distinct representative pair — same-text pairs skip
    // it outright (edit = 0 by definition) — and member pairs take their
    // result by a narrow (rep_a, rep_b) join. The round-14 honest sf1
    // bench measured the uncompacted form at 756.7 s (e(0.1→1) = 2.06,
    // the kernel re-run for every member of every clone clique); distinct
    // rep pairs don't grow with clone multiplicity, so the compacted form
    // is scale-flat in kernel work and linear in the joins.
    Q("q_edit_verify",
      """WITH toks AS (
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
        |t AS (SELECT doc_id, text, length(text) AS len FROM documents)
        |SELECT CAST(p.a_id AS BIGINT) AS a_id, CAST(p.b_id AS BIGINT) AS b_id,
        |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit,
        |       CAST(10000 * levenshtein(ta.text, tb.text)
        |            // greatest(ta.len, tb.len) AS BIGINT) AS edit_per_10k
        |FROM pairs p JOIN t ta ON ta.doc_id = p.a_id
        |            JOIN t tb ON tb.doc_id = p.b_id
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      // rep = smallest doc_id sharing the text value — the exact-dedup
      // pass (one shuffle of documents keyed by text; grouping must be on
      // the real text, a hash key could merge distinct values)
      val withRep = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("rep",
          min(col("doc_id")).over(Window.partitionBy("text")))
      val idRep = withRep.select(col("doc_id"), col("rep"), col("len"))
      val repText = withRep.filter(col("doc_id") === col("rep"))
        .select(col("rep"), col("text"))
      // member pairs carry only ids + lens across the joins — never text
      val pairs = PipelineQueries.jaccardPairs(spark, dir)
        .join(idRep.select(col("doc_id").as("a_id"), col("rep").as("ra"),
          col("len").as("la")), Seq("a_id"))
        .join(idRep.select(col("doc_id").as("b_id"), col("rep").as("rb"),
          col("len").as("lb")), Seq("b_id"))
        .withColumn("r1", least(col("ra"), col("rb")))
        .withColumn("r2", greatest(col("ra"), col("rb")))
      // the O(|a|·|b|) kernel runs ONCE per distinct unordered rep pair
      // with differing text (Levenshtein is symmetric); same-rep members
      // are verbatim clones — edit 0 without running anything
      val repEdit = pairs.filter(col("ra") =!= col("rb"))
        .select(col("r1"), col("r2")).distinct()
        .join(repText.select(col("rep").as("r1"), col("text").as("t1")),
          Seq("r1"))
        .join(repText.select(col("rep").as("r2"), col("text").as("t2")),
          Seq("r2"))
        // CPU-amplification-aware repartition (the round-13 rule, CPU
        // flavor): the kernel stage's BYTES are tiny (~47k rows at sf0.1)
        // so AQE coalesces it to one task, but each row costs O(|a|·|b|)
        // ≈ ms of CPU — measured 182.7 s on the coalesced plan vs the
        // spread below; round-robin keeps the kernel on every core
        .repartition(spark.sparkContext.defaultParallelism)
        // round 15: Myers bit-parallel kernel — the same integer as the
        // built-in levenshtein() at O(⌈m/64⌉·n) instead of O(m·n)
        // (LevenshteinMyersSpec pins bit-equality against the built-in)
        .select(col("r1"), col("r2"),
          graft.ops.expr.LevenshteinMyers.column(col("t1"), col("t2")).as("edit"))
      // coalesce ONLY the provably-clone case (same rep ⇒ verbatim equal
      // text ⇒ edit 0); a rep-pair row missing from repEdit stays NULL so
      // any future compaction regression fails the oracle gate loudly
      // instead of silently reporting exact clones (ADVICE r14)
      pairs.join(repEdit, Seq("r1", "r2"), "left")
        .select(big(col("a_id")).as("a_id"), big(col("b_id")).as("b_id"),
          big(when(col("ra") === col("rb"), lit(0)).otherwise(col("edit")))
            .as("edit"),
          big(when(col("ra") === col("rb"), lit(0))
            .otherwise(expr("10000 * edit div greatest(la, lb)")))
            .as("edit_per_10k"))
        .orderBy("a_id", "b_id")
    },

    // Rolling 7-day median of daily event value — the robust trend line a
    // monitoring dashboard overlays on a bursty series (median shrugs off
    // the single-day spikes q_burst_detect is built to FIND). Daily totals
    // are exact DECIMAL sums cast to double; the median picks sorted
    // elements (odd) or averages the middle two (one IEEE op) — engine-
    // independent either way. The ≤7-offset self-join runs on the
    // CALENDAR-BOUNDED day table (30 rows here, 365/year at any SF) —
    // never on event rows.
    Q("q_rolling_median",
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT a.day, list(b.v ORDER BY b.v) AS vs
        |  FROM d a JOIN d b ON b.day BETWEEN a.day - 6 AND a.day
        |  GROUP BY a.day)
        |SELECT CAST(day AS BIGINT) AS day, CAST(len(vs) AS BIGINT) AS n_days,
        |       CASE WHEN len(vs) % 2 = 1 THEN vs[(len(vs)+1)//2]
        |            ELSE (vs[len(vs)//2] + vs[len(vs)//2 + 1]) / 2.0 END AS med
        |FROM w ORDER BY day""".stripMargin) { (spark, dir) =>
      val d = events(spark, dir)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(Q.dsum(col("value")).as("v"))
        .localCheckpoint(true) // both sides of the bounded range self-join
      d.select(col("day"))
        .join(d.select(col("day").as("day2"), col("v")),
          col("day2").between(col("day") - 6, col("day")))
        .groupBy("day").agg(sort_array(collect_list("v")).as("vs"))
        .select(big(col("day")).as("day"),
          big(size(col("vs"))).as("n_days"),
          expr("""CASE WHEN size(vs) % 2 = 1
                 |     THEN element_at(vs, CAST((size(vs)+1) DIV 2 AS INT))
                 |     ELSE (element_at(vs, CAST(size(vs) DIV 2 AS INT))
                 |           + element_at(vs, CAST(size(vs) DIV 2 + 1 AS INT))) / 2.0
                 |END""".stripMargin).as("med"))
        .orderBy("day")
    }
  )
}
