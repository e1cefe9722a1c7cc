package graft.queries

import graft.cdc.Changelog
import graft.ops.DedupOps
import graft.queries.Q.{big, tbl}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Group J — round-6 second wave: estimator calibration, ranking under
  * uncertainty, and CDC stream health.
  *
  * `q_minhash_calibration` closes a loop the engine's own dedup stack
  * opened: the MinHash signature-agreement estimate drives candidate
  * admission, so the engine should be able to REPORT how well that
  * estimate tracks exact Jaccard on real candidates — per agreement
  * level, the pair volume and the signed/absolute estimation error in
  * ppm, all integer-exact.
  */
object GroupJ {

  val all: Seq[Q] = Seq(

    // MinHash estimator calibration: for every candidate pair at signature
    // agreement ≥ 13 of 16 (FNV permutations — the cross-engine-checkable
    // signature), compare the agreement estimate (10⁶·agree/16) with exact
    // token-set Jaccard (10⁶·|∩|/|∪|), aggregated per agreement level.
    // Candidate generation is LOSSLESS for the ≥13 floor: 8 bands × 2 rows
    // over identical-signature-compacted groups — ≤3 disagreeing
    // permutations can touch ≤3 of 8 bands, so some band matches exactly
    // (pigeonhole); the oracle can therefore go all-pairs with no recall
    // caveat. Scale shape: per-doc kernels before the band explode,
    // banding over DISTINCT signatures only (clone cliques collapse to one
    // group row), exact Jaccard only on admitted pairs, and the output is
    // bounded (4 rows). Every error statistic is an exact BIGINT sum.
    Q("q_minhash_calibration",
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) > 0),
        |sig AS (
        |  SELECT doc_id, t,
        |    list_transform(range(0, 16), p ->
        |      list_min(
        |        list_transform(
        |          list_transform(t, tok ->
        |            list_reduce(
        |              list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |                list_transform(
        |                  list_filter(string_split('#' || CAST(p AS VARCHAR) || '#' || tok,
        |                                           ''), c -> c <> ''),
        |                  c -> CAST(ascii(c) AS HUGEINT))),
        |              (acc, x) -> (xor(acc, x) * 1099511628211)
        |                          % CAST(18446744073709551616 AS HUGEINT))),
        |          h -> CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |                    THEN h - CAST(18446744073709551616 AS HUGEINT)
        |                    ELSE h END AS BIGINT)))) AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         len(list_filter(range(0, 16), i -> a.s[i+1] = b.s[i+1])) AS agree,
        |         len(list_intersect(a.t, b.t)) AS inter,
        |         len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS uni
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        |e AS (
        |  SELECT agree,
        |         1000000 * agree // 16 - 1000000 * inter // uni AS err
        |  FROM p WHERE agree >= 13)
        |SELECT CAST(agree AS BIGINT) AS agree,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(err) AS BIGINT) AS sum_err_ppm,
        |       CAST(sum(abs(err)) AS BIGINT) AS sum_abs_err_ppm,
        |       CAST(min(err) AS BIGINT) AS min_err_ppm,
        |       CAST(max(err) AS BIGINT) AS max_err_ppm
        |FROM e GROUP BY agree
        |ORDER BY agree""".stripMargin) { (spark, dir) =>
      // CLONE COMPACTION at the token-set level (round-10, after the sf1
      // scale run) STACKED under the original signature-group compaction:
      // every statistic here is a weighted aggregate over pairs, and all
      // member pairs of two clone groups share one (agree, err), so the
      // plan works on DISTINCT token sets with multiplicities — rep-level
      // pairs weighted m_a·m_b plus C(m,2) zero-error same-set pairs —
      // and never expands clone cliques (sf1 replica fixture: 84.5 s →
      // 1.22 s, scale-flat, BIT-IDENTICAL output; the oracle keeps its
      // all-pairs form). The signature-group layer on top keeps the band
      // join over DISTINCT signatures (the fixture's tiny vocabulary
      // makes many distinct sets share all 16 mins — banding reps
      // directly re-inflates the buckets that layer exists to collapse).
      // SORTED distinct token sets (round 15): grouping by the sorted
      // array is exact SET equality (the array-order form could only
      // split a set across groups, never merge distinct sets — both
      // compactions aggregate identically, see below), and sortedness is
      // the input contract of the merge-intersection kernel that replaced
      // array_intersect in the join-back: the probe measured the exact-
      // Jaccard stage at 7.7 s of the query's 10 s, almost all per-pair
      // hash-set allocation inside array_intersect over the 3.5M admitted
      // rep pairs. The minhash signature is a min over per-token hashes —
      // order-independent — so banding is untouched.
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), DedupOps.sortedTokenSet(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      // one row per distinct token set: multiplicity + min doc id as the
      // stable rep key (groupBy on the array column — exact equality);
      // the signature is a pure function of the set, computed once each.
      // SessionCache, not localCheckpoint: consumed by the group layer,
      // the same-set branch, and the jaccard join-back — persisted WITH
      // lineage so a lost executor recomputes.
      val sigs = graft.util.SessionCache
        .getOrMaterialize(spark, s"mh_calib_reps:$dir") {
          docs.groupBy("t")
            .agg(count(lit(1)).as("mult"), min(col("doc_id")).as("rep_id"))
            .withColumn("sig", DedupOps.minhashSignatureFnv(col("t"), 16))
        }
      // identical-signature compaction (unchanged from round 7): banding
      // runs over DISTINCT signatures; same-signature rep pairs
      // (agree = 16, different sets) expand from the member list
      val groups = graft.util.SessionCache
        .getOrMaterialize(spark, s"mh_calib_groups:$dir") {
          sigs.groupBy("sig")
            .agg(sort_array(collect_list(struct(col("rep_id").as("rid"),
              col("mult").as("m")))).as("members"))
        }
      val nm = size(col("members"))
      val intra = groups.filter(nm > 1)
        .select(explode(flatten(transform(
          sequence(lit(1), nm - 1),
          i => transform(slice(col("members"), i + 1, nm - i),
            b => struct(
              element_at(col("members"), i.cast("int"))
                .getField("rid").as("a_id"),
              b.getField("rid").as("b_id"),
              (element_at(col("members"), i.cast("int")).getField("m")
                * b.getField("m")).as("w")))))).as("p"))
        .select(col("p.a_id"), col("p.b_id"), lit(16L).as("agree"),
          col("p.w"))
      // 4 bands × 4 rows: lossless for agree ≥ 13 (≤3 disagreeing
      // permutations touch ≤3 of 4 bands — pigeonhole), and the 4-row
      // band key space keeps bucket sizes bounded even on the fixture's
      // tiny token vocabulary, where 2-row bands collide massively (a
      // measured 12s → sub-second difference at sf0.1)
      val banded = groups
        .withColumn("band", explode(DedupOps.bandKeys(col("sig"), 4, 4)))
        .withColumn("bh", xxhash64(col("band")))
      def side(p: String) = banded.select(col("members").as(s"${p}m"),
        col("sig").as(s"${p}_sig"), col("bh"))
      val cross = side("a").join(side("b"), "bh")
        .filter(element_at(col("am"), 1).getField("rid")
          < element_at(col("bm"), 1).getField("rid"))
        .select(col("am"), col("bm"),
          size(filter(zip_with(col("a_sig"), col("b_sig"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))), v => v === 1))
            .cast(LongType).as("agree"))
        .filter(col("agree") >= 13 && col("agree") < 16)
        .dropDuplicates("am", "bm")
        .select(explode(col("am")).as("x"), col("bm"), col("agree"))
        .select(col("x"), explode(col("bm")).as("y"), col("agree"))
        .select(least(col("x.rid"), col("y.rid")).as("a_id"),
          greatest(col("x.rid"), col("y.rid")).as("b_id"), col("agree"),
          (col("x.m") * col("y.m")).as("w"))
      val pairs = intra.unionByName(cross)
      def t(p: String) = sigs.select(col("rep_id").as(s"${p}_id"),
        col("t").as(s"${p}t"), size(col("t")).as(s"${p}sz"))
      // zero-allocation merge count over the sorted sets (|A∩B| identical
      // to size(array_intersect) on distinct inputs by definition)
      val inter = graft.ops.expr.IntersectSortedCount.column(col("at"), col("bt"))
      val uni = col("asz") + col("bsz") - inter
      val pairsW = pairs.join(t("a"), "a_id").join(t("b"), "b_id")
        .select(col("agree"), col("w"),
          inter.cast(LongType).as("inter"), uni.cast(LongType).as("uni"))
        // BIGINT floor divisions on both terms — the oracle's `//`
        .select(col("agree"), col("w"),
          expr("1000000 * agree div 16 - 1000000 * inter div uni").as("err"))
        // same-set pairs: agree = 16, inter = uni → err = 0, C(m,2)
        // copies — from the CACHED sigs frame
        .unionByName(sigs.filter(col("mult") > 1)
          .select(lit(16L).as("agree"),
            // integral C(m,2): Spark '/' returns double and unionByName
            // would coerce the whole weight column (and thus every
            // weighted sum) to floating point — exact only below 2^53
            expr("(mult * (mult - 1)) div 2").as("w"), lit(0L).as("err")))
      pairsW
        .groupBy("agree")
        // DECIMAL accumulators: w·err reaches pair-count × 10⁶ ppm — past
        // BIGINT at the 100× clone densities this query exists to survive
        .agg(big(sum(Q.dec(col("w")))).as("n_pairs"),
          big(sum(Q.dec(col("w")) * Q.dec(col("err")))).as("sum_err_ppm"),
          big(sum(Q.dec(col("w")) * Q.dec(abs(col("err"))))).as("sum_abs_err_ppm"),
          big(min("err")).as("min_err_ppm"),
          big(max("err")).as("max_err_ppm"))
        .select(big(col("agree")).as("agree"), col("n_pairs"),
          col("sum_err_ppm"), col("sum_abs_err_ppm"),
          col("min_err_ppm"), col("max_err_ppm"))
        .orderBy("agree")
    },

    // Wilson-lower-bound ranking of sources by Gopher-rule pass rate —
    // "which sources should the curation pipeline trust?" ranked the way
    // small samples demand: the z=2 Wilson score interval's lower bound,
    // so a 3/3 source ranks BELOW a 90/100 source. Determinism: k and n
    // are integers from one hash agg; the bound is a fixed IEEE op
    // sequence both engines execute identically (sqrt is exactly
    // rounded; the expression trees mirror token for token). Shape: the
    // per-doc rule battery is one scan; everything after runs on the
    // 20-row source dimension.
    Q("q_wilson_rank",
      """WITH s AS (
        |  SELECT doc_id, source, len(t) AS n,
        |         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sc,
        |         len(list_filter(t, x -> regexp_full_match(x, '[a-z]+'))) AS na,
        |         len(list_filter(t, x -> x IN ('the','a','of','to','and','in',
        |                                       'that','is'))) AS ns
        |  FROM (SELECT doc_id, source,
        |               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        |        FROM documents)),
        |agg AS (
        |  SELECT source, count(*) AS n,
        |         sum(CASE WHEN s.n BETWEEN 30 AND 10000 AND 3*s.n <= sc
        |                   AND sc <= 10*s.n AND 5*na >= 4*s.n AND ns >= 2
        |                  THEN 1 ELSE 0 END) AS k
        |  FROM s GROUP BY 1),
        |w AS (
        |  SELECT source, n, k,
        |         (CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + 2.0 / CAST(n AS DOUBLE)
        |          - 2.0 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |                        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)))
        |                         / CAST(n AS DOUBLE)
        |                       + 1.0 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |         / (1.0 + 4.0 / CAST(n AS DOUBLE)) AS wilson
        |  FROM agg)
        |SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_pass,
        |       wilson,
        |       CAST(row_number() OVER (ORDER BY wilson DESC, source) AS BIGINT)
        |         AS rank
        |FROM w ORDER BY rank""".stripMargin) { (spark, dir) =>
      val t = expr("filter(split(lower(text), ' '), x -> x <> '')")
      val n = size(col("t"))
      val pass = col("n").between(30, 10000) &&
        (lit(3) * col("n") <= col("sc")) && (col("sc") <= lit(10) * col("n")) &&
        (lit(5) * col("na") >= lit(4) * col("n")) && (col("ns") >= 2)
      val agg = tbl(spark, dir, "documents")
        .select(col("source"), t.as("t"))
        .withColumn("n", n)
        .withColumn("sc",
          expr("aggregate(transform(t, x -> CAST(length(x) AS BIGINT)), 0L, (a, x) -> a + x)"))
        .withColumn("na", size(expr("filter(t, x -> x rlike '^[a-z]+$')")))
        .withColumn("ns", size(expr(
          "filter(t, x -> x IN ('the','a','of','to','and','in','that','is'))")))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(pass.cast(LongType)).as("k"))
      val nd = col("n").cast(DoubleType)
      val p = col("k").cast(DoubleType) / nd
      // mirror the oracle's operation order token for token
      val wilson = (p + lit(2.0) / nd
        - lit(2.0) * sqrt((p * (lit(1.0) - p)) / nd + lit(1.0) / (nd * nd))) /
        (lit(1.0) + lit(4.0) / nd)
      // bounded axis: the rank window spans one row per source
      val byW = Window.orderBy(col("wilson").desc, col("source"))
      agg.withColumn("wilson", wilson)
        .select(col("source"), big(col("n")).as("n_docs"),
          big(col("k")).as("n_pass"), col("wilson"),
          row_number().over(byW).cast(LongType).as("rank"))
        .orderBy("rank")
    },

    // CDC stream health: the distribution of LSN gaps between consecutive
    // changes per (table, op) — the "is replication advancing smoothly or
    // in bursts?" panel a CDC operator watches. Exact discrete
    // percentiles: value at rank ⌈n/2⌉ and ⌈9n/10⌉ of the gap-ascending
    // order (ties make the picked VALUE rank-order-independent). Shape:
    // one lag window and one rank window, both partitioned by the bounded
    // (table, op) key — no global sort at any scale.
    Q("q_lsn_gaps",
      s"""${Changelog.cte},
         |g AS (
         |  SELECT table_name, op,
         |         lsn - lag(lsn) OVER (PARTITION BY table_name, op
         |                              ORDER BY lsn) AS gap
         |  FROM changes),
         |gg AS (SELECT table_name, op, gap FROM g WHERE gap IS NOT NULL),
         |r AS (
         |  SELECT table_name, op, gap,
         |         row_number() OVER (PARTITION BY table_name, op
         |                            ORDER BY gap) AS rn,
         |         count(*) OVER (PARTITION BY table_name, op) AS n
         |  FROM gg)
         |SELECT table_name, op, CAST(max(n) AS BIGINT) AS n_gaps,
         |       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
         |         AS p50_gap,
         |       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END) AS BIGINT)
         |         AS p90_gap,
         |       CAST(max(gap) AS BIGINT) AS max_gap
         |FROM r GROUP BY table_name, op
         |ORDER BY table_name, op""".stripMargin) { (spark, dir) =>
      val byKey = Window.partitionBy("table_name", "op").orderBy("lsn")
      val byGap = Window.partitionBy("table_name", "op").orderBy("gap")
      val byPart = Window.partitionBy("table_name", "op")
      Changelog.flat(spark, dir)
        .select(col("table_name"), col("op"), col("lsn"))
        .withColumn("gap", col("lsn") - lag("lsn", 1).over(byKey))
        .filter(col("gap").isNotNull)
        .withColumn("rn", row_number().over(byGap))
        .withColumn("n", count(lit(1)).over(byPart))
        .groupBy("table_name", "op")
        .agg(big(max("n")).as("n_gaps"),
          big(max(when(col("rn") === expr("(n + 1) div 2"), col("gap"))))
            .as("p50_gap"),
          big(max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap"))))
            .as("p90_gap"),
          big(max("gap")).as("max_gap"))
        .orderBy("table_name", "op")
    }
  )
}
