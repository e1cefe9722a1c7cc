package graft.queries

import graft.ops.expr.Fnv1a64
import graft.queries.Q.{big, events, fnvSql, quantCos, quantCosSql, quantN2, quantNormsCte, tbl}

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Group I — round-6 first wave: corpus quality filtering, boilerplate
  * mining, time-series diagnostics, and two more modality paths.
  *
  * Everything stays on the established determinism contracts: integer /
  * DECIMAL arithmetic until at most one final exactly-rounded divide, and
  * the codepoint-FNV fold ([[Fnv1a64.foldCodePoints]]) wherever a synthetic
  * modality needs reproducible pseudo-content an external SQL engine can
  * replay per character in 128-bit arithmetic.
  */
object GroupI {

  /** Non-empty lowercase tokens of `text` (Spark side). */
  private val toks: Column = expr("filter(split(lower(text), ' '), x -> x <> '')")

  /** Same token list in DuckDB. */
  private val toksSql = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  val all: Seq[Q] = Seq(

    // Gopher-style quality-rule battery (Rae et al. 2021 §A1.1, re-expressed
    // integer-exact): per document, the four rules the fixture schema can
    // express — word count in [30, 10000], mean word length in [3, 10]
    // (cross-multiplied: 3n ≤ Σlen ≤ 10n — no float mean), ≥80% alphabetic
    // words (5·n_alpha ≥ 4·n), and ≥2 stopword hits (the Gopher "natural
    // language" guard). One scan, all HOF lambdas inside whole-stage
    // codegen, no shuffle at all until the final doc_id sort — the filter
    // battery a 100 TB curation pass runs FIRST, before any pairwise work.
    Q("q_gopher_rules",
      s"""WITH s AS (
         |  SELECT doc_id, len(t) AS n,
         |         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sc,
         |         len(list_filter(t, x -> regexp_full_match(x, '[a-z]+'))) AS na,
         |         len(list_filter(t, x -> x IN ('the','a','of','to','and','in',
         |                                       'that','is'))) AS ns
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents))
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(n AS BIGINT) AS n_words,
         |       CAST(sc AS BIGINT) AS sum_word_chars,
         |       CAST(na AS BIGINT) AS n_alpha,
         |       CAST(ns AS BIGINT) AS n_stop,
         |       CAST(CASE WHEN n BETWEEN 30 AND 10000 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
         |       CAST(CASE WHEN 3*n <= sc AND sc <= 10*n THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
         |       CAST(CASE WHEN 5*na >= 4*n THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
         |       CAST(CASE WHEN ns >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
         |       CAST(CASE WHEN n BETWEEN 30 AND 10000 AND 3*n <= sc AND sc <= 10*n
         |                  AND 5*na >= 4*n AND ns >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val n = size(col("t"))
      val sc = expr("aggregate(transform(t, x -> CAST(length(x) AS BIGINT)), 0L, (a, x) -> a + x)")
      val na = size(expr("filter(t, x -> x rlike '^[a-z]+$')"))
      val ns = size(expr(
        "filter(t, x -> x IN ('the','a','of','to','and','in','that','is'))"))
      val rWords = n.between(30, 10000)
      val rLen = (lit(3) * n <= col("sc")) && (col("sc") <= lit(10) * n)
      val rAlpha = lit(5) * col("na") >= lit(4) * n
      val rStop = col("ns") >= 2
      tbl(spark, dir, "documents")
        .select(col("doc_id"), toks.as("t"))
        .withColumn("sc", sc).withColumn("na", na).withColumn("ns", ns)
        .select(big(col("doc_id")).as("doc_id"),
          big(n).as("n_words"), big(col("sc")).as("sum_word_chars"),
          big(col("na")).as("n_alpha"), big(col("ns")).as("n_stop"),
          rWords.cast(LongType).as("r_words"),
          rLen.cast(LongType).as("r_wordlen"),
          rAlpha.cast(LongType).as("r_alpha"),
          rStop.cast(LongType).as("r_stop"),
          (rWords && rLen && rAlpha && rStop).cast(LongType).as("pass"))
        .orderBy("doc_id")
    },

    // Per-source boilerplate mining (the CCNet/trafilatura line-dedup idea
    // at token-3-gram granularity, since the fixture has no line breaks):
    // a gram is boilerplate for a source when it appears in ≥2 of that
    // source's documents. Shape: shingle explode (linear in corpus
    // tokens), DISTINCT (source, gram, doc) collapse, one hash agg on
    // (source, gram), and a 20-row source-size dimension broadcast back —
    // nothing pairwise, shuffles keyed on (source, gram) only. The output
    // is the removal list a cleaning pass would broadcast-anti-join
    // against every document of that source.
    Q("q_boilerplate",
      s"""WITH t AS (
         |  SELECT doc_id, source, $toksSql AS t FROM documents),
         |g AS (
         |  SELECT DISTINCT source, doc_id,
         |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
         |  FROM t, unnest(range(1, len(t) - 1)) AS u(i)
         |  WHERE len(t) >= 3),
         |df AS (SELECT source, gram, count(*) AS df FROM g GROUP BY 1, 2),
         |nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM t GROUP BY 1)
         |SELECT d.source AS source, d.gram AS gram,
         |       CAST(d.df AS BIGINT) AS df,
         |       CAST(nd.n_docs AS BIGINT) AS n_docs,
         |       CAST(1000000 * d.df // nd.n_docs AS BIGINT) AS share_ppm
         |FROM df d JOIN nd USING (source)
         |WHERE d.df >= 2
         |ORDER BY source, gram""".stripMargin) { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), toks.as("t"))
      val grams = docs.filter(size(col("t")) >= 3)
        .select(col("source"), col("doc_id"),
          explode(expr(
            "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
            .as("gram"))
      // round 16 (guide §2.4): count(DISTINCT doc_id) fuses the previous
      // explicit (source, doc, gram) DISTINCT with the df count — the
      // partial aggregation dedups the triples map-side exactly as the
      // distinct's exchange did, so one shuffle replaces two. Same value:
      // df = number of distinct docs of the source containing the gram.
      val df = grams.groupBy("source", "gram")
        .agg(countDistinct("doc_id").as("df"))
      // doc_id is the documents table's primary key — one row per doc —
      // so the per-source doc count needs no distinct state
      val nd = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      df.filter(col("df") >= 2)
        .join(broadcast(nd), Seq("source"))
        .select(col("source"), col("gram"), big(col("df")).as("df"),
          big(col("n_docs")).as("n_docs"),
          big(expr("1000000 * df div n_docs")).as("share_ppm"))
        .orderBy("source", "gram")
    },

    // Exact 7-day rolling distinct users per day — the DAU/WAU panel
    // computed the scale-correct way: the fact stream first collapses to
    // DISTINCT (day, user) (the only pass over the raw events, one
    // map-side-combining dedup), and the rolling window is then a
    // calendar-axis range join (30 days × ≤7 offsets — bounded at ANY data
    // scale) over that collapsed set. A windowed count-distinct over raw
    // events would carry every row into every window; this carries each
    // (day, user) pair at most 7 times.
    Q("q_rolling_distinct",
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM du)
        |SELECT CAST(d.day AS BIGINT) AS day,
        |       CAST(count(DISTINCT CASE WHEN du.day = d.day
        |                                THEN du.user_id END) AS BIGINT) AS n_users_1d,
        |       CAST(count(DISTINCT du.user_id) AS BIGINT) AS n_users_7d
        |FROM days d
        |JOIN du ON du.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      val du = events(spark, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("user_id"))
        .distinct()
      val days = broadcast(du.select(col("day").as("d")).distinct())
      du.join(days, col("day").between(col("d") - 6, col("d")))
        .groupBy(col("d"))
        .agg(
          countDistinct(when(col("day") === col("d"), col("user_id")))
            .as("n_users_1d"),
          countDistinct("user_id").as("n_users_7d"))
        .select(big(col("d")).as("day"), big(col("n_users_1d")).as("n_users_1d"),
          big(col("n_users_7d")).as("n_users_7d"))
        .orderBy("day")
    },

    // CUSUM changepoint detection per event type: over the observed-day
    // axis, the split point k maximizing |n·S_k − k·S_n| (the integer
    // cross-multiplied form of |S_k − (k/n)·S_n| — the classic "where did
    // the daily rate shift?" statistic), earliest day on ties. The fact
    // stream is touched by ONE (type, day) hash agg; everything after runs
    // on the bounded type × calendar grid (windows partitioned by type,
    // never global). All integers; nothing floats.
    Q("q_changepoint",
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, cnt,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY day) AS s_k
        |  FROM c),
        |t AS (
        |  SELECT event_type, count(*) AS n_days, sum(cnt) AS total
        |  FROM c GROUP BY 1),
        |dev AS (
        |  SELECT w.event_type, w.day, t.n_days, t.total,
        |         abs(t.n_days * w.s_k - w.k * t.total) AS dev,
        |         row_number() OVER (
        |           PARTITION BY w.event_type
        |           ORDER BY abs(t.n_days * w.s_k - w.k * t.total) DESC, w.day)
        |           AS rn
        |  FROM w JOIN t USING (event_type))
        |SELECT event_type, CAST(day AS BIGINT) AS cp_day,
        |       CAST(dev AS BIGINT) AS dev,
        |       CAST(n_days AS BIGINT) AS n_days,
        |       CAST(total AS BIGINT) AS total
        |FROM dev WHERE rn = 1
        |ORDER BY event_type""".stripMargin) { (spark, dir) =>
      val c = events(spark, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val byType = Window.partitionBy("event_type").orderBy("day")
      val t = c.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("cnt").as("total"))
      val dev = abs(col("n_days") * col("s_k") - col("k") * col("total"))
      val pick = Window.partitionBy("event_type")
        .orderBy(dev.desc, col("day"))
      c.withColumn("k", row_number().over(byType))
        .withColumn("s_k", sum("cnt").over(byType))
        .join(broadcast(t), Seq("event_type"))
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("event_type"), big(col("day")).as("cp_day"),
          big(dev).as("dev"), big(col("n_days")).as("n_days"),
          big(col("total")).as("total"))
        .orderBy("event_type")
    },

    // Year-over-year revenue growth: exact DECIMAL yearly sums (the Q.dsum
    // contract — per-element double→decimal rounding is well-defined and
    // decimal addition associative, so the sums are partition-order-free),
    // lag over the BOUNDED year axis, and growth as ONE exactly-rounded
    // double divide of the exact decimal difference. The fact scan ends in
    // a map-side-combining 7-row agg; the window runs on 7 rows.
    Q("q_revenue_growth",
      """WITH y AS (
        |  SELECT year(o_orderdate) AS yr,
        |         sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT yr, rev, lag(rev) OVER (ORDER BY yr) AS prev FROM y)
        |SELECT CAST(yr AS BIGINT) AS yr,
        |       CAST(rev AS DOUBLE) AS revenue,
        |       CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS growth
        |FROM g ORDER BY yr""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val y = tbl(spark, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(sum(col("o_totalprice").cast(DecimalType(25, 6))).as("rev"))
      // bounded axis (one row per year): the single-partition lag window
      // runs on an already-aggregated ≤decades-sized frame
      val w = Window.orderBy("yr")
      y.withColumn("prev", lag("rev", 1).over(w))
        .select(big(col("yr")).as("yr"),
          col("rev").cast(DoubleType).as("revenue"),
          ((col("rev") - col("prev")).cast(DoubleType)
            / col("prev").cast(DoubleType)).as("growth"))
        .orderBy("yr")
    },

    // Per-document Simpson concentration of its token distribution —
    // the "is this document a few tokens repeated?" diagnostic, exact:
    // D = Σ c·(c−1) over per-token counts, reported as
    // ⌊10⁶·D / (n·(n−1))⌋ (the probability two random token draws
    // collide, in ppm — integer floor division, no floats anywhere).
    // Shape: token explode, (doc, token) hash agg, doc hash agg — linear,
    // shuffles keyed on doc_id only.
    Q("q_simpson_diversity",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, sum(c) AS n, sum(c * (c - 1)) AS dup_mass
         |  FROM c GROUP BY 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(n AS BIGINT) AS n_tokens,
         |       CAST(dup_mass AS BIGINT) AS dup_mass,
         |       CAST(1000000 * dup_mass // (n * (n - 1)) AS BIGINT) AS conc_ppm
         |FROM d WHERE n >= 2
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n"), sum(col("c") * (col("c") - 1)).as("dup_mass"))
        .filter(col("n") >= 2)
        .select(big(col("doc_id")).as("doc_id"), big(col("n")).as("n_tokens"),
          big(col("dup_mass")).as("dup_mass"),
          big(expr("1000000 * dup_mass div (n * (n - 1))")).as("conc_ppm"))
        .orderBy("doc_id")
    },

    // Voice-activity segmentation over the stub audio modality: each
    // document's payload decodes to 1 + n_chars/16 frames whose energy is
    // the codepoint-FNV of "doc_id:frame" mod 256 (deterministic fake PCM —
    // the real decoder is the sanctioned stub; the Spark-side plumbing is
    // the product). A frame is voiced at energy ≥ 128; voiced runs merge
    // via the gaps-and-islands window (frame − row_number over voiced
    // frames), yielding per-doc segment counts and the longest run — the
    // exact shape a VAD-based audio-chunking pass has at scale: linear
    // explode, windows partitioned by doc_id, never global.
    Q("q_audio_vad",
      s"""WITH fr AS (
         |  SELECT doc_id, 1 + n_chars // 16 AS n_frames,
         |         unnest(range(1 + n_chars // 16)) AS f
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, n_frames, f,
         |         CAST(${fnvSql("CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)")}
         |              % 256 AS BIGINT) AS energy
         |  FROM fr),
         |isl AS (
         |  SELECT doc_id, f,
         |         f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
         |  FROM e WHERE energy >= 128),
         |seg AS (SELECT doc_id, grp, count(*) AS run FROM isl GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, sum(run) AS n_voiced, count(*) AS n_segments,
         |         max(run) AS max_run
         |  FROM seg GROUP BY 1)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |       CAST(1 + d.n_chars // 16 AS BIGINT) AS n_frames,
         |       CAST(coalesce(a.n_voiced, 0) AS BIGINT) AS n_voiced,
         |       CAST(coalesce(a.n_segments, 0) AS BIGINT) AS n_segments,
         |       CAST(coalesce(a.max_run, 0) AS BIGINT) AS max_run
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val frames = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          explode(expr("sequence(0, n_chars div 16)")).as("f"))
      val energy = pmod(Fnv1a64.columnCodePoints(
        concat(col("doc_id").cast("string"), lit(":"), col("f").cast("string"))),
        lit(256L))
      val byDoc = Window.partitionBy("doc_id").orderBy("f")
      val seg = frames
        .withColumn("energy", energy)
        .filter(col("energy") >= 128)
        .withColumn("grp", col("f") - row_number().over(byDoc))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
        .groupBy("doc_id")
        .agg(sum("run").as("n_voiced"), count(lit(1)).as("n_segments"),
          max("run").as("max_run"))
      tbl(spark, dir, "documents")
        .select(col("doc_id"), expr("1 + n_chars div 16").as("n_frames"))
        .join(seg, Seq("doc_id"), "left")
        .select(big(col("doc_id")).as("doc_id"), big(col("n_frames")).as("n_frames"),
          big(coalesce(col("n_voiced"), lit(0L))).as("n_voiced"),
          big(coalesce(col("n_segments"), lit(0L))).as("n_segments"),
          big(coalesce(col("max_run"), lit(0L))).as("max_run"))
        .orderBy("doc_id")
    },

    // Average-hash perceptual fingerprint over the stub image modality:
    // 64 pseudo-pixels per document (codepoint-FNV of "doc_id#i" mod 256),
    // bit i set when 64·pᵢ > Σp (the integer cross-multiplied mean
    // threshold — no float mean), packed into two 32-bit halves so no
    // 2⁶³ sign games are needed in either engine. This is the aHash
    // near-dup key image pipelines bucket on before any pairwise pHash
    // verification; the whole plan is a linear explode + one doc-keyed
    // agg pair.
    Q("q_image_phash",
      s"""WITH px AS (
         |  SELECT doc_id, unnest(range(64)) AS i FROM documents),
         |p AS (
         |  SELECT doc_id, i,
         |         CAST(${fnvSql("CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)")}
         |              % 256 AS BIGINT) AS pv
         |  FROM px),
         |t AS (SELECT doc_id, sum(pv) AS tot FROM p GROUP BY 1),
         |b AS (
         |  SELECT p.doc_id, p.i,
         |         CASE WHEN 64 * p.pv > t.tot THEN 1 ELSE 0 END AS bit
         |  FROM p JOIN t USING (doc_id))
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(sum(CASE WHEN i >= 32 THEN bit * (1 << (i - 32)) ELSE 0 END)
         |            AS BIGINT) AS phash_hi,
         |       CAST(sum(CASE WHEN i < 32 THEN bit * (1 << i) ELSE 0 END)
         |            AS BIGINT) AS phash_lo,
         |       CAST(sum(bit) AS BIGINT) AS n_bits
         |FROM b GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val px = tbl(spark, dir, "documents")
        .select(col("doc_id"), explode(expr("sequence(0, 63)")).as("i"))
        .withColumn("pv", pmod(Fnv1a64.columnCodePoints(
          concat(col("doc_id").cast("string"), lit("#"), col("i").cast("string"))),
          lit(256L)))
      val tot = px.groupBy("doc_id").agg(sum("pv").as("tot"))
      px.join(tot, Seq("doc_id"))
        .withColumn("bit", when(lit(64) * col("pv") > col("tot"), 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(
          sum(when(col("i") >= 32,
            col("bit") * expr("shiftleft(CAST(1 AS BIGINT), CAST(i - 32 AS INT))"))
            .otherwise(0L)).as("phash_hi"),
          sum(when(col("i") < 32,
            col("bit") * expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))"))
            .otherwise(0L)).as("phash_lo"),
          sum("bit").as("n_bits"))
        .select(big(col("doc_id")).as("doc_id"), big(col("phash_hi")).as("phash_hi"),
          big(col("phash_lo")).as("phash_lo"), big(col("n_bits")).as("n_bits"))
        .orderBy("doc_id")
    },

    // Margin-based bitext mining (Artetxe & Schwenk 2019, the absolute-
    // margin variant): treat label 0 as the source-language pool and
    // label 1 as the target pool; for every source vector, the best
    // LSH-retrieved target by quantized cosine and its margin over the
    // runner-up — the score parallel-corpus miners threshold on.
    // Candidates come from a multi-table LSH bucket equi-join (8 tables ×
    // 6 FNV-derived integer planes, the q_ann_lsh/NN-descent index
    // family) — the registered form IS the 100 TB contract: no pool
    // broadcasts against the corpus (the round-10 sf1 run measured the
    // previous broadcast-pool form at 26× for 10× data), and both sides
    // shuffle only on the bucket key. The Spark plan additionally
    // clone-compacts each pool to DISTINCT vectors (buckets, cosines and
    // ranks are pure functions of the embedding): member-level top-2 can
    // only land on a target group's two SMALLEST member ids (within a
    // group cosines tie and smaller ids rank first), so scoring group
    // pairs and merging (id1, id2) unit candidates reproduces the
    // member-level ranking exactly — the oracle keeps the member-level
    // form. Determinism: quantized-integer cosines rounded to 6, vec_id
    // total tiebreaks, margin = one subtraction of identical doubles.
    Q("q_bitext_margin", {
      val qn = quantNormsCte("label")
      s"""WITH ${PipelineQueries.planesCte("bt", 48)},
         |${PipelineQueries.quantElemsCte},
         |${PipelineQueries.quantDotsCte},
         |tk AS (SELECT vec_id, p // 6 AS t, p % 6 AS i, dp FROM dots),
         |keys AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN dp >= 0
         |                       THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
         |              + (t << 6) AS BIGINT) AS bucket
         |  FROM tk GROUP BY vec_id, t),
         |$qn,
         |cand AS (
         |  SELECT DISTINCT s.vec_id AS q_id, t.vec_id AS cand_id
         |  FROM keys s JOIN keys t ON s.bucket = t.bucket
         |  JOIN qn a ON s.vec_id = a.vec_id
         |  JOIN qn b ON t.vec_id = b.vec_id
         |  WHERE a.label = 0 AND b.label = 1),
         |pairs AS (
         |  SELECT cand.q_id, cand.cand_id, ${quantCosSql("a", "b")} AS cos
         |  FROM cand JOIN qn a ON cand.q_id = a.vec_id
         |            JOIN qn b ON cand.cand_id = b.vec_id),
         |r AS (
         |  SELECT q_id, cand_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cos DESC, cand_id) AS rn
         |  FROM pairs)
         |SELECT CAST(q_id AS BIGINT) AS q_id,
         |       CAST(max(CASE WHEN rn = 1 THEN cand_id END) AS BIGINT) AS best_id,
         |       max(CASE WHEN rn = 1 THEN cos END) AS cos1,
         |       max(CASE WHEN rn = 2 THEN cos END) AS cos2,
         |       round(max(CASE WHEN rn = 1 THEN cos END)
         |             - max(CASE WHEN rn = 2 THEN cos END), 6) AS margin
         |FROM r WHERE rn <= 2
         |GROUP BY q_id
         |ORDER BY q_id""".stripMargin
    }) { (spark, dir) =>
      val (tables, ppt) = (8, 6)
      val planes = graft.ops.Lsh.fnvPlanesL(tables * ppt, dim = 64, salt = "bt")
      val emb = tbl(spark, dir, "embeddings")
      def groups(lbl: Int) = emb.filter(col("label") === lbl)
        .groupBy(col("embedding"))
        .agg(sort_array(collect_list(col("vec_id"))).as("members"))
      val srcK = groups(0)
        .select(col("embedding").as("qv"), col("members").as("qm"),
          element_at(col("members"), 1).as("q_rep"),
          quantN2(col("embedding")).as("qn2"))
        .withColumn("bucket",
          explode(graft.ops.Lsh.tableKeysQ(col("qv"), planes, tables, ppt)))
      val tgtK = groups(1)
        .select(col("embedding").as("cv"),
          element_at(col("members"), 1).as("id1"),
          when(size(col("members")) > 1, element_at(col("members"), 2))
            .as("id2"),
          quantN2(col("embedding")).as("cn2"))
        .withColumn("bucket",
          explode(graft.ops.Lsh.tableKeysQ(col("cv"), planes, tables, ppt)))
      val cand = srcK.join(tgtK, Seq("bucket"))
        .dropDuplicates("q_rep", "id1") // multi-table dups out before scoring
        .withColumn("cos", quantCos(col("qv"), col("cv"), col("qn2"), col("cn2")))
      // member-level unit candidates: each target group's two smallest ids
      val units = cand
        .select(col("q_rep"), col("qm"), col("cos"), col("id1").as("cand_id"))
        .unionByName(cand.filter(col("id2").isNotNull)
          .select(col("q_rep"), col("qm"), col("cos"),
            col("id2").as("cand_id")))
      val byQ = Window.partitionBy("q_rep")
        .orderBy(col("cos").desc, col("cand_id"))
      units
        .withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 2)
        .groupBy("q_rep", "qm")
        .agg(
          max(when(col("rn") === 1, col("cand_id"))).as("best_id"),
          max(when(col("rn") === 1, col("cos"))).as("cos1"),
          max(when(col("rn") === 2, col("cos"))).as("cos2"))
        .select(explode(col("qm")).as("q_id"), col("best_id"),
          col("cos1"), col("cos2"))
        .select(big(col("q_id")).as("q_id"), big(col("best_id")).as("best_id"),
          col("cos1"), col("cos2"),
          round(col("cos1") - col("cos2"), 6).as("margin"))
        .orderBy("q_id")
    },

    // Per-user modal event type (deterministic mode: max count, then
    // lexicographically first type) — the grouped-mode aggregate SQL
    // engines special-case; here it's one (user, type) hash agg and a
    // row_number window over the BOUNDED per-user type set (≤5 rows per
    // user at any scale).
    Q("q_window_mode",
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, n,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |       event_type AS mode_type,
        |       CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type"))
      events(spark, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(byUser))
        .filter(col("rn") === 1)
        .select(big(col("user_id")).as("user_id"),
          col("event_type").as("mode_type"), big(col("n")).as("n"))
        .orderBy("user_id")
    }
  )
}
