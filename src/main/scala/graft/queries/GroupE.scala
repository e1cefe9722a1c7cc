package graft.queries

import graft.queries.Q._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Group E — corpus analytics & advanced relational operators (round 4).
  *
  * Widens the engine beyond the reference's linear pipeline (which has no
  * relational surface at all — SURVEY.md §2.2) with the query shapes a
  * training-data curation stack runs against the same corpus: correlated
  * filters, vocabulary statistics, co-occurrence mining, time-series
  * resampling with forward fill, per-document diversity scoring, fixed-bin
  * histograms, kNN label voting, and event-sequence transition counts.
  *
  * Every query keeps the determinism contract of the oracle gate: integer
  * or DECIMAL-rational comparisons wherever engines could disagree on
  * float associativity, a single final double division at most, and a
  * trailing ORDER BY on the output.
  */
object GroupE {

  /** Lower-cased whitespace tokens, empties dropped — the corpus token
    * stream every text query shares (DuckDB twin:
    * `list_filter(string_split(lower(text), ' '), x -> x <> '')`). */
  private def toks(c: Column): Column =
    filter(split(lower(c), " "), t => t =!= "")

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  val all: Seq[Q] = Seq(

    // Correlated-subquery shape: orders strictly above their customer's
    // average order value. The correlation compiles to ONE hash aggregate
    // on o_custkey re-joined to the fact — no per-row subquery execution.
    // The "above average" compare is rational (price·cnt > Σprice in
    // DECIMAL), so no engine ever divides: avg as a double would make the
    // boundary rows engine-dependent. Scale: agg + shuffle join on the
    // same key; AQE broadcasts the per-customer side when small.
    Q("q_correlated_avg",
      """WITH s AS (
        |  SELECT o_custkey AS ck,
        |         sum(CAST(o_totalprice AS DECIMAL(25,6))) AS st,
        |         count(*) AS cnt
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders JOIN s ON o_custkey = ck
        |WHERE CAST(o_totalprice AS DECIMAL(25,6)) * cnt > st
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = tbl(spark, dir, "orders")
      val s = o.groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast(DecimalType(25, 6))).as("st"),
          count(lit(1)).as("cnt"))
      o.join(s, col("o_custkey") === col("ck"))
        .filter(col("o_totalprice").cast(DecimalType(25, 6)) * col("cnt") >
          col("st"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Vocabulary growth per language: corpus-level type/token counts and
    // the type-token ratio. The TTR division is the only float op — two
    // exact BIGINTs divided once in IEEE double, bit-identical on any
    // engine. Word-count plan shape: explode + two hash aggregates.
    Q("q_vocab_growth",
      s"""WITH tok AS (
         |  SELECT lang, unnest($toksSql) AS t FROM documents)
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS total_tokens,
         |       CAST(count(DISTINCT t) AS BIGINT) AS distinct_tokens,
         |       round(CAST(count(DISTINCT t) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 9) AS ttr
         |FROM tok GROUP BY lang
         |ORDER BY lang""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("lang"), explode(toks(col("text"))).as("t"))
        .groupBy("lang")
        .agg(big(count(lit(1))).as("total_tokens"),
          big(countDistinct(col("t"))).as("distinct_tokens"),
          round(countDistinct(col("t")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 9).as("ttr"))
        .orderBy("lang")
    },

    // Tokenizer fertility planning: per-language bytes-per-token as the
    // exact integer ⌊Σbytes·10⁶ / Σtokens⌋ — the stat that sizes a token
    // budget against a byte-metered corpus (CJK-heavy languages and
    // whitespace-poor scripts diverge hard here). Docs with zero tokens
    // are excluded from BOTH sums (a deterministic contract, not a
    // division guard). One scan, one hash agg, integer arithmetic only.
    Q("q_tok_fertility",
      s"""WITH d AS (
         |  SELECT lang, strlen(text) AS bytes, len($toksSql) AS toks
         |  FROM documents
         |  WHERE len($toksSql) > 0)
         |SELECT lang,
         |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |       CAST(sum(toks) AS BIGINT) AS total_tokens,
         |       CAST((CAST(sum(bytes) AS HUGEINT) * 1000000)
         |            // CAST(sum(toks) AS HUGEINT) AS BIGINT) AS bytes_per_token_e6
         |FROM d GROUP BY lang
         |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val dec = DecimalType(38, 0)
      tbl(spark, dir, "documents")
        .select(col("lang"), octet_length(col("text")).as("bytes"),
          size(toks(col("text"))).as("toks"))
        .filter(col("toks") > 0)
        .groupBy("lang")
        .agg(big(sum(col("bytes"))).as("total_bytes"),
          big(sum(col("toks"))).as("total_tokens"))
        .withColumn("num", col("total_bytes").cast(dec) * lit(1000000).cast(dec))
        .withColumn("den", col("total_tokens").cast(dec))
        .select(col("lang"), col("total_bytes"), col("total_tokens"),
          expr("CAST(num DIV den AS BIGINT)").as("bytes_per_token_e6"))
        .orderBy("lang")
    },

    // Skip-bigram co-occurrence mining (word2vec-window statistics): token
    // pairs within distance ≤2, canonicalized (least, greatest), global
    // top-20 by count. Pairs are generated MAP-SIDE by zipping the token
    // array against its own 1- and 2-shifted tails — never a positional
    // self-join, which would be quadratic per document. One shuffle (the
    // count agg), then a global top-k.
    Q("q_cooccur",
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
         |p AS (
         |  SELECT least(tk[i], tk[i + d]) AS a, greatest(tk[i], tk[i + d]) AS b
         |  FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i), (VALUES (1), (2)) v(d)
         |  WHERE i + d <= len(tk))
         |SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY a, b
         |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin) { (spark, dir) =>
      val tk = toks(col("text"))
      def shifted(d: Int): Column = {
        val n = greatest(size(tk) - d, lit(0))
        zip_with(slice(tk, lit(1), n), slice(tk, lit(1 + d), n),
          (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b")))
      }
      tbl(spark, dir, "documents")
        .select(explode(concat(shifted(1), shifted(2))).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
        .groupBy("a", "b")
        .agg(big(count(lit(1))).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(20)
    },

    // Time-series resampling: per-user hourly grid over each user's
    // observed span, hourly exact sums forward-filled across gap hours
    // (the log → features step of any temporal pipeline). The hourly
    // value is a DECIMAL-exact sum, and the fill copies it verbatim, so
    // no float arithmetic crosses rows. Round-15 shape (guide §2.4 —
    // remove shuffles outright): each observed hour emits ITSELF plus the
    // gap hours up to (exclusive) the user's next observed hour, all
    // carrying its own value — sequence(h, next_h − 1h) off one lead()
    // window. Union over a user's rows = exactly the min(h)..max(h) grid,
    // and every grid hour takes the value of the latest observed hour at
    // or before it — the same forward fill the previous plan computed by
    // generating the grid from a separate span aggregate, left-joining
    // the hourly sums back, and window-filling (one scan + 2 exchanges
    // replace 2 scans + 5; output bit-identical, oracle unchanged).
    Q("q_resample_ffill",
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, value FROM events),
        |hourly AS (
        |  SELECT user_id, h,
        |         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS hv
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM span)
        |SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       last_value(hv IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM grid g LEFT JOIN hourly USING (user_id, h)
        |ORDER BY user_id, hour""".stripMargin) { (spark, dir) =>
      val ev = events(spark, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
      val hourly = ev.groupBy("user_id", "h").agg(dsum(col("value")).as("hv"))
      val w = Window.partitionBy("user_id").orderBy("h")
      hourly
        .withColumn("hn", lead(col("h"), 1).over(w))
        .select(col("user_id"),
          explode(sequence(col("h"),
            coalesce(col("hn") - expr("interval 1 hour"), col("h")),
            expr("interval 1 hour"))).as("h"),
          col("hv"))
        .select(col("user_id"), tstr(col("h")).as("hour"),
          col("hv").as("value_ffill"))
        .orderBy("user_id", "hour")
    },

    // Per-document character diversity (Simpson index): 1 − Σc² / n² over
    // character frequencies — the float-free cousin of character entropy
    // used to drop mojibake/boilerplate docs (all-integer numerator and
    // denominator, one final double division). Word-count shape on the
    // character stream: explode + two hash aggs, linear in corpus bytes.
    Q("q_char_diversity",
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        |  WHERE len(text) > 0),
        |cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(k) AS BIGINT) AS n_chars,
        |       round(CAST(sum(k) * sum(k) - sum(k * k) AS DOUBLE) /
        |             CAST(sum(k) * sum(k) AS DOUBLE), 9) AS diversity
        |FROM cc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .filter(col("c") =!= "") // Java regex split keeps a trailing empty
        .groupBy("doc_id", "c")
        .agg(count(lit(1)).as("k"))
        .groupBy("doc_id")
        .agg(big(sum(col("k"))).as("n_chars"),
          round((sum(col("k")) * sum(col("k")) -
            sum(col("k") * col("k"))).cast(DoubleType) /
            (sum(col("k")) * sum(col("k"))).cast(DoubleType), 9)
            .as("diversity"))
        .orderBy("doc_id")
    },

    // Fixed-bin histogram of order values: 12 × 50k bins, top bin open.
    // The bin id is floor of one double division of exact inputs —
    // deterministic — and the per-bin total is DECIMAL-exact. Single
    // hash-agg scan; the classic distribution-profiling primitive.
    Q("q_histogram",
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1
        |ORDER BY bin""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "orders")
        .groupBy(least(floor(col("o_totalprice") / 50000.0), lit(11))
          .cast(LongType).as("bin"))
        .agg(big(count(lit(1))).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .orderBy("bin")
    },

    // kNN label voting: classify the 10 held-out query vectors by majority
    // label of their 5 exact-cosine nearest neighbors (tie → smaller
    // label). Same broadcast-queries/stream-candidates plan as
    // q_cosine_topk — the vote adds one tiny aggregation over 50 rows.
    Q("q_knn_vote",
      s"""WITH ${quantNormsCte("label")},
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        |         ${quantCosSql("q", "c")} AS sim
        |  FROM qn q JOIN qn c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |topk AS (
        |  SELECT query_id, label FROM (
        |    SELECT query_id, label,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY sim DESC, neighbor_id) AS rn
        |    FROM pairs) WHERE rn <= 5),
        |votes AS (
        |  SELECT query_id, label, count(*) AS v FROM topk GROUP BY 1, 2)
        |SELECT query_id, CAST(label AS BIGINT) AS pred_label, CAST(v AS BIGINT) AS votes
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY v DESC, label) AS vr FROM votes)
        |WHERE vr = 1
        |ORDER BY query_id""".stripMargin) { (spark, dir) =>
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"),
          quantN2(col("embedding")).as("n2"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("n2").as("qn2"))
      val cands = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), col("n2").as("cn2"), col("label"))
      val wTop = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      val wVote = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label"))
      broadcast(queries)
        .join(cands, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", quantCos(col("qv"), col("cv"), col("qn2"), col("cn2")))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
        .groupBy("query_id", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("query_id"), big(col("label")).as("pred_label"),
          big(col("votes")).as("votes"))
        .orderBy("query_id")
    },

    // The SQL-first user surface, driver-checked end to end: a session
    // registered with the engine's native expressions
    // (SparkSessionExtensions / GraftExtensions) answers plain SQL over a
    // view, here using the codegen'd fnv1a64 Catalyst expression. The
    // oracle refolds the same hash with a linear list_reduce in HUGEINT —
    // so the native expression's bytes-level semantics, not just its
    // plumbing, are pinned by the gate.
    Q("q_sql_api",
      """SELECT doc_id, lang,
        |       CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |                 THEN h - CAST(18446744073709551616 AS HUGEINT)
        |                 ELSE h END AS BIGINT) AS text_hash
        |FROM (
        |  SELECT doc_id, lang,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |             list_transform(list_filter(string_split(text, ''), c -> c <> ''),
        |               c -> CAST(ascii(c) AS HUGEINT))),
        |           (acc, x) -> (xor(acc, x) * 1099511628211)
        |                       % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      graft.GraftExtensions.register(spark)
      tbl(spark, dir, "documents").createOrReplaceTempView("graft_documents")
      // spark.sql analyses eagerly: the frame holds the view's plan, so
      // the session-global name can go at once
      try spark.sql(
        """SELECT doc_id, lang, fnv1a64(text) AS text_hash
          |FROM graft_documents ORDER BY doc_id""".stripMargin)
      finally spark.catalog.dropTempView("graft_documents")
    },

    // Manual skew-join: when BOTH join sides are too large to broadcast
    // and one key is hot, replicate the dimension side `R` times and
    // scatter the fact side across the replicas with a deterministic salt
    // — every task sees ≤ 1/R of the hot key. Result-identical to the
    // plain join (the oracle IS the plain join); AQE's runtime skew
    // handling covers sort-merge cases, this is the static-plan variant
    // for aggregation-sized dimensions.
    Q("q_join_salted",
      """WITH dim AS (
        |  SELECT event_type, count(*) AS type_total FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, CAST(d.type_total AS BIGINT) AS type_total
        |FROM events e JOIN dim d USING (event_type)
        |WHERE e.event_id % 1000 = 0
        |ORDER BY e.event_id""".stripMargin) { (spark, dir) =>
      val R = 8
      val ev = events(spark, dir)
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_total"))
        .withColumn("salt", explode(sequence(lit(0), lit(R - 1))))
      val fact = ev.filter(col("event_id") % 1000 === 0)
        // salt from the surviving key bits (the ids are multiples of 1000,
        // so `pmod(event_id, R)` would collapse every row onto salt 0)
        .withColumn("salt", pmod(expr("event_id div 1000"), lit(R)).cast("int"))
      fact.join(dim, Seq("event_type", "salt"))
        .select(col("event_id"), col("event_type"),
          big(col("type_total")).as("type_total"))
        .orderBy("event_id")
    },

    // Burst detection over the event stream: a minute is a burst when its
    // count exceeds 3× the trailing-10-minute per-minute average —
    // compared as integers (10·c > 3·trailing), no float thresholds. One
    // per-minute hash agg, then ONE type-partitioned RANGE window over an
    // integer minute index; scales with distinct (type, minute), not rows.
    Q("q_burst_detect",
      """WITH m AS (
        |  SELECT event_type, CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT) AS mi,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, mi, c,
        |         coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY mi
        |                               RANGE BETWEEN 10 PRECEDING AND 1 PRECEDING),
        |                  0) AS trail_sum
        |  FROM m)
        |SELECT event_type, mi, CAST(c AS BIGINT) AS c,
        |       CAST(trail_sum AS BIGINT) AS trail_sum,
        |       CAST(CASE WHEN trail_sum > 0 AND c * 10 > trail_sum * 3
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_burst
        |FROM w
        |ORDER BY event_type, mi""".stripMargin) { (spark, dir) =>
      val m = events(spark, dir)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("minute", col("ts"))) / 60)
            .cast(LongType).as("mi"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("mi")
        .rangeBetween(-10, -1)
      m.withColumn("trail_sum", coalesce(sum(col("c")).over(w), lit(0L)))
        .select(col("event_type"), col("mi"), big(col("c")).as("c"),
          big(col("trail_sum")).as("trail_sum"),
          when(col("trail_sum") > 0 && col("c") * 10 > col("trail_sum") * 3, 1L)
            .otherwise(0L).as("is_burst"))
        .orderBy("event_type", "mi")
    },

    // Rare-token density (novelty) scoring — the inverse-document-frequency
    // quality signal in PURE INTEGERS: rarity(t) = ⌊N·10⁶ / df(t)⌋, and a
    // document's novelty is the floor-mean of its distinct tokens' rarities.
    // Both engines floor-divide positive integers, so every value is exact.
    // Word-count shapes only: explode + two hash aggs + one broadcast-sized
    // join of per-token df back to the token stream.
    Q("q_idf_novelty",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct($toksSql)) AS t FROM documents),
         |n AS (SELECT count(DISTINCT doc_id) AS nd FROM tok),
         |df AS (SELECT t, count(*) AS df FROM tok GROUP BY t)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_distinct,
         |       CAST(sum((SELECT nd FROM n) * 1000000 // df.df) // count(*) AS BIGINT)
         |         AS novelty
         |FROM tok JOIN df USING (t)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val tok = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(toks(col("text")))).as("t"))
      val nd = tok.agg(countDistinct(col("doc_id")).as("nd"))
      val df = tok.groupBy("t").agg(count(lit(1)).as("df"))
      tok.join(df, "t")
        .crossJoin(broadcast(nd))
        .groupBy("doc_id")
        .agg(big(count(lit(1))).as("n_distinct"),
          big(expr("sum(nd * 1000000L div df) div count(1)")).as("novelty"))
        .orderBy("doc_id")
    },

    // Bigram language model (top next-token per token): directed bigram
    // counts generated map-side by the shifted-zip trick, one hash agg for
    // pair counts, re-aggregated per-prev totals (never a second corpus
    // pass), and a per-prev argmax window (count DESC, token ASC). The
    // conditional probability is one IEEE division of exact counts.
    Q("q_ngram_lm",
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
         |bg AS (
         |  SELECT tk[i] AS prev, tk[i + 1] AS next
         |  FROM t, UNNEST(range(1, len(tk))) AS u(i)),
         |pc AS (SELECT prev, next, count(*) AS c FROM bg GROUP BY 1, 2),
         |tot AS (SELECT prev, sum(c) AS total FROM pc GROUP BY 1),
         |ranked AS (
         |  SELECT pc.prev, pc.next, pc.c, tot.total,
         |         row_number() OVER (PARTITION BY pc.prev
         |                            ORDER BY pc.c DESC, pc.next) AS rn
         |  FROM pc JOIN tot USING (prev))
         |SELECT prev, next, CAST(c AS BIGINT) AS c, CAST(total AS BIGINT) AS total,
         |       round(CAST(c AS DOUBLE) / CAST(total AS DOUBLE), 9) AS prob
         |FROM ranked WHERE rn = 1 AND total >= 50
         |ORDER BY prev""".stripMargin) { (spark, dir) =>
      val tk = toks(col("text"))
      val n1 = greatest(size(tk) - 1, lit(0))
      val bg = tbl(spark, dir, "documents")
        .select(explode(zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
          (x, y) => struct(x.as("prev"), y.as("next")))).as("b"))
        .select(col("b.prev").as("prev"), col("b.next").as("next"))
      val pc = bg.groupBy("prev", "next").agg(count(lit(1)).as("c"))
      val tot = pc.groupBy("prev").agg(sum(col("c")).as("total"))
      val w = Window.partitionBy("prev").orderBy(col("c").desc, col("next"))
      pc.join(tot, "prev")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("total") >= 50)
        .select(col("prev"), col("next"), big(col("c")).as("c"),
          big(col("total")).as("total"),
          round(col("c").cast(DoubleType) / col("total").cast(DoubleType), 9)
            .as("prob"))
        .orderBy("prev")
    },

    // Corpus-LM fluency scoring — the CCNet/Gopher "perplexity filter"
    // reshaped for exact cross-engine replay: score each document by the
    // mean INVERSE conditional probability of its bigrams under the
    // corpus's own bigram LM. surprise(a,b) = ⌊c_a·10⁶ / c_ab⌋ (≥10⁶;
    // rare transitions score high), doc score = ⌊Σsurprise / n_bigrams⌋ —
    // a log-free, float-free perplexity ordering (monotone in the
    // geometric-mean argument's arithmetic-mean proxy), so disfluent/
    // boilerplate-noise docs rank high with no libm anywhere. Shapes: one
    // shifted-zip bigram explode carrying doc_id, two corpus-level hash
    // aggs (bigram + prev-token counts), two equi-joins back onto the
    // per-doc bigram stream, one per-doc agg. At larger corpora the
    // surprise sum moves to a DECIMAL(38,0) accumulator; BIGINT holds to
    // ~10⁹-bigram documents at this vocabulary.
    Q("q_lm_surprise",
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
         |  FROM t, UNNEST(range(1, len(tk))) AS u(i)),
         |pc AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
         |tot AS (SELECT a, sum(c_ab) AS c_a FROM pc GROUP BY 1),
         |scored AS (
         |  SELECT bg.doc_id,
         |         (CAST(tot.c_a AS BIGINT) * 1000000) // pc.c_ab AS surprise
         |  FROM bg JOIN pc USING (a, b) JOIN tot USING (a))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(sum(surprise) // count(*) AS BIGINT) AS surprise_e6
         |FROM scored
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val tk = toks(col("text"))
      val n1 = greatest(size(tk) - 1, lit(0))
      val bg = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          explode(zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      val pc = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      val tot = pc.groupBy("a").agg(sum(col("c_ab")).as("c_a"))
      bg.join(pc, Seq("a", "b"))
        .join(tot, Seq("a"))
        .select(col("doc_id"),
          expr("(CAST(c_a AS BIGINT) * 1000000) DIV c_ab").as("surprise"))
        .groupBy("doc_id")
        .agg(big(count(lit(1))).as("n_bigrams"),
          expr("CAST(sum(surprise) DIV count(*) AS BIGINT)").as("surprise_e6"))
        .orderBy("doc_id")
    },

    // BPE merge mining — the first iteration of byte-pair-encoding
    // tokenizer training as a corpus query: count adjacent SYMBOL pairs
    // across the word-frequency table (each occurrence inside a word
    // weighted by that word's corpus frequency) and rank merge candidates.
    // The distributed shape is what makes real BPE training feasible on
    // 100 TB: the pair counting runs over the DISTINCT-WORD table (a few
    // million rows regardless of corpus size) carrying precomputed
    // frequencies — never over the raw token stream — so each merge round
    // is two hash aggs on a vocabulary-sized frame. One round here (the
    // re-tokenization between rounds is driver logic over the same query,
    // not a new operator); ties break lexicographically like the reference
    // implementations.
    Q("q_bpe_pairs",
      s"""WITH words AS (
         |  SELECT u AS w, count(*) AS freq
         |  FROM (SELECT unnest($toksSql) AS u FROM documents)
         |  GROUP BY 1),
         |chars AS (
         |  SELECT w, freq,
         |         list_filter(string_split(w, ''), c -> c <> '') AS cs
         |  FROM words),
         |prs AS (
         |  SELECT cs[i] AS a, cs[i + 1] AS b, freq
         |  FROM chars, UNNEST(range(1, len(cs))) AS u(i))
         |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM prs GROUP BY a, b
         |ORDER BY cnt DESC, a, b LIMIT 10""".stripMargin) { (spark, dir) =>
      val words = tbl(spark, dir, "documents")
        .select(explode(toks(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val cs = filter(split(col("w"), ""), c => c =!= "")
      val n1 = greatest(size(cs) - 1, lit(0))
      words
        .select(col("freq"),
          explode(zip_with(slice(cs, lit(1), n1), slice(cs, lit(2), n1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(big(sum(col("freq"))).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(10)
    },

    // Budget-capped corpus selection — the final curation decision: given
    // a per-language token budget, greedily admit documents (longest
    // first; ties by doc_id) until the budget is exhausted — the packing
    // pass that turns "scored corpus" into "training mix". One per-lang
    // window computes the running total; a document is admitted iff its
    // cumulative sum still fits. The window partitions by lang (never
    // global) and everything is integer, so the admission boundary is
    // engine-exact.
    Q("q_token_budget",
      s"""WITH sized AS (
         |  SELECT doc_id, lang, len($toksSql) AS n_tokens
         |  FROM documents),
         |ranked AS (
         |  SELECT doc_id, lang, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY lang
         |                             ORDER BY n_tokens DESC, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM sized)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM ranked WHERE cum_tokens <= 20000
         |ORDER BY lang, cum_tokens""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks(col("text"))).cast(LongType).as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 20000)
        .select(col("doc_id"), col("lang"), big(col("n_tokens")).as("n_tokens"),
          big(col("cum_tokens")).as("cum_tokens"))
        .orderBy("lang", "cum_tokens")
    },

    // KMV (k-minimum-values) distinct-count sketch — the approximate
    // distinct an oracle CAN check, complementing the rows-only HLL
    // (q_agg_approx_distinct): hash every (lang, token) with the
    // codepoint-fold FNV, keep each language's k=16 smallest UNSIGNED hash
    // values, estimate |vocab| = ⌊(k−1)·2⁶⁴ / h_k⌋. The sketch is a pure
    // deterministic function of the data — no engine-private registers —
    // so estimate AND error replay exactly (hashes ride as unsigned
    // DECIMAL(38,0); DuckDB keeps the pre-wrap HUGEINT fold). The scale
    // shape is the point: per-group top-k of a hash stream (one window
    // over the DISTINCT-hash frame) replaces a countDistinct shuffle of
    // the full token stream — mergeable across partitions like any KMV.
    Q("q_kmv_distinct",
      s"""WITH t AS (
         |  SELECT DISTINCT lang, u AS tok
         |  FROM (SELECT lang, unnest($toksSql) AS u FROM documents)),
         |h AS (
         |  SELECT DISTINCT lang,
         |    CAST(list_reduce(
         |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
         |        list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
         |          c -> CAST(ascii(c) AS HUGEINT))),
         |      (acc, x) -> (xor(acc, x) * 1099511628211)
         |                  % CAST(18446744073709551616 AS HUGEINT))
         |      AS HUGEINT) AS u
         |  FROM t),
         |r AS (
         |  SELECT lang, u,
         |         row_number() OVER (PARTITION BY lang ORDER BY u) AS rn
         |  FROM h),
         |tc AS (SELECT lang, count(*) AS n_true FROM t GROUP BY 1),
         |est AS (
         |  SELECT lang,
         |         CAST((15 * CAST(18446744073709551616 AS HUGEINT)) // u
         |              AS BIGINT) AS est_distinct
         |  FROM r WHERE rn = 16)
         |SELECT est.lang, CAST(tc.n_true AS BIGINT) AS n_true, est.est_distinct,
         |       CAST(abs(est.est_distinct - tc.n_true) * 100 // tc.n_true
         |            AS BIGINT) AS err_pct
         |FROM est JOIN tc USING (lang)
         |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
      val t = tbl(spark, dir, "documents")
        .select(col("lang"), explode(toks(col("text"))).as("tok"))
        .distinct()
      val h = t.select(col("lang"),
          graft.ops.expr.Fnv1a64.columnCodePoints(col("tok")).as("hs"))
        .select(col("lang"),
          expr(s"CASE WHEN hs >= 0 THEN CAST(hs AS DECIMAL(38,0)) " +
            s"ELSE CAST(hs AS DECIMAL(38,0)) + $two64 END").as("u"))
        .distinct()
      val w = Window.partitionBy("lang").orderBy("u")
      val est = h.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 16)
        .select(col("lang"),
          expr(s"CAST((CAST(15 AS DECIMAL(38,0)) * $two64) DIV u AS BIGINT)")
            .as("est_distinct"))
      val tc = t.groupBy("lang").agg(big(count(lit(1))).as("n_true"))
      est.join(tc, Seq("lang"))
        .select(col("lang"), col("n_true"), col("est_distinct"),
          expr("CAST(abs(est_distinct - n_true) * 100 DIV n_true AS BIGINT)")
            .as("err_pct"))
        .orderBy("lang")
    },

    // Collocation mining by PMI-style LIFT, float-free: adjacent bigrams
    // with c_ab >= 5 ranked by lift = P(ab)/(P(a)P(b)) = c_ab*N/(c_a*c_b),
    // materialized as the exact integer floor(c_ab*N*10^6/(c_a*c_b)) — the
    // whole ordering is integer arithmetic (DECIMAL(38,0)/HUGEINT so the
    // numerator cannot overflow at any corpus size), no log() and no
    // engine-dependent float division anywhere. Shapes: one map-side
    // shifted-zip bigram explode (never a positional self-join), two hash
    // aggs, a broadcast 1-row corpus total, and a top-20 TakeOrdered on
    // the (unique) bigram key.
    Q("q_collocations",
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
         |n AS (SELECT sum(len(tk)) AS n FROM t),
         |bg AS (
         |  SELECT tk[i] AS a, tk[i + 1] AS b
         |  FROM t, UNNEST(range(1, len(tk))) AS u(i)),
         |pc AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
         |uni AS (SELECT u AS tok, count(*) AS c FROM (SELECT unnest(tk) AS u FROM t)
         |        GROUP BY 1)
         |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
         |       CAST((CAST(c_ab AS HUGEINT) * CAST(n.n AS HUGEINT) * 1000000)
         |            // (CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT)) AS BIGINT)
         |         AS lift_e6
         |FROM pc JOIN uni ua ON pc.a = ua.tok
         |        JOIN uni ub ON pc.b = ub.tok
         |        CROSS JOIN n
         |WHERE c_ab >= 5
         |ORDER BY lift_e6 DESC, a, b LIMIT 20""".stripMargin) { (spark, dir) =>
      val tk = toks(col("text"))
      val n1 = greatest(size(tk) - 1, lit(0))
      val docs = tbl(spark, dir, "documents")
      val bg = docs
        .select(explode(zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val pc = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = docs.select(explode(tk).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val n = docs.select(sum(size(tk)).as("n"))
      val dec = DecimalType(38, 0)
      pc
        .join(uni.select(col("tok").as("a"), col("c").as("ca")), "a")
        .join(uni.select(col("tok").as("b"), col("c").as("cb")), "b")
        .crossJoin(broadcast(n))
        .withColumn("num",
          col("c_ab").cast(dec) * col("n").cast(dec) * lit(1000000).cast(dec))
        .withColumn("den", col("ca").cast(dec) * col("cb").cast(dec))
        .select(col("a"), col("b"), big(col("c_ab")).as("c_ab"),
          expr("CAST(num DIV den AS BIGINT)").as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("a"), col("b"))
        .limit(20)
    },

    // Event-sequence transition matrix (Markov bigram counts): per-user
    // consecutive event-type transitions ordered by (ts, event_id). One
    // pk-partitioned window (lag) + one hash agg — the session-mining
    // primitive behind next-action models.
    Q("q_seq_transitions",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM s WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY prev_type, next_type""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(big(count(lit(1))).as("cnt"))
        .orderBy("prev_type", "next_type")
    }
  )
}
