package graft.queries

import graft.ops.DedupOps
import graft.queries.Q._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Group G — round-5 third wave: sparse retrieval over an inverted index
  * (the term-partitioned "search engine" join shape, distinct from the
  * dense-vector ANN family) and exact-rank winsorization (robust clipping,
  * the complement of `q_outlier_mad`'s detection).
  *
  * Determinism contract as everywhere: integer idf weights (floor
  * division), DECIMAL accumulators for double sums, trailing ORDER BY with
  * unique tiebreaks.
  */
object GroupG {

  /** The bigram postings table (doc_id, term, tf) — the inverted INDEX a
    * search system precomputes once. Materialized per session under ONE
    * key; every consumer (q_inverted_topk, q_rank_fusion's sparse leg)
    * MUST build it through this helper so the cached artifact and its key
    * can never disagree. */
  private def invertedIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"inverted_index:$dir") {
      val tk = DedupOps.tokens(col("text"))
      val n1 = greatest(size(tk) - 1, lit(0))
      val bigrams = zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
        (a, b) => concat(a, lit(" "), b))
      tbl(spark, dir, "documents")
        .select(col("doc_id"), explode(bigrams).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    }

  val all: Seq[Q] = Seq(

    // Sparse top-k retrieval via an inverted index: a batch of query
    // documents scored against the corpus on shared rare terms. Terms are
    // word BIGRAMS — the fixture's unigram vocabulary is a closed ~31-word
    // set where every word is a stop word, while its ~900 bigrams have the
    // df spread a real corpus' unigrams would. The scale shape is the
    // point: the corpus-side term index (term → postings) is NEVER
    // shuffled — the query side (a handful of docs × their rare terms)
    // broadcasts into the postings join — and stop-terms (df > N/10) are
    // pruned BEFORE the join, which bounds postings-list length the way
    // impact-ordered indexes do. Integer idf weights (10⁹ div df) keep the
    // ranking exact on both engines; per-term contributions are
    // ≤ 100·100·10⁹ ≈ 10¹³, so a BIGINT score cannot overflow at any
    // realistic vocabulary overlap.
    Q("q_inverted_topk",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |                                       i -> ts[i] || ' ' || ts[i+1]))
        |           AS term
        |  FROM tok),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM bg GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT term, CAST(1000000000 AS BIGINT) // df AS w
        |      FROM df CROSS JOIN n WHERE df * 10 <= n),
        |q AS (SELECT doc_id AS q_id, term, tf AS qtf FROM tf WHERE doc_id < 10),
        |s AS (SELECT q.q_id, tf.doc_id, sum(q.qtf * tf.tf * w.w) AS score
        |      FROM q JOIN w USING (term) JOIN tf USING (term)
        |      WHERE tf.doc_id <> q.q_id GROUP BY 1, 2),
        |r AS (SELECT q_id, doc_id, score,
        |             row_number() OVER (PARTITION BY q_id
        |                                ORDER BY score DESC, doc_id) AS rnk
        |      FROM s)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rnk AS BIGINT) AS rnk,
        |       doc_id, CAST(score AS BIGINT) AS score
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
      // three consumers read the index below (df/weights, the query side,
      // the postings join); the session materialization means they share
      // one explode + agg instead of re-running it each
      val tf = invertedIndex(spark, dir)
      val nDf = tbl(spark, dir, "documents").agg(count(lit(1)).as("n"))
      // stop-term pruning + integer idf weight; df re-aggregates tf rows,
      // not a second count-distinct pass over the token stream
      val w = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDf))
        .filter(col("df") * 10 <= col("n"))
        .select(col("term"), expr("CAST(1000000000 AS BIGINT) div df").as("w"))
      val qtf = tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("term"), col("tf").as("qtf"))
      // broadcast the (small) weighted query postings; the corpus index
      // side streams through the join unshuffled
      val scored = tf
        .join(broadcast(qtf.join(w, "term")), "term")
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("qtf") * col("tf") * col("w")).as("score"))
      val byQ = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("doc_id").asc)
      scored.withColumn("rnk", row_number().over(byQ))
        .filter(col("rnk") <= 5)
        .select(big(col("q_id")).as("q_id"), big(col("rnk")).as("rnk"),
          col("doc_id"), big(col("score")).as("score"))
        .orderBy("q_id", "rnk")
    },

    // Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR'09)
    // of the dense ranking (exact quantized cosine — q_cosine_topk's
    // contract) and the sparse ranking (bigram idf — q_inverted_topk's
    // contract) for the same 10 query ids. RRF needs only RANKS, so the
    // fusion layer is rank-arithmetic over two top-10 lists per query —
    // a few hundred rows regardless of corpus size; all the scale weight
    // stays in the two underlying retrievals (broadcast query scan;
    // cached inverted index). Weights 10⁹ div (60 + rank) keep the fused
    // score integer-exact on both engines.
    Q("q_rank_fusion",
      s"""WITH ${Q.quantNormsCte()},
        |d_pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS id,
        |         ${Q.quantCosSql("q", "c")} AS sim
        |  FROM qn q JOIN qn c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |d_rank AS (
        |  SELECT q_id, id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY sim DESC, id) AS rn
        |  FROM d_pairs),
        |iv_tok AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             x -> x <> '') AS ts
        |  FROM documents),
        |iv_bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |                                       i -> ts[i] || ' ' || ts[i+1]))
        |           AS term
        |  FROM iv_tok),
        |iv_tf AS (SELECT doc_id, term, count(*) AS tf FROM iv_bg
        |          GROUP BY 1, 2),
        |iv_df AS (SELECT term, count(*) AS df FROM iv_tf GROUP BY 1),
        |iv_n AS (SELECT count(*) AS n FROM documents),
        |iv_w AS (SELECT term, CAST(1000000000 AS BIGINT) // df AS w
        |         FROM iv_df CROSS JOIN iv_n WHERE df * 10 <= n),
        |iv_q AS (SELECT doc_id AS q_id, term, tf AS qtf FROM iv_tf
        |         WHERE doc_id < 10),
        |iv_s AS (SELECT iv_q.q_id, iv_tf.doc_id AS id,
        |                sum(iv_q.qtf * iv_tf.tf * iv_w.w) AS score
        |         FROM iv_q JOIN iv_w USING (term) JOIN iv_tf USING (term)
        |         WHERE iv_tf.doc_id <> iv_q.q_id GROUP BY 1, 2),
        |s_rank AS (
        |  SELECT q_id, id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY score DESC, id) AS rn
        |  FROM iv_s),
        |fused AS (
        |  SELECT coalesce(d.q_id, s.q_id) AS q_id, coalesce(d.id, s.id) AS id,
        |         coalesce(CAST(1000000000 AS BIGINT) // (60 + d.rn), 0)
        |           + coalesce(CAST(1000000000 AS BIGINT) // (60 + s.rn), 0)
        |           AS rrf
        |  FROM (SELECT * FROM d_rank WHERE rn <= 10) d
        |  FULL OUTER JOIN (SELECT * FROM s_rank WHERE rn <= 10) s
        |    ON d.q_id = s.q_id AND d.id = s.id),
        |out_rank AS (
        |  SELECT q_id, id, rrf,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY rrf DESC, id) AS rnk
        |  FROM fused)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rnk AS BIGINT) AS rnk,
        |       CAST(id AS BIGINT) AS id, CAST(rrf AS BIGINT) AS rrf
        |FROM out_rank WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) {
      (spark, dir) =>
      // dense leg — q_cosine_topk's broadcast query scan, kept to top-10
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Q.quantN2(col("embedding")).as("n2"))
      val dQ = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("n2").as("qn2"))
      val dW = Window.partitionBy("q_id").orderBy(col("sim").desc, col("id"))
      val dRank = broadcast(dQ)
        .join(e.select(col("vec_id").as("id"), col("embedding").as("cv"),
          col("n2").as("cn2")), col("id") =!= col("q_id"))
        .withColumn("sim", Q.quantCos(col("qv"), col("cv"), col("qn2"),
          col("cn2")))
        .withColumn("rn", row_number().over(dW))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("id"), col("rn").as("rn_d"))
      // sparse leg — q_inverted_topk's cached postings index
      val tf = invertedIndex(spark, dir)
      val nDf = tbl(spark, dir, "documents").agg(count(lit(1)).as("n"))
      val w = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDf))
        .filter(col("df") * 10 <= col("n"))
        .select(col("term"), expr("CAST(1000000000 AS BIGINT) div df").as("w"))
      val qtf = tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("term"), col("tf").as("qtf"))
      val sW = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
      val sRank = tf
        .join(broadcast(qtf.join(w, "term")), "term")
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("doc_id").as("id"))
        .agg(sum(col("qtf") * col("tf") * col("w")).as("score"))
        .withColumn("rn", row_number().over(sW))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("id"), col("rn").as("rn_s"))
      // fusion — pure rank arithmetic over two bounded lists
      val fW = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("id"))
      dRank.join(sRank, Seq("q_id", "id"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + rn_d)"), lit(0L))
            + coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + rn_s)"),
              lit(0L)))
        .withColumn("rnk", row_number().over(fW))
        .filter(col("rnk") <= 5)
        .select(big(col("q_id")).as("q_id"), big(col("rnk")).as("rnk"),
          big(col("id")).as("id"), big(col("rrf")).as("rrf"))
        .orderBy("q_id", "rnk")
    },

    // Hard-negative mining (contrastive-training staple): for each query
    // vector, the top-5 most-similar candidates with a DIFFERENT class
    // label — the negatives that actually move a contrastive loss. Same
    // exact-quantized-cosine contract and broadcast-query scan shape as
    // q_cosine_topk (the ANN-bucketed variants are the scale path); the
    // label-mismatch predicate just rides along in the join condition.
    Q("q_hard_negatives",
      s"""WITH ${Q.quantNormsCte("label")},
        |pairs AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS id, c.label AS neg_label,
        |         ${Q.quantCosSql("q", "c")} AS sim
        |  FROM qn q JOIN qn c
        |    ON q.vec_id < 10 AND c.label <> q.label),
        |ranked AS (
        |  SELECT q_id, q_label, id, neg_label, sim,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY sim DESC, id) AS rnk
        |  FROM pairs)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rnk AS BIGINT) AS rnk,
        |       CAST(id AS BIGINT) AS id, CAST(q_label AS BIGINT) AS q_label,
        |       CAST(neg_label AS BIGINT) AS neg_label, sim
        |FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) {
      (spark, dir) =>
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          Q.quantN2(col("embedding")).as("n2"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("qv"), col("n2").as("qn2"))
      val cands = e.select(col("vec_id").as("id"), col("label").as("neg_label"),
        col("embedding").as("cv"), col("n2").as("cn2"))
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("id"))
      broadcast(queries)
        .join(cands, col("neg_label") =!= col("q_label"))
        .withColumn("sim",
          Q.quantCos(col("qv"), col("cv"), col("qn2"), col("cn2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(big(col("q_id")).as("q_id"), big(col("rnk")).as("rnk"),
          big(col("id")).as("id"), big(col("q_label")).as("q_label"),
          big(col("neg_label")).as("neg_label"), col("sim"))
        .orderBy("q_id", "rnk")
    },

    // Class-balanced downsampling plan: per-label keep rates that level
    // every class to the minority class, realized as DETERMINISTIC
    // hash-gate sampling (pmod(fnv1a64('cb:' || id), 10⁶) < keep_ppm) so
    // any executor — or a later incremental run — selects the same rows
    // with no coordination. Two bounded aggs + a label-keyed broadcast
    // back onto the rows; the 1-row minimum joins in as a scalar.
    Q("q_class_balance",
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings
        |           GROUP BY label),
        |m AS (SELECT min(n) AS mn FROM c),
        |p AS (SELECT label, n, 1000000 * mn // n AS keep_ppm
        |      FROM c CROSS JOIN m),
        |h AS (
        |  SELECT vec_id, label,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |             list_transform(
        |               list_filter(string_split('cb:' || CAST(vec_id AS VARCHAR),
        |                                        ''), ch -> ch <> ''),
        |               ch -> CAST(ascii(ch) AS HUGEINT))),
        |           (acc, x) -> (xor(acc, x) * 1099511628211)
        |                       % CAST(18446744073709551616 AS HUGEINT)) AS hu
        |  FROM embeddings),
        |s AS (
        |  SELECT label,
        |         ((CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |                     THEN hu - CAST(18446744073709551616 AS HUGEINT)
        |                     ELSE hu END AS BIGINT) % 1000000) + 1000000)
        |           % 1000000 AS hm
        |  FROM h)
        |SELECT CAST(p.label AS BIGINT) AS label, CAST(p.n AS BIGINT) AS n,
        |       CAST(p.keep_ppm AS BIGINT) AS keep_ppm,
        |       CAST(sum(CASE WHEN s.hm < p.keep_ppm THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_sampled
        |FROM s JOIN p USING (label)
        |GROUP BY p.label, p.n, p.keep_ppm
        |ORDER BY label""".stripMargin) { (spark, dir) =>
      val e = tbl(spark, dir, "embeddings").select(col("vec_id"), col("label"))
      val counts = e.groupBy("label").agg(count(lit(1)).as("n"))
      val mn = counts.agg(min(col("n")).as("mn"))
      val ppm = counts.crossJoin(broadcast(mn))
        .select(col("label"), col("n"),
          expr("1000000 * mn div n").as("keep_ppm"))
      val hm = pmod(graft.ops.VectorOps.fnv1a64(
        concat(lit("cb:"), col("vec_id").cast("string"))), lit(1000000L))
      e.withColumn("hm", hm)
        .join(broadcast(ppm), "label")
        .groupBy("label", "n", "keep_ppm")
        .agg(big(sum(when(col("hm") < col("keep_ppm"), 1).otherwise(0)))
          .as("n_sampled"))
        .select(big(col("label")).as("label"), big(col("n")).as("n"),
          big(col("keep_ppm")).as("keep_ppm"), col("n_sampled"))
        .orderBy("label")
    },

    // Temperature-scaled source mixing (the multilingual-pretraining
    // sampling scheme, α = 0.5: weight ∝ n_tokens^α): per-source token
    // masses, α=0.5 realized EXACTLY as floor(sqrt(n)) — IEEE sqrt is
    // correctly rounded and n_tok ≪ 2⁵², so both engines floor the same
    // double — then integer ppm shares of the weight total. Two
    // map-side-combining aggs; the 1-row weight total joins in as a
    // scalar.
    Q("q_mix_temperature",
      """WITH t AS (
        |  SELECT source, count(*) AS n_docs,
        |         sum(len(list_filter(string_split(lower(text), ' '),
        |                             x -> x <> ''))) AS n_tok
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tok,
        |             CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS w
        |      FROM t),
        |s AS (SELECT sum(w) AS wsum FROM w)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tok AS BIGINT) AS n_tok, w,
        |       CAST(1000000 * w // wsum AS BIGINT) AS ppm
        |FROM w CROSS JOIN s ORDER BY source""".stripMargin) { (spark, dir) =>
      val t = tbl(spark, dir, "documents")
        .select(col("source"),
          size(DedupOps.tokens(col("text"))).as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tok"))
      val w = t.withColumn("w",
        floor(sqrt(col("n_tok").cast(DoubleType))).cast(LongType))
      val tot = w.agg(sum(col("w")).as("wsum"))
      w.crossJoin(broadcast(tot))
        .select(col("source"), big(col("n_docs")).as("n_docs"),
          big(col("n_tok")).as("n_tok"), col("w"),
          expr("CAST(1000000 * w div wsum AS BIGINT)").as("ppm"))
        .orderBy("source")
    },

    // Nearest-direction as-of join (merge_asof direction='nearest'): each
    // purchase attributes to its temporally CLOSEST click — backward or
    // forward — per user, ties to the backward side. Same single-pass
    // union-stream window trick as q_asof_join (no self-join, no range
    // explosion): one partitioned sort yields both the last-preceding and
    // first-following click, and the pick is integer µs arithmetic.
    Q("q_asof_nearest",
      """SELECT event_id, user_id, near_click, CAST(dt_us AS BIGINT) AS dt_us
        |FROM (
        |  SELECT event_id, user_id, is_src,
        |         CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
        |              WHEN f_id IS NULL THEN b_id
        |              WHEN b_id IS NULL THEN f_id
        |              WHEN us - b_us <= f_us - us THEN b_id
        |              ELSE f_id END AS near_click,
        |         CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
        |              WHEN f_id IS NULL THEN us - b_us
        |              WHEN b_id IS NULL THEN f_us - us
        |              WHEN us - b_us <= f_us - us THEN us - b_us
        |              ELSE f_us - us END AS dt_us
        |  FROM (
        |    SELECT user_id, event_id, is_src, us,
        |           last_value(click_id IGNORE NULLS) OVER wb AS b_id,
        |           last_value(click_us IGNORE NULLS) OVER wb AS b_us,
        |           first_value(click_id IGNORE NULLS) OVER wf AS f_id,
        |           first_value(click_us IGNORE NULLS) OVER wf AS f_us
        |    FROM (
        |      SELECT user_id, event_id, epoch_us(ts) AS us,
        |             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_src,
        |             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
        |             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
        |      FROM events WHERE event_type IN ('click', 'purchase'))
        |    WINDOW
        |      wb AS (PARTITION BY user_id ORDER BY us, is_src DESC, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      wf AS (PARTITION BY user_id ORDER BY us, is_src DESC, event_id
        |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)))
        |WHERE is_src = 0
        |ORDER BY event_id""".stripMargin) { (spark, dir) =>
      val tagged = events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          when(col("event_type") === "click", 1).otherwise(0).as("is_src"),
          when(col("event_type") === "click", col("event_id")).as("click_id"),
          when(col("event_type") === "click", unix_micros(col("ts")))
            .as("click_us"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("us"), col("is_src").desc, col("event_id"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val backCloser = col("us") - col("b_us") <= col("f_us") - col("us")
      tagged
        .withColumn("b_id", last(col("click_id"), ignoreNulls = true).over(wb))
        .withColumn("b_us", last(col("click_us"), ignoreNulls = true).over(wb))
        .withColumn("f_id", first(col("click_id"), ignoreNulls = true).over(wf))
        .withColumn("f_us", first(col("click_us"), ignoreNulls = true).over(wf))
        .filter(col("is_src") === 0)
        .select(col("event_id"), col("user_id"),
          when(col("b_id").isNull && col("f_id").isNull, lit(null))
            .when(col("f_id").isNull, col("b_id"))
            .when(col("b_id").isNull, col("f_id"))
            .when(backCloser, col("b_id")).otherwise(col("f_id"))
            .as("near_click"),
          big(when(col("b_id").isNull && col("f_id").isNull, lit(null))
            .when(col("f_id").isNull, col("us") - col("b_us"))
            .when(col("b_id").isNull, col("f_us") - col("us"))
            .when(backCloser, col("us") - col("b_us"))
            .otherwise(col("f_us") - col("us"))).as("dt_us"))
        .orderBy("event_id")
    },

    // Top-N per entity: each customer's two most recent qualifying orders,
    // the idiom a SQL user writes with a correlated LATERAL subquery (the
    // oracle runs exactly that in DuckDB). Here it is the plan Catalyst
    // decorrelates the LATERAL into — a rank-limited window per customer
    // (WindowGroupLimit: map-side top-k before the shuffle) joined to the
    // segment's customers — with no session-global view to register.
    Q("q_lateral_topk",
      """SELECT c.c_custkey, o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS odate
        |FROM customer c,
        |  LATERAL (SELECT o_orderkey, o_orderdate FROM orders
        |           WHERE o_custkey = c.c_custkey
        |             AND o_orderpriority = '1-URGENT'
        |           ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      val top2 = tbl(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      tbl(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(top2, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .orderBy("c_custkey", "o_orderkey")
    },

    // k-anonymity with a generalization ladder (k = 5) over the
    // (lang, source) quasi-identifier: equivalence classes below k
    // generalize source → '*', still-small classes generalize to
    // ('*','*') — the Mondrian-style step a pipeline runs before
    // releasing per-slice corpus metadata. Pure integer arithmetic over
    // class-count tables that are tiny at ANY corpus size (the only
    // full-data touch is the first groupBy, one map-side-combining agg).
    Q("q_k_anonymity",
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents
        |           GROUP BY 1, 2),
        |k0 AS (SELECT lang, source, n, 0 AS level FROM c WHERE n >= 5),
        |r0 AS (SELECT lang, n FROM c WHERE n < 5),
        |l1 AS (SELECT lang, sum(n) AS n FROM r0 GROUP BY 1),
        |k1 AS (SELECT lang, '*' AS source, n, 1 AS level FROM l1
        |       WHERE n >= 5),
        |r1 AS (SELECT n FROM l1 WHERE n < 5),
        |k2 AS (SELECT '*' AS lang, '*' AS source, sum(n) AS n, 2 AS level
        |       FROM r1 HAVING sum(n) > 0)
        |SELECT lang, source, CAST(n AS BIGINT) AS n,
        |       CAST(level AS BIGINT) AS level
        |FROM (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |      UNION ALL SELECT * FROM k2)
        |ORDER BY level, lang, source""".stripMargin) { (spark, dir) =>
      val k = 5
      // the class-count table is consumed by all three ladder branches;
      // eagerly materializing it (bounded at langs × sources rows) keeps
      // the full documents scan to ONE pass instead of one per branch
      val c = tbl(spark, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val keep0 = c.filter(col("n") >= k)
        .select(col("lang"), col("source"), col("n"), lit(0L).as("level"))
      val l1 = c.filter(col("n") < k)
        .groupBy("lang").agg(sum(col("n")).as("n"))
      val keep1 = l1.filter(col("n") >= k)
        .select(col("lang"), lit("*").as("source"), col("n"),
          lit(1L).as("level"))
      val keep2 = l1.filter(col("n") < k)
        .agg(sum(col("n")).as("n"))
        .filter(col("n") > 0)
        .select(lit("*").as("lang"), lit("*").as("source"), col("n"),
          lit(2L).as("level"))
      keep0.unionAll(keep1).unionAll(keep2)
        .select(col("lang"), col("source"), big(col("n")).as("n"),
          col("level"))
        .orderBy("level", "lang", "source")
    },

    // Contingency-table lift (lang × source): observed cell counts against
    // the independence expectation, as exact integer ppm
    // (10⁶·obs·total div (row_total·col_total)) — the drift diagnostic
    // that flags a source suddenly over-representing a language. Three
    // map-side-combining aggs; margins broadcast back onto the bounded
    // cell table. Contract bound: the 10⁶·obs·total product stays in
    // BIGINT while obs·total < 9.2·10¹² (≈ 3M docs when one cell
    // dominates); past that, run the same formula over DECIMAL(38,0)
    // accumulators — the plan shape is unchanged.
    Q("q_crosstab",
      """WITH cell AS (SELECT lang, source, count(*) AS obs FROM documents
        |              GROUP BY 1, 2),
        |rowt AS (SELECT lang, sum(obs) AS rt FROM cell GROUP BY 1),
        |colt AS (SELECT source, sum(obs) AS ct FROM cell GROUP BY 1),
        |tot AS (SELECT sum(obs) AS t FROM cell)
        |SELECT cell.lang, cell.source, CAST(obs AS BIGINT) AS obs,
        |       CAST(1000000 * obs * t // (rt * ct) AS BIGINT) AS lift_ppm
        |FROM cell JOIN rowt USING (lang) JOIN colt USING (source)
        |CROSS JOIN tot
        |ORDER BY lang, source""".stripMargin) { (spark, dir) =>
      val cell = tbl(spark, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
        .localCheckpoint(true) // margins + cells share one documents scan
      val rowT = cell.groupBy("lang").agg(sum(col("obs")).as("rt"))
      val colT = cell.groupBy("source").agg(sum(col("obs")).as("ct"))
      val tot = cell.agg(sum(col("obs")).as("t"))
      cell.join(broadcast(rowT), "lang")
        .join(broadcast(colT), "source")
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), big(col("obs")).as("obs"),
          expr("CAST(1000000 * obs * t div (rt * ct) AS BIGINT)")
            .as("lift_ppm"))
        .orderBy("lang", "source")
    },

    // Equi-depth quantile binning per embedding dimension (the feature
    // discretization step gradient-boosted trees and quantized indexes
    // run): every dimension's values split into 4 equal-count bins by
    // exact rank, reporting per-bin counts and value ranges. One
    // dimension-partitioned sort is the entire cost — the exact-quantile
    // irreducible — and the output is bounded at dims × bins rows. Floats
    // sort identically in both engines; ranks, not arithmetic, define the
    // bins, so the oracle replays bit-for-bit.
    Q("q_quantile_bin",
      """WITH ex AS (
        |  SELECT vec_id, u.d AS d, u.x AS x
        |  FROM (SELECT vec_id,
        |          unnest(list_transform(range(0, len(embedding)),
        |            i -> struct_pack(d := i, x := embedding[i+1]))) AS u
        |        FROM embeddings)),
        |r AS (
        |  SELECT d, x,
        |         row_number() OVER (PARTITION BY d ORDER BY x, vec_id) AS rn,
        |         count(*) OVER (PARTITION BY d) AS n
        |  FROM ex)
        |SELECT CAST(d AS BIGINT) AS d,
        |       CAST(least(3, (rn - 1) * 4 // n) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(min(x) AS DOUBLE) AS lo, CAST(max(x) AS DOUBLE) AS hi
        |FROM r GROUP BY 1, 2 ORDER BY d, bin""".stripMargin) { (spark, dir) =>
      val ex = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      val byD = Window.partitionBy("d").orderBy(col("x"), col("vec_id"))
      val nD = Window.partitionBy("d")
      ex.withColumn("rn", row_number().over(byD))
        .withColumn("n", count(lit(1)).over(nD))
        .groupBy(big(col("d")).as("d"),
          big(least(lit(3), expr("(rn - 1) * 4 div n"))).as("bin"))
        .agg(big(count(lit(1))).as("cnt"),
          min(col("x")).cast(DoubleType).as("lo"),
          max(col("x")).cast(DoubleType).as("hi"))
        .orderBy("d", "bin")
    },

    // Exact-rank winsorization: per-segment p10/p90 by nearest-rank over
    // the (value, key) sort, then clip and re-aggregate. One per-group
    // sort (the irreducible cost of EXACT percentiles — the approximate
    // path is q_percentiles), one bounded broadcast of the per-segment
    // cut points back onto the rows. The cut values are doubles PICKED
    // from the data (no interpolation), so both engines agree bit-for-bit,
    // and the clipped sum runs through the DECIMAL accumulator.
    Q("q_winsorize",
      """WITH r AS (
        |  SELECT c_mktsegment AS seg, c_acctbal AS bal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal, c_custkey) AS rn,
        |         count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |b AS (SELECT seg, n,
        |             min(CASE WHEN rn = (n - 1) // 10 + 1 THEN bal END) AS lo,
        |             min(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN bal END) AS hi
        |      FROM r GROUP BY seg, n)
        |SELECT b.seg AS c_mktsegment, CAST(b.n AS BIGINT) AS n_rows,
        |       b.lo AS p10, b.hi AS p90,
        |       CAST(sum(CASE WHEN r.bal < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clip_lo,
        |       CAST(sum(CASE WHEN r.bal > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clip_hi,
        |       CAST(sum(CAST(CASE WHEN r.bal < b.lo THEN b.lo
        |                          WHEN r.bal > b.hi THEN b.hi
        |                          ELSE r.bal END AS DECIMAL(25,6))) AS DOUBLE)
        |         AS wsum
        |FROM r JOIN b USING (seg)
        |GROUP BY b.seg, b.n, b.lo, b.hi
        |ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
      val byBal = Window.partitionBy("seg").orderBy(col("bal"), col("c_custkey"))
      val bySeg = Window.partitionBy("seg")
      // cut points as whole-partition window aggregates over the SAME
      // partitioning as the rank — one shuffle, one sort, one scan; the
      // agg+join-back formulation costs a second full sort of the table
      val r = tbl(spark, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"),
          col("c_custkey"))
        .withColumn("rn", row_number().over(byBal))
        .withColumn("n", count(lit(1)).over(bySeg))
        .withColumn("lo",
          min(when(col("rn") === expr("(n - 1) div 10 + 1"), col("bal")))
            .over(bySeg))
        .withColumn("hi",
          min(when(col("rn") === expr("((n - 1) * 9) div 10 + 1"), col("bal")))
            .over(bySeg))
      val clipped = when(col("bal") < col("lo"), col("lo"))
        .when(col("bal") > col("hi"), col("hi"))
        .otherwise(col("bal"))
      r.groupBy("seg", "n", "lo", "hi")
        .agg(
          big(sum(when(col("bal") < col("lo"), 1).otherwise(0)))
            .as("n_clip_lo"),
          big(sum(when(col("bal") > col("hi"), 1).otherwise(0)))
            .as("n_clip_hi"),
          sum(clipped.cast(DecimalType(25, 6))).cast(DoubleType).as("wsum"))
        .select(col("seg").as("c_mktsegment"), big(col("n")).as("n_rows"),
          col("lo").as("p10"), col("hi").as("p90"),
          col("n_clip_lo"), col("n_clip_hi"), col("wsum"))
        .orderBy("c_mktsegment")
    }
  )
}
