package graft.queries

import graft.queries.Q.{big, tbl}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group V — round-5 fourteenth wave: dedup fairness, tokenizer
  * vocabulary budgeting, and catalog price-consistency auditing.
  */
object GroupV {

  val all: Seq[Q] = Seq(

    // Dedup fairness: the keep-min rule drops the larger doc_id of every
    // verified near-dup pair — does that fall evenly across sources, or
    // does one source absorb the drops (it would, if its docs are
    // re-posts of another's)? Per source: docs, dropped docs, drop ppm.
    // The bias report a curation pipeline publishes NEXT TO its dedup
    // stats, because "we removed 8% of docs" means something different
    // when all 8% came from one supplier. One corpus scan + the
    // SESSION-SHARED pair artifact (dropped = appears as the LARGER
    // partner of ≥1 pair — exactly q_dedup_keep's pairwise rule).
    Q("q_dedup_bias",
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
        |dropped AS (SELECT DISTINCT b_id AS doc_id FROM pairs)
        |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(x.doc_id) AS BIGINT) AS n_dropped,
        |       CAST(1000000 * count(x.doc_id) // count(*) AS BIGINT) AS drop_ppm
        |FROM documents d LEFT JOIN dropped x USING (doc_id)
        |GROUP BY 1
        |ORDER BY source""".stripMargin) { (spark, dir) =>
      val dropped = PipelineQueries.jaccardPairs(spark, dir)
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("is_dropped", lit(1L))
      tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
        .join(dropped, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(big(count(lit(1))).as("n_docs"),
          big(count(col("is_dropped"))).as("n_dropped"),
          big(expr("1000000 * count(is_dropped) div count(1)")).as("drop_ppm"))
        .orderBy("source")
    },

    // Vocabulary coverage@K: what share of the corpus token MASS do the
    // top 100 / 1,000 / 10,000 terms carry? The tokenizer-budget curve —
    // if 1k terms cover 99%, a 30k-entry vocabulary is waste; if 10k
    // cover 60%, plan for byte fallback. Each K is a distributed
    // TakeOrdered (orderBy count DESC, term + limit) over the
    // VOCABULARY-sized term table — never a global rank window — plus one
    // bounded aggregate; the grand total joins as a ONE-ROW broadcast.
    Q("q_vocab_coverage",
      """WITH tf AS (
        |  SELECT t, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS t
        |    FROM documents) GROUP BY 1),
        |tot AS (SELECT sum(c) AS total FROM tf),
        |k100 AS (SELECT sum(c) AS m FROM (
        |  SELECT c FROM tf ORDER BY c DESC, t LIMIT 100)),
        |k1000 AS (SELECT sum(c) AS m FROM (
        |  SELECT c FROM tf ORDER BY c DESC, t LIMIT 1000)),
        |k10000 AS (SELECT sum(c) AS m FROM (
        |  SELECT c FROM tf ORDER BY c DESC, t LIMIT 10000))
        |SELECT * FROM (
        |  SELECT CAST(100 AS BIGINT) AS k, CAST(coalesce(m, 0) AS BIGINT) AS mass,
        |         CAST(1000000 * coalesce(m, 0) // total AS BIGINT) AS coverage_ppm
        |  FROM k100, tot
        |  UNION ALL
        |  SELECT 1000, CAST(coalesce(m, 0) AS BIGINT),
        |         CAST(1000000 * coalesce(m, 0) // total AS BIGINT) FROM k1000, tot
        |  UNION ALL
        |  SELECT 10000, CAST(coalesce(m, 0) AS BIGINT),
        |         CAST(1000000 * coalesce(m, 0) // total AS BIGINT) FROM k10000, tot)
        |ORDER BY k""".stripMargin) { (spark, dir) =>
      val tf = tbl(spark, dir, "documents")
        .select(explode(graft.ops.DedupOps.tokens(lower(col("text")))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // three TakeOrdered passes + the total
      val tot = tf.agg(sum("c").as("total"))
      def cov(k: Int): DataFrame =
        tf.orderBy(col("c").desc, col("t")).limit(k)
          .agg(coalesce(sum("c"), lit(0L)).as("m"))
          .crossJoin(broadcast(tot))
          .select(lit(k.toLong).as("k"), big(col("m")).as("mass"),
            big(expr("1000000 * m div total")).as("coverage_ppm"))
      cov(100).unionByName(cov(1000)).unionByName(cov(10000)).orderBy("k")
    },

    // Price-consistency audit: the same part sold at materially different
    // unit prices across line items — data-entry errors, stale catalogs,
    // or genuine discount structure; either way the top spreads get a
    // human look. Unit price = extendedprice / quantity (one IEEE divide
    // per row); per part with ≥2 sales: spread ppm = ⌊10⁶·(max−min)/min⌋.
    // Top-20 by spread via distributed TakeOrdered, partkey tiebreak.
    Q("q_price_consistency",
      """WITH u AS (
        |  SELECT l_partkey, l_extendedprice / l_quantity AS unit
        |  FROM lineitem WHERE l_quantity > 0),
        |p AS (
        |  SELECT l_partkey, count(*) AS n_sales,
        |         min(unit) AS lo, max(unit) AS hi
        |  FROM u GROUP BY 1 HAVING count(*) >= 2 AND min(unit) > 0)
        |SELECT CAST(l_partkey AS BIGINT) AS partkey,
        |       CAST(n_sales AS BIGINT) AS n_sales,
        |       round(lo, 6) AS lo_unit, round(hi, 6) AS hi_unit,
        |       CAST(floor(1000000.0 * (hi - lo) / lo) AS BIGINT) AS spread_ppm
        |FROM p
        |ORDER BY spread_ppm DESC, partkey LIMIT 20""".stripMargin) { (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .filter(col("l_quantity") > 0)
        .select(col("l_partkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_sales"), min("unit").as("lo"), max("unit").as("hi"))
        .filter(col("n_sales") >= 2 && col("lo") > 0)
        .select(big(col("l_partkey")).as("partkey"),
          big(col("n_sales")).as("n_sales"),
          round(col("lo"), 6).as("lo_unit"), round(col("hi"), 6).as("hi_unit"),
          big(floor(lit(1000000.0) * (col("hi") - col("lo")) / col("lo")))
            .as("spread_ppm"))
        .orderBy(col("spread_ppm").desc, col("partkey")).limit(20)
    },

    // Contrastive-pair mining for embedding-model training: every verified
    // near-dup pair is an (anchor, positive) example, and each gets 4
    // SHARED per-language negatives — the in-batch-negatives pattern:
    // negatives are chosen once per language (smallest codepoint-FNV of
    // the doc id — deterministic, reproducible across epochs and engines),
    // NOT per pair, so the join volume is O(pairs·k) instead of
    // pairs × corpus. Six candidates are drawn so that dropping the
    // anchor/positive themselves still leaves 4. Output is one training
    // row per pair with the negative ids comma-joined.
    Q("q_contrastive_pairs",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS s
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang AS lang
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |              / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
        |        >= 0.95),
        |h AS (
        |  SELECT lang, doc_id,
        |    CAST(list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(list_filter(string_split(
        |            'neg:' || CAST(doc_id AS VARCHAR), ''), c -> c <> ''),
        |          c -> CAST(ascii(c) AS HUGEINT))),
        |      (acc, x) -> (xor(acc, x) * 1099511628211)
        |                  % CAST(18446744073709551616 AS HUGEINT))
        |      AS HUGEINT) AS u
        |  FROM documents),
        |cand AS (
        |  SELECT lang, list(doc_id ORDER BY u, doc_id) AS negs FROM (
        |    SELECT lang, doc_id, u,
        |           row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
        |    FROM h) WHERE rn <= 6
        |  GROUP BY lang)
        |SELECT CAST(p.a_id AS BIGINT) AS a_id, CAST(p.b_id AS BIGINT) AS b_id,
        |       array_to_string(
        |         list_transform(
        |           list_filter(c.negs, x -> x <> p.a_id AND x <> p.b_id)[1:4],
        |           x -> CAST(x AS VARCHAR)), ',') AS negs
        |FROM pairs p JOIN cand c ON c.lang = p.lang
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      val h = tbl(spark, dir, "documents")
        .select(col("lang"), col("doc_id"),
          graft.ops.expr.Fnv1a64.columnCodePoints(
            concat(lit("neg:"), col("doc_id").cast("string"))).as("hs"))
        .select(col("lang"), col("doc_id"),
          expr("CASE WHEN hs >= 0 THEN CAST(hs AS DECIMAL(38,0)) " +
            "ELSE CAST(hs AS DECIMAL(38,0)) + " +
            "CAST('18446744073709551616' AS DECIMAL(38,0)) END").as("u"))
      val byLang = Window.partitionBy("lang").orderBy(col("u"), col("doc_id"))
      val cand = h.withColumn("rn", row_number().over(byLang))
        .filter(col("rn") <= 6)
        .groupBy("lang")
        .agg(expr("transform(sort_array(collect_list(struct(u, doc_id))), " +
          "x -> x.doc_id)").as("negs"))
      PipelineQueries.jaccardPairs(spark, dir)
        .join(tbl(spark, dir, "documents")
          .select(col("doc_id").as("a_id"), col("lang")), Seq("a_id"))
        .join(broadcast(cand), Seq("lang"))
        .select(big(col("a_id")).as("a_id"), big(col("b_id")).as("b_id"),
          expr("array_join(transform(slice(filter(negs, " +
            "x -> x != a_id AND x != b_id), 1, 4), " +
            "x -> CAST(x AS STRING)), ',')").as("negs"))
        .orderBy("a_id", "b_id")
    },

    // SymSpell identifier-typo candidates: supplier-name pairs at edit
    // distance EXACTLY 1 (one mistyped character apart — the dirty-CRM
    // entity-resolution pass), found by the deletion-neighborhood
    // equi-join: each name expands to {name} ∪ its 1-deletion variants
    // and pairs match on a SHARED variant — substitution, insertion, and
    // deletion all collide there, so candidate generation is an EQUI-join
    // on variant strings, never a name × name cross product (the SymSpell
    // trick that makes fuzzy matching linear in names × length). A
    // Levenshtein = 1 verification discards the distance-2 collisions the
    // deletion join admits; the corpus vocabulary has no ed-1 structure
    // (31 curated tokens), so the identifier domain is where this
    // operator bites.
    Q("q_symspell",
      """WITH names AS (SELECT s_name AS nm FROM supplier),
        |v AS (
        |  SELECT nm, unnest(list_append(
        |    list_transform(range(0, length(nm)),
        |      i -> substr(nm, 1, i) || substr(nm, i + 2, length(nm))),
        |    nm)) AS var
        |  FROM names)
        |SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
        |FROM v a JOIN v b ON a.var = b.var
        |WHERE a.nm < b.nm AND levenshtein(a.nm, b.nm) = 1
        |ORDER BY name_a, name_b""".stripMargin) { (spark, dir) =>
      val v = tbl(spark, dir, "supplier")
        .select(col("s_name").as("nm"))
        // clone compaction: the output is DISTINCT name pairs and a name
        // never pairs with its own copies (a.nm < b.nm), so duplicate
        // names contribute nothing — dedupe BEFORE the variant expansion
        // or clone-heavy corpora square every variant bucket (the sf1
        // clone fixture measured the uncompacted join at 26× for 10×
        // data; distinct-first is exactly equivalent, no weights needed)
        .distinct()
        .withColumn("var", explode(expr(
          "array_union(transform(sequence(0, length(nm) - 1), " +
            "i -> concat(substring(nm, 1, i), " +
            "substring(nm, i + 2, length(nm)))), array(nm))")))
        // round 16 tried removing this checkpoint (an eager job to save
        // re-deriving a narrow projection) — measured SLOWER both times
        // (0.82 → 0.96/1.19 s isolated at sf0.1, above the batch's noise):
        // without it the name dedup's exchange runs once per self-join
        // side. Kept.
        .localCheckpoint(true) // both sides of the variant self-join
      v.select(col("nm").as("name_a"), col("var"))
        .join(v.select(col("nm").as("name_b"), col("var")), Seq("var"))
        .filter(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) === 1)
        .select("name_a", "name_b")
        .distinct()
        .orderBy("name_a", "name_b")
    }
  )
}
