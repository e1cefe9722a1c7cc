package graft.queries

import graft.ops.{DedupOps, TextAnalysis, VectorOps}
import graft.queries.Q.{big, events, fnvSql, tbl}

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Group L — round-5 fourth wave: user-activity islands, prefix-level
  * partial duplication, language-ID quality, shot-boundary detection over
  * the stub video modality, and cross-language vocabulary contamination.
  *
  * Same determinism contracts as the rest of the suite: integer/DECIMAL
  * arithmetic end to end (no floats anywhere in this group), and the
  * codepoint-FNV fold where the stub modality needs reproducible
  * pseudo-content both engines can replay.
  */
object GroupL {

  private val toksSql = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
  private val toks: Column = expr("filter(split(lower(text), ' '), x -> x <> '')")

  val all: Seq[Q] = Seq(

    // Per-user activity streaks — the gaps-and-islands shape on the user
    // axis: distinct active days collapse first (the ONLY pass over raw
    // events, one map-side-combining dedup), then islands form via the
    // day − row_number trick inside a user-partitioned window. Streak
    // stats per user: active days, streak count, longest streak, first
    // active day. No global window, no self-join; shuffles keyed by
    // user_id only — the engagement panel every activity warehouse runs.
    Q("q_streaks",
      """WITH du AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM du),
        |seg AS (
        |  SELECT user_id, grp, count(*) AS len, min(day) AS start_day
        |  FROM isl GROUP BY 1, 2)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |       CAST(sum(len) AS BIGINT) AS n_active_days,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS max_streak,
        |       CAST(min(start_day) AS BIGINT) AS first_day
        |FROM seg GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("day")
      events(spark, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .withColumn("grp", col("day") - row_number().over(byUser))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"))
        .groupBy("user_id")
        .agg(big(sum("len")).as("n_active_days"),
          big(count(lit(1))).as("n_streaks"),
          big(max("len")).as("max_streak"),
          big(min("start_day")).as("first_day"))
        .select(big(col("user_id")).as("user_id"), col("n_active_days"),
          col("n_streaks"), col("max_streak"), col("first_day"))
        .orderBy("user_id")
    },

    // Prefix-level partial duplication: document A whose ENTIRE token
    // sequence is a proper prefix of document B — the crawl pathology
    // where a re-scrape appends boilerplate/continuation to an existing
    // page, which set-similarity (Jaccard ≥ t) misses once B grows long
    // enough. Blocking is an equi-join on the first-8-token key (lossless
    // for A ≥ 8 tokens — a proper prefix forces the keys equal; the
    // fixture's min doc is 10 tokens), then an O(len) startswith verify
    // on the space-rejoined normalized text. At web scale hub openings
    // (shared templates) get the q_frame_dedup df-cap treatment; the
    // verify never leaves the bucket join.
    Q("q_prefix_dup",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |j AS (
         |  SELECT doc_id, len(t) AS n, array_to_string(t, ' ') AS jt,
         |         array_to_string(t[1:8], ' ') AS k8
         |  FROM t WHERE len(t) >= 8)
         |SELECT CAST(a.doc_id AS BIGINT) AS a_id,
         |       CAST(b.doc_id AS BIGINT) AS b_id,
         |       CAST(a.n AS BIGINT) AS n_tok_a,
         |       CAST(b.n AS BIGINT) AS n_tok_b
         |FROM j a JOIN j b
         |  ON a.k8 = b.k8 AND a.doc_id <> b.doc_id AND a.n < b.n
         |WHERE starts_with(b.jt, a.jt || ' ')
         |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      val j = tbl(spark, dir, "documents")
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 8)
        .select(col("doc_id"), size(col("t")).as("n"),
          concat_ws(" ", col("t")).as("jt"),
          concat_ws(" ", slice(col("t"), 1, 8)).as("k8"))
      def side(p: String) = j.select(col("doc_id").as(s"${p}_id"),
        col("n").as(s"${p}n"), col("jt").as(s"${p}jt"), col("k8"))
      side("a").join(side("b"), "k8")
        .filter(col("a_id") =!= col("b_id") && col("an") < col("bn") &&
          expr("startswith(bjt, concat(ajt, ' '))"))
        .select(big(col("a_id")).as("a_id"), big(col("b_id")).as("b_id"),
          big(col("an")).as("n_tok_a"), big(col("bn")).as("n_tok_b"))
        .orderBy("a_id", "b_id")
    },

    // Language-ID confusion matrix: the engine's own marker-vote
    // classifier (q_lang_id) audited against the declared lang column —
    // per (true, predicted) cell, document count and the row share in ppm
    // (10⁶·n over the true language's total). The per-doc battery is ONE
    // scan (HOF lambdas in codegen); the share join runs on the 5-row
    // language dimension, broadcast. The "should I trust the classifier
    // on this slice?" panel a curation pipeline checks before routing by
    // predicted language.
    Q("q_langid_confusion",
      s"""WITH scored AS (
         |  SELECT lang,
         |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |         WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |         WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |         WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted
         |  FROM (
         |    SELECT lang,
         |      len(list_intersect(t, ['the','and','is','of','to'])) AS s_en,
         |      len(list_intersect(t, ['el','la','de','que','y'])) AS s_es,
         |      len(list_intersect(t, ['der','die','und','das','ist'])) AS s_de,
         |      len(list_intersect(t, ['le','la','et','les','des'])) AS s_fr,
         |      len(list_intersect(t, ['的','是','了','在','和'])) AS s_zh
         |    FROM (SELECT lang, list_distinct($toksSql) AS t FROM documents))),
         |cells AS (
         |  SELECT lang AS true_lang, predicted, count(*) AS n
         |  FROM scored GROUP BY 1, 2),
         |tot AS (SELECT true_lang, sum(n) AS t FROM cells GROUP BY 1)
         |SELECT c.true_lang AS true_lang, c.predicted AS predicted,
         |       CAST(c.n AS BIGINT) AS n,
         |       CAST(1000000 * c.n // t.t AS BIGINT) AS share_ppm
         |FROM cells c JOIN tot t USING (true_lang)
         |ORDER BY true_lang, predicted""".stripMargin) { (spark, dir) =>
      val cells = tbl(spark, dir, "documents")
        .select(col("lang").as("true_lang"),
          TextAnalysis.predictedLang(DedupOps.tokenSet(col("text")))
            .as("predicted"))
        .groupBy("true_lang", "predicted").agg(count(lit(1)).as("n"))
      val tot = cells.groupBy("true_lang").agg(sum("n").as("t"))
      cells.join(broadcast(tot), Seq("true_lang"))
        .select(col("true_lang"), col("predicted"), big(col("n")).as("n"),
          big(expr("1000000 * n div t")).as("share_ppm"))
        .orderBy("true_lang", "predicted")
    },

    // Shot-boundary (scene-cut) detection over the stub video modality:
    // the q_media_meta sampled-frame schedule (stride ⌈frames/8⌉) gives
    // each video ≤8 frames whose pseudo-energy is the low byte of the
    // frame slice's FNV (deterministic stand-in for a luma histogram —
    // the decode itself is the sanctioned stub; the plumbing is the
    // product). A cut fires where consecutive sampled energies jump by
    // more than 64 — the |Δhistogram| > τ rule real shot detectors use.
    // Shape: linear frame explode, one doc-partitioned lag window, one
    // doc agg — never global, nothing pairwise.
    Q("q_scenecut",
      s"""WITH v AS (
         |  SELECT doc_id, text, length(text) AS n, ${fnvSql("text")} AS h
         |  FROM documents WHERE doc_id % 3 = 2),
         |f AS (
         |  SELECT doc_id, text, n, CAST(1 + (h // 65536) % 240 AS BIGINT) AS nf
         |  FROM v),
         |k AS (
         |  SELECT doc_id, text, n, nf, unnest(range(0, nf, (nf + 7) // 8)) AS k
         |  FROM f),
         |s AS (
         |  SELECT doc_id, k,
         |    CAST(${fnvSql("substring(text, (k*n)//nf + 1, ((k+1)*n)//nf - (k*n)//nf)")}
         |         % 256 AS BIGINT) AS energy
         |  FROM k WHERE ((k+1)*n)//nf - (k*n)//nf >= 8),
         |d AS (
         |  SELECT doc_id, energy,
         |         lag(energy) OVER (PARTITION BY doc_id ORDER BY k) AS prev
         |  FROM s)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_sampled,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND abs(energy - prev) > 64
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |       CAST(1 + sum(CASE WHEN prev IS NOT NULL AND abs(energy - prev) > 64
         |                         THEN 1 ELSE 0 END) AS BIGINT) AS n_segments
         |FROM d GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val byDoc = Window.partitionBy("doc_id").orderBy("k")
      val cut = (col("prev").isNotNull &&
        abs(col("energy") - col("prev")) > 64).cast(LongType)
      tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) === 2) // the mediaTable video rows
        .select(col("doc_id"), col("text"),
          length(col("text")).as("n"),
          VectorOps.fnv1a64(col("text")).as("h"))
        // the decoder's video frame count (StubDecoder: unsigned bit-slices)
        .withColumn("nf",
          (lit(1L) + expr("shiftrightunsigned(h, 16)") % 240L).cast("int"))
        .withColumn("k",
          explode(sequence(lit(0), col("nf") - 1,
            expr("CAST((nf + 7) DIV 8 AS INT)"))))
        .withColumn("lo", expr("(k * n) DIV nf"))
        .withColumn("hi", expr("((k + 1) * n) DIV nf"))
        .filter(col("hi") - col("lo") >= 8)
        // low byte of the slice FNV: pmod of the signed long ≡ the
        // oracle's unsigned % 256 (256 divides 2⁶⁴ — same residue)
        .select(col("doc_id"), col("k"),
          pmod(VectorOps.fnv1a64(expr("substring(text, lo + 1, hi - lo)")),
            lit(256L)).as("energy"))
        .withColumn("prev", lag("energy", 1).over(byDoc))
        .groupBy("doc_id")
        .agg(big(count(lit(1))).as("n_sampled"),
          big(sum(cut)).as("n_cuts"),
          big(lit(1) + sum(cut)).as("n_segments"))
        .select(big(col("doc_id")).as("doc_id"), col("n_sampled"),
          col("n_cuts"), col("n_segments"))
        .orderBy("doc_id")
    },

    // Cross-language vocabulary contamination: per language pair, the
    // shared distinct-token count and vocabulary Jaccard in ppm — the
    // "are my language shards actually disjoint?" card a multilingual
    // corpus release reports (shared tokens mean either borrowings,
    // code-switching, or mislabeled documents — see q_langid_confusion).
    // Shape: the corpus collapses to the DISTINCT (lang, token) frame
    // once; the pair join is posting-style on the token key (each token
    // contributes ≤C(5,2) pairs — bounded by the language count, never
    // by corpus size), and vocab sizes broadcast back onto the ≤10-row
    // pair table.
    Q("q_vocab_overlap",
      s"""WITH v AS (
         |  SELECT DISTINCT lang, u AS tok
         |  FROM (SELECT lang, unnest($toksSql) AS u FROM documents)),
         |vs AS (SELECT lang, count(*) AS vocab FROM v GROUP BY 1),
         |p AS (
         |  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS shared
         |  FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
         |  GROUP BY 1, 2)
         |SELECT p.lang_a AS lang_a, p.lang_b AS lang_b,
         |       CAST(p.shared AS BIGINT) AS shared,
         |       CAST(va.vocab AS BIGINT) AS vocab_a,
         |       CAST(vb.vocab AS BIGINT) AS vocab_b,
         |       CAST(1000000 * p.shared // (va.vocab + vb.vocab - p.shared)
         |            AS BIGINT) AS jaccard_ppm
         |FROM p JOIN vs va ON va.lang = p.lang_a
         |       JOIN vs vb ON vb.lang = p.lang_b
         |ORDER BY lang_a, lang_b""".stripMargin) { (spark, dir) =>
      val v = tbl(spark, dir, "documents")
        .select(col("lang"), explode(toks).as("tok"))
        .distinct()
        .localCheckpoint(true) // vocab sizes + the pair join both read it
      val vs = v.groupBy("lang").agg(count(lit(1)).as("vocab"))
      val p = v.select(col("lang").as("lang_a"), col("tok"))
        .join(v.select(col("lang").as("lang_b"), col("tok")), Seq("tok"))
        .filter(col("lang_a") < col("lang_b"))
        .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("shared"))
      p.join(broadcast(vs.select(col("lang").as("lang_a"),
          col("vocab").as("vocab_a"))), Seq("lang_a"))
        .join(broadcast(vs.select(col("lang").as("lang_b"),
          col("vocab").as("vocab_b"))), Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), big(col("shared")).as("shared"),
          big(col("vocab_a")).as("vocab_a"), big(col("vocab_b")).as("vocab_b"),
          big(expr("1000000 * shared div (vocab_a + vocab_b - shared)"))
            .as("jaccard_ppm"))
        .orderBy("lang_a", "lang_b")
    }
  )
}
