package graft.queries

import graft.multimodal.Multimodal
import graft.ops.{DedupOps, Lsh, TextAnalysis, TextOps, VectorOps}
import graft.queries.Q._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Deduplication family (split out of PipelineQueries in round 12 — a pure
  * move, no semantics changed): exact, MinHash (+weighted, +keep decision),
  * SimHash, token-set Jaccard, embedding near-dup, SemDeDup, plus the
  * incremental/batch-vs-corpus and cross-source report shapes. Shared
  * session artifacts and oracle-CTE fragments live in [[PipelineQueries]].
  */
object PipelineDedup {
  import PipelineQueries._

  /** MinHash ≥15/16 near-dup PAIR TABLE (a_id, b_id, agree) — a session
    * artifact like [[PipelineQueries.jaccardPairs]]: the pair set is the
    * pipeline product every downstream evaluation reads
    * (q_detector_agreement, q_mcnemar, q_cohens_kappa), and a real
    * pipeline computes it ONCE per corpus. Round 12 hoisted it out of the
    * q_dedup_minhash closure after the recycled sf1 run measured the
    * composed audits re-paying the full pair emission (190 s for
    * q_detector_agreement alone — 3 detectors × the clone fixture's ×100
    * pair volume); with the artifact shared, the emission is paid once and
    * every consumer joins the materialized table. Construction unchanged:
    * identical-signature compaction, then intra-group explode + lossless
    * 2×8 banded join over DISTINCT signatures. */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"mh_pairs:$dir") {
      val sigs = tbl(spark, dir, "documents")
        .select(col("doc_id"), DedupOps.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          DedupOps.minhashSignatureFnv(col("toks"), 16).as("sig"))
      // IDENTICAL-SIGNATURE COMPACTION before the banded join: exact-dup
      // cliques (hundreds of members in this corpus) would otherwise sit in
      // one band bucket and pay a quadratic bucket×bucket join through the
      // shuffle. Grouping by signature first makes join volume a function
      // of DISTINCT signatures, not corpus multiplicity; clique-internal
      // pairs (agree = 16 by construction) and the member expansion of
      // group-level matches are pure explodes with no shuffle.
      // SessionCache persist (lineage kept), not localCheckpoint: the
      // group table feeds two consumers (intra pairs + banded join), and
      // a non-replicated checkpoint block is unrecoverable after an
      // executor loss at cluster scale — the persisted form rebuilds
      val groups = graft.util.SessionCache.getOrMaterialize(
        spark, s"mh_groups:$dir") {
        sigs.groupBy("sig")
          .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      }
      val n = size(col("members"))
      // within-group ordered pairs by DOUBLE EXPLODE, not flatten(transform):
      // flatten materializes a group's whole C(m,2) pair ARRAY in one
      // allocation, and on a 30-replica clone fixture a 500-doc dup group
      // becomes 15,000 members → a single ~3.6 GB array (measured: the sf3
      // scale run died exactly there). Two generates stream the same pairs
      // row-by-row with memory bounded by one members list; a_id < b_id on
      // the sorted-distinct members keeps each pair once.
      val intra = groups.filter(n > 1)
        .select(explode(col("members")).as("a_id"), col("members"))
        .select(col("a_id"), explode(col("members")).as("b_id"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), lit(16L).as("agree"))
      // cross-group candidates: 2 bands × 8 rows over DISTINCT signatures —
      // lossless for the ≥15 floor (≤1 disagreeing permutation cannot touch
      // both bands); a band-key hash collision only adds a candidate the
      // agree floor rejects
      val banded = groups
        .withColumn("band", explode(DedupOps.bandKeys(col("sig"), 2, 8)))
        .withColumn("bh", xxhash64(col("band")))
      def side(p: String) = banded.select(col("members").as(s"${p}m"),
        col("sig").as(s"${p}_sig"), col("bh"))
      val cross = side("a").join(side("b"), "bh")
        // order group pairs by their (distinct) first members so each
        // unordered group pair appears once before the member expansion
        .filter(element_at(col("am"), 1) < element_at(col("bm"), 1))
        .select(col("am"), col("bm"),
          big(size(filter(zip_with(col("a_sig"), col("b_sig"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))), v => v === 1)))
            .as("agree"))
        .filter(col("agree") >= 15 && col("agree") < 16)
        .dropDuplicates("am", "bm")
        .select(explode(col("am")).as("x"), col("bm"), col("agree"))
        .select(col("x"), explode(col("bm")).as("y"), col("agree"))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"), col("agree"))
      // rebalance before the persist: explode output inherits its PARENT's
      // partitioning, so one mega-group's pairs land in one partition and
      // the columnar cache must unroll them as one block (the second half
      // of the measured sf3 OOM). A hash repartition bounds every cached
      // block and every downstream join task.
      intra.unionByName(cross)
        .repartition(spark.sparkContext.defaultParallelism * 8,
          col("a_id"), col("b_id"))
    }

  /** SimHash hamming ≤3 near-dup PAIR TABLE (a_id, b_id, hamming) — the
    * [[minhashPairs]] principle for the second detector: computed once per
    * session, read by q_dedup_simhash and every detector-evaluation query.
    * Construction unchanged: identical-signature compaction, intra-group
    * explode (hamming 0 by construction), lossless multi-index
    * block-triple join over DISTINCT signatures. */
  private[graft] def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"sh_pairs:$dir") {
      val sims = tbl(spark, dir, "documents")
        .select(col("doc_id"), DedupOps.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), DedupOps.simhashFnv(col("toks")).as("sim"))
      // IDENTICAL-SIGNATURE COMPACTION (round-11, the q_dedup_minhash
      // layer applied here): clone-heavy corpora put every copy of a doc
      // at the SAME simhash, so the member-level chunk join paid the
      // clone square through ~20 block-triple tables and the distinct
      // (sf1 measured 59× for 10× data). Grouping by signature first
      // makes chunk-join volume a function of DISTINCT signatures; the
      // chunk join is symmetric (both sides explode all keys), so every
      // member pair of a qualifying group pair qualifies — expansion is
      // a pure explode with least/greatest ordering. Intra-group pairs
      // are hamming 0 by construction. Output identical; the oracle
      // keeps its all-pairs form.
      // SessionCache persist (lineage kept), not localCheckpoint — same
      // executor-loss argument as the q_dedup_minhash group table
      val groups = graft.util.SessionCache.getOrMaterialize(
        spark, s"sh_groups:$dir") {
        sims.groupBy("sim")
          .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      }
      val n = size(col("members"))
      // double explode, not flatten(transform) — the [[minhashPairs]]
      // mega-group allocation argument
      val intra = groups.filter(n > 1)
        .select(explode(col("members")).as("a_id"), col("members"))
        .select(col("a_id"), explode(col("members")).as("b_id"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), lit(0L).as("hamming"))
      // multi-index block-triple keys (lossless for hamming≤3, ~32-bit key
      // space): random-collision candidate volume stays sub-quadratic out
      // to 1e6-1e7 DISTINCT docs where single 16-bit chunks saturate
      // around 1e5 — the oracle is unaffected because candidates are
      // verified exactly
      val chunked = groups
        .withColumn("chunk", explode(DedupOps.simhashMultiKeys(col("sim"))))
      def side(p: String) = chunked.select(col("members").as(s"${p}m"),
        col("sim").as(s"${p}_sim"), col("chunk"))
      val cross = side("a").join(side("b"), "chunk")
        .filter(element_at(col("am"), 1) < element_at(col("bm"), 1))
        .select(col("am"), col("bm"),
          big(DedupOps.hamming(col("a_sim"), col("b_sim"))).as("hamming"))
        .filter(col("hamming") <= 3) // ≥1 implicit: distinct signatures
        .dropDuplicates("am", "bm")
        .select(explode(col("am")).as("x"), col("bm"), col("hamming"))
        .select(col("x"), explode(col("bm")).as("y"), col("hamming"))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"), col("hamming"))
      // rebalance before the persist — the [[minhashPairs]] mega-group
      // cached-block argument
      intra.unionByName(cross)
        .repartition(spark.sparkContext.defaultParallelism * 8,
          col("a_id"), col("b_id"))
    }

  val all: Seq[Q] = Seq(

    // ---- deduplication ---------------------------------------------------

    Q("q_dedup_exact",
      """SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count FROM (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn,
        |         count(*) OVER (PARTITION BY norm) AS dup_count
        |  FROM (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        |        FROM documents))
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val norm = TextOps.normalizeText(col("text"))
      val byNorm = Window.partitionBy(col("norm"))
      tbl(spark, dir, "documents")
        .select(col("doc_id"), norm.as("norm"))
        .withColumn("rn", row_number().over(byNorm.orderBy(col("doc_id"))))
        .withColumn("dup_count", big(count(lit(1)).over(byNorm)))
        .filter(col("rn") === 1)
        .select("doc_id", "dup_count")
        .orderBy("doc_id")
    },

    // Token-set Jaccard near-dup. Candidates come from MinHash band buckets
    // (16 salted-hash perms, 8 bands × 2 rows, lang folded into the bucket
    // key), NOT from a within-language all-pairs join — per-language blocking
    // is quadratic in corpus size, band buckets keep the join linear-ish.
    // At the 0.95 threshold a true pair misses all 8 bands with probability
    // (1 - 0.95²)⁸ ≈ 1e-8, so the band filter is recall-safe for the oracle,
    // which recomputes the exact pair set its own all-pairs way; survivors
    // are verified with exact popcount set-mask Jaccard.
    Q("q_ngram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents)
        |SELECT a_id, b_id, jac FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |               / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE), 6) AS jac
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |WHERE jac >= 0.95
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      jaccardPairs(spark, dir).orderBy("a_id", "b_id")
    },

    // Cross-source contamination matrix — the dataset-release report next
    // to q_dataset_card: how many verified ≥0.95 near-dup pairs connect
    // each (source, source) combination, canonicalized so (a,b)=(b,a).
    // Within-source counts on the diagonal expose internal duplication;
    // off-diagonal cells expose sources scraping each other — the decision
    // input for which source to drop. Rides the SAME session-cached pair
    // artifact as q_ngram_jaccard/q_dup_components plus one broadcast-size
    // doc→source join; the oracle recomputes the exact pair set its own
    // all-pairs way.
    Q("q_source_overlap",
      """WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |              / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE), 6)
        |        >= 0.95)
        |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
        |       CAST(count(*) AS BIGINT) AS pairs
        |FROM pairs
        |GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin) { (spark, dir) =>
      val src = tbl(spark, dir, "documents").select(col("doc_id"), col("source"))
      jaccardPairs(spark, dir)
        .join(broadcast(src.select(col("doc_id").as("a_id"),
          col("source").as("sa"))), "a_id")
        .join(broadcast(src.select(col("doc_id").as("b_id"),
          col("source").as("sb"))), "b_id")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(big(count(lit(1))).as("pairs"))
        .orderBy("source_a", "source_b")
    },

    // Incremental (batch-vs-corpus) near-dedup: the ingest-time shape —
    // flag each NEW document (doc_id % 5 ≠ 0 models the arriving batch)
    // that near-duplicates an EXISTING one (% 5 = 0), keeping the best
    // match. Consumes the same banded-and-verified pair artifact as
    // q_ngram_jaccard/q_dup_components (a real pipeline indexes the corpus
    // once and probes only the new batch against it); the per-new-doc
    // argmax is a partitioned window, never global.
    Q("q_incremental_dedup",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS n_id, b.doc_id AS e_id,
        |         round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |               / CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE), 6) AS jac
        |  FROM toks a JOIN toks b
        |    ON a.lang = b.lang AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
        |hits AS (
        |  SELECT n_id, e_id, jac,
        |         row_number() OVER (PARTITION BY n_id
        |                            ORDER BY jac DESC, e_id) AS rn
        |  FROM pairs WHERE jac >= 0.95)
        |SELECT n_id AS doc_id, e_id AS dup_of, jac
        |FROM hits WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val p = jaccardPairs(spark, dir)
      val edges = p.select(col("a_id").as("x"), col("b_id").as("y"), col("jac"))
        .unionByName(
          p.select(col("b_id").as("x"), col("a_id").as("y"), col("jac")))
        .filter(col("x") % 5 =!= 0 && col("y") % 5 === 0)
      val w = Window.partitionBy(col("x"))
        .orderBy(col("jac").desc, col("y"))
      edges.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("x").as("doc_id"), col("y").as("dup_of"), col("jac"))
        .orderBy("doc_id")
    },

    // MinHash near-dup ESTIMATOR, ORACLE-CHECKED end to end: 16 FNV-1a
    // permutation hashes (fnv1a64("#p#" + token), leading salt — a linear
    // byte fold DuckDB replays per character in HUGEINT arithmetic),
    // output = every pair whose signatures agree on ≥15 of 16 permutations
    // (agreement/16 estimates Jaccard at ±1/16 resolution; the
    // exact-verified ≥0.95 surface is q_ngram_jaccard's contract). The
    // contract is a DETERMINISTIC function of the corpus — unlike banding
    // RECALL vs true Jaccard, which is probabilistic — so the oracle
    // recomputes every signature and every agreement count its own
    // all-pairs way and must match exactly. The Spark side never goes
    // all-pairs: candidates come from 2 bands × 8 rows — LOSSLESS for the
    // ≥15 floor by pigeonhole (≤1 disagreeing permutation cannot touch
    // both bands), the same argument as the simhash chunk blocking — and a
    // band-key hash collision only adds a candidate the agree-floor
    // verification rejects.
    Q("q_dedup_minhash",
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) > 0),
        |sig AS (
        |  SELECT doc_id,
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
        |  FROM toks)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_filter(range(0, 16), i -> a.s[i+1] = b.s[i+1]))
        |            AS BIGINT) AS agree,
        |       CAST(len(list_filter(range(0, 16), i -> a.s[i+1] = b.s[i+1]))
        |            AS DOUBLE) / 16.0 AS est
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(0, 16), i -> a.s[i+1] = b.s[i+1])) >= 15
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      // the pair table is the session artifact ([[minhashPairs]] — built
      // once, read by this query and every detector-evaluation audit)
      minhashPairs(spark, dir)
        .withColumn("est", col("agree").cast(DoubleType) / lit(16.0d))
        .orderBy("a_id", "b_id")
    },

    // WEIGHTED near-dup detection: plain set Jaccard treats "spam spam
    // spam buy" and "spam buy analysis report" as similar; weighted
    // Jaccard Σmin(cₐ,c_b)/Σmax(cₐ,c_b) over token MULTIPLICITIES does
    // not. Implemented by the capped-multiplicity expansion (Chum et al.'s
    // histogram-intersection trick): token t with count c becomes the
    // distinct elements t~1..t~min(c,4), and weighted Jaccard (counts
    // capped at 4) becomes EXACT set Jaccard of the expansions — so the
    // whole verified MinHash-banding machinery (nearDupPairs: identical-
    // signature compaction, lossless 8×2 banding at the 0.95 floor,
    // mask/merge verification) is reused unchanged, and the oracle is the
    // all-pairs exact form over the same expansion. The occurrence index
    // comes from SORTING the tokens first: on a sorted list, occurrence =
    // position − first-occurrence position + 1, and first-occurrence is a
    // scan (list_position / array_position) with NO per-position array
    // allocation — the prefix-count formulation (len(filter(t[1:i],...)))
    // materializes O(len²) slice copies per document and measured 381 s
    // at sf0.1 vs sub-second for this form. O(len²) compares, bounded by
    // document length, never corpus size.
    Q("q_minhash_weighted",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_sort(list_filter(string_split(lower(text), ' '),
        |                               x -> x <> '')) AS t
        |  FROM documents),
        |expd AS (
        |  SELECT doc_id, lang,
        |    list_sort(list_filter(
        |      list_transform(range(1, len(t)+1), i ->
        |        CASE WHEN i - list_position(t, t[i]) + 1 <= 4
        |             THEN t[i] || '~' ||
        |                  CAST(i - list_position(t, t[i]) + 1 AS VARCHAR)
        |             END),
        |      e -> e IS NOT NULL)) AS w
        |  FROM toks WHERE len(t) > 0)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |             / CAST(len(list_distinct(list_concat(a.w, b.w))) AS DOUBLE), 6)
        |         AS wjac
        |FROM expd a JOIN expd b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |            / CAST(len(list_distinct(list_concat(a.w, b.w))) AS DOUBLE), 6)
        |      >= 0.95
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      // the expansion runs in the weighted_expand native kernel — one
      // hash-map pass per document instead of the HOF form's O(len²)
      // array_position scans (WeightedExpandSpec pins kernel ≡ HOF).
      // SessionCache persists the artifact (nearDupPairs reads it from
      // FIVE plans: vocab probe, two banding sides, two verify sides)
      // with lineage intact — an executor loss recomputes partitions
      // instead of failing the job as the previous localCheckpoint did.
      val expd = graft.util.SessionCache.getOrMaterialize(spark, s"wexpand:$dir") {
        tbl(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            DedupOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), col("lang"),
            graft.ops.expr.WeightedExpand.column(col("t"), 4).as("toks"))
      }
      DedupOps.nearDupPairs(expd)
        .select(col("a_id"), col("b_id"), col("jac").as("wjac"))
        .orderBy("a_id", "b_id")
    },

    // The dedup DECISION step: detection queries emit pairs, this one
    // emits the curation action — per signature-identical group (all 16
    // MinHash permutations equal ⟹ near-certain duplicates), KEEP the
    // longest member (max n_chars; tie → smallest doc_id, an explicit rule
    // rather than an engine's unspecified arg_max tie-break) and name the
    // dropped ids. ORACLE-CHECKED: the oracle recomputes signatures from
    // per-character HUGEINT folds, groups, and applies the same rule.
    // Shapes: one hash agg by signature, then pure array ops — argmax via
    // array_max over (n_chars, -doc_id) structs (a nested `when` fold
    // would duplicate subtrees exponentially), never a window over an
    // array partition.
    Q("q_dedup_keep",
      """WITH toks AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) > 0),
        |sig AS (
        |  SELECT doc_id, n_chars,
        |    array_to_string(list_transform(range(0, 16), p ->
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
        |                    ELSE h END AS BIGINT)))), ',') AS gk
        |  FROM toks),
        |w AS (
        |  SELECT gk, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY gk
        |                            ORDER BY n_chars DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY gk) AS m
        |  FROM sig),
        |k AS (
        |  SELECT gk, doc_id AS keeper_id, CAST(n_chars AS BIGINT) AS kept_chars,
        |         CAST(m AS BIGINT) AS n_members
        |  FROM w WHERE rn = 1 AND m > 1),
        |dr AS (
        |  SELECT gk, array_to_string(list_sort(list(doc_id)), ',') AS dropped
        |  FROM w WHERE rn > 1 GROUP BY gk)
        |SELECT keeper_id, kept_chars, n_members, dropped
        |FROM k JOIN dr USING (gk)
        |ORDER BY keeper_id""".stripMargin) { (spark, dir) =>
      val groups = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          DedupOps.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("n_chars"),
          DedupOps.minhashSignatureFnv(col("toks"), 16).as("sig"))
        .groupBy("sig")
        .agg(collect_list(struct(col("n_chars"), col("doc_id"))).as("ms"))
        .filter(size(col("ms")) > 1)
      groups
        .withColumn("best", array_max(transform(col("ms"),
          m => struct(m.getField("n_chars").as("nc"),
            (m.getField("doc_id") * -1).as("nd")))))
        .select(
          big(col("best.nd") * -1).as("keeper_id"),
          big(col("best.nc")).as("kept_chars"),
          big(size(col("ms"))).as("n_members"),
          array_join(
            transform(
              array_sort(filter(
                transform(col("ms"), m => m.getField("doc_id")),
                d => d =!= col("best.nd") * -1)),
              _.cast("string")), ",").as("dropped"))
        .orderBy("keeper_id")
    },

    // 64-bit SimHash near-dup pairs, ORACLE-CHECKED end to end: signatures
    // use the FNV-1a token-hash variant (a linear byte fold DuckDB replays
    // per character in HUGEINT arithmetic; xxhash64's block mixing is not
    // practically re-expressible), so the oracle recomputes every
    // signature, every hamming distance, and the exact pair set its own
    // all-pairs way. The Spark side never goes all-pairs: candidates come
    // from 4×16-bit pigeonhole chunks — LOSSLESS at hamming ≤ 3 (3 flipped
    // bits cannot touch all 4 chunks) — and the verified distance is one
    // xor+popcount on the two longs riding the join. At larger corpora the
    // 16-bit chunk space saturates (~birthday at 10⁵ docs per language);
    // the scale move is wider chunks over multiple index tables (the
    // standard multi-index hamming scheme), same join shape.
    Q("q_dedup_simhash",
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(lower(text), ' '),
        |                                   x -> x <> '')) AS t
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) > 0),
        |th AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_transform(t, tok ->
        |        list_reduce(
        |          list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |            list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
        |              c -> CAST(ascii(c) AS HUGEINT))),
        |          (acc, x) -> (xor(acc, x) * 1099511628211)
        |                      % CAST(18446744073709551616 AS HUGEINT))),
        |      h -> CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |                THEN h - CAST(18446744073709551616 AS HUGEINT)
        |                ELSE h END AS BIGINT)) AS hs
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), k ->
        |      CASE WHEN 2 * len(list_filter(hs, h -> ((h >> CAST(k AS BIGINT)) & 1) = 1))
        |                >= len(hs)
        |           THEN 1 ELSE 0 END) AS b
        |  FROM th)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_filter(range(0, 64), k -> a.b[k+1] <> b.b[k+1])) AS BIGINT)
        |         AS hamming
        |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(0, 64), k -> a.b[k+1] <> b.b[k+1])) <= 3
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      // the pair table is the session artifact ([[simhashPairs]] — built
      // once, read by this query and every detector-evaluation audit)
      simhashPairs(spark, dir).orderBy("a_id", "b_id")
    },

    // Embedding near-dup: hyperplane buckets (multi-probe on one side),
    // candidates verified with quantized cosine. Planes are FNV-derived
    // integers (Lsh.fnvPlanesL) and every projection/norm/dot an exact long
    // sum over floor(x·2²⁴) components, so the oracle replays bucket
    // assignment, probe flips (bit XORs), the candidate join, and the
    // cosine verification — a full hash-match contract on the whole
    // LSH pipeline, not just a rows-only count.
    Q("q_dedup_embedding",
      s"""WITH ${planesCte("dd", 4)},
        |$quantElemsCte,
        |$quantDotsCte,
        |bl AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dp >= 0
        |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
        |              AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |probes AS (
        |  SELECT vec_id, unnest(list_prepend(bucket,
        |    list_transform(range(0, 4),
        |      i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS bucket
        |  FROM bl),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM probes a JOIN bl b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |$quantNorms
        |SELECT a_id, b_id, cos FROM (
        |  SELECT p.a_id, p.b_id, ${quantCosSql("a", "b")} AS cos
        |  FROM pairs p JOIN qn a ON p.a_id = a.vec_id
        |               JOIN qn b ON p.b_id = b.vec_id)
        |WHERE cos >= 0.35
        |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
      val planes = Lsh.fnvPlanesL(numPlanes = 4, dim = 64, salt = "dd")
      val e = tbl(spark, dir, "embeddings")
      // CLONE COMPACTION (round-11): buckets, probes, and cosines are
      // pure functions of the embedding, so the probe join runs over
      // DISTINCT vectors (sf1 measured the member-level join 48× for 10×
      // data — every clone pair re-paid the candidate shuffle and the
      // cosine). The probe join is ASYMMETRIC (only the a-side probes),
      // so a member pair (u, v) with u < v qualifies iff u's GROUP
      // probed v's group — both directed qualifications are kept per
      // unordered group pair and the member expansion filters on the
      // direction the smaller id belongs to. Output identical; the
      // oracle keeps its member-level form.
      // SessionCache persist (lineage kept), not localCheckpoint — the
      // frame feeds three plans (probe side, exact side, expansion) and
      // must survive executor loss at cluster scale
      val groups = graft.util.SessionCache.getOrMaterialize(
        spark, s"emb_groups:$dir") {
        e.groupBy(col("embedding"))
          .agg(sort_array(collect_list(col("vec_id"))).as("members"))
          .select(col("embedding"), col("members"),
            element_at(col("members"), 1).as("rep"),
            Lsh.bucketQ(col("embedding"), planes).as("bucket"),
            quantN2(col("embedding")).as("n2"))
      }
      // intra-group pairs: every clone pair shares its bucket (probes
      // prepend the unflipped bucket), so only the cos ≥ 0.35 predicate
      // decides — computed with the identical kernel (cos(v, v))
      val n = size(col("members"))
      val intra = groups.filter(n > 1)
        .withColumn("cos", quantCos(col("embedding"), col("embedding"),
          col("n2"), col("n2")))
        .filter(col("cos") >= 0.35)
        // double explode, not flatten(transform) — the minhashPairs
        // mega-group allocation argument (one clone group's C(m,2) pair
        // array must never materialize as a single allocation)
        .select(explode(col("members")).as("a_id"), col("members"), col("cos"))
        .select(col("a_id"), explode(col("members")).as("b_id"), col("cos"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("cos"))
      val probed = groups.select(col("rep").as("a_rep"),
        explode(Lsh.probesQ(col("bucket"), planes.size)).as("bucket"))
      // directed candidates (a-group probed b-group), bare rep pairs
      val dirCand = probed
        .join(groups.select(col("rep").as("b_rep"), col("bucket")), Seq("bucket"))
        .filter(col("a_rep") =!= col("b_rep"))
        .select(col("a_rep"), col("b_rep"))
        .dropDuplicates("a_rep", "b_rep")
      val und = dirCand
        .select(least(col("a_rep"), col("b_rep")).as("lo"),
          greatest(col("a_rep"), col("b_rep")).as("hi"),
          (col("a_rep") < col("b_rep")).as("fw"))
        .groupBy("lo", "hi")
        .agg(max(when(col("fw"), 1).otherwise(0)).as("q_lo_hi"),
          max(when(!col("fw"), 1).otherwise(0)).as("q_hi_lo"))
      val cross = und
        .join(groups.select(col("rep").as("lo"), col("embedding").as("lv"),
          col("n2").as("ln2"), col("members").as("lm")), Seq("lo"))
        .join(groups.select(col("rep").as("hi"), col("embedding").as("hv"),
          col("n2").as("hn2"), col("members").as("hm")), Seq("hi"))
        .withColumn("cos", quantCos(col("lv"), col("hv"), col("ln2"), col("hn2")))
        .filter(col("cos") >= 0.35)
        .select(explode(col("lm")).as("x"), col("hm"),
          col("q_lo_hi"), col("q_hi_lo"), col("cos"))
        .select(col("x"), explode(col("hm")).as("y"),
          col("q_lo_hi"), col("q_hi_lo"), col("cos"))
        .filter((col("x") < col("y") && col("q_lo_hi") === 1) ||
          (col("y") < col("x") && col("q_hi_lo") === 1))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"), col("cos"))
      intra.unionByName(cross)
        .orderBy("a_id", "b_id")
    },

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication as cluster-then-prune — assign every embedding to its
    // nearest IVF coarse centroid, compare pairs only WITHIN a cluster,
    // and of each ≥0.35-cosine pair drop the member closer to the centroid
    // (keeping the outlier preserves diversity, the paper's keep-low-
    // centroid-similarity rule; "closer" is the exact quantized L2 d², so
    // the decision is pure long arithmetic). The cluster partition is what
    // makes semantic dedup feasible at corpus scale: the quadratic is
    // bounded per cell (k grows with the corpus to cap cell sizes), and
    // the join is an equi-join on cluster id — never all-pairs. Training
    // and assignment reuse the session IVF centroids (deterministic seeds,
    // one exact Lloyd step), so DuckDB replays membership, d², every
    // within-cluster cosine, and each drop decision bit-for-bit.
    Q("q_semdedup",
      s"""WITH $quantElemsCte,
        |$ivfTrainCtes,
        |$quantNorms,
        |mem AS (
        |  SELECT i.neighbor_id AS vec_id, i.cluster, d.d2
        |  FROM iv_idx i JOIN iv_dall d
        |    ON i.neighbor_id = d.vec_id AND i.cluster = d.c),
        |pairs AS (
        |  SELECT x.cluster, x.vec_id, x.d2 AS xd2, y.vec_id AS y_id,
        |         y.d2 AS yd2, ${quantCosSql("a", "b")} AS sim
        |  FROM mem x JOIN mem y
        |    ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
        |  JOIN qn a ON x.vec_id = a.vec_id
        |  JOIN qn b ON y.vec_id = b.vec_id)
        |SELECT CAST(cluster AS BIGINT) AS cluster, vec_id,
        |       CAST(count(*) AS BIGINT) AS n_dups,
        |       CAST(max(CASE WHEN yd2 > xd2 OR (yd2 = xd2 AND y_id < vec_id)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS dropped
        |FROM pairs WHERE sim >= 0.35
        |GROUP BY cluster, vec_id
        |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      val centroids = ivfCentroids(spark, dir)
      val e = tbl(spark, dir, "embeddings")
      // the nearest position yields cluster AND its exact d² (ties
      // resolve to the lower cid, as iv_idx)
      val (ids, cs) = graft.ops.Ivf.literal(centroids, exact = true)
      val nearest = graft.ops.expr.VecMath.nearestColumn(col("embedding"), cs)
      // CLONE COMPACTION (round-11, after the sf1 run measured the member-
      // level pair join 39× for 10× data on the clone fixture): cluster,
      // d², n², and every pairwise cosine are pure functions of the
      // embedding VALUES, so the within-cell quadratic runs over DISTINCT
      // vectors — one row per distinct embedding carrying its sorted
      // member list — and clone cliques never expand into pairs. The
      // per-member output stays linear: n_dups(x) = Σ m_b over qualifying
      // neighbor groups (+ m−1 for x's own clones), and the drop decision
      // decomposes exactly — (yd2 > xd2) is group-uniform, the yd2 = xd2
      // tie only needs the SMALLEST qualifying equal-d² neighbor id
      // (min member = that group's rep), and same-group pairs (d² equal,
      // sim = cos(v,v) — computed with the identical kernel so a
      // zero-norm NaN keeps its engine semantics) drop every member but
      // the group minimum. The oracle keeps its all-pairs form — output
      // is bit-identical. groupBy on the raw float array is exact
      // equality (Spark normalizes -0.0, invisible under quantization).
      val groups = graft.util.SessionCache
        .getOrMaterialize(spark, s"semdedup_groups:$dir") {
          e.groupBy(col("embedding"))
            .agg(sort_array(collect_list(col("vec_id"))).as("members"),
              count(lit(1)).as("mult"))
            .select(col("embedding"), col("members"), col("mult"),
              element_at(col("members"), 1).as("rep_id"),
              quantN2(col("embedding")).as("n2"),
              ids.getItem(nearest).as("cluster"),
              graft.ops.expr.VecQuant.dist2Column(col("embedding"), cs.getItem(nearest))
                .as("d2"))
        }
      val x = groups.select(col("cluster"), col("rep_id").as("a_rep"),
        col("d2").as("xd2"), col("embedding").as("xv"), col("n2").as("xn2"))
      val y = groups.select(col("cluster"), col("rep_id").as("b_rep"),
        col("mult").as("b_m"), col("d2").as("yd2"),
        col("embedding").as("yv"), col("n2").as("yn2"))
      val crossAgg = x.join(y, Seq("cluster"))
        .filter(col("a_rep") =!= col("b_rep"))
        .withColumn("sim", quantCos(col("xv"), col("yv"), col("xn2"), col("yn2")))
        .filter(col("sim") >= 0.35)
        .groupBy(col("a_rep"))
        .agg(sum(col("b_m")).as("cross_dups"),
          max(when(col("yd2") > col("xd2"), 1).otherwise(0)).as("any_greater"),
          min(when(col("yd2") === col("xd2"), col("b_rep"))).as("min_eq_id"))
      groups
        .withColumn("same_q", col("mult") > 1 &&
          quantCos(col("embedding"), col("embedding"),
            col("n2"), col("n2")) >= 0.35)
        .join(crossAgg, col("rep_id") === col("a_rep"), "left")
        .select(col("cluster"), col("members"), col("mult"), col("same_q"),
          col("cross_dups"), col("any_greater"), col("min_eq_id"),
          explode(col("members")).as("vec_id"))
        .withColumn("n_dups", coalesce(col("cross_dups"), lit(0L)) +
          when(col("same_q"), col("mult") - 1).otherwise(lit(0L)))
        .filter(col("n_dups") > 0)
        .withColumn("dropped",
          when(col("any_greater") === 1, 1)
            .when(col("min_eq_id") < col("vec_id"), 1)
            .when(col("same_q") &&
              col("vec_id") =!= element_at(col("members"), 1), 1)
            .otherwise(0))
        .select(big(col("cluster")).as("cluster"), col("vec_id"),
          big(col("n_dups")).as("n_dups"), big(col("dropped")).as("dropped"))
        .orderBy("vec_id")
    },
  )
}
