package graft.queries

import graft.multimodal.Multimodal
import graft.ops.{DedupOps, Lsh, TextAnalysis, TextOps, VectorOps}
import graft.queries.Q._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Training-data pipeline operators (builder prompt + SURVEY.md §2.3 Group
  * B tail): deduplication (exact, MinHash+LSH, SimHash, token-set Jaccard,
  * embedding near-dup), similarity search (brute-force cosine top-k oracle
  * baseline, LSH-bucketed ANN scale path), text analysis (language ID,
  * quality score, token counts, fingerprints), multimodal columns.
  *
  * Scale notes: every pairwise operator goes through a blocking key (lang,
  * LSH band, simhash chunk, hyperplane bucket) so the join is an equi-join
  * on the block — never an all-pairs cross join; verification (true
  * Jaccard/cosine) runs only on bucket-collision candidates.
  */
object PipelineQueries {


  /** Exact-decimal L2 norm (deterministic across engines). */
  private[queries] def normExact(v: Column): Column = VectorOps.l2normExact(v)

  // ---- shared oracle-SQL fragments for the hyperplane-LSH family --------
  // DuckDB re-derives Lsh.fnvPlanesL from the same ASCII strings (HUGEINT
  // FNV-1a fold per character), quantizes every embedding component to
  // floor(x·2²⁴) — one exactly-replayable IEEE op — and then replays each
  // plane projection, bucket id, squared norm, and candidate cosine in pure
  // BIGINT arithmetic (graft.ops.expr.VecQuant's contract): bucket bits and
  // candidate sets match bit-for-bit, with no decimal folds on either side.

  /** `planes(p, d, comp)`: comp = fnv1a64("pl:salt:p:d") mod 15 − 7. */
  private[queries] def planesCte(salt: String, numPlanes: Int, dim: Int = 64): String =
    s"""planes AS (
       |  SELECT p, d,
       |    CAST(list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_transform(list_filter(string_split(
       |            'pl:$salt:' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR),
       |            ''), c -> c <> ''),
       |          c -> CAST(ascii(c) AS HUGEINT))),
       |      (acc, x) -> (xor(acc, x) * 1099511628211)
       |                  % CAST(18446744073709551616 AS HUGEINT))
       |      % 15 AS BIGINT) - 7 AS comp
       |  FROM range(0, $numPlanes) tp(p), range(0, $dim) td(d))""".stripMargin

  /** `qe(vec_id, d, qx)`: quantized components floor(x·2²⁴), 0-indexed. */
  private[queries] val quantElemsCte: String =
    """qe AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16777216.0)
      |              AS BIGINT) AS qx
      |  FROM embeddings)""".stripMargin

  /** `dots(vec_id, p, dp)`: integer plane projections Σ comp·qx. */
  private[queries] val quantDotsCte: String =
    """dots AS (
      |  SELECT v.vec_id, pl.p, CAST(sum(pl.comp * v.qx) AS BIGINT) AS dp
      |  FROM qe v JOIN planes pl ON v.d = pl.d
      |  GROUP BY v.vec_id, pl.p)""".stripMargin

  /** `qn(vec_id, q, n2)` (shared [[Q.quantNormsCte]], no extra columns). */
  private[queries] val quantNorms: String = quantNormsCte()

  /** PQ training replay (over `qe`): per-subspace seeds from the first k
    * vectors, one Lloyd iteration with floor(Σqx/count) updates, final
    * codes. Exposes `m1(s, c, i, m)` (trained codebooks), `dall(vec_id, s,
    * c, d2)` (all per-cell distances), `code(vec_id, s, c)` (assignments) —
    * the SQL twin of [[graft.ops.Pq.train]]/[[graft.ops.Pq.encode]] at
    * subspaces=8, subDim=8, k=16. */
  private[queries] val pqTrainCtes: String =
    """s8 AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
      |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
      |m0 AS (SELECT q.d // 8 AS s, s8.c, q.d % 8 AS i, q.qx AS m
      |       FROM s8 JOIN qe q USING (vec_id)),
      |d0 AS (
      |  SELECT v.vec_id, m0.s, m0.c,
      |         CAST(sum((v.qx - m0.m)*(v.qx - m0.m)) AS BIGINT) AS d2
      |  FROM qe v JOIN m0 ON v.d // 8 = m0.s AND v.d % 8 = m0.i
      |  GROUP BY v.vec_id, m0.s, m0.c),
      |a0 AS (
      |  SELECT vec_id, s, c FROM (
      |    SELECT vec_id, s, c,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
      |    FROM d0) WHERE rn = 1),
      |upd AS (
      |  SELECT a0.s, a0.c, v.d % 8 AS i,
      |         CAST(floor(CAST(sum(v.qx) AS DOUBLE)
      |                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
      |  FROM a0 JOIN qe v ON a0.vec_id = v.vec_id AND v.d // 8 = a0.s
      |  GROUP BY a0.s, a0.c, i),
      |m1 AS (
      |  SELECT m0.s, m0.c, m0.i, coalesce(upd.m, m0.m) AS m
      |  FROM m0 LEFT JOIN upd
      |    ON m0.s = upd.s AND m0.c = upd.c AND m0.i = upd.i),
      |dall AS (
      |  SELECT v.vec_id, m1.s, m1.c,
      |         CAST(sum((v.qx - m1.m)*(v.qx - m1.m)) AS BIGINT) AS d2
      |  FROM qe v JOIN m1 ON v.d // 8 = m1.s AND v.d % 8 = m1.i
      |  GROUP BY v.vec_id, m1.s, m1.c),
      |code AS (
      |  SELECT vec_id, s, c FROM (
      |    SELECT vec_id, s, c,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
      |    FROM dall) WHERE rn = 1)""".stripMargin

  /** IVF training replay (over `qe`), iv_-prefixed so it composes with
    * [[pqTrainCtes]] in one WITH: full-dim seeds from the first 16 vectors,
    * one Lloyd iteration with floor(Σqx/count) updates, final cell
    * assignment. Exposes `iv_m1(c, d, m)` (trained centroids),
    * `iv_dall(vec_id, c, d2)` (all vector↔centroid distances), `iv_idx
    * (neighbor_id, cluster)` — the SQL twin of [[graft.ops.Ivf.train]]/
    * [[graft.ops.Ivf.index]] at k=16, exact mode. */
  private[queries] val ivfTrainCtes: String =
    """iv_s AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
      |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
      |iv_m0 AS (
      |  SELECT iv_s.c, v.d, v.qx AS m FROM iv_s JOIN qe v USING (vec_id)),
      |iv_d0 AS (
      |  SELECT v.vec_id, iv_m0.c,
      |         CAST(sum((v.qx - iv_m0.m)*(v.qx - iv_m0.m)) AS BIGINT) AS d2
      |  FROM qe v JOIN iv_m0 ON v.d = iv_m0.d
      |  GROUP BY v.vec_id, iv_m0.c),
      |iv_a0 AS (
      |  SELECT vec_id, c FROM (
      |    SELECT vec_id, c,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
      |    FROM iv_d0) WHERE rn = 1),
      |iv_upd AS (
      |  SELECT iv_a0.c, v.d,
      |         CAST(floor(CAST(sum(v.qx) AS DOUBLE)
      |                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
      |  FROM iv_a0 JOIN qe v USING (vec_id) GROUP BY iv_a0.c, v.d),
      |iv_m1 AS (
      |  SELECT iv_m0.c, iv_m0.d, coalesce(iv_upd.m, iv_m0.m) AS m
      |  FROM iv_m0 LEFT JOIN iv_upd
      |    ON iv_m0.c = iv_upd.c AND iv_m0.d = iv_upd.d),
      |iv_dall AS (
      |  SELECT v.vec_id, iv_m1.c,
      |         CAST(sum((v.qx - iv_m1.m)*(v.qx - iv_m1.m)) AS BIGINT) AS d2
      |  FROM qe v JOIN iv_m1 ON v.d = iv_m1.d
      |  GROUP BY v.vec_id, iv_m1.c),
      |iv_idx AS (
      |  SELECT vec_id AS neighbor_id, c AS cluster FROM (
      |    SELECT vec_id, c,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
      |    FROM iv_dall) WHERE rn = 1)""".stripMargin

  /** NN-descent internal shortlist width: each round keeps the top-K
    * neighbors per node while the REPORTED graph is the final top-3 —
    * standard NN-descent practice (a wider working set gives each
    * neighbor-of-neighbor wave more bridges; measured recall@3 on the
    * fixtures: K=3/1 round 0.41, K=5/2 rounds ~0.8). */
  private[queries] val nnK = 5
  private[queries] val nnRounds = 2

  /** NN-descent replay chain shared by q_nn_descent / q_hubness: LSH seed
    * graph (8 tables × 6 planes, salt "nnd") → top-[[nnK]] per node →
    * [[nnRounds]] neighbor-of-neighbor waves, each exactly rescored — the
    * final ranked graph is exposed as `r1(vec_id, nb, sim, rn)`. The round
    * CTEs are GENERATED (same text per round, distinct suffixes), so the
    * SQL twin stays mechanically in lock-step with the Spark loop. */
  private[queries] lazy val nnDescentCtes: String = {
    def rankCte(from: String, out: String, gOut: String): String =
      s"""$out AS (
         |  SELECT vec_id, nb, sim,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY sim DESC, nb) AS rn
         |  FROM $from),
         |$gOut AS (SELECT vec_id, nb FROM $out WHERE rn <= $nnK)""".stripMargin
    val rounds = (1 to nnRounds).map { i =>
      // NN-descent propagates through the UNDIRECTED neighborhood (out ∪
      // reverse neighbors): reverse links are what carry information into
      // sparsely-bucketed nodes — directed nb-of-nb alone converges far
      // slower (measured recall@3 0.49 vs 0.9+ with reverse links)
      val (g, u, nonc, c, s) = (s"g${i - 1}", s"u$i", s"nonc$i", s"c$i", s"s$i")
      val (r, gOut) = (if (i == nnRounds) "r1" else s"rr$i", s"g$i")
      s"""$u AS (
         |  SELECT vec_id, nb FROM $g UNION SELECT nb, vec_id FROM $g),
         |$nonc AS (
         |  SELECT DISTINCT a.vec_id, b.nb
         |  FROM $u a JOIN $u b ON a.nb = b.vec_id
         |  WHERE b.nb <> a.vec_id),
         |$c AS (SELECT vec_id, nb FROM $u UNION SELECT vec_id, nb FROM $nonc),
         |$s AS (
         |  SELECT $c.vec_id, $c.nb, ${quantCosSql("q", "c")} AS sim
         |  FROM $c JOIN qn q ON $c.vec_id = q.vec_id
         |          JOIN qn c ON $c.nb = c.vec_id),
         |${rankCte(s, r, gOut)}""".stripMargin
    }.mkString(",\n")
    s"""${planesCte("nnd", 48)},
      |$quantElemsCte,
      |$quantDotsCte,
      |tk AS (SELECT vec_id, p // 6 AS t, p % 6 AS i, dp FROM dots),
      |keys AS (
      |  SELECT vec_id,
      |         CAST(sum(CASE WHEN dp >= 0
      |                       THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
      |              + (t << 6) AS BIGINT) AS bucket
      |  FROM tk GROUP BY vec_id, t),
      |cand AS (
      |  SELECT DISTINCT q.vec_id, c.vec_id AS nb
      |  FROM keys q JOIN keys c ON q.bucket = c.bucket
      |  WHERE c.vec_id <> q.vec_id),
      |$quantNorms,
      |s0 AS (
      |  SELECT cand.vec_id, cand.nb, ${quantCosSql("q", "c")} AS sim
      |  FROM cand JOIN qn q ON cand.vec_id = q.vec_id
      |            JOIN qn c ON cand.nb = c.vec_id),
      |${rankCte("s0", "r0", "g0")},
      |$rounds""".stripMargin
  }

  /** The refined per-doc top-3 kNN graph (vec_id, nb, sim, rn) after one
    * NN-descent round — the Spark twin of [[nnDescentCtes]], materialized
    * once per session ([[graft.util.SessionCache]]) because the index
    * build is the shared artifact q_nn_descent (the graph itself) and
    * q_hubness (its in-degree health) both report on. */
  private[queries] def nnDescentGraph(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"nn_descent:$dir") {
      val (tables, ppt) = (8, 6)
      val planes = Lsh.fnvPlanesL(tables * ppt, dim = 64, salt = "nnd")
      val base = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          quantN2(col("embedding")).as("n2"))
        .localCheckpoint(true) // bucket keys + both rescoring passes read it
      val keys = base.select(col("vec_id"),
        explode(Lsh.tableKeysQ(col("embedding"), planes, tables, ppt))
          .as("bucket"))
      def rescore(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("sim").desc, col("nb"))
        cand
          .join(base.select(col("vec_id"), col("embedding").as("qv"),
            col("n2").as("qn2")), Seq("vec_id"))
          .join(base.select(col("vec_id").as("nb"), col("embedding").as("cv"),
            col("n2").as("cn2")), Seq("nb"))
          .withColumn("sim", quantCos(col("qv"), col("cv"), col("qn2"), col("cn2")))
          .withColumn("rn", big(row_number().over(w)))
          .filter(col("rn") <= nnK)
          .select("vec_id", "nb", "sim", "rn")
      }
      val seed = rescore(
        keys.join(keys.select(col("vec_id").as("nb"), col("bucket")), Seq("bucket"))
          .filter(col("nb") =!= col("vec_id"))
          .select("vec_id", "nb").distinct())
        .select("vec_id", "nb")
      (1 to nnRounds).foldLeft(seed) { (g, _) =>
        // the UNDIRECTED neighborhood (out ∪ reverse): reverse links carry
        // information into sparsely-bucketed nodes — see the SQL twin.
        // Checkpoint per round: both sides of the wedge join read it, and
        // the loop would otherwise stack logical plans
        val gc = g.select("vec_id", "nb")
        val u = gc.unionByName(
            gc.select(col("nb").as("vec_id"), col("vec_id").as("nb")))
          .distinct()
          .localCheckpoint(true)
        val nonc = u.select(col("vec_id"), col("nb").as("mid"))
          .join(u.select(col("vec_id").as("mid"), col("nb")), Seq("mid"))
          .filter(col("nb") =!= col("vec_id"))
          .select("vec_id", "nb")
        rescore(u.unionByName(nonc).distinct())
      }
    }

  /** Verified ≥0.95 token-set Jaccard near-dup pairs (a_id, b_id, jac),
    * materialized once per session ([[graft.util.SessionCache]]): the dedup
    * pair table is a pipeline artifact both q_ngram_jaccard and
    * q_dup_components consume — a real pipeline computes it once. The
    * banding/verification pipeline itself is [[DedupOps.nearDupPairs]]
    * (recall math, size prefilter, closed-vs-open-vocabulary payloads and
    * their equivalence proof documented there); the oracle recomputes the
    * exact pair set its own all-pairs way, so it does not depend on which
    * verification path ran. */
  private[graft] def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"jaccard_pairs:$dir") {
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          DedupOps.sortedTokenSet(col("text")).as("toks"))
        // empty token sets all share the degenerate all-MaxValue signature:
        // within a lang they collide in every band and pass the 0>=0 size
        // prefilter, a quadratic candidate blob verification must drain.
        // They can never emit (0/0 Jaccard is null), so drop them up front.
        .filter(size(col("toks")) > 0)
      DedupOps.nearDupPairs(docs)
    }

  /** Symmetric closure of the verified pair artifact — DISTINCT (src, dst)
    * both directions — materialized once per session under the same
    * `h1sym` key q_link_predict always used. Round 16: q_graph_khop used
    * to rebuild this exact frame privately (union + distinct +
    * localCheckpoint — a second dedup shuffle and a full materialization
    * job per run); the adjacency list is a pipeline artifact like
    * [[jaccardPairs]] itself, built once and read by every graph query.
    * SessionCache persists WITH lineage (executor loss recomputes). */
  private[queries] def h1sym(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"h1sym:$dir") {
      val p = jaccardPairs(spark, dir)
      p.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(p.select(col("b_id").as("src"), col("a_id").as("dst")))
        .distinct()
    }

  /** PQ codebooks for a fixture dir, trained once per process and shared by
    * q_pq_encode / q_pq_adc — the [[jaccardPairs]] principle for a
    * driver-side artifact: a real pipeline trains the quantizer once and
    * every encoder/searcher loads it. Keyed by dir only (fixture data is
    * immutable for the session); the value is subspaces·k·subDim longs. */
  private val pqCells =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[graft.ops.Pq.Cell]]()
  private[queries] def pqCodebooks(spark: SparkSession, dir: String): Seq[graft.ops.Pq.Cell] =
    pqCells.computeIfAbsent(dir, _ =>
      graft.ops.Pq.train(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        subspaces = 8, k = 16))

  /** The encoded corpus (vec_id, s, code) as a session artifact: a real
    * pipeline encodes once at index-build time and every searcher scans the
    * codes, never the floats — q_pq_encode emits this table, q_pq_adc and
    * q_ivf_pq join against it. Materialized via [[graft.util.SessionCache]]
    * (128 cell distances per vector — worth running exactly once per
    * session). */
  private[queries] def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.getOrMaterialize(spark, s"pq_codes:$dir") {
      graft.ops.Pq.encode(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        pqCodebooks(spark, dir), subspaces = 8, subDim = 8)
    }

  /** IVF coarse centroids (k=16, quantized-exact), trained once per fixture
    * dir and shared by q_ann_ivf / q_ivf_pq — the coarse quantizer is the
    * same session artifact class as the PQ codebooks. */
  private val ivfCells =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Double])]]()
  private[queries] def ivfCentroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    ivfCells.computeIfAbsent(dir, _ =>
      graft.ops.Ivf.train(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 16, exact = true))

  /** All pipeline queries — the registry SparkEntry concatenates. The Q
    * blocks themselves live in [[PipelineDedup]] / [[PipelineAnn]] /
    * [[PipelineTextMedia]] (round-12 file split, pure move); this object
    * keeps the SHARED session artifacts and oracle-CTE fragments they and
    * the later groups (GroupI/O/P/R/S/U/V/Z/AA, QualityQueries) import.
    */
  val all: Seq[Q] = PipelineDedup.all ++ PipelineAnn.all ++ PipelineTextMedia.all
}
