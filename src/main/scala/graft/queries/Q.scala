package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: the Spark implementation plus (when
  * SQL-expressible) its DuckDB oracle. Queries without an oracle get the
  * driver's weaker rows-only check. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** Read a fixture table. The analyzed reader frame is memoized per
    * (session, path) — metadata caching only (listing + footer schema),
    * never rows; see [[graft.util.TableCache]]. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.TableCache.parquet(spark, s"$dir/$name.parquet")

  /** The events table's `ts` physical type has varied across fixture
    * generations — parquet TIMESTAMP(NANOS) (which Spark only reads as a
    * long under spark.sql.legacy.parquet.nanosAsLong=true, set by
    * Verify/Bench) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark 4 reads as TIMESTAMP_NTZ). Normalize every variant to a plain
    * instant TIMESTAMP whose microseconds equal the file's wall-clock
    * read as UTC — exactly how the DuckDB oracle's `epoch_us(ts)` treats
    * the same parquet — so downstream `unix_micros`/window/date logic is
    * uniform and session-timezone-independent (the NTZ branch diffs
    * against an NTZ epoch literal rather than casting, so a non-UTC
    * session timezone cannot shift the instant). */
  def events(spark: SparkSession, dir: String): DataFrame =
    instantTs(tbl(spark, dir, "events"), "ts")

  /** Normalize one fixture timestamp column (any physical encoding the
    * driver has generated: TIMESTAMP(NANOS) read as long under
    * nanosAsLong, TIMESTAMP_NTZ, or a plain instant) to an instant
    * TIMESTAMP whose microseconds equal the file's wall clock read as UTC
    * — the [[events]] contract, applicable to any table (`unix_micros`
    * rejects NTZ outright, so every µs-arithmetic query funnels its
    * timestamps through here). */
  def instantTs(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(name).dataType match {
      case LongType =>
        // nanos-as-long: exact integral division (a double divide would
        // lose sub-µs precision at 2^60 nanos)
        df.withColumn(name, timestamp_micros(expr(s"$name div 1000")))
      case TimestampNTZType =>
        // diff against an NTZ epoch literal, NOT a cast: a non-UTC session
        // timezone cannot shift the instant
        df.withColumn(name, timestamp_micros(expr(
          s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $name)")))
      case _ => df
    }
  }

  // ---- determinism helpers for oracle-checked queries -------------------
  // Double aggregation order differs between engines, so oracle-checked
  // sums run through an exact DECIMAL accumulator and convert back to
  // double: the per-element double→decimal rounding is well-defined (no
  // representable ties) and decimal addition is associative, making the
  // result engine- and partition-order-independent. DuckDB twin:
  //   CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE)

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast(DoubleType)

  /** Deterministic average: exact sum / count, divided in double. */
  def davg(c: Column): Column = dsum(c) / count(c).cast(DoubleType)

  /** Timestamp rendered as a stable string (oracle: strftime '%Y-%m-%d %H:%M:%S'). */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Date-only string (oracle: strftime '%Y-%m-%d'). */
  def dstr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** DuckDB HUGEINT FNV-1a fold over the characters of a string SQL
    * expression — the oracle twin of [[graft.ops.expr.Fnv1a64.foldCodePoints]]
    * (the q_embed_det / q_media_meta contract). */
  def fnvSql(s: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |    list_transform(list_filter(string_split($s, ''), c -> c <> ''),
       |      c -> CAST(ascii(c) AS HUGEINT))),
       |  (acc, x) -> (xor(acc, x) * 1099511628211)
       |              % CAST(18446744073709551616 AS HUGEINT))""".stripMargin

  /** Integer output normalized to BIGINT on both engines. */
  def big(c: Column): Column = c.cast(LongType)

  /** Long-range DECIMAL(19,0) — the wide-cast applied BEFORE integer
    * cross products whose magnitude can reach n²…n⁴ (CDF gaps, χ²
    * cells, log-rank variances): a Long product wraps silently where
    * the DuckDB twin (HUGEINT) stays exact; decimal keeps both engines
    * exact and decimal→double conversion is correctly rounded on both. */
  def dec(c: Column): Column = c.cast(DecimalType(19, 0))

  // ---- quantized-integer contract for embedding-similarity oracles ------
  // Components quantize to floor(x·2²⁴) — one exactly-replayable IEEE op —
  // and every dot/norm is an exact 64-bit integer sum (order- and
  // engine-independent); only the final cosine divide runs in double,
  // itself exactly rounded. Spark side: [[graft.ops.expr.VecQuant]]
  // codegen'd kernels. DuckDB side: the CTE/snippets below.

  /** `qn(vec_id[, extra…], q, n2)` CTE: quantized vectors + exact squared
    * norms, one row per embedding. */
  def quantNormsCte(extra: String*): String = {
    val cols = ("vec_id" +: extra).mkString(", ")
    s"""qn AS (
       |  SELECT $cols, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2
       |  FROM (SELECT $cols,
       |          list_transform(embedding,
       |            x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS q
       |        FROM embeddings))""".stripMargin
  }

  /** Quantized cosine over two `qn` rows aliased `a`/`b`, rounded to 6. */
  def quantCosSql(a: String, b: String): String =
    s"round(${quantCosRawSql(s"$a.q", s"$a.n2", s"$b.q", s"$b.n2")}, 6)"

  /** Unrounded quantized cosine from explicit vector/norm expressions. */
  def quantCosRawSql(aq: String, an2: String, bq: String, bn2: String): String =
    s"""CAST(CAST(list_sum(list_transform(range(1, len($aq)+1),
       |        i -> $aq[i] * $bq[i])) AS BIGINT) AS DOUBLE)
       |      / (sqrt(CAST($an2 AS DOUBLE)) * sqrt(CAST($bn2 AS DOUBLE)))""".stripMargin

  /** Quantized squared norm Σ q(xᵢ)² of a vector column. */
  def quantN2(v: Column): Column = graft.ops.expr.VecQuant.dotColumn(v, v)

  /** Quantized cosine of two vector columns with precomputed squared
    * quantized norms, rounded to 6 — the Spark twin of [[quantCosSql]]. */
  def quantCos(av: Column, bv: Column, n2a: Column, n2b: Column): Column =
    round(quantCosRaw(av, bv, n2a, n2b), 6)

  /** Unrounded [[quantCos]] (per-token MaxSim terms round only the final
    * per-doc sum). */
  def quantCosRaw(av: Column, bv: Column, n2a: Column, n2b: Column): Column =
    graft.ops.expr.VecQuant.dotColumn(av, bv).cast(DoubleType) /
      (sqrt(n2a.cast(DoubleType)) * sqrt(n2b.cast(DoubleType)))
}
