package graft

import graft.ops.{TextOps, VectorOps}
import graft.ops.expr.Fnv1a64

import org.apache.spark.sql.functions._

/** Unit vectors for the row-level operators, mirroring and extending the
  * reference's own tests (reference: internal/util/text_test.go:5-11). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("textConcat joins in order, skipping null AND empty (reference golden)") {
    // reference: {a:"hello", b:"world", c:nil} over cols [a,c,b] → "hello world"
    val df = Seq(("hello", Option.empty[String], "world")).toDF("a", "c", "b")
    val got = df.select(TextOps.textConcat(Seq($"a", $"c", $"b")).as("t"))
      .as[String].head()
    assert(got == "hello world")
  }

  test("textConcat skips empty strings (not concat_ws semantics)") {
    val df = Seq(("x", "", "y")).toDF("a", "b", "c")
    val got = df.select(TextOps.textConcat(Seq($"a", $"b", $"c")).as("t"))
      .as[String].head()
    assert(got == "x y") // concat_ws would give "x  y"
  }

  test("textConcat of all-null/empty yields empty string") {
    val df = Seq((Option.empty[String], "")).toDF("a", "b")
    val got = df.select(TextOps.textConcat(Seq($"a", $"b")).as("t"))
      .as[String].head()
    assert(got == "")
  }

  test("docId derivation schema.table:pk") {
    val df = Seq(("public", "documents", "42")).toDF("s", "t", "p")
    val got = df.select(TextOps.docId($"s", $"t", $"p").as("id")).as[String].head()
    assert(got == "public.documents:42")
  }

  test("docId with missing pk (blind delete) yields trailing colon") {
    val df = Seq(("public", "documents", Option.empty[String])).toDF("s", "t", "p")
    val got = df.select(TextOps.docId($"s", $"t", $"p").as("id")).as[String].head()
    assert(got == "public.documents:")
  }

  test("metaProject: metadata column named 'table' overwrites, not crashes") {
    // Go map-assignment semantics (reference: pipeline.go:234-241); Spark's
    // map_concat would throw under mapKeyDedupPolicy=EXCEPTION
    val df = Seq(("public", "documents", "1", Map("table" -> "shadow", "author" -> "ada")))
      .toDF("s", "t", "p", "after")
    val meta = df.select(TextOps.metaProject($"s", $"t", $"p", $"after",
      Seq("table", "author")).as("m")).as[Map[String, String]].head()
    assert(meta("table") == "shadow")
    assert(meta("pk") == "1" && meta("author") == "ada")
  }

  test("l2normalize yields unit norm; zero vector passes through") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f))).toDF("id", "v")
    val out = df.select($"id", VectorOps.l2normalize($"v").as("n"),
        VectorOps.l2norm(VectorOps.l2normalize($"v")).as("norm"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Float](1) == Seq(0.6f, 0.8f))
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-6)
    assert(out(1).getSeq[Float](1) == Seq(0.0f, 0.0f)) // passthrough
    assert(out(1).getDouble(2) == 0.0)
  }

  test("l2normalize kernel matches the HOF formula bit for bit, dataType " +
    "included, interpreted and codegen'd") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.types._
    // the formula the kernel replaced, kept as the reference
    def hof(v: Column): Column = {
      val n = VectorOps.l2norm(v)
      when(n === lit(0.0), v)
        .otherwise(transform(v, x => (x.cast(DoubleType) / n).cast(FloatType)))
    }
    val rnd = new scala.util.Random(20261017L)
    def scale(): Double = math.pow(10, rnd.nextInt(9) - 4)
    val randFloat = for (d <- Seq(1, 16, 768); _ <- 1 to 20) yield {
      val s = scale()
      (0 until d).map(_ => (rnd.nextGaussian() * s).toFloat)
    }
    val randDouble = for (d <- Seq(1, 16, 768); _ <- 1 to 20) yield {
      val s = scale()
      (0 until d).map(_ => rnd.nextGaussian() * s)
    }
    // null vector, null element, zero-norm vector with a null, zero
    // vector, empty array
    def edges[T](one: T, zero: T): Seq[Seq[Any]] =
      Seq(null, Seq(one, null, one), Seq(null, zero), Seq(zero, zero), Seq())
    // a non-null-element float column is the embed UDF's output type
    val cases: Seq[(ArrayType, Seq[Seq[Any]])] = Seq(
      ArrayType(FloatType, containsNull = false) -> randFloat,
      ArrayType(FloatType, containsNull = true) -> (randFloat.take(5) ++ edges(3.0f, 0.0f)),
      ArrayType(DoubleType, containsNull = false) -> randDouble,
      ArrayType(DoubleType, containsNull = true) -> (randDouble.take(5) ++ edges(3.0, 0.0)))
    // float/double elements as raw bits, so -0.0, NaN and rounding differ
    def bits(a: Seq[Any]): Seq[Option[Long]] = Option(a).map(_.map {
      case null => None
      case f: Float => Some(java.lang.Float.floatToRawIntBits(f).toLong)
      case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
    }).orNull
    val modes = Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true")
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for ((mode, wholeStage) <- modes; (t, vs) <- cases) {
        spark.conf.set(keys(0), mode)
        spark.conf.set(keys(1), wholeStage)
        // an RDD source, not a local Seq: ConvertToLocalRelation would
        // evaluate a projection over local rows interpreted in both modes
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(vs.zipWithIndex.map { case (v, i) => Row(i, v) }, 2),
          StructType(Seq(StructField("id", IntegerType), StructField("v", t))))
        val out = df.select($"id", VectorOps.l2normalize($"v").as("got"), hof($"v").as("want"))
        assert(out.schema("got").copy(name = "want") == out.schema("want"), s"$mode $t")
        val rows = out.orderBy("id").collect()
        assert(rows.length == vs.length)
        rows.foreach { r =>
          assert(bits(r.getSeq[Any](1)) == bits(r.getSeq[Any](2)), s"$mode $t row ${r.getInt(0)}")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fnv1a64 known test vectors") {
    // Published FNV-1a 64 vectors (http://www.isthe.com/chongo/tech/comp/fnv/)
    assert(Fnv1a64.hash("") == 0xcbf29ce484222325L)
    assert(Fnv1a64.hash("a") == 0xaf63dc4c8601ec8cL)
    assert(Fnv1a64.hash("foobar") == 0x85944171f73967e8L)
    // and via the Catalyst expression (codegen path)
    val got = Seq("", "a", "foobar").toDF("s")
      .select(VectorOps.fnv1a64($"s").as("h")).as[Long].collect().toSeq
    assert(got == Seq(0xcbf29ce484222325L, 0xaf63dc4c8601ec8cL, 0x85944171f73967e8L))
  }

  test("rolling_min_md5 equals the md5-per-substring expression form on " +
    "ASCII, multibyte, short, and empty inputs") {
    import graft.ops.TextAnalysis
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b  c   d", "exactly8", "short", "ab", "x", "",
      "数据 管道 在 大规模 训练 中 去重 数据",      // 3-byte UTF-8
      "déjà vu à côté naïve œuvre garçon",          // 2-byte
      "🚀 🌍 data 🔥 pipeline 😀 🚀",               // 4-byte
      "mixed ASCII 与 中文 and émojis 🎯")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    val got = df.select($"id", TextAnalysis.fingerprint($"t").as("fp"))
      .orderBy("id").as[(Int, String)].collect().toSeq
    val want = df.select($"id", TextAnalysis.fingerprintExpr($"t").as("fp"))
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == want)
  }

  test("fnv_step extends a fold by one character: step(hash(s), c) == " +
    "hash(s + chr(c)) — the replicate queries' one-step contract") {
    for (s <- Seq("", "bs:123:", "pt:98765:", "ab:1:"); c <- 48 to 111) {
      assert(Fnv1a64.step(Fnv1a64.hash(s), c.toLong) ==
        Fnv1a64.hash(s + c.toChar), s"s=$s c=$c")
    }
    // and via the Catalyst expression (codegen path)
    val rows = Seq(("bs:42:", 48L), ("bs:42:", 63L), ("pt:7:", 111L))
    val got = rows.toDF("s", "c")
      .select(VectorOps.fnvStep(VectorOps.fnv1a64($"s"), $"c").as("h"))
      .as[Long].collect().toSeq
    assert(got == rows.map { case (s, c) => Fnv1a64.hash(s + c.toChar.toString) })
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorOps.cosineExact($"a", $"b").as("same"),
      VectorOps.cosineExact($"a", $"c").as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }
}
