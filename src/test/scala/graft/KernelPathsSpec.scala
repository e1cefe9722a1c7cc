package graft

import graft.ops.VectorOps
import graft.ops.expr._

import java.util.regex.Pattern

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Every native Catalyst kernel in `ops/expr`, table-driven, on both
  * evaluation paths: interpreted (`NO_CODEGEN`, no whole-stage codegen) and
  * generated (`CODEGEN_ONLY`, whole-stage). Per kernel the spec checks that
  *  - both paths give bit-equal results on the same rows, a null row included
  *    (a null input row yields null);
  *  - the generated Java calls the kernel's static method with its constant
  *    arguments;
  *  - the output column carries the kernel's SQL name;
  *  - a wrong-typed input fails analysis with a message naming the kernel
  *    and the offending type. */
class KernelPathsSpec extends SparkSpec {

  /** One kernel: its SQL name, its Column helper, the input columns it
    * accepts and a wrong-typed set, and the static call generated code makes
    * (method prefix plus the trailing constant arguments). */
  private case class Kernel(name: String, ok: Seq[String], bad: Seq[String],
                            call: String, consts: Seq[String] = Nil)(
      val build: Seq[Column] => Column)

  private val vocab = Map("a" -> 0, "b" -> 1, "c" -> 63, "é" -> 64, "命" -> 127)

  private val kernels = Seq(
    Kernel("fnv1a64", Seq("s1"), Seq("l1"), "Fnv1a64.hash(")(c => Fnv1a64.column(c(0))),
    Kernel("fnv1a64_cp", Seq("s1"), Seq("t1"), "Fnv1a64.hashCodePoints(")(
      c => Fnv1a64.columnCodePoints(c(0))),
    Kernel("fnv_step", Seq("l1", "l2"), Seq("l1", "s2"), "Fnv1a64.step(")(
      c => VectorOps.fnvStep(c(0), c(1))),
    Kernel("mix64", Seq("l1"), Seq("s1"), "Mix64.mix(")(c => Mix64.column(c(0))),
    Kernel("intersect_sorted_count", Seq("t1", "t2"), Seq("t1", "s2"),
      "IntersectSortedCount.count(")(c => IntersectSortedCount.column(c(0), c(1))),
    Kernel("jaccard_sorted", Seq("t1", "t2"), Seq("f", "t2"), "JaccardSorted.jaccard(")(
      c => JaccardSorted.column(c(0), c(1))),
    Kernel("vec_dot", Seq("f", "d"), Seq("f", "w"), "VecMath.dot(", Seq("true", "false"))(
      c => VecMath.dotColumn(c(0), c(1))),
    Kernel("vec_dist2", Seq("d", "f"), Seq("t1", "f"), "VecMath.dist2(",
      Seq("false", "true"))(c => VecMath.dist2Column(c(0), c(1))),
    Kernel("vec_normalize", Seq("f"), Seq("w"), "VecMath.normalize(", Seq("true"))(
      c => VecMath.normalizeColumn(c(0))),
    Kernel("vec_qdot", Seq("d", "f"), Seq("w", "f"), "VecQuant.dot(", Seq("false", "true"))(
      c => VecQuant.dotColumn(c(0), c(1))),
    Kernel("vec_qwdot", Seq("f", "w"), Seq("f", "d"), "VecQuant.wdot(", Seq("true"))(
      c => VecQuant.wdotColumn(c(0), c(1))),
    Kernel("vec_qdist2", Seq("d", "w"), Seq("s1", "w"), "VecQuant.dist2(", Seq("false"))(
      c => VecQuant.dist2Column(c(0), c(1))),
    Kernel("vec_nearest", Seq("f", "cw"), Seq("f", "w"), "VecMath.nearest(",
      Seq("true", "true"))(c => VecMath.nearestColumn(c(0), c(1))),
    Kernel("token_set_mask", Seq("r"), Seq("s1"), "TokenSetMask.mask(", Seq("2"))(
      c => TokenSetMask.column(c(0), vocab, 2)),
    Kernel("weighted_expand", Seq("r"), Seq("f"), "WeightedExpand.expand(", Seq("3"))(
      c => WeightedExpand.column(c(0), 3)),
    Kernel("chunk_split", Seq("s1"), Seq("r"), "ChunkSplit.split(")(c => ChunkSplit.column(c(0))),
    Kernel("levenshtein_myers", Seq("s1", "s2"), Seq("s1", "l2"), "LevenshteinMyers.distance(")(
      c => LevenshteinMyers.column(c(0), c(1))),
    Kernel("minhash_sig", Seq("r"), Seq("l1"), "MinHashSig.signature(", Seq("5"))(
      c => MinHashSig.column(c(0), 5)),
    Kernel("minhash_sig_fnv", Seq("r"), Seq("d"), "MinHashSig.signatureFnv(", Seq("4"))(
      c => MinHashSig.fnvColumn(c(0), 4)),
    Kernel("rolling_min_md5", Seq("s1"), Seq("f"), "RollingMinMd5.minFp(")(
      c => RollingMinMd5.column(c(0))),
    Kernel("simhash64", Seq("r"), Seq("s1"), "SimHash64.hash(")(c => SimHash64.column(c(0))),
    Kernel("simhash_fnv64", Seq("r"), Seq("w"), "SimHash64.hashFnv(")(
      c => SimHash64.fnvColumn(c(0))))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s1", StringType), StructField("s2", StringType),
    StructField("l1", LongType), StructField("l2", LongType),
    StructField("t1", ArrayType(StringType)), StructField("t2", ArrayType(StringType)),
    StructField("r", ArrayType(StringType)),
    StructField("f", ArrayType(FloatType)), StructField("d", ArrayType(DoubleType)),
    StructField("w", ArrayType(LongType)),
    StructField("cw", ArrayType(ArrayType(LongType))),
    StructField("cd", ArrayType(ArrayType(DoubleType)))))

  /** Row 0 is all null; the last row nulls every right-hand input only. */
  private def rows: Seq[Row] = {
    val rnd = new scala.util.Random(20261019L)
    val words = Seq("a", "b", "c", "é", "命", "naïve", "x~1", "zeta", "", "𝄞")
    def str(): String = {
      val n = Seq(0, 3, 9, 40, 90, 150)(rnd.nextInt(6))
      (0 until n).map(_ => words(rnd.nextInt(words.size)) + " ").mkString
    }
    def toks(): Seq[String] = Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size)))
    // array_sort order: UTF-8 byte order, which the codepoint order of these
    // words matches
    def sortedSet(): Seq[String] = toks().distinct.sortBy(_.codePoints().toArray.toSeq)(
      Ordering.Implicits.seqOrdering[Seq, Int])
    def vec(): Seq[Double] = Seq.fill(1 + rnd.nextInt(20))(rnd.nextGaussian() * 0.3)
    // codebooks draw from their own generator, so the other columns keep
    // their values
    val cbRnd = new scala.util.Random(7L)
    def codebook(): Seq[Seq[Double]] =
      Seq.fill(1 + cbRnd.nextInt(6))(Seq.fill(1 + cbRnd.nextInt(20))(cbRnd.nextGaussian() * 0.3))
    val body = (1 to 6).map { i =>
      val f: Seq[Any] = vec().map(_.toFloat)
      val cd = codebook()
      val cw: Seq[Any] = cd.map(_.map(VecQuant.q))
      Row(i, str(), str(), rnd.nextLong(), rnd.nextLong(), sortedSet(), sortedSet(),
        if (i == 2) toks() :+ null else toks(),
        if (i == 3) f :+ null else f, vec(),
        Seq.fill(1 + rnd.nextInt(20))(rnd.nextInt(15) - 7L),
        if (i == 4) cw :+ null else cw, cd)
    }
    val last = Row(7, "left only", null, 42L, null, Seq("a", "b"), null, Seq("a", "a"),
      Seq(0.0f, 0.0f), null, null, null, null)
    Row(0, null, null, null, null, null, null, null, null, null, null, null, null) +: body :+ last
  }

  /** Float and double values by their bits, so -0.0, NaN and rounding all
    * count. */
  private def canon(v: Any): Any = v match {
    case f: Float => "f" + java.lang.Float.floatToRawIntBits(f)
    case d: Double => "d" + java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case other => other
  }

  private def onPath[T](mode: String, wholeStage: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), wholeStage.toString)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // an RDD source, not a local Seq: ConvertToLocalRelation would evaluate a
  // projection over local rows interpreted on both paths
  private def frame(): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("vec_nearest: ties take the lower position, a NaN vector position 0, " +
    "a null vector null, on both paths and in both modes") {
    val cd = Seq(Seq(5.0, 5.0), Seq(1.0, 1.0), Seq(1.0, 1.0), Seq(3.0, 3.0))
    val cw = cd.map(_.map(VecQuant.q))
    val s = StructType(Seq(StructField("id", IntegerType),
      StructField("d", ArrayType(DoubleType)), StructField("cw", schema("cw").dataType),
      StructField("cd", schema("cd").dataType)))
    val vs = Seq(Seq(1.0, 1.0), Seq(1.2, 0.8), Seq(Double.NaN, 1.0), null)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i, v, cw, cd) }, 2), s)
    def run(): Seq[(Any, Any)] = df.select(col("id"),
        VecMath.nearestColumn(col("d"), col("cw")), VecMath.nearestColumn(col("d"), col("cd")))
      .collect().sortBy(_.getInt(0)).map(r => (r.get(1), r.get(2))).toSeq
    val interp = onPath("NO_CODEGEN", wholeStage = false)(run())
    val gen = onPath("CODEGEN_ONLY", wholeStage = true)(run())
    assert(interp == gen)
    // exact mode quantizes a NaN component to 0, so only fast mode sees NaN
    assert(interp == Seq((1, 1), (1, 1), (1, 0), (null, null)), interp)
  }

  kernels.foreach { k =>
    test(s"${k.name}: interpreted and generated paths agree, a null row included") {
      def run(): (String, Seq[Any], DataFrame) = {
        val out = frame().select(col("id"), k.build(k.ok.map(col)))
        val got = out.collect().sortBy(_.getInt(0)).map(r => canon(r.get(1))).toSeq
        (out.columns(1), got, out)
      }
      val (interpName, interp) = onPath("NO_CODEGEN", wholeStage = false) {
        val (n, got, _) = run(); (n, got)
      }
      val (genName, gen, genCode) = onPath("CODEGEN_ONLY", wholeStage = true) {
        val (n, got, out) = run(); (n, got, codegenString(out.queryExecution.executedPlan))
      }
      assert(interp.size == rows.size)
      assert(interp == gen)
      assert(interp.head == null, "a null input row yields null")
      assert(interp.tail.init.forall(_ != null))
      assert(interpName.startsWith(k.name + "(") && genName == interpName, interpName)
      val callShape = Pattern.quote("graft.ops.expr." + k.call) + "[^;]*?" +
        Pattern.quote(k.consts.map(", " + _).mkString + ")")
      assert(Pattern.compile(callShape).matcher(genCode).find(),
        s"generated code lacks ${k.call}…${k.consts}")
    }

    test(s"${k.name}: a wrong-typed input fails analysis, naming the kernel") {
      val df = frame()
      val err = intercept[AnalysisException] {
        df.select(k.build(k.bad.map(col))).queryExecution.assertAnalyzed()
      }
      val msg = err.getMessage
      assert(msg.contains(s"${k.name} requires"), msg)
      k.bad.foreach(b => assert(msg.contains(df.schema(b).dataType.toString), msg))
    }
  }
}
