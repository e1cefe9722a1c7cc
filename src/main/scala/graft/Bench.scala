package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** The one-line result: per query the min of its two timed passes, or
    * its first error. A failed query is listed under `failed` and left out
    * of `queries` and of `value`. */
  def summary(results: Seq[(String, Either[Throwable, Double])],
              sfDir: String): String = {
    val ok = results.collect { case (name, Right(sec)) => name -> sec }
    val failed = results.collect { case (name, Left(_)) => name }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${ok.map(_._2).sum},"unit":"sec","runs":2,"agg":"min","queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    var spark = Harness.session()
    // Warm each query's whole-stage-codegen classes on the smallest fixture:
    // generated code is scale-independent, so the compile cost (which
    // dominates cold runs) is paid once here, and the timed runs below
    // measure execution, not Janino.
    // optional local-iteration filter (comma-separated names); the driver
    // leaves it unset and always benches the full registry. Names are
    // validated so a typo fails loudly instead of benching nothing.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(",")}")
    }
    // The two warm-up phases below are UNTIMED setup, so their failures are
    // dropped; they run their independent jobs from the harness pool
    // (guide §2.6) because each sf0.001 plan keeps only a couple of cores
    // busy and the serial loop left the box idle for minutes. The timed
    // region (two min-of-2 noop passes, strictly sequential) is untouched —
    // same methodology, same generated classes, same cache state when
    // timing starts.
    Harness.inPool(SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> (() =>
        // noop write, not count(): warm the SAME generated classes the
        // timed passes execute (a counted plan prunes differently)
        Harness.noop(fn(spark, "/root/testdata/sf0.001")))
      })
    // Warm the target-SF data path (OS page cache + parquet footers): the
    // timed loop measures query execution, and without this pre-read the
    // alphabetically-first queries absorb every table's first-touch disk
    // I/O while later ones read from memory — noise, not plan cost.
    Harness.inPool(new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
      .map { f => f.getName -> (() =>
        // a count() would satisfy itself from footer metadata without
        // touching data pages; the noop sink drives the real column scan
        Harness.noop(spark.read.parquet(f.getPath)))
      })
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def pass(over: Seq[(String, (SparkSession, String) => DataFrame)])
        : Map[String, Either[Throwable, Double]] = over.map { case (name, fn) =>
      name -> Harness.timedNoop(fn(spark, sfDir))
    }.toMap
    def minOf2(chunk: Seq[(String, (SparkSession, String) => DataFrame)])
        : Seq[(String, Either[Throwable, Double])] = {
      val (p1, p2) = (pass(chunk), pass(chunk))
      chunk.map { case (name, _) =>
        name -> Harness.minOf2(p1(name), p2(name))
      }
    }
    // Two full timed passes, min per query: the box the bench runs on is
    // shared, and a scheduler hiccup in a single pass shows up as a uniform
    // 1.3-3x inflation of every query — the min of two passes measures the
    // plan, not the neighbor's load. Passes alternate over the whole suite
    // so both see the same cache state ordering.
    //
    // SPARK_GRAFT_RECYCLE=N (unset for driver runs — behavior unchanged):
    // the big-fixture evidence runs (bench_sf1.sh) chunk the suite into
    // N-query groups, each on a FRESH SparkSession. One 270-query pass in
    // a single JVM accretes every query's SessionCache artifacts and
    // shuffle buffers into one old generation, and late-alphabet queries
    // then measure the collector, not their plan (r11 committed 9x
    // distortions: q_ann_graph 8.9 s in-suite vs 1.0 s isolated). Per
    // chunk: recycle session -> one untimed warm run (rebuilds the chunk's
    // shared artifacts + any fresh codegen) -> the two timed passes. Heap
    // never holds more than one chunk's artifacts, min-of-2 still strips
    // scheduler noise, and artifact-build cost stays out of the timings
    // exactly as in the single-session form (built pre-timing, reused
    // warm). Whole-stage-codegen classes survive recycling (the code cache
    // is static, keyed by generated source), so the sf0.001 warmup above
    // is not repeated.
    val recycle: Option[Int] =
      sys.env.get("SPARK_GRAFT_RECYCLE").map(_.trim.toInt).filter(_ > 0)
    val results: Seq[(String, Either[Throwable, Double])] = recycle match {
      case None =>
        // absorb first-position bias: the alphabetically-first query pays
        // any residual first-touch cost (JIT tails, allocator warm-up) in
        // BOTH timed passes — min-of-two cannot remove a bias that hits
        // both. One untimed execution moves it out of the measurement
        // (observed: the first query reading 3–4× its quiet-box time while
        // the rest of the suite sat at a uniform ~1.2× load factor).
        ordered.headOption.foreach { case (_, fn) =>
          Harness.timedNoop(fn(spark, sfDir))
        }
        minOf2(ordered)
      case Some(n) =>
        ordered.grouped(n).toSeq.flatMap { chunk =>
          graft.util.SessionCache.invalidate(spark)
          spark.stop()
          spark = Harness.session()
          pass(chunk) // untimed warm: artifacts + first-touch, discarded
          minOf2(chunk)
        }
    }
    for ((name, Left(e)) <- results) System.err.println(s"[bench] $name failed: $e")
    println(summary(results, sfDir))
    spark.stop()
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }
}
