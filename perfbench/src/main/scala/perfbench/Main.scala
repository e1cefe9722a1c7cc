package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: Path, val inject: Set[String],
                val sessionS: Double, val streams: StreamProbe) {
  var selfTimes: Map[String, Double] = Map.empty
}

/** One run's outcome: ops attempted and failed by name, end-to-end and
  * per-layer metrics, plus detail rows and trace spans for the files. */
final case class Result(attempted: Int, failedOps: Seq[String],
                        e2e: Map[String, Double], layers: Map[String, Double],
                        detail: Map[String, Any], perItem: Seq[Map[String, Any]],
                        spans: Seq[Map[String, Any]])

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   --workload vector_replay|merge_churn --seed N --seconds S --trace 0|1
  *   --work DIR --result FILE --texts FILE [--inject NAME] [--cores N]
  *   [--stage-only 1]
  *
  * `--texts` is the documents parquet whose texts vector_replay samples.
  * `--stage-only` renders both streaming logs for the seed under --work
  * and exits (the benchmark's determinism test hashes them). */
object Main {
  private def jvmSeconds(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    lazy val vectorReplay = new VectorReplay(VectorReplay.texts(a("texts")))
    if (a.get("stage-only").contains("1")) {
      vectorReplay.stage(seed, work.resolve("vector_replay"), 8)
      MergeChurn.stage(seed, work.resolve("merge_churn"), 8)
      return
    }
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wiring: Wiring = workload match {
      case "vector_replay" => vectorReplay
      case "merge_churn" => MergeChurn
      case other => sys.error(s"unknown workload $other")
    }
    // process start to here: JVM, session and the input fixture
    val sessionS = jvmSeconds()
    val streams = new StreamProbe
    val tasks = new TaskProbe
    spark.streams.addListener(streams)
    spark.sparkContext.addSparkListener(tasks)
    val ctx = new Ctx(spark, seed, a("seconds").toInt, a("trace") == "1", work,
      a.get("inject").toSet, sessionS, streams)
    val r = StreamBench.run(ctx, wiring)
    Probes.drain(spark)
    val result = Paths.get(a("result")).toAbsolutePath
    Out.write(result, Map(
      "workload" -> workload, "seed" -> seed, "trace" -> ctx.trace, "cores" -> cores,
      "attempted" -> r.attempted, "failed_ops" -> r.failedOps,
      "end_to_end" -> r.e2e,
      "per_layer" -> (r.layers ++ tasks.snapshot()),
      "self_time_s" -> ctx.selfTimes,
      "detail" -> (r.detail + ("jvm_wall_s" -> jvmSeconds())), "items" -> r.perItem))
    if (r.spans.nonEmpty)
      Out.write(result.resolveSibling(result.getFileName.toString.stripSuffix(".json") + ".trace.json"),
        r.spans)
    spark.stop()
  }
}
