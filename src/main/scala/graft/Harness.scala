package graft

import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place the programs in this repo size and configure a local
  * SparkSession, run independent work on a driver-side pool, and execute or
  * time a query. Callers add only settings that a launcher sets
  * differently (a cluster master, GC-sized timeouts). */
object Harness {

  /** Cores for local sessions and pools: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI, and parquet NANOS timestamps read as longs (the fixtures carry
    * them; `Q.events` converts). */
  def builder(cores: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Gets or creates the session `b` describes, logging at WARN. */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of [[builder]]`(cores)`, with nothing added. */
  def session(cores: Int = cpus): SparkSession = start(builder(cores))

  /** Driver-side threads for independent jobs: a sf0.001 or verify-scale
    * plan keeps only a few cores busy, so a handful of concurrent queries
    * back-fill the idle ones. */
  def poolSize: Int = math.min(8, math.max(1, cpus / 4))

  val PoolThreadPrefix = "graft-harness-"

  /** Runs every item on a [[poolSize]]-thread pool and returns the items
    * that threw, by name, in input order. The pool has terminated when
    * this returns, whatever the items threw. */
  def inPool(items: Seq[(String, () => Unit)]): Seq[(String, Throwable)] = {
    val n = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(poolSize, new ThreadFactory {
      def newThread(r: Runnable): Thread =
        new Thread(r, PoolThreadPrefix + n.incrementAndGet())
    })
    try {
      val futures = items.map { case (name, f) =>
        name -> pool.submit(new Callable[Option[Throwable]] {
          def call(): Option[Throwable] =
            try { f(); None } catch { case e: Throwable => Some(e) }
        })
      }
      futures.flatMap { case (name, fut) => fut.get().map(name -> _) }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Executes the complete plan, every output column materialized, and
    * writes nothing. Never time `count()` instead: it lets Catalyst prune
    * every expression the row count does not reference (round 13:
    * q_poisson_bootstrap at sf1 read 2.3 s counted vs 61 s real). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds to build `df` (analysis included) and run it through
    * [[noop]], or the error either step threw — a failed query never
    * reads as a fast one. */
  def timedNoop(df: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { noop(df); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e) }
  }

  /** A query's time over two passes: the faster pass, or the first error
    * when either pass failed. */
  def minOf2[E](a: Either[E, Double], b: Either[E, Double]): Either[E, Double] =
    a.flatMap(x => b.map(math.min(x, _)))
}
