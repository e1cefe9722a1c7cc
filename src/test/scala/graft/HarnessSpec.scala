package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.tools.BenchGate
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, udf}

/** graft.Harness: the shared session config, the timed noop, the pooled
  * runner, and Bench's summary of a run with a failed query. */
class HarnessSpec extends SparkSpec {

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("a harness session: local[cores], cores shuffle partitions, UTC, " +
    "no UI, NANOS parquet timestamps as longs, WARN logging") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("timedNoop returns the error, not a time, for a query that throws " +
    "at analysis or at execution") {
    val atAnalysis = Harness.timedNoop(spark.range(3).select(col("no_such")))
    assert(atAnalysis.left.exists(_.isInstanceOf[AnalysisException]),
      atAnalysis)
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom-at-execution") else x
    }
    val atExecution = Harness.timedNoop(spark.range(3).select(boom(col("id"))))
    assert(atExecution.left.exists(causes(_)
      .exists(c => String.valueOf(c.getMessage).contains("boom-at-execution"))),
      atExecution)
    assert(Harness.timedNoop(spark.range(3).toDF()).exists(_ >= 0.0))
  }

  test("minOf2 keeps the faster pass, and any failed pass fails the query") {
    val e = new RuntimeException("x")
    assert(Harness.minOf2(Right(2.0), Right(0.5)) == Right(0.5))
    assert(Harness.minOf2(Right(2.0), Left(e)) == Left(e))
    assert(Harness.minOf2(Left(e), Right(0.5)) == Left(e))
  }

  test("inPool runs every item, returns each failure by name, and leaves " +
    "no worker thread behind") {
    val ran = new AtomicInteger()
    val items = (1 to 12).map { i => s"item$i" -> (() => {
      ran.incrementAndGet()
      if (i == 12) throw new AssertionError("fail 12")
      if (i % 3 == 0) throw new RuntimeException(s"fail $i")
    })}
    val failed = Harness.inPool(items)
    assert(ran.get == 12)
    assert(failed.map(_._1) == Seq("item3", "item6", "item9", "item12"))
    assert(failed.map(_._2.getMessage) ==
      Seq("fail 3", "fail 6", "fail 9", "fail 12"))
    val workers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(Harness.PoolThreadPrefix))
    workers.foreach(_.join(10000))
    assert(workers.forall(!_.isAlive), workers.map(_.getName))
  }

  test("Bench's summary lists a throwing query under failed and leaves it " +
    "out of queries and value") {
    val line = Bench.summary(Seq(
      "q_a" -> Right(1.5),
      "q_bad" -> Harness.minOf2(Right(0.001), Left(new RuntimeException("x"))),
      "q_b" -> Right(0.25)), "/sf")
    assert(line.contains("\"failed\":[\"q_bad\"]"), line)
    assert(BenchGate.parseQueries(line) == Map("q_a" -> 1.5, "q_b" -> 0.25))
    assert(BenchGate.parseTotal(line).contains(1.75))
    val budget = """{"value":2.0,"queries":{"q_a":1.5,"q_bad":0.1,"q_b":0.25}}"""
    assert(BenchGate.violations(budget, line).exists(_.contains("MISSING q_bad")))
    assert(Bench.summary(Seq("q_a" -> Right(1.0)), "/sf")
      .contains("\"failed\":[],"))
  }
}
