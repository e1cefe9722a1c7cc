package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.{Args, Reporter}
import org.scalatest.events.{Event, TestSucceeded}

/** The suites of a forked test group share one session: each suite's
  * `afterAll` must leave it without running queries or temporary views. */
class SessionReleaseSpec extends SparkSpec {

  private def tempViews: Seq[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq

  test("a SparkSpec suite that leaves a memory sink running releases its " +
    "query and view when it completes") {
    val inner = new SparkSpec {
      test("starts a memory sink and does not stop it") {
        import spark.implicits._
        val in = MemoryStream[Long](spark)
        val q = in.toDS().writeStream.format("memory")
          .queryName("release_probe_out").outputMode("append").start()
        in.addData(1L, 2L)
        q.processAllAvailable()
        assert(spark.table("release_probe_out").count() == 2)
        assert(spark.streams.active.nonEmpty)
      }
    }
    val events = ArrayBuffer.empty[Event]
    val status = inner.run(None,
      Args(new Reporter { def apply(e: Event): Unit = events += e }))
    assert(status.succeeds())
    assert(events.count(_.isInstanceOf[TestSucceeded]) == 1, events)
    assert(spark.streams.active.isEmpty)
    assert(tempViews.isEmpty, tempViews)
  }
}
