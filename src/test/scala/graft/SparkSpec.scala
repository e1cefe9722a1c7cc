package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per JVM, lazily). Suites in a
  * forked test group run one after another on that session, so each
  * suite's `afterAll` stops the streaming queries it left running and
  * drops its temporary views (memory sinks register one per query name). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      s.streams.active.foreach(_.stop())
      s.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => s.catalog.dropTempView(t.name))
    } finally super.afterAll()
}

object SparkSpec {
  // explicit 4 cores: the suite runs as four forked JVMs (build.sbt)
  lazy val session: SparkSession = Harness.session(4)
}
