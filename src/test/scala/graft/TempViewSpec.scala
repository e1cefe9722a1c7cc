package graft

/** Verify runs queries concurrently on one shared session, so a query must
  * leave no session-global name behind: the two that reach SQL text
  * through a named view leave no temporary view registered once built and
  * run. */
class TempViewSpec extends SparkSpec {

  test("q_lateral_topk and q_sql_api leave no temporary view behind") {
    // a session of its own: other specs in this JVM name memory sinks
    val s = spark.newSession()
    Seq("q_lateral_topk", "q_sql_api").foreach { name =>
      Harness.noop(SparkEntry.queries(name)(s, sfDir))
      val views = s.catalog.listTables().collect().filter(_.isTemporary)
      assert(views.isEmpty, s"$name left temporary views: ${views.map(_.name).toSeq}")
    }
  }
}
