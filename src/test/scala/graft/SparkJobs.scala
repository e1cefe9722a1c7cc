package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. */
object SparkJobs {

  /** Spark jobs `body` starts: counted by a listener up to a marker job
    * submitted after it, so every earlier job-start event has arrived. */
  def jobsIn(spark: SparkSession)(body: => Unit): Int = {
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobs-in-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile { d =>
          assert(d != null, "marker job never reached the listener")
          d != "jobs-in-marker"
        }.size
    } finally sc.removeSparkListener(listener)
  }
}
