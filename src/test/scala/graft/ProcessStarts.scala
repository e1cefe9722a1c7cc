package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the operating-system processes a block starts. */
object ProcessStarts {

  /** Command lines of the processes `body` started (JFR's
    * `jdk.ProcessStart`) that name `marker`, e.g. the test's temp dir:
    * suites running beside it in the same JVM start processes of their
    * own. */
  def during(marker: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filter(_.contains(marker))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
