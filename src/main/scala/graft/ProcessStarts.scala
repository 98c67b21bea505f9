package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Records the child processes this JVM starts from now on: an
  * in-process JFR recording with only `jdk.ProcessStart` enabled.
  */
final class ProcessStarts {
  private val event = "jdk.ProcessStart"
  private val rec = new Recording()
  rec.enable(event)
  rec.start()

  /** Ends the recording; returns the command line of each process
    * started since it began.
    */
  def stop(): Seq[String] = {
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.stop()
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == event)
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }
}
