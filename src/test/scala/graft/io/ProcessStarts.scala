package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes this JVM starts while a block runs: a Flight Recorder
  * recording of `jdk.ProcessStart`, read back from its file once the
  * block is done, so every event is counted whatever the recorder's
  * delivery timing. */
object ProcessStarts {

  /** `f`'s result and the command line of each process it started. */
  def during[T](f: => T): (T, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try f finally rec.stop()
      val file = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(file)
        (out, RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")))
      } finally Files.delete(file)
    } finally rec.close()
  }
}
