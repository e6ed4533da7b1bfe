package graft

import scala.jdk.CollectionConverters._

/** Child processes this JVM starts, counted in-process from the JFR
  * `jdk.ProcessStart` event (every `ProcessBuilder.start`, whichever
  * thread or library calls it).
  */
object ProcessStarts {

  /** Run `body`; return its result and the command line of every
    * process started while it ran.
    */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = java.nio.file.Files.createTempFile("graft_procs", ".jfr")
    try {
      rec.dump(file)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command")))
    } finally { rec.close(); java.nio.file.Files.delete(file) }
  }
}
