package graft

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

/** Processes this JVM starts, seen through an in-process JFR recording of
  * `jdk.ProcessStart` events.
  */
object ProcessSpawns {

  /** The command line of every process any thread of this JVM started
    * while `body` ran.
    */
  def during(body: => Unit): Vector[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft-spawns", ".jfr")
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala.toVector
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(out)
    } finally rec.close()
  }
}
