package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the child processes this JVM starts, from Flight Recorder's
  * `jdk.ProcessStart` events (this JVM only). */
object ProcessCensus {

  /** `body`'s result and the executable name (`chmod`, `readlink`, ...)
    * of every process the JVM started while it ran. */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(file)
      val names = RecordingFile.readAllEvents(file).asScala.toSeq
        .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
      (out, names)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** How many of `names` are `chmod` or `readlink`. */
  def forks(names: Seq[String]): Int = names.count(n => n == "chmod" || n == "readlink")
}
