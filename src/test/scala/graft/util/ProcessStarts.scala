package graft.util

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** The operating-system processes this JVM starts while a block runs, as
  * JFR `jdk.ProcessStart` events (any thread, with stack traces). One kind
  * is left out: Spark's `ArtifactManager` deletes the artifact directory of
  * a session clone (every streaming query runs on one) with `rm -rf` on
  * the JVM's Cleaner thread once the GC collects the clone, so it lands in
  * whatever block runs at that moment and belongs to none. */
object ProcessStarts {

  def during[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      val file = java.nio.file.Paths.get(graft.SparkSpec.tempDir("process_starts"), "rec.jfr")
      try {
        rec.dump(file)
        (out, RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").filterNot(collectedClone))
      } finally java.nio.file.Files.deleteIfExists(file)
    } finally rec.close()
  }

  private def collectedClone(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName == "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner"))

  /** One line per event: the command and the innermost non-JDK frames. */
  def describe(events: Seq[RecordedEvent]): String = events.map { e =>
    val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      .filterNot(n => n.startsWith("java.") || n.startsWith("jdk."))
    s"${e.getString("command")} <- ${frames.take(4).mkString(" <- ")}"
  }.mkString("\n")
}
