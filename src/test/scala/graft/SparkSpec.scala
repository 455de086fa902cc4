package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite via lazy companion. The mains' config set
  * over a fixed local[4] / 4-partition layout, so test layout does not
  * follow the box. */
object SparkSpec {
  lazy val spark: SparkSession = util.Sessions.build("local[4]", "4")

  /** A fresh empty directory under the process's one scratch root
    * ([[util.SharedStages.root]]). It is not a pass-scoped scratch dir, so
    * a suite's fixture survives other suites' `releaseAll` calls; the
    * root's shutdown hook deletes it at JVM exit. */
  def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(util.SharedStages.root.toPath, tag + "-").toString
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Job starts `body` submits; events drain in order, so once a marker
    * job's end has been seen every earlier job start has been too. */
  protected def jobsStartedBy[T](body: => T): (T, Int) = {
    val starts = new java.util.concurrent.atomic.AtomicInteger()
    val markerEnds = new java.util.concurrent.LinkedBlockingQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = markerEnds.add(e.jobId)
    }
    def marker(): Int = {
      markerEnds.clear()
      spark.sparkContext.parallelize(Seq(1), 1).count() // exactly one job
      val deadline = System.nanoTime + 30L * 1000000000L
      while (markerEnds.isEmpty && System.nanoTime < deadline) Thread.sleep(10)
      assert(!markerEnds.isEmpty, "listener bus did not deliver the marker job")
      starts.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = marker()
      val out = body
      val after = marker()
      (out, after - before - 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
