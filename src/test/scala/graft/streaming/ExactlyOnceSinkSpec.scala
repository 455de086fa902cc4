package graft.streaming

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The footer count of committed batches: equal to a Spark count of
  * `readCommitted` over the same directory, and free of Spark jobs. */
class ExactlyOnceSinkSpec extends SparkSpec {

  /** Job starts `body` submits; events drain in order, so once a marker
    * job's end has been seen every earlier job start has been too. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
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

  test("committedCount equals readCommitted's count, with no Spark job") {
    val out = java.nio.file.Files.createTempDirectory("eo_count").toString
    val rows = spark.range(0, 500).select(col("id").as("doc_id"), (col("id") % 7).as("v"))
    assert(ExactlyOnceSink.writeBatch(rows.filter(col("doc_id") < 120), 0L, out))
    assert(ExactlyOnceSink.writeBatch(rows.limit(0), 1L, out)) // empty batch
    assert(ExactlyOnceSink.writeBatch(rows.filter(col("doc_id") >= 120).repartition(3), 2L, out))
    assert(ExactlyOnceSink.writeBatch(rows.filter(col("v") === 3), 3L, out))
    // torn: data, no marker
    rows.write.parquet(s"$out/batch_id=4")
    // a marker whose directory is gone
    new File(s"$out/_commits/5").createNewFile()
    val names = new File(s"$out/batch_id=2").list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)

    val expected = ExactlyOnceSink.readCommitted(spark, out).count()
    assert(expected == 120 + 380 + rows.filter(col("v") === 3).count())
    val (n, jobs) = jobsStartedBy(ExactlyOnceSink.committedCount(spark, out))
    assert(n == expected)
    assert(jobs == 0, s"$jobs Spark jobs started")
  }

  test("committedCount throws like readCommitted when nothing has committed") {
    val out = java.nio.file.Files.createTempDirectory("eo_none").toString
    spark.range(3).write.parquet(s"$out/batch_id=0") // torn only
    val read = intercept[IllegalArgumentException](ExactlyOnceSink.readCommitted(spark, out))
    val count = intercept[IllegalArgumentException](ExactlyOnceSink.committedCount(spark, out))
    assert(count.getMessage == read.getMessage)
  }
}
