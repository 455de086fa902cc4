package graft.cli

import java.io.File
import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DataType, MetadataBuilder}

import graft.SparkSpec
import graft.streaming.ExactlyOnceSink
import graft.util.ProcessStarts

/** The incremental scan CLI core: exactly-once findings equal the batch
  * detection, and a second run over the same checkpoint is a no-op. */
class ScanStreamSpec extends SparkSpec {

  test("incremental scan equals batch detection and re-runs commit nothing new") {
    val tmp = SparkSpec.tempDir("scanstream_spec")
    val inputs = graft.queries.PiiInputs.df(spark, "/root/testdata/sf0.001")
    inputs.write.parquet(s"$tmp/in")
    val n1 = ScanStream.run(spark, s"$tmp/in", s"$tmp/out")
    val batch = inputs
      .select(col("doc_id"), posexplode(graft.functions.pii_candidates(col("text")))
        .as(Seq("candidate_idx", "c")))
      .select(col("doc_id"), col("candidate_idx"), col("c.value").as("value"))
      .collect().map(_.mkString("|")).sorted
    val streamed = ExactlyOnceSink.readCommitted(spark, s"$tmp/out")
      .select("doc_id", "candidate_idx", "value")
      .collect().map(_.mkString("|")).sorted
    assert(n1 == batch.length)
    assert(streamed.sameElements(batch))
    // same checkpoint, no new files: nothing recommitted, count unchanged
    val n2 = ScanStream.run(spark, s"$tmp/in", s"$tmp/out")
    assert(n2 == n1)
    // a new drop is picked up incrementally on the next run
    inputs.limit(7)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .write.mode("append").parquet(s"$tmp/in")
    val n3 = ScanStream.run(spark, s"$tmp/in", s"$tmp/out")
    assert(n3 > n1, s"new drop must add findings: $n3 vs $n1")
  }

  test("a run over a new drop compiles nothing, keeps the caller's conf and its listeners") {
    val key = "spark.sql.artifact.isolation.enabled"
    val child = spark.newSession()
    child.conf.set(key, "true")
    val tmp = SparkSpec.tempDir("scanstream_loader")
    val inputs = child.range(40).select(col("id").as("doc_id"),
      concat(lit("card 4111 1111 1111 1111, mail user"), col("id"), lit("@example.com")).as("text"))
    inputs.write.parquet(s"$tmp/in")
    val n1 = ScanStream.run(child, s"$tmp/in", s"$tmp/out")
    assert(child.conf.get(key) == "true")

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    child.streams.addListener(listener)
    try {
      inputs.limit(7).withColumn("doc_id", col("doc_id") + 1000000)
        .write.mode("append").parquet(s"$tmp/in")
      // Each streaming query runs on a session clone; with artifact
      // isolation on, every clone brought a new executor class loader and
      // the codegen cache missed on every class of the micro-batch.
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n2 = ScanStream.run(child, s"$tmp/in", s"$tmp/out")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles0)
      assert(n2 > n1, s"new drop must add findings: $n2 vs $n1")
      assert(child.conf.get(key) == "true")
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!progress.contains(7L) && System.nanoTime < deadline) Thread.sleep(20)
      assert(progress.contains(7L), s"child's listener saw no 7-row batch: $progress")
    } finally child.streams.removeListener(listener)

    // The conf survives a failing run: before the query starts (no input
    // dir) and inside start() (a file where the checkpoint dir must go).
    intercept[Exception](ScanStream.run(child, s"$tmp/missing", s"$tmp/out2"))
    assert(child.conf.get(key) == "true")
    val blocked = new java.io.File(s"$tmp/out3/_checkpoint")
    blocked.getParentFile.mkdirs()
    assert(blocked.createNewFile())
    intercept[Exception](ScanStream.run(child, s"$tmp/in", s"$tmp/out3"))
    assert(child.conf.get(key) == "true")
    // an unset key is unset again afterwards, not pinned to a value
    child.conf.unset(key)
    ScanStream.run(child, s"$tmp/in", s"$tmp/out")
    assert(!child.conf.getAll.contains(key))
  }

  /** A 40-doc input dir and an `append(k)` that drops 7 more docs. */
  private def stream(name: String): (String, Int => Unit) = {
    val tmp = SparkSpec.tempDir(name)
    val tagged = new MetadataBuilder().putString("pii", "free text").build()
    val inputs = spark.range(40).select(col("id").as("doc_id"),
      concat(lit("card 4111 1111 1111 1111, mail user"), col("id"), lit("@example.com"))
        .as("text", tagged))
    inputs.write.parquet(s"$tmp/in")
    (tmp, k => inputs.limit(7).withColumn("doc_id", col("doc_id") + 1000L * k)
      .write.mode("append").parquet(s"$tmp/in"))
  }

  test("the input schema is inferred once per checkpoint and pinned; later runs start one job") {
    val (tmp, append) = stream("scanstream_pin")
    val pinned = new File(s"$tmp/out/_checkpoint/input_schema.json")
    val (_, firstJobs) = jobsStartedBy(ScanStream.run(spark, s"$tmp/in", s"$tmp/out"))
    assert(firstJobs == 2, s"first run: schema probe + write, got $firstJobs jobs")
    val probe = spark.read.parquet(s"$tmp/in").schema
    assert(probe("text").metadata.contains("pii"), probe)
    assert(DataType.fromJson(Files.readString(pinned.toPath)) == probe)

    append(1)
    val (n2, jobs) = jobsStartedBy(ScanStream.run(spark, s"$tmp/in", s"$tmp/out"))
    assert(jobs == 1, s"second run started $jobs jobs")
    assert(n2 == ExactlyOnceSink.readCommitted(spark, s"$tmp/out").count())

    // A checkpoint written before pinning has no schema file: probe once, then pin.
    assert(pinned.delete())
    append(2)
    assert(jobsStartedBy(ScanStream.run(spark, s"$tmp/in", s"$tmp/out"))._2 == 2)
    assert(DataType.fromJson(Files.readString(pinned.toPath)) == probe)
    append(3)
    assert(jobsStartedBy(ScanStream.run(spark, s"$tmp/in", s"$tmp/out"))._2 == 1)
    assert(new File(s"$tmp/out/_checkpoint").list().forall(n => !n.contains(".tmp")))
  }

  test("a run over a new drop starts no operating-system process") {
    val (tmp, append) = stream("scanstream_forks")
    val n1 = ScanStream.run(spark, s"$tmp/in", s"$tmp/out")
    append(1)
    val (n2, starts) = ProcessStarts.during(ScanStream.run(spark, s"$tmp/in", s"$tmp/out"))
    assert(n2 > n1)
    assert(starts.isEmpty, s"${starts.size} process starts:\n${ProcessStarts.describe(starts)}")
    // the probe sees a process the JVM does start
    val (_, control) = ProcessStarts.during(new ProcessBuilder("true").start().waitFor())
    assert(control.size == 1, ProcessStarts.describe(control))
  }
}
