package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.pii_candidates
import graft.streaming.{EventStream, ExactlyOnceSink}

/** Incremental twin of `cps scan` (the reference is batch-only): watch a
  * directory of parquet drops carrying an (id, text) shape, run the
  * one-pass detection expression per micro-batch (stateless — no state
  * store at any input rate), and land findings through the exactly-once
  * sink. Re-running after a crash, or re-delivering a batch, cannot
  * duplicate findings; committed output is always readable mid-run via
  * [[ExactlyOnceSink.readCommitted]]. New files dropped into the input dir
  * between runs are picked up from the checkpoint (same contract as any
  * Structured Streaming file source).
  *
  * Fixed Spark cost of one run over one new drop: one schema-probe job
  * (`spark.read.parquet(inDir).schema`), one write job for the micro-batch,
  * and the returned count, which is read from the committed batches' parquet
  * footers on the driver ([[ExactlyOnceSink.committedCount]]) with no job.
  * The query starts without artifact isolation
  * ([[EventStream.toParquetBatches]]), so its write classes compile once per
  * JVM rather than once per run.
  *
  *   runMain graft.cli.ScanStream <inDir> <outDir> [idCol textCol]
  *
  * With no args it self-provisions demo input from the sf0.001 customer
  * sample and prints the committed finding count.
  */
object ScanStream {

  /** One AvailableNow pass: drain whatever the source holds, exactly-once.
    * Returns the total committed finding count. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          idCol: String = "doc_id", textCol: String = "text"): Long = {
    val schema = spark.read.parquet(inDir).schema
    val findings = spark.readStream.schema(schema).parquet(inDir)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(pii_candidates(col(textCol).cast("string"))).as(Seq("candidate_idx", "c")))
      .select(col("doc_id"), col("candidate_idx"),
        col("c.value").as("value"), col("c.rule_label").as("rule_label"),
        col("c.rule_confidence").as("rule_confidence"))
    val q = EventStream.toParquetBatches(findings, outDir, s"$outDir/_checkpoint")
    EventStream.awaitDone(q)
    ExactlyOnceSink.committedCount(spark, outDir)
  }

  def main(args: Array[String]): Unit = {
    // Sized by the input dir; the demo writes its input after the session
    // exists, so it gets the rule's floor.
    val spark = graft.util.Sessions.get(Some(args).collect { case Array(i, _, _*) => i })
    val (inDir, outDir) = args match {
      case Array(i, o, _*) => (i, o)
      case _ =>
        val tmp = java.nio.file.Files.createTempDirectory("scanstream").toString
        graft.queries.PiiInputs.df(spark, "/root/testdata/sf0.001")
          .write.parquet(s"$tmp/in")
        (s"$tmp/in", s"$tmp/out")
    }
    val (idCol, textCol) = (args.lift(2).getOrElse("doc_id"), args.lift(3).getOrElse("text"))
    val n = run(spark, inDir, outDir, idCol, textCol)
    println(s"""{"committed_findings": $n, "out": "$outDir"}""")
    spark.stop()
  }
}
