package graft.cli

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.pii_candidates_rows
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
  * Fixed cost of one run over one new drop: one write job for the
  * micro-batch and nothing else on the cluster. The input schema is
  * inferred once, by Spark's own inference on the first run over a
  * checkpoint, and pinned beside it (`inputSchema`), so later runs start
  * no probe job. The returned count is read from the committed batches'
  * parquet footers on the driver ([[ExactlyOnceSink.committedCount]]) with
  * no job. The query starts without artifact isolation and with
  * [[graft.util.LocalFs]] registered ([[EventStream.toParquetBatches]]), so
  * its write classes compile once per JVM and its checkpoint, data and
  * marker files are written without starting a process.
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
    val checkpoint = s"$outDir/_checkpoint"
    val input = spark.readStream.schema(inputSchema(spark, inDir, checkpoint)).parquet(inDir)
    EventStream.awaitDone(
      EventStream.toParquetBatches(findings(input, idCol, textCol), outDir, checkpoint))
    ExactlyOnceSink.committedCount(spark, outDir)
  }

  /** The incremental scan's projection, one row per rule-layer candidate:
    * (doc_id, candidate_idx, value, rule_label, rule_confidence). Stateless,
    * so it serves any source, streaming or batch. */
  def findings(input: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    input.select(col(idCol).cast("long").as("doc_id"),
        pii_candidates_rows(col(textCol).cast("string")).as(Seq("candidate_idx", "c")))
      .select(col("doc_id"), col("candidate_idx"),
        col("c.value").as("value"), col("c.rule_label").as("rule_label"),
        col("c.rule_confidence").as("rule_confidence"))

  /** The input schema, fixed per checkpoint as for any Structured Streaming
    * file source: read from `<checkpoint>/input_schema.json` when present,
    * else inferred by Spark (`spark.read.parquet(inDir).schema`, one job)
    * and written there atomically (temp file, then rename). A checkpoint
    * from before pinning has no file, so its next run infers once and pins. */
  private def inputSchema(spark: SparkSession, inDir: String, checkpoint: String): StructType = {
    val pinned = new Path(checkpoint, "input_schema.json")
    val fs = pinned.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(pinned)
      try DataType.fromJson(new String(in.readAllBytes(), UTF_8)).asInstanceOf[StructType]
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException =>
        val schema = spark.read.parquet(inDir).schema
        val tmp = new Path(checkpoint, s".input_schema.json.${java.util.UUID.randomUUID}.tmp")
        val out = fs.create(tmp, false)
        try out.write(schema.json.getBytes(UTF_8)) finally out.close()
        if (!fs.rename(tmp, pinned)) throw new java.io.IOException(s"could not rename $tmp to $pinned")
        schema
    }
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
