package graft.cli

import org.apache.spark.sql.functions._

import graft.catalog.{Connectors, WriteBack}
import graft.detect.Metadata
import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.functions.pii_candidates_rows
import graft.sample.Sampler

/** CLI twin of the reference's `cps scan --apply` (cli.py:57-124, §3.1):
  * enumerate catalog columns → metadata keyword hints → sample column values
  * → run the detection query on samples → fuse per-column findings → apply
  * idempotent tag write-back.
  *
  * With no args it self-provisions a demo database from the sf0.001 customer
  * parquet so the whole loop runs end-to-end locally:
  *   runMain graft.cli.ScanCatalog [dbGlob [tableGlob]]
  */
object ScanCatalog {
  def main(args: Array[String]): Unit = {
    val dbGlob = args.headOption.getOrElse("demo_scan")
    val tableGlob = args.lift(1).getOrElse("*")
    val spark = graft.util.Sessions.get(hive = true) // the HMS connector needs Hive
    import spark.implicits._

    if (args.isEmpty) { // self-provision the demo target
      spark.sql("CREATE DATABASE IF NOT EXISTS demo_scan")
      graft.queries.PiiInputs.df(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("text").as("notes"),
          concat(lit("user"), col("doc_id"), lit("@example.com")).as("primary_email"))
        .write.mode("overwrite").saveAsTable("demo_scan.users")
    }

    // 1. Enumerate columns (S3/S6 analogue over the session catalog).
    val columns = Connectors.iterColumns(spark, Seq(dbGlob), Seq(tableGlob)).collect()
    println(s"[scan] ${columns.length} columns enumerated")

    // 2. Metadata keyword hints on column names/comments (C20).
    val meta = columns.toSeq
      .map(c => (s"${c.schema}.${c.table}.${c.column}", "name", c.column))
      .toDF("doc_id", "field", "value")
    val hints = Metadata.keywordCandidates(meta, Metadata.keywordTable(spark))
      .select(col("doc_id").as("column_ref"), col("rule_label").as("label"), lit(0.6).as("score"))

    // 3. Sample string column values + detect (S7 -> §3.2 detection query).
    val detections = columns.filter(_.dataType == "string").toSeq.map { c =>
      val samples = Sampler.sampleColumn(
        spark.table(s"`${c.schema}`.`${c.table}`"), c.column, 50,
        mode = Sampler.Rand(42))
      val cands = samples.toDF("value")
        .select(pii_candidates_rows(col("value").cast("string")).as(Seq("idx", "c")))
      PiiEnsemble.withPredictionOffline(cands,
          col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
          Calibrator.identity, Weights.runtimeDefault)
        .select(lit(s"${c.schema}.${c.table}.${c.column}").as("column_ref"),
          col("pred.label").as("label"), col("pred.score").as("score"))
    }.reduceOption(_ unionByName _).getOrElse(hints.limit(0))

    // 4. Findings rollup + write-back payload.
    val findings = graft.store.FindingsStore.toFindings(
      detections.unionByName(hints), modelVersion = "offline-0.1", source = "session-catalog")
    findings.orderBy("column_ref").show(20, truncate = 60)

    val tags = findings
      .withColumn("parts", split(col("column_ref"), "\\."))
      .select(element_at(col("parts"), 1).as("schema"), element_at(col("parts"), 2).as("table"),
        element_at(col("parts"), 3).as("column"), col("types"))
    val applied = WriteBack.applyTags(spark, tags)
    val again = WriteBack.applyTags(spark, tags)
    println(s"[scan] write-back: applied=$applied re-run(no-op)=$again")
    spark.stop()
  }
}
