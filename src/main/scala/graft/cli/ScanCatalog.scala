package graft.cli

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteNameParts
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.catalog.{Connectors, WriteBack}
import graft.detect.Metadata
import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.functions.pii_candidates_rows
import graft.sample.Sampler

/** CLI twin of the reference's `cps scan --apply` (cli.py:57-124, §3.1): [[scan]]
  * once, print the findings, then tag write-back twice (the second alters nothing).
  *
  * With no args it self-provisions a demo database from the sf0.001 customer
  * parquet so the whole loop runs end-to-end locally:
  *   runMain graft.cli.ScanCatalog [dbGlob [tableGlob]]
  */
object ScanCatalog {

  /** One pass, evaluated once: enumerate → keyword hints (C20) → sample 50
    * values per string column → detect (S7 → §3.2) → roll up, keyed by the
    * column's position (`column_ref` is display only). Returns `toFindings`
    * rows in `column_ref` order, led by `schema`, `table` and `column`. */
  def scan(spark: SparkSession, dbGlobs: Seq[String], tableGlobs: Seq[String]): Seq[Row] = {
    import spark.implicits._
    val columns = Connectors.columns(spark, dbGlobs, tableGlobs).toIndexedSeq

    val meta = columns.zipWithIndex.map { case (c, i) => (i.toString, "name", c.column) }
      .toDF("doc_id", "field", "value")
    val hints = Metadata.keywordCandidates(meta, Metadata.keywordTable(spark))
      .select(col("doc_id").as("column_ref"), col("rule_label").as("label"), lit(0.6).as("score"))

    val detections = columns.zipWithIndex.collect { case (c, i) if c.dataType == "string" =>
      val samples = Sampler.sampleColumn(spark.table(quoteNameParts(Seq(c.schema, c.table))),
        c.column, 50, mode = Sampler.Rand(42))
      val cands = samples.toDF("value")
        .select(pii_candidates_rows(col("value").cast("string")).as(Seq("idx", "c")))
      PiiEnsemble.withPredictionOffline(cands,
          col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
          Calibrator.identity, Weights.runtimeDefault)
        .select(lit(i.toString).as("column_ref"),
          col("pred.label").as("label"), col("pred.score").as("score"))
    }.reduceOption(_ unionByName _).getOrElse(hints.limit(0))

    val findings = graft.store.FindingsStore.toFindings(
      detections.unionByName(hints), modelVersion = "offline-0.1", source = "session-catalog")
    val schema = StructType(Seq("schema", "table", "column").map(StructField(_, StringType)) ++ findings.schema)
    findings.collect().toSeq.map { r =>
      val c = columns(r.getAs[String]("column_ref").toInt)
      val display = r.toSeq.updated(r.fieldIndex("column_ref"), s"${c.schema}.${c.table}.${c.column}")
      new GenericRowWithSchema((Seq(c.schema, c.table, c.column) ++ display).toArray, schema): Row
    }.sortBy(_.getAs[String]("column_ref"))
  }

  def main(args: Array[String]): Unit = {
    val dbGlob = args.headOption.getOrElse("demo_scan")
    val tableGlob = args.lift(1).getOrElse("*")
    val spark = graft.util.Sessions.get(hive = true) // the HMS connector needs Hive

    if (args.isEmpty) { // self-provision the demo target
      spark.sql("CREATE DATABASE IF NOT EXISTS demo_scan")
      graft.queries.PiiInputs.df(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("text").as("notes"),
          concat(lit("user"), col("doc_id"), lit("@example.com")).as("primary_email"))
        .write.mode("overwrite").saveAsTable("demo_scan.users")
    }

    val findings = scan(spark, Seq(dbGlob), Seq(tableGlob))
    if (findings.nonEmpty) // a local frame: show starts no job
      spark.createDataFrame(java.util.Arrays.asList(findings: _*), findings.head.schema)
        .drop("schema", "table", "column").show(20, truncate = 60)
    val applied = WriteBack.applyTags(spark, findings)
    val again = WriteBack.applyTags(spark, findings)
    println(s"[scan] write-back: applied=$applied re-run(no-op)=$again")
    spark.stop()
  }
}
