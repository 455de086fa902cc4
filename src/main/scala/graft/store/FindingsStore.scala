package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.LocalFs

/** Findings persistence + export (reference: db.py, cli.py:403-482).
  *
  * The reference's normalized Catalog→Schema→Table→Column→Finding SQLite
  * hierarchy (db.py:43-125) flattens to one findings table: the hierarchy
  * becomes groupBy dimensions; `column_ref` stays denormalized exactly as the
  * reference stores it (db.py:103-107). Sinks: parquet (analytic), JDBC
  * (operational), JSON/CSV export with the reference's fixed 8-column layout
  * and comma-joined types (S13).
  *
  * The file sinks ([[writeParquet]], [[exportCsv]], [[exportJson]]) register
  * [[graft.util.LocalFs]] on the frame's context before they write, as
  * `EventStream.toParquetBatches` does: a library caller's session is not
  * always built by `graft.util.Sessions`, and without it every file and
  * directory a `file:` write creates starts a `chmod` process. This changes
  * the context's Hadoop configuration (`fs.file.impl`,
  * `fs.AbstractFileSystem.file.impl`, no `file:` FileSystem cache), so the
  * caller's later `file:` writes on that context start no process either.
  */
object FindingsStore {

  val ExportColumns = Seq("id", "column_ref", "types", "confidence", "hit_rate",
    "model_version", "scanned_at", "source")

  /** Build finding rows from per-(column_ref, label) detection output. `scanned_at`
    * is one instant per call, read by a UDF so the projection compiles once per JVM. */
  def toFindings(detections: DataFrame, modelVersion: String, source: String): DataFrame = {
    val scannedAt = java.time.Instant.now()
    detections
      .groupBy("column_ref")
      .agg(
        sort_array(collect_set(col("label"))).as("types"),
        round(max(col("score")), 6).as("confidence"),
        round(avg(when(col("label").isNotNull, 1.0).otherwise(0.0)), 6).as("hit_rate"))
      .withColumn("model_version", lit(modelVersion))
      .withColumn("scanned_at", udf(() => scannedAt).asNonNullable()())
      .withColumn("source", lit(source))
  }

  def writeParquet(findings: DataFrame, path: String): Unit = {
    LocalFs.register(findings.sparkSession.sparkContext)
    findings.write.mode(SaveMode.Append).parquet(path)
  }

  /** Contiguous 1..N ids in `column_ref` order WITHOUT a global
    * single-partition window (r16 verdict #7: the unpartitioned
    * `row_number` moved the whole findings table to one task). Two-phase
    * rank decomposition: a range-partitioned sort puts each row in a
    * partition whose key range precedes every later partition's, per-
    * partition counts (a partitions-sized frame) prefix-sum into offsets
    * on the driver side of a broadcast, and the final id is offset +
    * row_number within the partition — the window is partitioned by the
    * sort partition, so no task ever holds more than its range slice.
    * Ties on column_ref get arbitrary ids, exactly like the global
    * orderBy window it replaces.
    *
    * Caveats: all rows of one dominant `column_ref` still land in one range
    * partition (the range boundaries cannot split a key), so one task holds
    * them all; and `localCheckpoint(true)` keeps the sorted rows only in
    * executor block storage, so a lost block fails the export instead of
    * being recomputed. */
  private[graft] def withSequentialId(findings: DataFrame): DataFrame = {
    val sorted = findings
      .repartitionByRange(col("column_ref"))
      .sortWithinPartitions("column_ref")
      .withColumn("__pid", spark_partition_id())
      // one range shuffle feeds both the count pass and the id pass —
      // and pins the (sampled) range boundaries so the two passes agree
      .localCheckpoint(true)
    val offsets = sorted.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(
        org.apache.spark.sql.expressions.Window.orderBy("__pid")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("__pid", "__off") // bounded: one row per partition
    sorted.join(broadcast(offsets), "__pid")
      .withColumn("id", (col("__off") + row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__pid")
          .orderBy("column_ref"))).cast("int"))
      .drop("__pid", "__off")
  }

  /** CSV export: types joined by "," (cli.py:455-456), stable column order,
    * row id assigned like the autoincrement PK. */
  def exportCsv(findings: DataFrame, path: String): Unit = {
    LocalFs.register(findings.sparkSession.sparkContext)
    withSequentialId(findings)
      .withColumn("types", array_join(col("types"), ","))
      .select(ExportColumns.map(col): _*)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** JSON export (pretty array in the reference; JSONL here — the analytic
    * equivalent; cli.py:441-452). */
  def exportJson(findings: DataFrame, path: String): Unit = {
    LocalFs.register(findings.sparkSession.sparkContext)
    withSequentialId(findings)
      .select(ExportColumns.map(col): _*)
      .write.mode(SaveMode.Overwrite).json(path)
  }
}
