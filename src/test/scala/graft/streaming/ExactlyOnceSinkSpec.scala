package graft.streaming

import java.io.File
import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local filesystem served under a scheme of its own, so a sink on it
  * must resolve every path through Hadoop to land where its data lands. */
class SchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SchemeFs.Scheme}:///")
}
object SchemeFs { val Scheme = "eotest" }

/** The footer count of committed batches: equal to a Spark count of
  * `readCommitted` over the same directory, and free of Spark jobs. The
  * sink's files go through the Hadoop FileSystem of the output path. */
class ExactlyOnceSinkSpec extends SparkSpec {

  test("committedCount equals readCommitted's count, with no Spark job") {
    val out = SparkSpec.tempDir("eo_count")
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
    val out = SparkSpec.tempDir("eo_none")
    spark.range(3).write.parquet(s"$out/batch_id=0") // torn only
    val read = intercept[IllegalArgumentException](ExactlyOnceSink.readCommitted(spark, out))
    val count = intercept[IllegalArgumentException](ExactlyOnceSink.committedCount(spark, out))
    assert(count.getMessage == read.getMessage)
  }

  test("markers, listings and counts follow outDir's Hadoop filesystem") {
    spark.sparkContext.hadoopConfiguration.set(s"fs.${SchemeFs.Scheme}.impl", classOf[SchemeFs].getName)
    val local = SparkSpec.tempDir("eo_scheme")
    val out = s"${SchemeFs.Scheme}://$local"
    val rows = spark.range(0, 90).select(col("id").as("doc_id"), (col("id") % 4).as("v"))
    assert(ExactlyOnceSink.writeBatch(rows.filter(col("v") === 1), 0L, out))
    assert(ExactlyOnceSink.writeBatch(rows.filter(col("v") =!= 1).repartition(2), 1L, out))
    // a replay of a committed batch writes nothing
    assert(!ExactlyOnceSink.writeBatch(rows, 0L, out))
    // a torn batch stays invisible
    rows.write.parquet(s"$out/batch_id=2")

    assert(new File(s"$local/_commits/0").isFile && new File(s"$local/_commits/1").isFile)
    assert(!new File(s"$local/_commits/2").exists)
    // java.io.File would have read the URI as a relative path in the cwd
    assert(!new File(s"${SchemeFs.Scheme}:").exists)
    val read = ExactlyOnceSink.readCommitted(spark, out)
    assert(read.count() == 90)
    assert(read.select("batch_id").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    assert(ExactlyOnceSink.committedCount(spark, out) == 90)
  }
}
