package graft.store

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.util.SharedStages

/** `toFindings` binds one `scanned_at` per call without making the
  * generated projection differ from call to call. */
class FindingsStoreSpec extends SparkSpec {

  private def findings(i: Int): DataFrame = {
    import spark.implicits._
    FindingsStore.toFindings(
      Seq((s"db.t$i.c1", Some("EMAIL"), 0.9), (s"db.t$i.c1", None, 0.1), (s"db.t$i.c2", Some("SSN"), 0.8 - i / 100.0))
        .toDF("column_ref", "label", "score"), "offline-0.1", "spec")
  }

  test("a second toFindings + writeParquet of the same shape compiles no code") {
    val out = SharedStages.scratch("findings_codegen")
    FindingsStore.writeParquet(findings(0), s"$out/a")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    FindingsStore.writeParquet(findings(1), s"$out/b")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
    assert(spark.read.parquet(s"$out/b").count() == 2)
  }

  test("scanned_at is one non-null instant per frame, not earlier than the previous frame's") {
    val stamps = (0 until 2).map { i =>
      val at = findings(i).select("scanned_at").distinct().collect()
      assert(at.length == 1 && !at.head.isNullAt(0))
      at.head.getTimestamp(0)
    }
    assert(!stamps(1).before(stamps(0)))
  }

  test("the findings schema keeps its names, types and nullability") {
    assert(findings(0).schema == StructType(Seq(
      StructField("column_ref", StringType, nullable = true),
      StructField("types", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("confidence", DoubleType, nullable = true),
      StructField("hit_rate", DoubleType, nullable = true),
      StructField("model_version", StringType, nullable = false),
      StructField("scanned_at", TimestampType, nullable = false),
      StructField("source", StringType, nullable = false))))
  }
}
