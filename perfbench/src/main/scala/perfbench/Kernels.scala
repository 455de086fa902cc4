package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Kernel ns/row harness: select just one custom expression over a cached
  * input to the noop sink and report executor CPU ns per input row, less
  * the CPU of passing the same cached input to the sink unchanged. Each
  * figure is the median of three passes. */
final case class Kernels(spark: SparkSession, tr: Tracer) {
  private val Passes = 3

  private def cpuNs(span: String, df: DataFrame): Double = Bench.median((1 to Passes).map { _ =>
    tr(span)(Bench.noop(df))
    tr.drain()
    tr.sparkOf(tr.last(span)).cpuNs.toDouble
  })

  def nsPerRow(name: String, input: DataFrame, kernel: Column): Double = {
    val rows = input.count()
    if (rows == 0) 0.0
    else {
      val base = cpuNs(s"kernel.$name.baseline", input)
      val k = cpuNs(s"kernel.$name", input.select(kernel.as("k")))
      math.max(0.0, k - base) / rows
    }
  }
}
