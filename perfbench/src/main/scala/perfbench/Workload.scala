package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: seeded inputs, a closed-loop operation with one
  * client, an output check, and a traced pass that splits the operation by
  * layer. */
trait Workload {
  /** What one unit of `items_per_s` is on this workload. */
  def item: String

  /** Generator sizes, recorded with every result. */
  def sizes: Map[String, Any]

  /** Generate the seeded inputs under `dir` and provision them (parquet,
    * catalog tables, staged drops). Set-up calls it several times; the last
    * call's inputs are the ones measured. */
  def provision(dir: String): Unit

  /** Untimed operations run (and checked) at the end of set-up. */
  def warmupOps: Int = 1

  /** Operations come in cycles of this length; a run measures whole cycles. */
  def cycle: Int = 1

  /** Untimed preparation before operation `i` (for example a fresh watched
    * directory). */
  def beforeOp(i: Int): Unit = ()

  /** One timed operation; returns the items it processed. */
  def op(i: Int): Long

  /** Check the outputs of operation `i`, outside the timer: None when they
    * are correct, else what was wrong. */
  def check(i: Int): Option[String]

  /** A final check once the last operation has run, outside the timer. */
  def finish(): Option[String] = None

  /** Run `ops` traced operations (indices from `first`) and return this
    * workload's per-layer metrics. */
  def traced(tr: Tracer, first: Int, ops: Int): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, tmp: String): Workload = name match {
    case "pii_scan" => new PiiScan(spark, seed, tmp)
    case "catalog_tag" => new CatalogTag(spark, seed, tmp)
    case "stream_scan" => new StreamScan(spark, seed, tmp)
    case "near_dup" => new NearDup(spark, seed, tmp)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Helpers shared by the workloads. */
object Bench {
  /** Per-layer metrics of a workload that BENCHMARK.json does not time,
    * measured inside another workload's traced run: provision it, run one
    * checked warm-up operation, then one traced operation. */
  def folded(tr: Tracer, wl: Workload, name: String, dir: String, op: Int): Map[String, Double] = {
    val home = tr.workload
    wl.provision(dir)
    wl.beforeOp(op)
    wl.op(op)
    wl.check(op).foreach(m => throw new IllegalStateException(s"$name warm-up: $m"))
    tr.workload = name
    try wl.traced(tr, op + 1, 1)
    finally tr.workload = home
  }

  /** Evaluate every column of every row of `df` and discard the result. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Compute `df` now and keep the rows (outside any timer), as a new plan
    * with no lineage: a later query over the same source still reads the
    * source, where `persist` would silently serve it from memory. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
