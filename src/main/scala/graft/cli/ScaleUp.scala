package graft.cli

import org.apache.spark.sql.functions._

/** Synthetic scale-out generator: writes an N-fold id-offset union of the
  * documents and embeddings tables to a local dir (the x60 in-query pattern,
  * materialized), copying the remaining tables through untouched. Exact
  * copies are deliberate: every doc gains N−1 perfect near-dups, so the
  * MinHash band buckets, the dup-cluster graph, and the passage/winnow pair
  * generators all get the dense-skewed shape that a crawl corpus with heavy
  * boilerplate produces — the stress the small SFs can't exercise.
  *
  *   runMain graft.cli.ScaleUp /root/testdata/sf0.1 /tmp/sfbig 10
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sfbig"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.util.Sessions.get(Some(src))
    new java.io.File(out).mkdirs()

    def scale(table: String, idCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val strides = idCols.map(c =>
        c -> (df.agg(max(col(c).cast("long"))).first().getLong(0) + 1))
      val cloned = strides.foldLeft(
        df.select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("__i"))) {
        case (acc, (c, stride)) => acc.withColumn(c, col(c) + col("__i") * stride)
      }
      cloned.drop("__i")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table: ${df.count()} x $copies rows " +
        s"(strides ${strides.map { case (c, v) => s"$c=$v" }.mkString(", ")})")
    }
    scale("documents", Seq("doc_id"))
    scale("embeddings", Seq("vec_id"))
    // Events clone with BOTH ids offset: the user population multiplies
    // (each clone is a full behavioral twin cohort), so sessionize/funnel/
    // cohort/stream state all carry copies× keys — the per-user-state
    // stress documents alone can't produce. Customer clones multiply every
    // (nation, segment, band) equivalence class copies× with the SAME
    // quasi-identifiers — the k-anonymity/l-diversity release stress.
    scale("events", Seq("event_id", "user_id"))
    scale("customer", Seq("c_custkey"))

    // Pass the remaining tables through so any query runs against the dir.
    val scaled = Set("documents.parquet", "embeddings.parquet",
      "events.parquet", "customer.parquet")
    val passthrough = new java.io.File(src).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
      .filterNot(scaled.contains)
    passthrough.foreach { name =>
      spark.read.parquet(s"$src/$name").write.mode("overwrite").parquet(s"$out/$name")
      println(s"[scaleup] $name: passthrough")
    }
    spark.stop()
  }
}
