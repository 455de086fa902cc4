package graft.cli

import org.apache.spark.sql.SparkSession

/** One-command corpus-curation driver — the production form of the x-query
  * curation surface: run the full pipeline over a testdata dir and write
  * each stage's artifact as parquet, the way a training-data prep job
  * ships its outputs to a staging lake.
  *
  *   runMain graft.cli.CurateCorpus [sfDir [outDir]]
  *
  * Stages (each an existing oracle-verified operator, composed here):
  *   1. clean        — x46 text normalization
  *   2. quality      — x09/s10 routing (keep / low_stopword / short)
  *   3. repetition   — x97 within-doc Gopher repetition flags
  *   4. boilerplate  — x87 span coverage + trim flags
  *   5. decontam     — x95 span-level benchmark leak audit
  *   6. dedup ledger — x83 cascade retention per source
  *   7. quarantine   — x82-style PII propagation is corpus-derived; here
  *                     the organic-corpus manifest (x77) carries the
  *                     cluster-atomic split + quarantine decisions
  *   8. schedule     — x88 epoch plan + x31 per-source budget slices
  *   9. summary      — one JSON line with per-stage row counts
  *
  * Everything runs through `SparkEntry.queries`, so the CLI can never
  * drift from the verified semantics: it IS the library surface, driven
  * end-to-end. Shared stages (wordcounts, bands, components) build once
  * and serve every stage that reads them — the same cross-query reuse the
  * bench measures.
  */
object CurateCorpus {

  /** The stage list: artifact name → SparkEntry query that produces it. */
  val stages: Seq[(String, String)] = Seq(
    "clean" -> "x46_clean_text",
    "quality" -> "x91_quality_vs_dup",
    "repetition" -> "x97_doc_repetition",
    "boilerplate" -> "x87_boilerplate_coverage",
    "decontam" -> "x95_span_contamination",
    "dedup_ledger" -> "x83_dedup_cascade",
    "manifest" -> "x77_split_manifest",
    "epoch_schedule" -> "x88_epoch_schedule",
    "budget_slices" -> "x31_mixture_budget")

  /** Run every stage, write each artifact, return (stage, rows) counts.
    * The parquet writer creates output directories itself (and accepts any
    * Hadoop URI, not just local paths — no local mkdirs here). Cache
    * lifetime is the CALLER's: library users embedding this pass next to
    * other in-process work release PersistScope/SharedStages themselves;
    * [[main]] releases both on exit. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] =
    stages.map { case (stage, query) =>
      val df = graft.SparkEntry.queries(query)(spark, sfDir)
      df.write.mode("overwrite").parquet(s"$outDir/$stage.parquet")
      val n = spark.read.parquet(s"$outDir/$stage.parquet").count()
      println(s"[curate] $stage ($query): $n rows -> $outDir/$stage.parquet")
      stage -> n
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/curated")
    val spark = graft.util.Sessions.get(Some(sfDir))
    val counts = run(spark, sfDir, outDir)
    graft.util.PersistScope.releaseAll()
    graft.util.SharedStages.releaseAll()
    println(counts.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{\"curate_summary\":{", ",", s"},\"sf\":\"$sfDir\"}"))
    spark.stop()
  }
}
