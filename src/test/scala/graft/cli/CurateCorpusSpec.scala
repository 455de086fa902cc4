package graft.cli

import graft.SparkSpec

/** End-to-end drive of the one-command curation pipeline: every stage
  * artifact lands as readable parquet with consistent cardinalities. The
  * per-stage SEMANTICS are each oracle-verified through SparkEntry; this
  * spec pins the composition — the thing a user actually runs. */
class CurateCorpusSpec extends SparkSpec {

  test("curate pipeline writes every stage artifact with consistent counts") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkSpec.tempDir("curate_spec")
    val counts = CurateCorpus.run(spark, sf, out).toMap
    assert(counts.keySet == CurateCorpus.stages.map(_._1).toSet)
    // per-doc artifacts carry the whole corpus
    assert(counts("clean") == 500)
    assert(counts("repetition") == 500)
    assert(counts("boilerplate") == 500)
    // decontam is hit-pair-shaped: only (doc, benchmark item) overlaps
    assert(counts("decontam") > 0 && counts("decontam") < 500)
    assert(counts("budget_slices") == 500) // mixture budgets exceed sf0.001 sources
    // per-source artifacts carry every source
    assert(counts("dedup_ledger") == 20)
    assert(counts("epoch_schedule") == 20)
    // the quality cross-tab is the 3-route table
    assert(counts("quality") == 3)
    // the split manifest covers the non-benchmark corpus (doc_id >= 10)
    assert(counts("manifest") == 490)
    // artifacts are readable back and carry the columns downstream consumes
    val manifest = spark.read.parquet(s"$out/manifest.parquet")
    assert(manifest.columns.contains("disposition") && manifest.columns.contains("doc_id"))
    val sched = spark.read.parquet(s"$out/epoch_schedule.parquet")
    assert(sched.columns.contains("effective_tokens"))
    val rep = spark.read.parquet(s"$out/repetition.parquet")
    assert(rep.columns.contains("flagged") && rep.columns.contains("top_2gram_frac"))
    val dec = spark.read.parquet(s"$out/decontam.parquet")
    assert(dec.columns.contains("flagged") && dec.columns.contains("max_span_tokens"))
  }
}
