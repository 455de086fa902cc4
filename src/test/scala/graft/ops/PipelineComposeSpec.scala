package graft.ops

import graft.SparkSpec

/** x50's dispositions on a planted corpus — the testdata corpus has no
  * exact duplicates, so the exact_dup branch (and the precedence order)
  * must be exercised synthetically: identical pair, near pair, a near copy
  * of a benchmark doc (contaminated beats near_dup), and uniques. */
class PipelineComposeSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("curation pipeline: all four dispositions, bins only for kept docs") {
    val tmp = SparkSpec.tempDir("x50spec")
    val bench = (0L until 10L).map(i => (i, words(s"b$i", 30), "en", s"src$i", 0L))
    val a = words("a", 30)
    val b = words("c", 30)
    val rows = bench ++ Seq(
      (20L, a, "en", "s", 0L),                              // kept (rep of 21)
      (21L, a, "en", "s", 0L),                              // exact_dup of 20
      (22L, b, "en", "s", 0L),                              // kept (rep of 23)
      (23L, b.replace("c30", "zz"), "en", "s", 0L),         // near_dup of 22
      (24L, bench.head._2.replace("b030", "zz"), "en", "s", 0L), // near copy of bench 0 => contaminated
      (25L, words("u", 30), "en", "s", 0L))                 // kept, unique
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.SparkEntry.queries("x50_curation_pipeline")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    graft.util.PersistScope.releaseAll()
    graft.util.SharedStages.releaseAll() // temp-dir stages must not outlive the spec
    assert(got(21L)._1 == "exact_dup")
    assert(got(23L)._1 == "near_dup")
    assert(got(24L)._1 == "contaminated", s"got ${got(24L)}")
    for (id <- Seq(20L, 22L, 25L) ++ (0L until 10L))
      assert(got(id)._1 == "kept", s"doc $id: ${got(id)}")
    // bins exactly for kept docs, contiguous in doc_id order per lang
    for ((id, (status, bin)) <- got)
      assert((status == "kept") == (bin >= 0), s"doc $id: $status bin=$bin")
    val keptBins = got.toSeq.filter(_._2._1 == "kept").sortBy(_._1).map(_._2._2)
    assert(keptBins == keptBins.sorted, "bin ids must be non-decreasing in doc order")
  }
}
