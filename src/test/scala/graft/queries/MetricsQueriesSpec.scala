package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the metrics family (x106–x108): the DuckDB
  * oracle pins organic output bitwise; these pin SEMANTICS on constructed
  * corpora where the expected values are hand-computable. */
class MetricsQueriesSpec extends SparkSpec {

  test("x106 dim correlation: duplicate dim redundant, constant dim null, negated dim -1") {
    import spark.implicits._
    // dims: d1 = v, d2 = v (corr +1), d3 = const (var 0), d4 = -v (corr -1)
    val rows = Seq(
      (1L, Array(1.0f, 1.0f, 5.0f, -1.0f), 0),
      (2L, Array(2.0f, 2.0f, 5.0f, -2.0f), 1),
      (3L, Array(3.0f, 3.0f, 5.0f, -3.0f), 2))
    val dir = SparkSpec.tempDir("dimcorr")
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("x106_dim_correlation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(got.size == 6) // C(4,2)
    val (c12, red12, v1, v2) = got((1L, 2L))
    assert(c12.contains(1.0) && red12)
    // fixed-point codes 1,2,3 -> population var 2/3 in original units
    assert(math.abs(v1 - 0.666667) < 1e-9 && math.abs(v2 - 0.666667) < 1e-9)
    val (c13, red13, _, v3) = got((1L, 3L))
    assert(c13.isEmpty && !red13 && v3 == 0.0)
    val (c14, red14, _, _) = got((1L, 4L))
    assert(c14.contains(-1.0) && red14)
    val (c34, red34, _, _) = got((3L, 4L))
    assert(c34.isEmpty && !red34)
  }

  test("x107 AUC: midrank tie handling matches the hand-computed value") {
    import spark.implicits._
    // pos scores {3, 2}, neg scores {1, 2}: of the 4 (pos, neg) pairs three
    // are wins and one is a tie -> AUC = 3.5/4 = 0.875; 3 distinct scores.
    val rows = Seq(
      (1L, Array(0.003f), 0), (2L, Array(0.002f), 0),
      (3L, Array(0.001f), 1), (4L, Array(0.002f), 1))
    val dir = SparkSpec.tempDir("auc")
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("x107_score_auc")(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 2L && r(0).getLong(1) == 2L && r(0).getLong(2) == 3L)
    assert(r(0).getDouble(3) == 0.875)
  }

  test("x107 AUC: single-class corpus emits null, not a crash") {
    import spark.implicits._
    val rows = Seq((1L, Array(0.001f), 0), (2L, Array(0.002f), 0))
    val dir = SparkSpec.tempDir("auc1c")
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("x107_score_auc")(spark, dir).collect()
    assert(r.length == 1 && r(0).getLong(0) == 2L && r(0).getLong(1) == 0L && r(0).isNullAt(3))
  }

  test("x108 calibration: total row is the bin-weighted ECE and counts reconcile") {
    val rows = SparkEntry.queries("x108_calibration_bins")(spark, "/root/testdata/sf0.001")
      .collect()
    val bins = rows.filter(_.getString(0) == "bin")
    val total = rows.filter(_.getString(0) == "total")
    assert(total.length == 1 && bins.nonEmpty)
    val n = total(0).getLong(2)
    assert(bins.map(_.getLong(2)).sum == n)
    // ECE recomputed from the (rounded) bin rows matches the total gap to
    // rounding tolerance; every bin's gap = |frac_gold - mean_conf|.
    bins.foreach { b =>
      assert(math.abs(b.getDouble(5) -
        math.abs(b.getDouble(4) - b.getDouble(3))) < 2e-6)
    }
    val ece = bins.map(b => b.getLong(2).toDouble * b.getDouble(5)).sum / n
    assert(math.abs(total(0).getDouble(5) - ece) < 1e-5)
  }
}
