package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the product-quantization family (x112/x113).
  * Fixtures keep one dimension at the int8 ceiling (127) so the max-abs
  * quantization is lossless and every expected value is hand-computable. */
class PqQueriesSpec extends SparkSpec {

  private def writeEmb(dir: String, vecs: Seq[(Long, Array[Float])]): Unit = {
    import spark.implicits._
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
  }

  test("x112 codebooks: two planted groups collapse to two zero-error cells per sub") {
    // Group X: 127 on even dims; group Y: 127 on odd dims — NOT scale-
    // aliased (max-abs quantization is scale-invariant, so two uniform
    // vectors of different magnitude would collide). Ties on identical
    // centroids resolve to the min cid: X -> cid 0, Y -> cid 1.
    val x = Array.tabulate(64)(i => if (i % 2 == 0) 127f else 0f)
    val y = Array.tabulate(64)(i => if (i % 2 == 1) 127f else 0f)
    val dir = SparkSpec.tempDir("pqcb")
    writeEmb(dir, (0L until 32L).map(id => id -> (if (id % 2 == 0) x else y)))
    val got = SparkEntry.queries("x112_pq_codebooks")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size == 8) // 4 subs x 2 surviving cells
    for (sub <- 0L to 3L) {
      // 16 members each, zero quantization error; centroid sq-norm = 8*127^2
      assert(got((sub, 0L)) == ((16L, 0.0, 8.0 * 127 * 127)))
      assert(got((sub, 1L)) == ((16L, 0.0, 8.0 * 127 * 127)))
    }
  }

  test("x113 ADC search: singleton codebooks make ADC exact; ranking and re-rank agree") {
    // Query vec 0 = [127, 0...]; candidate k differs only in dim 1 by 8k.
    // Every vector is its own (singleton) codebook cell in sub 0, so the
    // ADC lookup IS the exact distance: rank k -> vec k, d2 = (8k)^2.
    val dir = SparkSpec.tempDir("pqadc")
    writeEmb(dir, (0L to 5L).map { id =>
      val v = Array.fill(64)(0f); v(0) = 127f; v(1) = 8f * id
      id -> v
    })
    val got = SparkEntry.queries("x113_pq_adc_search")(spark, dir)
      .orderBy("qid", "rank").collect()
    assert(got.length == 5) // one query (vec 0), five candidates, self excluded
    got.zipWithIndex.foreach { case (r, i) =>
      val k = i + 1L
      assert(r.getLong(0) == 0L && r.getLong(1) == k && r.getLong(2) == k)
      assert(r.getLong(4) == 64L * k * k, s"exact d2 at rank $k")
      assert(math.abs(r.getDouble(3) - 64.0 * k * k) < 1e-6, s"ADC exact at rank $k")
    }
  }

  test("x112/x113 organic: cell counts reconcile and ADC order is self-consistent") {
    val sf = "/root/testdata/sf0.001"
    val cb = SparkEntry.queries("x112_pq_codebooks")(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // every subspace's cells partition the corpus
    cb.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sum == n)
      assert(rows.forall(_.getDouble(3) >= 0.0))
    }
    val adc = SparkEntry.queries("x113_pq_adc_search")(spark, sf).collect()
    // per query: ranks 1..10 dense, ADC distance non-decreasing in rank
    adc.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length).toSeq)
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a.getDouble(3) <= b.getDouble(3)
        case _ => true
      })
      assert(rows.forall(_.getLong(4) >= 0L))
    }
  }
}
