package graft.ops

import graft.SparkSpec

/** Semantic invariants for the x26-x29 curation ops (the oracle queries
  * check exact values; these pin the properties that make the ops USEFUL). */
class CurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("x26 quantization: codes bounded, reconstruction error within scale/2") {
    val rows = graft.SparkEntry.queries("x26_quantize_embeddings")(spark, sf)
      .collect().map(r => (r.getDouble(1), r.getString(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    for ((scale, qcsv, maxErr) <- rows) {
      val codes = qcsv.split(",").map(_.toInt)
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(codes.exists(c => math.abs(c) == 127), "max-magnitude dim must hit full scale")
      // floor(x+0.5) rounding puts every dim within half a quantization step
      assert(maxErr <= scale / 2 + 1e-6, s"max_err $maxErr vs scale $scale")
    }
  }

  test("x26 on adversarial vectors: zero, constant-negative, spike, random") {
    import spark.implicits._
    val rnd = new scala.util.Random(6L)
    val vecs = Seq(
      0L -> Array.fill(64)(0f),                       // zero vector: scale 0, codes 0
      1L -> Array.fill(64)(-0.5f),                    // constant negative: all codes -127
      2L -> (Array.fill(63)(1e-6f) :+ 8f),            // spike: tiny dims quantize to 0
      3L -> Array.fill(64)((rnd.nextFloat() - 0.5f) * 10f))
    val tmp = SparkSpec.tempDir("quant_adv")
    vecs.toDF("vec_id", "embedding").write.parquet(s"$tmp/embeddings.parquet")
    val rows = graft.SparkEntry.queries("x26_quantize_embeddings")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2), r.getDouble(3)))).toMap
    assert(rows(0L) == ((0.0, Array.fill(64)("0").mkString(","), 0.0)))
    assert(rows(1L)._2 == Array.fill(64)("-127").mkString(","))
    val spikeCodes = rows(2L)._2.split(",").map(_.toInt)
    assert(spikeCodes.last == 127 && spikeCodes.init.forall(_ == 0))
    for ((_, (scale, qcsv, maxErr)) <- rows) {
      assert(qcsv.split(",").map(_.toInt).forall(c => c >= -127 && c <= 127))
      assert(maxErr <= scale / 2 + 1e-6)
    }
  }

  test("x27 quantized ANN: dense ranks, self excluded, scores descend") {
    val rows = graft.SparkEntry.queries("x27_quantized_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.util.PersistScope.releaseAll()
    assert(rows.nonEmpty)
    for ((qid, perQ) <- rows.groupBy(_._1)) {
      assert(perQ.map(_._3).sorted.sameElements(1 to perQ.length) && perQ.length <= 3)
      assert(perQ.forall(_._2 != qid))
      val byRank = perQ.sortBy(_._3).map(_._4)
      assert(byRank.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("x28 duplicated-ngram fraction: bounded, and planted near-dups flag high") {
    val rows = graft.SparkEntry.queries("x28_dup_ngram_fraction")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, n, f, flag) =>
      n > 0 && f >= 0.0 && f <= 1.0 && flag == (f > 0.3) })
    // the corpus plants near-duplicate docs (x03/x21 find them), so SOME
    // docs must carry overwhelmingly shared 5-grams, and most docs must not
    assert(rows.exists(_._3 > 0.9), "planted near-dups should share ~all 5-grams")
    assert(rows.count(!_._4) > rows.length / 2, "most docs are not near-dups")
  }

  test("x35 cross-source matrix: direction-normalized, totals match the edge count") {
    val rows = graft.SparkEntry.queries("x35_cross_source_dup")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    graft.util.SharedStages.releaseAll()
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, n) => a <= b && n >= 1 })
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // the matrix partitions the verified pair set: cell totals == pair count
    val pairs = Dedup.nearDuplicatePairs(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 0.8).count()
    graft.util.PersistScope.releaseAll()
    assert(rows.map(_._3).sum == pairs, s"matrix total vs $pairs verified pairs")
  }

  test("x30 multiprobe recall: bounded, nonzero in aggregate, candidates a strict subset") {
    val rows = graft.SparkEntry.queries("x30_ann_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    graft.util.PersistScope.releaseAll()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == 16)
    assert(rows.forall { case (_, c, rec) => rec >= 0.0 && rec <= 1.0 && c < n - 1 })
    // multiprobe must actually find SOME true neighbors (single-probe
    // 8-plane scored 0.0 across the board here — the motivating failure)
    assert(rows.map(_._3).sum > 0.0)
  }

  test("x31 mixture: every source bounded by its token budget, overshoot < one doc") {
    val rows = graft.SparkEntry.queries("x31_mixture_budget")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_._1)
    assert(bySource.keySet.size == 20, "every source contributes a slice")
    for ((src, docs) <- bySource) {
      val budget = (1 + src.drop(3).toInt % 3) * 3000
      val total = docs.map(_._3).sum
      val maxDoc = docs.map(_._3).max
      // before_doc < budget admits the doc that crosses the line, no more
      assert(total < budget + maxDoc, s"$src: $total tokens vs budget $budget")
      assert(total >= math.min(budget, docs.map(_._3).sum), s"$src under-filled")
    }
    // deterministic: a second run selects the identical set
    val again = graft.SparkEntry.queries("x31_mixture_budget")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.sameElements(rows.sorted))
  }

  test("x65 leakage-safe split: same cluster -> same split, singletons match x58") {
    val rows = graft.SparkEntry.queries("x65_leakage_safe_split")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
    graft.util.PersistScope.releaseAll()
    graft.util.SharedStages.releaseAll()
    assert(rows.length == 500)
    // THE guarantee: no near-dup cluster straddles splits
    for ((cid, members) <- rows.groupBy(_._2))
      assert(members.map(_._4).distinct.length == 1, s"cluster $cid straddles splits")
    // singletons (cluster_id == doc_id, size 1) get exactly x58's assignment
    val x58 = graft.SparkEntry.queries("x58_train_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val singles = rows.filter(r => r._3 == 1L)
    assert(singles.nonEmpty)
    for ((id, _, _, split, rerouted) <- singles) {
      assert(x58(id) == split, s"singleton $id diverges from x58")
      assert(!rerouted, s"singleton $id cannot be rerouted")
    }
    // and every rerouted doc really is in a multi-doc cluster
    for ((id, _, csz, _, rerouted) <- rows if rerouted)
      assert(csz > 1, s"rerouted doc $id has no cluster")
  }

  test("x64 minhash calibration: est is k/8, identical docs estimate 1, error bounded") {
    val rows = graft.SparkEntry.queries("x64_minhash_calibration")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    graft.util.PersistScope.releaseAll()
    graft.util.SharedStages.releaseAll()
    assert(rows.nonEmpty)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((d1, d2, nm, est, jac, err, nd) <- rows) {
      assert(nm >= 1 && nm <= 8, "band candidates share at least one component")
      assert(math.abs(est - nm / 8.0) < 1e-9, "estimate is exactly k/8")
      assert(err <= 1.0 + 1e-9 && err >= 0.0)
      assert(nd == (jac >= 0.8 - 1e-9) || math.abs(jac - 0.8) < 1e-6)
      // byte-identical docs must agree on every signature component
      if (texts(d1) == texts(d2)) assert(nm == 8 && math.abs(jac - 1.0) < 1e-9)
    }
  }

  test("x29 hard negatives carry a different label than their query") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = graft.SparkEntry.queries("x29_hard_negatives")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    for ((qid, vid, _) <- rows)
      assert(emb(vid) != emb(qid), s"vec $vid shares label with query $qid")
    for ((_, perQ) <- rows.groupBy(_._1))
      assert(perQ.map(_._3).sorted.sameElements(1 to perQ.length))
  }
}
