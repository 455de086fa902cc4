package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the graph family (x115) and the PQ
  * composition/drift audits (x116/x117). */
class GraphQueriesSpec extends SparkSpec {

  test("x115 pagerank: clone triangle is stationary, isolated doc keeps teleport only") {
    import spark.implicits._
    // Three exact clones band-collide into a triangle (each deg 2); doc 4
    // is isolated. n=4, S=1e12: r0 = S div 4 = 2.5e11. The symmetric
    // triangle is a fixed point: inflow = 2·(2.5e11 div 2) = 2.5e11, so
    // r' = (15·2.5e11) div 100 + (85·2.5e11) div 100 = 2.5e11 forever.
    // The isolated doc drops to teleport-only 3.75e10 and stays.
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(1L -> clone, 2L -> clone, 3L -> clone,
      4L -> "completely different words about ships and harbors tonight")
    val dir = SparkSpec.tempDir("pagerank")
    docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("x115_dedup_pagerank")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((2L, 250000000000L)))
    assert(got(2L) == ((2L, 250000000000L)))
    assert(got(3L) == ((2L, 250000000000L)))
    assert(got(4L) == ((0L, 37500000000L)))
  }

  test("x115 organic: teleport floor holds and linked docs outrank isolated ones") {
    val rows = SparkEntry.queries("x115_dedup_pagerank")(spark, "/root/testdata/sf0.001")
      .collect()
    val n = rows.length
    val tele = 15L * (1000000000000L / n) / 100
    assert(rows.forall(_.getLong(2) >= tele), "every doc keeps at least teleport mass")
    val isolated = rows.filter(_.getLong(1) == 0L)
    assert(isolated.forall(_.getLong(2) == tele), "isolated docs get exactly teleport")
  }

  test("x116 IVF-PQ: singleton cells make the probe exact; recall self-reported") {
    import spark.implicits._
    // Same fixture as the x113 ADC spec: vectors on a line, every vector
    // its own coarse cell AND its own PQ cell. nprobe=2 reaches the
    // query's OWN cell (only the excluded self lives there) plus the true
    // nearest's cell — so n_cand=1, top1 is the true nearest (vec 1,
    // d2 = 64) and recall@10 = 1/10.
    val dir = SparkSpec.tempDir("ivfpq")
    (0L to 5L).map { id =>
      val v = Array.fill(64)(0f); v(0) = 127f; v(1) = 8f * id
      (id, v, 0)
    }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("x116_ivfpq_search")(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 64L)
    assert(math.abs(r.getDouble(4) - 0.1) < 1e-12)
  }

  test("x116 organic: recall in [0,1], candidates a strict subset of the corpus") {
    val sf = "/root/testdata/sf0.001"
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val rows = SparkEntry.queries("x116_ivfpq_search")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(1) < n, "IVF actually prunes")
      val rec = r.getDouble(4)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(3) >= 0L)
    }
  }

  test("x117 drift: in-distribution slice reads like training, shifted slice flags") {
    import spark.implicits._
    // label 0 (training) and label 1: the X pattern — codebooks quantize
    // them exactly (avg 0, unflagged). label 2: the Y pattern — every
    // subspace lands 16·127² away from the nearest X centroid -> flagged.
    // base = 0 makes drift_ratio NULL by the explicit guard.
    val x = Array.tabulate(64)(i => if (i % 2 == 0) 127f else 0f)
    val y = Array.tabulate(64)(i => if (i % 2 == 1) 127f else 0f)
    val dir = SparkSpec.tempDir("pqdrift")
    ((0L to 7L).map(id => (id, x, 0)) ++ (8L to 11L).map(id => (id, x, 1)) ++
      (12L to 15L).map(id => (id, y, 2)))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("x117_codebook_drift")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.isNullAt(3), r.getBoolean(4))).toMap
    assert(got(0L) == ((8L, 0.0, true, false)))
    assert(got(1L) == ((4L, 0.0, true, false)))
    val (n2, d2v, nullRatio, fl2) = got(2L)
    assert(n2 == 4L && nullRatio && fl2)
    assert(d2v == 4.0 * 16 * 127 * 127, "four subspaces each 16*127^2 off")
  }

  test("x119 semantic outliers: minority pattern sits past 2x the cell median") {
    import spark.implicits._
    // 16 X-pattern + 4 Y-pattern vectors all collapse into one cell whose
    // centroid is the 0.8/0.2 blend; X sits at 64·25.4² = 41290.24, Y at
    // 64·101.6² — beyond 2× the median -> exactly the 4 Y flag.
    val x = Array.tabulate(64)(i => if (i % 2 == 0) 127f else 0f)
    val y = Array.tabulate(64)(i => if (i % 2 == 1) 127f else 0f)
    val dir = SparkSpec.tempDir("semout")
    ((0L until 16L).map(id => (id, x, 0)) ++ (16L until 20L).map(id => (id, y, 0)))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("x119_semantic_outliers")(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 20L)
    assert(math.abs(r.getDouble(2) - 41290.24) < 1e-6)
    assert(r.getLong(3) == 4L)
    assert(math.abs(r.getDouble(4) - 0.2) < 1e-12)
  }

  test("x119 organic: outlier fraction can never reach half") {
    val rows = SparkEntry.queries("x119_semantic_outliers")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    // at least ceil(n/2) members sit at or below the median < 2x median
    rows.foreach(r => assert(r.getDouble(4) <= 0.5 && r.getDouble(2) >= 0.0))
  }

  test("s22 stream drift gate: shifted vectors flag at arrival, in-dist ones pass") {
    import spark.implicits._
    // same census as the x117 spec: label-0/1 = X (exactly quantized),
    // label-2 = Y (every subspace 16·127² off in micros).
    val x = Array.tabulate(64)(i => if (i % 2 == 0) 127f else 0f)
    val y = Array.tabulate(64)(i => if (i % 2 == 1) 127f else 0f)
    val dir = SparkSpec.tempDir("s22drift")
    ((0L to 7L).map(id => (id, x, 0)) ++ (8L to 11L).map(id => (id, x, 1)) ++
      (12L to 15L).map(id => (id, y, 2)))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val q = graft.streaming.EventStream.runDriftGate(spark, dir, "s22_spec_sink")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val got = q.sparkSession.table("s22_spec_sink")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.size == 16)
    val yErr = 4L * 16 * 127 * 127 * 1000000L
    (0L to 11L).foreach(id => assert(got(id) == ((0L, false)), s"vec $id clean"))
    (12L to 15L).foreach(id => assert(got(id) == ((yErr, true)), s"vec $id drifted"))
  }

  test("x120 canonical docs: equal-score clique tie-breaks to min id; sizes exact") {
    import spark.implicits._
    // one exact-clone triple (a verified component via rep stars); all
    // three share one PageRank score, so the canonical is the min id.
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(1L -> clone, 2L -> clone, 3L -> clone,
      9L -> "totally unrelated text about lighthouse maintenance schedules")
    val dir = SparkSpec.tempDir("canonical")
    docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("x120_canonical_docs")(spark, dir).collect()
    assert(got.length == 1) // the loner forms no component
    val r = got.head
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 250000000000L) // the stationary clique score
  }

  test("x120 organic: the canonical is its cluster's PageRank argmax") {
    val sf = "/root/testdata/sf0.001"
    val pr = SparkEntry.queries("x115_dedup_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val canon = SparkEntry.queries("x120_canonical_docs")(spark, sf).collect()
    assert(canon.nonEmpty)
    canon.foreach { r =>
      assert(r.getLong(3) == pr(r.getLong(2)),
        "reported score matches x115 for the canonical doc")
    }
  }

  test("x117 organic: training slice is the baseline with ratio 1") {
    val rows = SparkEntry.queries("x117_codebook_drift")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r).toMap
    val base = rows(0L)
    assert(!base.isNullAt(3) && math.abs(base.getDouble(3) - 1.0) < 1e-12)
    assert(!base.getBoolean(4), "the training slice never flags against itself")
    rows.values.foreach(r => assert(r.getDouble(2) >= 0.0))
  }

  test("x124 edit distance: one row per rep edge, sim in [0,1], kernel spot-checked") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("x124_edit_distance")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lev, sim) = (r.getLong(2), r.getDouble(3))
      assert(lev >= 0 && lev <= 500)
      assert(sim >= 0.0 && sim <= 1.0)
    }
    // spot-check the kernel against a driver-side reference implementation
    val first = rows.minBy(r => (r.getLong(0), r.getLong(1)))
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def levRef(a: String, b: String): Int = {
      val (x, y) = (a.take(500), b.take(500))
      val dp = Array.tabulate(y.length + 1)(identity)
      for (i <- 1 to x.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to y.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(y.length)
    }
    assert(first.getLong(2) ==
      levRef(texts(first.getLong(0)), texts(first.getLong(1))).toLong)
  }

  test("x125 cohesion: verified edges keep min>=0.8, pure clone clusters emit NULLs") {
    import spark.implicits._
    // Cluster A: two near-dup (not identical) texts -> 1 rep edge, both
    // jaccards known. Cluster B: three exact clones -> a cluster with NO
    // rep edge (single rep), so mean/min must be NULL with n_rep_edges=0.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base + " lambda" // shingle sets overlap 8/11 >= 0.8? verify below
    val clone = "one two three four five six seven eight"
    val dir = SparkSpec.tempDir("cohesion")
    Seq(1L -> base, 2L -> near, 10L -> clone, 11L -> clone, 12L -> clone)
      .map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("x125_cluster_cohesion")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the clone cluster: 3 docs, no rep edges, NULL cohesion
    val b = got(10L)
    assert(b.getLong(1) == 3L && b.getLong(2) == 0L)
    assert(b.isNullAt(3) && b.isNullAt(4))
    // the near-dup cluster (if banded into candidacy): cohesion >= 0.8
    got.get(1L).foreach { a =>
      assert(a.getLong(1) == 2L)
      if (a.getLong(2) > 0) {
        assert(a.getDouble(3) >= 0.8 && a.getDouble(3) <= 1.0)
        assert(a.getDouble(4) >= 0.8 && a.getDouble(4) <= a.getDouble(3) + 1e-12)
      }
    }
    // organic: every cluster with edges keeps the verification floor
    SparkEntry.queries("x125_cluster_cohesion")(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        if (r.getLong(2) > 0) {
          assert(r.getDouble(4) >= 0.8, s"min_jaccard below the 0.8 floor: $r")
          assert(r.getDouble(3) >= r.getDouble(4) - 1e-12)
        } else assert(r.isNullAt(3) && r.isNullAt(4))
      }
  }
}
