package graft.queries

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Round-12 additions: x129 (MinHash estimator calibration), x130
  * (per-source KS drift), x131 (inter-arrival burstiness). Each checked
  * against a DRIVER-SIDE exact replication (BigInt arithmetic, no Spark)
  * or organic invariants the construction guarantees — independent of the
  * DuckDB oracle, which gates values separately. */
class Round12QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("x129: estimator table invariants + pair mass equals rep-candidate count") {
    val rows = graft.SparkEntry.queries("x129_minhash_accuracy")(spark, sf).collect()
    assert(rows.nonEmpty)
    var mass = 0L
    for (r <- rows) {
      val est = r.getAs[Long]("est_matches")
      val mn = r.getAs[Double]("min_jaccard")
      val mean = r.getAs[Double]("mean_jaccard")
      val mx = r.getAs[Double]("max_jaccard")
      // candidacy requires at least one fully-matching band (BandSize
      // consecutive signature positions), so est >= BandSize
      assert(est >= 2 && est <= 8, s"est=$est out of [2,8]")
      assert(r.getAs[Double]("est_jaccard") == est / 8.0)
      assert(mn >= 0.0 && mn <= mean + 1e-9 && mean <= mx + 1e-9 && mx <= 1.0,
        s"jaccard order violated: $mn / $mean / $mx")
      mass += r.getAs[Long]("n_pairs")
    }
    val nCand = graft.ops.OpsQueries.sharedRepCands(spark, sf).count()
    assert(mass == nCand, s"sum(n_pairs)=$mass != rep candidates=$nCand")
    graft.util.SharedStages.releaseAll()
  }

  test("x130: KS statistic matches a driver-side exact BigInt replication") {
    val got = graft.SparkEntry.queries("x130_source_ks_drift")(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), Option(r.getAs[Any]("ks_d")).map(_.asInstanceOf[Double]),
          r.getAs[Boolean]("flagged")))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("n_chars").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = BigInt(docs.length)
    val grid = docs.map(_._2).distinct.sorted
    val bySource = docs.groupBy(_._1)
    assert(got.keySet == bySource.keySet)
    for ((src, rows) <- bySource) {
      val na = BigInt(rows.length)
      val nr = n - na
      var num = BigInt(0)
      for (v <- grid) {
        val ca = BigInt(rows.count(_._2 <= v))
        val call = BigInt(docs.count(_._2 <= v))
        num = num.max((ca * nr - (call - ca) * na).abs)
      }
      val (gn, gks, gfl) = got(src)
      assert(gn == rows.length.toLong)
      val expKs = BigDecimal(num) / BigDecimal(na * nr)
      assert(gks.isDefined && math.abs(gks.get - expKs.toDouble) < 1e-6,
        s"$src ks: got ${gks.get}, expected ~$expKs")
      val expFl = num * num * 10000 > BigInt(18496) * n * na * nr
      assert(gfl == expFl, s"$src flagged: got $gfl, expected $expFl")
    }
  }

  test("x131: burstiness matches a driver-side exact BigInt replication") {
    val got = graft.SparkEntry.queries("x131_event_burstiness")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_gaps"), r.getAs[Long]("mean_gap_s"),
          Option(r.getAs[Any]("cv2")).map(_.asInstanceOf[Double]),
          r.getAs[Boolean]("bursty")))).toMap
    val ev = QueryDef.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS tsm", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1).filter(_._2.length >= 2)
    assert(got.keySet == byUser.keySet)
    for ((u, rows) <- byUser) {
      val sorted = rows.sortBy(r => (r._2, r._3))
      val gaps = sorted.sliding(2).map { case Array(a, b) =>
        BigInt(b._2 - a._2) / 1000000 }.toSeq
      val ng = BigInt(gaps.length)
      val s = gaps.sum
      val q = gaps.map(g => g * g).sum
      val (gn, gm, gcv, gb) = got(u)
      assert(gn == gaps.length.toLong)
      assert(gm == (s / ng).toLong, s"user $u mean gap")
      if (ng >= 2 && s > 0) {
        val expCv = (BigInt(1000000) * (ng * q - s * s) / (s * s)).toDouble / 1e6
        assert(gcv.isDefined && math.abs(gcv.get - expCv) < 1e-9,
          s"user $u cv2: got $gcv, expected $expCv")
        assert(gb == (ng * q - s * s > s * s), s"user $u bursty")
      } else {
        assert(gcv.isEmpty && !gb)
      }
    }
    assert(got.values.exists(_._4) || got.values.exists(!_._4))
  }

  test("x132: power iteration matches a driver-side exact BigInt replication") {
    val got = graft.SparkEntry.queries("x132_pca_power_iteration")(spark, sf).collect()
      .map(r => r.getAs[Long]("dim") ->
        ((r.getAs[Double]("variance"),
          Option(r.getAs[Any]("loading")).map(_.asInstanceOf[Double]),
          r.getAs[Boolean]("is_top")))).toMap
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q")
      .collect().map(_.getSeq[Long](0).toArray)
    val ml = rows.map(_.length).min
    val d = ml
    val n = BigInt(rows.length)
    val sx = Array.tabulate(d)(i => rows.map(r => BigInt(r(i))).sum)
    // truncating division toward zero, matching Spark div / DuckDB //
    def tdiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates toward zero
    val cfp = Array.tabulate(d, d) { (i, j) =>
      val sxy = rows.map(r => BigInt(r(i)) * BigInt(r(j))).sum
      tdiv(BigInt(1000000) * (n * sxy - sx(i) * sx(j)), n * n)
    }
    val v1 = Array.tabulate(d)(i => cfp(i).sum)
    val v2 = Array.tabulate(d)(i => (0 until d).map(j => cfp(i)(j) * v1(j)).sum)
    val mx = v2.map(_.abs).max
    assert(got.size == d)
    for (i <- 0 until d) {
      val (gv, gl, gt) = got(i + 1L)
      assert(math.abs(gv - cfp(i)(i).toDouble / 1e6) < 1e-9, s"dim ${i + 1} variance")
      if (mx > 0) {
        val expL = tdiv(BigInt(1000000) * v2(i), mx).toDouble / 1e6
        assert(gl.isDefined && math.abs(gl.get - expL) < 1e-9, s"dim ${i + 1} loading")
      }
      assert(gt == (v2(i).abs == mx), s"dim ${i + 1} is_top")
    }
    assert(got.values.count(_._3) >= 1)
  }

  test("x133: stationary iteration matches a driver-side exact replication") {
    val got = graft.SparkEntry.queries("x133_markov_stationary")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_out"), r.getAs[Double]("p_stationary")))).toMap
    val seq = QueryDef.events(spark, sf)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS tsm", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val trans = seq.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val s = evs.sortBy(e => (e._3, e._4)).map(_._2)
      s.zip(s.drop(1))
    }
    val m = trans.groupBy(identity).map { case ((f, t), xs) => (f, t, xs.length.toLong) }.toSeq
    val tot = m.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._3).sum }
    val states = (m.map(_._1) ++ m.map(_._2)).distinct.sorted
    var pi: Map[String, Long] = states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to 3) {
      val moved = m.flatMap { case (f, t, n) =>
        pi.get(f).map(p => t -> p * n / tot(f)) }
      val held = pi.filterNot { case (st, _) => tot.contains(st) }.toSeq
      pi = (moved ++ held).groupBy(_._1).map { case (st, xs) => st -> xs.map(_._2).sum }
    }
    assert(got.keySet == pi.keySet)
    for ((st, p) <- pi) {
      val (gn, gp) = got(st)
      assert(gn == tot.getOrElse(st, 0L), s"$st n_out")
      assert(math.abs(gp - p.toDouble / 1e6) < 1e-9, s"$st p: got $gp, expected ${p.toDouble / 1e6}")
    }
    // truncating flow loses at most 1 micro-unit per edge per step
    assert(pi.values.sum <= 1000000L && pi.values.sum >= 1000000L - 3L * (m.size + states.size))
  }
}
