package graft.queries

import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}

/** Round-13 additions: q27 (unpivot), q28 (grouping sets), x134 (triangle
  * count / local clustering coefficient), x135 (retrieval MRR), x136
  * (degree assortativity), x137 (perceptual-hash image near-dup). Planted
  * fixtures with hand-computable expectations plus organic cross-checks
  * against an independent second algorithm — the DuckDB oracle gates
  * values separately. */
class Round13QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
  }

  test("q27 unpivot: long frame is the exact melt of the per-source histogram") {
    val rows = SparkEntry.queries("q27_unpivot")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sources = docs.map(_._1).distinct
    val langs = Seq("de", "en", "es", "fr", "zh")
    assert(rows.size == sources.length * langs.length,
      "one row per (source, lang) cell incl. zeros")
    for (s <- sources; l <- langs)
      assert(rows((s, l)) == docs.count(p => p == ((s, l))).toLong)
  }

  test("q28 grouping sets: the three lattice levels reconcile") {
    val rows = SparkEntry.queries("q28_grouping_sets")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 3L), "detail, one margin, grand total")
    // grand total: exactly one row, NULL group cols, n = |orders|
    val g3 = byGid(3L)
    assert(g3.length == 1 && g3.head.getAs[Long]("n") == total)
    assert(g3.head.isNullAt(g3.head.fieldIndex("o_orderpriority")))
    // every level's counts sum to the corpus
    assert(byGid(0L).map(_.getAs[Long]("n")).sum == total)
    assert(byGid(1L).map(_.getAs[Long]("n")).sum == total)
    // margin rows keep the priority but null the status
    assert(byGid(1L).forall(r => !r.isNullAt(r.fieldIndex("o_orderpriority"))
      && r.isNullAt(r.fieldIndex("o_orderstatus"))))
  }

  test("x134 planted: three mutual near-dups form one triangle, lcc = 1") {
    // A is 14 distinct tokens; B and C each append one extra token, so all
    // three texts are distinct (three reps) with pairwise shingle jaccard
    // 12/13 and 12/14 — all >= 0.8 — and token-set similarity high enough
    // that every pair shares a MinHash band. Doc 4 is unrelated.
    val base = (1 to 14).map(i => s"tok$i").mkString(" ")
    val dir = SparkSpec.tempDir("tri")
    writeDocs(dir, Seq(1L -> base, 2L -> s"$base zq1", 3L -> s"$base zq2",
      4L -> "entirely different words about ships and harbors tonight friend"))
    val got = SparkEntry.queries("x134_triangle_count")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.util.SharedStages.releaseAll()
    assert(got.keySet == Set(1L, 2L, 3L), "isolated doc has no edges, no row")
    for (id <- Seq(1L, 2L, 3L))
      assert(got(id) == ((2L, 1L, 1.0)), s"doc $id: ${got(id)}")
  }

  test("x134 organic: degree-ordered wedge enumeration == direct id-ordered join") {
    import spark.implicits._
    val e = graft.ops.OpsQueries.sharedRepEdges(spark, sf)
      .select(col("d1").as[Long], col("d2").as[Long]).collect()
    // driver-side naive recount (edge set is sparse at sf0.001)
    val es = e.map(p => (p._1, p._2)).toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val deg = nodes.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    var triPer = Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, bs) <- adj; i <- bs.indices; j <- (i + 1) until bs.length
         if es.contains((bs(i), bs(j))))
      Seq(a, bs(i), bs(j)).foreach(v => triPer += v -> (triPer(v) + 1L))
    val got = SparkEntry.queries("x134_triangle_count")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.util.SharedStages.releaseAll()
    assert(got.keySet == deg.keySet)
    for ((v, g) <- deg) {
      assert(got(v)._1 == g, s"degree of $v")
      assert(got(v)._2 == triPer(v), s"triangles of $v")
    }
  }

  test("x135 planted: exact ADC on the line fixture puts the truth at rank 1, MRR 1") {
    import spark.implicits._
    // x113's fixture: vec 0 queries; candidate k differs only in dim 1 by
    // 8k; singleton PQ cells make ADC exact, so the brute-force nearest
    // (vec 1) sits at ADC rank 1 and MRR over the one query is 1.
    val dir = SparkSpec.tempDir("mrr")
    (0L to 5L).map { id =>
      val v = Array.fill(64)(0f); v(0) = 127f; v(1) = 8f * id
      (id, v, 0)
    }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("x135_search_mrr")(spark, dir).collect()
    graft.util.SharedStages.releaseAll()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("x135 organic: rr in [0,1], mrr constant and equal to the rounded mean") {
    val rows = SparkEntry.queries("x135_search_mrr")(spark, sf).collect()
    graft.util.SharedStages.releaseAll()
    assert(rows.nonEmpty)
    val mrrs = rows.map(_.getDouble(4)).distinct
    assert(mrrs.length == 1, "corpus-wide MRR rides every row")
    val rrFp = rows.map(r => math.round(r.getDouble(3) * 1000000))
    assert(rrFp.forall(v => v >= 0L && v <= 1000000L))
    val expected = (2 * rrFp.sum + rows.length) / (2L * rows.length)
    assert(math.round(mrrs.head * 1000000) == expected,
      "mrr is the round-half-up mean of the per-query rounded rr values")
    // a finite rank always implies rr = 1/rank (rounded)
    rows.filter(!_.isNullAt(2)).foreach { r =>
      val rank = r.getLong(2)
      assert(rank >= 1 && rank <= 10)
      assert(math.round(r.getDouble(3) * 1000000)
        == (2 * 1000000 + rank) / (2 * rank))
    }
  }

  test("x136 planted: a 2-leaf star is perfectly disassortative, a triangle degenerate") {
    // Star: A (17 common shingles) vs B/C (3 extra shingles each):
    // sim(A,B) = sim(A,C) = 17/20 = 0.85 >= 0.8, sim(B,C) = 17/23 < 0.8 —
    // edges (A,B), (A,C) only. Degrees 2/1/1: r = (M·P − S²)/(M·Q − S²)
    // = (32−36)/(40−36) = −1.
    val base = (1 to 19).map(i => s"tok$i").mkString(" ")
    val star = SparkSpec.tempDir("star")
    writeDocs(star, Seq(1L -> base, 2L -> s"$base xa1 xa2 xa3",
      3L -> s"$base yb1 yb2 yb3"))
    val s1 = SparkEntry.queries("x136_degree_assortativity")(spark, star).collect()
    graft.util.SharedStages.releaseAll()
    assert(s1.length == 1)
    assert(s1.head.getLong(0) == 3L && s1.head.getLong(1) == 2L)
    assert(s1.head.getDouble(2) == -1.0)
    // Triangle (x134's fixture): all degrees equal -> zero variance ->
    // assortativity undefined (NULL), never a divide-by-zero.
    val tri = SparkSpec.tempDir("tri2")
    val b2 = (1 to 14).map(i => s"tok$i").mkString(" ")
    writeDocs(tri, Seq(1L -> b2, 2L -> s"$b2 zq1", 3L -> s"$b2 zq2"))
    val s2 = SparkEntry.queries("x136_degree_assortativity")(spark, tri).collect()
    graft.util.SharedStages.releaseAll()
    assert(s2.length == 1)
    assert(s2.head.getLong(0) == 3L && s2.head.getLong(1) == 3L)
    assert(s2.head.isNullAt(2))
  }

  test("x137 planted: shared leading tile -> hamming-0 near-dup; short docs drop") {
    // Docs 1 and 2 share the 256-char leading tile (identical aHash) but
    // differ afterwards (distinct texts -> both are reps). Doc 3's tile is
    // byte-shifted (different hash). Doc 4 is under one tile -> no row.
    val tile = (0 until 256).map(i => ('a' + (i * 7 + i / 16) % 26).toChar).mkString
    val other = (0 until 256).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val dir = SparkSpec.tempDir("phash")
    writeDocs(dir, Seq(1L -> (tile + " first continuation"),
      2L -> (tile + " second continuation entirely"),
      3L -> (other + " third"), 4L -> "short doc"))
    val got = SparkEntry.queries("x137_media_phash")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(5), r.getLong(6)))).toMap
    graft.util.SharedStages.releaseAll()
    assert(got.keySet == Set(1L, 2L, 3L), "sub-tile doc emits no hash")
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L,
      "identical tiles verify as near-dups")
    assert(got(3L)._2 == 0L, "unrelated tile has no verified near-dup")
  }

  test("q29 bag setops: multiplicity arithmetic per key") {
    val rows = SparkEntry.queries("q29_bag_setops")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) -> r.getLong(2)).toMap
    def counts(tbl: String, c: String) =
      spark.read.parquet(s"$sf/$tbl.parquet").groupBy(c).count().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap.withDefaultValue(0L)
    val cc = counts("customer", "c_nationkey")
    val sc = counts("supplier", "s_nationkey")
    for (nk <- (cc.keySet ++ sc.keySet)) {
      val ex = math.max(0L, cc(nk) - sc(nk))
      val in = math.min(cc(nk), sc(nk))
      assert(rows.getOrElse(("except_all", nk), 0L) == ex, s"except_all nk=$nk")
      assert(rows.getOrElse(("intersect_all", nk), 0L) == in, s"intersect_all nk=$nk")
    }
  }

  test("x138: MI matches a driver-side exact fixed-point replication; independent fixture reads 0") {
    // organic: replicate the 1e-9 fixed-point fold exactly
    val cells = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = cells.values.sum
    val cx = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val cy = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    def lfp(c: Long, s: String, l: String): Long =
      math.floor(math.log(c.toDouble * n / (cx(s) * cy(l))) * 1e9 + 0.5).toLong
    val t = cells.map { case ((s, l), c) => c * lfp(c, s, l) }.sum
    val expMi = BigDecimal(t) / BigDecimal(n) / BigDecimal(1000000000L)
    val got = SparkEntry.queries("x138_lang_source_mi")(spark, sf).collect()
    assert(got.length == cells.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == cells(key))
      assert(math.abs(r.getDouble(4) - expMi.toDouble) < 1e-6, "corpus MI")
      val expPmi = lfp(cells(key), key._1, key._2) / 1e9
      assert(math.abs(r.getDouble(3) - expPmi) < 1e-6, s"pmi of $key")
    }
    // planted independence: identical lang mix in every source -> MI = 0
    import spark.implicits._
    val dir = SparkSpec.tempDir("mi0")
    (for (s <- Seq("sA", "sB"); (l, k) <- Seq("en" -> 2, "de" -> 1); i <- 1 to k)
      yield (s, l, i))
      .zipWithIndex.map { case ((s, l, _), i) => (i.toLong, s"text $i", l, s, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val z = SparkEntry.queries("x138_lang_source_mi")(spark, dir).collect()
    assert(z.forall(_.getDouble(4) == 0.0), "independent table has MI exactly 0")
    assert(z.forall(_.getDouble(3) == 0.0), "every cell PMI is 0 under independence")
  }

  test("x139: exact percentiles match a driver-side replication and bounds hold") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = SparkEntry.queries("x139_approx_quantiles")(spark, sf).collect()
    val bySource = docs.groupBy(_._1)
    assert(got.length == bySource.size)
    got.foreach { r =>
      val vs = bySource(r.getString(0)).map(_._2).sorted
      val n = vs.length
      assert(r.getLong(1) == n.toLong)
      assert(r.getLong(2) == vs(((n + 1) / 2) - 1), "discrete p50")
      assert(r.getLong(3) == vs(((9 * n + 9) / 10) - 1), "discrete p90")
      assert(r.getBoolean(4) && r.getBoolean(5), "sketch ranks within bound")
    }
  }

  test("q30 rank family: tie semantics and quartile balance replicate driver-side") {
    val rows = SparkEntry.queries("q30_rank_family")(spark, sf).collect()
    val byNation = rows.groupBy(_.getLong(0))
    for ((_, rs) <- byNation) {
      val n = rs.length
      val bands = rs.map(_.getLong(2)).sorted
      for (r <- rs) {
        val b = r.getLong(2)
        val below = bands.count(_ < b); val tied = bands.count(_ == b)
        assert(r.getLong(3) == below + 1L, "rank = preceding + 1")
        assert(r.getLong(4) == bands.distinct.count(_ <= b).toLong, "dense_rank")
        val expPr = if (n == 1) 0.0 else below.toDouble / (n - 1)
        assert(math.abs(r.getDouble(5) - math.rint(expPr * 1e6) / 1e6) < 1e-9
          || math.abs(r.getDouble(5) - expPr) < 1e-6, "percent_rank")
        val expCd = (below + tied).toDouble / n
        assert(math.abs(r.getDouble(6) - expCd) < 1e-6, "cume_dist")
      }
      // ntile(4): bucket sizes differ by at most 1 and are ordered
      val sizes = rs.groupBy(_.getLong(7)).view.mapValues(_.length).toMap
      assert(sizes.keySet.forall(q => q >= 1 && q <= 4))
      assert(sizes.values.max - sizes.values.min <= 1)
    }
  }

  test("q31 range window: trailing 24h counts replicate driver-side incl. ts peers") {
    val rows = SparkEntry.queries("q31_range_interval_window")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val ev = spark.sql(
      s"""SELECT event_id, user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tsu,
            coalesce(CAST(get_json_object(props, '$$.k') AS BIGINT), 0) AS k
          FROM parquet.`$sf/events.parquet`""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for ((eid, uid, tsu, _) <- ev) {
      val frame = ev.filter(e => e._2 == uid && e._3 >= tsu - 86400000000L && e._3 <= tsu)
      assert(rows(eid) == ((frame.length.toLong, frame.map(_._4).sum)),
        s"event $eid trailing-24h frame")
    }
  }

  test("x142: OLS matches a driver-side exact BigInt replication; built-in audited") {
    val rows = SparkEntry.queries("x142_group_regression")(spark, sf).collect()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100),
        math.round(r.getDouble(2) * 100)))
    def fp6(num: BigInt, den: BigInt): Double = {
      val q = num / den
      (q * 1000000 + (2 * (num - q * den) * 1000000 + den) / (2 * den)).toDouble / 1e6
    }
    for (r <- rows) {
      val g = li.filter(_._1 == r.getString(0))
      val n = BigInt(g.length)
      val sx = g.map(t => BigInt(t._2)).sum; val sy = g.map(t => BigInt(t._3)).sum
      val sxx = g.map(t => BigInt(t._2) * t._2).sum
      val syy = g.map(t => BigInt(t._3) * t._3).sum
      val sxy = g.map(t => BigInt(t._2) * t._3).sum
      val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
      val dny = n * syy - sy * sy
      assert(r.getLong(1) == g.length.toLong)
      val expSlope = if (num >= 0) fp6(num, den) else -fp6(-num, den)
      assert(math.abs(r.getDouble(2) - expSlope) < 1e-9, s"slope ${r.getString(0)}")
      val inum = sy * den - num * sx
      val expIcpt = if (inum >= 0) fp6(inum, n * den) else -fp6(-inum, n * den)
      assert(math.abs(r.getDouble(3) - expIcpt) < 1e-9, s"intercept ${r.getString(0)}")
      val expR2 = num.toDouble * num.toDouble / (den.toDouble * dny.toDouble)
      assert(math.abs(r.getDouble(4) - math.rint(expR2 * 1e6) / 1e6) < 1e-9
        || math.abs(r.getDouble(4) - expR2) < 1e-6, s"r2 ${r.getString(0)}")
      assert(r.getBoolean(5), "built-in regr_slope within 1e-6 relative")
    }
  }

  test("q32 full outer: both dangling sides survive and statuses partition the keys") {
    val rows = SparkEntry.queries("q32_full_outer")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val custs = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getAs[Number](0).longValue).toSet
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(rows.keySet == (custs ++ users), "one row per key from either side")
    for ((k, st) <- rows) {
      val exp = if (custs(k) && users(k)) "both"
        else if (custs(k)) "customer_only" else "events_only"
      assert(st == exp, s"key $k")
    }
    assert(rows.valuesIterator.toSet.size >= 2, "fixture exercises dangling sides")
  }

  test("x143 SCD2: versions dense, intervals chain, one open run per user") {
    val rows = SparkEntry.queries("x143_scd2_history")(spark, sf).collect()
    val byUser = rows.groupBy(_.getLong(0))
    val evCount = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byUser.keySet == evCount.keySet)
    for ((u, rs) <- byUser) {
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, "dense versions")
      assert(sorted.map(_.getLong(5)).sum == evCount(u), "run sizes partition the events")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) == b.getLong(3), "valid_to chains to next valid_from")
          assert(a.getString(2) != b.getString(2), "adjacent runs change value")
          assert(!a.getBoolean(6), "only the last run is open")
        case _ =>
      }
      val last = sorted.last
      assert(last.isNullAt(4) && last.getBoolean(6), "last run open-ended and current")
    }
  }

  test("x144: midrank normalization replicates driver-side; ties share one value") {
    val rows = SparkEntry.queries("x144_rank_normalize")(spark, sf).collect()
    graft.util.SharedStages.releaseAll()
    val byDim = rows.groupBy(_.getInt(1))
    assert(byDim.keySet == (1 to 64).toSet)
    val n = rows.length / 64
    for ((_, rs) <- byDim.take(8)) {
      assert(rs.length == n)
      val byV = rs.groupBy(_.getInt(2))
      // midrank replication per distinct value
      val counts = byV.view.mapValues(_.length).toMap
      val sortedVs = counts.keys.toSeq.sorted
      var cb = 0L
      for (v <- sortedVs) {
        val cnt = counts(v).toLong
        val expFp = (2 * (2 * cb + cnt + 1) * 1000000L + 2 * n) / (4L * n)
        byV(v).foreach { r =>
          assert(math.round(r.getDouble(3) * 1e6) == expFp, s"v=$v midrank")
        }
        cb += cnt
      }
      // all qnorm in (0, 1]
      assert(rs.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
    }
  }

  test("x140: morton envelopes cover the corpus; cluster factors replicate driver-side") {
    val rows = SparkEntry.queries("x140_zorder_layout")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 64)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    // driver-side morton + bucket replication
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val zk = li.map { case (p, sk) => (morton(p, sk), p, sk) }
    val m1 = zk.map(_._1).max + 1
    val buckets = zk.groupBy(t => t._1 * 64 / m1)
    assert(rows.map(_.getLong(0)).toSet == buckets.keySet)
    var sp = 0L; var ss = 0L
    rows.foreach { r =>
      val b = buckets(r.getLong(0))
      assert(r.getLong(1) == b.length.toLong)
      assert(r.getLong(2) == b.map(_._2).min && r.getLong(3) == b.map(_._2).max)
      assert(r.getLong(4) == b.map(_._3).min && r.getLong(5) == b.map(_._3).max)
      sp += b.map(_._2).max - b.map(_._2).min
      ss += b.map(_._3).max - b.map(_._3).min
    }
    val nb = buckets.size
    val gp = math.max(rows.map(_.getLong(3)).max - rows.map(_.getLong(2)).min, 1L)
    val gs = math.max(rows.map(_.getLong(5)).max - rows.map(_.getLong(4)).min, 1L)
    val expPk = (2 * sp * 1000000 + nb * gp) / (2 * nb * gp) / 1e6
    val expSk = (2 * ss * 1000000 + nb * gs) / (2 * nb * gs) / 1e6
    rows.foreach { r =>
      assert(math.abs(r.getDouble(6) - expPk) < 1e-9, "pk cluster factor")
      assert(math.abs(r.getDouble(7) - expSk) < 1e-9, "sk cluster factor")
    }
    // z-buckets must localize BOTH dims better than random placement
    // (factor 1.0); with 2+ buckets each factor is strictly below 1
    if (nb >= 2) assert(expPk < 1.0 && expSk < 1.0)
  }

  test("x141: KMV matches a driver-side bottom-k replication; exact when group < k") {
    val rows = SparkEntry.queries("x141_kmv_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag", "l_partkey").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue)).distinct
    val md = java.security.MessageDigest.getInstance("MD5")
    def hv(pk: Long): Long = {
      val hex = md.digest(s"kmv|$pk".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    for ((flag, grp) <- li.groupBy(_._1)) {
      val hs = grp.map(p => hv(p._2)).sorted
      val exact = hs.length.toLong
      val est = if (exact < 256) exact
        else (BigInt(255) * BigInt(1152921504606846976L) / BigInt(hs(255))).toLong
      val (gotExact, gotEst, gotOk) = rows(flag)
      assert(gotExact == exact, s"$flag exact")
      assert(gotEst == est, s"$flag kmv estimate (deterministic, value-compared)")
      assert(gotOk == (math.abs(est - exact) * 5 <= exact), s"$flag bound flag")
    }
  }

  test("x141 planted: a tiny group is exact (every hash known)") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("kmv")
    (1 to 40).map(i => (s"F", i.toLong, 1.0, 1.0, 1.0,
      java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
      .toDF("l_returnflag", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate")
      .withColumn("l_linestatus", org.apache.spark.sql.functions.lit("O"))
      .withColumn("l_orderkey", col("l_partkey"))
      .withColumn("l_suppkey", col("l_partkey"))
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("x141_kmv_distinct")(spark, dir).collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 40L && got.head.getLong(2) == 40L
      && got.head.getBoolean(3), "sub-k group returns the exact count")
  }

  test("x137/s26 corpus invariant: documents.text is pure ASCII (byte-indexed kernel vs char-indexed oracle)") {
    // The phash kernel tiles UTF-8 BYTES (Multimodal.mediaFromDocuments
    // encodes text to binary) while the DuckDB oracle tiles CHARACTERS
    // (ascii(substr(...)), length(text) >= 256). Bitwise cross-engine
    // equality therefore rides on the corpus being pure ASCII — one
    // multibyte character would shift byte/char alignment AND diverge the
    // >=256 gate silently (r13 ADVICE). Pin the invariant loudly at both
    // oracle SFs so a generator change fails here, not as an opaque hash
    // mismatch in the correctness gate.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val nonAscii = spark.read.parquet(s"$dir/documents.parquet")
        .filter(org.apache.spark.sql.functions.octet_length(col("text"))
          =!= org.apache.spark.sql.functions.length(col("text")))
        .count()
      assert(nonAscii == 0L,
        s"$dir: $nonAscii docs with multibyte chars — x137/s26 oracles assume ASCII")
    }
  }

  test("x137 organic: partner counts are symmetric pair mass; bands non-degenerate in blocking") {
    val rows = SparkEntry.queries("x137_media_phash")(spark, sf).collect()
    graft.util.SharedStages.releaseAll()
    assert(rows.nonEmpty)
    val mass = rows.map(_.getLong(5)).sum
    assert(mass % 2 == 0, "every blocked pair contributes to both endpoints")
    rows.foreach { r =>
      assert(r.getLong(6) <= r.getLong(5), "near-dups are a subset of partners")
      for (i <- 1 to 4)
        assert(r.getLong(i) >= 0L && r.getLong(i) <= 65535L, "16-bit bands")
    }
  }
}
