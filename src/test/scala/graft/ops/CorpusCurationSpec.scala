package graft.ops

import graft.SparkSpec

/** Semantic invariants for the round-9 curation operators (x86-x89). The
  * oracle gate checks exact values; these pin the properties that make the
  * operators USEFUL — directionality of containment, span semantics of
  * boilerplate coverage, budget caps, and phase monotonicity — including
  * planted fixtures for the branches the organic corpus exercises weakly. */
class CorpusCurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("x86 containment: bounded, directional, flag consistent, top-8 ranked") {
    val rows = graft.SparkEntry.queries("x86_containment_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5), r.getInt(6)))
    graft.util.PersistScope.releaseAll()
    assert(rows.nonEmpty)
    for ((in, out, shared, nfp, cont, flag, rank) <- rows) {
      assert(in != out)
      assert(shared >= 1 && shared <= nfp, s"shared $shared vs n_fp $nfp")
      assert(cont >= 0.5 - 1e-9 && cont <= 1.0 + 1e-9)
      // flag computed from the unrounded ratio; tolerate the rounding edge
      assert(flag == (shared.toDouble / nfp >= 0.8))
      assert(rank >= 1 && rank <= 8)
    }
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // bounded output: per inner doc, at most 8 witnesses with dense ranks
    // and containment non-increasing down the ranking
    for ((_, grp) <- rows.groupBy(_._1)) {
      val byRank = grp.sortBy(_._7)
      assert(byRank.map(_._7).sameElements(1 to grp.length) && grp.length <= 8)
      assert(byRank.map(_._5).sliding(2).forall {
        case Array(a, b) => a >= b - 1e-9; case _ => true })
    }
  }

  test("x86 clone clique: output bounded at 8 witnesses per doc, smallest ids win ties") {
    import spark.implicits._
    // 12 identical docs: every ordered pair has containment 1.0 — the full
    // pair set is 12×11 = 132 rows; the bounded form keeps 8 per inner doc,
    // tie-broken by outer_id ascending.
    val text = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = (0 until 12).map(k => (k.toLong, text, "en", "srcA", 0L))
    val tmp = SparkSpec.tempDir("clique")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("x86_containment_pairs")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getInt(6)))
    graft.util.PersistScope.releaseAll()
    assert(rows.length == 12 * 8, "every doc keeps exactly 8 of its 11 witnesses")
    for ((in, grp) <- rows.groupBy(_._1)) {
      assert(grp.forall(_._3 == 1.0))
      // equal containment everywhere -> ranking falls to outer_id ascending:
      // the 8 smallest other ids, in order
      val expect = (0L until 12L).filter(_ != in).sorted.take(8)
      assert(grp.sortBy(_._4).map(_._2).sameElements(expect), s"inner $in: ${grp.sortBy(_._4).toSeq}")
    }
  }

  test("x86 planted quote: contained direction flags, reverse direction absent") {
    import spark.implicits._
    val quote = (1 to 20).map(i => s"q$i").mkString(" ")
    val tail = (1 to 80).map(i => s"t$i").mkString(" ")
    val other = (1 to 50).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, quote, "en", "srcA", quote.length.toLong),
      (1L, s"$quote $tail", "en", "srcA", (quote.length + tail.length + 1).toLong),
      (2L, other, "en", "srcB", other.length.toLong))
    val tmp = SparkSpec.tempDir("contain")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("x86_containment_pairs")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getBoolean(5)))
    graft.util.PersistScope.releaseAll()
    // the quote is contained in the long doc: (inner=0, outer=1) near 1.0
    val fwd = rows.find(r => r._1 == 0L && r._2 == 1L)
    assert(fwd.isDefined, "quote->article containment pair missing")
    assert(fwd.get._3 >= 0.8 && fwd.get._4, s"containment ${fwd.get._3} should flag")
    // the article is NOT contained in the quote: reverse ratio is tiny
    assert(!rows.exists(r => r._1 == 1L && r._2 == 0L && r._3 >= 0.5),
      "article->quote direction must not reach the output threshold")
    assert(!rows.exists(r => r._1 == 2L || r._2 == 2L), "unrelated doc is clean")
  }

  test("x87 coverage: span accounting consistent, keep flag matches") {
    val rows = graft.SparkEntry.queries("x87_boilerplate_coverage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getBoolean(5)))
    graft.util.PersistScope.releaseAll()
    assert(rows.length == 500)
    for ((_, n, nb, frac, kept, keep) <- rows) {
      assert(nb >= 0 && nb <= n)
      assert(kept == n - nb)
      assert(math.abs(frac - nb.toDouble / n) < 1e-6 + 5e-7)
      assert(keep == (nb.toDouble / n <= 0.5))
    }
    // organic corpus at this SF: some docs fully clean, some heavily covered
    assert(rows.exists(_._3 == 0.0), "some docs carry zero boilerplate")
    assert(rows.exists(!_._6), "some docs exceed the trim threshold")
  }

  test("x87 planted prefix: shared prefix covered exactly, unique tails clean") {
    import spark.implicits._
    val prefix = (1 to 6).map(i => s"p$i").mkString(" ")
    // 5 docs share the 6-token prefix (docfreq 5 >= 4); tails are disjoint
    val docs = (0 until 5).map { k =>
      val tail = (1 to 10).map(i => s"u${k}_$i").mkString(" ")
      (k.toLong, s"$prefix $tail", "en", s"src$k", 0L)
    } :+ (5L, (1 to 12).map(i => s"solo$i").mkString(" "), "en", "src9", 0L)
    val tmp = SparkSpec.tempDir("boiler")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("x87_boilerplate_coverage")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    graft.util.PersistScope.releaseAll()
    // only grams fully inside the prefix are shared: positions 1..4 cover
    // tokens 1..6; the prefix->tail straddling grams are unique per doc
    for (k <- 0L until 5L) {
      val (n, nb, kept) = rows(k)
      assert(n == 16 && nb == 6 && kept == 10, s"doc $k: n=$n covered=$nb kept=$kept")
    }
    val (n5, nb5, kept5) = rows(5L)
    assert(n5 == 12 && nb5 == 0 && kept5 == 12, "solo doc is fully kept")
  }

  test("x88 schedule: caps, partials, and budget accounting line up") {
    val rows = graft.SparkEntry.queries("x88_epoch_schedule")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    graft.util.SharedStages.releaseAll()
    assert(rows.length == 20, "every source gets a schedule row")
    for ((src, toks, vocab, budget, fe, npd, eff, util) <- rows) {
      assert(toks > 0 && vocab > 0 && budget > 0)
      assert(fe >= 1 && fe <= 2, s"$src full_epochs $fe")
      if (fe == 2) assert(npd == 0, s"$src capped source must not take a partial epoch")
      assert(eff >= fe * toks && eff <= budget, s"$src effective $eff vs budget $budget")
      assert(util > 0.0 && util <= 1.0 + 1e-9)
    }
    // the test corpus weights put sources on BOTH sides of the cap
    assert(rows.exists(_._5 == 2) && rows.exists(_._5 == 1))
    assert(rows.filter(_._5 == 1).exists(_._6 > 0), "some source takes a partial epoch")
  }

  test("x88 budget arithmetic survives past the int64 product horizon") {
    import spark.implicits._
    // 2 · Σtoks · w = 2 · 6e18 · 1e9 ≈ 1.2e28 — far past int64 (the old
    // `2 * tt * w` product wrapped NEGATIVE here, silently admitting
    // nothing); the decimal(38,0) path must return the exact quotient.
    val toks = 3000000000000000000L // 3e18 per source
    val w = 1000000000L            // 1e9 vocab weight per source
    val stw = Seq(("a", toks, w), ("b", toks, w)).toDF("source", "toks", "w")
    val bySrc = CurationQueries.epochBudgets(stw)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("budget"), r.getAs[Long]("full_epochs"), r.getAs[Long]("part_budget")))).toMap
    val expected = (BigInt(2) * (BigInt(toks) * 2) * w / (BigInt(w) * 2)).toLong // = 2·tt·w/sw
    assert(bySrc.keySet == Set("a", "b"))
    for ((src, (budget, fe, pb)) <- bySrc) {
      assert(budget == expected, s"$src budget $budget != $expected")
      assert(budget > 0, s"$src wrapped negative")
      assert(fe == 2 && pb == 0L, s"$src full_epochs $fe part $pb")
    }
  }

  test("x90 tuning curve: nested candidates, monotone recall, anchored truth") {
    val rows = graft.SparkEntry.queries("x90_lsh_tuning_curve")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))).sortBy(_._2)
    graft.util.PersistScope.releaseAll()
    assert(rows.map(t => (t._1, t._2)).sameElements(
      Seq((8, 1), (4, 2), (2, 4), (1, 8))), "all four configs present")
    for ((_, _, cand, tru, prec, rec, cb, dc) <- rows) {
      assert(tru <= cand && tru >= 0)
      assert(prec > 0.0 && prec <= 1.0 && rec >= 0.0 && rec <= 1.0)
      // test-SF posting lists top out far below the 128 cap: the cap must
      // be VISIBLY inert here (the stress corpus is where it bites)
      assert(cb == 0 && dc == 0, s"cap fired at test SF: $cb buckets / $dc candidates")
    }
    // bandings are nested: fewer, wider bands can only LOSE candidates
    assert(rows.map(_._3).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // ...and with them true pairs, so recall is non-increasing
    assert(rows.map(_._6).sliding(2).forall { case Array(a, b) => a >= b - 1e-9; case _ => true })
    // truth is defined on the 1-row superset, so its recall is exactly 1
    assert(math.abs(rows.head._6 - 1.0) < 1e-9)
    // the curve must actually trade: the superset is noisier than the
    // narrowest config on this corpus
    assert(rows.head._5 < rows.last._5)
  }

  test("x90 dup-dense corpus: hot buckets capped, dropped coverage reported, survivors intact") {
    import spark.implicits._
    // 130 clones of one text blow past the 128-doc bucket cap in EVERY
    // config (identical docs share identical signatures, hence every band
    // bucket); a separate planted near-dup pair sits in its own small
    // buckets and must survive the cap with full scores.
    val boiler = (1 to 25).map(i => s"b$i").mkString(" ")
    val real = (1 to 40).map(i => s"r$i").mkString(" ")
    val docs = (0 until 130).map(k => (k.toLong, boiler, "en", "srcA", 0L)) ++
      Seq((200L, real, "en", "srcB", 0L), (201L, real, "en", "srcB", 0L))
    val tmp = SparkSpec.tempDir("x90cap")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("x90_lsh_tuning_curve")(spark, tmp)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))).sortBy(-_._1)
    graft.util.PersistScope.releaseAll()
    assert(rows.map(t => (t._1, t._2)).sameElements(
      Seq((8, 1), (4, 2), (2, 4), (1, 8))), "all four config rows survive the cap")
    for ((b, _, cand, tru, prec, rec, cb, dc) <- rows) {
      // the clone cluster is fully capped; only the planted pair remains
      assert(cand == 1L && tru == 1L, s"config $b: cand=$cand true=$tru")
      assert(prec == 1.0 && rec == 1.0)
      // every one of the config's b buckets held all 130 clones
      assert(cb == b.toLong, s"config $b capped_buckets $cb")
      assert(dc == b.toLong * (130L * 129L / 2L), s"config $b dropped $dc")
    }
  }

  test("x95 span contamination: verbatim spans flag, scattered vocabulary does not") {
    import spark.implicits._
    val bench = (1 to 20).map(i => s"b$i").mkString(" ")
    // doc 10: a verbatim 15-token quote of bench tokens 3..17 -> 11
    // consecutive shared 5-grams -> span 15 >= 13 -> flagged
    val quoted = "x1 x2 " + (3 to 17).map(i => s"b$i").mkString(" ") + " y1 y2"
    // doc 11: two scattered 5-token fragments -> two runs of length 1
    val scattered = (1 to 5).map(i => s"b$i").mkString(" ") + " z1 z2 z3 z4 " +
      (10 to 14).map(i => s"b$i").mkString(" ")
    // doc 12: clean
    val clean = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((0L, bench, "en", "srcB", 0L), (10L, quoted, "en", "srcA", 0L),
      (11L, scattered, "en", "srcA", 0L), (12L, clean, "en", "srcA", 0L))
    val tmp = SparkSpec.tempDir("spancontam")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("x95_span_contamination")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    graft.util.PersistScope.releaseAll()
    assert(rows.keySet == Set((10L, 0L), (11L, 0L)), s"got ${rows.keySet}")
    assert(rows((10L, 0L)) == ((11L, 11L, 15L, true)), s"quoted: ${rows((10L, 0L))}")
    assert(rows((11L, 0L)) == ((2L, 1L, 5L, false)), s"scattered: ${rows((11L, 0L))}")
  }

  test("s17 gate: decisions match x95 semantics across multiple micro-batches") {
    import spark.implicits._
    val bench = (1 to 20).map(i => s"b$i").mkString(" ")
    val quoted = "x1 x2 " + (3 to 17).map(i => s"b$i").mkString(" ") + " y1 y2"
    val scattered = (1 to 5).map(i => s"b$i").mkString(" ") + " z1 z2 z3 z4 " +
      (10 to 14).map(i => s"b$i").mkString(" ")
    val clean = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((0L, bench, "en", "srcB", 0L), (10L, quoted, "en", "srcA", 0L),
      (11L, scattered, "en", "srcA", 0L), (12L, clean, "en", "srcA", 0L))
    val tmp = SparkSpec.tempDir("s17gate")
    val inDir = new java.io.File(tmp); // two files -> >= 2 micro-batches
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    for (i <- 0 to 1) {
      val part = s"$tmp/stage$i"
      df.filter($"doc_id" % 2 === i).coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(inDir, s"f$i.parquet").toPath)
    }
    val q = graft.streaming.EventStream.runDecontamGate(spark, tmp, "s17_spec_sink",
      glob = "f*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val rows = q.sparkSession.table("s17_spec_sink")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows.keySet == Set(10L, 11L, 12L))
    assert(rows(10L) == ((1L, 15L, true)), s"quoted: ${rows(10L)}")   // 11-gram run -> span 15
    assert(rows(11L) == ((1L, 5L, false)), s"scattered: ${rows(11L)}") // runs of 1 -> span 5
    assert(rows(12L) == ((0L, 0L, false)), s"clean: ${rows(12L)}")
  }

  test("x96 k-anonymity: generalization ladder and suppression on a planted census") {
    import spark.implicits._
    // nation 1: one class of 6 (k-anonymous as-is); nation 2: two bands of 3
    // that merge to 6 at level 1; nation 3: two segments of 2 whose FULL
    // generalization is still 4 < k -> suppressed.
    val rows0 =
      (1 to 6).map(i => (i.toLong, s"c$i", 1, 100.0, "A")) ++
      (7 to 9).map(i => (i.toLong, s"c$i", 2, 100.0, "B")) ++
      (10 to 12).map(i => (i.toLong, s"c$i", 2, 1100.0, "B")) ++
      (13 to 14).map(i => (i.toLong, s"c$i", 3, 100.0, "C")) ++
      (15 to 16).map(i => (i.toLong, s"c$i", 3, 100.0, "D"))
    val tmp = SparkSpec.tempDir("kanon")
    rows0.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$tmp/customer.parquet")
    val got = graft.SparkEntry.queries("x96_k_anonymity")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(got.size == 5)
    assert(got((1L, "A", 0L)) == ((6L, 0L, 6L, false)))
    assert(got((2L, "B", 0L)) == ((3L, 1L, 6L, false)))
    assert(got((2L, "B", 1L)) == ((3L, 1L, 6L, false)))
    assert(got((3L, "C", 0L)) == ((2L, 2L, 4L, true)))
    assert(got((3L, "D", 0L)) == ((2L, 2L, 4L, true)))
  }

  test("x96 organic: classes partition the table, released_n >= n, level sound") {
    val rows = graft.SparkEntry.queries("x96_k_anonymity")(spark, sf)
      .collect().map(r => (r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(rows.map(_._1).sum == total, "equivalence classes partition the table")
    for ((n, level, released, suppressed) <- rows) {
      assert(level >= 0 && level <= 2)
      assert(released >= n, "generalizing can only grow the class")
      if (level == 0) assert(released == n && n >= 5)
      assert(suppressed == (released < 5))
    }
  }

  test("x97 repetition: planted degenerate/looping/clean/single-token docs exact") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a a a a", "en", "srcA", 0L),                       // pure loop
      (1L, "x y x y z", "en", "srcA", 0L),                         // repeated bigram
      (2L, (1 to 30).map(i => s"t$i").mkString(" "), "en", "srcA", 0L), // clean
      (3L, "w", "en", "srcA", 0L))                                 // no grams at all
    val tmp = SparkSpec.tempDir("gopher")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = graft.SparkEntry.queries("x97_doc_repetition")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    assert(got(0L) == ((5L, 1.0, 1.0, 4L, 1.0, true)))
    assert(got(1L) == ((4L, 0.5, 0.5, 3L, 0.0, true)))
    assert(got(2L) == ((29L, 0.034483, 0.0, 28L, 0.0, false)))
    assert(got(3L) == ((0L, 0.0, 0.0, 0L, 0.0, false)))
  }

  test("x98 chunking: window/stride arithmetic and chunk hashes exact") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val t20 = (1 to 20).map(i => s"t$i")
    val docs = Seq((0L, t20.mkString(" "), "en", "srcA", 0L),
      (1L, "u1 u2 u3", "en", "srcA", 0L))
    val tmp = SparkSpec.tempDir("chunk")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = graft.SparkEntry.queries("x98_chunk_overlap")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got.size == 4)
    assert(got((0L, 0L)) == ((1L, 16L, md5hex(t20.take(16).mkString(" ")))))
    assert(got((0L, 1L)) == ((9L, 12L, md5hex(t20.drop(8).mkString(" ")))))
    assert(got((0L, 2L)) == ((17L, 4L, md5hex(t20.drop(16).mkString(" ")))))
    assert(got((1L, 0L)) == ((1L, 3L, md5hex("u1 u2 u3"))))
  }

  test("s18 dedup: redelivered events collapse across micro-batches, state evicted") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // Batch 1: events A, B. Batch 2: A REDELIVERED (new event_id/value, same
    // logical key — the at-least-once shape) plus new event C.
    val b1 = Seq((1L, ts(0), 10L, "click", 1.0, "{}"), (2L, ts(1), 20L, "view", 2.0, "{}"))
    val b2 = Seq((3L, ts(0), 10L, "click", 9.0, "{}"), (4L, ts(2), 30L, "click", 3.0, "{}"))
    val tmp = SparkSpec.tempDir("s18dedup")
    for ((rows, i) <- Seq(b1, b2).zipWithIndex) {
      val part = s"$tmp/stage$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(tmp, s"f$i.parquet").toPath)
    }
    val q = graft.streaming.EventStream.runEventDedup(spark, tmp, "s18_spec_sink",
      glob = "f*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val rows = q.sparkSession.table("s18_spec_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    assert(rows.length == 3, s"redelivery must collapse: ${rows.toSeq}")
    assert(rows.toSet == Set((10L, "click", ts(0)), (20L, "view", ts(1)), (30L, "click", ts(2))))
  }

  test("s19 k-anon gate: class held until k-th arrival, released across batches") {
    import spark.implicits._
    // Class A (nation 1, seg A, band 0): 3 members in batch 1 + 3 in batch 2
    // -> held through batch 1, fully released in batch 2 (6 rows out).
    // Class B (nation 2, seg B, band 0): 4 members total -> never released.
    val a = (1 to 6).map(i => (i.toLong, s"c$i", 1, 100.0, "A"))
    val b = (7 to 10).map(i => (i.toLong, s"c$i", 2, 100.0, "B"))
    val all = a ++ b
    val tmp = SparkSpec.tempDir("s19kanon")
    for ((rows, i) <- Seq(all.filter(_._1 % 2 == 1), all.filter(_._1 % 2 == 0)).zipWithIndex) {
      val part = s"$tmp/stage$i"
      rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(tmp, s"f$i.parquet").toPath)
    }
    val q = graft.streaming.EventStream.runKAnonGate(spark, tmp, "s19_spec_sink",
      glob = "f*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val rows = q.sparkSession.table("s19_spec_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.map(_._1).sorted.toSeq == (1L to 6L), s"got ${rows.toSeq}")
    assert(rows.forall(r => r._2 == 1L && r._3 == "A" && r._4 == 0L))
  }

  test("x99 feature hashing: planted doc exact, buckets bounded, mass conserved") {
    import spark.implicits._
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def bucket(t: String): Long = java.lang.Long.parseLong(md5hex(t).substring(0, 1), 16)
    def sgn(t: String): Long =
      1L - 2L * (java.lang.Long.parseLong(md5hex(t).substring(1, 2), 16) % 2)
    val docs = Seq((0L, "alpha beta alpha", "en", "srcA", 0L),
      (1L, "gamma gamma gamma gamma", "en", "srcA", 0L))
    val tmp = SparkSpec.tempDir("feathash")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = graft.SparkEntry.queries("x99_feature_hashing")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.util.SharedStages.releaseAll()
    // doc 0: alpha x2 + beta x1 — same bucket collides additively, else two rows
    val expect0 = Map(bucket("alpha") -> 2L * sgn("alpha"))
      .foldLeft(Map(bucket("beta") -> sgn("beta"))) { case (m, (b, v)) =>
        m.updated(b, m.getOrElse(b, 0L) + v) }
    for ((b, v) <- expect0) assert(got((0L, b)) == v, s"doc0 bucket $b")
    assert(got((1L, bucket("gamma"))) == 4L * sgn("gamma"))
    // mass conservation: |val| per bucket can never exceed the token count
    assert(got.collect { case ((d, _), v) if d == 1L => math.abs(v) }.sum == 4L)
    // organic: buckets in range, vector width <= 16 per doc
    val organic = graft.SparkEntry.queries("x99_feature_hashing")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.util.SharedStages.releaseAll()
    assert(organic.forall(r => r._2 >= 0 && r._2 <= 15))
    assert(organic.groupBy(_._1).forall(_._2.length <= 16))
  }

  test("x91 cross-tab: partitions the corpus, dup counts bounded and live") {
    val rows = graft.SparkEntry.queries("x91_quality_vs_dup")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    graft.util.SharedStages.releaseAll()
    assert(rows.map(_._1).sorted.sameElements(Seq("keep", "low_stopword", "short")),
      "all three dispositions present")
    assert(rows.map(_._2).sum == 500, "dispositions partition the corpus")
    for ((_, n, dup, rate) <- rows) {
      assert(dup >= 0 && dup <= n)
      assert(math.abs(rate - dup.toDouble / n) < 1e-6 + 5e-7)
    }
    assert(rows.map(_._3).sum > 0, "the corpus plants near-dups; some route sees them")
  }

  test("x92 drift: nonnegative, near zero on homogeneous halves, and planted drift fires") {
    val rows = graft.SparkEntry.queries("x92_source_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    graft.util.SharedStages.releaseAll()
    graft.util.PersistScope.releaseAll()
    assert(rows.length == 20)
    for ((_, nf, nb, vv, kl) <- rows) {
      assert(nf > 0 && nb > 0 && vv > 0)
      // KL >= 0 up to the 1e-9-per-term fixed-point snap
      assert(kl >= -1e-6, s"negative drift $kl")
    }
    // planted: a source whose vocabulary flips between halves must read
    // far higher drift than one drawn from a single distribution
    import spark.implicits._
    val front = (0 until 10).map(i => (i.toLong, (1 to 30).map(j => s"alpha${j % 5}").mkString(" "), "en", "srcdrift", 0L))
    val back = (10 until 20).map(i => (i.toLong, (1 to 30).map(j => s"beta${j % 5}").mkString(" "), "en", "srcdrift", 0L))
    val flat = (20 until 40).map(i => (i.toLong + 80, (1 to 30).map(j => s"gamma${j % 5}").mkString(" "), "en", "srcflat", 0L))
    val tmp = SparkSpec.tempDir("drift")
    (front ++ back ++ flat).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val planted = graft.SparkEntry.queries("x92_source_drift")(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    graft.util.SharedStages.releaseAll()
    graft.util.PersistScope.releaseAll()
    assert(planted("srcdrift") > 1.0, s"vocab flip must read high drift, got ${planted("srcdrift")}")
    assert(math.abs(planted("srcflat")) < 1e-6, s"homogeneous source must read ~0, got ${planted("srcflat")}")
  }

  test("x93 sweep: shares normalize per alpha, flattening is monotone in temperature") {
    val rows = graft.SparkEntry.queries("x93_temperature_sweep")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    graft.util.SharedStages.releaseAll()
    assert(rows.length == 20 * 4)
    for ((alpha, group) <- rows.groupBy(_._2)) {
      // fixed-point snap + 6dp rounding: the per-alpha shares still sum to ~1
      assert(math.abs(group.map(_._5).sum - 1.0) < 1e-4, s"alpha $alpha shares don't normalize")
      for ((_, _, _, share, ts, up) <- group) assert(up == (ts > share))
    }
    // alpha = 1.0 is the identity: temp share == raw share to rounding
    for ((_, a, _, share, ts, _) <- rows if a == 100)
      assert(math.abs(ts - share) < 2e-6)
    // temperature flattens monotonically: the largest source's share can
    // only shrink as alpha drops, the smallest source's can only grow
    val bySrc = rows.groupBy(_._1)
    val maxSrc = bySrc.maxBy(_._2.map(_._3).max)._2.sortBy(_._2).map(_._5)
    val minSrc = bySrc.minBy(_._2.map(_._3).min)._2.sortBy(_._2).map(_._5)
    assert(maxSrc.sliding(2).forall { case Array(lo, hi) => lo <= hi + 2e-6; case _ => true },
      "head source share must grow with alpha")
    assert(minSrc.sliding(2).forall { case Array(lo, hi) => lo >= hi - 2e-6; case _ => true },
      "tail source share must shrink with alpha")
  }

  test("x94 purity: clusters partition the corpus, majority accounting consistent") {
    val rows = graft.SparkEntry.queries("x94_cluster_purity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getDouble(5)))
    graft.util.SharedStages.releaseAll()
    assert(rows.length == 8, "k = 8 clusters, all non-empty on this corpus")
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_._2).sum == nVec, "clusters partition the vectors")
    for ((_, n, nl, _, nm, p) <- rows) {
      assert(nl >= 1 && nm >= 1 && nm <= n)
      // the majority label's share is at least an even split across labels
      assert(nm * nl >= n, s"majority $nm of $n cannot be under 1/$nl")
      assert(math.abs(p - nm.toDouble / n) < 1e-6 + 5e-7)
    }
  }

  test("x89 phases: an even partition, length-monotone across phases") {
    val rows = graft.SparkEntry.queries("x89_curriculum_phases")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6))).sortBy(_._1)
    assert(rows.map(_._1).sameElements(1 to 10), "phases 1..10 all present")
    val n = rows.map(_._2).sum
    assert(n == 500)
    // even split: every phase holds floor(n/10) or ceil(n/10) docs
    assert(rows.forall(r => r._2 == n / 10 || r._2 == (n + 9) / 10))
    // curriculum order: lengths never decrease across the phase boundary
    for (Array(a, b) <- rows.sliding(2).map(_.toArray))
      assert(a._4 <= b._3, s"phase ${a._1} max ${a._4} > phase ${b._1} min ${b._3}")
    for ((_, nd, mn, mx, sum, mean, ns) <- rows) {
      assert(mn <= mx && sum >= nd * mn && sum <= nd * mx)
      assert(math.abs(mean - sum.toDouble / nd) < 1e-6 + 5e-7)
      assert(ns >= 1 && ns <= 20)
    }
  }
}
