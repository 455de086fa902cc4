package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** r17 kernel/rewrite pins.
  *
  * member_count must equal size(array_intersect(arr, set)) on DISTINCT
  * arrays — the x23 call-site contract — including empty/null edges and
  * the cache-fingerprint path (many rows against one broadcast set, then a
  * different set).
  *
  * The x90 bucket roll-up must exercise the HOT-bucket cap path the
  * organic test SFs never hit (postings top out well under 128 there):
  * planting >128 docs that share every band checks capped_buckets /
  * dropped_candidates accounting and that capped groups still produce
  * intra pairs in configs where some band survives (here: none survive —
  * identical docs cap every band — so candidates must come from the
  * OTHER docs only).
  */
class Round17KernelSpec extends SparkSpec {
  import spark.implicits._

  test("member_count equals size(array_intersect) on distinct arrays") {
    val rows = Seq(
      (1L, Seq("a", "b", "c"), Seq("b", "c", "d")),
      (2L, Seq.empty[String], Seq("b")),
      (3L, Seq("x"), Seq.empty[String]),
      (4L, Seq("a", "b"), Seq("a", "b")),
      (5L, Seq("q w", "e r", "t y"), Seq("e r")),
      (6L, Seq("a"), Seq("z"))
    ).toDF("id", "arr", "set")
    val got = rows.select(col("id"),
      MemberCountExpr.member_count(col("arr"), col("set")).as("mc"),
      size(array_intersect(col("arr"), col("set"))).as("ai")).collect()
    got.foreach { r => assert(r.getInt(1) === r.getInt(2), s"row ${r.getLong(0)}") }
  }

  test("member_count cache: many rows one set, then a changed set") {
    // one broadcast-style constant set across many rows (fingerprint hit
    // path), then a different set of the SAME length whose first/last
    // elements differ (fingerprint miss path must rebuild, not reuse)
    val many = (1 to 500).map(i => (i.toLong, Seq(s"tok$i", "common"))).toDF("id", "arr")
    val s1 = typedLit(Seq("common", "tok7"))
    val s2 = typedLit(Seq("other", "tok7"))
    val c1 = many.select(sum(MemberCountExpr.member_count(col("arr"), s1))).first().getLong(0)
    val c2 = many.select(sum(MemberCountExpr.member_count(col("arr"), s2))).first().getLong(0)
    assert(c1 === 501L) // "common" in every row + tok7 once
    assert(c2 === 1L)   // only tok7 once
  }

  test("member_count cache: distinct sets with equal length/first/middle/last each count right") {
    // Both sets share length, first, middle (n/2) and last elements, which
    // was the whole cache key once; rows alternate between them inside
    // one task, so a key that ignores element 1 would reuse a stale set.
    val a = Seq("head", "onlyA", "mid", "tail")
    val b = Seq("head", "onlyB", "mid", "tail")
    val rows = (1 to 200).map(i => (i.toLong, Seq("onlyA", s"t$i"), if (i % 3 == 0) b else a))
      .toDF("id", "arr", "set").repartition(1)
    val got = rows.select(col("id"),
      MemberCountExpr.member_count(col("arr"), col("set")).as("mc"),
      size(array_intersect(col("arr"), col("set"))).as("ai")).collect()
    assert(got.length == 200)
    got.foreach { r => assert(r.getInt(1) === r.getInt(2), s"row ${r.getLong(0)}") }
    assert(got.count(_.getInt(1) == 1) == 134 && got.count(_.getInt(1) == 0) == 66)
  }

  test("x90 cap path: a >128-doc clone group caps every band and is audited") {
    val dir = java.nio.file.Files.createTempDirectory("r17x90").toString
    // 130 identical docs (one text → one rep with m=130, every band bucket
    // has docs=130 > 128 in every config) + two near-ish docs that bucket
    // together benignly.
    val clones = (0 until 130).map(i => (1000L + i, "src0", "alpha beta gamma delta epsilon zeta"))
    val others = Seq(
      (1L, "src0", "one two three four five six seven"),
      (2L, "src0", "one two three four five six eight"))
    (clones ++ others).toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def l(r: org.apache.spark.sql.Row, i: Int): Long = r.getAs[Number](i).longValue()
    val out = graft.SparkEntry.queries("x90_lsh_tuning_curve")(spark, dir)
      .collect().map(r => (l(r, 0), l(r, 1), l(r, 2), l(r, 3), l(r, 6), l(r, 7)))
      .sortBy(x => (x._1, x._2))
    graft.util.PersistScope.releaseAll()
    assert(out.length === 4) // every config row survives
    out.foreach { case (b, r, nCand, nTrue, capped, dropped) =>
      // the clone group's bands are all capped: every config reports its
      // C(130,2) = 8385 dropped candidates across b capped buckets
      assert(capped === b, s"config ($b,$r): capped buckets")
      assert(dropped === b * (130L * 129L / 2), s"config ($b,$r): dropped")
      // the clone group contributes NO candidates (fully capped in every
      // config); the two 'other' docs share bands only where their 7-token
      // texts agree — candidates are bounded by that single pair
      assert(nCand <= 1, s"config ($b,$r): candidates")
      assert(nTrue <= nCand)
    }
  }
}
