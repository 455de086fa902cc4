package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r16 fused kernels must be bit-identical to the composable chains
  * they replaced: WinnowFpsExpr vs the shingle→md5→windowed-array_min HOF
  * chain (the pre-r16 winnowFingerprints body), and VecAgg's one-pass
  * moment sums vs the posexplode/groupBy forms (the pre-r16 x132 body). */
class FusedKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Pre-r16 winnowFingerprints: the composable HOF chain. */
  private def chainFps(docs: org.apache.spark.sql.DataFrame, window: Int) = {
    val toks = split(col("text"), " ")
    val sh = when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val hs = col("__hs")
    val nw = greatest(size(hs) - (window - 1), lit(1))
    val fps = array_distinct(transform(sequence(lit(1), nw),
      j => array_min(slice(hs, j, lit(window)))))
    docs.select(col("doc_id"), transform(sh, g => md5(g)).as("__hs"))
      .select(col("doc_id"), explode_outer(when(size(hs) >= 1, fps)).as("fp"))
      .filter(col("fp").isNotNull)
  }

  private val docs = Seq(
    (1L, ""),
    (2L, "one"),
    (3L, "one two"),
    (4L, "one two three"),                       // exactly 1 shingle
    (5L, "a b c d"),                             // 2 shingles < window
    (6L, "a b c d e f"),                         // 4 shingles = window
    (7L, "a b c d e f g h i j k l m n o p"),     // many windows
    (8L, "x x x x x x x x"),                     // all-identical shingles
    (9L, "a b c a b c a b c a b c"),             // repeating pattern
    (10L, "the quick brown fox jumps over the lazy dog the quick brown fox"))

  test("winnow_fps matches the composable HOF chain row-for-row") {
    for (w <- Seq(1, 2, 4, 7)) {
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.winnowFingerprints(df, "doc_id", "text", w)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val expect = chainFps(df, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(got.toSeq == expect.toSeq, s"window=$w")
    }
  }

  test("winnow_fps distinct order matches array_distinct first-occurrence") {
    val df = Seq((9L, "a b c a b c a b c a b c")).toDF("doc_id", "text")
    val got = df.select(WinnowFpsExpr.winnow_fps(split(col("text"), " "), 4))
      .collect()(0).getSeq[String](0)
    assert(got.distinct.toSeq == got.toSeq)
    assert(got.nonEmpty)
  }

  test("vec_sum / outer_sum match the posexplode forms exactly") {
    val rows = Seq(
      Array(1L, -2L, 3L), Array(0L, 0L, 0L), Array(-5L, 7L, 11L),
      Array(1000L, -1000L, 999L), Array(2L, 2L, 2L))
    val df = rows.map(Tuple1(_)).toDF("q")
    val n = rows.length
    val d = 3
    val one = df.agg(VecAgg.vec_sum(col("q")).as("sxv"),
      VecAgg.outer_sum(col("q")).as("xyv")).collect()(0)
    val sxv = one.getSeq[Long](0)
    val xyv = one.getSeq[Long](1)
    val expSx = (0 until d).map(i => rows.map(_(i)).sum)
    val expXy = for (i <- 0 until d; j <- 0 until d)
      yield rows.map(r => r(i) * r(j)).sum
    assert(sxv.toSeq == expSx)
    assert(xyv.toSeq == expXy)
    assert(xyv.length == d * d)
    val _ = n
  }

  test("vec_sum / outer_sum on an empty frame yield empty arrays") {
    val df = Seq.empty[Tuple1[Array[Long]]].toDF("q")
    val one = df.agg(VecAgg.vec_sum(col("q")).as("sxv"),
      VecAgg.outer_sum(col("q")).as("xyv")).collect()(0)
    assert(one.getSeq[Long](0).isEmpty && one.getSeq[Long](1).isEmpty)
  }

  test("outer_sum repartitioned (forced merge path) equals single-partition") {
    val rows = (1 to 97).map(i => Array(i.toLong, (i % 7).toLong - 3, 2L * i))
    val a = rows.map(Tuple1(_)).toDF("q").repartition(8)
      .agg(VecAgg.outer_sum(col("q"))).collect()(0).getSeq[Long](0)
    val b = rows.map(Tuple1(_)).toDF("q").coalesce(1)
      .agg(VecAgg.outer_sum(col("q"))).collect()(0).getSeq[Long](0)
    assert(a.toSeq == b.toSeq)
  }

  /** Pre-r16 s17 verdict stack: union prefilter + per-item
    * array_intersect gate + longestRun aggregate fold over xxhash64
    * 5-grams (the exact runDecontamGate HOF chain it replaced). */
  private def chainVerdict(docs: org.apache.spark.sql.DataFrame,
                           benchDocs: org.apache.spark.sql.DataFrame) = {
    def gramsOf(tk: org.apache.spark.sql.Column) =
      when(size(tk) >= 5, transform(sequence(lit(1), size(tk) - 4),
        i => xxhash64(concat_ws(" ", (0 until 5).map(o => element_at(tk, i + o)): _*))))
        .otherwise(array().cast("array<bigint>"))
    val bset = benchDocs.select(col("doc_id").as("bid"),
      array_distinct(gramsOf(split(col("text"), " "))).as("bset"))
    val union = bset.select(explode(col("bset")).as("g")).distinct()
      .agg(collect_list(col("g")).as("uni"))
    val bench = bset.agg(collect_list(struct(col("bid"), col("bset"))).as("bs"))
      .crossJoin(union)
    def longestRun(b: org.apache.spark.sql.Column) =
      aggregate(
        transform(col("gs"), g => array_contains(b, g)),
        struct(lit(0).as("cur"), lit(0).as("best")),
        (acc, hit) => {
          val nc = when(hit, acc.getField("cur") + 1).otherwise(lit(0))
          struct(nc.as("cur"), greatest(acc.getField("best"), nc).as("best"))
        },
        acc => acc.getField("best"))
    val anyHit = size(array_intersect(col("gs"), col("uni"))) > 0
    val per = when(anyHit,
      transform(col("bs"), b =>
        when(size(array_intersect(col("gs"), b.getField("bset"))) > 0,
          longestRun(b.getField("bset"))).otherwise(lit(0))))
      .otherwise(transform(col("bs"), _ => lit(0)))
    docs.select(col("doc_id"), gramsOf(split(col("text"), " ")).as("gs"))
      .crossJoin(bench)
      .select(col("doc_id"),
        size(filter(per, p => p > 0)).as("hits"),
        coalesce(array_max(per), lit(0)).as("mr"))
  }

  private def fusedVerdict(docs: org.apache.spark.sql.DataFrame,
                           benchDocs: org.apache.spark.sql.DataFrame) = {
    def gramsOf(tk: org.apache.spark.sql.Column) =
      when(size(tk) >= 5, transform(sequence(lit(1), size(tk) - 4),
        i => xxhash64(concat_ws(" ", (0 until 5).map(o => element_at(tk, i + o)): _*))))
        .otherwise(array().cast("array<bigint>"))
    val bench = benchDocs.select(col("doc_id").as("bid"),
        array_distinct(gramsOf(split(col("text"), " "))).as("bset"))
      .agg(collect_list(struct(col("bid"), col("bset"))).as("bs"))
    val v = DecontamVerdictExpr.decontam_verdict(split(col("text"), " "), col("bs"))
    docs.crossJoin(bench)
      .select(col("doc_id"), v.as("__v"))
      .select(col("doc_id"), col("__v.hits").as("hits"), col("__v.mr").as("mr"))
  }

  test("decontam_verdict matches the HOF verdict stack row-for-row") {
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven"),
      (3L, "x y z w v u t s r q")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, ""),                                            // empty
      (11L, "too short"),                                   // <5 tokens
      (12L, "alpha beta gamma delta epsilon"),               // exact 5-token hit of item 1
      (13L, "no overlap here with anything benchmarked at all"),
      (14L, "pad alpha beta gamma delta epsilon zeta pad2 one two three four five"), // two items
      (15L, "one two three four five six seven and then one two three four five"),   // long + repeated run
      (16L, "alpha beta gamma delta epsilon zeta eta theta " * 3)                     // full item, multiple runs
    ).toDF("doc_id", "text")
    val got = fusedVerdict(docs, bench).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val expect = chainVerdict(docs, bench).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    assert(expect.exists(_._2 > 0) && expect.exists(_._3 > 1)) // fixture exercises hits and runs
  }

  test("decontam_verdict with an empty benchmark yields (0,0) for every doc") {
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = fusedVerdict(docs, bench).collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq((0, 0)))
  }

  test("decontam_verdict cache: benchmarks equal in ids, lengths, first and last grams stay apart") {
    // Two one-item benchmarks with the same id, gram count, first and last
    // gram (the whole cache key once) but a different middle gram. Rows
    // alternate between them inside one task; each must score against its
    // own benchmark.
    def g(s: String): Long = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)
    val first = g("a b c d e"); val last = g("k l m n o")
    val benchA = Seq((7L, Seq(first, g("p q r s t"), last)))
    val benchB = Seq((7L, Seq(first, g("u v w x y"), last)))
    val rows = (1 to 60).map { i =>
      val useA = i % 2 == 0
      (i.toLong, "p q r s t", if (useA) benchA else benchB, if (useA) 1 else 0)
    }.toDF("doc_id", "text", "bs", "expect").repartition(1)
    val got = rows.select(col("doc_id"), col("expect"),
        DecontamVerdictExpr.decontam_verdict(split(col("text"), " "), col("bs")).as("v"))
      .select(col("doc_id"), col("expect"), col("v.hits"), col("v.mr")).collect()
    assert(got.length == 60)
    got.foreach { r =>
      assert(r.getInt(2) == r.getInt(1) && r.getInt(3) == r.getInt(1), s"doc ${r.getLong(0)}")
    }
  }
}
