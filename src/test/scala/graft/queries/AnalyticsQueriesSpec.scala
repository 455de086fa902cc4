package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the release-analytics family (x100–x102):
  * the DuckDB oracle pins organic output bitwise; these pin the SEMANTICS
  * on constructed corpora where the expected values are hand-computable. */
class AnalyticsQueriesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("x100 l-diversity: balanced passes, homogeneous and skewed flag") {
    import spark.implicits._
    // class A: 6 members over 3 balanced bands -> distinct_ok AND entropy_ok
    // class B: 6 members in ONE band -> l=1, H=0, flagged (homogeneity attack)
    // class C: 10 members 8/1/1 -> l=3 distinct_ok, but H=0.639 < ln 3 -> flagged
    val rows =
      Seq((0L, "A", 500.0), (0L, "A", 500.0), (0L, "A", 1500.0),
        (0L, "A", 1500.0), (0L, "A", 2500.0), (0L, "A", 2500.0)) ++
        (1 to 6).map(_ => (1L, "B", 500.0)) ++
        ((1 to 8).map(_ => (2L, "C", 500.0)) ++ Seq((2L, "C", 1500.0), (2L, "C", 2500.0)))
    val dir = SparkSpec.tempDir("ldiv")
    rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("x100_l_diversity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5), r.getBoolean(6),
          r.getBoolean(7))).toMap
    // fixed-point entropy exactly as both engines compute it
    def h(cs: Seq[Long]): Double = {
      val n = cs.sum
      val tm = cs.map(c => c * math.floor(math.log(n.toDouble / c) * 1e9 + 0.5).toLong).sum
      tm / (n * 1e9)
    }
    val (na, la, ha, da, ea, fa) = got((0L, "A"))
    assert((na, la) == (6L, 3L) && da && ea && !fa)
    assert(math.abs(ha - math.round(h(Seq(2L, 2L, 2L)) * 1e6) / 1e6) < 1e-9)
    val (nb, lb, hb, db, eb, fb) = got((1L, "B"))
    assert((nb, lb, hb) == (6L, 1L, 0.0) && !db && !eb && fb)
    val (nc, lc, hc, dc, ec, fc) = got((2L, "C"))
    assert((nc, lc) == (10L, 3L) && dc && !ec && fc)
    assert(math.abs(hc - math.round(h(Seq(8L, 1L, 1L)) * 1e6) / 1e6) < 1e-9)
  }

  test("x101 funnel: strict ordering, out-of-order events never count") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"),
      (3L, ts(70), 1L, "purchase", 1.0, "{}"),
      // user 2: click BEFORE the first view + purchase with no click-after -> stage 1 only
      (4L, ts(-5), 2L, "click", 1.0, "{}"), (5L, ts(0), 2L, "view", 1.0, "{}"),
      (6L, ts(5), 2L, "purchase", 1.0, "{}"),
      // user 3: no view at all -> not in the funnel
      (7L, ts(0), 3L, "click", 1.0, "{}"), (8L, ts(1), 3L, "purchase", 1.0, "{}"),
      // user 4: view -> click, no purchase
      (9L, ts(0), 4L, "view", 1.0, "{}"), (10L, ts(20), 4L, "click", 1.0, "{}"))
    val dir = SparkSpec.tempDir("funnel")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("x101_event_funnel")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got("view") == ((3L, 1.0, None)))
    assert(got("click_after_view") == ((2L, 0.666667, Some(15.0))))
    assert(got("purchase_after_click") == ((1L, 0.5, Some(60.0))))
  }

  test("x102 cohort retention: offsets vs first-event week, fraction vs cohort size") {
    import spark.implicits._
    // 2024-01-01 is a Monday: week boundaries land exactly on fixture days.
    def ts(day: Int, hour: Int) =
      Timestamp.valueOf(f"2024-01-${day}%02d $hour%02d:00:00")
    val ev = Seq(
      (1L, ts(1, 9), 1L, "view", 1.0, "{}"),   // u1 cohort W0 (Jan 1)
      (2L, ts(9, 9), 1L, "view", 1.0, "{}"),   // u1 active W1 (Jan 8)
      (3L, ts(23, 9), 1L, "view", 1.0, "{}"),  // u1 active W3 (Jan 22)
      (4L, ts(8, 9), 2L, "view", 1.0, "{}"),   // u2 cohort W1, active W1 only
      (5L, ts(3, 9), 3L, "view", 1.0, "{}"))   // u3 cohort W0, active W0 only
    val dir = SparkSpec.tempDir("cohort")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("x102_cohort_retention")(spark, dir)
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val w0 = "2024-01-01 00:00:00.0"
    val w1 = "2024-01-08 00:00:00.0"
    assert(got((w0, 0L)) == ((2L, 1.0)))
    assert(got((w0, 1L)) == ((1L, 0.5)))
    assert(got((w0, 3L)) == ((1L, 0.5)))
    assert(got((w1, 0L)) == ((1L, 1.0)))
    assert(got.size == 4)
  }

  test("x103 transitions: counts, row-normalized p, terminals, event_id tie-break") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"),
      (3L, ts(20), 1L, "purchase", 1.0, "{}"),
      (4L, ts(0), 2L, "view", 1.0, "{}"), (5L, ts(10), 2L, "click", 1.0, "{}"),
      // u3: equal-ts pair — order must resolve by event_id (view then error)
      (7L, ts(5), 3L, "error", 1.0, "{}"), (6L, ts(5), 3L, "view", 1.0, "{}"))
    val dir = SparkSpec.tempDir("trans")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("x103_event_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got(("view", "click")) == ((2L, 0.666667, 0L)))
    assert(got(("view", "error")) == ((1L, 0.333333, 0L)))
    assert(got(("click", "purchase")) == ((1L, 1.0, 1L)))
    assert(got.size == 3)
    // organic sanity: per-from probabilities sum to 1 (+-rounding)
    val organic = SparkEntry.queries("x103_event_transitions")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    organic.groupBy(_._1).foreach { case (f, rows) =>
      assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4, s"from=$f")
    }
  }

  test("x104 RFM: quintile scores by exact integer thresholds, lifecycle labels") {
    import spark.implicits._
    // user k (1..5): last event k-1 days before the corpus max, k events
    // total, one purchase of k dollars -> every metric scores exactly k
    // (recency inverted: user 1 most recent -> r=5).
    val t0 = Timestamp.valueOf("2024-01-31 12:00:00")
    val ev = (1 to 5).flatMap { k =>
      val last = new Timestamp(t0.getTime - (k - 1) * 86400000L)
      val earlier = (1 until k).map(j =>
        (k * 100L + j, new Timestamp(last.getTime - j * 3600000L),
          k.toLong, "view", 0.0, "{}"))
      earlier :+ ((k * 100L, last, k.toLong, "purchase", k.toDouble, "{}"))
    }
    val dir = SparkSpec.tempDir("rfm")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("x104_rfm_segments")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getString(4))).toMap
    assert(got((5L, 1L, 1L)) == ((1L, "new")))
    assert(got((4L, 2L, 2L)) == ((1L, "new")))
    assert(got((3L, 3L, 3L)) == ((1L, "regular")))
    assert(got((2L, 4L, 4L)) == ((1L, "at_risk")))
    assert(got((1L, 5L, 5L)) == ((1L, "at_risk")))
    assert(got.size == 5)
    // organic: scores bounded 1..5, user mass conserved
    val organic = SparkEntry.queries("x104_rfm_segments")(spark, sf).collect()
    assert(organic.forall(r => (0 to 2).forall(i => r.getLong(i) >= 1 && r.getLong(i) <= 5)))
  }

  test("x105 session stats: gap labeling, exact rank quantiles, singleton share") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(min: Long) = new Timestamp(t0.getTime + min * 60000L)
    // u1: 3 events within 30-min gaps (one 1200 s / 3-event session), then
    // one event 2 h later (singleton). u2: one event (singleton).
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "view", 1.0, "{}"),
      (3L, ts(20), 1L, "view", 1.0, "{}"), (4L, ts(140), 1L, "view", 1.0, "{}"),
      (5L, ts(0), 2L, "view", 1.0, "{}"))
    val dir = SparkSpec.tempDir("sessstats")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("x105_session_stats")(spark, dir).collect().head
    // sessions: (1200 s, 3 ev), (0, 1), (0, 1); k50 = 2, k90 = 3
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 0L && r.getLong(2) == 1200L)
    assert(r.getLong(3) == 1L && r.getLong(4) == 3L)
    assert(r.getDouble(5) == 0.666667)
  }

  test("s20 streaming funnel: slots carry across micro-batches, fire exactly once") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new Timestamp(t0.getTime + sec * 1000L)
    // Batch 1: u1 views then clicks (two slots fill). Batch 2: a second
    // click (slot already filled -> silent) and the purchase (fires using
    // the click timestamp carried in state from batch 1).
    val b1 = Seq((1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"))
    val b2 = Seq((3L, ts(20), 1L, "click", 1.0, "{}"), (4L, ts(30), 1L, "purchase", 1.0, "{}"))
    val tmp = SparkSpec.tempDir("s20funnel")
    for ((rows, i) <- Seq(b1, b2).zipWithIndex) {
      val part = s"$tmp/stage$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(tmp, s"f$i.parquet").toPath)
    }
    val q = graft.streaming.EventStream.runFunnel(spark, tmp, "s20_spec_sink",
      glob = "f*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val rows = q.sparkSession.table("s20_spec_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    assert(rows.length == 3, s"each slot fires exactly once: ${rows.toSeq}")
    assert(rows.toSet == Set((1L, "view", ts(0)), (1L, "click_after_view", ts(10)),
      (1L, "purchase_after_click", ts(30))))
  }

  test("x114 t-closeness: proportional class reads t=0, skewed classes flag") {
    import spark.implicits._
    // Bands 0/1/2. Class C = 4/1/1 is EXACTLY proportional to the global
    // 12/3/3 -> t = 0, clean. A = 2/2/2 (uniform) and B = 6/0/0 (point
    // mass) both read t = 54 / (2*6*18) = 0.25 > 0.2 -> flagged.
    def members(nation: Long, seg: String, perBand: Seq[Int]) =
      perBand.zipWithIndex.flatMap { case (m, b) =>
        Seq.fill(m)((nation, seg, b * 1000.0 + 500.0))
      }
    val rows = members(0L, "A", Seq(2, 2, 2)) ++ members(1L, "B", Seq(6, 0, 0)) ++
      members(2L, "C", Seq(4, 1, 1))
    val dir = SparkSpec.tempDir("tclose")
    rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("x114_t_closeness")(spark, dir)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(got("C") == ((6L, 0.0, false)))
    assert(got("A") == ((6L, 0.25, true)))
    assert(got("B") == ((6L, 0.25, true)))
  }

  test("s21 stream transitions: predecessor carries across micro-batches") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    // batch 1: view(0), click(10); batch 2: click(20) pairs with the
    // CARRIED click from batch 1, purchase(30) pairs with click(20).
    val b1 = Seq((1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"))
    val b2 = Seq((3L, ts(20), 1L, "click", 1.0, "{}"), (4L, ts(30), 1L, "purchase", 1.0, "{}"))
    val tmp = SparkSpec.tempDir("s21trans")
    for ((rows, i) <- Seq(b1, b2).zipWithIndex) {
      val part = s"$tmp/stage$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(tmp, s"f$i.parquet").toPath)
    }
    val q = graft.streaming.EventStream.runTransitions(spark, tmp, "s21_spec_sink",
      glob = "f*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val rows = q.sparkSession.table("s21_spec_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length == 3, s"one transition per post-first event: ${rows.toSeq}")
    assert(rows.toSet == Set((1L, "view", "click"), (1L, "click", "click"),
      (1L, "click", "purchase")))
  }

  test("x118 last-touch: latest preceding touch wins, ties by event_id, none bucket") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    val ev = Seq(
      // u1: view then click -> the purchase credits the LATER click, gap 20
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"),
      (3L, ts(30), 1L, "purchase", 9.99, "{}"),
      // u2: untouched purchase -> 'none'
      (4L, ts(30), 2L, "purchase", 1.0, "{}"),
      // u3: click and view at the SAME ts -> event_id breaks the tie (view wins)
      (5L, ts(5), 3L, "click", 1.0, "{}"), (6L, ts(5), 3L, "view", 1.0, "{}"),
      (7L, ts(10), 3L, "purchase", 2.0, "{}"),
      // u4: view at the purchase's own ts but a smaller event_id -> attributed, gap 0
      (8L, ts(0), 4L, "view", 1.0, "{}"), (9L, ts(0), 4L, "purchase", 3.0, "{}"))
    val dir = SparkSpec.tempDir("lasttouch")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("x118_last_touch")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got("click") == ((1L, 9.99, 20L)))
    assert(got("view") == ((2L, 5.0, 3L)))  // gaps 5 and 0 -> round-half-up mean 3
    assert(got("none") == ((1L, 1.0, -1L))) // no touch, no gap
  }

  test("x122 schema drift: new key flags its first day, dropped key vanishes") {
    import spark.implicits._
    val d1 = Timestamp.valueOf("2024-01-01 10:00:00")
    val d2 = Timestamp.valueOf("2024-01-02 10:00:00")
    // day 1: keys {a, b}; day 2: key b dropped, key c introduced.
    val ev = Seq(
      (1L, d1, 1L, "view", 1.0, """{"a": 1, "b": 2}"""),
      (2L, d1, 2L, "view", 1.0, """{"a": 3}"""),
      (3L, d2, 1L, "view", 1.0, """{"a": 4, "c": 5}"""),
      (4L, d2, 2L, "view", 1.0, """{"c": 6}"""))
    val dir = SparkSpec.tempDir("drift")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("x122_props_schema_drift")(spark, dir)
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(got(("2024-01-01", "a")) == ((2L, 2L, 1.0, true)))
    assert(got(("2024-01-01", "b")) == ((1L, 2L, 0.5, true)))
    assert(got(("2024-01-02", "a")) == ((1L, 2L, 0.5, false)))
    assert(got(("2024-01-02", "c")) == ((2L, 2L, 1.0, true)))
    assert(!got.contains(("2024-01-02", "b")), "dropped key has no day-2 row")
  }

  test("x123 order audit: late arrival counted once with exact worst delay") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    // u1 arrives in order; u2's third arrival (event_id 5) carries an event
    // time 40 s BEFORE the running max -> 1 late event, delay 40.
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(10), 1L, "click", 1.0, "{}"),
      (3L, ts(0), 2L, "view", 1.0, "{}"), (4L, ts(60), 2L, "click", 1.0, "{}"),
      (5L, ts(20), 2L, "purchase", 1.0, "{}"))
    val dir = SparkSpec.tempDir("order")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("x123_event_order_audit")(spark, dir).collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - 0.2) < 1e-12)
    assert(r.getLong(3) == 40L && r.getLong(4) == 1L)
  }

  test("x128 skew audit: hot key lands in its exact octave, skew factor round(max/avg)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    // u1 = 9 events (bin(9)=1001 -> ord 3), u2/u3 = 1 event each (ord 0).
    // total: 3 keys, 11 rows, max 9 -> skew = round(9*3/11) = round(2.45) = 2.
    val ev = (1L to 9L).map(i => (i, ts(i), 1L, "view", 1.0, "{}")) ++
      Seq((10L, ts(10), 2L, "view", 1.0, "{}"), (11L, ts(11), 3L, "view", 1.0, "{}"))
    val dir = SparkSpec.tempDir("skew")
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("x128_key_skew_audit")(spark, dir).collect()
    val buckets = rows.filter(_.getString(0) == "bucket")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(buckets(0L) == ((2L, 2L, 1L)))
    assert(buckets(3L) == ((1L, 9L, 9L)))
    val tot = rows.find(_.getString(0) == "total").get
    assert(tot.getLong(2) == 3L && tot.getLong(3) == 11L && tot.getLong(4) == 9L)
    assert(tot.getLong(5) == 2L)
  }

  test("organic invariants: funnel monotone, retention bounded with unit diagonal") {
    val funnel = SparkEntry.queries("x101_event_funnel")(spark, sf).collect()
    assert(funnel.length == 3)
    val byStage = funnel.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("view") >= byStage("click_after_view"))
    assert(byStage("click_after_view") >= byStage("purchase_after_click"))
    val ret = SparkEntry.queries("x102_cohort_retention")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(ret.forall { case (_, f) => f > 0.0 && f <= 1.0 })
    assert(ret.filter(_._1 == 0L).forall(_._2 == 1.0))
  }
}
