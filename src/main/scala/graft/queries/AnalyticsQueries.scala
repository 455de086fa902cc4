package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef.t
import graft.streaming.EventStream

/** Behavioral / privacy analytics the reference's findings-store consumers
  * run downstream of the scan (reference `store/db.py` exposes the raw
  * frames; these are the standard release-side reads): an l-diversity audit
  * (the homogeneity-attack complement of x96's k-anonymity size check), an
  * ordered event funnel, and a cohort retention matrix. All three reduce the
  * corpus to a tiny keyed frame in a single pass and do every ratio on that
  * frame — the canonical 100-TB shape for release analytics.
  */
object AnalyticsQueries {

  val defs: Seq[QueryDef] = Seq(

    // l-diversity audit (x100) — the privacy check x96 does NOT make:
    // a class can be k-anonymous (n ≥ 5) and still leak its sensitive
    // attribute when every member shares one value (the homogeneity
    // attack, Machanavajjhala et al. 2007). Classes are x96's coarser
    // (nation, segment) release; the sensitive attribute is the $1k
    // balance band. Two gates per class: distinct l-diversity (≥ 3
    // distinct bands) and entropy l-diversity (H(band | class) ≥ ln 3 —
    // strictly stronger; a 98/1/1 split passes distinct but fails
    // entropy). The entropy cross-row sum is the x69 fixed-point idiom —
    // per-band term c·⌊ln(N/c)·1e9+0.5⌋ summed as exact int64, so the
    // value never depends on partial-aggregation order. Scale: one
    // map-side-combined groupBy to the (class, band) frame (∝ distinct
    // combos, not rows), windows over that tiny frame; the corpus is
    // touched exactly once.
    QueryDef("x100_l_diversity",
      """WITH cb AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS band, count(*) AS c
             FROM customer GROUP BY 1, 2, 3),
          ns AS (SELECT nation, seg, sum(c) AS n, count(*) AS l FROM cb GROUP BY 1, 2),
          tm AS (SELECT cb.nation, cb.seg,
               sum(cb.c * CAST(floor(ln(ns.n::DOUBLE / cb.c) * 1000000000 + 0.5) AS BIGINT))
                 AS tm
             FROM cb JOIN ns USING (nation, seg) GROUP BY 1, 2)
          SELECT ns.nation, ns.seg, CAST(ns.n AS BIGINT) AS n_members,
            CAST(ns.l AS BIGINT) AS l_distinct,
            round(tm.tm / (ns.n * 1000000000.0), 6) AS entropy,
            ns.l >= 3 AS distinct_ok,
            tm.tm >= 1098612289 * ns.n AS entropy_ok,
            NOT (ns.l >= 3 AND tm.tm >= 1098612289 * ns.n) AS flagged
          FROM tm JOIN ns USING (nation, seg)""") { (s, d) =>
      val cb = t(s, d, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("c"))
      // limit(4096): no-op — one row per (nation, segment) class, both
      // bounded enumerations; machine-visible bound for PlanGuard.
      val ns = cb.groupBy("nation", "seg")
        .agg(sum("c").as("n"), count(lit(1)).as("l")).limit(4096)
      val tm = cb.join(broadcast(ns), Seq("nation", "seg"))
        .select(col("nation"), col("seg"),
          (col("c") * floor(log(col("n").cast("double") / col("c")) * 1000000000L + 0.5)
            .cast("long")).as("tm_row"))
        .groupBy("nation", "seg").agg(sum("tm_row").as("tm"))
      // Entropy gate in exact fixed-point: H ≥ ln 3 ⇔ tm ≥ ⌊ln(3)·1e9+0.5⌋·n
      // (= 1098612289·n) — an integer comparison, immune to ULP drift between
      // the engines' ln implementations at the threshold.
      val entOk = col("tm") >= lit(1098612289L) * col("n")
      tm.join(broadcast(ns), Seq("nation", "seg"))
        .select(col("nation"), col("seg"),
          col("n").cast("long").as("n_members"),
          col("l").cast("long").as("l_distinct"),
          round(col("tm") / (col("n") * 1000000000.0), 6).as("entropy"),
          (col("l") >= 3).as("distinct_ok"),
          entOk.as("entropy_ok"),
          (!(col("l") >= 3 && entOk)).as("flagged"))
    },

    // t-closeness audit (x114) — the third leg of the release-privacy
    // trio (x96 k-anonymity: classes big enough; x100 l-diversity: values
    // varied enough; here: the class's sensitive-value DISTRIBUTION close
    // enough to the corpus-wide one — Li et al. 2007). A class can pass
    // both earlier gates and still leak via skew (e.g. a class where 90%
    // sit in the top balance band when the population has 9%). Distance
    // is the ordered-attribute Earth Mover's Distance: t = Σ|cum p −
    // cum q| / (B−1) over the band ladder. Every cumulative is an exact
    // integer count, and the comparison runs on the exact int64 cross
    // product |cumn·G − cumg·n| (denominators cleared), so no float
    // crosses rows and the 0.2 gate is ULP-stable in both engines.
    // Scale: one map-side-combined groupBy to the (class, band) frame;
    // everything after runs on classes×bands (~10³ rows) — the corpus is
    // touched exactly once.
    QueryDef("x114_t_closeness",
      """WITH cb AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS band, count(*) AS c
             FROM customer GROUP BY 1, 2, 3),
          ns AS (SELECT nation, seg, sum(c) AS n FROM cb GROUP BY 1, 2),
          g AS (SELECT band, sum(c) AS gb FROM cb GROUP BY 1),
          gw AS (SELECT band, sum(gb) OVER (ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg FROM g),
          tot AS (SELECT sum(c) AS gt, count(DISTINCT band) AS nb FROM cb),
          cells AS (SELECT gr.nation, gr.seg, gr.n, gr.band, gr.cumg,
               coalesce(cb.c, 0) AS c
             FROM (SELECT ns.nation, ns.seg, ns.n, gw.band, gw.cumg
                   FROM ns CROSS JOIN gw) gr
             LEFT JOIN cb USING (nation, seg, band)),
          cum AS (SELECT nation, seg, n, cumg,
               sum(c) OVER (PARTITION BY nation, seg ORDER BY band
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
             FROM cells),
          agg AS (SELECT nation, seg, n,
               sum(abs(cumn * (SELECT gt FROM tot) - cumg * n)) AS tnum
             FROM cum GROUP BY 1, 2, 3),
          fin AS (SELECT nation, seg, n,
               CASE WHEN (SELECT nb FROM tot) > 1
                 THEN tnum::DOUBLE
                   / (((SELECT nb FROM tot) - 1) * n * (SELECT gt FROM tot))
                 ELSE 0.0 END AS traw
             FROM agg)
          SELECT nation, seg, CAST(n AS BIGINT) AS n_members,
            round(traw, 6) AS t_closeness, traw > 0.2 AS flagged
          FROM fin""") { (s, d) =>
      val cb = t(s, d, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("c"))
      val ns = cb.groupBy("nation", "seg").agg(sum("c").as("n"))
      // limit(4096): no-op — one row per BAND of the sensitive attribute
      // (floor(acctbal/1000): a value-domain ladder, O(10³) for any real
      // balance range, independent of row count); machine-visible bound
      // for PlanGuard, and the cardinality argument for the one
      // whitelisted unpartitioned window over this same frame.
      val gw = cb.groupBy("band").agg(sum("c").as("gb"))
        .withColumn("cumg", sum("gb").over(
          Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)))
        .select("band", "cumg")
        .limit(4096)
      val tot = cb.agg(sum("c").as("gt"), countDistinct("band").as("nb"))
      // cb is classes×bands-sized — same order as the stream side, so it
      // earns no hint: a plain 3-key equi-join (AQE broadcasts at runtime).
      val cells = ns.crossJoin(broadcast(gw))
        .join(cb, Seq("nation", "seg", "band"), "left")
        .select(col("nation"), col("seg"), col("n"), col("band"), col("cumg"),
          coalesce(col("c"), lit(0L)).as("c"))
      val cum = cells.withColumn("cumn", sum("c").over(
        Window.partitionBy("nation", "seg").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, 0)))
      val agg = cum.crossJoin(broadcast(tot))
        .select(col("nation"), col("seg"), col("n"), col("gt"), col("nb"),
          abs(col("cumn") * col("gt") - col("cumg") * col("n")).as("term"))
        .groupBy("nation", "seg", "n", "gt", "nb").agg(sum("term").as("tnum"))
      val traw = when(col("nb") > 1,
        col("tnum").cast("double") / ((col("nb") - 1) * col("n") * col("gt")))
        .otherwise(lit(0.0))
      agg.select(col("nation"), col("seg"), col("n").cast("long").as("n_members"),
        round(traw, 6).as("t_closeness"), (traw > 0.2).as("flagged"))
    },

    // Ordered event funnel (x101) — the multi-stage conversion read every
    // event warehouse serves: per user, the earliest view, the earliest
    // click STRICTLY AFTER that view, the earliest purchase strictly after
    // that click; the funnel row reports users reaching each stage, the
    // step conversion, and mean seconds-to-advance (exact integer sums).
    // Scale shape: ONE shuffle total — three whole-partition conditional
    // mins over the same user partitioning (consecutive Window operators
    // with identical partitioning plan with a single Exchange+Sort), then
    // a user-level dedup on that partitioning and a scalar fold to three
    // rows. No self-join, no per-stage corpus rescans.
    QueryDef("x101_event_funnel",
      """WITH x AS (SELECT e.user_id,
               min(CASE WHEN e.event_type = 'view' THEN e.ts END) AS t1
             FROM events e GROUP BY 1),
          y AS (SELECT x.user_id, x.t1, min(e.ts) AS t2
             FROM x LEFT JOIN events e
               ON e.user_id = x.user_id AND e.event_type = 'click' AND e.ts > x.t1
             GROUP BY 1, 2),
          z AS (SELECT y.user_id, y.t1, y.t2, min(e.ts) AS t3
             FROM y LEFT JOIN events e
               ON e.user_id = y.user_id AND e.event_type = 'purchase' AND e.ts > y.t2
             GROUP BY 1, 2, 3),
          agg AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3,
               sum(CASE WHEN t2 IS NOT NULL
                   THEN CAST(date_diff('second', t1, t2) AS BIGINT) END) AS s12,
               sum(CASE WHEN t3 IS NOT NULL
                   THEN CAST(date_diff('second', t2, t3) AS BIGINT) END) AS s23
             FROM z)
          SELECT stage, n_users, conv_from_prev, mean_advance_sec FROM (
            SELECT 1 AS ord, 'view' AS stage, CAST(n1 AS BIGINT) AS n_users,
              1.0 AS conv_from_prev, CAST(NULL AS DOUBLE) AS mean_advance_sec FROM agg
            UNION ALL
            SELECT 2, 'click_after_view', CAST(n2 AS BIGINT),
              round(CASE WHEN n1 > 0 THEN n2::DOUBLE / n1 ELSE 0 END, 6),
              CASE WHEN n2 > 0 THEN round(s12::DOUBLE / n2, 6) END FROM agg
            UNION ALL
            SELECT 3, 'purchase_after_click', CAST(n3 AS BIGINT),
              round(CASE WHEN n2 > 0 THEN n3::DOUBLE / n2 ELSE 0 END, 6),
              CASE WHEN n3 > 0 THEN round(s23::DOUBLE / n3, 6) END FROM agg)
          ORDER BY ord""") { (s, d) =>
      val w = Window.partitionBy("user_id")
      val perUser = QueryDef.events(s, d)
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(w))
        .select("user_id", "t1", "t2", "t3").distinct()
      val agg = perUser.agg(
        count("t1").as("n1"), count("t2").as("n2"), count("t3").as("n3"),
        sum(when(col("t2").isNotNull,
          unix_timestamp(col("t2")) - unix_timestamp(col("t1")))).as("s12"),
        sum(when(col("t3").isNotNull,
          unix_timestamp(col("t3")) - unix_timestamp(col("t2")))).as("s23"))
      agg.select(explode(array(
        struct(lit("view").as("stage"), col("n1").cast("long").as("n_users"),
          lit(1.0).as("conv_from_prev"),
          lit(null).cast("double").as("mean_advance_sec")),
        struct(lit("click_after_view").as("stage"), col("n2").cast("long").as("n_users"),
          round(when(col("n1") > 0, col("n2").cast("double") / col("n1")).otherwise(0.0), 6)
            .as("conv_from_prev"),
          when(col("n2") > 0, round(col("s12").cast("double") / col("n2"), 6))
            .as("mean_advance_sec")),
        struct(lit("purchase_after_click").as("stage"), col("n3").cast("long").as("n_users"),
          round(when(col("n2") > 0, col("n3").cast("double") / col("n2")).otherwise(0.0), 6)
            .as("conv_from_prev"),
          when(col("n3") > 0, round(col("s23").cast("double") / col("n3"), 6))
            .as("mean_advance_sec")))).as("r"))
        .select(col("r.stage").as("stage"), col("r.n_users").as("n_users"),
          col("r.conv_from_prev").as("conv_from_prev"),
          col("r.mean_advance_sec").as("mean_advance_sec"))
    },

    // Last-touch attribution (x118) — the revenue-attribution read every
    // event warehouse serves next to the funnel (x101): each purchase is
    // credited to the LATEST preceding view/click by the same user
    // (strictly earlier in (ts, event_id) order), or to 'none' when no
    // touch precedes it. One shuffle total: a conditional running-max
    // window over the user partitioning carries the latest touch as a
    // (tsm, event_id, type) struct — no self-join, no per-touch rescan.
    // The seconds-to-convert mean is the exact integer round-half-up
    // ((2s+n) div 2n) over floor-second gaps from exact micros; revenue
    // is exact cents. Output: one row per touch class, fixed 3-row shape.
    QueryDef("x118_last_touch",
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               max(CASE WHEN event_type IN ('view', 'click')
                   THEN {'tsm': epoch_us(ts), 'eid': event_id, 'typ': event_type} END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
             FROM events),
          p AS (SELECT coalesce(touch['typ'], 'none') AS touch_type, cents,
               CASE WHEN touch IS NOT NULL
                 THEN (epoch_us(ts) - touch['tsm']) // 1000000 END AS gap_s
             FROM o WHERE event_type = 'purchase'),
          agg AS (SELECT touch_type, count(*) AS n, sum(cents) AS cents,
               sum(gap_s) AS sg FROM p GROUP BY 1),
          shape(touch_type) AS (VALUES ('view'), ('click'), ('none'))
          SELECT s.touch_type,
            CAST(coalesce(a.n, 0) AS BIGINT) AS n_purchases,
            round(coalesce(a.cents, 0) / 100.0, 2) AS revenue,
            CASE WHEN a.touch_type <> 'none' AND a.n > 0
              THEN (2 * a.sg + a.n) // (2 * a.n) END AS mean_gap_s
          FROM shape s LEFT JOIN agg a USING (touch_type)""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = max(when(col("event_type").isin("view", "click"),
        struct(expr("unix_micros(ts)").as("tsm"), col("event_id"), col("event_type"))))
        .over(w)
      val p = QueryDef.events(s, d)
        .withColumn("touch", touch)
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("touch.event_type"), lit("none")).as("touch_type"),
          round(col("value") * 100).cast("long").as("cents"),
          when(col("touch").isNotNull,
            expr("(unix_micros(ts) - touch.tsm) div 1000000").cast("long")).as("gap_s"))
      // limit(3): no-op — one row per touch class {view, click, none};
      // machine-visible bound for PlanGuard's corpus-lineage check.
      val agg = p.groupBy("touch_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"), sum("gap_s").as("sg"))
        .limit(3)
      val shape = s.range(1)
        .select(explode(array(lit("view"), lit("click"), lit("none"))).as("touch_type"))
      shape.join(broadcast(agg), Seq("touch_type"), "left")
        .select(col("touch_type"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_purchases"),
          round(coalesce(col("cents"), lit(0L)) / 100.0, 2).as("revenue"),
          when(col("touch_type") =!= "none" && col("n") > 0,
            expr("(2 * sg + n) div (2 * n)").cast("long")).as("mean_gap_s"))
    },

    // JSON-props schema drift (x122) — the ingestion data-quality audit a
    // changelog consumer runs before trusting event payloads: per (day,
    // json key): how many events carry the key, the day's event total,
    // the presence fraction, and whether this is the key's FIRST day (a
    // new-key alert). Producers add/drop payload fields without notice;
    // this is the view that catches it. Scale: keys explode from each
    // event's own payload (no schema registry needed), the (day, key)
    // aggregate is map-side combined, and the first-day window runs on
    // the days×keys frame — the corpus is touched once.
    QueryDef("x122_props_schema_drift",
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, props
             FROM events),
          k AS (SELECT day, unnest(json_keys(props)) AS key FROM d),
          pk AS (SELECT day, key, count(*) AS n FROM k GROUP BY 1, 2),
          dn AS (SELECT day, count(*) AS nd FROM d GROUP BY 1)
          SELECT pk.day, pk.key, CAST(pk.n AS BIGINT) AS n_present,
            CAST(dn.nd AS BIGINT) AS n_events,
            round(pk.n::DOUBLE / dn.nd, 6) AS presence,
            min(pk.day) OVER (PARTITION BY pk.key) = pk.day AS first_day
          FROM pk JOIN dn USING (day)""") { (s, d) =>
      val ev = QueryDef.events(s, d)
        .select(date_trunc("day", col("ts")).as("day"), col("props"))
      val k = ev.select(col("day"),
        explode(map_keys(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))).as("key"))
      val pk = k.groupBy("day", "key").agg(count(lit(1)).as("n"))
      // limit(4096): no-op — one row per DAY (time horizon: >11 years of
      // retention before it binds, and a bind would fail the oracle hash,
      // not pass silently); machine-visible bound for PlanGuard.
      val dn = ev.groupBy("day").agg(count(lit(1)).as("nd")).limit(4096)
      pk.join(broadcast(dn), "day")
        .withColumn("fd", min("day").over(Window.partitionBy("key")))
        .select(col("day"), col("key"), col("n").cast("long").as("n_present"),
          col("nd").cast("long").as("n_events"),
          round(col("n").cast("double") / col("nd"), 6).as("presence"),
          (col("fd") === col("day")).as("first_day"))
    },

    // Event-order audit (x123) — the out-of-order-arrival measurement that
    // decides streaming watermark horizons (and validates s21's in-order
    // contract): treating event_id as arrival order, an event is LATE when
    // its event time precedes the max event time already seen for that
    // user. One summary row: late count/fraction, the worst lateness in
    // floor-seconds (exact micros arithmetic), and how many users are
    // affected. Scale: one user-partitioned running-max window — the same
    // single exchange every events-family query pays; output is one row.
    QueryDef("x123_event_order_audit",
      """WITH o AS (SELECT user_id, ts,
               max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             FROM events),
          l AS (SELECT user_id,
               CASE WHEN pm IS NOT NULL AND ts < pm THEN 1 ELSE 0 END AS late,
               CASE WHEN pm IS NOT NULL AND ts < pm
                 THEN (epoch_us(pm) - epoch_us(ts)) // 1000000 ELSE 0 END AS delay
             FROM o)
          SELECT CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(late) AS BIGINT) AS n_late,
            round(sum(late)::DOUBLE / count(*), 6) AS late_frac,
            CAST(max(delay) AS BIGINT) AS max_delay_s,
            CAST(count(DISTINCT CASE WHEN late = 1 THEN user_id END) AS BIGINT)
              AS n_users_late
          FROM l""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val o = QueryDef.events(s, d)
        .withColumn("pm", max("ts").over(w))
      val late = col("pm").isNotNull && col("ts") < col("pm")
      val l = o.select(col("user_id"),
        when(late, 1L).otherwise(0L).as("late"),
        when(late, expr("(unix_micros(pm) - unix_micros(ts)) div 1000000"))
          .otherwise(lit(0L)).as("delay"))
      l.agg(count(lit(1)).cast("long").as("n_events"),
        sum("late").cast("long").as("n_late"),
        round(sum("late").cast("double") / count(lit(1)), 6).as("late_frac"),
        max("delay").cast("long").as("max_delay_s"),
        countDistinct(when(col("late") === 1, col("user_id"))).cast("long")
          .as("n_users_late"))
    },

    // Join-key SKEW audit (x128) — the histogram a pipeline reads BEFORE
    // sizing its salting/AQE knobs on a user-keyed shuffle (sessionize,
    // funnel, RFM all hash-partition on user_id; one hot key = one
    // straggler task at 100 TB — the read that pairs with Skew.saltedJoin):
    // per-key event counts bucketed into exact log2 octaves (ord =
    // len(bin(cnt))−1 — integer bit-length, never a float log that could
    // land an exact power on the wrong side), plus a 'total' row whose
    // skew_factor = round(max_key_rows / avg_key_rows) — the multiplier a
    // salted repartition needs to flatten the hottest key, computed by
    // integer round-half-up. Scale shape: ONE map-side-combined user
    // groupBy (the same shuffle the audited queries pay), then everything
    // runs on the ≤64-row octave frame.
    QueryDef("x128_key_skew_audit",
      """WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
          b AS (SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS ord,
               count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
               max(cnt) AS max_key_rows
             FROM kc GROUP BY 1),
          tot AS (SELECT CAST(sum(n_keys) AS BIGINT) AS k, CAST(sum(n_rows) AS BIGINT) AS t,
               max(max_key_rows) AS m FROM b)
          SELECT 'bucket' AS scope, ord, CAST(n_keys AS BIGINT) AS n_keys,
            n_rows, CAST(max_key_rows AS BIGINT) AS max_key_rows,
            CAST(NULL AS BIGINT) AS skew_factor
          FROM b
          UNION ALL
          SELECT 'total', NULL, CAST(k AS BIGINT), t, CAST(m AS BIGINT),
            CAST((2 * m * k + t) // (2 * t) AS BIGINT)
          FROM tot""") { (s, d) =>
      val kc = QueryDef.events(s, d).groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val b = kc.groupBy((length(bin(col("cnt"))) - 1).cast("long").as("ord"))
        .agg(count(lit(1)).as("n_keys"), sum("cnt").cast("long").as("n_rows"),
          max("cnt").as("max_key_rows"))
      val buckets = b.select(lit("bucket").as("scope"), col("ord"),
        col("n_keys").cast("long").as("n_keys"), col("n_rows"),
        col("max_key_rows").cast("long").as("max_key_rows"),
        lit(null).cast("long").as("skew_factor"))
      // the total row folds the ≤64-row octave frame — never a second
      // corpus scan or user shuffle
      val total = b.agg(sum("n_keys").cast("long").as("k"),
          sum("n_rows").cast("long").as("t"), max("max_key_rows").as("m"))
        .select(lit("total").as("scope"), lit(null).cast("long").as("ord"),
          col("k").cast("long").as("n_keys"), col("t").as("n_rows"),
          col("m").cast("long").as("max_key_rows"),
          expr("(2 * m * k + t) div (2 * t)").cast("long").as("skew_factor"))
      buckets.unionByName(total)
    },

    // Cohort retention matrix (x102) — users cohorted by the ISO week of
    // their FIRST event; each later active week becomes a (cohort_week,
    // week_offset) cell with the user count and the retention fraction vs
    // the cohort's size (its offset-0 count — every user is active in
    // their own first week by construction, so that cell IS the cohort).
    // Scale shape: first-event frame and the distinct (user, week)
    // activity frame both hash-partition on user_id, so the join is
    // co-partitioned off one logical shuffle; the matrix aggregation and
    // the cohort-size window then run on a weeks×weeks-sized frame. The
    // week offset is exact integer epoch arithmetic (no interval math).
    QueryDef("x102_cohort_retention",
      """WITH f AS (SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
             FROM events GROUP BY 1),
          a AS (SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
             FROM events),
          m AS (SELECT f.cohort_week,
               (epoch(a.act_week)::BIGINT - epoch(f.cohort_week)::BIGINT) // 604800
                 AS week_offset,
               count(*) AS n_users
             FROM a JOIN f USING (user_id) GROUP BY 1, 2)
          SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
            CAST(n_users AS BIGINT) AS n_users,
            round(n_users::DOUBLE /
              max(CASE WHEN week_offset = 0 THEN n_users END)
                OVER (PARTITION BY cohort_week), 6) AS retention
          FROM m""") { (s, d) =>
      val ev = QueryDef.events(s, d)
      val f = ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val a = ev.select(col("user_id"), date_trunc("week", col("ts")).as("act_week")).distinct()
      val m = a.join(f, "user_id")
        .groupBy(col("cohort_week"),
          ((unix_timestamp(col("act_week")) - unix_timestamp(col("cohort_week")))
            / 604800L).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
      val wc = Window.partitionBy("cohort_week")
      m.select(col("cohort_week"), col("week_offset"),
        col("n_users").cast("long").as("n_users"),
        round(col("n_users").cast("double") /
          max(when(col("week_offset") === 0, col("n_users"))).over(wc), 6).as("retention"))
    },

    // Event-type transition matrix (x103) — the first-order Markov view
    // of user behavior (the "what happens after an error?" read): for
    // every consecutive event pair within a user's timeline, count the
    // (from, to) transition and report its probability conditioned on
    // the from-state, plus each from-state's terminal (no-successor)
    // count. Scale shape: ONE shuffle — the lag window partitions by
    // user_id; the (from, to) aggregation that follows is map-side
    // combined down to |types|² cells. Ordering ties break on event_id,
    // so the matrix is deterministic under any physical row order.
    QueryDef("x103_event_transitions",
      """WITH seq AS (SELECT user_id, event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
             FROM events),
          m AS (SELECT f, t, count(*) AS n FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
          tot AS (SELECT f, sum(n) AS tn FROM m GROUP BY 1),
          term AS (SELECT f, count(*) AS terminals FROM seq WHERE t IS NULL GROUP BY 1)
          SELECT m.f AS from_type, m.t AS to_type, CAST(m.n AS BIGINT) AS n,
            round(m.n::DOUBLE / tot.tn, 6) AS p,
            CAST(coalesce(term.terminals, 0) AS BIGINT) AS from_terminals
          FROM m JOIN tot USING (f) LEFT JOIN term USING (f)""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seq = QueryDef.events(s, d)
        .select(col("user_id"), col("event_type").as("f"),
          lead(col("event_type"), 1).over(w).as("t"))
      val m = seq.filter(col("t").isNotNull).groupBy("f", "t").agg(count(lit(1)).as("n"))
      // limit(4096): no-ops — one row per EVENT TYPE (a product-defined
      // enum, not a corpus-scaling key); machine-visible PlanGuard bounds.
      val tot = m.groupBy("f").agg(sum("n").as("tn")).limit(4096)
      val term = seq.filter(col("t").isNull).groupBy("f")
        .agg(count(lit(1)).as("terminals")).limit(4096)
      m.join(broadcast(tot), "f").join(broadcast(term), Seq("f"), "left")
        .select(col("f").as("from_type"), col("t").as("to_type"),
          col("n").cast("long").as("n"),
          round(col("n").cast("double") / col("tn"), 6).as("p"),
          coalesce(col("terminals"), lit(0L)).cast("long").as("from_terminals"))
    },

    // RFM segmentation (x104) — the recency/frequency/monetary quintile
    // scoring every event warehouse runs for lifecycle campaigns. Per
    // user: days since last event (vs the corpus max — exact integer
    // seconds/86400), event count, purchase cents. Each metric scores
    // 1–5 by EXACT quintile thresholds computed on the distinct-VALUE
    // cumulative frame (the x89/x76 idiom): score(v) = ceil(5·cum≤v/N)
    // in pure integer arithmetic ((5·cum−1) div N + 1), so ties share a
    // score and no float ever enters the gate; recency inverts (recent
    // = 5). Scale shape: one groupBy(user) pass over events; each
    // cumulative runs as a two-level shiftright-bucketed prefix sum (the
    // x107 idiom — m_cents' distinct-value count is NOT tiny at scale),
    // and the score maps join back on the value key (no hint; AQE
    // broadcasts the small ones). Output ≤ 5³ cells with the standard
    // lifecycle labels.
    QueryDef("x104_rfm_segments",
      """WITH mx AS (SELECT max(ts) AS mts, count(DISTINCT user_id) AS nu FROM events),
          u AS (SELECT user_id,
               CAST(date_diff('second', max(ts), (SELECT mts FROM mx)) // 86400 AS BIGINT)
                 AS r_days,
               count(*) AS f_cnt,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS m_cents
             FROM events GROUP BY 1),
          rs AS (SELECT r_days, (5 * sum(count(*)) OVER (ORDER BY r_days) - 1)
                 // (SELECT nu FROM mx) + 1 AS s FROM u GROUP BY 1),
          fs AS (SELECT f_cnt, (5 * sum(count(*)) OVER (ORDER BY f_cnt) - 1)
                 // (SELECT nu FROM mx) + 1 AS s FROM u GROUP BY 1),
          ms AS (SELECT m_cents, (5 * sum(count(*)) OVER (ORDER BY m_cents) - 1)
                 // (SELECT nu FROM mx) + 1 AS s FROM u GROUP BY 1),
          sc AS (SELECT u.user_id, 6 - rs.s AS r, fs.s AS f, ms.s AS m
             FROM u JOIN rs USING (r_days) JOIN fs USING (f_cnt) JOIN ms USING (m_cents))
          SELECT CAST(r AS BIGINT) AS r_score, CAST(f AS BIGINT) AS f_score,
            CAST(m AS BIGINT) AS m_score, CAST(count(*) AS BIGINT) AS n_users,
            CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champions'
                 WHEN r >= 4 AND f >= 3 THEN 'loyal'
                 WHEN r >= 4 THEN 'new'
                 WHEN r <= 2 AND f >= 4 THEN 'at_risk'
                 WHEN r <= 2 AND f <= 2 THEN 'hibernating'
                 ELSE 'regular' END AS segment
          FROM sc GROUP BY 1, 2, 3, 5""") { (s, d) =>
      val ev = QueryDef.events(s, d)
      val mx = ev.agg(max("ts").as("mts"),
        countDistinct(col("user_id")).as("nu"))
      val u = ev.groupBy("user_id")
        .agg(max("ts").as("lt"), count(lit(1)).as("f_cnt"),
          coalesce(sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long"))), lit(0L)).as("m_cents"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"),
          ((unix_timestamp(col("mts")) - unix_timestamp(col("lt"))) / 86400L)
            .cast("long").as("r_days"),
          col("f_cnt"), col("m_cents"), col("nu"))
      // Distinct-value cumulative frames via the x107 TWO-LEVEL prefix:
      // m_cents' distinct-value count can reach ~10⁷ at scale (price-cent
      // grid), so a single-partition cumulative window over it is a one-
      // task funnel. Values bucket by shiftright(v,16) — exact
      // order-preserving floor division — so the within-bucket cumulative
      // is PARTITIONED (≤2¹⁶ distinct integers per bucket by construction)
      // and the only unpartitioned window runs over bucket totals, bounded
      // by value_range/2¹⁶ (~10³ for cents, ~1 for days) — a VALUE-RANGE
      // bound, independent of user count. Same integer quintile math.
      def scores(metric: String): org.apache.spark.sql.DataFrame = {
        val g = u.groupBy(metric, "nu").agg(count(lit(1)).as("c"))
          .withColumn("bkt", shiftright(col(metric), 16))
        val boff = g.groupBy("bkt").agg(sum("c").as("bc"))
          .withColumn("off", coalesce(sum("bc").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "off")
        g.join(boff, "bkt")
          .withColumn("cum", col("off") + sum("c").over(
            Window.partitionBy("bkt").orderBy(metric)
              .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col(metric),
            expr(s"(5 * cum - 1) div nu + 1").as(s"s_$metric"))
      }
      // Score maps join back on the VALUE key — distinct-value-sized frames
      // earn no broadcast hint (m_cents' can be ~10⁷ rows; AQE broadcasts
      // the small ones at runtime).
      val sc = u
        .join(scores("r_days"), "r_days")
        .join(scores("f_cnt"), "f_cnt")
        .join(scores("m_cents"), "m_cents")
        .select(col("user_id"), (lit(6) - col("s_r_days")).as("r"),
          col("s_f_cnt").as("f"), col("s_m_cents").as("m"))
      val segment = when(col("r") >= 4 && col("f") >= 4 && col("m") >= 4, "champions")
        .when(col("r") >= 4 && col("f") >= 3, "loyal")
        .when(col("r") >= 4, "new")
        .when(col("r") <= 2 && col("f") >= 4, "at_risk")
        .when(col("r") <= 2 && col("f") <= 2, "hibernating")
        .otherwise("regular")
      sc.groupBy(col("r").cast("long").as("r_score"),
          col("f").cast("long").as("f_score"),
          col("m").cast("long").as("m_score"), segment.as("segment"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("r_score"), col("f_score"), col("m_score"),
          col("n_users"), col("segment"))
    },

    // Session engagement distribution (x105) — THE engagement read a
    // product warehouse serves: exact p50/p90 of session duration and
    // session size over q11's 30-minute-gap sessions, plus the
    // single-event-session share. Exact quantiles without a global sort:
    // the distinct-VALUE cumulative frames again (durations are integer
    // seconds bounded by the session horizon; sizes bounded by burst
    // length), k-th rank = ceil(q·n) in pure integer arithmetic, answer =
    // min value whose cumulative count reaches k. Scale shape: one
    // user-partitioned window pass to label sessions, one groupBy to the
    // session frame, then everything runs on value-distinct frames.
    QueryDef("x105_session_stats",
      """WITH lab AS (SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                 THEN 1 ELSE 0 END AS is_new
             FROM events),
          sess AS (SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
               ts FROM lab),
          s AS (SELECT user_id, sid,
               CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur,
               count(*) AS ne
             FROM sess GROUP BY 1, 2),
          n AS (SELECT count(*) AS n, sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS singles
             FROM s),
          dv AS (SELECT dur AS v, count(*) AS c FROM s GROUP BY 1),
          dc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM dv),
          ev AS (SELECT ne AS v, count(*) AS c FROM s GROUP BY 1),
          ec AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM ev)
          SELECT CAST(n.n AS BIGINT) AS n_sessions,
            CAST((SELECT min(v) FROM dc WHERE cum >= (n.n * 50 + 99) // 100) AS BIGINT)
              AS p50_duration_s,
            CAST((SELECT min(v) FROM dc WHERE cum >= (n.n * 90 + 99) // 100) AS BIGINT)
              AS p90_duration_s,
            CAST((SELECT min(v) FROM ec WHERE cum >= (n.n * 50 + 99) // 100) AS BIGINT)
              AS p50_events,
            CAST((SELECT min(v) FROM ec WHERE cum >= (n.n * 90 + 99) // 100) AS BIGINT)
              AS p90_events,
            round(n.singles::DOUBLE / n.n, 6) AS single_event_frac
          FROM n""") { (s, d) =>
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wCum = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // Gap test in EXACT MICROS on both sides (oracle epoch_us): fixtures
      // carry microsecond-precision ts, so a floor-second gap test would
      // diverge from the oracle on true gaps in (1800, 1801) s. Durations
      // stay floor-second (matching the oracle's date_diff('second')).
      val sess = QueryDef.events(s, d)
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("em", unix_micros(col("ts")))
        .withColumn("is_new",
          when(col("em") - lag(col("em"), 1).over(wOrd) > 1800000000L, 1).otherwise(0))
        .withColumn("sid", sum("is_new").over(wCum))
        .groupBy("user_id", "sid")
        .agg((max("es") - min("es")).as("dur"), count(lit(1)).as("ne"))
      val n = sess.agg(count(lit(1)).as("n"),
        sum(when(col("ne") === 1, 1L).otherwise(0L)).as("singles"))
      def quant(metric: String, pct: Int): org.apache.spark.sql.DataFrame =
        sess.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
          .crossJoin(broadcast(n.select("n")))
          .filter(col("cum") >= expr(s"(n * $pct + 99) div 100"))
          .agg(min("v").as(s"p${pct}_$metric"))
      n.crossJoin(broadcast(quant("dur", 50)))
        .crossJoin(broadcast(quant("dur", 90)))
        .crossJoin(broadcast(quant("ne", 50)))
        .crossJoin(broadcast(quant("ne", 90)))
        .select(col("n").cast("long").as("n_sessions"),
          col("p50_dur").cast("long").as("p50_duration_s"),
          col("p90_dur").cast("long").as("p90_duration_s"),
          col("p50_ne").cast("long").as("p50_events"),
          col("p90_ne").cast("long").as("p90_events"),
          round(col("singles").cast("double") / col("n"), 6).as("single_event_frac"))
    },

    // Streaming funnel detector (s20) — x101 evaluated AT ARRIVAL: a
    // stage-advance row fires in the micro-batch where a user's slot
    // fills (the "alert when a user converts" trigger read). State is
    // three timestamps per user, filled at most once each — bounded and
    // monotone, so no watermark. Single-batch replay (the gate's shape)
    // reproduces x101's min-over-history semantics exactly; the oracle
    // is the per-user stage unpivot. Runner in EventStream.runFunnel.
    QueryDef("s20_stream_funnel",
      """WITH x AS (SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t1
             FROM events GROUP BY 1),
          y AS (SELECT x.user_id, x.t1, min(e.ts) AS t2
             FROM x LEFT JOIN events e
               ON e.user_id = x.user_id AND e.event_type = 'click' AND e.ts > x.t1
             GROUP BY 1, 2),
          z AS (SELECT y.user_id, y.t1, y.t2, min(e.ts) AS t3
             FROM y LEFT JOIN events e
               ON e.user_id = y.user_id AND e.event_type = 'purchase' AND e.ts > y.t2
             GROUP BY 1, 2, 3)
          SELECT user_id, 'view' AS stage, t1 AS ts FROM z WHERE t1 IS NOT NULL
          UNION ALL
          SELECT user_id, 'click_after_view', t2 FROM z WHERE t2 IS NOT NULL
          UNION ALL
          SELECT user_id, 'purchase_after_click', t3 FROM z WHERE t3 IS NOT NULL""") {
      (s, d) =>
      EventStream.sinkTable(EventStream.runFunnel(s, d, "s20_sink"))
        .select(col("user_id"), col("stage"), col("ts"))
    },

    // x103's transition matrix maintained AT ARRIVAL (s21) — the live
    // Markov view behind anomaly dashboards ("click→purchase rate fell
    // off a cliff this hour"). Per-user state is ONE (last ts, last
    // event_id, last type) tuple — constant size forever, watermark-free;
    // each arriving event emits exactly one (from, to) row and replaces
    // the predecessor. The gate aggregates the emitted pair stream to the
    // (from, to, n) matrix; with in-order per-key delivery (the Kafka
    // partition-key contract; in-batch rows sort by (ts, event_id) — the
    // s13 order contract) that matrix IS the batch lead() matrix, which
    // is the oracle. Runner in EventStream.runTransitions.
    QueryDef("s21_stream_transitions",
      """WITH seq AS (SELECT user_id, event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
             FROM events)
          SELECT f AS from_type, t AS to_type, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE t IS NOT NULL GROUP BY 1, 2""") { (s, d) =>
      EventStream.sinkTable(EventStream.runTransitions(s, d, "s21_sink"))
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).cast("long").as("n"))
        .select(col("from_type"), col("to_type"), col("n"))
    },

    // Markov stationary distribution of the event-type chain (x133) — the
    // long-run behavioral mix x103's one-step matrix only hints at: where
    // does a user's session settle if the observed transition dynamics
    // run on? Three unrolled power iterations of π·P from the uniform
    // start over the observed states, in exact 1e-6 fixed point — each
    // flow term is (π_i·n_ij) div n_i (truncating integer division,
    // identical in both engines), so the trajectory is bitwise
    // reproducible; states with NO observed successor hold their mass
    // (self-loop) rather than leaking it. Three iterations is the
    // diagnostic contract (x115's convention): a ranking/mix signal, not
    // a solved eigenvector — truncation loses ≤1 micro-unit per flow
    // edge per step, documented, deterministic. Scale: the ONE corpus
    // pass is x103's lag window; everything after runs on the
    // |types|²-cell matrix. Output: one row per observed state.
    QueryDef("x133_markov_stationary",
      """WITH seq AS (SELECT user_id, event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
             FROM events),
          m AS (SELECT f, t, count(*) AS n FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
          tot AS (SELECT f, sum(n) AS tn FROM m GROUP BY 1),
          st AS (SELECT DISTINCT f AS state FROM m
                 UNION SELECT DISTINCT t FROM m),
          k AS (SELECT count(*) AS k FROM st),
          i0 AS (SELECT state, 1000000 // (SELECT k FROM k) AS p FROM st),
          i1 AS (SELECT state, sum(p) AS p FROM (
               SELECT m.t AS state, (pi.p * m.n) // tot.tn AS p
               FROM i0 pi JOIN m ON m.f = pi.state JOIN tot ON tot.f = m.f
               UNION ALL
               SELECT pi.state, pi.p FROM i0 pi
               WHERE pi.state NOT IN (SELECT f FROM tot)) GROUP BY 1),
          i2 AS (SELECT state, sum(p) AS p FROM (
               SELECT m.t AS state, (pi.p * m.n) // tot.tn AS p
               FROM i1 pi JOIN m ON m.f = pi.state JOIN tot ON tot.f = m.f
               UNION ALL
               SELECT pi.state, pi.p FROM i1 pi
               WHERE pi.state NOT IN (SELECT f FROM tot)) GROUP BY 1),
          i3 AS (SELECT state, sum(p) AS p FROM (
               SELECT m.t AS state, (pi.p * m.n) // tot.tn AS p
               FROM i2 pi JOIN m ON m.f = pi.state JOIN tot ON tot.f = m.f
               UNION ALL
               SELECT pi.state, pi.p FROM i2 pi
               WHERE pi.state NOT IN (SELECT f FROM tot)) GROUP BY 1)
          SELECT i3.state AS event_type,
            CAST(coalesce(tot.tn, 0) AS BIGINT) AS n_out,
            i3.p::DOUBLE / 1000000 AS p_stationary
          FROM i3 LEFT JOIN tot ON tot.f = i3.state""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seq = QueryDef.events(s, d)
        .select(col("user_id"), col("event_type").as("f"),
          lead(col("event_type"), 1).over(w).as("t"))
      // limit(4096): no-op — |types|² transition cells (a product-defined
      // enum); machine-visible PlanGuard bound.
      val m = seq.filter(col("t").isNotNull)
        .groupBy("f", "t").agg(count(lit(1)).as("n")).limit(4096)
      // ONE-ROW iteration (r16): the matrix is |types|²-bounded, yet the
      // row-frame unrolling planned ~300 exchanges across the three steps
      // (each step's moved/held/group chain re-planned per iteration —
      // 3.7 s isolated at sf0.1, pure tiny-stage churn; the corpus lag
      // window itself is <1 s). The bounded matrix collapses into ONE
      // collected array row and the whole three-step iteration runs
      // imperatively inside [[graft.ops.MarkovStationaryExpr]] — identical
      // surviving-state decay and identical div-truncated integer masses
      // (see its Scaladoc), in a 3-exchange linear plan. This is the
      // broadcast-a-bounded-model posture the PQ/drift queries already
      // take, applied to the iteration state itself; the unchanged
      // row-frame oracle is the equivalence proof. (A higher-order-
      // function form was tried first and abandoned: interpreted HOFs
      // have no common-subexpression elimination, so the nested steps
      // re-evaluated each other exponentially.)
      val one = m.agg(collect_list(struct(col("f"), col("t"), col("n"))).as("es"))
      one.select(explode(graft.ops.MarkovStationaryExpr
          .markov_stationary(col("es"), 3)).as("x"))
        .select(col("x.state").as("event_type"),
          col("x.n_out").cast("long").as("n_out"),
          (col("x.p").cast("double") / 1000000).as("p_stationary"))
    },

    // Inter-arrival burstiness audit (x131) — the traffic-shape read that
    // sizes streaming state and rate limits: per user, the squared
    // coefficient of variation of consecutive event gaps. CV² ≈ 1 is
    // Poisson (memoryless) traffic; CV² >> 1 is bursty sessions-and-
    // silence (the shape that decides watermark horizons and state-store
    // peak sizing); CV² < 1 is scripted/bot-regular cadence — so the
    // bursty flag doubles as a bot screen. Determinism: gaps are exact
    // floor-second integers (the session-family convention); CV² =
    // (n·Σg² − S²)/S² is a ratio of exact int sums (Σg² in
    // decimal(38,0)/HUGEINT — seconds-scale squares overflow int64 at
    // ~10⁶ events/user), snapped to 1e-6 fixed point by integer floor
    // division; the bursty gate n·Σg² − S² > S² is a pure integer
    // compare. Scale: ONE user-partitioned lag window + one
    // map-side-combined groupBy — the q11/x102 shuffle, nothing else.
    QueryDef("x131_event_burstiness",
      """WITH o AS (SELECT user_id, epoch_us(ts) AS tsm,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pg
             FROM events),
          g AS (SELECT user_id, (tsm - pg) // 1000000 AS g FROM o WHERE pg IS NOT NULL),
          a AS (SELECT user_id, count(*) AS n, sum(g) AS s,
               sum(g::HUGEINT * g) AS q FROM g GROUP BY 1)
          SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
            CAST(s // n AS BIGINT) AS mean_gap_s,
            CASE WHEN n >= 2 AND s > 0 THEN
              CAST((1000000 * (n * q - s::HUGEINT * s)) // (s::HUGEINT * s) AS BIGINT)::DOUBLE
                / 1000000 END AS cv2,
            CASE WHEN n >= 2 AND s > 0
              THEN n * q - s::HUGEINT * s > s::HUGEINT * s
              ELSE false END AS bursty
          FROM a""") { (s, d) =>
      // Ordering by exact micros == ordering by ts (monotone conversion).
      val w = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
      val g = QueryDef.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("tsm"), col("event_id"))
        .withColumn("pg", lag("tsm", 1).over(w))
        .filter(col("pg").isNotNull)
        .select(col("user_id"), expr("(tsm - pg) div 1000000").as("g"))
      val dec = "decimal(38,0)"
      // Cast to decimal BEFORE multiplying (mirrors the oracle's
      // g::HUGEINT * g) — squaring in Long first would wrap for a gap
      // ≥ ~3.04e9 s, silently diverging from the oracle.
      val a = g.groupBy("user_id").agg(count(lit(1)).as("n"), sum("g").as("s"),
        sum(col("g").cast(dec) * col("g").cast(dec)).as("q"))
        .withColumn("num",
          lit(1000000).cast(dec) * (col("n").cast(dec) * col("q")
            - col("s").cast(dec) * col("s").cast(dec)))
        .withColumn("den", col("s").cast(dec) * col("s").cast(dec))
      a.select(col("user_id"), col("n").cast("long").as("n_gaps"),
        expr("s div n").cast("long").as("mean_gap_s"),
        when(col("n") >= 2 && col("s") > 0,
          expr("num div den").cast("double") / 1000000).as("cv2"),
        when(col("n") >= 2 && col("s") > 0,
          col("n").cast(dec) * col("q") - col("s").cast(dec) * col("s").cast(dec)
            > col("s").cast(dec) * col("s").cast(dec))
          .otherwise(false).as("bursty"))
    },

    // SCD Type-2 history materialization (x143) — the warehouse
    // versioning op: the per-user event-type stream collapses to one row
    // per RUN of equal consecutive values, each carrying its validity
    // interval [valid_from, valid_to) in exact epoch micros and an
    // is_current flag on the open-ended last run — the
    // slowly-changing-dimension table a change-log ingest materializes.
    // Version numbers are a running count of change points (1-based).
    // Determinism: (ts, event_id) is a total order per user, so runs,
    // versions, and boundaries are unique; intervals are exact int64
    // micros (no timestamp codec ambiguity crosses the gate). Scale: two
    // user-partitioned windows (lag + running change-count — the q11
    // shuffle, reused) + one (user, version) map-side-combined groupBy +
    // one lead window over the RUNS frame (rows ∝ changes, not events).
    QueryDef("x143_scd2_history",
      """WITH o AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt
           FROM events),
         c AS (SELECT *, CASE WHEN pt IS NULL OR pt <> event_type THEN 1 ELSE 0 END AS chg
           FROM o),
         v AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version FROM c),
         runs AS (SELECT user_id, version, min(tsu) AS vf,
             max(event_type) AS event_type, count(*) AS n_events
           FROM v GROUP BY 1, 2),
         fin AS (SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             CAST(vf AS BIGINT) AS valid_from_us,
             CAST(lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS BIGINT)
               AS valid_to_us,
             CAST(n_events AS BIGINT) AS n_events
           FROM runs)
         SELECT user_id, version, event_type, valid_from_us, valid_to_us, n_events,
           valid_to_us IS NULL AS is_current
         FROM fin""") { (s, d) =>
      val wo = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
      val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val v = QueryDef.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
          col("event_id"), col("event_type"))
        .withColumn("pt", lag("event_type", 1).over(wo))
        .withColumn("chg",
          when(col("pt").isNull || col("pt") =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("version", sum("chg").over(wr))
      val runs = v.groupBy("user_id", "version")
        .agg(min("tsu").as("vf"), max("event_type").as("event_type"),
          count(lit(1)).as("n_events"))
      val wl = Window.partitionBy("user_id").orderBy("version")
      runs
        .withColumn("valid_to_us", lead("vf", 1).over(wl))
        .select(col("user_id"), col("version").cast("long").as("version"),
          col("event_type"), col("vf").cast("long").as("valid_from_us"),
          col("valid_to_us").cast("long").as("valid_to_us"),
          col("n_events").cast("long").as("n_events"),
          col("valid_to_us").isNull.as("is_current"))
    },

    // x143 maintained AT ARRIVAL (s27) — the streaming CDC/SCD2 shape: a
    // type change closes the current version (final row, emitted once)
    // and opens the next; the open run re-emits its running row each
    // batch, so the latest emission per (user, version) IS the table
    // state. The fold here takes closed rows as final and, among open
    // re-emissions, the largest n_events (monotone within a version).
    // State: one (version, type, valid_from, n_events) tuple per user —
    // constant forever, watermark-free. Oracle = x143's batch SQL
    // verbatim; runner in EventStream.runScd2.
    QueryDef("s27_stream_scd2",
      """WITH o AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt
           FROM events),
         c AS (SELECT *, CASE WHEN pt IS NULL OR pt <> event_type THEN 1 ELSE 0 END AS chg
           FROM o),
         v AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version FROM c),
         runs AS (SELECT user_id, version, min(tsu) AS vf,
             max(event_type) AS event_type, count(*) AS n_events
           FROM v GROUP BY 1, 2),
         fin AS (SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             CAST(vf AS BIGINT) AS valid_from_us,
             CAST(lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS BIGINT)
               AS valid_to_us,
             CAST(n_events AS BIGINT) AS n_events
           FROM runs)
         SELECT user_id, version, event_type, valid_from_us, valid_to_us, n_events,
           valid_to_us IS NULL AS is_current
         FROM fin""") { (s, d) =>
      EventStream.sinkTable(EventStream.runScd2(s, d, "s27_sink"))
        .groupBy("user_id", "version")
        .agg(max(struct(
          when(col("is_current"), 0).otherwise(1).as("cl"),
          col("n_events").as("ne"), col("valid_to_us").as("vt"),
          col("event_type").as("et"), col("valid_from_us").as("vf"))).as("b"))
        .select(col("user_id"), col("version"),
          col("b.et").as("event_type"), col("b.vf").as("valid_from_us"),
          when(col("b.cl") === 1, col("b.vt")).as("valid_to_us"),
          col("b.ne").as("n_events"), (col("b.cl") === 0).as("is_current"))
    }
  )
}
