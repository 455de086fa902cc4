package graft.streaming

import graft.SparkSpec
import graft.queries.QueryDef

/** Structured Streaming over the events table: the streaming tumbling agg
  * must converge to the batch twin (q10_events_tumbling). */
class EventStreamSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("streaming tumbling agg over the finite events dir matches batch") {
    val q = EventStream.runOnce(spark, sf, "events_agg_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    // the runner executes in a child replay session; the memory sink
    // registers in THAT session's catalog
    val streamed = q.sparkSession.table("events_agg_test").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.SparkEntry.queries("q10_events_tumbling")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("replay keeps its settings off the caller's session and starts each run fresh") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    caller.conf.set("spark.sql.adaptive.enabled", "true")
    caller.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    def run() = {
      val q = EventStream.replay(caller, "replay_spec", "append")(
        child => EventStream.readEvents(child, sf).select("event_id"))
      (q, EventStream.sinkTable(q).count())
    }
    val (q1, n1) = run()
    val (q2, n2) = run()
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(caller.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true")
    assert(q1.sparkSession.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(q1.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
    // same query name, fresh checkpoint: the second run reads all the input again
    val events = QueryDef.events(spark, sf).count()
    assert(n1 == events && n2 == events)
    assert(q2.recentProgress.map(_.numInputRows).sum == events)
  }

  test("a replay's checkpoint lives under the scratch root until the pass's releaseAll") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val q = EventStream.replay(spark, "ckpt_spec", "append")(
      child => EventStream.readEvents(child, sf).select("event_id"))
    assert(EventStream.sinkTable(q).count() == QueryDef.events(spark, sf).count())
    val ckpt = new java.io.File(new java.net.URI(
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot).getPath)
    assert(ckpt.getParentFile == graft.util.SharedStages.root, ckpt)
    assert(new java.io.File(ckpt, "commits").isDirectory, ckpt)
    graft.util.SharedStages.releaseAll()
    assert(!ckpt.exists(), s"$ckpt survived releaseAll")
  }

  test("streamReader probes the schema again after the table is rewritten in place") {
    import org.apache.spark.sql.functions.lit
    val tmp = SparkSpec.tempDir("schema_rewrite")
    val target = new java.io.File(tmp, "events.parquet").toPath
    def writeSingleFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val part = SparkSpec.tempDir("schema_part")
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val base = spark.range(10).toDF("event_id")
    writeSingleFile(base)
    assert(EventStream.streamReader(spark, tmp, "events.parquet").schema.fieldNames
      .sameElements(Array("event_id")))
    writeSingleFile(base.withColumn("extra", lit("x")))
    assert(EventStream.streamReader(spark, tmp, "events.parquet").schema.fieldNames
      .sameElements(Array("event_id", "extra")))
  }

  test("stateful sessionization stream matches the batch lag-window form") {
    val q = EventStream.runSessionize(spark, sf, "sessions_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val streamed = EventStream.sessionTotals(q.sparkSession.table("sessions_test")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.SparkEntry.queries("q11_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("native session_window stream matches the >=-boundary batch form") {
    import org.apache.spark.sql.functions._
    val q = EventStream.runSessionWindow(spark, sf, "sw_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val streamed = EventStream.sessionWindowTotals(q.sparkSession.table("sw_test")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // session_window merges iff gap-diff < gap (strict) — the >= lag test,
    // NOT q11's > split; the boundary is the operator's contract.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val batch = graft.queries.QueryDef.events(spark, sf)
      .withColumn("em", unix_micros(col("ts")))
      .withColumn("is_new",
        when(col("em") - lag(col("em"), 1).over(w) >= 1800000000L, 1).otherwise(0))
      .groupBy("user_id")
      .agg((lit(1) + sum("is_new")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("lateness audit carries the running max across arrival-ordered micro-batches") {
    import org.apache.spark.sql.functions._
    // Split events into 3 files by event_id RANGE — arrival (event_id)
    // order is preserved across batches, which is the audit's contract
    // (lateness is relative to ARRIVAL history; a %-split would reorder it).
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = SparkSpec.tempDir("stream_lateness")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val ids = raw.select("event_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids((ids.length / 3).min(ids.length - 1)),
      ids((2 * ids.length / 3).min(ids.length - 1)))
    val parts = Seq(
      raw.filter(col("event_id") <= cuts(0)),
      raw.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      raw.filter(col("event_id") > cuts(1)))
    parts.zipWithIndex.foreach { case (df, i) =>
      val sub = s"$tmp/split_$i"
      df.coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/events_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runLatenessAudit(spark, tmp, "lateness_multibatch",
      glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected multiple data micro-batches")
    val streamed = EventStream.latenessTotals(q.sparkSession.table("lateness_multibatch"))
      .collect().head
    val batch = graft.SparkEntry.queries("x123_event_order_audit")(spark, sf)
      .collect().head
    assert(streamed.getLong(0) == batch.getLong(0))
    assert(streamed.getLong(1) == batch.getLong(1))
    assert(streamed.getDouble(2) == batch.getDouble(2))
    assert(streamed.getLong(3) == batch.getLong(3))
    assert(streamed.getLong(4) == batch.getLong(4))
  }

  test("streaming SCD2 carries the open run across event-time-ordered micro-batches (s27)") {
    import org.apache.spark.sql.functions._
    // Split events into 3 files by TS range (cuts at distinct timestamps,
    // so equal-ts rows never straddle a batch): per-user event-TIME order
    // is preserved across batches — s27's in-order delivery contract —
    // and a run that spans a batch boundary must continue, not restart.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = SparkSpec.tempDir("stream_scd2")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsu = expr("unix_micros(CAST(ts AS TIMESTAMP))")
    val tss = raw.select(tsu).collect().map(_.getLong(0)).sorted
    val cuts = Seq(tss(tss.length / 3), tss(2 * tss.length / 3))
    val parts = Seq(
      raw.filter(tsu <= cuts(0)),
      raw.filter(tsu > cuts(0) && tsu <= cuts(1)),
      raw.filter(tsu > cuts(1)))
    parts.zipWithIndex.foreach { case (df, i) =>
      val sub = s"$tmp/split_$i"
      df.coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/events_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runScd2(spark, tmp, "scd2_multibatch",
      glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected multiple data micro-batches")
    val raw2 = q.sparkSession.table("scd2_multibatch")
    val streamed = raw2.groupBy("user_id", "version")
      .agg(max(struct(
        when(col("is_current"), 0).otherwise(1).as("cl"),
        col("n_events").as("ne"), col("valid_to_us").as("vt"),
        col("event_type").as("et"), col("valid_from_us").as("vf"))).as("b"))
      .select(col("user_id"), col("version"), col("b.et"), col("b.vf"),
        when(col("b.cl") === 1, col("b.vt")).as("vt"), col("b.ne"),
        (col("b.cl") === 0).as("cur"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val batch = graft.SparkEntry.queries("x143_scd2_history")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(streamed == batch,
      "streamed SCD2 table equals the batch materialization bitwise")
    assert(batch.valuesIterator.exists(!_._5) && batch.valuesIterator.exists(_._5),
      "fixture exercises both closed and open runs")
  }

  test("sessionization is correct across multiple out-of-order micro-batches") {
    // Split the events table into 3 files by event_id % 3 — each file holds a
    // time-interleaved slice, so with maxFilesPerTrigger=1 every micro-batch
    // delivers events out of order relative to previous batches. The
    // interval-merge state must still converge to the batch oracle.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = SparkSpec.tempDir("stream_multibatch")
    val raw = spark.read.parquet(s"$sf/events.parquet") // ts stays raw nanos-long
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.lit(3)) === i)
        .coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/events_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runSessionize(spark, tmp, "sessions_multibatch",
      glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected multiple data micro-batches")
    val streamed = EventStream.sessionTotals(q.sparkSession.table("sessions_multibatch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.SparkEntry.queries("q11_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join matches the batch self-join") {
    val q = EventStream.runAttribution(spark, sf, "attr_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val streamed = q.sparkSession.table("attr_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the same attributionJoin code on a batch frame (withWatermark is a
    // no-op there) is the reference: parity isolates the streaming machinery
    val batch = EventStream.attributionJoin(QueryDef.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream join is correct across time-ordered micro-batches") {
    // Time-ordered 3-way split (batch i = i-th tercile of event time): the
    // 2h watermark comfortably covers the 1h join window, so pairs whose
    // click and purchase land in DIFFERENT micro-batches must still match —
    // the cross-batch state-retention path. (An out-of-order split would
    // legitimately drop late rows per watermark semantics; ordered arrival
    // is the realistic shape for an event log.)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, ntile}
    val tmp = SparkSpec.tempDir("stream_attr_batches")
    val raw = spark.read.parquet(s"$sf/events.parquet") // ts stays raw nanos-long
      .withColumn("__b", ntile(3).over(Window.orderBy(col("ts"), col("event_id"))))
    for (i <- 1 to 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(col("__b") === i).drop("__b").coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/events_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runAttribution(spark, tmp, "attr_multibatch",
      glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected multiple data micro-batches")
    val streamed = q.sparkSession.table("attr_multibatch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventStream.attributionJoin(QueryDef.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("left-outer stream-stream join emits unmatched clicks on eviction, horizon-bounded") {
    val q = EventStream.runAttributionOuter(spark, sf, "attr_outer_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val rows = q.sparkSession.table("attr_outer_test").collect()
    val matched = rows.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val unmatchedIds = rows.filter(_.isNullAt(2)).map(_.getLong(1)).toSet
    // matched rows == the inner join (outer adds, never changes, matches)
    val inner = EventStream.attributionJoin(QueryDef.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(matched == inner)
    // every unmatched click: no purchase in-window AND outside the final
    // watermark horizon (wm = min of both sides' max ts − 2h)
    import org.apache.spark.sql.functions._
    val ev = QueryDef.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts"))
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    val wm = math.min(
      clicks.agg(max(unix_timestamp(col("ts")))).first().getLong(0),
      purchases.agg(max(unix_timestamp(col("ts")))).first().getLong(0)) - 7200
    val expectedUnmatched = clicks.as("c")
      .join(purchases.as("p"),
        col("p.user_id") === col("c.user_id") &&
          col("p.ts") >= col("c.ts") &&
          col("p.ts") <= col("c.ts") + expr("INTERVAL 1 HOUR"), "left_anti")
      .filter(unix_timestamp(col("ts")) + 3600 < wm)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(unmatchedIds == expectedUnmatched)
    assert(unmatchedIds.nonEmpty, "horizon predicate left no live unmatched rows")
  }

  test("evictAfterGap drops a user's state once the watermark passes end+gap") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val tmp = SparkSpec.tempDir("stream_evict")
    val t0 = 1704067200L // 2024-01-01T00:00:00Z, seconds
    def ns(sec: Long): Long = sec * 1000000000L
    // f1: both users active; f2/f3: only user 1, three hours later — far past
    // user 2's end+gap, so the advancing watermark must evict user 2's state.
    val batches = Seq(
      Seq((1L, 1L, ns(t0)), (2L, 2L, ns(t0)), (3L, 2L, ns(t0 + 60))),
      Seq((4L, 1L, ns(t0 + 3 * 3600))),
      Seq((5L, 1L, ns(t0 + 3 * 3600 + 60))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val sub = s"$tmp/split_$i"
      rows.toDF("event_id", "user_id", "ts")
        .withColumn("event_type", lit("click")).withColumn("value", lit(1.0))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
        .coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$tmp/events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1)) // deterministic batch order
    }
    val q = EventStream.runSessionize(spark, tmp, "sessions_evict",
      glob = "events_*.parquet",
      maxFilesPerTrigger = Some(1), evictAfterGap = true)
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    // Totals are still correct: the eviction emission equals the final state.
    val streamed = EventStream.sessionTotals(q.sparkSession.table("sessions_evict")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((1L, 2L, 3L), (2L, 1L, 2L)))
    // User 2's state was removed: only user 1 remains in the state store.
    val lastStateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).last
    assert(lastStateRows == 1L, s"expected 1 live state row after eviction, got $lastStateRows")
  }

  test("stream-static enrichment join matches the batch rollup") {
    val q = EventStream.runEnriched(spark, sf, "enrich_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val streamed = q.sparkSession.table("enrich_test").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.SparkEntry.queries("s03_stream_enrich")(spark, sf) // same pipeline
    assert(streamed.nonEmpty)
    // cross-check against a direct batch computation
    val events = QueryDef.events(spark, sf)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val expected = EventStream.enrichedAgg(events, cust).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == expected)
  }

  test("streaming dedup chained into aggregation matches batch count distinct") {
    val q = EventStream.runDistinctUsers(spark, sf, "dedup_test")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val streamed = q.sparkSession.table("dedup_test").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    import org.apache.spark.sql.functions.countDistinct
    val expected = QueryDef.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("foreachBatch parquet sink writes the aggregate") {
    val tmp = SparkSpec.tempDir("stream")
    val q = EventStream.toParquetBatches(
      EventStream.tumblingAgg(EventStream.readEvents(spark, sf)),
      s"$tmp/out", s"$tmp/ckpt")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val out = ExactlyOnceSink.readCommitted(spark, s"$tmp/out")
    assert(out.count() > 0)
    assert(out.columns.contains("batch_id"))
  }

  test("exactly-once sink: replays, torn writes, and checkpoint loss do not duplicate") {
    val tmp = SparkSpec.tempDir("stream_eo")
    val out = s"$tmp/out"
    val q = EventStream.toParquetBatches(
      EventStream.tumblingAgg(EventStream.readEvents(spark, sf)), out, s"$tmp/ckpt")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    def snapshot(): Seq[String] =
      ExactlyOnceSink.readCommitted(spark, out).drop("batch_id")
        .collect().map(_.mkString("|")).sorted.toIndexedSeq
    val clean = snapshot()
    assert(clean.nonEmpty)
    // a driver-materialized copy of batch 0, detached from the files it
    // came from (writeBatch overwrites that dir — can't read-and-overwrite)
    val batchStatic = {
      val b0 = spark.read.parquet(s"$out/batch_id=0")
      spark.createDataFrame(spark.sparkContext.parallelize(b0.collect().toIndexedSeq), b0.schema)
    }
    // 1. Straight replay of a committed batch (crash AFTER marker): skipped.
    assert(!ExactlyOnceSink.writeBatch(batchStatic, 0L, out))
    assert(snapshot() == clean)
    // 2. Torn write (crash DURING the data write, BEFORE the marker): the
    // batch dir holds duplicate garbage and no marker — readers never see
    // it, and the replay overwrites it back to exactly one copy.
    val marker0 = new java.io.File(s"$out/_commits/0")
    assert(marker0.delete())
    batchStatic.write.mode("append").parquet(s"$out/batch_id=0") // torn junk
    assert(ExactlyOnceSink.writeBatch(batchStatic, 0L, out))
    assert(snapshot() == clean)
    // 3. Checkpoint loss: a fresh run re-issues batch 0 from scratch —
    // marker present, batch skipped, effects unchanged.
    val q2 = EventStream.toParquetBatches(
      EventStream.tumblingAgg(EventStream.readEvents(spark, sf)), out, s"$tmp/ckpt2")
    try q2.awaitTermination(120000) finally if (q2.isActive) q2.stop()
    assert(snapshot() == clean)
  }

  test("exactly-once sink across many micro-batches equals the batch computation") {
    import org.apache.spark.sql.functions._
    val tmp = SparkSpec.tempDir("s06_multi")
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    // three input files -> maxFilesPerTrigger=1 forces >= 3 micro-batches
    for (i <- 0 to 2) {
      val part = s"$tmp/part$i"
      cust.filter(col("c_custkey") % 3 === i).coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(inDir, s"f$i.parquet").toPath)
    }
    def detect(df: org.apache.spark.sql.DataFrame) =
      graft.queries.PiiInputs.fromCustomer(df)
        .select(col("doc_id"), posexplode(graft.functions.pii_candidates(col("text")))
          .as(Seq("candidate_idx", "c")))
        .select(col("doc_id"), col("candidate_idx"), col("c.value").as("value"))
    val stream = spark.readStream.schema(cust.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
    val q = EventStream.toParquetBatches(detect(stream), s"$tmp/out", s"$tmp/ckpt")
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val markers = new java.io.File(s"$tmp/out/_commits").list()
    assert(markers.length >= 3, s"expected >=3 committed batches, got ${markers.toSeq}")
    val streamed = ExactlyOnceSink.readCommitted(spark, s"$tmp/out")
      .select("doc_id", "candidate_idx", "value")
      .collect().map(_.mkString("|")).sorted
    val batch = detect(cust).collect().map(_.mkString("|")).sorted
    assert(streamed.sameElements(batch))
  }

  test("quality-router counters accumulate across micro-batches to the batch counts") {
    import org.apache.spark.sql.functions._
    val tmp = SparkSpec.tempDir("s10_multi")
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // three input files -> maxFilesPerTrigger=1 forces >= 3 micro-batches,
    // so the complete-mode counter state must carry across batches
    for (i <- 0 to 2) {
      val part = s"$tmp/part$i"
      docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(inDir, s"f$i.parquet").toPath)
    }
    def route(df: org.apache.spark.sql.DataFrame) = {
      val toks = split(col("text"), " ")
      df.select(col("source"), size(toks).as("nt"),
          size(filter(toks, t => t.isin("the", "a"))).as("ns"))
        .withColumn("disposition",
          when(col("nt") < 15, "short")
            .when(col("ns") * 25 < col("nt"), "low_stopword")
            .otherwise("keep"))
        .groupBy("source", "disposition").agg(count(lit(1)).as("n_docs"))
    }
    val q = route(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("s10_spec_sink")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    val streamed = spark.table("s10_spec_sink").collect().map(_.mkString("|")).sorted
    val batch = route(docs).collect().map(_.mkString("|")).sorted
    assert(streamed.sameElements(batch))
    assert(streamed.nonEmpty)
  }

  test("streaming packing carries fill state across micro-batches (arrival-order contract)") {
    // Split documents into 3 files by doc_id % 3; maxFilesPerTrigger=1
    // forces one micro-batch per file, so every language's fill level must
    // survive the batch boundary in state. The emitted bins must equal the
    // arrival-order fold for the file order the source actually chose —
    // asserted as "matches exactly one of the 6 possible split orders"
    // (the source's listing order is an implementation detail; the
    // CONTRACT is a consistent arrival-order fold over whatever order it
    // picked, with state carried between batches).
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = SparkSpec.tempDir("stream_packing")
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runPackingMaintain(spark, tmp, "s13_spec_sink",
      glob = "docs_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected one data micro-batch per split file")
    val got = q.sparkSession.table("s13_spec_sink").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin_id")).toMap
    val docs = raw.select(col("doc_id"), col("lang"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.size == docs.length, "one emission per doc")
    def binsFor(order: Seq[Int]): Map[Long, Long] = {
      val fill = scala.collection.mutable.Map.empty[String, Long]
      docs.sortBy { case (id, _, _) => (order.indexOf((id % 3).toInt), id) }
        .map { case (id, lang, nt) =>
          val before = fill.getOrElse(lang, 0L)
          fill(lang) = before + nt
          id -> before / 2048L
        }.toMap
    }
    val perms = Seq(0, 1, 2).permutations.toSeq
    assert(perms.exists(p => binsFor(p) == got),
      "bins must equal the arrival-order fold for the split order the source chose")
  }

  test("streaming quota carries the budget counter across micro-batches (monotone gate)") {
    // Same 3-file split as the packing test: the source's cumulative token
    // counter must survive batch boundaries, so the admitted set equals
    // the arrival-order fold for whichever file order the source chose —
    // and once a source crosses its budget in an early batch, every later
    // doc of that source is rejected no matter its size.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = SparkSpec.tempDir("stream_quota")
    // sf0.1: the only SF whose per-source token mass EXCEEDS the budgets
    // (~13k tokens vs 3k-9k) — at sf0.001 every doc is admitted and the
    // rejected branch this test exists to pin would be dead.
    val raw = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runQuotaMaintain(spark, tmp, "s15_spec_sink",
      glob = "docs_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected one data micro-batch per split file")
    val got = q.sparkSession.table("s15_spec_sink").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("accepted")).toMap
    val docs = raw.select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.size == docs.length, "one emission per doc")
    def acceptFor(order: Seq[Int]): Map[Long, Boolean] = {
      val seen = scala.collection.mutable.Map.empty[String, Long]
      docs.sortBy { case (id, _, _) => (order.indexOf((id % 3).toInt), id) }
        .map { case (id, src, nt) =>
          val budget = (1L + src.drop(3).toLong % 3) * 3000L
          val before = seen.getOrElse(src, 0L)
          seen(src) = before + nt
          id -> (before < budget)
        }.toMap
    }
    val perms = Seq(0, 1, 2).permutations.toSeq
    val matching = perms.find(p => acceptFor(p) == got)
    assert(matching.isDefined,
      "admissions must equal the arrival-order fold for the split order the source chose")
    // monotone closure: in the matched order, per source no accepted doc
    // follows a rejected one
    val order = matching.get
    for ((_, perSrc) <- docs.sortBy { case (id, _, _) =>
        (order.indexOf((id % 3).toInt), id) }.groupBy(_._2)) {
      val flags = perSrc.map(t => got(t._1))
      assert(!flags.zip(flags.drop(1)).exists { case (a, b) => !a && b },
        "a rejected doc must never be followed by an accepted one")
    }
    assert(got.valuesIterator.exists(_ == true) && got.valuesIterator.exists(_ == false),
      "both dispositions live")
  }

  test("streaming ingest gate: quality routing composed with quota state across batches") {
    // The composed front door: only keep-routed docs draw budget, and the
    // keep-token counter must survive micro-batch boundaries. Run at
    // sf0.1 (budgets bind there) split into 3 files; assert the fold for
    // the source's chosen file order AND that all four outcome classes
    // are live: keep+accepted, keep+over-budget, short, low_stopword.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = SparkSpec.tempDir("stream_gate")
    val raw = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runIngestGate(spark, tmp, "s16_spec_sink",
      glob = "docs_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected one data micro-batch per split file")
    val got = q.sparkSession.table("s16_spec_sink").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("disposition"), r.getAs[Boolean]("accepted")))).toMap
    val docs = raw.select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"),
        org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.filter(
          org.apache.spark.sql.functions.split(col("text"), " "),
          t => t.isin("the", "a"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.size == docs.length, "one emission per doc")
    def gateFor(order: Seq[Int]): Map[Long, (String, Boolean)] = {
      val seen = scala.collection.mutable.Map.empty[String, Long]
      docs.sortBy { case (id, _, _, _) => (order.indexOf((id % 3).toInt), id) }
        .map { case (id, src, nt, ns) =>
          val budget = (1L + src.drop(3).toLong % 3) * 3000L
          val disp = if (nt < 15) "short"
            else if (ns * 25 < nt) "low_stopword" else "keep"
          val before = seen.getOrElse(src, 0L)
          val acc = disp == "keep" && before < budget
          if (disp == "keep") seen(src) = before + nt
          id -> ((disp, acc))
        }.toMap
    }
    val perms = Seq(0, 1, 2).permutations.toSeq
    assert(perms.exists(p => gateFor(p) == got),
      "gate decisions must equal the arrival-order fold for the source's split order")
    val outcomes = got.values.toSet
    assert(outcomes.contains(("keep", true)) && outcomes.contains(("keep", false)),
      "both keep outcomes live")
    assert(outcomes.exists(_._1 == "short") && outcomes.exists(_._1 == "low_stopword"),
      "both reject routes live")
  }

  test("streaming weighted sample merges heap state across micro-batches to the batch sample") {
    // Unlike packing, the priority sample is ORDER-INDEPENDENT: the final
    // top-k must equal the batch x81 result exactly no matter how the
    // corpus was batched — the strongest possible cross-batch assertion.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = SparkSpec.tempDir("stream_wsample")
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runWeightedSampleMaintain(spark, tmp, "s14_spec_sink",
      glob = "docs_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected one data micro-batch per split file")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{explode, row_number}
    val streamed = q.sparkSession.table("s14_spec_sink")
      .select(col("source"), explode(col("top")).as("p"))
      .select(col("source"), col("p.np").as("np"), col("p.doc_id").as("doc_id"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("np"), col("doc_id"))))
      .filter(col("rn") <= 25)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Int]("rn"))).toSet
    val batch = graft.SparkEntry.queries("x81_weighted_sample")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Int]("smpl_rank"))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming LSH admission carries band ownership across micro-batches (arrival-order contract)") {
    // Split documents into 3 files by doc_id % 3; maxFilesPerTrigger=1
    // forces one micro-batch per file, so band OWNERSHIP must survive the
    // batch boundary in state: a doc in a later batch sharing a band with
    // any earlier arrival must be blocked by it. As in the packing/quota
    // tests, the CONTRACT is a consistent arrival-order fold over whatever
    // file order the source chose — per batch, each unowned band is
    // claimed by the batch's smallest doc_id carrying it; verdicts are
    // per (doc, band) against the owner.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = SparkSpec.tempDir("stream_lsh")
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runLshAdmission(spark, tmp, "s25_spec_sink",
      graft.ops.OpsQueries.stagedBands,
      glob = "docs_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected one data micro-batch per split file")
    val gotRows = q.sparkSession.table("s25_spec_sink").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("blocked")))
    val gotAdmit = gotRows.groupBy(_._1).map { case (d, vs) =>
      d -> vs.forall(!_._2)
    }
    val bandRows = graft.ops.OpsQueries.stagedBands(raw)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("band"), r.getAs[String]("band_hash")))
    assert(gotRows.length == bandRows.length, "one verdict per (doc, band)")
    def admitFor(order: Seq[Int]): Map[Long, Boolean] = {
      val owner = scala.collection.mutable.Map.empty[(Int, String), Long]
      val res = scala.collection.mutable.Map.empty[Long, Boolean]
      for (f <- order) {
        val batch = bandRows.filter { case (d, _, _) => d % 3 == f }
        for (((b, h), rows) <- batch.groupBy(r => (r._2, r._3)))
          if (!owner.contains((b, h)))
            owner((b, h)) = rows.map(_._1).min
        for ((d, rows) <- batch.groupBy(_._1))
          res(d) = rows.forall { case (_, b, h) => owner((b, h)) == d }
      }
      res.toMap
    }
    val perms = Seq(0, 1, 2).permutations.toSeq
    assert(perms.exists(p => admitFor(p) == gotAdmit),
      "admission must equal the arrival-order ownership fold for the split order the source chose")
    assert(gotAdmit.values.exists(identity) && gotAdmit.values.exists(!_),
      "fixture must exercise both admitted and blocked docs")
  }

  test("streaming phash admission carries band ownership across micro-batches (s26)") {
    // s25's contract over the image modality: 3 split files, one
    // micro-batch each; phash-band ownership must survive the batch
    // boundary. Planted blobs guarantee both verdicts regardless of the
    // corpus: docs 9001/9002 share a leading tile (9002 blocked by
    // whichever arrives first... both live in different splits, so
    // ownership MUST cross batches for the verdict to be right).
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = SparkSpec.tempDir("stream_phash")
    val tile = (0 until 256).map(i => ('a' + (i * 7 + i / 16) % 26).toChar).mkString
    import spark.implicits._
    val planted = Seq(
      (9001L, tile + " first planted continuation", "en", "s0"),
      (9002L, tile + " second planted continuation", "en", "s0"))
      .map { case (id, tx, l, s) => (id, tx, l, s, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(planted)
    for (i <- 0 until 3) {
      val sub = s"$tmp/split_$i"
      raw.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$tmp/docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val q = EventStream.runLshAdmission(spark, tmp, "s26_spec_sink",
      graft.ops.Multimodal.phashBands,
      glob = "docs_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected one data micro-batch per split file")
    val gotRows = q.sparkSession.table("s26_spec_sink").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("blocked")))
    val gotAdmit = gotRows.groupBy(_._1).map { case (d, vs) =>
      d -> vs.forall(!_._2)
    }
    val bandRows = graft.ops.Multimodal.phashBands(raw)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("band"), r.getAs[String]("band_hash")))
    assert(gotRows.length == bandRows.length, "one verdict per (doc, band)")
    def admitFor(order: Seq[Int]): Map[Long, Boolean] = {
      val owner = scala.collection.mutable.Map.empty[(Int, String), Long]
      val res = scala.collection.mutable.Map.empty[Long, Boolean]
      for (f <- order) {
        val batch = bandRows.filter { case (d, _, _) => d % 3 == f }
        for (((b, h), rows) <- batch.groupBy(r => (r._2, r._3)))
          if (!owner.contains((b, h)))
            owner((b, h)) = rows.map(_._1).min
        for ((d, rows) <- batch.groupBy(_._1))
          res(d) = rows.forall { case (_, b, h) => owner((b, h)) == d }
      }
      res.toMap
    }
    val perms = Seq(0, 1, 2).permutations.toSeq
    assert(perms.exists(p => admitFor(p) == gotAdmit),
      "admission must equal the arrival-order ownership fold for the split order the source chose")
    // the planted twins share every band: they can never BOTH be admitted
    // (at most one — a corpus doc owning one of the tile's bands may
    // block both)
    assert(!(gotAdmit(9001L) && gotAdmit(9002L)),
      "planted identical-tile twins must not both pass the gate")
    assert(gotAdmit.values.exists(identity),
      "fixture must admit at least one doc")
  }
}
