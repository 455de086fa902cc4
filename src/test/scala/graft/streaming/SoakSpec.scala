package graft.streaming

import org.apache.spark.sql.functions.{col, pmod, lit}

import graft.SparkSpec

/** Soak: the stateful chains driven across MANY small out-of-order
  * micro-batches (16 slice files, maxFilesPerTrigger=1), the shape a
  * production incremental scan actually runs in — state must keep
  * converging batch after batch, and watermark eviction must keep the
  * store bounded instead of accreting every user forever. */
class SoakSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val Slices = 16

  /** Split events into `Slices` slice files, each delivered as its own
    * micro-batch. `byTime = true` slices into contiguous time ranges (the
    * production arrival shape — the watermark advances monotonically and
    * nothing is late beyond the delay, so EVICTION must not lose data);
    * `byTime = false` interleaves all timestamps into every slice (maximal
    * cross-batch disorder — only valid for chains without a watermark). */
  private def sliceEvents(byTime: Boolean): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = SparkSpec.tempDir("soak")
    val raw = spark.read.parquet(s"$sf/events.parquet") // ts stays raw nanos-long
    val sliced =
      if (byTime) raw.withColumn("__slice",
        org.apache.spark.sql.functions.ntile(Slices).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))) - 1)
      else raw.withColumn("__slice", pmod(col("event_id"), lit(Slices)))
    for (i <- 0 until Slices) {
      val sub = s"$tmp/split_$i"
      sliced.filter(col("__slice") === i).drop("__slice").coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(f"$tmp/events_$i%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // deterministic arrival order: file i is batch i
      new java.io.File(f"$tmp/events_$i%02d.parquet").setLastModified(1000000L * (i + 1))
    }
    tmp
  }

  test("sessionization with eviction converges over 16 time-ordered micro-batches") {
    val tmp = sliceEvents(byTime = true)
    val q = EventStream.runSessionize(spark, tmp, "soak_sessions",
      glob = "events_*.parquet",
      maxFilesPerTrigger = Some(1), evictAfterGap = true)
    try q.awaitTermination(300000) finally if (q.isActive) q.stop()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= Slices - 1, s"expected ~$Slices data micro-batches, got $dataBatches")
    val streamed = EventStream.sessionTotals(q.sparkSession.table("soak_sessions")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.SparkEntry.queries("q11_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // Eviction keeps the store bounded: live state rows never exceed the
    // user population, and the peak is reached mid-run, not grown forever.
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(stateRows.nonEmpty && stateRows.forall(_ <= users),
      s"state rows ${stateRows.toSeq} must stay within $users users")
  }

  test("streaming dedup chain converges over 16 out-of-order micro-batches") {
    val tmp = sliceEvents(byTime = false)
    val q = EventStream.runDistinctUsers(spark, tmp, "soak_dedup",
      glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
    try q.awaitTermination(300000) finally if (q.isActive) q.stop()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= Slices - 1, s"expected ~$Slices data micro-batches, got $dataBatches")
    val streamed = q.sparkSession.table("soak_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    import org.apache.spark.sql.functions.countDistinct
    val expected = graft.queries.QueryDef.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == expected)
    // dedup state is keyed by (event_type, user_id): bounded by the distinct
    // pair population regardless of how many batches streamed through
    val pairs = spark.read.parquet(s"$sf/events.parquet")
      .select("event_type", "user_id").distinct().count()
    val dedupStateRows = q.recentProgress
      .flatMap(_.stateOperators.filter(_.operatorName.contains("dedupe")).map(_.numRowsTotal))
    assert(dedupStateRows.nonEmpty && dedupStateRows.forall(_ <= pairs),
      s"dedup state ${dedupStateRows.toSeq} must stay within $pairs pairs")
  }
}
