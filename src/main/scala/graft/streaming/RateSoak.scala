package graft.streaming

import org.apache.spark.sql.functions._

/** Opt-in LONG-RUNNING soak for the stateful streaming path (the SoakSpec
  * drives 16 deterministic batches; this drives an unbounded rate source
  * for wall-clock minutes to hours): synthetic events from Spark's `rate`
  * source flow through the eviction-enabled sessionizer into a noop sink,
  * while the driver polls state-store metrics and FAILS if state rows keep
  * growing after the eviction horizon — the regression the generation fix
  * (NOTES round 6) guards against would show here as monotone growth.
  *
  * User churn is built into the id mapping: each ~2-minute cohort of 100
  * users goes quiet when the next cohort starts, so with gap=60s and a 30s
  * watermark the state population should plateau around two cohorts.
  *
  * Usage: runMain graft.streaming.RateSoak [minutes=5] [rowsPerSecond=500]
  * Exits nonzero on unbounded state growth or query failure.
  */
object RateSoak {

  def main(args: Array[String]): Unit = {
    val minutes = args.headOption.map(_.toDouble).getOrElse(5.0)
    val rps = args.lift(1).map(_.toInt).getOrElse(500)
    val cohortSeconds = 120L
    val cohortUsers = 100L

    val spark = graft.util.Sessions.get()

    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rps).load()
    // cohort = which 2-minute block the row falls in; users of cohort w are
    // silent once cohort w+1 begins => their sessions close and evict.
    val events = rate.select(
      (floor(col("value") / (rps * cohortSeconds)) * cohortUsers
        + col("value") % cohortUsers).as("user_id"),
      col("timestamp").as("ts"),
      col("value").as("event_id"))

    val query = EventStream.sessionize(events, gapSeconds = 60,
        evictAfterGap = true, watermarkDelay = "30 seconds")
      .writeStream.outputMode("update").format("noop")
      .queryName("rate_soak").start()

    val deadline = System.nanoTime() + (minutes * 60 * 1e9).toLong
    // state must plateau near 2 cohorts; 4x is an unambiguous leak signal
    val stateBound = 4 * cohortUsers
    val horizonNs = ((cohortSeconds + 120) * 1e9).toLong // first full churn + slack
    val start = System.nanoTime()
    var maxState = 0L
    var violations = 0
    try {
      while (System.nanoTime() < deadline && query.isActive) {
        Thread.sleep(15000)
        Option(query.lastProgress).foreach { p =>
          val stateRows = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)
          maxState = math.max(maxState, stateRows)
          val pastHorizon = System.nanoTime() - start > horizonNs
          if (pastHorizon && stateRows > stateBound) violations += 1
          println(s"""{"soak_t_sec":${(System.nanoTime() - start) / 1e9.toLong},""" +
            s""""state_rows":$stateRows,"batch":${p.batchId},""" +
            s""""rows_per_sec":${p.processedRowsPerSecond}}""")
        }
      }
      query.stop()
      query.awaitTermination(60000)
    } finally {
      val ok = violations == 0 && query.exception.isEmpty
      println(s"""{"metric":"rate_soak","minutes":$minutes,"max_state_rows":$maxState,""" +
        s""""bound":$stateBound,"violations":$violations,"ok":$ok}""")
      query.exception.foreach(e => e.printStackTrace())
      if (!ok) sys.exit(1)
    }
  }
}
