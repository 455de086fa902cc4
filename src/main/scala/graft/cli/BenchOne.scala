package graft.cli

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostics: time (and optionally explain) a single SparkEntry query in
  * the [[graft.util.Sessions]] layout Bench runs; streaming queries also
  * print one `BATCH` line of phase timings and codegen compiles per
  * micro-batch.
  * Usage: runMain graft.cli.BenchOne <query> [sfDir] [explain] */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    // keepstages: keep SharedStages cached across rounds so rounds 2-3 time
    // ONLY the query's own work on warm shared indexes — the in-suite shape
    // (Bench pays stage builds under their own timers in the stage pass).
    // Default (release) times query + full stage rebuild, which drowns a
    // query-level plan change for stage-heavy queries (kmeans/pq/int8).
    val keepStages = args.contains("keepstages")
    val spark = graft.util.Sessions.get(Some(dir))
    // One line per micro-batch of any streaming query the run starts, with
    // its durationMs phases and `compiles=`, the number of codegen classes
    // Janino compiled since the query's previous event (its start or its
    // previous batch; events arrive asynchronously, so the split between
    // neighbouring batches is approximate). A query that recompiles the same
    // classes on every start shows up as a nonzero count on every round.
    // The s-queries replay in child sessions, which a session-level
    // StreamingQueryListener does not see; their progress events also ride
    // the context's listener bus, which every session shares.
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // Listener events are delivered on one thread, one at a time.
    val lastCompiles = scala.collection.mutable.Map.empty[java.util.UUID, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: StreamingQueryListener.QueryStartedEvent =>
          lastCompiles(q.runId) = compiles()
        case q: StreamingQueryListener.QueryProgressEvent =>
          val p = q.progress
          val now = compiles()
          val n = now - lastCompiles.getOrElse(p.runId, now)
          lastCompiles(p.runId) = now
          val phases = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          println(s"BATCH ${Option(p.name).getOrElse(p.id)} batch=${p.batchId} rows=${p.numInputRows} " +
            s"compiles=$n ${phases.mkString(" ")}")
        case q: StreamingQueryListener.QueryTerminatedEvent =>
          lastCompiles.remove(q.runId)
        case _ =>
      }
    })
    val fn = graft.SparkEntry.queries(name)
    if (doExplain) fn(spark, dir).explain("formatted")
    for (round <- 1 to 3) {
      spark.sparkContext.setJobDescription(s"benchone:$name:round$round")
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"TIME $name round$round: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      // Release BOTH scopes between rounds: rounds 2-3 must measure a warm
      // JIT recomputing the data, not reads of round 1's persisted blocks
      // (Spark's cache manager matches canonicalized plans, so even a fresh
      // builder call would silently hit the old cache).
      graft.util.PersistScope.releaseAll()
      if (!keepStages) graft.util.SharedStages.releaseAll()
    }
    spark.stop()
  }
}
