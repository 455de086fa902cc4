package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into a layer: its name, the span that caused it, the
  * workload and operation index it belongs to, and its wall interval. */
final case class Span(id: Int, name: String, parent: Int, workload: String, op: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = 0L
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor totals of the Spark jobs submitted under one span. */
final class SparkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputRecords = 0L; var outputBytes = 0L
  /** Wall intervals (epoch ms) of the jobs. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def add(o: SparkTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
    jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds of [fromMs, toMs] during which none of the jobs ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var reach = fromMs
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      val (a, b) = (math.max(s, reach), math.min(e, toMs))
      if (b > a) { covered += b - a; reach = b }
    }
    (toMs - fromMs) - covered
  }
}

/** Progress of the streaming queries started under one span. */
final class StreamTotals {
  var startedMs = 0L
  var batches = 0L
  var rows = 0L
  val durationsMs: mutable.Map[String, Long] = mutable.Map.empty
}

/** In-memory span recorder for the traced run. Each span sets its own Spark
  * job group, so a `SparkListener` attributes every job, stage and task to
  * the innermost span that submitted it; streaming queries are attributed to
  * the span that started them through their run id (the stream thread sets
  * its own job group). Spans are written out once, when the run ends. */
final class Tracer(spark: SparkSession, var workload: String) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var current = -1
  var op: Int = -1

  private val groupToSpan = new ConcurrentHashMap[String, Integer]()
  private val stageToSpan = new ConcurrentHashMap[Integer, Integer]()
  private val jobStarts = new ConcurrentHashMap[Integer, (Integer, java.lang.Long)]()
  private val sparkTotals = new ConcurrentHashMap[Integer, SparkTotals]()
  private val streamTotals = new ConcurrentHashMap[Integer, StreamTotals]()

  private def group(id: Int) = s"perfbench-span-$id"
  private def totals(id: Int) = sparkTotals.computeIfAbsent(id, _ => new SparkTotals)
  private def stream(id: Int) = streamTotals.computeIfAbsent(id, _ => new StreamTotals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val sid = if (g == null) null else groupToSpan.get(g)
      if (sid != null) {
        e.stageIds.foreach(st => stageToSpan.put(st, sid))
        val t = totals(sid)
        t.synchronized { t.jobs += 1 }
        jobStarts.put(e.jobId, (sid, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStarts.remove(e.jobId)).foreach {
      case (sid, start) => val t = totals(sid); t.synchronized { t.jobIntervals += ((start.longValue, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = stageToSpan.get(e.stageInfo.stageId)
      if (sid != null) { val t = totals(sid); t.synchronized { t.stages += 1 } }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sid = stageToSpan.get(e.stageId)
      val m = e.taskMetrics
      if (sid != null && m != null) {
        val t = totals(sid)
        t.synchronized {
          t.tasks += 1
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputRecords += m.inputMetrics.recordsRead
          t.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    // Delivered on the stream thread while the span that called start() is
    // still current, so the run id maps to that span.
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val sid = current
      groupToSpan.put(e.runId.toString, sid)
      val s = stream(sid)
      s.synchronized { if (s.startedMs == 0L) s.startedMs = System.currentTimeMillis }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val sid = groupToSpan.get(e.progress.runId.toString)
      if (sid != null) {
        val s = stream(sid)
        s.synchronized {
          if (e.progress.numInputRows > 0) s.batches += 1
          s.rows += e.progress.numInputRows
          for ((k, v) <- e.progress.durationMs.asScala)
            s.durationsMs(k) = s.durationsMs.getOrElse(k, 0L) + v.longValue
        }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Run `body` as a span named `name`, child of the current span. */
  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, current, workload, op, System.nanoTime, System.currentTimeMillis)
    spans += s
    groupToSpan.put(group(s.id), s.id)
    val parent = current
    current = s.id
    sc.setJobGroup(group(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime
      current = parent
      if (parent >= 0) sc.setJobGroup(group(parent), spans(parent).name) else sc.clearJobGroup()
    }
  }

  /** The last span recorded under `name`. */
  def last(name: String): Span = spans.findLast(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  def drain(): Unit = PerfbenchAccess.drainListeners(sc)

  private def descendants(id: Int): Seq[Int] =
    id +: spans.iterator.filter(_.parent == id).flatMap(c => descendants(c.id)).toSeq

  /** Spark totals of a span and every span below it. */
  def sparkOf(s: Span): SparkTotals = {
    val out = new SparkTotals
    for (d <- descendants(s.id)) Option(sparkTotals.get(d)).foreach(t => t.synchronized(out.add(t)))
    out
  }

  def streamOf(s: Span): StreamTotals = Option(streamTotals.get(s.id)).getOrElse(new StreamTotals)

  /** Wall time of a span minus the part its children cover (children run
    * one after another on the calling thread, so they never overlap). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Every span, one JSON object per line. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val t = sparkOf(s)
    Json.write(mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> s.workload,
      "op" -> s.op, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "self_ms" -> selfSeconds(s) * 1e3, "jobs" -> t.jobs, "tasks" -> t.tasks,
      "executor_cpu_ms" -> t.cpuNs / 1e6))
  }
}

/** Exchange and join counts of a frame's physical plan (through AQE). */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case e: Exchange => e }.size, collect(plan) { case j: BaseJoinExec => j }.size)
  }
}
