package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --tmp DIR --results DIR --heap SIZE
  *
  * Set-up (session, seeded generation and provisioning, warm-up) is timed as
  * `setup_s`; generation and provisioning run several times and count by
  * their median. Then operations run one after another until their timed
  * total reaches S seconds; each one's outputs are checked outside the timer.
  * With --trace 1 the run instead reports the per-layer metrics: traced
  * operations split by layer, bracketed by untraced ones for the tracing
  * overhead. Prints the full record, then the summary object as the last
  * stdout line. */
object Main {
  private val SetupRepeats = 3
  private val TracedOps = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val tmp = a("tmp")
    val nproc = Runtime.getRuntime.availableProcessors
    val master = s"local[$nproc]"

    val (spark, sessionS) = Bench.seconds(SparkSession.builder()
      .master(master).appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    val code =
      try run(spark, name, seed, seconds, trace, tmp, a("results"), a("heap"), nproc, master, sessionS)
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $name failed before a result: $e")
          e.printStackTrace()
          2
      }
    spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
                  tmp: String, results: String, heap: String, nproc: Int, master: String,
                  sessionS: Double): Int = {
    val wl = Workload(name, spark, seed, tmp)
    val genS = (0 until SetupRepeats).map(r => Bench.seconds(wl.provision(s"$tmp/gen$r"))._2)

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val opSeconds = mutable.ArrayBuffer.empty[Double]
    val opCpuSeconds = mutable.ArrayBuffer.empty[Double]
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var items = 0L
    def attempt(i: Int, timed: Boolean): Unit = {
      attempted += 1
      try {
        wl.beforeOp(i)
        val cpu0 = os.getProcessCpuTime
        val (n, s) = Bench.seconds(wl.op(i))
        val cpu = (os.getProcessCpuTime - cpu0) / 1e9
        wl.check(i) match {
          case None => if (timed) { opSeconds += s; opCpuSeconds += cpu; items += n }
          case Some(msg) => failures += s"op $i: $msg"
        }
      } catch { case NonFatal(e) => failures += s"op $i: $e" }
    }

    val warmOps = wl.warmupOps
    val (_, warmS) = Bench.seconds((0 until warmOps).foreach(attempt(_, timed = false)))
    val setupS = sessionS + Bench.median(genS) + warmS

    // Closed loop, one client: the next operation starts when the last one
    // (and its check) is done, until the timed total reaches the budget.
    var i = warmOps
    def measure(budget: Double, minOps: Int): Unit = {
      val target = opSeconds.sum + budget
      val floor = opSeconds.size + minOps
      val wallLimit = System.nanoTime + ((budget * 4 + 30) * 1e9).toLong
      while ((opSeconds.sum < target || opSeconds.size < floor || i % wl.cycle != 0) &&
             System.nanoTime < wallLimit && failures.size < 3) {
        attempt(i, timed = true)
        i += 1
      }
    }
    // A traced run brackets its traced operations with untraced ones, so
    // the tracing overhead is not confounded with warm-up drift.
    measure(if (trace) seconds / 4 else seconds, if (trace) 1 else 2)

    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> (if (opSeconds.isEmpty) 0.0 else items / opSeconds.sum),
      "op_p50_ms" -> Bench.median(opSeconds.toSeq) * 1e3)

    val (metrics, spanLines) =
      if (!trace) (Metrics.report(Metrics.endToEnd, e2e), Seq.empty[String])
      else {
        val tr = new Tracer(spark, name)
        val layers =
          try wl.traced(tr, i, math.max(TracedOps, wl.cycle))
          catch { case NonFatal(e) => failures += s"traced: $e"; Map.empty[String, Double] }
          finally tr.close()
        i = tr.spans.map(_.op).maxOption.fold(i)(_ + 1)
        i += math.floorMod(-i, wl.cycle)
        measure(seconds / 4, 1)
        val opTraced = Bench.median(
          tr.spans.filter(s => s.name == "op" && s.workload == name).map(_.seconds).toSeq)
        val opUntraced = Bench.median(opSeconds.toSeq)
        System.gc()
        val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
          .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
        val all = layers ++ Map(
          "data.gen_s" -> Bench.median(genS),
          "jvm.heap_after_gc_mb" -> heapMb,
          "trace.op_untraced_s" -> opUntraced,
          "trace.op_traced_s" -> opTraced,
          "trace.overhead_frac" -> (if (opUntraced > 0) opTraced / opUntraced - 1 else 0.0))
        (Metrics.report(Metrics.perLayer, all), tr.spanLines)
      }

    try wl.finish().foreach(m => failures += s"final check: $m")
    catch { case NonFatal(e) => failures += s"final check: $e" }
    val correct = failures.isEmpty
    val record = ListMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "nproc" -> nproc, "master" -> master, "heap" -> heap,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "item" -> wl.item, "sizes" -> wl.sizes,
      "setup" -> ListMap("session_s" -> sessionS, "gen_s" -> genS, "warmup_s" -> warmS),
      "op_seconds" -> opSeconds.toSeq, "op_cpu_seconds" -> opCpuSeconds.toSeq, "samples" -> opSeconds.size,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "metrics" -> metrics)
    val stamp = s"$name-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis}"
    writeLines(s"$results/$stamp.json", Seq(Json.write(record)))
    if (trace) writeLines(s"$results/$stamp.spans.jsonl", spanLines)
    failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))

    println(Json.write(ListMap("record" -> record)))
    println(Json.write(ListMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failures.size, "metrics" -> metrics)))
    if (correct) 0 else 1
  }

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
