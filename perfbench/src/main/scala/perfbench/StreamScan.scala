package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cli.ScanStream
import graft.data.Synth
import graft.detect.Rules
import graft.functions.{pii_candidates, pii_candidates_rows}
import graft.queries.PiiInputs
import graft.streaming.ExactlyOnceSink

/** `stream_scan`: one operation drops one seeded parquet file into the
  * watched directory and calls `ScanStream.run`, timed from the drop until
  * the call returns with the batch committed. Every `dropsPerEpoch` drops a
  * fresh watched directory, output and checkpoint start (untimed), so the
  * committed history `run` re-reads stays bounded and every run measures the
  * same cycle. The per-micro-batch floor (query start, offset log, planning,
  * commit marker, committed read-back) dominates; the detect kernel is the
  * same as `pii_scan`'s at about 1% of its rows. */
final class StreamScan(spark: SparkSession, seed: Long, tmp: String) extends Workload {
  import spark.implicits._

  val dropsPerEpoch = 5
  private val docsPerDrop = 240
  val item = "doc"
  def sizes: Map[String, Any] = Map("docs_per_drop" -> docsPerDrop, "drops_per_epoch" -> dropsPerEpoch)

  // A drop's CPU time keeps falling for a few epochs (code that runs once
  // per drop is still being compiled); after a single warm-up epoch the first
  // measured epoch still ran ~10% slow.
  override def warmupOps: Int = 2 * dropsPerEpoch
  override def cycle: Int = dropsPerEpoch

  private var staged: IndexedSeq[File] = IndexedSeq.empty
  /** Committed finding count expected after drop slot k of an epoch. */
  private var cumulative: IndexedSeq[Long] = IndexedSeq.empty
  private var inDir: String = _
  private var outDir: String = _
  private var lastCommitted = -1L

  def provision(dir: String): Unit = {
    val half = docsPerDrop / 2
    val offset = 1L + math.floorMod(seed * 104729L, 1000000L)
    val rows = (0 until dropsPerEpoch).flatMap { d =>
      (0 until half).map { j =>
        val id = d.toLong * docsPerDrop + j
        (d, id, Synth.example(new Random(seed * 1000003L + id)).text)
      }
    }
    val synth = rows.toDF("drop", "doc_id", "text")
    val customer = spark.range(dropsPerEpoch.toLong * half)
      .select((col("id") + offset).as("c_custkey"))
    val fromCustomer = PiiInputs.fromCustomer(customer).select(
      ((col("doc_id") - offset) / half).cast("int").as("drop"),
      ((col("doc_id") - offset) % half + ((col("doc_id") - offset) / half).cast("long") * docsPerDrop
        + half).as("doc_id"),
      col("text"))
    val stagedDir = s"$dir/staged"
    synth.unionByName(fromCustomer).repartition(col("drop"))
      .write.partitionBy("drop").parquet(stagedDir)
    staged = (0 until dropsPerEpoch).map { d =>
      new File(s"$stagedDir/drop=$d").listFiles().filter(_.getName.endsWith(".parquet")).toSeq match {
        case Seq(f) => f
        case fs => throw new IllegalStateException(s"drop $d staged as ${fs.size} files")
      }
    }
    val perDrop = spark.read.parquet(stagedDir).select("drop", "text").as[(Int, String)].collect()
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(r => Rules.proposeCandidates(r._2).size.toLong).sum }
    cumulative = (0 until dropsPerEpoch).map(perDrop).scanLeft(0L)(_ + _).tail
  }

  override def beforeOp(i: Int): Unit = if (i % dropsPerEpoch == 0) {
    Option(inDir).foreach(d => Bench.deleteRecursively(new File(d).getParentFile))
    val epoch = s"$tmp/stream/epoch-$i"
    inDir = s"$epoch/in"
    outDir = s"$epoch/out"
    new File(inDir).mkdirs()
  }

  /** Copy a staged file in under a hidden name, then rename it into view. */
  private def drop(slot: Int): Unit = {
    val hidden = new File(inDir, s".drop-$slot.parquet")
    Files.copy(staged(slot).toPath, hidden.toPath)
    Files.move(hidden.toPath, new File(inDir, s"drop-$slot.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def op(i: Int): Long = {
    drop(i % dropsPerEpoch)
    lastCommitted = ScanStream.run(spark, inDir, outDir)
    docsPerDrop
  }

  def check(i: Int): Option[String] = {
    val slot = i % dropsPerEpoch
    if (lastCommitted == cumulative(slot)) None
    else Some(s"committed $lastCommitted findings after drop $slot, expected ${cumulative(slot)}")
  }

  /** After the last drop, the committed findings must equal a batch scan of
    * the same files, with no duplicate (doc_id, candidate_idx). */
  override def finish(): Option[String] = {
    val committed = ExactlyOnceSink.readCommitted(spark, outDir)
      .select("doc_id", "candidate_idx", "value", "rule_label", "rule_confidence")
    val batch = spark.read.parquet(inDir)
      .select(col("doc_id").cast("long").as("doc_id"),
        pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c")))
      .select(col("doc_id"), col("candidate_idx"), col("c.value").as("value"),
        col("c.rule_label").as("rule_label"), col("c.rule_confidence").as("rule_confidence"))
    val dups = committed.groupBy("doc_id", "candidate_idx").count().filter(col("count") > 1).count()
    val diff = committed.exceptAll(batch).count() + batch.exceptAll(committed).count()
    if (dups > 0) Some(s"$dups duplicate (doc_id, candidate_idx) findings")
    else if (diff > 0) Some(s"committed findings differ from the batch scan in $diff rows")
    else None
  }

  def traced(tr: Tracer, first: Int, ops: Int): Map[String, Double] = {
    val epochStart = first + math.floorMod(-first, dropsPerEpoch)
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution")
    val layer = Seq.newBuilder[Map[String, Double]]
    val opSpans = (epochStart until epochStart + ops).map { i =>
      tr.op = i
      beforeOp(i)
      tr("op")(op(i))
      tr.drain()
      val opSpan = tr.last("op")
      check(i).foreach(m => throw new IllegalStateException(s"traced op $i: $m"))
      val st = tr.streamOf(opSpan)
      tr("streaming.readback")(ExactlyOnceSink.readCommitted(spark, outDir).count())
      val dropped = Bench.materialize(
        spark.read.parquet(new File(inDir, s"drop-${i % dropsPerEpoch}.parquet").getPath))
      val rows = dropped.count()
      tr("detect.candidates")(Bench.noop(dropped.select(col("doc_id"),
        pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c")))))
      tr.drain()
      layer += phases.map(p => s"streaming.${p}_ms" -> st.durationsMs.getOrElse(p, 0L).toDouble).toMap ++
        Map(
          "streaming.start_ms" -> (if (st.startedMs == 0L) 0.0 else (st.startedMs - opSpan.startMs).toDouble),
          "streaming.readback_ms" -> tr.last("streaming.readback").seconds * 1e3,
          "streaming.batches_per_drop" -> st.batches.toDouble,
          "streaming.rows_per_drop" -> st.rows.toDouble,
          "detect.busy_s" -> tr.last("detect.candidates").seconds,
          "detect.cpu_s" -> tr.sparkOf(tr.last("detect.candidates")).cpuNs / 1e9,
          "detect.rows" -> rows.toDouble,
          "trace.layer_sum_s" -> (tr.last("streaming.readback").seconds +
            tr.last("detect.candidates").seconds))
      opSpan
    }
    val input = Bench.materialize(spark.read.parquet(inDir))
    val kern = Kernels(spark, tr).nsPerRow("pii_candidates", input, pii_candidates(col("text")))
    val shape = PlanShape(spark.read.parquet(inDir).select(col("doc_id"),
      pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c"))))
    val perLayer = layer.result()
    perLayer.head.keys.map(k => k -> Bench.median(perLayer.map(_(k)))).toMap ++
      Metrics.sparkRuntime(tr, opSpans, shape) ++ Map("detect.pii_candidates_ns_per_row" -> kern) ++
      catalogLayer(tr, epochStart + ops)
  }

  /** The catalog and sample layers have no timed workload in BENCHMARK.json;
    * this traced run measures them with one `catalog_tag` pass, including
    * the share of the pass the driver spends with no job running. */
  private def catalogLayer(tr: Tracer, op: Int): Map[String, Double] = {
    val m = Bench.folded(tr, new CatalogTag(spark, seed, tmp), "catalog_tag", s"$tmp/catalog", op)
    m.filter { case (k, _) => Seq("sample.", "catalog.", "cli.").exists(k.startsWith) } ++
      Map("catalog.build_s" -> m("spark.build_s"), "catalog.build_share" -> m("spark.build_share"))
  }
}
