package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Candidate, Span => TextSpan}
import graft.data.Synth
import graft.detect.{Redaction, Rules}
import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.eval.Evaluator
import graft.functions.{luhn, mask_token, pii_candidates, pii_candidates_rows, redact_spans, verhoeff}
import graft.queries.PiiInputs
import graft.store.FindingsStore

/** `pii_scan`: one operation is a full scan of a seeded corpus spread over
  * many column refs. Half the docs are `Synth` examples (with gold spans),
  * half are `PiiInputs.fromCustomer` text over seeded keys (all detector
  * types, both checksum gates, the AADHAAR-inside-card overlap). The scan is
  * the p02 shape (candidates → offline ensemble) rolled up by
  * `FindingsStore.toFindings` and written as parquet, plus the p03 shape
  * (redacted text) written beside it. Per-row kernel and ensemble work
  * dominate; the driver, catalog and streaming layers do almost nothing. */
final class PiiScan(spark: SparkSession, seed: Long, tmp: String) extends Workload {
  import spark.implicits._

  private val nSynth = 2000
  private val nCustomer = 2000
  private val nTables = 8
  private val nSample = 150
  val item = "doc"
  // The first measured pass after a single warm-up still ran ~15% slow.
  override def warmupOps: Int = 2
  def sizes: Map[String, Any] = Map("synth_docs" -> nSynth, "customer_docs" -> nCustomer,
    "column_refs" -> nTables * 3, "checked_sample" -> nSample)

  private var corpus: String = _
  private var expectedTypes: Map[String, Set[String]] = Map.empty
  private var sampleText: Map[Long, String] = Map.empty
  private var gold: DataFrame = _
  private var f1: Option[Double] = None

  def provision(dir: String): Unit = {
    val synth = (0 until nSynth).map(i => Synth.example(new Random(seed * 1000003L + i)))
    val offset = 1L + math.floorMod(seed * 7919L, 1000000L)
    val customer = spark.range(nCustomer).select((col("id") + offset).as("c_custkey"))
    val docs = synth.zipWithIndex.map { case (e, i) => (i.toLong, e.text) }.toDF("doc_id", "text")
      .unionByName(PiiInputs.fromCustomer(customer)
        .select((col("doc_id") - offset + nSynth).as("doc_id"), col("text")))
      .withColumn("column_ref", concat(lit("scan.t"), (col("doc_id") % nTables).cast("string"),
        lit(".c"), (col("doc_id") / nTables % 3).cast("int").cast("string")))
    corpus = s"$dir/corpus"
    docs.repartition(2 * spark.sparkContext.defaultParallelism).write.parquet(corpus)

    // Expected outputs, from the row-at-a-time rules on the driver.
    val rows = spark.read.parquet(corpus).select("doc_id", "column_ref", "text")
      .as[(Long, String, String)].collect()
    expectedTypes = rows.groupBy(_._2).map { case (ref, rs) =>
      ref -> rs.iterator.flatMap(r => Rules.proposeCandidates(r._3).map(_.ruleLabel)).toSet
    }.filter(_._2.nonEmpty)
    val rnd = new Random(seed)
    sampleText = rnd.shuffle(rows.toSeq).take(nSample).map(r => r._1 -> r._3).toMap
    gold = synth.zipWithIndex.flatMap { case (e, d) =>
      e.labels.zipWithIndex.map { case (g, gi) => (d.toLong, gi.toLong, g.start, g.end, g.`type`) }
    }.toDF("doc_id", "gold_idx", "start", "end", "type")
    f1 = None
  }

  private def out(i: Int) = s"$tmp/scan-out/op=$i"

  private def candidates(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("column_ref"),
      pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c")))

  private def predict(cands: DataFrame): DataFrame =
    PiiEnsemble.withPredictionOffline(cands,
      col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
      Calibrator.identity, Weights.runtimeDefault)

  private def detections(pred: DataFrame): DataFrame =
    pred.select(col("column_ref"), col("pred.label").as("label"), col("pred.score").as("score"))

  private def findings(dets: DataFrame): DataFrame =
    FindingsStore.toFindings(dets, modelVersion = "offline-0.1", source = "perfbench")

  private def redacted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), redact_spans(col("text"), pii_candidates(col("text"))).as("redacted"))

  def op(i: Int): Long = {
    val docs = spark.read.parquet(corpus)
    FindingsStore.writeParquet(findings(detections(predict(candidates(docs)))), s"${out(i)}/findings")
    redacted(docs).write.parquet(s"${out(i)}/redacted")
    nSynth + nCustomer
  }

  def check(i: Int): Option[String] =
    try checkOutputs(i) finally Bench.deleteRecursively(new java.io.File(out(i)))

  private def checkOutputs(i: Int): Option[String] = {
    val got = spark.read.parquet(s"${out(i)}/findings").select("column_ref", "types")
      .as[(String, Seq[String])].collect().map { case (r, t) => r -> t.toSet }.toMap
    if (got != expectedTypes)
      return Some(s"findings differ from the rules on ${(got.keySet ++ expectedTypes.keySet)
        .count(k => got.get(k) != expectedTypes.get(k))} column refs")

    val ids = sampleText.keys.toSeq
    val red = spark.read.parquet(s"${out(i)}/redacted").filter(col("doc_id").isin(ids: _*))
      .as[(Long, String)].collect().toMap
    val dist = candidates(spark.read.parquet(corpus).filter(col("doc_id").isin(ids: _*)))
      .select(col("doc_id"), col("candidate_idx"), col("c.start"), col("c.end"), col("c.value"),
        col("c.rule_label"), col("c.rule_confidence"))
      .as[(Long, Int, Int, Int, String, String, Double)].collect().groupBy(_._1)
    for ((id, text) <- sampleText) {
      val want = Rules.proposeCandidates(text)
      val have = dist.getOrElse(id, Array.empty).sortBy(_._2).toSeq
        .map(r => Candidate(r._3, r._4, r._5, r._6, r._7))
      if (have != want.map(_.copy(validations = Map.empty)))
        return Some(s"doc $id: distributed candidates differ from Rules.proposeCandidates")
      val spans = want.map(c => TextSpan(c.start, c.end, c.value))
      val r = red.getOrElse(id, null)
      if (r != Redaction.redactText(text, spans) || !Redaction.noRawPii(r, spans))
        return Some(s"doc $id: redacted text wrong or leaks raw PII")
    }
    None
  }

  /** Micro F1 of the offline ensemble against the Synth gold spans. */
  private def f1Micro(): Double = {
    val preds = predict(candidates(spark.read.parquet(corpus).filter(col("doc_id") < nSynth)))
      .select(col("doc_id"), col("candidate_idx").as("pred_idx"), col("c.start").as("start"),
        col("c.end").as("end"), col("pred.label").as("label"))
    Evaluator.prfReport(Evaluator.matchOutcomes(preds, gold))
      .filter(col("scope") === "micro").select("f1").as[Double].head()
  }

  /** The `graft.ops` layer has no timed workload in BENCHMARK.json; this
    * traced run measures it on `near_dup`'s seeded corpus. */
  private def opsLayer(tr: Tracer, op: Int): Map[String, Double] =
    Bench.folded(tr, new NearDup(spark, seed, tmp), "near_dup", s"$tmp/near-dup", op)
      .filter(_._1.startsWith("ops."))

  def traced(tr: Tracer, first: Int, ops: Int): Map[String, Double] = {
    val docs = Bench.materialize(spark.read.parquet(corpus))
    val nDocs = docs.count().toDouble
    val withSpans = Bench.materialize(docs.select(col("text"), pii_candidates(col("text")).as("spans")))
    val cands = Bench.materialize(candidates(docs))
    val nCands = cands.count().toDouble

    val layer = Seq.newBuilder[Map[String, Double]]
    val opSpans = (first until first + ops).map { i =>
      tr.op = i
      tr("op")(op(i))
      tr.drain()
      val opSpan = tr.last("op")
      check(i).foreach(m => throw new IllegalStateException(s"traced op $i: $m"))

      tr("detect.candidates")(Bench.noop(candidates(docs)))
      tr("detect.redact")(Bench.noop(withSpans.select(redact_spans(col("text"), col("spans")))))
      val (pred, buildS) = Bench.seconds(predict(cands))
      tr("ensemble")(Bench.noop(pred))
      val dets = Bench.materialize(detections(pred))
      val storePath = s"$tmp/scan-store/op=$i"
      tr("store")(FindingsStore.writeParquet(findings(dets), storePath))
      val nFindings = spark.read.parquet(storePath).count().toDouble
      // The correctness gate of the traced passes: F1 must repeat exactly.
      val score = tr("eval")(f1Micro())
      if (f1.exists(_ != score)) throw new IllegalStateException(s"f1_micro $score, earlier ${f1.get}")
      f1 = Some(score)
      tr.drain()

      def busy(n: String) = tr.last(n).seconds
      def cpu(n: String) = tr.sparkOf(tr.last(n)).cpuNs / 1e9
      val names = Seq("detect.candidates", "detect.redact", "ensemble", "store")
      layer += Map(
        "detect.busy_s" -> busy("detect.candidates"), "detect.cpu_s" -> cpu("detect.candidates"),
        "detect.redact_busy_s" -> busy("detect.redact"),
        "ensemble.busy_s" -> busy("ensemble"), "ensemble.cpu_s" -> cpu("ensemble"),
        "ensemble.build_ms" -> buildS * 1e3,
        "store.busy_s" -> busy("store"), "store.findings" -> nFindings,
        "store.bytes_written" -> tr.sparkOf(tr.last("store")).outputBytes.toDouble,
        "eval.busy_s" -> busy("eval"), "eval.f1_micro" -> score,
        "trace.layer_sum_s" -> names.map(busy).sum)
      opSpan
    }
    val shape = PlanShape(findings(detections(predict(candidates(spark.read.parquet(corpus))))))

    val kern = Kernels(spark, tr)
    val values = Bench.materialize(cands.select(col("c.value").as("v")))
    val cards = Bench.materialize(docs.select(explode(regexp_extract_all(col("text"),
      lit(Rules.CC_RE.pattern), lit(0))).as("v")))
    val aadhaars = Bench.materialize(docs.select(explode(regexp_extract_all(col("text"),
      lit(Rules.AADHAAR_RE.pattern), lit(0))).as("v")))
    val gates = cards.select(luhn(col("v")).as("ok")).unionAll(aadhaars.select(verhoeff(col("v")).as("ok")))
      .agg(avg(col("ok").cast("double"))).as[Double].head()
    val kernels = Map(
      "detect.pii_candidates_ns_per_row" -> kern.nsPerRow("pii_candidates", docs, pii_candidates(col("text"))),
      "detect.redact_spans_ns_per_row" ->
        kern.nsPerRow("redact_spans", withSpans, redact_spans(col("text"), col("spans"))),
      "detect.mask_token_ns_per_row" -> kern.nsPerRow("mask_token", values, mask_token(col("v"))),
      "detect.luhn_ns_per_row" -> kern.nsPerRow("luhn", cards, luhn(col("v"))),
      "detect.verhoeff_ns_per_row" -> kern.nsPerRow("verhoeff", aadhaars, verhoeff(col("v"))))

    val perLayer = layer.result()
    perLayer.head.keys.map(k => k -> Bench.median(perLayer.map(_(k)))).toMap ++
      Metrics.sparkRuntime(tr, opSpans, shape) ++ kernels ++ opsLayer(tr, first + ops) ++ Map(
        "detect.rows" -> nDocs, "detect.candidates" -> nCands, "detect.validated_frac" -> gates,
        "ensemble.rows" -> nCands)
  }
}
