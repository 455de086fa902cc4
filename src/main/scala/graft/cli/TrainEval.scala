package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.PiiTypes
import graft.data.Synth
import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.eval.Evaluator
import graft.functions.{pii_candidates, redact_spans}
import graft.ml.{CalibratorFit, EmbedModel}

/** The reference's training loop (§3.3: `cps gen-synth` → `train-embed` →
  * `calibrate` → `eval`, cli.py:290-385) as one distributed pipeline:
  *
  *  1. seeded synthetic dataset (datasets.py:76-120)
  *  2. embedding classifier on sanitized gold-span contexts — ±48 window with
  *     the span zero-masked (cli.py:317-325; note: zeros, not the shape mask)
  *  3. Platt calibration on raw ensemble scores vs first-overlap gold labels
  *     (eval.py:80-98)
  *  4. eval: candidates → full-signal ensemble → greedy match → PRF report,
  *     printed in the reference's format (cli.py:363-385)
  *
  * The heavy stages (candidate generation, contexts, embed scoring, matching)
  * are DataFrame ops; only the 11-parameter Platt fit collects to the driver.
  * Matching is scoped per example (doc) — the sane form of the reference's
  * global pooling (see Evaluator scaladoc).
  */
object TrainEval {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(300)
    val seed = args.lift(1).map(_.toLong).getOrElse(1234L)
    val spark = graft.util.Sessions.get()
    import spark.implicits._

    // 1. gen-synth (+ JSONL roundtrip like the CLI does)
    val dir = graft.util.SharedStages.scratch("traineval") // deleted at JVM exit
    Synth.saveJsonl(Synth.generate(spark, n, seed), s"$dir/synth.jsonl")
    val ds = Synth.loadJsonl(spark, s"$dir/synth.jsonl").toDF()
      .withColumn("doc_id", monotonically_increasing_id())
      .cache()
    println(s"[train-eval] ${ds.count()} examples")

    // 2. train-embed on zero-masked gold contexts
    val trainCtx = ds
      .select(col("text"), explode(col("labels")).as("l"))
      .withColumn("left", greatest(lit(0), col("l.start") - 48))
      .withColumn("right", least(length(col("text")), col("l.end") + 48))
      .select(concat(
          expr("substring(text, left + 1, l.start - left)"),
          expr("repeat('0', l.end - l.start)"),
          expr("substring(text, l.end + 1, right - l.end)")).as("context"),
        col("l.type").as("label"))
    val embed = EmbedModel.fit(trainCtx, "context", "label")
    println(s"[train-eval] embed classes: " +
      embed.classifiers.collect { case (t, Right(_)) => t }.toSeq.sorted.mkString(","))

    // shared candidate + sanitized-context frame (ensemble.py:69-88)
    // posexplode_outer + null filter: the inner form lets Catalyst infer
    // size(cands) > 0 and push the duplicated pii_candidates tree below the
    // projection (see p04's scaladoc in PiiQueries for the full story).
    def candidateFrame(): DataFrame = ds
      .withColumn("cands", pii_candidates(col("text")))
      .withColumn("redacted", redact_spans(col("text"), col("cands")))
      .select(col("doc_id"), col("text"), col("labels"), col("redacted"),
        posexplode_outer(col("cands")).as(Seq("cand_idx", "c")))
      .filter(col("c").isNotNull)
      .withColumn("left", greatest(lit(0), col("c.start") - 48))
      .withColumn("right", least(length(col("text")), col("c.end") + 48))
      .withColumn("context", expr("substring(redacted, left + 1, right - left)"))

    def withEmbedMap(df: DataFrame): DataFrame = {
      val scored = embed.predictProba(df, "context")
      scored.withColumn("embed_probs", map_from_arrays(PiiEnsemble.typesCol,
        array(PiiTypes.ALL.map(t => col(s"embed_$t")): _*)))
        .drop(PiiTypes.ALL.map(t => s"embed_$t"): _*)
    }

    // 3. calibrate: raw scores (identity calibrator) + first-overlap gold label
    val emptyMap = map_from_arrays(array(), array()).cast("map<string,double>")
    val rawScored = withEmbedMap(candidateFrame())
      .withColumn("raw", PiiEnsemble.rawScores(
        col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
        emptyMap, col("embed_probs"), Weights.runtimeDefault))
    val goldDf = ds.select(col("doc_id"), posexplode(col("labels")).as(Seq("gold_idx", "g")))
      .select(col("doc_id"), col("gold_idx"), col("g.start").as("start"),
        col("g.end").as("end"), col("g.type").as("type"))
    val labeled = Evaluator.calibrationLabels(
      rawScored.select(col("doc_id"), col("cand_idx"),
        col("c.start").as("start"), col("c.end").as("end"), col("raw")),
      goldDf)
    // Distributed Newton: one 5-sums-per-type agg() per iteration — the
    // labeled set never lands on the driver, so the fit survives a 100×
    // labeled corpus (the old collect() was the one data-plane-adjacent
    // driver materialization in the repo).
    val calib = CalibratorFit.fitDistributed(labeled.select("raw", "gold_label"))
    println("[train-eval] calibrator: " + PiiTypes.ALL.take(3).map(t =>
      f"$t=(${calib.a(t)}%.3f,${calib.b(t)}%.3f)").mkString(" ") + " ...")

    // 4. eval with the fitted calibrator + embed signals
    val preds = PiiEnsemble.withPrediction(withEmbedMap(candidateFrame()),
        col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
        emptyMap, col("embed_probs"), calib, Weights.runtimeDefault)
      .select(col("doc_id"), col("cand_idx").as("pred_idx"),
        col("c.start").as("start"), col("c.end").as("end"), col("pred.label").as("label"))
    val report = Evaluator.prfReport(Evaluator.matchOutcomes(preds, goldDf)).collect()

    println("Per-type metrics:")
    for (t <- PiiTypes.ALL) {
      val r = report.find(x => x.getString(0) == "type" && x.getString(1) == t).get
      println(f"  $t%-12s precision=${r.getDouble(5)}%.3f recall=${r.getDouble(6)}%.3f f1=${r.getDouble(7)}%.3f")
    }
    val micro = report.find(_.getString(0) == "micro").get
    val macroR = report.find(_.getString(0) == "macro").get
    println(f"Micro: precision=${micro.getDouble(5)}%.3f recall=${micro.getDouble(6)}%.3f f1=${micro.getDouble(7)}%.3f")
    println(f"Macro: precision=${macroR.getDouble(5)}%.3f recall=${macroR.getDouble(6)}%.3f f1=${macroR.getDouble(7)}%.3f")
    spark.stop()
  }
}
