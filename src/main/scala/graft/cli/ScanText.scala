package graft.cli

import org.apache.spark.sql.functions._

import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.functions.{pii_candidates, pii_candidates_rows, redact_spans}

/** CLI twin of the reference's `cps scan-text` (cli.py:249-272): run the
  * offline detection query on texts given as args (or a built-in fixture) and
  * print one JSON line per prediction. */
object ScanText {
  def main(args: Array[String]): Unit = {
    val texts = if (args.nonEmpty) args.toSeq
      else Seq("Contact John Doe at john.doe@example.com or (415) 555-1212. " +
        "Card 4111 1111 1111 1111 and SSN 123-45-6789.")
    val spark = graft.util.Sessions.get()
    import spark.implicits._
    val out = texts.toDF("text")
      .select(col("text"), pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c")))
      .withColumn("pred", PiiEnsemble.predictOffline(
        col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
        Calibrator.identity, Weights.runtimeDefault))
      .select(to_json(struct(
        col("c.start"), col("c.end"), col("c.value"),
        col("pred.label"), round(col("pred.score"), 6).as("score"),
        map_from_arrays(PiiEnsemble.typesCol, col("pred.probs")).as("probs"))).as("j"))
      .collect()
    out.foreach(r => println(r.getString(0)))
    val red = texts.toDF("text")
      .select(redact_spans(col("text"), pii_candidates(col("text"))).as("r")).collect()
    red.foreach(r => println("REDACTED: " + r.getString(0)))
    // scrubbed structured debug log, like the reference's ensemble
    // (ensemble.py:73-88): only sanitized context reaches the log payload
    graft.util.SafeLog.withCorrelation() {
      for (t <- texts) {
        val spans = graft.detect.Rules.proposeCandidates(t)
          .map(c => graft.core.Span(c.start, c.end, c.value))
        graft.util.SafeLog.safeLog("scan_contexts",
          details = Map("n_candidates" -> spans.size), level = "DEBUG",
          text = Some(t), piiSpans = spans)
      }
    }
    spark.stop()
  }
}
