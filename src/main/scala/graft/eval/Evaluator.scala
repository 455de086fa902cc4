package graft.eval

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PiiTypes

/** Span-match evaluation (reference: eval.py).
  *
  * The reference matcher (eval.py:20-50) is a greedy one-to-one interval
  * matcher: predictions in order claim the first unused gold span with char
  * overlap and equal type; unmatched predictions are FPs (attributed to their
  * label, or to ALL_PII_TYPES[0] when label is null, eval.py:44); unused golds
  * are FNs.
  *
  * Scale design: the distributed form scopes matching to a grouping key
  * (doc_id) — overlap pairs are produced by an equi-join on doc_id plus the
  * interval predicate, and the greedy resolution runs per doc inside
  * `flatMapGroups` (docs are small; the shuffle key is doc_id). The
  * reference's *global* cross-example pooling (it compares raw char offsets
  * across examples!) is preserved in [[greedyMatchLocal]] for parity testing
  * and driver-sized datasets.
  */
object Evaluator {

  /** Reference-exact greedy matcher over in-memory lists.
    * Returns (tp, fp, fn, perType(tp,fp,fn)). */
  def greedyMatchLocal(
      preds: Seq[(Int, Int, String)],          // (start, end, label)
      gold: Seq[(Int, Int, String)]): (Int, Int, Int, Map[String, (Int, Int, Int)]) = {
    var tp = 0; var fp = 0; var fn = 0
    val per = scala.collection.mutable.Map(PiiTypes.ALL.map(t => t -> Array(0, 0, 0)): _*)
    val used = Array.fill(gold.size)(false)
    for ((ps, pe, pl) <- preds) {
      var matched = false
      var j = 0
      while (!matched && j < gold.size) {
        val (gs, ge, gt) = gold(j)
        if (!used(j) && ps < ge && gs < pe && pl == gt) {
          tp += 1; per(gt)(0) += 1; used(j) = true; matched = true
        }
        j += 1
      }
      if (!matched) {
        fp += 1
        per(Option(pl).getOrElse(PiiTypes.ALL.head))(1) += 1
      }
    }
    for (j <- gold.indices; if !used(j)) { fn += 1; per(gold(j)._3)(2) += 1 }
    (tp, fp, fn, per.map { case (k, v) => k -> (v(0), v(1), v(2)) }.toMap)
  }

  /** Distributed greedy matching scoped per doc_id.
    *
    * @param preds (doc_id, pred_idx, start, end, label)
    * @param gold  (doc_id, gold_idx, start, end, type)
    * @return (doc_id, kind, label) where kind ∈ tp|fp|fn — one row per
    *         matched pred, unmatched pred, and unused gold. */
  def matchOutcomes(preds: DataFrame, gold: DataFrame): DataFrame =
    matchOutcomesTagged(
      preds.select(col("doc_id"), lit(0).as("role"), col("pred_idx").as("ord"),
        col("start"), col("end"), col("label"))
        .unionByName(gold.select(col("doc_id"), lit(1).as("role"), col("gold_idx").as("ord"),
          col("start"), col("end"), col("type").as("label"))))

  /** The one distributed matcher: both preds and golds arrive in ONE frame,
    * so a caller can feed them from a single scan of its candidate pipeline
    * (no cache / checkpoint needed to feed separate pred and gold branches).
    *
    * @param tagged (doc_id, role 0=pred | 1=gold, ord, start, end, label);
    *               preds matched in `ord` order, golds claimed in
    *               (ord, start, label) order — a caller with no gold order
    *               of its own passes ord 0 to get (start, label). */
  def matchOutcomesTagged(tagged: DataFrame): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.select(col("doc_id").cast("long"), col("role").cast("int"),
      col("ord").cast("long"), col("start").cast("int"), col("end").cast("int"),
      col("label"))
      .as[(Long, Int, Long, Int, Int, String)]
      .groupByKey(_._1)
      .flatMapGroups { (docId, rows) =>
        val all = rows.toVector
        val ps = all.filter(_._2 == 0).sortBy(_._3).map(r => (r._4, r._5, r._6))
        val gs = all.filter(_._2 == 1).sortBy(r => (r._3, r._4, r._6)).map(r => (r._4, r._5, r._6))
        val used = Array.fill(gs.size)(false)
        val out = Vector.newBuilder[(Long, String, String)]
        for ((s, e, l) <- ps) {
          var matched = false
          var j = 0
          while (!matched && j < gs.size) {
            val (g2s, g2e, gt) = gs(j)
            if (!used(j) && s < g2e && g2s < e && l == gt) {
              used(j) = true; matched = true
              out += ((docId, "tp", gt))
            }
            j += 1
          }
          if (!matched) out += ((docId, "fp", Option(l).getOrElse(PiiTypes.ALL.head)))
        }
        for (j <- gs.indices; if !used(j)) out += ((docId, "fn", gs(j)._3))
        out.result()
      }
      .toDF("doc_id", "kind", "label")
  }

  /** Reference-exact GLOBAL pooling (eval.py:63-67 extends preds/golds across
    * all examples and compares raw char offsets cross-example): collapse
    * everything into one matching group. Exact parity, but inherently
    * sequential — a single task processes the whole pool, so use only for
    * eval-sized data; [[matchOutcomes]] (doc-scoped) is the scale form. */
  def matchOutcomesGlobal(preds: DataFrame, gold: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    matchOutcomes(
      preds.withColumn("doc_id", lit(0L)).coalesce(1),
      gold.withColumn("doc_id", lit(0L)).coalesce(1))
  }

  /** Per-type + micro + macro precision/recall/F1 (eval.py:53-76).
    * Output rows: (scope, label, tp, fp, fn, precision, recall, f1) where
    * scope ∈ type|micro|macro (macro carries null tallies). */
  def prfReport(outcomes: DataFrame): DataFrame = {
    val spark = outcomes.sparkSession
    import spark.implicits._
    val tallies = outcomes.groupBy("label").agg(
      sum(when(col("kind") === "tp", 1).otherwise(0)).as("tp"),
      sum(when(col("kind") === "fp", 1).otherwise(0)).as("fp"),
      sum(when(col("kind") === "fn", 1).otherwise(0)).as("fn"))
    // every type appears, even with zero tallies (eval.py:27 initializes all)
    val allTypes = PiiTypes.ALL.toDF("label")
    val perType = allTypes.join(tallies, Seq("label"), "left_outer")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
    def prf(df: DataFrame): DataFrame = df
      .withColumn("precision", when(col("tp") + col("fp") === 0, 0.0)
        .otherwise(col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall", when(col("tp") + col("fn") === 0, 0.0)
        .otherwise(col("tp").cast("double") / (col("tp") + col("fn"))))
      .withColumn("f1", when(col("precision") + col("recall") === 0, 0.0)
        .otherwise(lit(2) * col("precision") * col("recall") / (col("precision") + col("recall"))))
    val typed = prf(perType).withColumn("scope", lit("type"))
    val micro = prf(perType.agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn")))
      .withColumn("scope", lit("micro")).withColumn("label", lit(null).cast("string"))
    val macroRow = typed.agg(
      avg("precision").as("precision"), avg("recall").as("recall"), avg("f1").as("f1"))
      .withColumn("scope", lit("macro")).withColumn("label", lit(null).cast("string"))
      .withColumn("tp", lit(null).cast("long")).withColumn("fp", lit(null).cast("long"))
      .withColumn("fn", lit(null).cast("long"))
    val cols = Seq("scope", "label", "tp", "fp", "fn", "precision", "recall", "f1")
    typed.selectExpr(cols: _*)
      .unionByName(micro.selectExpr(cols: _*))
      .unionByName(macroRow.selectExpr(cols: _*))
  }

  /** Calibration label assignment (J2, eval.py:89-97): per candidate, the
    * first (gold_idx order) overlapping gold's type regardless of type
    * equality, else null. */
  def calibrationLabels(cands: DataFrame, gold: DataFrame): DataFrame = {
    val g = gold.select(col("doc_id").as("g_doc"), col("gold_idx"),
      col("start").as("g_start"), col("end").as("g_end"), col("type"))
    val joined = cands.join(g,
      col("doc_id") === col("g_doc") && col("start") < col("g_end") && col("g_start") < col("end"),
      "left_outer")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "cand_idx").orderBy(col("gold_idx").asc_nulls_last)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("g_doc", "g_start", "g_end", "gold_idx", "rn")
      .withColumnRenamed("type", "gold_label")
  }
}
