package graft.ensemble

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.PiiTypes

/** Platt calibration parameters: per-type (a, b) for sigmoid(a*x + b).
  * Identity = (1, 0) for every type. Reference: ensemble.py:20-57. */
case class Calibrator(models: Map[String, (Double, Double)]) {
  def a(t: String): Double = models.getOrElse(t, (1.0, 0.0))._1
  def b(t: String): Double = models.getOrElse(t, (1.0, 0.0))._2
  /** (a,b) vectors aligned to PiiTypes.ALL. */
  def aArray: IndexedSeq[Double] = PiiTypes.ALL.map(a)
  def bArray: IndexedSeq[Double] = PiiTypes.ALL.map(b)
}
object Calibrator {
  def identity: Calibrator = Calibrator(PiiTypes.ALL.map(t => t -> (1.0, 0.0)).toMap)

  /** JSON persistence (replaces the reference's joblib; corrupt/missing file
    * falls back to identity, ensemble.py:36-42). Format:
    * {"TYPE": [a, b], ...} */
  def save(c: Calibrator, path: String): Unit = {
    val body = PiiTypes.ALL.map(t => s""""$t": [${c.a(t)}, ${c.b(t)}]""").mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
  def load(path: String): Calibrator =
    try {
      val s = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val entry = """"([A-Z_]+)":\s*\[([-0-9.eE]+),\s*([-0-9.eE]+)\]""".r
      val m = entry.findAllMatchIn(s).map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble)).toMap
      if (m.isEmpty) identity else Calibrator(PiiTypes.ALL.map(t => t -> m.getOrElse(t, (1.0, 0.0))).toMap)
    } catch { case _: Exception => identity }
}

/** Ensemble signal weights. Runtime defaults follow the `Ensemble` dataclass
  * (0.6/0.2/0.4, ensemble.py:64-67); the YAML config schema carries a second
  * default set (0.4/0.3/0.3, config.py:45-47) — the dataclass wins at runtime
  * and is what the reference's tests exercise. */
case class Weights(rule: Double = 0.6, ner: Double = 0.2, embed: Double = 0.4)
object Weights {
  val runtimeDefault: Weights = Weights()
  val configDefault: Weights = Weights(0.4, 0.3, 0.3)
}

/** Weighted fusion → Platt calibration → normalization → argmax over
  * per-candidate rows, as one fused Catalyst expression ([[PiiPredictExpr]]).
  * Per-type vectors are aligned to [[PiiTypes.ALL]] (stable 11-type order).
  * Reference: ensemble.py:90-136.
  *
  * No UDF, no shuffle, no state: at any scale this is a pure map stage.
  */
object PiiEnsemble {
  def typesCol: Column = array(PiiTypes.ALL.map(lit): _*)

  /** Per-type raw fused scores for one candidate row (ensemble.py:96-110):
    * w_rule·conf·[label=t] + 0.2·[validations[t]] + w_ner·ner[t] + w_embed·embed[t].
    * The calibrator fit reads these; prediction fuses the same arithmetic
    * into [[PiiPredictExpr]].
    *
    * @param nerSig     map<string,double> of NER context signals (may be empty/null)
    * @param embedProbs map<string,double> of embedding classifier probs (may be empty/null)
    */
  def rawScores(ruleLabel: Column, ruleConf: Column, validations: Column,
                nerSig: Column, embedProbs: Column,
                w: Weights = Weights.runtimeDefault): Column =
    transform(typesCol, t =>
      lit(w.rule) * ruleConf * when(ruleLabel === t, lit(1.0)).otherwise(lit(0.0)) +
      when(coalesce(element_at(validations, t), lit(false)), lit(0.2)).otherwise(lit(0.0)) +
      lit(w.ner) * coalesce(element_at(nerSig, t), lit(0.0)) +
      lit(w.embed) * coalesce(element_at(embedProbs, t), lit(0.0)))

  /** Full prediction with live NER/embed signal maps:
    * struct(probs array, label, score). */
  def predict(ruleLabel: Column, ruleConf: Column, validations: Column,
              nerSig: Column, embedProbs: Column,
              calib: Calibrator = Calibrator.identity,
              w: Weights = Weights.runtimeDefault): Column =
    shims.column(PiiPredictExpr(
      shims.expression(ruleLabel.cast(StringType)),
      shims.expression(ruleConf.cast(DoubleType)),
      shims.expression(validations.cast(MapType(StringType, BooleanType))),
      shims.expression(nerSig.cast(PiiPredictExpr.signalType)),
      shims.expression(embedProbs.cast(PiiPredictExpr.signalType)),
      calib.aArray, calib.bArray, w))

  /** Offline prediction: NER context signals and embedding probs are
    * deterministically absent (ner.py:245-249 with no model; embeddings.py:76-80
    * with no classifier → zeros), so only rule prior + validation boost remain.
    * The absent maps add w·0.0 per type, which never changes a score: the
    * validation term has already turned a -0.0 product into +0.0. */
  def predictOffline(ruleLabel: Column, ruleConf: Column, validations: Column,
                     calib: Calibrator = Calibrator.identity,
                     w: Weights = Weights.runtimeDefault): Column =
    predict(ruleLabel, ruleConf, validations, noSignals, noSignals, calib, w)

  private def noSignals: Column = lit(null).cast(PiiPredictExpr.signalType)

  /** Offline prediction over a DataFrame: adds `out` = struct(probs, label, score). */
  def withPredictionOffline(df: DataFrame,
                            ruleLabel: Column, ruleConf: Column, validations: Column,
                            calib: Calibrator = Calibrator.identity,
                            w: Weights = Weights.runtimeDefault,
                            out: String = "pred"): DataFrame =
    df.withColumn(out, predictOffline(ruleLabel, ruleConf, validations, calib, w))

  /** Full-signal prediction over a DataFrame (like [[withPredictionOffline]]
    * but with live NER/embed maps). */
  def withPrediction(df: DataFrame,
                     ruleLabel: Column, ruleConf: Column, validations: Column,
                     nerSig: Column, embedProbs: Column,
                     calib: Calibrator = Calibrator.identity,
                     w: Weights = Weights.runtimeDefault,
                     out: String = "pred"): DataFrame =
    df.withColumn(out, predict(ruleLabel, ruleConf, validations, nerSig, embedProbs, calib, w))
}

/** `pii_predict(rule_label, rule_conf, validations, ner_sig, embed_probs)` →
  * struct(probs array<double>, label string, score double): the whole
  * fusion → Platt → normalize → argmax step for one candidate in one loop
  * over [[PiiTypes.ALL]]. Calibrator vectors `a`/`b` (aligned to ALL) and
  * the weights are constants, held as immutable values so plan equality and
  * canonicalization stay structural.
  *
  * Parity contract: the result must equal, bit for bit, the Spark SQL
  * composition of the same math (per type t, over SQL doubles):
  *   - s_t = w.rule·conf·[label=t] + (validations[t] ? 0.2 : 0.0)
  *           + w.ner·coalesce(ner[t], 0.0) + w.embed·coalesce(embed[t], 0.0),
  *     each `+` and `·` applied left to right;
  *   - p_t = 1.0 / (1.0 + exp(-(s_t·a_t + b_t))), where Spark's `exp` is
  *     `StrictMath.exp` (not `Math.exp`, which may differ by an ulp);
  *   - the sum is a left fold from 0.0 in type order, a zero sum is taken
  *     as 1.0, and each p_t is divided by it;
  *   - argmax compares by `SQLOrderingUtil.compareDoubles` (NaN largest,
  *     -0.0 == 0.0) and the first type wins ties (Python `max`,
  *     ensemble.py:117).
  * A null rule label matches no type. A null or empty map, a missing key
  * and a null value all read as absent; on a duplicated key the first
  * occurrence wins, as in `element_at`. A null rule_conf nulls every prob
  * and the score, and the label falls to the first type.
  */
case class PiiPredictExpr(
    ruleLabel: Expression, ruleConf: Expression, validations: Expression,
    nerSig: Expression, embedProbs: Expression,
    a: IndexedSeq[Double], b: IndexedSeq[Double], w: Weights)
    extends Expression with CodegenFallback {
  import PiiPredictExpr._

  override def children: Seq[Expression] =
    Seq(ruleLabel, ruleConf, validations, nerSig, embedProbs)
  override def nullable: Boolean = false
  override def dataType: DataType = resultType

  @transient private lazy val aVec: Array[Double] = a.toArray
  @transient private lazy val bVec: Array[Double] = b.toArray

  override def eval(input: InternalRow): Any = {
    val confAny = ruleConf.eval(input)
    if (confAny == null)
      return new GenericInternalRow(Array[Any](
        new GenericArrayData(new Array[Any](nTypes)), types(0), null))
    val conf = confAny.asInstanceOf[Double]
    val labelAny = ruleLabel.eval(input)
    val label = if (labelAny == null) -1 else typeIndex(labelAny.asInstanceOf[UTF8String])
    val valid = validFlags(validations.eval(input).asInstanceOf[MapData])
    val ner = signal(nerSig.eval(input).asInstanceOf[MapData])
    val emb = signal(embedProbs.eval(input).asInstanceOf[MapData])
    val ra = aVec; val rb = bVec
    val p = new Array[Double](nTypes)
    var ssum = 0.0
    var t = 0
    while (t < nTypes) {
      val s = w.rule * conf * (if (t == label) 1.0 else 0.0) +
        (if (valid != null && valid(t)) 0.2 else 0.0) +
        w.ner * (if (ner == null) 0.0 else ner(t)) +
        w.embed * (if (emb == null) 0.0 else emb(t))
      val z = s * ra(t)
      p(t) = 1.0 / (1.0 + StrictMath.exp(-(z + rb(t))))
      ssum += p(t)
      t += 1
    }
    if (ssum == 0.0) ssum = 1.0
    var best = 0
    t = 0
    while (t < nTypes) {
      p(t) = p(t) / ssum
      if (t > 0 && SQLOrderingUtil.compareDoubles(p(t), p(best)) > 0) best = t
      t += 1
    }
    new GenericInternalRow(Array[Any](UnsafeArrayData.fromPrimitiveArray(p), types(best), p(best)))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PiiPredictExpr =
    copy(ruleLabel = c(0), ruleConf = c(1), validations = c(2), nerSig = c(3), embedProbs = c(4))
  override def prettyName: String = "pii_predict"
}

object PiiPredictExpr {
  val signalType: MapType = MapType(StringType, DoubleType)
  val resultType: StructType = StructType(Seq(
    StructField("probs", ArrayType(DoubleType, containsNull = true), nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("score", DoubleType, nullable = true)))

  private val nTypes = PiiTypes.ALL.length
  private val types: Array[UTF8String] = PiiTypes.ALL.map(UTF8String.fromString).toArray
  private val typeIndexMap: Map[UTF8String, Int] = types.zipWithIndex.toMap
  private def typeIndex(s: UTF8String): Int = typeIndexMap.getOrElse(s, -1)

  /** validations[t] per type (null map / missing key / null value → false);
    * null when the map is null or empty. */
  private def validFlags(m: MapData): Array[Boolean] = {
    if (m == null || m.numElements() == 0) return null
    val keys = m.keyArray(); val vals = m.valueArray()
    val out = new Array[Boolean](nTypes)
    val seen = new Array[Boolean](nTypes)
    var i = 0
    while (i < m.numElements()) {
      val t = typeIndex(keys.getUTF8String(i))
      if (t >= 0 && !seen(t)) {
        seen(t) = true
        out(t) = !vals.isNullAt(i) && vals.getBoolean(i)
      }
      i += 1
    }
    out
  }

  /** coalesce(m[t], 0.0) per type; null when the map is null or empty. */
  private def signal(m: MapData): Array[Double] = {
    if (m == null || m.numElements() == 0) return null
    val keys = m.keyArray(); val vals = m.valueArray()
    val out = new Array[Double](nTypes)
    val seen = new Array[Boolean](nTypes)
    var i = 0
    while (i < m.numElements()) {
      val t = typeIndex(keys.getUTF8String(i))
      if (t >= 0 && !seen(t)) {
        seen(t) = true
        if (!vals.isNullAt(i)) out(t) = vals.getDouble(i)
      }
      i += 1
    }
    out
  }
}
