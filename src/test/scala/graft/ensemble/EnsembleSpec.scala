package graft.ensemble

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, ZipWith}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.PiiTypes
import graft.functions.pii_candidates

/** Ensemble invariants from tests/test_ensemble.py:8-21, exercised through
  * real Spark plans, plus bit-for-bit parity of the fused prediction kernel
  * against a plain-Scala scalar reference. */
class EnsembleSpec extends SparkSpec {

  private lazy val preds = {
    import spark.implicits._
    Seq("Call me at (415) 555-1212 or email john.doe@example.com").toDF("text")
      .select(posexplode(pii_candidates(col("text"))).as(Seq("idx", "c")))
      .withColumn("pred", PiiEnsemble.predictOffline(
        col("c.rule_label"), col("c.rule_confidence"), col("c.validations")))
      .select(col("c.rule_label").as("rule_label"), col("pred.probs").as("probs"),
        col("pred.label").as("label"), col("pred.score").as("score"))
      .collect()
  }

  test("probs cover all 11 types and sum to 1 (±1e-6)") {
    assert(preds.nonEmpty)
    for (r <- preds) {
      val probs = r.getSeq[Double](r.fieldIndex("probs"))
      assert(probs.length == PiiTypes.ALL.length)
      assert(math.abs(probs.sum - 1.0) < 1e-6)
    }
  }

  test("offline argmax equals the rule label") {
    for (r <- preds)
      assert(r.getString(r.fieldIndex("label")) == r.getString(r.fieldIndex("rule_label")))
  }

  test("score equals the argmax probability") {
    for (r <- preds) {
      val probs = r.getSeq[Double](r.fieldIndex("probs"))
      assert(r.getDouble(r.fieldIndex("score")) == probs.max)
    }
  }

  test("validation boost raises the validated type (Luhn CC)") {
    import spark.implicits._
    val rows = Seq("Card 4111 1111 1111 1111 and card-shaped 9 digits 123456789")
      .toDF("text")
      .select(posexplode(pii_candidates(col("text"))).as(Seq("idx", "c")))
      .withColumn("pred", PiiEnsemble.predictOffline(
        col("c.rule_label"), col("c.rule_confidence"), col("c.validations")))
      .select(col("pred.score")).as[Double].collect()
    // sigmoid(0.6*0.9 + 0.2) / (sigmoid(...) + 5.0)
    val p = 1.0 / (1.0 + math.exp(-(0.6 * 0.9 + 0.2)))
    assert(math.abs(rows.head - p / (p + 5.0)) < 1e-12)
  }

  test("calibrator json roundtrip and identity fallback") {
    val c = Calibrator(PiiTypes.ALL.map(t => t -> (1.5, -0.25)).toMap)
    val f = new java.io.File(SparkSpec.tempDir("calib"), "calib.json")
    Calibrator.save(c, f.getAbsolutePath)
    val back = Calibrator.load(f.getAbsolutePath)
    assert(back.models == c.models)
    assert(Calibrator.load("/nonexistent/path.json") == Calibrator.identity)
  }

  test("weights defaults: runtime dataclass wins (0.6/0.2/0.4)") {
    assert(Weights.runtimeDefault == Weights(0.6, 0.2, 0.4))
    assert(Weights.configDefault == Weights(0.4, 0.3, 0.3))
  }

  /** Scalar reference for one candidate: the documented SQL math of
    * [[PiiPredictExpr]], one step at a time (left-to-right fusion terms,
    * StrictMath.exp, left-fold sum from 0.0 with the zero-sum guard, argmax
    * by compareDoubles with the first type winning ties). */
  private def reference(label: String, conf: java.lang.Double,
                        valid: Map[String, java.lang.Boolean],
                        ner: Map[String, java.lang.Double], emb: Map[String, java.lang.Double],
                        c: Calibrator, w: Weights): (Seq[java.lang.Double], String, java.lang.Double) = {
    if (conf == null) return (Seq.fill(PiiTypes.ALL.length)(null), PiiTypes.ALL.head, null)
    def sig(m: Map[String, java.lang.Double], t: String): Double =
      Option(m).flatMap(_.get(t)).flatMap(Option(_)).map(_.doubleValue).getOrElse(0.0)
    val raw = PiiTypes.ALL.map { t =>
      val isLabel = if (label == t) 1.0 else 0.0
      val v = Option(valid).flatMap(_.get(t)).flatMap(Option(_)).exists(_.booleanValue)
      val s = w.rule * conf * isLabel + (if (v) 0.2 else 0.0) +
        w.ner * sig(ner, t) + w.embed * sig(emb, t)
      1.0 / (1.0 + StrictMath.exp(-(s * c.a(t) + c.b(t))))
    }
    val sum0 = raw.foldLeft(0.0)(_ + _)
    val sum = if (sum0 == 0.0) 1.0 else sum0
    val probs = raw.map(_ / sum)
    var best = 0
    for (i <- probs.indices) if (SQLOrderingUtil.compareDoubles(probs(i), probs(best)) > 0) best = i
    (probs.map(java.lang.Double.valueOf), PiiTypes.ALL(best), probs(best))
  }

  private def rawBits(d: Any): Any =
    if (d == null) null else java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])

  private val paritySchema = StructType(Seq(
    StructField("id", IntegerType), StructField("label", StringType),
    StructField("conf", DoubleType), StructField("v", MapType(StringType, BooleanType)),
    StructField("ner", MapType(StringType, DoubleType)), StructField("emb", MapType(StringType, DoubleType))))

  private val cc = PiiTypes.CREDIT_CARD
  private val emptyD = Map.empty[String, java.lang.Double]
  private val T = java.lang.Boolean.TRUE
  private val F = java.lang.Boolean.FALSE
  private def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)
  private type ParityRow = (String, java.lang.Double, Map[String, java.lang.Boolean],
      Map[String, java.lang.Double], Map[String, java.lang.Double])
  private val parityRows: Seq[ParityRow] = Seq[ParityRow](
    (cc, d(0.9), Map(cc -> T), emptyD, emptyD),
    (null, d(0.9), Map(cc -> T), emptyD, emptyD),                      // null rule_label
    (cc, d(0.9), null, emptyD, emptyD),                                // null validations
    (cc, d(0.9), Map(PiiTypes.AADHAAR -> T), emptyD, emptyD),          // missing key
    (cc, d(0.9), Map(cc -> F, PiiTypes.SSN -> null), emptyD, emptyD),  // false / null value
    (cc, d(0.0), Map(cc -> T), emptyD, emptyD),                        // zero conf
    (cc, d(-0.7), Map(cc -> F), emptyD, emptyD),                       // negative conf
    (cc, null, Map(cc -> T), emptyD, emptyD),                          // null conf
    ("NOT_A_TYPE", d(0.5), Map.empty, emptyD, emptyD),                 // all types tie
    (PiiTypes.EMAIL, d(0.85), Map.empty, null, null),                  // null signal maps
    (PiiTypes.PERSON, d(0.4), Map.empty,                               // live signal maps
      Map(PiiTypes.PERSON -> d(0.9), PiiTypes.ADDRESS -> d(0.3)),
      Map(PiiTypes.PERSON -> d(0.2), PiiTypes.DATE -> d(0.7), PiiTypes.EMAIL -> null)),
    (cc, d(0.9), Map(cc -> T), Map(cc -> d(-0.0)), Map("OTHER" -> d(5.0)))) ++ {
    // seeded bulk rows, so an ulp-level slip (Math.exp, another fold order)
    // shows up somewhere among thousands of per-type results
    val rnd = new scala.util.Random(42)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def sigs(): Map[String, java.lang.Double] =
      PiiTypes.ALL.filter(_ => rnd.nextInt(3) == 0).map(_ -> d(rnd.nextDouble())).toMap
    def valids(): Map[String, java.lang.Boolean] =
      PiiTypes.ALL.filter(_ => rnd.nextInt(4) == 0).map(_ -> pick(Seq(T, F))).toMap
    Seq.fill[ParityRow](400)(
      (pick(PiiTypes.ALL :+ null), d(rnd.nextDouble() * 2 - 0.5), valids(), sigs(), sigs()))
  }

  private def parityFrame = spark.createDataFrame(spark.sparkContext.parallelize(
    parityRows.zipWithIndex.map { case ((l, c, v, n, e), i) => Row(i, l, c, v, n, e) }, 2), paritySchema)

  private def checkParity(pred: Column, live: Boolean, c: Calibrator, w: Weights): Unit = {
    val got = parityFrame.select(col("id"), pred.as("p")).collect().sortBy(_.getInt(0))
    assert(got.length == parityRows.length)
    for (r <- got) {
      val (l, conf, v, n, e) = parityRows(r.getInt(0))
      val (probs, label, score) =
        if (live) reference(l, conf, v, n, e, c, w) else reference(l, conf, v, null, null, c, w)
      val p = r.getStruct(1)
      val what = s"row ${r.getInt(0)} live=$live $w"
      assert(p.getSeq[Any](0).map(rawBits) == probs.map(rawBits), what)
      assert(p.getString(1) == label, what)
      assert(rawBits(p.get(2)) == rawBits(score), what)
    }
  }

  test("fused kernel is bit-identical to the scalar reference") {
    val skewed = Calibrator(PiiTypes.ALL.zipWithIndex.map { case (t, i) =>
      t -> (0.5 + 0.37 * i, 0.25 - 0.11 * i) }.toMap)
    for (c <- Seq(Calibrator.identity, skewed); w <- Seq(Weights.runtimeDefault, Weights.configDefault)) {
      checkParity(PiiEnsemble.predictOffline(col("label"), col("conf"), col("v"), c, w),
        live = false, c, w)
      checkParity(PiiEnsemble.predict(col("label"), col("conf"), col("v"), col("ner"), col("emb"), c, w),
        live = true, c, w)
    }
  }

  test("offline form equals the full form with empty signal maps") {
    val empty = typedLit(Map.empty[String, Double])
    val both = parityFrame.select(col("id"),
      PiiEnsemble.predictOffline(col("label"), col("conf"), col("v"), Calibrator.identity,
        Weights.configDefault).as("off"),
      PiiEnsemble.predict(col("label"), col("conf"), col("v"), empty, empty, Calibrator.identity,
        Weights.configDefault).as("full"),
      PiiEnsemble.predict(col("label"), col("conf"), col("v"), col("ner"), col("emb"),
        Calibrator.identity, Weights.configDefault).as("live")).collect()
    def bits(p: Row): Seq[Any] = p.getSeq[Any](0).map(rawBits) ++ Seq(p.getString(1), rawBits(p.get(2)))
    for (r <- both) assert(bits(r.getStruct(1)) == bits(r.getStruct(2)), s"row ${r.getInt(0)}")
    assert(both.exists(r => bits(r.getStruct(1)) != bits(r.getStruct(3))), "live maps must matter")
  }

  test("withPredictionOffline plans no higher-order-function stages") {
    val plan = PiiEnsemble.withPredictionOffline(parityFrame, col("label"), col("conf"), col("v"))
      .queryExecution.optimizedPlan
    val hofs = plan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: ArrayTransform | _: ZipWith | _: ArrayAggregate) => e.prettyName
    }))
    assert(hofs.isEmpty, plan.treeString)
    assert(plan.flatMap(_.expressions.flatMap(_.collect { case e: PiiPredictExpr => e })).size == 1)
  }
}
