package graft.detect

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.PiiTypes

/** NER provider contract (reference: ner.py:47-199).
  *
  * A provider turns a batch of texts into labeled spans; the engine applies
  * the confidence gate and the per-type max-merge with the rules layer.
  * Model-backed providers (spaCy, Presidio) plug in as `mapPartitions`
  * batches — one model instance per partition, iterator-in/iterator-out (the
  * Spark analogue of `nlp.pipe`); this container ships none, so the default
  * is the deterministic offline provider (EMAIL 0.99 / PHONE 0.90 regex,
  * ner.py:61-81 — the path the reference's CI asserts).
  */
case class NerSpan(start: Int, end: Int, value: String, label: String, score: Double)

trait NerProvider extends Serializable {
  def analyzeBatch(texts: Iterator[String]): Iterator[Seq[NerSpan]]
}

/** Offline fallback provider (ner.py:61-81). */
object OfflineProvider extends NerProvider {
  /** EMAIL 0.99 then PHONE_NUMBER 0.90 spans of one text, via the rules
    * detectors. */
  def spans(text: String): Vector[NerSpan] =
    Rules.Email.find(text).map(s => NerSpan(s.start, s.end, s.text, PiiTypes.EMAIL, 0.99)) ++
    Rules.Phone.find(text).map(s => NerSpan(s.start, s.end, s.text, PiiTypes.PHONE_NUMBER, 0.90))

  override def analyzeBatch(texts: Iterator[String]): Iterator[Seq[NerSpan]] =
    texts.map(spans)
}

/** Model-less Presidio stand-in: empty results (ner.py:137-139 offline). */
object EmptyProvider extends NerProvider {
  override def analyzeBatch(texts: Iterator[String]): Iterator[Seq[NerSpan]] =
    texts.map(_ => Seq.empty)
}

/** Model-backed provider — the M4 spaCy/ONNX runtime slot, exercising the
  * real `mapPartitions` model plumbing end-to-end:
  *
  *  - the session is created LAZILY, ONCE PER EXECUTOR JVM (the expensive
  *    part of a real ONNX Runtime / JNI model load) and shared across that
  *    executor's partitions — the `@transient lazy val` survives closure
  *    serialization as a marker, re-initializing remotely on first use;
  *  - texts run through the session in fixed-size batches (the `nlp.pipe`
  *    shape, ner.py:104-117) rather than row-at-a-time.
  *
  * The container ships no onnxruntime jar, so the session speaks
  * [[graft.ml.OnnxLike]] — a call-surface mirror of `ai.onnxruntime`
  * (`OrtEnvironment.getEnvironment` → `createSession(modelBytes)` →
  * `run(inputs)`) whose executor does real tensor math over real model
  * bytes. [[ModelNerProvider.OnnxNerSession]] owns the full inference
  * pipeline: tokenize with offsets → featurize → [batch, seqLen, features]
  * tensor → forward pass → sigmoid-gated span decode. Swapping to the real
  * runtime changes the import and the model bytes, nothing Spark-side. */
class ModelNerProvider(batchSize: Int = 32) extends NerProvider {
  @transient private lazy val session = ModelNerProvider.acquireSession()
  override def analyzeBatch(texts: Iterator[String]): Iterator[Seq[NerSpan]] =
    texts.grouped(batchSize).flatMap(session.run)
}

object ModelNerProvider {
  /** The model runtime boundary: batch of texts in, spans per text out. */
  trait Session { def run(batch: Seq[String]): Seq[Seq[NerSpan]] }

  @volatile private var inits = 0
  /** Sessions created in this JVM — the plumbing spec asserts exactly 1. */
  def initCount: Int = inits

  private lazy val shared: Session = synchronized { inits += 1; new OnnxNerSession }
  def acquireSession(): Session = shared

  /** Spec hook: the live ONNX-shaped session, if one was created. */
  def sessionForSpec: Option[OnnxNerSession] = if (inits > 0) Some(
    shared.asInstanceOf[OnnxNerSession]) else None

  /** Token featurization width: (isCapitalizedWord, prevIsHonorific) —
    * the bias term lives in the model. */
  private val Features = 2

  /** The bundled toy NER "model": PERSON iff capitalized word directly
    * after an honorific (Mr/Ms/Mrs/Dr, optional '.'), scored
    * σ(5·isCap + 5·prevHon − 8.265399) ≈ 0.85 — either feature alone
    * lands far below the 0.60 confidence gate. */
  private[detect] val modelBytes: Array[Byte] =
    graft.ml.OnnxLike.denseModelBytes(Array(5f, 5f), bias = -8.265399f)

  /** Full inference pipeline against the ONNX-shaped runtime. */
  final class OnnxNerSession extends Session {
    import graft.ml.OnnxLike._
    private val env = OrtEnvironment.getEnvironment()
    private[detect] val ort = env.createSession(modelBytes)

    private val tokenRe = java.util.regex.Pattern.compile("""\S+""")
    private val honorificRe = java.util.regex.Pattern.compile("""(?:Mr|Ms|Mrs|Dr)\.?""")

    /** Longest [A-Z][a-z]+ prefix length of a token, 0 if none (ASCII, the
      * old regex tagger's exact capture). */
    private def capPrefix(tok: String): Int = {
      if (tok.isEmpty || tok.head < 'A' || tok.head > 'Z') return 0
      var i = 1
      while (i < tok.length && tok(i) >= 'a' && tok(i) <= 'z') i += 1
      if (i >= 2) i else 0
    }

    override def run(batch: Seq[String]): Seq[Seq[NerSpan]] = {
      if (batch.isEmpty) return Seq.empty
      // 1. tokenize with offsets (model sees features; offsets stay here,
      //    the standard split between tokenizer and graph)
      val toks: Seq[Array[(Int, Int, String)]] = batch.map { t =>
        val m = tokenRe.matcher(t)
        val b = Array.newBuilder[(Int, Int, String)]
        while (m.find()) b += ((m.start, m.end, m.group))
        b.result()
      }
      val maxLen = math.max(1, toks.map(_.length).max)
      // 2. featurize, padded to [batch, maxLen, Features]
      val feats = Array.ofDim[Float](batch.length, maxLen, Features)
      for (bi <- toks.indices; li <- toks(bi).indices) {
        val tok = toks(bi)(li)._3
        feats(bi)(li)(0) = if (capPrefix(tok) > 0) 1f else 0f
        feats(bi)(li)(1) =
          if (li > 0 && honorificRe.matcher(toks(bi)(li - 1)._3).matches()) 1f else 0f
      }
      // 3. forward pass
      val logits = ort.run(java.util.Map.of(
        "features", OnnxTensor.createTensor(env, feats))).get("logits")
      // 4. sigmoid-gated span decode (padding rows decode below the gate)
      toks.indices.map { bi =>
        val out = Seq.newBuilder[NerSpan]
        for (li <- toks(bi).indices) {
          val score = 1.0 / (1.0 + math.exp(-logits(bi)(li)(0)))
          if (score >= 0.5) {
            val (s, _, tok) = toks(bi)(li)
            val plen = capPrefix(tok)
            if (plen > 0)
              out += NerSpan(s, s + plen, tok.take(plen), graft.core.PiiTypes.PERSON, score)
          }
        }
        out.result()
      }
    }
  }
}

object Ner {

  /** Provider selection mirroring the reference's offline gate
    * (ner.py:128-139): CPS_OFFLINE forces the deterministic fallback, the
    * CI-asserted path; otherwise the configured model-backed provider. */
  def providerFor(provider: String, offline: Boolean): NerProvider =
    if (offline) OfflineProvider
    else provider match {
      case "model" | "onnx" => new ModelNerProvider()
      case "presidio" => EmptyProvider // runtime absent; empty-offline parity
      case _ => OfflineProvider
    }

  /** detect_ner_spans (ner.py:170-199): run the provider per partition and
    * apply the global confidence gate (default 0.60, config.py:17).
    * Input (id, text) frame; output (id, start, end, value, label, score).
    *
    * Iterator-in/iterator-out: only `groupRows` (id, text) pairs are
    * resident at once, so a partition of long documents never fully
    * materializes in executor memory. The provider's own model batch size
    * (e.g. [[ModelNerProvider]]'s 32) still applies within each group. */
  def detectNerSpans(df: DataFrame, idCol: String, textCol: String,
                     provider: NerProvider = OfflineProvider,
                     confidenceMin: Double = 0.60,
                     groupRows: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val typed: Dataset[(Long, String)] =
      df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
    typed.mapPartitions { it =>
      it.grouped(groupRows).flatMap { chunk =>
        chunk.iterator.map(_._1).zip(provider.analyzeBatch(chunk.iterator.map(_._2)))
          .flatMap { case (id, spans) => spans.map(s => (id, s.start, s.end, s.value, s.label, s.score)) }
      }
    }.toDF(idCol, "start", "end", "value", "label", "score")
      .filter(col("score") >= confidenceMin)
  }

  /** merge_with_rules (ner.py:202-228, A1): per (id, type), max of gated NER
    * scores and rule confidences. */
  def mergeWithRules(nerSpans: DataFrame, ruleCandidates: DataFrame, idCol: String): DataFrame =
    nerSpans.select(col(idCol), col("label"), col("score"))
      .unionByName(ruleCandidates.select(col(idCol), col("rule_label").as("label"),
        col("rule_confidence").as("score")))
      .groupBy(idCol, "label").agg(max("score").as("score"))
}
