package graft.detect

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Checksums, Span}

/** Catalyst-native schema of one rule candidate row. */
object CandidateSchema {
  val struct: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("rule_label", StringType, nullable = false),
    StructField("rule_confidence", DoubleType, nullable = false),
    StructField("validations", MapType(StringType, BooleanType), nullable = false)))
  val arrayType: ArrayType = ArrayType(struct, containsNull = false)

  private val labels: Map[String, UTF8String] =
    graft.core.PiiTypes.ALL.map(l => l -> UTF8String.fromString(l)).toMap

  private def validationsData(m: Map[String, Boolean]): MapData = {
    val (ks, vs) = m.toSeq.unzip
    new ArrayBasedMapData(
      new GenericArrayData(ks.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(vs.toArray[Any]))
  }

  /** The three validations maps the rules emit, built once and shared:
    * nothing writes into a row's map data. */
  private val noValidations = validationsData(Map.empty)
  private val ccValidated = validationsData(Rules.CcValidated)
  private val aadhaarValidated = validationsData(Rules.AadhaarValidated)

  private[detect] def toRow(c: graft.core.Candidate): InternalRow = {
    val v = c.validations
    InternalRow(
      c.start, c.end,
      UTF8String.fromString(c.value),
      labels.getOrElse(c.ruleLabel, UTF8String.fromString(c.ruleLabel)),
      c.ruleConfidence,
      if (v.isEmpty) noValidations
      else if (v eq Rules.CcValidated) ccValidated
      else if (v eq Rules.AadhaarValidated) aadhaarValidated
      else validationsData(v))
  }
}

/** `pii_candidates(text)` → array<candidate>: the full 10-detector rule
  * pipeline (regex + Luhn/Verhoeff gates + DOB boost) in one pass, in the
  * reference's fixed detector order (rules.py:106-166). Array element order IS
  * the reference candidate order; downstream `posexplode` preserves it as
  * `candidate_idx`.
  *
  * A custom expression (not a UDF) so the array feeds `posexplode`/`transform`
  * without Row↔object serialization. Each detector's regex runs only inside
  * runs of its own alphabet that are long enough and hold the required
  * chars every match contains, e.g. an `@` for EMAIL or 10 digits for PHONE
  * ([[Detector.find]]).
  */
case class PiiCandidatesExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = CandidateSchema.arrayType
  override def nullSafeEval(text: Any): Any =
    new GenericArrayData(
      Rules.proposeCandidates(text.toString).map(CandidateSchema.toRow).toArray[Any])
  override protected def withNewChildInternal(c: Expression): PiiCandidatesExpr = copy(c)
  override def prettyName: String = "pii_candidates"
}

/** `pii_candidates_rows(text)`: GENERATOR form of [[PiiCandidatesExpr]] —
  * emits one (candidate_idx, c) row per candidate straight from the rule
  * pass, replacing the `posexplode(pii_candidates(text))` two-step. What
  * it buys over array-then-explode:
  *
  *  - no intermediate GenericArrayData materialized per document and then
  *    re-walked by the explode;
  *  - the plan is a single Generate node over the scan (no projection of
  *    a fallback expression feeding a second operator);
  *  - immune to the p04 double-eval trap by construction:
  *    InferFiltersFromGenerate only reasons about the explode family's
  *    array child, so there is no `size(pii_candidates(text)) > 0` to
  *    push into the scan as a re-evaluated DataFilter.
  *
  * Inner-generate semantics (zero-candidate docs emit nothing) — the
  * behavior every explode call site restores anyway. Each detector's regex
  * runs only inside runs of its own alphabet that are long enough and hold
  * the required chars every match contains ([[Detector.find]]). */
case class PiiCandidatesGenerator(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("candidate_idx", IntegerType, nullable = false),
    StructField("c", CandidateSchema.struct, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else Rules.proposeCandidates(t.toString).iterator.zipWithIndex
      .map { case (c, i) => InternalRow(i, CandidateSchema.toRow(c)) }
  }
  override protected def withNewChildInternal(c: Expression): PiiCandidatesGenerator = copy(c)
  override def prettyName: String = "pii_candidates_rows"
}

/** `ner_spans(text)` → array<struct<start,end,value,label,score>>: the
  * deterministic offline NER provider's spans ([[OfflineProvider.spans]],
  * the tested no-model fallback, ner.py:61-81). */
case class NerSpansExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  private val schema = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def dataType: DataType = ArrayType(schema, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    new GenericArrayData(OfflineProvider.spans(text.toString).map(s =>
      InternalRow(s.start, s.end, UTF8String.fromString(s.value),
        UTF8String.fromString(s.label), s.score)).toArray[Any])
  override protected def withNewChildInternal(c: Expression): NerSpansExpr = copy(c)
  override def prettyName: String = "ner_spans"
}

/** `mask_token(s)`: digit→0, upper→X, lower→x, other unchanged
  * (redaction.py:16-26). Unicode-aware like Python's isdigit/isalpha, which
  * chained regexp_replace([0-9]…) would not be. */
case class MaskTokenExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(Redaction.maskToken(s.toString))
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.detect.Redaction.maskToken($c.toString()))")
  override protected def withNewChildInternal(c: Expression): MaskTokenExpr = copy(c)
  override def prettyName: String = "mask_token"
}

/** `redact_spans(text, spans)`: splice shape-preserving masks over the spans
  * (structs whose first three fields are start:int, end:int, value:string —
  * the candidate schema qualifies). Sorted by start; overlapping spans are
  * skipped; length-preserving. Reference: redaction.py:29-45. */
case class RedactSpansExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(text: Any, spans: Any): Any = {
    val arr = spans.asInstanceOf[ArrayData]
    val ss = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 6)
      Span(r.getInt(0), r.getInt(1), r.getUTF8String(2).toString)
    }
    UTF8String.fromString(Redaction.redactText(text.toString, ss))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RedactSpansExpr =
    copy(l, r)
  override def prettyName: String = "redact_spans"
}

/** `luhn(s)` / `verhoeff(s)` checksum gates (rules.py:35-47, 51-86).
  * Fully codegen'd (static call into the pure checksum object) so they stay
  * inside WholeStageCodegen spans rather than forcing an interpreted
  * boundary. */
case class LuhnExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(s: Any): Any = Checksums.luhn(s.toString)
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Checksums.luhn($c.toString())")
  override protected def withNewChildInternal(c: Expression): LuhnExpr = copy(c)
  override def prettyName: String = "luhn"
}
case class VerhoeffExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(s: Any): Any = Checksums.verhoeff(s.toString)
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Checksums.verhoeff($c.toString())")
  override protected def withNewChildInternal(c: Expression): VerhoeffExpr = copy(c)
  override def prettyName: String = "verhoeff"
}
