package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.{shims => ExpressionUtils}

import graft.detect._

/** Column-level entry points for the engine's custom expressions, mirroring
  * `org.apache.spark.sql.functions`. Also registers SQL names so the same
  * operators are reachable from `spark.sql(...)`. */
object functions {
  private def col1(f: org.apache.spark.sql.catalyst.expressions.Expression =>
      org.apache.spark.sql.catalyst.expressions.Expression)(c: Column): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))

  /** Full rule-layer candidate pipeline: array of candidates in reference
    * detector order. */
  def pii_candidates(text: Column): Column = col1(PiiCandidatesExpr)(text)

  /** Generator form: one (candidate_idx, c) row per candidate — use instead
    * of `posexplode(pii_candidates(text))` when the array itself isn't
    * needed (see [[graft.detect.PiiCandidatesGenerator]]). */
  def pii_candidates_rows(text: Column): Column = col1(PiiCandidatesGenerator)(text)

  /** Offline NER provider spans (EMAIL/PHONE regex fallback). */
  def ner_spans(text: Column): Column = col1(NerSpansExpr)(text)

  /** Shape-preserving mask. */
  def mask_token(s: Column): Column = col1(MaskTokenExpr)(s)

  /** Redact candidate spans out of the text (length-preserving). */
  def redact_spans(text: Column, spans: Column): Column =
    ExpressionUtils.column(
      RedactSpansExpr(ExpressionUtils.expression(text), ExpressionUtils.expression(spans)))

  def luhn(s: Column): Column = col1(LuhnExpr)(s)
  def verhoeff(s: Column): Column = col1(VerhoeffExpr)(s)

  /** Unicode NFC normalization (canonical composition). */
  def nfc_normalize(s: Column): Column =
    graft.ops.NfcNormalizeExpr.nfc_normalize(s)

  /** Control characters to strip during cleaning: the Cc block MINUS the
    * whitespace controls \t \n \r, which must survive to the whitespace
    * pass so "line1\nline2" collapses to "line1 line2" instead of
    * concatenating. Written as an explicit range class (not
    * `[\p{Cc}&&[^\t\n\r]]`) because DuckDB's RE2 has no class
    * intersection — this exact class runs verbatim in both engines.
    * NOTE: \x0B (VT) and \x0C (FF) stay in the STRIP set even though Java
    * counts them as `\s`: RE2's `\s` is `[\t\n\f\r ]` (no VT), so leaving
    * VT for the collapse pass would diverge between engines. */
  val ControlStripClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"

  /** Full corpus text cleaning: NFC normalize, strip non-whitespace control
    * characters, collapse whitespace runs to single spaces, trim. Mirrors
    * the DuckDB chain `trim(regexp_replace(regexp_replace(nfc_normalize(s),
    * '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'), '\s+', ' ', 'g'))`
    * exactly — step order matters (NFC first: composition never produces
    * controls or whitespace; strip keeps \t\n\r so line breaks become word
    * separators, not concatenations). */
  def clean_text(s: Column): Column = {
    import org.apache.spark.sql.functions.{regexp_replace, trim}
    trim(regexp_replace(regexp_replace(nfc_normalize(s), ControlStripClass, ""), "\\s+", " "))
  }

  /** MinHash signature from a pre-shingled array. */
  def minhash_sig(shingles: Column, k: Int): Column =
    graft.ops.MinHashSigExpr.minhash_sig(shingles, k)

  /** MinHash signature with word n-gram shingles fused into the digest loop. */
  def minhash_from_tokens(tokens: Column, k: Int, shingleLen: Int = 3): Column =
    graft.ops.MinHashFromTokensExpr.minhash_from_tokens(tokens, k, shingleLen)

  /** 32-bit SimHash fingerprint of a token array. */
  def simhash32(tokens: Column): Column = graft.ops.SimHash32Expr.simhash32(tokens)

  /** Hamming distance between two bit strings. */
  def hamming_bits(a: Column, b: Column): Column =
    graft.ops.HammingBitsExpr.hamming_bits(a, b)

  /** Random-hyperplane LSH bucket (sign-bit string). */
  def lsh_bucket(vec: Column, planes: Int = 8, dims: Int = 64): Column =
    graft.ops.LshBucketExpr.lsh_bucket(vec, planes, dims)

  /** One-pass cosine similarity of two numeric arrays. */
  def cosine_sim(a: Column, b: Column): Column =
    graft.ops.CosineSimExpr.cosine_sim(a, b)

  /** Exact int64 squared distance of two int-code arrays (one-loop kernel). */
  def int8_dist2(a: Column, b: Column): Column =
    graft.ops.Int8Dist2Expr.int8_dist2(a, b)

  /** Exact int64 dot product of two int-code arrays (one-loop kernel). */
  def int8_dot(a: Column, b: Column): Column =
    graft.ops.Int8DotExpr.int8_dot(a, b)

  /** The SQL surface: (name, usage, builder) of every custom function.
    * [[register]] and [[graft.GraftExtensions]] both install exactly this
    * list. */
  private[graft] val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = {
    def int(es: Seq[Expression], i: Int): Int = es(i).eval().asInstanceOf[Number].intValue()
    def intOr(es: Seq[Expression], i: Int, default: Int): Int =
      if (es.size > i) int(es, i) else default
    import graft.ops._
    Seq(
      ("pii_candidates", "_FUNC_(text) - rule-layer PII candidates with offsets",
        es => PiiCandidatesExpr(es.head)),
      // generator: SELECT pii_candidates_rows(text) or LATERAL VIEW
      ("pii_candidates_rows", "_FUNC_(text) - one (candidate_idx, c) row per PII candidate",
        es => PiiCandidatesGenerator(es.head)),
      ("ner_spans", "_FUNC_(text) - offline NER provider spans", es => NerSpansExpr(es.head)),
      ("mask_token", "_FUNC_(s) - shape-preserving mask", es => MaskTokenExpr(es.head)),
      ("redact_spans", "_FUNC_(text, spans) - splice masks over spans",
        es => RedactSpansExpr(es.head, es(1))),
      ("luhn", "_FUNC_(s) - Luhn checksum gate", es => LuhnExpr(es.head)),
      ("verhoeff", "_FUNC_(s) - Verhoeff checksum gate", es => VerhoeffExpr(es.head)),
      ("minhash_sig", "_FUNC_(shingles, k) - MinHash signature",
        es => MinHashSigExpr(es.head, int(es, 1))),
      ("minhash_from_tokens", "_FUNC_(tokens, k[, n]) - fused shingle MinHash",
        es => MinHashFromTokensExpr(es.head, int(es, 1), intOr(es, 2, 3))),
      ("simhash32", "_FUNC_(tokens) - 32-bit SimHash fingerprint", es => SimHash32Expr(es.head)),
      ("hamming_bits", "_FUNC_(a, b) - Hamming distance of bit strings",
        es => HammingBitsExpr(es.head, es(1))),
      ("lsh_bucket", "_FUNC_(vec[, planes[, dims]]) - hyperplane LSH bucket",
        es => LshBucketExpr(es.head, intOr(es, 1, 8), intOr(es, 2, 64))),
      ("cosine_sim", "_FUNC_(a, b) - one-pass cosine similarity", es => CosineSimExpr(es.head, es(1))),
      ("int8_dist2", "_FUNC_(a, b) - exact int64 squared distance of int-code arrays",
        es => Int8Dist2Expr(es.head, es(1))),
      ("int8_dot", "_FUNC_(a, b) - exact int64 dot product of int-code arrays",
        es => Int8DotExpr(es.head, es(1))),
      ("nfc_normalize", "_FUNC_(s) - Unicode NFC normalization", es => NfcNormalizeExpr(es.head)),
      // aggregate: the analyzer wraps the bare AggregateFunction
      ("topk_min", "_FUNC_(struct, k) - the k smallest values, ascending",
        es => TopKMinExpr(es.head, int(es, 1))),
      ("rolling_fps", "_FUNC_(s, window, k) - k smallest rolling-hash window fingerprints",
        es => RollingFpExpr(es.head, int(es, 1), int(es, 2))))
  }

  /** Register all custom functions for SQL use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
