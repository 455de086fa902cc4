package graft.queries

import org.apache.spark.sql.functions._

import graft.core.PiiTypes
import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.functions.{pii_candidates, redact_spans}
import graft.queries.PiiInputs.Sql
import QueryDef.t

/** The detection-pipeline surface (SURVEY §2.3/§2.9/§3.2) as verifiable
  * queries over [[PiiInputs]] derived text.
  *
  * The DuckDB oracles recompute candidates independently per detector with
  * `regexp_extract_all` + SQL reimplementations of Luhn/Verhoeff, so the
  * Spark `PiiCandidatesExpr` pipeline (one-pass, Java regex) is checked
  * against a structurally different computation (per-detector, RE2).
  */
object PiiQueries {

  private val IN = s"WITH pii_inputs AS (${PiiInputs.sql})"

  /** Oracle fragment: all candidates as (doc_id, det_rank, ordinal, value,
    * rule_label, rule_confidence, valid) before global candidate numbering.
    * Detector rank follows the reference order (rules.py:106-166). Public so
    * other oracles (x60 density filter) can run the same 10-detector scan
    * over their own `pii_inputs`-named corpus CTE. */
  def candidatesSql: String = {
    def simple(rank: Int, re: String, label: String, conf: String): String =
      s"""SELECT doc_id, $rank AS det_rank, i AS ordinal,
            ms[i] AS value, '$label' AS rule_label, ($conf)::DOUBLE AS rule_confidence, false AS valid
          FROM (SELECT doc_id, regexp_extract_all(text, $re) AS ms FROM pii_inputs),
               (SELECT unnest(generate_series(1, 100)) AS i) ii
          WHERE i <= len(ms)"""
    // Simpler per-detector expansion via generate_series join; DATE needs
    // offsets for the DOB-context boost -> reconstructed via regexp_split.
    val email = simple(0, Sql.EMAIL, PiiTypes.EMAIL, "0.95")
    val phone = simple(1, Sql.PHONE, PiiTypes.PHONE_NUMBER, "0.85")
    val cc =
      s"""SELECT doc_id, 2 AS det_rank, i AS ordinal, ms[i] AS value,
            '${PiiTypes.CREDIT_CARD}' AS rule_label, 0.9::DOUBLE AS rule_confidence, true AS valid
          FROM (SELECT doc_id, regexp_extract_all(text, ${Sql.CC}) AS ms FROM pii_inputs),
               (SELECT unnest(generate_series(1, 100)) AS i) ii
          WHERE i <= len(ms) AND ${Sql.luhn("ms[i]")}"""
    val ssn = simple(3, Sql.SSN, PiiTypes.SSN, "0.9")
    val ip = simple(4, Sql.IPV4, PiiTypes.IP_ADDRESS, "0.9")
    val mac = simple(5, Sql.MAC, PiiTypes.MAC_ADDRESS, "0.9")
    val aadhaar =
      s"""SELECT doc_id, 6 AS det_rank, i AS ordinal, ms[i] AS value,
            '${PiiTypes.AADHAAR}' AS rule_label, 0.9::DOUBLE AS rule_confidence, true AS valid
          FROM (SELECT doc_id, regexp_extract_all(text, ${Sql.AADHAAR}) AS ms FROM pii_inputs),
               (SELECT unnest(generate_series(1, 100)) AS i) ii
          WHERE i <= len(ms) AND ${Sql.verhoeff("ms[i]")}"""
    val pan = simple(7, Sql.PAN, PiiTypes.PAN, "0.9")
    // DATE with char offsets: start_k = len(parts[1..k]) + len(matches[1..k-1]),
    // context window = lower(text[start-8 : end+8]) (rules.py:154-161).
    val date =
      s"""SELECT doc_id, 8 AS det_rank, i AS ordinal, ms[i] AS value,
            '${PiiTypes.DATE}' AS rule_label,
            0.7::DOUBLE + (CASE WHEN ctx LIKE '%dob%' OR ctx LIKE '%birth%' THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END) AS rule_confidence,
            false AS valid
          FROM (
            SELECT doc_id, ms, i, text,
              lower(substr(text,
                greatest(0, length(array_to_string(ps[1:i],'')) + length(array_to_string(ms[1:i-1],'')) - 8) + 1,
                least(length(text), length(array_to_string(ps[1:i],'')) + length(array_to_string(ms[1:i],'')) + 8)
                  - greatest(0, length(array_to_string(ps[1:i],'')) + length(array_to_string(ms[1:i-1],'')) - 8))) AS ctx
            FROM (SELECT doc_id, text, regexp_extract_all(text, ${Sql.DATE}) AS ms,
                         regexp_split_to_array(text, ${Sql.DATE}) AS ps
                  FROM pii_inputs),
                 (SELECT unnest(generate_series(1, 100)) AS i) ii
            WHERE i <= len(ms))"""
    val person = simple(9, Sql.PERSON, PiiTypes.PERSON, "0.4")
    Seq(email, phone, cc, ssn, ip, mac, aadhaar, pan, date, person)
      .mkString("(", ")\nUNION ALL\n(", ")")
  }

  /** Template algebra shared by the p03/p04 oracles: SQL fragments (over a
    * `customer` row aliased `c_custkey`) for each derived-text piece, the
    * reconstructed redacted text, and the candidate span list with offsets
    * computed by length arithmetic. */
  private object Tpl {
    val c = "c_custkey"
    val g1 = s"lpad((($c*7919) % 10000)::VARCHAR, 4, '0')"
    val g2 = s"lpad((($c*104729) % 10000)::VARCHAR, 4, '0')"
    val g3 = s"lpad((($c*1299709) % 10000)::VARCHAR, 4, '0')"
    val g4 = s"lpad((($c*15485863) % 10000)::VARCHAR, 4, '0')"
    val cc = s"($g1 || ' ' || $g2 || ' ' || $g3 || ' ' || $g4)"
    val aad = s"((2 + $c % 8)::VARCHAR || lpad((($c*13) % 1000)::VARCHAR, 3, '0') || ' ' || lpad((($c*37) % 10000)::VARCHAR, 4, '0') || ' ' || lpad((($c*91) % 10000)::VARCHAR, 4, '0'))"
    val pan = s"(CASE WHEN $c % 3 = 0 THEN lower(chr(65 + ($c % 26)::INT) || 'BCDE' || lpad(($c % 10000)::VARCHAR, 4, '0') || chr(65 + (($c*5) % 26)::INT)) ELSE chr(65 + ($c % 26)::INT) || 'BCDE' || lpad(($c % 10000)::VARCHAR, 4, '0') || chr(65 + (($c*5) % 26)::INT) END)"
    val email = s"('user' || $c::VARCHAR || '@example.com')"
    val ssn = s"(lpad((100 + $c % 900)::VARCHAR, 3, '0') || '-' || lpad((10 + ($c*3) % 90)::VARCHAR, 2, '0') || '-' || lpad((1000 + ($c*7) % 9000)::VARCHAR, 4, '0'))"
    val ip = s"('10.' || ($c % 256)::VARCHAR || '.' || (($c*3) % 256)::VARCHAR || '.' || (1 + ($c*7) % 254)::VARCHAR)"
    val mac = s"(substr(md5($c::VARCHAR),1,2) || ':' || substr(md5($c::VARCHAR),3,2) || ':' || substr(md5($c::VARCHAR),5,2) || ':' || substr(md5($c::VARCHAR),7,2) || ':' || substr(md5($c::VARCHAR),9,2) || ':' || substr(md5($c::VARCHAR),11,2))"
    val date = s"('2024-' || lpad((1 + $c % 12)::VARCHAR, 2, '0') || '-' || lpad((1 + ($c*3) % 28)::VARCHAR, 2, '0'))"

    // Aadhaar-in-card gate conditions: the AADHAAR regex scan inside the
    // 4x4-digit card matches groups 1-3 when g1 starts 2-9 (consuming the
    // scan), else groups 2-4 when g2 starts 2-9.
    val inCardA = s"(substr($g1,1,1) BETWEEN '2' AND '9' AND ${Sql.verhoeff(s"($g1 || $g2 || $g3)")})"
    val inCardB = s"(substr($g1,1,1) NOT BETWEEN '2' AND '9' AND substr($g2,1,1) BETWEEN '2' AND '9' AND ${Sql.verhoeff(s"($g2 || $g3 || $g4)")})"

    /** Redacted text reconstruction (p03): Luhn-valid card masks the whole
      * card (overlapping aadhaar-in-card is then skipped, redaction.py:38-40);
      * otherwise only a Verhoeff-valid in-card aadhaar pattern is masked. */
    val redactedSql: String = {
      val ccSection =
        s"""CASE WHEN ${Sql.luhn(cc)} THEN ${Sql.mask(cc)}
            WHEN $inCardA THEN ${Sql.mask(s"($g1 || ' ' || $g2 || ' ' || $g3)")} || ' ' || $g4
            WHEN $inCardB THEN $g1 || ' ' || ${Sql.mask(s"($g2 || ' ' || $g3 || ' ' || $g4)")}
            ELSE $cc END"""
      s"""('Xxxxxxx Xxxx ' || chr(65 + (($c*11) % 26)::INT) || 'mith <' || ${Sql.mask(email)} || '> or call (000) 000-0000. Card '
          || ($ccSection)
          || ' SSN 000-00-0000 IP ' || ${Sql.mask(ip)} || ' MAC ' || ${Sql.mask(mac)}
          || ' Aadhaar ' || (CASE WHEN ${Sql.verhoeff(aad)} THEN ${Sql.mask(aad)} ELSE $aad END)
          || ' PAN ' || ${Sql.mask(pan)}
          || ' ' || (CASE WHEN $c % 4 = 0 THEN 'DOB: ' ELSE 'on ' END) || ${Sql.mask(date)} || '.')"""
    }

    /** Candidate (start, end) span list in candidate_idx order, offsets by
      * cumulative length arithmetic. Fixed-length pieces: name 10, phone 14,
      * card 19, ssn 11, mac 17, aadhaar 14, pan 10, date 10. */
    val spanListSql: String = {
      val ck = s"length($c::VARCHAR)"
      val emailS = "20"
      val emailE = s"(36 + $ck)"                 // 20 + len('user'+ck+'@example.com')
      val phoneS = s"($emailE + 10)"             // '> or call '
      val phoneE = s"($phoneS + 14)"
      val cardS = s"($phoneE + 7)"               // '. Card '
      val cardE = s"($cardS + 19)"
      val ssnS = s"($cardE + 5)"                 // ' SSN '
      val ssnE = s"($ssnS + 11)"
      val ipS = s"($ssnE + 4)"                   // ' IP '
      val ipE = s"($ipS + length($ip))"
      val macS = s"($ipE + 5)"                   // ' MAC '
      val macE = s"($macS + 17)"
      val aadS = s"($macE + 9)"                  // ' Aadhaar '
      val aadE = s"($aadS + 14)"
      val panS = s"($aadE + 5)"                  // ' PAN '
      val panE = s"($panS + 10)"
      val dateS = s"($panE + 1 + (CASE WHEN $c % 4 = 0 THEN 5 ELSE 3 END))"
      val dateE = s"($dateS + 10)"
      def span(s0: String, e0: String) = s"{'s': ($s0)::INT, 'e': ($e0)::INT}"
      s"""list_filter([
            ${span(emailS, emailE)},
            ${span(phoneS, phoneE)},
            CASE WHEN ${Sql.luhn(cc)} THEN ${span(cardS, cardE)} ELSE NULL END,
            ${span(ssnS, ssnE)},
            ${span(ipS, ipE)},
            ${span(macS, macE)},
            CASE WHEN $inCardA THEN ${span(cardS, s"$cardS + 14")}
                 WHEN $inCardB THEN ${span(s"$cardS + 5", cardE)}
                 ELSE NULL END,
            CASE WHEN ${Sql.verhoeff(aad)} THEN ${span(aadS, aadE)} ELSE NULL END,
            ${span(panS, panE)},
            ${span(dateS, dateE)},
            {'s': 0, 'e': 12}
          ], sp -> sp IS NOT NULL)"""
    }
  }

  /** Shared candidate CTE (also used by PipelineQueries oracles). */
  val candidatesCteSql: String =
    s"""$IN, raw_cands AS (
          $candidatesSql
        ), cands AS (
          SELECT doc_id, value, rule_label, rule_confidence, valid,
            CAST(row_number() OVER (PARTITION BY doc_id ORDER BY det_rank, ordinal) - 1 AS INT) AS candidate_idx
          FROM raw_cands)"""

  val defs: Seq[QueryDef] = Seq(

    // The derived input construction itself — any Spark/DuckDB drift in the
    // derivation shows up here first.
    QueryDef("p00_pii_inputs", s"$IN SELECT doc_id, text FROM pii_inputs") {
      (s, d) => PiiInputs.df(s, d)
    },

    // Rule-layer candidates (C1-C14): full 10-detector pipeline with checksum
    // gates, DOB boost, and the reference's candidate ordering.
    QueryDef("p01_pii_candidates",
      s"""$candidatesCteSql
          SELECT doc_id, candidate_idx, value, rule_label, rule_confidence FROM cands""") { (s, d) =>
      PiiInputs.df(s, d)
        .select(col("doc_id"),
          graft.functions.pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c")))
        .select(col("doc_id"), col("candidate_idx"),
          col("c.value").as("value"), col("c.rule_label").as("rule_label"),
          col("c.rule_confidence").as("rule_confidence"))
    },

    // Full offline scan (§3.2): candidates → fusion → calibration →
    // normalization → argmax. Offline scores: w_rule·conf + 0.2·valid on the
    // rule label, sigmoid, normalized against 10 neutral sigmoid(0)=0.5 types.
    QueryDef("p02_pii_scan",
      s"""$candidatesCteSql
          SELECT doc_id, candidate_idx, value, rule_label AS label,
            round((1.0/(1.0+exp(-(0.6*rule_confidence + CASE WHEN valid THEN 0.2 ELSE 0.0 END))))
              / ((1.0/(1.0+exp(-(0.6*rule_confidence + CASE WHEN valid THEN 0.2 ELSE 0.0 END)))) + 5.0), 6) AS score
          FROM cands""") { (s, d) =>
      PiiEnsemble.withPredictionOffline(
          PiiInputs.df(s, d)
            .select(col("doc_id"),
              graft.functions.pii_candidates_rows(col("text")).as(Seq("candidate_idx", "c"))),
          col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
          Calibrator.identity, Weights.runtimeDefault)
        .select(col("doc_id"), col("candidate_idx"), col("c.value").as("value"),
          col("pred.label").as("label"), round(col("pred.score"), 6).as("score"))
    },

    // Shape-preserving redaction of every candidate span (C15/C16), checked
    // against a template-algebra oracle that reconstructs the redacted text
    // piecewise (all gate decisions — Luhn, Verhoeff, overlap-skip — are
    // still computed, not assumed).
    QueryDef("p03_pii_redact",
      s"""SELECT c_custkey AS doc_id, ${Tpl.redactedSql} AS redacted FROM customer""") { (s, d) =>
      PiiInputs.df(s, d)
        .select(col("doc_id"),
          redact_spans(col("text"), pii_candidates(col("text"))).as("redacted"))
    },

    // Sanitized per-candidate context windows (C18): ±48 chars of the
    // redacted text around each span, in candidate order. The oracle derives
    // every span offset by template length-arithmetic (all pieces have
    // computable lengths) with the same Luhn/Verhoeff gate CASEs as p03.
    QueryDef("p04_pii_contexts",
      s"""$IN, base AS (
            SELECT c_custkey, doc_id, text, ${Tpl.redactedSql} AS redacted,
              ${Tpl.spanListSql} AS cl
            FROM customer JOIN pii_inputs ON doc_id = c_custkey)
          SELECT doc_id, CAST(i - 1 AS INT) AS candidate_idx,
            substr(redacted, greatest(0, cl[i].s - 48) + 1,
                   least(length(text), cl[i].e + 48) - greatest(0, cl[i].s - 48)) AS context
          FROM base, (SELECT unnest(generate_series(1, 20)) AS i) ii
          WHERE i <= len(cl)""") { (s, d) =>
      val w = 48
      // posexplode_OUTER on purpose: the inner form lets Catalyst infer a
      // size(cands) > 0 filter on the generate's child attribute, which
      // predicate pushdown then substitutes through the projections into the
      // parquet scan — re-evaluating the whole 10-regex generator once more
      // per row as a scan DataFilter. The outer generate infers nothing; the
      // explicit null filter above it restores inner-explode semantics
      // (empty-candidate docs emit no rows) without the duplicated tree.
      PiiInputs.df(s, d)
        .withColumn("cands", pii_candidates(col("text")))
        .withColumn("redacted", redact_spans(col("text"), col("cands")))
        .select(col("doc_id"), col("redacted"), length(col("text")).as("tlen"),
          posexplode_outer(col("cands")).as(Seq("candidate_idx", "c")))
        .filter(col("c").isNotNull)
        .withColumn("left", greatest(lit(0), col("c.start") - w))
        .withColumn("right", least(col("tlen"), col("c.end") + w))
        .select(col("doc_id"), col("candidate_idx"),
          expr("substring(redacted, left + 1, right - left)").as("context"))
    },

    // Metadata keyword heuristics (C20): first-keyword-per-(field,type) hit at
    // its found offset, confidence 0.6.
    QueryDef("p05_metadata_keywords", {
      val kwValues = graft.detect.Rules.KEYWORDS.zipWithIndex.flatMap { case ((t, kws), tr) =>
        kws.zipWithIndex.map { case (kw, kr) => s"('$t', $tr, '$kw', $kr)" }
      }.mkString(", ")
      s"""WITH meta AS (
            SELECT c_custkey AS doc_id, 'comment' AS field,
              ['primary_email for account', 'phone and mobile contact', 'social_security number',
               'aadhaar uid record', 'cc_number on file', 'plain description'][(c_custkey % 6)::INT + 1] AS value
            FROM customer),
          kw(label, type_rank, kw, kw_rank) AS (VALUES $kwValues),
          hits AS (
            SELECT m.doc_id, m.field, m.value, k.label, k.type_rank, k.kw, k.kw_rank,
              strpos(lower(m.value), k.kw) - 1 AS start,
              row_number() OVER (PARTITION BY m.doc_id, m.field, k.label ORDER BY k.kw_rank) AS rn
            FROM meta m JOIN kw k ON strpos(lower(m.value), k.kw) > 0)
          SELECT doc_id, field, label AS rule_label, CAST(start AS INT) AS start,
            substr(value, start + 1, length(kw)) AS value, 0.6::DOUBLE AS rule_confidence
          FROM hits WHERE rn = 1"""
    }) { (s, d) =>
      val meta = t(s, d, "customer").select(col("c_custkey").as("doc_id"), lit("comment").as("field"),
        element_at(
          array(lit("primary_email for account"), lit("phone and mobile contact"),
            lit("social_security number"), lit("aadhaar uid record"),
            lit("cc_number on file"), lit("plain description")),
          (col("c_custkey") % 6).cast("int") + 1).as("value"))
      graft.detect.Metadata.keywordCandidates(meta, graft.detect.Metadata.keywordTable(s))
    })
}
