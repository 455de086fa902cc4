package graft.detect

import java.util.regex.{Matcher, Pattern}

import graft.core.{Candidate, Checksums, PiiTypes, Span}

/** The rules layer: 10 regex detectors with fixed confidences, checksum gates,
  * and the metadata keyword heuristics.
  *
  * Patterns, confidences, and the detector *ordering* replicate the reference
  * (src/catalog_pii_scanner/rules.py:10-29, 106-166). Patterns are compiled
  * once per JVM (executor) — the Spark analogue of the reference's
  * module-level precompiled regexes.
  */
object Rules {

  val EMAIL_RE: Pattern = Pattern.compile("""\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b""")
  val PHONE_US_RE: Pattern =
    Pattern.compile("""(?:\+?\d{1,3}[\s.-]?)?(?:\(\d{3}\)|\d{3})[\s.-]?\d{3}[\s.-]?\d{4}\b""")
  val CC_RE: Pattern = Pattern.compile("""\b(?:\d[ -]*?){13,19}\b""")
  val SSN_RE: Pattern = Pattern.compile("""\b\d{3}-\d{2}-\d{4}\b""")
  val IPV4_RE: Pattern =
    Pattern.compile("""\b(?:(?:25[0-5]|2[0-4]\d|[01]?\d\d?)\.){3}(?:25[0-5]|2[0-4]\d|[01]?\d\d?)\b""")
  val MAC_RE: Pattern = Pattern.compile("""\b(?:[0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}\b""")
  val DATE_RE: Pattern =
    Pattern.compile("""\b(?:\d{4}-\d{2}-\d{2}|\d{2}/\d{2}/\d{4}|\d{2}-\d{2}-\d{4})\b""")
  val AADHAAR_RE: Pattern = Pattern.compile("""\b([2-9][0-9]{3}[ -]?[0-9]{4}[ -]?[0-9]{4})\b""")
  val PAN_RE: Pattern = Pattern.compile("""\b([A-Z]{5}[0-9]{4}[A-Z])\b""", Pattern.CASE_INSENSITIVE)
  val PERSON_RE: Pattern = Pattern.compile("""\b([A-Z][a-z]+\s[A-Z][a-z]+)\b""")

  private val Digits = '0' to '9'
  private val Letters = ('A' to 'Z') ++ ('a' to 'z')
  private val Hex = Digits ++ ('A' to 'F') ++ ('a' to 'f')
  /** `\s` without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]. */
  private val Space = " \t\n\u000B\f\r"

  /* Each detector's alphabet must contain every char its pattern can consume,
   * and its minimum length must not exceed the pattern's shortest match. An
   * ASCII table is enough only while no pattern uses UNICODE_CHARACTER_CLASS
   * or UNICODE_CASE (\d, \s, the bracket classes and PAN's ASCII-only
   * CASE_INSENSITIVE then never consume a char >= 128).
   *
   * The required class and count are what every match must hold, read off
   * the pattern: EMAIL's one `@`; PHONE's 3+3+4 `\d`; CC's 13 repetitions
   * of `\d`; SSN's 3+2+4 and DATE's 4+2+2 (or 2+2+4) digits; IPV4's three
   * octet `\.`; MAC's five `[:-]`; AADHAAR's 4+4+4 digits; PAN's `[0-9]{4}`
   * (digits, because CASE_INSENSITIVE lets its letters be either case);
   * PERSON's two case-sensitive `[A-Z]`. */
  private[detect] val Email =
    new Detector(EMAIL_RE, Letters ++ Digits ++ "._%+@-", minLen = 6, required = "@", minRequired = 1)
  private[detect] val Phone =
    new Detector(PHONE_US_RE, Digits ++ "+().-" ++ Space, minLen = 10, required = Digits, minRequired = 10)
  private[detect] val Cc = new Detector(CC_RE, Digits ++ " -", minLen = 13, required = Digits, minRequired = 13)
  private[detect] val Ssn = new Detector(SSN_RE, Digits :+ '-', minLen = 11, required = Digits, minRequired = 9)
  private[detect] val Ipv4 = new Detector(IPV4_RE, Digits :+ '.', minLen = 7, required = ".", minRequired = 3)
  private[detect] val Mac = new Detector(MAC_RE, Hex ++ ":-", minLen = 17, required = ":-", minRequired = 5)
  private[detect] val Date = new Detector(DATE_RE, Digits ++ "/-", minLen = 10, required = Digits, minRequired = 8)
  private[detect] val Aadhaar =
    new Detector(AADHAAR_RE, Digits ++ " -", minLen = 12, required = Digits, minRequired = 12)
  private[detect] val Pan = new Detector(PAN_RE, Letters ++ Digits, minLen = 10, required = Digits, minRequired = 4)
  private[detect] val Person =
    new Detector(PERSON_RE, Letters ++ Space, minLen = 5, required = 'A' to 'Z', minRequired = 2)

  /** Checksum flags shared by every validated candidate. */
  private[detect] val CcValidated: Map[String, Boolean] = Map(PiiTypes.CREDIT_CARD -> true)
  private[detect] val AadhaarValidated: Map[String, Boolean] = Map(PiiTypes.AADHAAR -> true)

  /** The candidate pipeline: detectors run in fixed order, each appending its
    * matches (rules.py:106-166 — "Order matters a bit").
    *
    * @param enabled per-type enable gate (RulesConfig.enabled, rules.py:93-103)
    */
  def proposeCandidates(text: String, enabled: String => Boolean = _ => true): Vector[Candidate] = {
    val cands = Vector.newBuilder[Candidate]
    if (enabled(PiiTypes.EMAIL))
      for (s <- Email.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.EMAIL, 0.95)
    if (enabled(PiiTypes.PHONE_NUMBER))
      for (s <- Phone.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.PHONE_NUMBER, 0.85)
    if (enabled(PiiTypes.CREDIT_CARD))
      for (s <- Cc.find(text); if Checksums.luhn(s.text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.CREDIT_CARD, 0.9, CcValidated)
    if (enabled(PiiTypes.SSN))
      for (s <- Ssn.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.SSN, 0.9)
    if (enabled(PiiTypes.IP_ADDRESS))
      for (s <- Ipv4.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.IP_ADDRESS, 0.9)
    if (enabled(PiiTypes.MAC_ADDRESS))
      for (s <- Mac.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.MAC_ADDRESS, 0.9)
    if (enabled(PiiTypes.AADHAAR))
      for (s <- Aadhaar.find(text); if Checksums.verhoeff(s.text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.AADHAAR, 0.9, AadhaarValidated)
    if (enabled(PiiTypes.PAN))
      for (s <- Pan.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.PAN, 0.9)
    if (enabled(PiiTypes.DATE))
      for (s <- Date.find(text)) {
        // DOB context boost: ±8-char window, lowercased (rules.py:154-161)
        val left = math.max(0, s.start - 8)
        val right = math.min(text.length, s.end + 8)
        val ctx = text.substring(left, right).toLowerCase
        val boost = if (ctx.contains("dob") || ctx.contains("birth")) 0.1 else 0.0
        cands += Candidate(s.start, s.end, s.text, PiiTypes.DATE, 0.7 + boost)
      }
    if (enabled(PiiTypes.PERSON))
      for (s <- Person.find(text))
        cands += Candidate(s.start, s.end, s.text, PiiTypes.PERSON, 0.4)
    cands.result()
  }

  /** Metadata keyword table (rules.py:184-210). Tuple order within a type is
    * load-bearing: the first keyword found wins (rules.py:236-240). */
  val KEYWORDS: Seq[(String, Seq[String])] = Seq(
    PiiTypes.EMAIL -> Seq("email", "e-mail", "mailid", "mail_id", "email_address", "primary_email"),
    PiiTypes.PHONE_NUMBER -> Seq("phone", "mobile", "cell", "contact", "telephone", "mobile_no", "phone_number"),
    PiiTypes.SSN -> Seq("ssn", "social_security"),
    PiiTypes.AADHAAR -> Seq("aadhaar", "aadhar", "uidai", "uid"),
    PiiTypes.PAN -> Seq("pan", "pan_no", "pan_number"),
    PiiTypes.CREDIT_CARD -> Seq("card", "credit", "cc", "cc_number"),
    PiiTypes.IP_ADDRESS -> Seq("ip", "ipv4", "ipv6"),
    PiiTypes.MAC_ADDRESS -> Seq("mac", "mac_address"),
    PiiTypes.DATE -> Seq("dob", "date_of_birth", "birthdate"),
    PiiTypes.PERSON -> Seq("name", "first_name", "last_name", "full_name"))

  /** Keyword candidates from (field, value) metadata pairs: per value and
    * per type, the FIRST keyword (in tuple order) found in the lowercased
    * value emits one candidate at its found index, confidence 0.6
    * (rules.py:213-241). */
  def keywordCandidates(pairs: Seq[(String, String)],
                        enabled: String => Boolean = _ => true): Vector[Candidate] = {
    val out = Vector.newBuilder[Candidate]
    for ((_, value) <- pairs; if value != null && value.nonEmpty) {
      val hay = value.toLowerCase
      for ((t, kws) <- KEYWORDS; if enabled(t)) {
        kws.iterator.map(kw => (kw, hay.indexOf(kw))).find(_._2 != -1).foreach {
          case (kw, idx) =>
            out += Candidate(idx, idx + kw.length, value.substring(idx, idx + kw.length), t, 0.6)
        }
      }
    }
    out.result()
  }
}

/** One regex detector scanned only inside maximal runs of its alphabet that
  * are at least `minLen` chars long and hold at least `minRequired` chars of
  * its `required` class (a subset of the alphabet). Every match of `pattern`
  * consists of alphabet chars, is at least `minLen` long and holds at least
  * `minRequired` required chars, so it lies inside such a run: a match is a
  * substring of its run, so the run holds at least as many required chars
  * as the match, and a run with fewer cannot contain one. Transparent bounds
  * let `\b` see the chars around the run. The engine therefore makes the
  * same attempts at every position it visits, and the matches equal a
  * whole-text `find()` loop's in spans, order and text. */
private[detect] final class Detector(val pattern: Pattern, val alphabet: Iterable[Char], val minLen: Int,
    val required: Iterable[Char], val minRequired: Int) {
  /** Per ASCII char: 0 outside the alphabet, 1 in it, 2 also required. */
  private val table = new Array[Byte](128)
  alphabet.foreach(c => table(c) = 1)
  required.foreach { c =>
    require(table(c) != 0, s"required char '$c' is not in the alphabet")
    table(c) = 2
  }

  private def kind(c: Char): Int = if (c < 128) table(c) else 0

  /** All matches of `pattern` in `text` as spans (rules.py:89-90). */
  def find(text: String): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var m: Matcher = null
    val n = text.length
    var i = 0
    while (i < n) {
      var j = i
      var count = 0
      var k = kind(text.charAt(i))
      while (k != 0) {
        count += k - 1
        j += 1
        k = if (j < n) kind(text.charAt(j)) else 0
      }
      if (j - i >= minLen && count >= minRequired) {
        if (m == null)
          m = pattern.matcher(text).useTransparentBounds(true).useAnchoringBounds(false)
        m.region(i, j)
        while (m.find()) out += Span(m.start, m.end, m.group(0))
      }
      i = j + 1 // text(j) ends the run
    }
    out.result()
  }
}
