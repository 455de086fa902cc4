package graft.detect

import java.util.regex.Pattern

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.PiiTypes

/** Parity with the reference rules layer: fixtures and expected outputs from
  * tests/test_rules.py:5-22 and tests/test_rules_advanced.py:13-69, verified
  * byte-for-byte against the reference implementation during development. */
class RulesSpec extends AnyFunSuite {

  val canonical = "Contact John Doe at john.doe@example.com or (415) 555-1212. " +
    "Card 4111 1111 1111 1111 and SSN 123-45-6789."

  test("canonical fixture: spans, labels, confidences, order") {
    val got = Rules.proposeCandidates(canonical)
      .map(c => (c.start, c.end, c.value, c.ruleLabel, c.ruleConfidence))
    assert(got == Vector(
      (20, 40, "john.doe@example.com", PiiTypes.EMAIL, 0.95),
      (44, 58, "(415) 555-1212", PiiTypes.PHONE_NUMBER, 0.85),
      (65, 84, "4111 1111 1111 1111", PiiTypes.CREDIT_CARD, 0.9),
      (93, 104, "123-45-6789", PiiTypes.SSN, 0.9),
      (0, 12, "Contact John", PiiTypes.PERSON, 0.4)))
  }

  test("credit card candidate carries its Luhn validation flag") {
    val cc = Rules.proposeCandidates(canonical).find(_.ruleLabel == PiiTypes.CREDIT_CARD).get
    assert(cc.validations == Map(PiiTypes.CREDIT_CARD -> true))
  }

  test("MAC / PAN / DOB-boosted date fixture") {
    val got = Rules.proposeCandidates("Device MAC aa:bb:cc:dd:ee:ff, PAN ABCDE1234F, DOB: 31/12/1990")
      .map(c => (c.start, c.end, c.value, c.ruleLabel, c.ruleConfidence))
    assert(got == Vector(
      (11, 28, "aa:bb:cc:dd:ee:ff", PiiTypes.MAC_ADDRESS, 0.9),
      (34, 44, "ABCDE1234F", PiiTypes.PAN, 0.9),
      (51, 61, "31/12/1990", PiiTypes.DATE, 0.7999999999999999)))
  }

  test("date without DOB context keeps confidence 0.7") {
    val got = Rules.proposeCandidates("shipped on 2024-05-17 ok")
    assert(got.map(c => (c.ruleLabel, c.ruleConfidence)) == Vector((PiiTypes.DATE, 0.7)))
  }

  test("negative fixtures do not label") {
    // bad PAN (5 digits), bad aadhaar (rejected by Verhoeff), bad Luhn
    assert(Rules.proposeCandidates("code ABCDE12345 x").isEmpty)
    assert(!Rules.proposeCandidates("num 1234 5678 9012 x").exists(_.ruleLabel == PiiTypes.AADHAAR))
    assert(!Rules.proposeCandidates("Card 4111 1111 1111 1112 x")
      .exists(_.ruleLabel == PiiTypes.CREDIT_CARD))
  }

  test("PAN matches case-insensitively (re.IGNORECASE parity)") {
    val got = Rules.proposeCandidates("pan abcde1234f here")
    assert(got.map(_.ruleLabel).contains(PiiTypes.PAN))
  }

  test("ipv4 octet bounds") {
    assert(Rules.proposeCandidates("ip 255.255.255.255 ok").exists(_.ruleLabel == PiiTypes.IP_ADDRESS))
    assert(!Rules.proposeCandidates("ip 256.1.1.1 ok").exists(_.ruleLabel == PiiTypes.IP_ADDRESS))
  }

  test("type gating (RulesConfig.enabled semantics)") {
    val only = Set(PiiTypes.EMAIL)
    val got = Rules.proposeCandidates(canonical, only.contains)
    assert(got.map(_.ruleLabel).distinct == Vector(PiiTypes.EMAIL))
  }

  test("keyword candidates: first keyword per (field,type) wins") {
    // fixture from tests/test_rules_advanced.py:42-51
    val got = Rules.keywordCandidates(Seq(
      "name" -> "user_pan_number",
      "description" -> "primary email address for contact"))
    val byLabel = got.groupBy(_.ruleLabel)
    assert(byLabel(PiiTypes.PAN).head.value == "pan")
    assert(byLabel(PiiTypes.EMAIL).head.value == "email")
    assert(got.forall(_.ruleConfidence == 0.6))
    // "contact" in description also hits PHONE_NUMBER's keyword list
    assert(byLabel.contains(PiiTypes.PHONE_NUMBER))
    // at most one candidate per (field, type)
    assert(got.size == got.map(c => (c.value, c.ruleLabel)).distinct.size ||
      got.groupBy(identity).forall(_._2.size == 1))
  }

  // ---- run-restricted scan vs. a plain whole-text find() loop ----

  private val detectors: Seq[(String, Detector)] = Seq(
    "EMAIL" -> Rules.Email, "PHONE" -> Rules.Phone, "CC" -> Rules.Cc, "SSN" -> Rules.Ssn,
    "IPV4" -> Rules.Ipv4, "MAC" -> Rules.Mac, "DATE" -> Rules.Date,
    "AADHAAR" -> Rules.Aadhaar, "PAN" -> Rules.Pan, "PERSON" -> Rules.Person)

  private def wholeText(p: Pattern, text: String): Vector[(Int, Int, String)] = {
    val m = p.matcher(text)
    val out = Vector.newBuilder[(Int, Int, String)]
    while (m.find()) out += ((m.start, m.end, m.group(0)))
    out.result()
  }

  private def assertSame(name: String, d: Detector, text: String): Vector[(Int, Int, String)] = {
    val want = wholeText(d.pattern, text)
    val got = d.find(text).map(s => (s.start, s.end, s.text))
    assert(got == want, s"$name on ${text.map(c => f"\\u${c.toInt}%04x").mkString}")
    want
  }

  /** A shortest match of each detector: its run is exactly the minimum. */
  private val shortest: Map[String, String] = Map(
    "EMAIL" -> "a@b.co", "PHONE" -> "4155551212", "CC" -> "4111111111111",
    "SSN" -> "123-45-6789", "IPV4" -> "1.2.3.4", "MAC" -> "aa:bb:cc:dd:ee:ff",
    "DATE" -> "2024-05-17", "AADHAAR" -> "234567890123", "PAN" -> "ABCDE1234F",
    "PERSON" -> "Ab Cd")

  test("each detector's minimum length is its shortest match") {
    for ((name, d) <- detectors) {
      val m = shortest(name)
      assert(m.length == d.minLen, name)
      assert(d.pattern.matcher(m).matches(), name)
    }
  }

  test("edge fixtures: run-restricted scan equals whole-text find()") {
    for ((name, d) <- detectors) {
      val m = shortest(name)
      // offset 0, ending at the last char, both, and inside foreign chars
      for (t <- Seq(m, s"$m#x", s"x#$m", s"#$m#", s"\u00e9#$m#\u00e9"))
        assert(assertSame(name, d, t).map(_._3) == Vector(m), s"$name on $t")
      // one char short of the minimum: no run qualifies, no match either way
      for (t <- Seq(m.init, s"#${m.init}#", s"#${m.tail}#"))
        assert(assertSame(name, d, t).isEmpty, s"$name on $t")
      // two qualifying runs separated by one foreign char
      assert(assertSame(name, d, s"$m#$m").map(_._3) == Vector(m, m), name)
      assert(assertSame(name, d, s"$m\u00a0$m").map(_._3) == Vector(m, m), name)
    }
    // \b beside a non-ASCII letter outside the run (transparent bounds)
    for ((name, d) <- detectors; t <- Seq("\u00e94111 1111 1111 1111", "4111 1111 1111 1111\u00e9",
        "\u212aABCDE1234F", "\u017fJohn Doe", "\u0663123-45-6789", "(415) 555-1212\u2028x"))
      assertSame(name, d, t)
  }

  /** Seeded fuzz text: runs of each detector's alphabet, well-formed and
    * near-miss matches, ASCII separators, and non-ASCII chars that case
    * folding, \b, \d or \s could treat specially. */
  private object Fuzz {
    private val digits = "0123456789"
    private val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    private val lower = "abcdefghijklmnopqrstuvwxyz"
    private val space = " \t\n\u000b\f\r"
    private val alphabets = Seq(
      upper + lower + digits + "._%+@-", digits + "+().-" + space, digits + " -", digits + "-",
      digits + ".", digits + "ABCDEFabcdef:-", digits + "/-", digits + " -",
      upper + lower + digits, upper + lower + space)
    private val foreign = Seq("\u00e9", "\u212a", "\u017f", "\u0663", "\u00a0", "\u2028",
      " ", "#", ",", ";", "_", ":", "/", "\t", "\n", "x", "K", "s", "3")

    private def pick(r: Random, s: String): String = s.charAt(r.nextInt(s.length)).toString
    private def rep(r: Random, n: Int, s: String): String = Seq.fill(n)(pick(r, s)).mkString
    private def sep(r: Random, s: String): String = if (r.nextBoolean()) "" else pick(r, s)

    private def example(r: Random): String = r.nextInt(10) match {
      case 0 => rep(r, 1 + r.nextInt(6), upper + lower + digits + "._%+-") + "@" +
        rep(r, 1 + r.nextInt(6), lower + digits + ".-") + "." + rep(r, 1 + r.nextInt(4), lower + upper)
      case 1 =>
        val cc = if (r.nextBoolean()) "+" + rep(r, 1 + r.nextInt(3), digits) + sep(r, space + ".-") else ""
        val area = if (r.nextBoolean()) "(" + rep(r, 3, digits) + ")" else rep(r, 3, digits)
        cc + area + sep(r, space + ".-") + rep(r, 3, digits) + sep(r, space + ".-") + rep(r, 4, digits)
      case 2 => (1 to 12 + r.nextInt(9)).map(_ => pick(r, digits) + sep(r, " -")).mkString
      case 3 => rep(r, 3, digits) + "-" + rep(r, 2, digits) + "-" + rep(r, 3 + r.nextInt(2), digits)
      case 4 => Seq.fill(if (r.nextInt(4) == 0) 3 else 4)(r.nextInt(300)).mkString(".")
      case 5 => Seq.fill(5 + r.nextInt(2))(rep(r, 2, digits + "ABCDEFabcdefg")).mkString(pick(r, ":-"))
      case 6 => r.nextInt(3) match {
        case 0 => rep(r, 4, digits) + "-" + rep(r, 2, digits) + "-" + rep(r, 2, digits)
        case 1 => rep(r, 2, digits) + "/" + rep(r, 2, digits) + "/" + rep(r, 4, digits)
        case _ => rep(r, 2, digits) + "-" + rep(r, 2, digits) + "-" + rep(r, 3 + r.nextInt(2), digits)
      }
      case 7 => pick(r, "23456789") + rep(r, 3, digits) + sep(r, " -") + rep(r, 4, digits) +
        sep(r, " -") + rep(r, 4, digits)
      case 8 => rep(r, 5, upper + lower + "\u212a\u017f") + rep(r, 4, digits) + pick(r, upper + lower)
      case _ => pick(r, upper) + rep(r, 1 + r.nextInt(5), lower) + pick(r, space + "\u00a0") +
        pick(r, upper + "\u212a") + rep(r, 1 + r.nextInt(5), lower + "\u017f")
    }

    def text(r: Random): String = (1 to 1 + r.nextInt(8)).map { _ =>
      r.nextInt(3) match {
        case 0 => example(r)
        case 1 => rep(r, 1 + r.nextInt(20), alphabets(r.nextInt(alphabets.size)))
        case _ => foreign(r.nextInt(foreign.size))
      }
    }.mkString
  }

  test("seeded fuzz: run-restricted scan equals whole-text find() on every detector") {
    val r = new Random(20261017L)
    val matches = Array.fill(detectors.size)(0L)
    for (_ <- 0 until 100000) {
      val t = Fuzz.text(r)
      for (((name, d), k) <- detectors.zipWithIndex) matches(k) += assertSame(name, d, t).size
    }
    // every detector must actually match on the fuzz corpus
    for (((name, _), k) <- detectors.zipWithIndex)
      assert(matches(k) >= 300, s"$name matched only ${matches(k)} times")
  }
}
