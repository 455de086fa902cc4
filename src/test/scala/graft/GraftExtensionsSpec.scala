package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graftshim.shims

import graft.SparkSpec

/** The extensions class must inject the full SQL surface. (Applied to a
  * fresh child session's registry through the same code path `getOrCreate`
  * runs — building a separate session here would tear down the
  * suite-shared SparkContext, and the shared session's registry may already
  * hold `functions.register`'s names from other suites. The
  * spark.sql.extensions config path is driven manually: see README
  * quickstart.) */
class GraftExtensionsSpec extends SparkSpec {

  private def withExtensions(): SparkSession = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val s = spark.newSession()
    shims.registerExtensionFunctions(ext, s)
    s
  }

  /** Function names in `s`'s registry beyond a fresh session's builtins. */
  private def added(s: SparkSession): Set[String] = {
    def names(x: SparkSession) = x.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    names(s) -- names(spark.newSession())
  }

  test("injected functions resolve and evaluate") {
    val s = withExtensions()
    val r = s.sql(
      """SELECT luhn('4111 1111 1111 1111') AS l,
                size(pii_candidates('a@b.co')) AS n,
                mask_token('Zz9') AS m,
                simhash32(split('a b', ' ')) AS sh,
                int8_dist2(array(1, 2), array(3, 1)) AS d2,
                int8_dot(array(2, 3), array(4, 5)) AS dp""").collect().head
    assert(r.getBoolean(0))
    assert(r.getInt(1) == 1)
    assert(r.getString(2) == "Xx0")
    assert(r.getString(3).length == 32)
    assert(r.getLong(4) == 5L)  // (1-3)^2 + (2-1)^2
    assert(r.getLong(5) == 23L) // 2*4 + 3*5
    // The generator and the aggregate ride the same table.
    val text = "'mail a@b.co or c@d.io'"
    val rows = s.sql(s"SELECT pii_candidates_rows($text)").count()
    assert(rows >= 2 && rows == s.sql(s"SELECT size(pii_candidates($text))").head.getInt(0))
    val top = s.sql("SELECT topk_min(v, 2) FROM VALUES (5.0D), (1.0D), (3.0D) AS t(v)")
      .collect().head.getSeq[Double](0)
    assert(top == Seq(1.0, 3.0))
  }

  test("the extension and functions.register install the same function names") {
    val byRegister = spark.newSession()
    functions.register(byRegister)
    val viaRegister = added(byRegister)
    val viaExtension = added(withExtensions())
    assert(viaRegister.nonEmpty)
    assert(viaExtension == viaRegister,
      s"only in extension: ${viaExtension -- viaRegister}; only in register: ${viaRegister -- viaExtension}")
  }
}
