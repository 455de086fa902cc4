package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The JDBC data plane (S4 source / S12 sink) against an embedded Derby DB —
  * the same `spark.read.jdbc` path a Unity `system.information_schema.columns`
  * scan or a findings JDBC sink uses in production, including predicate
  * pushdown into the remote SQL. */
class JdbcSpec extends SparkSpec {
  private val url = {
    val dir = SparkSpec.tempDir("derby")
    s"jdbc:derby:$dir/db;create=true"
  }

  test("findings round-trip through a JDBC sink and filtered source") {
    import spark.implicits._
    val findings = Seq(
      ("demo.users.email", "EMAIL", 0.95),
      ("demo.users.phone", "PHONE_NUMBER", 0.85),
      ("demo.users.notes", "SSN", 0.9))
      .toDF("column_ref", "pii_type", "confidence")

    findings.write.format("jdbc")
      .option("url", url).option("dbtable", "findings")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .mode("overwrite").save()

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "findings")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
    assert(back.count() == 3)

    // filter pushes into the remote query (PushedFilters on the JDBC scan)
    val filtered = back.filter(col("confidence") >= 0.9)
    assert(filtered.count() == 2)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"),
      s"expected pushed filter in:\n$plan")

    // information-schema style metadata scan through the same source (S4);
    // Derby folds unquoted identifiers to upper case
    val cols = spark.read.format("jdbc")
      .option("url", url)
      .option("query",
        "SELECT COLUMNNAME FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID WHERE UPPER(t.TABLENAME) = 'FINDINGS'")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load().collect().map(_.getString(0).toLowerCase).toSet
    assert(cols == Set("column_ref", "pii_type", "confidence"))
  }
}
