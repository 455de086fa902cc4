package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftshim.{HiveSessions, shims}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cli.ScanCatalog
import graft.util.SharedStages

/** Enumeration and write-back over the session catalog's v2 `TableCatalog`:
  * names are taken literally end to end (a `.` or a backtick in a column
  * name), the scan's rows feed `applyTags` without a Spark job, and
  * enumeration agrees with `spark.catalog`. */
class SessionCatalogSpec extends SparkSpec {

  private def props(db: String, tb: String): Map[String, String] =
    shims.sessionCatalog(spark).loadTable(Identifier.of(Array(db), tb)).properties.asScala.toMap

  private def comments(db: String, tb: String, s: SparkSession = spark): Map[String, String] =
    s.catalog.listColumns(db, tb).collect()
      .map(c => c.name -> Option(c.description).getOrElse("")).toMap

  /** A fresh database in a fresh directory, so no earlier run's table
    * files are in the way. */
  private def freshDb(db: String, s: SparkSession = spark): Unit = {
    s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    s.sql(s"CREATE DATABASE $db LOCATION '${SharedStages.scratch(db)}'")
  }

  /** The CLI runs on the Hive catalog, whose `alterTable` keeps the old
    * schema of a data source table: write-back must land there too. */
  private lazy val hive = HiveSessions.over(spark, SharedStages.scratch("hive"))

  for ((kind, session) <- Seq[(String, () => SparkSession)]("in-memory" -> (() => spark), "Hive" -> (() => hive)))
    test(s"$kind catalog: tags and column comments land, the table comment stays, re-runs change nothing") {
      val s = session()
      val db = "cat_keep"
      freshDb(db, s)
      s.sql(s"CREATE TABLE $db.t (email STRING, n BIGINT) USING parquet COMMENT 'the table'")
      val schema = StructType(Seq("schema", "table", "column").map(StructField(_, StringType)) :+
        StructField("types", ArrayType(StringType)))
      val findings = Seq[Row](new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](db, "t", "email", Seq("EMAIL", "PERSON")), schema))
      def tableComment = s.catalog.getTable(db, "t").description

      assert(WriteBack.applyTags(s, findings) == 1)
      assert(WriteBack.applyTags(s, findings) == 0)
      assert(tableComment == "the table")
      val frame = s.createDataFrame(findings.asJava, schema)
      assert(WriteBack.applyColumnComments(s, frame) == 1)
      assert(WriteBack.applyColumnComments(s, frame) == 0)
      assert(comments(db, "t", s) == Map("email" -> "PII: EMAIL,PERSON", "n" -> ""))
      assert(tableComment == "the table")
      val p = shims.sessionCatalog(s).loadTable(Identifier.of(Array(db), "t")).properties.asScala
      assert(p.get(WriteBack.PiiFlagKey).contains("true"))
      assert(p.get(WriteBack.typesKey("email")).contains("EMAIL,PERSON"))
    }

  private lazy val litDb = { freshDb("cat_lit"); "cat_lit" }

  /** Table `litDb.tb`, whose three string columns each hold planted PII (`k`
    * holds none), scanned. */
  private def plantAndScan(tb: String) = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, s"user$i@example.org", s"reach me at user$i@example.com",
        s"card 4111 1111 1111 1111 and mail x$i@example.net"))
      .toDF("k", "a.b", "na`me", "plain").write.saveAsTable(s"$litDb.$tb")
    ScanCatalog.scan(spark, Seq(litDb), Seq(tb))
  }

  test("scan + applyTags tag each column under its literal name; a re-run alters nothing") {
    val findings = plantAndScan("t")
    assert(findings.map(_.getAs[String]("column")).toSet == Set("a.b", "na`me", "plain"))
    assert(findings.forall(r => r.getAs[String]("schema") == litDb && r.getAs[String]("table") == "t"))
    assert(WriteBack.applyTags(spark, findings) == 1)
    assert(WriteBack.applyTags(spark, findings) == 0)

    val p = props(litDb, "t")
    assert(p(WriteBack.PiiFlagKey) == "true")
    val tagged = p.collect { case (k, v) if k.startsWith("cps.pii_types.col.") => k -> v }
    val want = findings.map(r => WriteBack.typesKey(r.getAs[String]("column")) ->
      WriteBack.sortedCsv(r.getSeq[String](r.fieldIndex("types")).toSeq)).toMap
    assert(tagged == want)
    assert(want.keySet == Set("cps.pii_types.col.a.b", "cps.pii_types.col.na`me", "cps.pii_types.col.plain"))
    assert(want("cps.pii_types.col.a.b").split(",").contains("EMAIL"))
  }

  test("applyColumnComments puts each note on its exact column") {
    val findings = plantAndScan("c")
    val frame = spark.createDataFrame(findings.asJava, findings.head.schema)
    assert(WriteBack.applyColumnComments(spark, frame) == 3)
    assert(WriteBack.applyColumnComments(spark, frame) == 0)
    val want = findings.map(r => r.getAs[String]("column") ->
      s"PII: ${WriteBack.sortedCsv(r.getSeq[String](r.fieldIndex("types")).toSeq)}").toMap
    assert(comments(litDb, "c") == want + ("k" -> ""))
  }

  test("the row form of applyTags starts no Spark job") {
    val findings = plantAndScan("j")
    val (applied, jobs) = jobsStartedBy(WriteBack.applyTags(spark, findings))
    assert(applied == 1)
    assert(jobs == 0, s"$jobs jobs")
  }

  test("iterColumns matches spark.catalog enumeration; temp views stay out") {
    val db = "cat_parity"
    freshDb(db)
    spark.sql(s"""CREATE TABLE $db.wide (s STRING COMMENT 'free text', n BIGINT, d DOUBLE,
      st STRUCT<x: INT>, arr ARRAY<INT>, m MAP<STRING, DOUBLE>) USING parquet""")
    spark.sql(s"CREATE TABLE $db.narrow (email STRING, vc VARCHAR(10)) USING parquet")
    spark.sql(s"CREATE VIEW $db.v AS SELECT s, n FROM $db.wide")
    spark.range(1).createOrReplaceTempView("cat_parity_tmp")

    val got = Connectors.iterColumns(spark, Seq(db), Seq("*")).collect()
      .map(c => (c.table, c.column, c.dataType, c.comment)).toSeq
    val want = for {
      t <- spark.catalog.listTables(db).collect().toSeq if !t.isTemporary
      c <- spark.catalog.listColumns(db, t.name).collect().toSeq
    } yield (t.name, c.name, c.dataType, Option(c.description).getOrElse(""))
    assert(got.sorted == want.sorted)
    assert(got.map(_._1).toSet == Set("wide", "narrow", "v"))
    assert(got.map(_._3).toSet ==
      Set("string", "bigint", "double", "struct<x:int>", "array<int>", "map<string,double>"))
    assert(got.contains(("wide", "s", "string", "free text")))
    // the temp view is in spark.catalog's listing, flagged temporary
    assert(spark.catalog.listTables(db).collect().exists(t => t.name == "cat_parity_tmp" && t.isTemporary))
  }

  test("graft.catalog issues no SQL strings") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/catalog"))
    val sites = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("spark.sql(")).toList
    finally files.close()
    assert(sites.isEmpty, sites.mkString(", "))
  }
}
