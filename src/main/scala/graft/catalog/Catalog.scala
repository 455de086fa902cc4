package graft.catalog

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.graftshim.shims

import graft.core.CatalogColumn

/** Catalog enumeration + tag write-back (SURVEY §2.1 S1-S6, S14-S17).
  *
  * Both go through the session catalog as a v2 `TableCatalog` (backed by
  * Hive or Glue in production, in-memory locally), so the reference's
  * NextToken loops (glue.py:100-140) live inside Spark's client, and names
  * travel as parts: a `.` or a backtick in a column name needs no escaping.
  * Glob filters are applied to db/table names like the reference's fnmatch.
  */
object Connectors {

  /** fnmatch-style glob → Java regex (C23). */
  def globToRegex(glob: String): String =
    "(?s)" + glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }

  def globMatch(glob: String, s: String): Boolean = s.matches(globToRegex(glob))

  private[catalog] def anyMatch(patterns: Seq[String], s: String): Boolean =
    patterns.isEmpty || patterns.exists(globMatch(_, s))

  /** Columns of matching tables and persistent views in database, table and
    * schema order, one `loadTable` per table (temp views, listed with an
    * empty namespace, are left out). */
  def columns(spark: SparkSession, dbPatterns: Seq[String], tablePatterns: Seq[String],
              source: String = "hms"): Seq[CatalogColumn] = {
    val catalog = shims.sessionCatalog(spark)
    for {
      ns <- catalog.listNamespaces().toSeq.sortBy(_.mkString("."))
      if anyMatch(dbPatterns, ns.mkString("."))
      id <- catalog.listTables(ns).toSeq.sortBy(_.name)
      if id.namespace.nonEmpty && anyMatch(tablePatterns, id.name)
      c <- catalog.loadTable(id).columns.toSeq
    } yield CatalogColumn(source, "", ns.mkString("."), id.name, c.name,
      c.dataType.catalogString, Option(c.comment).getOrElse(""), Map.empty)
  }

  /** [[columns]] as a Dataset (S3/S6 equivalent over the session catalog). */
  def iterColumns(spark: SparkSession, dbPatterns: Seq[String] = Seq("*"),
                  tablePatterns: Seq[String] = Seq("*"), source: String = "hms"): Dataset[CatalogColumn] =
    spark.createDataset(columns(spark, dbPatterns, tablePatterns, source))(Encoders.product[CatalogColumn])
}

/** Idempotent tag computation + application (glue.py:184-235, hms.py:110-162,
  * unity.py:246-345). The decision logic is pure (unit-testable, identical
  * across connectors); application goes through the session catalog's
  * `TableCatalog` from a deduplicated driver-side collection — never from
  * tasks, so distributed retries can't double-apply (SURVEY §7.4 #6): per
  * table one `loadTable`, at most one `alterTable`. Finding rows carry the
  * fields `schema`, `table`, `column` and `types` (an array of names). */
object WriteBack {

  val PiiFlagKey = "pii"
  def typesKey(column: String) = s"cps.pii_types.col.$column"

  /** Sorted-CSV normalizer (C25). */
  def sortedCsv(types: Seq[String]): String = types.distinct.sorted.mkString(",")

  /** New property map; returns None when already up to date (idempotency by
    * change detection, glue.py:207-219). */
  def updatedProperties(existing: Map[String, String], column: String,
                        isPii: Boolean, types: Seq[String]): Option[Map[String, String]] = {
    val want = existing ++ Map(
      PiiFlagKey -> isPii.toString,
      typesKey(column) -> sortedCsv(types))
    if (want == existing) None else Some(want)
  }

  /** Comment append-if-absent with truncation (C26): Glue/HMS cap 255,
    * Unity 1024. */
  def appendComment(existing: String, note: String, maxLen: Int = 255): String = {
    val base = Option(existing).getOrElse("")
    val merged = if (base.contains(note)) base
      else if (base.isEmpty) note
      else s"$base $note"
    merged.take(maxLen)
  }

  /** Per table, in order, one `loadTable` and one `alterTable` with the changes
    * `diff` derives from it and the table's distinct (column, types) findings,
    * if any. Returns the number of changes per table. */
  private def alterPerTable(spark: SparkSession, findings: Seq[Row])(
      diff: (Identifier, Table, Seq[(String, Seq[String])]) => Seq[TableChange]): Seq[Int] = {
    val catalog = shims.sessionCatalog(spark)
    findings.map(r => ((r.getAs[String]("schema"), r.getAs[String]("table")),
        (r.getAs[String]("column"), r.getSeq[String](r.fieldIndex("types")).toSeq)))
      .distinct.groupBy(_._1).toSeq.sortBy(_._1).map { case ((db, tb), fs) =>
        val id = Identifier.of(Array(db), tb)
        val table = catalog.loadTable(id)
        val changes = diff(id, table, fs.map(_._2).sortBy(_._1))
        // re-set, or the session catalog drops it: it reads the comment from properties
        val comment = Option(table.properties.get(TableCatalog.PROP_COMMENT))
          .map(TableChange.setProperty(TableCatalog.PROP_COMMENT, _))
        if (changes.nonEmpty) catalog.alterTable(id, (changes ++ comment): _*)
        changes.size
      }
  }

  /** Apply PII notes to column comments (S15/S17 application path) with
    * append-if-absent change detection: re-running is a no-op. Returns
    * comments changed. Each table's comments are read ONCE, not once per
    * finding; `listDescriptions` is injectable so specs can count reads. */
  def applyColumnComments(spark: SparkSession, findings: DataFrame, maxLen: Int = 255,
                          listDescriptions: (String, String) => Map[String, String] = null): Int =
    alterPerTable(spark, findings.select("schema", "table", "column", "types").collect().toSeq) { (id, table, cols) =>
      val existingByCol =
        if (listDescriptions != null) listDescriptions(id.namespace.head, id.name)
        else table.columns.map(c => c.name -> Option(c.comment).getOrElse("")).toMap
      cols.flatMap { case (c, types) =>
        val existing = existingByCol.getOrElse(c, "")
        val merged = appendComment(existing, s"PII: ${sortedCsv(types)}", maxLen)
        if (merged == existing) None else Some(TableChange.updateColumnComment(Array(c), merged))
      }
    }.sum

  /** Apply findings as table properties: the `pii` flag and one sorted-CSV
    * types key per column, set only where they differ. Metastore calls
    * only, no Spark job. Returns tables altered. */
  def applyTags(spark: SparkSession, findings: Seq[Row]): Int =
    alterPerTable(spark, findings) { (_, table, cols) =>
      ((PiiFlagKey -> "true") +: cols.map { case (c, ts) => typesKey(c) -> sortedCsv(ts) })
        .collect { case (k, v) if table.properties.get(k) != v => TableChange.setProperty(k, v) }
    }.count(_ > 0)

  /** [[applyTags]] over a findings frame, collected on the driver. */
  def applyTags(spark: SparkSession, findings: DataFrame): Int =
    applyTags(spark, findings.select("schema", "table", "column", "types").collect().toSeq)
}
