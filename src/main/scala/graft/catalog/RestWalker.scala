package graft.catalog

import graft.core.CatalogColumn

/** Unity-style 3-level paginated REST traversal (reference:
  * connectors/unity.py:128-242) as pure pagination/filter logic over typed
  * page functions — the HTTP client and JSON codec stay at the edge (the
  * reference's tests inject fake sessions the same way; `RestWalkerSpec`).
  */
object RestWalker {

  /** One page of names plus the next page token, mirroring the REST
    * `max_results`/`page_token` contract (unity.py:150-196). */
  type Page[A] = Option[String] => (Seq[A], Option[String])

  /** Drain a paginated listing (the NextToken loop). */
  def drain[A](page: Page[A], maxPages: Int = 10000): Seq[A] = {
    val out = Seq.newBuilder[A]
    var token: Option[String] = None
    var n = 0
    while (n < maxPages) {
      val (items, next) = page(token)
      out ++= items
      n += 1
      next match {
        case Some(t) => token = Some(t)
        case None => return out.result()
      }
    }
    out.result()
  }

  case class TableRef(catalog: String, schema: String, table: String)
  case class ColumnInfo(name: String, dataType: String, comment: String,
                        properties: Map[String, String] = Map.empty)

  /** Full catalogs→schemas→tables→columns walk with fnmatch-style glob
    * filtering at every level (unity.py:198-242). */
  def iterColumns(
      listCatalogs: Page[String],
      listSchemas: String => Page[String],
      listTables: (String, String) => Page[String],
      getColumns: TableRef => Seq[ColumnInfo],
      catalogPatterns: Seq[String] = Seq("*"),
      schemaPatterns: Seq[String] = Seq("*"),
      tablePatterns: Seq[String] = Seq("*")): Seq[CatalogColumn] = {
    import Connectors.anyMatch
    for {
      cat <- drain(listCatalogs) if anyMatch(catalogPatterns, cat)
      sch <- drain(listSchemas(cat)) if anyMatch(schemaPatterns, sch)
      tbl <- drain(listTables(cat, sch)) if anyMatch(tablePatterns, tbl)
      c <- getColumns(TableRef(cat, sch, tbl))
    } yield CatalogColumn("unity", cat, sch, tbl, c.name, c.dataType, c.comment, c.properties)
  }
}

/** Retry with exponential backoff + jitter for throttled catalog APIs
  * (reference: connectors/glue.py:22-48 — 5 retries, base 0.5 s, cap 8 s,
  * retry only on throttle-class errors). Driver-side utility; data-plane
  * retries belong to Spark's task scheduler. */
object Retry {
  def withBackoff[A](maxRetries: Int = 5, baseDelayMs: Long = 500, capMs: Long = 8000,
                     isRetryable: Throwable => Boolean = _ => true,
                     sleep: Long => Unit = Thread.sleep,
                     jitter: () => Double = () => math.random())(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if attempt < maxRetries && isRetryable(e) =>
          val delay = math.min(capMs, (baseDelayMs * math.pow(2, attempt)).toLong)
          sleep((delay * (0.5 + 0.5 * jitter())).toLong)
          attempt += 1
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
