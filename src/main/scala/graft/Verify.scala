package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names for fast local
    // iteration on a subset; the driver always runs the full set.
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    // The benched layout (util.Sessions): the oracle checks what Bench times.
    val spark = util.Sessions.get(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // Run queries with a small concurrent pool: Spark's scheduler interleaves
    // the jobs, so small queries fill the cores a big query leaves idle.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          // Bench's label: a Spark warning or slow job names its query.
          spark.sparkContext.setJobDescription(s"query:$name")
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          } finally util.PersistScope.releaseAll() // thread-local: only this query's frames
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    util.SharedStages.releaseAll() // cross-query stages live for the whole pass
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
