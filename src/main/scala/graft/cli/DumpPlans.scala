package graft.cli

import java.nio.file.{Files, Paths}

/** Writes `explain("formatted")` output for the named queries to
  * `<outdir>/<query>_<suffix>.txt` — the before/after plan artifacts the
  * optimization rounds commit (plans/rN/). The session is Bench's
  * ([[graft.util.Sessions]]) so the captured plans are the ones the bench
  * actually runs; note AQE renders `isFinalPlan=false` at explain time —
  * the plan shape (joins, exchanges, pushed filters) is still the planned
  * one.
  *
  * Usage: runMain graft.cli.DumpPlans <outdir> <suffix> <query> [query...]
  * (sfDir from SPARK_GRAFT_SF_DIR, default sf0.1.) */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.get(Some(sfDir))
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote $n ($suffix)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plans] $n failed: ${e.getMessage}")
      } finally {
        graft.util.PersistScope.releaseAll()
        graft.util.SharedStages.releaseAll()
      }
    }
    spark.stop()
  }
}
