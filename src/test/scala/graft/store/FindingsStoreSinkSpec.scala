package graft.store

import graft.SparkSpec
import graft.util.{LocalFs, ProcessStarts}

/** The findings file sinks register [[LocalFs]] on a context that lacks it
  * (a library caller's session not built by `Sessions`) and start no
  * process once it is registered. */
class FindingsStoreSinkSpec extends SparkSpec {

  private val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")

  test("writeParquet registers LocalFs; later parquet and CSV writes start no process") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = keys.map(k => k -> Option(conf.get(k)))
    val tmp = SparkSpec.tempDir("findings_sink")
    val findings = FindingsStore.toFindings(
      Seq(("t.c1", Some("EMAIL"), 0.9), ("t.c1", None, 0.1), ("t.c2", Some("SSN"), 0.8))
        .toDF("column_ref", "label", "score"), "offline-0.1", "spec")
    try {
      keys.foreach(conf.unset)
      FindingsStore.writeParquet(findings, s"$tmp/parquet")
      assert(conf.get("fs.file.impl") == classOf[LocalFs.Checked].getName)
      assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Afs].getName)
      assert(conf.getBoolean("fs.file.impl.disable.cache", false))

      val (_, parquet) = ProcessStarts.during(FindingsStore.writeParquet(findings, s"$tmp/parquet"))
      assert(parquet.isEmpty, s"${parquet.size} process starts:\n${ProcessStarts.describe(parquet)}")
      val (_, csv) = ProcessStarts.during(FindingsStore.exportCsv(findings, s"$tmp/csv"))
      assert(csv.isEmpty, s"${csv.size} process starts:\n${ProcessStarts.describe(csv)}")
      assert(spark.read.parquet(s"$tmp/parquet").count() == 4)
      assert(spark.read.option("header", "true").csv(s"$tmp/csv").count() == 2)
      // the probe sees a process the JVM does start
      val (_, control) = ProcessStarts.during(new ProcessBuilder("true").start().waitFor())
      assert(control.size == 1, ProcessStarts.describe(control))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
