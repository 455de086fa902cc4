package graft.util

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one session recipe: the data-size partition rule, the validated env
  * overrides, and the invariant that nothing else builds a session. */
class SessionsSpec extends AnyFunSuite {

  /** A directory whose one sparse file reports `mib` MiB. */
  private def dirOf(mib: Long): String = {
    val d = new java.io.File(graft.SparkSpec.tempDir("benchconf"))
    d.deleteOnExit()
    val file = new java.io.File(d, "t.parquet")
    file.deleteOnExit()
    val f = new java.io.RandomAccessFile(file, "rw")
    try f.setLength(mib << 20) finally f.close()
    d.getPath
  }

  test("partitions follow input size between the floor of 8 and the 4x-cores cap") {
    val none = Map.empty[String, String]
    assert(Sessions.shufflePartitions(dirOf(17), 32, none) == "8")
    assert(Sessions.shufflePartitions(dirOf(170), 32, none) == "42")
    assert(Sessions.shufflePartitions(dirOf(170), 4, none) == "16")
    assert(Sessions.shufflePartitions("/nonexistent/sf", 4, none) == "8")
  }

  test("a positive integer override wins over the rule") {
    val env = Map(Sessions.PartitionsEnv -> " 32 ")
    assert(Sessions.shufflePartitions(dirOf(17), 4, env) == "32")
  }

  test("a malformed override fails and names the variable") {
    for (bad <- Seq("0", "-4", "abc", "", "4.5", "1e3", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Sessions.shufflePartitions(dirOf(1), 4, Map(Sessions.PartitionsEnv -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS"), bad)
    }
  }

  test("cpus and bypass threshold: defaults, valid overrides, malformed values name the variable") {
    val none = Map.empty[String, String]
    assert(Sessions.cpus(none) == Runtime.getRuntime.availableProcessors)
    assert(Sessions.cpus(Map(Sessions.CpusEnv -> " 32 ")) == 32)
    assert(Sessions.bypassThreshold(none) == 1)
    assert(Sessions.bypassThreshold(Map(Sessions.BypassEnv -> "0")) == 0)
    assert(Sessions.bypassThreshold(Map(Sessions.BypassEnv -> "200")) == 200)
    val cases = Seq("0", "-4", "abc", "", "4.5", "99999999999").map(Sessions.CpusEnv -> _) ++
      Seq("-1", "abc", "", "1.5", "99999999999").map(Sessions.BypassEnv -> _)
    for ((name, bad) <- cases) {
      val e = intercept[IllegalArgumentException](
        if (name == Sessions.CpusEnv) Sessions.cpus(Map(name -> bad))
        else Sessions.bypassThreshold(Map(name -> bad)))
      assert(e.getMessage.contains(name), s"$name=$bad")
    }
  }

  test("Sessions holds the only SparkSession builder under src/main/scala") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sites = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val n = """SparkSession\.builder\(""".r.findAllMatchIn(java.nio.file.Files.readString(p)).size
      Iterator.fill(n)(p.getFileName.toString)
    }.toList finally files.close()
    assert(sites == List("Sessions.scala"))
  }

  test("the test harness session carries the shared config set") {
    val conf = graft.SparkSpec.spark.conf
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    // child sessions (every streaming replay) inherit it
    assert(graft.SparkSpec.spark.newSession().conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }
}
