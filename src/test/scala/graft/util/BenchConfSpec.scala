package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The data-size partition rule and its env override. */
class BenchConfSpec extends AnyFunSuite {

  /** A directory whose one sparse file reports `mib` MiB. */
  private def dirOf(mib: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("benchconf").toFile
    d.deleteOnExit()
    val file = new java.io.File(d, "t.parquet")
    file.deleteOnExit()
    val f = new java.io.RandomAccessFile(file, "rw")
    try f.setLength(mib << 20) finally f.close()
    d.getPath
  }

  test("partitions follow input size between the floor of 8 and the 4x-cores cap") {
    val none = Map.empty[String, String]
    assert(BenchConf.shufflePartitions(dirOf(17), 32, none) == "8")
    assert(BenchConf.shufflePartitions(dirOf(170), 32, none) == "42")
    assert(BenchConf.shufflePartitions(dirOf(170), 4, none) == "16")
    assert(BenchConf.shufflePartitions("/nonexistent/sf", 4, none) == "8")
  }

  test("a positive integer override wins over the rule") {
    val env = Map(BenchConf.PartitionsEnv -> " 32 ")
    assert(BenchConf.shufflePartitions(dirOf(17), 4, env) == "32")
  }

  test("a malformed override fails and names the variable") {
    for (bad <- Seq("0", "-4", "abc", "", "4.5", "1e3", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        BenchConf.shufflePartitions(dirOf(1), 4, Map(BenchConf.PartitionsEnv -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS"), bad)
    }
  }
}
