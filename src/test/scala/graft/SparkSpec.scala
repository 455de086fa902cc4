package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite via lazy companion. The mains' config set
  * over a fixed local[4] / 4-partition layout, so test layout does not
  * follow the box. */
object SparkSpec {
  lazy val spark: SparkSession = util.Sessions.build("local[4]", "4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
