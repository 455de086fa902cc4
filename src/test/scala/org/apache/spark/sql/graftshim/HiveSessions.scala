package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** A Hive-catalog session over a running context, for specs that must see
  * the Hive metastore's own behaviour. `catalogImplementation` is a static
  * conf, so it is passed as an initial option of a session with its own
  * shared state (the constructor that takes them is `private[sql]`); the
  * metastore is an embedded Derby database, and it, the warehouse and the
  * Hive session's resources dir (else `<java.io.tmpdir>/<session id>_resources`,
  * never deleted) all live in `dir`. */
object HiveSessions {
  def over(spark: SparkSession, dir: String): SparkSession = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("spark.sql.catalogImplementation", "hive")
    opts.put("spark.sql.warehouse.dir", s"$dir/warehouse")
    opts.put("javax.jdo.option.ConnectionURL", s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
    opts.put("hive.downloaded.resources.dir", s"$dir/resources")
    val hive = new org.apache.spark.sql.classic.SparkSession(spark.sparkContext, opts)
    require(hive.sharedState.externalCatalog.unwrapped.isInstanceOf[org.apache.spark.sql.hive.HiveExternalCatalog])
    hive
  }
}
