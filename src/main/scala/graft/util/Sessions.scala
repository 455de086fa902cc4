package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test harness
  * share one config set, so the layout Verify checks against the oracle is
  * the layout Bench times. Each env override below is read only here and
  * is validated: a malformed value fails naming its variable. */
object Sessions {

  /** Deployment address; unset means `local[cpus]`. */
  private val MasterEnv = "SPARK_MASTER"
  val CpusEnv = "SPARK_GRAFT_CPUS"
  val BypassEnv = "SPARK_GRAFT_BYPASS_THRESHOLD"
  val PartitionsEnv = "SPARK_GRAFT_SHUFFLE_PARTITIONS"

  /** Floor of the data-size partition rule; also the partition count of
    * mains that read no data directory. */
  private val MinPartitions = 8

  /** Session for a main: `local[cpus]` (or `SPARK_MASTER`) with shuffle
    * partitions sized by `dataDir` (see [[shufflePartitions]]). `hive`
    * enables the Hive catalog that the HMS connector needs. */
  def get(dataDir: Option[String] = None, hive: Boolean = false): SparkSession = {
    val n = cpus()
    build(sys.env.getOrElse(MasterEnv, s"local[$n]"),
      dataDir.fold(MinPartitions.toString)(shufflePartitions(_, n)), hive)
  }

  /** The shared config set over an explicit layout; the test harness pins
    * `local[4]` with 4 partitions so test layout does not follow the box. */
  def build(master: String, partitions: String, hive: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Shuffle WRITER strategy (r16 verdict #4 — the 32-core suite ran
      // slower than the 8-core one): below this partition-count threshold
      // Spark's bypass-merge writer opens ONE FILE PER REDUCE PARTITION
      // per map task (numPartitions temp files + concat), so every tiny
      // stage paid ~cores file-creates per task — thread dumps showed map
      // tasks pinned in FileOutputStream.open0/FileChannel.map, a fixed
      // ~0.3-0.6 s per task on this filesystem, and total executor time
      // scaled with the core count (8x more CPU at local[32] than
      // local[8] for identical queries). 1 = always use the sort-based
      // writer: one data file + one index per map task at ANY partition
      // count. Core (not SQL) conf — must be set before the context
      // exists; child sessions (streaming replay) inherit it.
      .config("spark.shuffle.sort.bypassMergeThreshold", bypassThreshold().toString)
      // Bench's warmup pass only de-colds the timed pass if the compiled
      // codegen classes SURVIVE until it: the cache defaults to 100 entries
      // and the suite compiles several stages per query × 74 queries, so by
      // the time the timed pass starts most warmup-era classes are evicted
      // and the "warm" run re-pays Janino + fresh-class JIT on the clock
      // (observed as multi-second spikes hopping between sub-second queries
      // run to run). Static conf — must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = (if (hive) b.enableHiveSupport() else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local cores: [[CpusEnv]], a positive integer, else every core. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get(CpusEnv).fold(Runtime.getRuntime.availableProcessors)(intAtLeast(CpusEnv, _, 1))

  /** [[BypassEnv]], a non-negative integer, else 1 (always the sort writer). */
  def bypassThreshold(env: Map[String, String] = sys.env): Int =
    env.get(BypassEnv).fold(1)(intAtLeast(BypassEnv, _, 0))

  /** Post-shuffle partition count derived from DATA SIZE, not core count
    * (guide §2.2 "size partitions by bytes"; r16 verdict #4): a
    * partitions=cores default made every reduce stage launch `cores`
    * near-empty tasks at tiny SFs — the r16 full suite ran FASTER at 8
    * cores than at 32 purely on that per-task floor. One partition per
    * 4 MiB of input (the scan openCost unit), floored at 8 and capped at
    * 4x cores: sf0.1 (~17 MiB) gets 8 partitions at any core count; the
    * 10x stress (~170 MiB) asks for ~40, which it gets only at ≥10 cores
    * (a 4-core box caps it at 16); a 100 TB input saturates the cap — one
    * monotone rule at every scale, nothing keyed to local[32].
    * The floor is 8 (not lower): full-suite pairs at sf0.1 read
    * partitions=4 ~5-10% better than 32 but left the CPU-dense reduce
    * stages (x90's pair verify, the rank-window q-queries) serialized —
    * p8 beat both on every affected query. AQE coalescing still merges
    * below this. The [[PartitionsEnv]] override exists for A/B
    * diagnostics and must be a positive integer. */
  def shufflePartitions(sfDir: String, cpus: Int, env: Map[String, String] = sys.env): String =
    env.get(PartitionsEnv) match {
      case Some(raw) => intAtLeast(PartitionsEnv, raw, 1).toString
      case None =>
        val bytes = Option(new java.io.File(sfDir).listFiles()).map(_.iterator.map { f =>
          if (f.isDirectory) Option(f.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
          else f.length
        }.sum).getOrElse(0L)
        math.max(MinPartitions.toLong, math.min(cpus * 4L, bytes / (4L << 20))).toString
    }

  private def intAtLeast(name: String, raw: String, min: Int): Int =
    raw.trim.toIntOption.filter(_ >= min).getOrElse(throw new IllegalArgumentException(
      s"$name must be a ${if (min > 0) "positive" else "non-negative"} integer, got '$raw'"))
}
