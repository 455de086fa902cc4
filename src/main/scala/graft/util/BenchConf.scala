package graft.util

/** Shared harness session sizing (Bench / BenchOne / DumpPlans). */
object BenchConf {

  val PartitionsEnv = "SPARK_GRAFT_SHUFFLE_PARTITIONS"

  /** Post-shuffle partition count derived from DATA SIZE, not core count
    * (guide §2.2 "size partitions by bytes"; r16 verdict #4): a
    * partitions=cores default made every reduce stage launch `cores`
    * near-empty tasks at tiny SFs — the r16 driver suite ran FASTER at 8
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
      case Some(raw) =>
        raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
          s"$PartitionsEnv must be a positive integer, got '$raw'")).toString
      case None =>
        val bytes = Option(new java.io.File(sfDir).listFiles()).map(_.iterator.map { f =>
          if (f.isDirectory) Option(f.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
          else f.length
        }.sum).getOrElse(0L)
        math.max(8L, math.min(cpus * 4L, bytes / (4L << 20))).toString
    }
}
