package graft

/** Benchmark main: times every SparkEntry query at the SF dir given by
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop sink
  * (a bare count() would let Catalyst prune the expression work away).
  * Prints ONE JSON line: {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}.
  *
  * Every query is executed once AT THE TARGET SF before its timed run, so
  * the timed numbers measure plans — not first-execution JIT, codegen
  * compilation, and classloading. Warming at a smaller sibling SF (the
  * round-3 approach) is NOT sufficient: AQE + file statistics pick
  * different physical strategies at different SFs, so the heaviest
  * expression trees (p06/p07/x16) still compiled inside the timed region
  * (~10s each cold vs ~2s warm). The warmup pass must run the SAME
  * (query, dir) pair the timed pass runs.
  *
  * The session (cores, data-size shuffle partitions, shuffle writer,
  * codegen cache) comes from [[util.Sessions]], the same one Verify checks
  * against the oracle. */
object Bench {

  /** Single-threaded fixed-work spin probe (~0.1 s on an idle core): a
    * 200M-step LCG whose wall time moves only with CPU contention /
    * frequency throttling, never with code under test. Min-of-3 filters
    * one-off scheduler hiccups; under sustained load every run slows, so
    * the min still reads hot. */
  private def spinProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x = x * 6364136223846793005L + 1442695040888963407L; i += 1
      }
      if (x == 42L) System.err.print("") // keep the loop live
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).min
  }

  /** The 1-core probe run on EVERY core at once (one thread per available
    * processor, same fixed work each): wall time ≈ the single-thread spin
    * on an idle box, and ≈ (cores / effectively-available cores) × spin
    * when multi-core throughput is degraded. Catches the contention mode
    * the 1-thread probe is blind to — r14 measured a suite pass 1.5×
    * slower with the single spin FLAT (249 ms in both runs): neighbor
    * load/steal hits parallel phases long before it collides with one
    * spinning thread. */
  private def spinAllCoresMs(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until n).map { _ =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L
          var i = 0
          while (i < 200000000) {
            x = x * 6364136223846793005L + 1442695040888963407L; i += 1
          }
          if (x == 42L) System.err.print("")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(2)(once()).min
  }

  /** All-cores memory-BANDWIDTH probe (aggregate GB/s streaming 64 MiB of
    * longs per core, well past LLC): the blind spot both spin probes share
    * is neighbor load that steals memory bandwidth rather than cycles —
    * r15 measured the SAME tree at 210 vs 266 s suite-warm hours apart
    * with every spin probe flat (250 ms single, par-ratio ≤ 1.29), and a
    * Spark suite is bandwidth-bound (scans, shuffles, hash tables) long
    * before it is ALU-bound. Absolute GB/s is emitted start + end so
    * artifacts from the same box are directly comparable; there is no
    * portable "idle" constant, so this feeds cross-run comparison, not
    * the box_hot flag. Max-of-2 (bandwidth dips on contention, so the max
    * is the optimistic "what the box can do" bound). */
  private def memBandwidthGbps(): Double = {
    // Cap at 16 streams: enough to saturate any one socket's memory
    // controllers, and it bounds the probe's footprint at 1 GiB — on a
    // high-core box, one 64 MiB buffer per core (held across both passes,
    // twice per bench run) would otherwise approach the 8g driver heap on
    // top of suite state and GC-skew the very reading it takes (r15
    // ADVICE). Each buffer stays far past LLC.
    val n = math.min(Runtime.getRuntime.availableProcessors(), 16)
    val words = (64 << 20) / 8 // 64 MiB of longs per stream
    val arrays = Array.fill(n)(Array.tabulate(words)(i => i.toLong * 0x9E3779B9L))
    def once(): Double = {
      val sink = new java.util.concurrent.atomic.AtomicLong
      val t0 = System.nanoTime()
      val threads = (0 until n).map { t =>
        new Thread(() => {
          val a = arrays(t)
          var s = 0L
          var i = 0
          while (i < words) { s += a(i); i += 1 }
          sink.addAndGet(s)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val dt = (System.nanoTime() - t0) / 1e9
      if (sink.get == 42L) System.err.print("")
      n.toDouble * words * 8.0 / (1L << 30) / dt
    }
    Seq.fill(2)(once()).max
  }

  def main(args: Array[String]): Unit = {
    // Optional first arg: comma-separated query names — iterate on one
    // query's timing without paying the whole suite (same idiom as Verify).
    val only = args.headOption.map(_.split(",").map(_.trim).toSet)
    val picked = only.fold(SparkEntry.all)(ns => SparkEntry.all.filter(q => ns(q.name)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = util.Sessions.get(Some(sfDir))
    val spinStart = spinProbeMs()
    val spinParStart = spinAllCoresMs()
    val memStart = memBandwidthGbps()
    // Pre-build every cross-query shared stage under its own named timer
    // BEFORE the query loop. Whichever query first touches a SharedStages
    // frame otherwise absorbs its whole build, so per-query numbers
    // depended on run order (r8: x53 read 0.44 s or 4.69 s across two
    // identical runs). With the stages paid up front, the query loop
    // reads cache for all of them and per-query times are comparable
    // across orderings; the stage costs are reported in their own map and
    // counted into the suite total. Skipped when benching a hand-picked
    // subset (single-query iteration wants the absorbed-build number).
    def stagePass(): Seq[(String, Double)] =
      if (only.isDefined) Seq.empty
      else (ops.OpsQueries.stageBuilders ++ ops.ClusterQueries.stageBuilders ++
        ops.PqQueries.stageBuilders ++ ops.GraphQueries.stageBuilders).map {
        case (name, build) =>
          // Guide §1.5: label every job so event logs / listener output
          // attribute stages to their owner (the UI is disabled here, but
          // the description rides the Spark listener bus and event logs).
          spark.sparkContext.setJobDescription(s"stage:$name")
          val t0 = System.nanoTime()
          try build(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] stage $name failed: ${e.getMessage}")
          }
          val dt = (System.nanoTime() - t0) / 1e9
          // Off the clock, same as the query loop: collect the PREVIOUS
          // build's garbage now so the NEXT stage's timer doesn't absorb
          // it (r9: the last/heaviest stage read 9.2 s warm vs 2.2 s cold
          // purely from accumulated heap debt coming due mid-build).
          System.gc()
          name -> dt
      }
    // Codegen/JIT warmup at the TARGET SF: identical (query, dir) pairs to
    // the timed loop, so the exact physical plans AQE will pick are the ones
    // that get compiled. This costs one extra pass of wall-clock before the
    // timed region but is the only way the timed numbers measure plans.
    // The warmup pass is also TIMED: emitting cold numbers alongside warm
    // makes each BENCH_rN.json self-explaining — a warm/cold gap is JIT +
    // codegen compilation, not a plan problem, and readers shouldn't have
    // to re-derive that from run-to-run variance.
    val stagesCold = stagePass()
    val cold = picked.map { q =>
      spark.sparkContext.setJobDescription(s"warmup:${q.name}")
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
      } finally util.PersistScope.releaseAll()
      q.name -> (System.nanoTime() - t0) / 1e9
    }
    // Streaming machinery warmup (state store, microbatch planner, sink
    // codegen) — the streaming queries get the same JIT treatment as batch.
    try streaming.EventStream.awaitDone(
      streaming.EventStream.runOnce(spark, sfDir, "bench_stream_warmup"), 120000L)
    catch { case e: Throwable =>
      System.err.println(s"[bench] streaming warmup skipped: ${e.getMessage}")
    }
    // Drop the warmup pass's cross-query shared stages (band/shingle
    // frames and the on-disk label/drift artifacts): the timed pass must
    // pay each shared computation exactly once — timing reads of
    // warmup-era cache blocks (or a warmup-era artifact) would understate
    // the suite.
    util.SharedStages.releaseAll()
    // Settle the heap BEFORE the warm stage pass, not after it: the warm
    // pass's first timers otherwise absorb the whole cold pass's + the
    // streaming warmup's accumulated debt plus the async unpersist churn
    // from releaseAll (r8: q01 0.6 s isolated vs 9.3 s as suite opener;
    // r9: the stage pass ran before the settle and its heaviest stage
    // read 9.2 s warm vs 2.2 s cold for the same reason).
    System.gc()
    Thread.sleep(500)
    System.gc()
    val stages = stagePass()
    System.gc()
    Thread.sleep(200)
    def timedPass(qs: Seq[queries.QueryDef]): Seq[(String, Double)] = qs.map { q =>
      spark.sparkContext.setJobDescription(s"query:${q.name}")
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      util.PersistScope.releaseAll() // off the clock: catalog drop is sync, block delete async
      // Also off the clock: collect the PREVIOUS queries' garbage now, not
      // inside the next query's timed region. Without this, whichever query
      // runs when the heap debt comes due absorbs a multi-second GC pause —
      // observed as x22/x24 reading 1.5 s or 4.7 s across identical runs
      // purely by position (r8 driver bench flagged them at ~6 s each).
      System.gc()
      q.name -> dt
    }
    val firstPass = timedPass(picked)
    // Heavy-tail retry: suite heap-attribution noise hits the multi-second
    // queries hardest (r10: x90 read 10.2 s in the driver's suite pass vs
    // 4.1–4.6 s isolated — 2.3×, while totals agreed within 22%). Re-run
    // every query whose first warm read is ≥2 s after a GC settle and
    // report min(2 warm passes): the minimum is the plan, the max is
    // whatever heap debt happened to come due inside the timer. Shared
    // stages stay cached across both passes, so the runs are comparable.
    val heavy = firstPass.filter(_._2 >= 2.0).map(_._1).toSet
    val retried =
      if (heavy.isEmpty) Map.empty[String, Double]
      else {
        System.gc(); Thread.sleep(300); System.gc()
        timedPass(picked.filter(q => heavy(q.name))).toMap
      }
    val results = firstPass.map { case (n, t) =>
      n -> math.min(t, retried.getOrElse(n, t))
    }
    util.SharedStages.releaseAll()
    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    // Suite totals INCLUDE the shared-stage pre-builds — they are real
    // pipeline work the queries would otherwise pay; they're just timed
    // under their own names now instead of being attributed to whichever
    // query ran first.
    val total = results.map(_._2).sum + stages.map(_._2).sum
    val coldTotal = cold.map(_._2).sum + stagesCold.map(_._2).sum
    // Box-load guard (r13 verdict #2: the driver's BENCH_r13 cold/warm hit
    // 3.4x vs the 1.4x historical band — a contended box reading as a 60%
    // regression, with nothing in the artifact saying so). Two relative
    // signals, either one marks the artifact untrustworthy as a
    // cross-round comparison: the suite's own cold/warm ratio leaving the
    // historical band (JIT+codegen explains ~1.4x; >2x means the cold pass
    // ran on a different box state than the warm pass), and the spin probe
    // drifting >1.5x between session start and end (load arrived
    // mid-run). Absolute spin values are emitted too so same-box runs can
    // be compared directly.
    val spinEnd = spinProbeMs()
    val spinParEnd = spinAllCoresMs()
    val memEnd = memBandwidthGbps()
    // Parallel-throughput guard: the all-cores probe should track the
    // 1-thread probe within SMT overhead (~1.3x idle). A ratio beyond 2x
    // means fewer cores are effectively available than the suite assumes
    // (neighbor load / steal) - the mode that made an r14 pass read 1.5x
    // slow while the single spin stayed flat.
    val parRatio = math.max(
      spinParStart / math.max(spinStart, 1e-9),
      spinParEnd / math.max(spinEnd, 1e-9))
    // cold/warm only judges suite-sized runs: a handful of queries is
    // dominated by first-execution JIT and always reads "cold-slow".
    val boxHot = (results.length >= 20 && coldTotal / math.max(total, 1e-9) > 2.0) ||
      spinEnd / math.max(spinStart, 1e-9) > 1.5 || parRatio > 2.0
    // Advisory tier below the hard guard (r14 verdict #5): par-ratio in
    // (1.3, 2.0] means mild neighbor load — not enough to invalidate the
    // artifact (box_hot stays false), enough to make PER-QUERY deltas vs
    // another run read 1.3-1.5x noisy (the r14 driver pass read exactly
    // so). Protocol: when comparing artifacts across rounds, quote both
    // runs' par ratios; treat per-query deltas under a box_warm artifact
    // as noise unless reproduced by an isolated BenchOne A/B.
    val boxWarm = !boxHot && parRatio > 1.3
    val loadJson =
      s""""spin_ms_start":${math.round(spinStart * 10) / 10.0},""" +
      s""""spin_ms_end":${math.round(spinEnd * 10) / 10.0},""" +
      s""""spin_par_ms_start":${math.round(spinParStart * 10) / 10.0},""" +
      s""""spin_par_ms_end":${math.round(spinParEnd * 10) / 10.0},""" +
      s""""mem_gbps_start":${math.round(memStart * 10) / 10.0},""" +
      s""""mem_gbps_end":${math.round(memEnd * 10) / 10.0},""" +
      s""""par_ratio":${math.round(parRatio * 100) / 100.0},""" +
      s""""box_hot":$boxHot,"box_warm":$boxWarm"""
    // "queries"/"value" stay the WARM pass (measures plans); "cold" is the
    // same queries' first execution at this SF (includes Janino + JIT).
    // The full line is written to a file (/tmp/BENCH_LOCAL.json, or
    // $SPARK_GRAFT_BENCH_OUT) as the truncation-proof artifact of record.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,""" +
      s"""$loadJson,""" +
      s""""n_queries":${results.size},"sf":"$sfDir","stages":${jmap(stages)},""" +
      s""""queries":${jmap(results)},"stages_cold":${jmap(stagesCold)},"cold":${jmap(cold)},""" +
      s""""first_pass":${jmap(firstPass.filter(kv => heavy(kv._1)))},""" +
      s""""retry_pass":${jmap(retried.toSeq.sortBy(_._1))}}"""
    println(line)
    // The harness capturing stdout keeps only the TAIL of the output, so a
    // long line is truncated from the FRONT — whatever comes first is what
    // dies. The full line above is for humans and the file; this second
    // COMPACT line (totals, stage map, ten slowest queries — ~1 KB) is
    // printed LAST so the surviving tail always contains one complete,
    // parseable JSON summary.
    val slowest = results.sortBy(-_._2).take(10)
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","warm_total":${r3(total)},""" +
      s""""cold_total":${r3(coldTotal)},$loadJson,"n":${results.size},"sf":"$sfDir",""" +
      s""""stages":${jmap(stages.map { case (k, v) => k -> r3(v) })},""" +
      s""""slowest":${jmap(slowest.map { case (k, v) => k -> r3(v) })}}"""
    println(compact)
    // Default OUTSIDE the repo: r10's driver bench silently clobbered the
    // committed BENCH_LOCAL.json in the working tree. The in-repo artifact
    // of record changes only by an explicit SPARK_GRAFT_BENCH_OUT or copy.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n" + compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] file write skipped: ${e.getMessage}") }
    spark.stop()
  }
}
