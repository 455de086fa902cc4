package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Incremental scan over the events changelog via Structured Streaming.
  *
  * The reference only *names* watchers ("Poll, EventBridge, HMS Listener",
  * README.md:41) — no streaming code exists (SURVEY §2.10). This module is the
  * Spark-native realization: `readStream` over the events table, watermarked
  * tumbling-window aggregation, and `foreachBatch` for idempotent catalog
  * write-back.
  *
  * Scale notes: state is bounded by the watermark (late data beyond 10 min is
  * dropped); the aggregation is a streaming partial-agg over (window,
  * event_type) — cardinality ≈ windows × types, far below input rate; sink
  * batches arrive pre-aggregated so write-back is driver-cheap.
  */
object EventStream {

  /** Plan-capture seam for the streaming guard ([[StreamPlanGuardSpec]]):
    * the one choke point every runner passes through (r13 verdict #5:
    * s01–s28's micro-batch plans were the last unguarded plan surface).
    * When armed, awaitDone invokes the hook with its query once on entry,
    * once per 50 ms poll while batches run, once from a
    * StreamingQueryListener at EVERY batch completion (r15 ADVICE: the
    * poll alone could slip a sub-50 ms interior batch; the listener fires
    * at the batch boundary, while that batch's lastExecution is still
    * current), and once after termination — so the guard can snapshot
    * every micro-batch plan as it executes. The hook MUST be thread-safe:
    * listener calls arrive on the streams bus thread concurrently with
    * the poll. Null everywhere else: Bench/Verify/stress runs retain
    * NOTHING (r14 ADVICE: the previous always-on queue pinned every
    * terminated query's retained plan trees for the JVM lifetime).
    * Arm/disarm through [[armAwaitHook]]/[[disarmAwaitHook]] — arming
    * over a live hook throws (r15 ADVICE: the seam is a process-global;
    * two concurrent owners would silently cross-pollute guard state). */
  @volatile private[graft] var awaitHook: StreamingQuery => Unit = null

  /** Install the capture hook; fails fast if another owner holds it. */
  private[graft] def armAwaitHook(h: StreamingQuery => Unit): Unit = synchronized {
    require(awaitHook == null,
      "awaitHook already armed — concurrent guard owners would cross-pollute")
    awaitHook = h
  }

  private[graft] def disarmAwaitHook(): Unit = synchronized { awaitHook = null }

  /** Block until an AvailableNow replay terminates; a timeout means the
    * memory sink is PARTIAL, and folding a partial table into a final
    * answer turns missing rows into wrong verdicts (an admission gate
    * like s25 would report every unprocessed doc as admitted). Fail
    * loudly instead of returning a silent partial pass. */
  def awaitDone(q: StreamingQuery, timeoutMs: Long = 300000L): Unit = {
    val hook = awaitHook
    val done =
      if (hook == null) q.awaitTermination(timeoutMs)
      else {
        // Batch-boundary capture: onQueryProgress(batch N) is posted right
        // after N commits, while lastExecution still holds N's plan (N+1
        // replaces it only after its own construction) — so even batches
        // far shorter than the poll cadence get a snapshot. Registered on
        // the CHILD session owning the query; removed before returning so
        // a terminated replay leaks no listener.
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
            if (e.progress.id == q.id) hook(q)
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        q.sparkSession.streams.addListener(listener)
        try {
          hook(q)
          val deadline = System.nanoTime + timeoutMs * 1000000L
          var terminated = false
          while (!terminated && System.nanoTime < deadline) {
            terminated = q.awaitTermination(50L)
            hook(q) // snapshot the batch in flight (or the final one)
          }
          terminated
        } finally q.sparkSession.streams.removeListener(listener)
      }
    if (!done) {
      q.stop()
      throw new IllegalStateException(
        s"streaming replay '${q.name}' still active after $timeoutMs ms; " +
          "its sink table is partial and must not be read as final")
    }
  }

  // Streaming-source schemas per (dir, glob), stamped with the probed
  // path's modification time and length: the schema probe is a batch
  // file-listing + footer read, a fixed ~50-100 ms repaid on every runner
  // call, while the stat is one system call and no Spark job. A table
  // rewritten in place with a different schema changes the stamp and is
  // probed again, replacing the entry. Schemas are session-independent.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[(String, String),
    (Option[(java.nio.file.attribute.FileTime, Long)], org.apache.spark.sql.types.StructType)]()

  /** Default per-source token budget for the quota gates (s15/s16): the
    * test corpus's srcN tier formula, TOTAL over arbitrary source names —
    * anything that doesn't parse as srcN falls to the smallest tier
    * instead of throwing NumberFormatException inside
    * flatMapGroupsWithState (which would kill the whole streaming query).
    * Production callers pass their own `budgetOf`. */
  def defaultSourceBudget(source: String): Long = {
    val n = source.drop(3)
    val idx = if (n.nonEmpty && n.length <= 18 && n.forall(_.isDigit)) n.toLong else 0L
    (1L + idx % 3) * 3000L
  }

  /** Streaming schema mirrors the batch events table, with `ts` normalized
    * to a Spark TIMESTAMP adaptively (nanos-as-long, TIMESTAMP_NTZ, or
    * TIMESTAMP — see [[graft.queries.QueryDef.normalizedTs]]); the cached
    * schema drives the branch, so one probe decides it per path.
    *
    * `maxFilesPerTrigger` splits a multi-file directory into multiple
    * micro-batches (used by the multi-batch specs to prove cross-batch
    * correctness); the default drains everything AvailableNow allows. */
  def readEvents(spark: SparkSession, dir: String, glob: String = "events.parquet",
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val df = streamReader(spark, dir, glob, maxFilesPerTrigger)
    df.withColumn("ts", graft.queries.QueryDef.normalizedTs(df.schema("ts").dataType))
  }

  /** Layout-adaptive streaming source for a (dir, glob) table. The harness
    * testdata keeps each table as a SINGLE parquet FILE named
    * `<table>.parquet` directly in `dir` — FileStreamSource monitors the
    * directory and `pathGlobFilter` selects the file. A Spark-written
    * corpus (cli.ScaleUp, any production lake) instead makes
    * `<table>.parquet` a DIRECTORY of part files; there the directory
    * itself is the stream source and a filename glob would match nothing
    * (the part files are named part-*). The batch schema probe reads
    * `dir/glob`, which is valid in both layouts. Public: the query-suite
    * stream runners outside this module source tables the same way. */
  def streamReader(session: SparkSession, dir: String, glob: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val sub = new java.io.File(dir, glob)
    // A missing path has no stamp; its probe throws and caches nothing.
    val attrs = scala.util.Try(java.nio.file.Files.readAttributes(sub.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes])).toOption
    val stamp = attrs.map(a => (a.lastModifiedTime, a.size))
    val (_, schema) = schemaCache.compute((dir, glob), (_, cached) =>
      if (cached != null && cached._1 == stamp) cached
      else (stamp, session.read.parquet(sub.getPath).schema))
    val reader = session.readStream.schema(schema)
    val path = if (attrs.exists(_.isDirectory)) sub.getPath
      else { reader.option("pathGlobFilter", glob); dir }
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(path)
  }

  /** Child session for a finite AvailableNow replay, so the replay's
    * settings never reach concurrent batch queries on the caller's session.
    *
    *  - 4 shuffle partitions: a stateful shuffle is sized to the STATE
    *    cardinality (thousands of rows), not the batch-shuffle width, and
    *    each partition is one HDFSBackedStateStore init/commit per
    *    micro-batch — 32 of them for a few-thousand-row state is pure fixed
    *    cost (s02 measured 0.87 s at 4 vs 1.5 s at 8 partitions).
    *  - AQE off: the stream disables it itself (stateful workloads don't
    *    support it); off for the whole child session it also spares the
    *    sink READ-BACK aggregations — state-cardinality-sized frames where
    *    AQE's per-shuffle materialize/re-plan rounds cost more than the
    *    shuffles themselves (~0.25 s/query measured on the s02 totals).
    *  - No-data micro-batches off unless `keepNoDataBatches`: Spark appends
    *    a trailing NO-DATA micro-batch to advance the watermark and run
    *    state eviction/timeouts. A bounded replay that stops right after and
    *    discards its checkpoint gets nothing from that batch — it re-loads
    *    and re-commits every state store for zero output rows (~0.7 s/query
    *    measured at sf0.1) — EXCEPT when eviction IS the observable
    *    behavior (evictAfterGap sessionization, the left-outer join's null
    *    rows). Unbounded production streams run on the caller's own
    *    session, where the default (no-data batches ON) governs. */
  private[graft] def replayChild(spark: SparkSession,
                                 keepNoDataBatches: Boolean = false): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", keepNoDataBatches.toString)
    s
  }

  /** The replay primitive: `plan`, built on a [[replayChild]] session of
    * `spark`, runs as a finite AvailableNow query into a memory sink named
    * `queryName`, on a fresh checkpoint in a pass-scoped
    * [[graft.util.SharedStages.scratch]] dir, freed by the pass's
    * `releaseAll`. Returns the running query; [[sinkTable]] awaits it and
    * reads the sink. */
  def replay(spark: SparkSession, queryName: String, outputMode: String,
             keepNoDataBatches: Boolean = false)(plan: SparkSession => DataFrame): StreamingQuery =
    plan(replayChild(spark, keepNoDataBatches))
      .writeStream.outputMode(outputMode)
      .format("memory").queryName(queryName)
      .option("checkpointLocation", graft.util.SharedStages.scratch(queryName))
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[awaitDone]] on a [[replay]], then its memory-sink table, which is
    * registered in the query's (child) session. */
  def sinkTable(q: StreamingQuery): DataFrame = {
    awaitDone(q)
    q.sparkSession.table(q.name)
  }

  /** Streaming exact-event dedup (s18): at-least-once delivery made
    * effectively-once with `dropDuplicatesWithinWatermark` — the one
    * streaming dedup whose state is BOUNDED: each key's state is evicted
    * once the watermark passes its event time, so resident state ∝
    * (arrival rate × watermark horizon), not the stream's lifetime
    * (plain `dropDuplicates` on a stream grows forever — the classic
    * production leak). Redelivered events carry the SAME event time as
    * the original, so every duplicate lands inside the horizon by
    * construction and collapses regardless of micro-batch boundaries.
    * The emitted row IS the dedup key (a projection to the key columns),
    * so which physical copy wins is unobservable — that's what makes the
    * result batch-deterministic (oracle: SELECT DISTINCT over the same
    * projection). Append mode: first arrival emits immediately. */
  def runEventDedup(spark: SparkSession, dir: String, queryName: String,
                    glob: String = "events.parquet",
                    watermarkDelay: String = "10 minutes",
                    maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "append") { session =>
      readEvents(session, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
    }

  /** Streaming k-anonymity release gate (s19): x96's equivalence classes
    * as an ingest-time HOLD-AND-RELEASE — a record is published only once
    * its quasi-identifier class (nation, segment, $1k balance band) has
    * accumulated k members. The first k−1 arrivals of a class are HELD in
    * state; the k-th arrival releases the whole buffer and every later
    * member passes straight through. Classes that never reach k emit
    * nothing — they are exactly the rows a batch release would suppress.
    *
    * The emitted SET is therefore order- and batching-independent (every
    * member of every eventually-≥k class, nothing else), which is what
    * makes the batch join-on-class-counts oracle exact. State per class is
    * bounded BY CONSTRUCTION: one count plus at most k−1 buffered ids —
    * the holding pen never outgrows k−1 no matter how long the stream
    * runs, and no watermark is needed because the gate is monotone (a
    * class only ever gains members). */
  def runKAnonGate(spark: SparkSession, dir: String, queryName: String,
                   glob: String = "customer.parquet", k: Int = 5,
                   maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .as[(Long, Long, String, Long)]
        .groupByKey(r => (r._2, r._3, r._4))
        .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long, String, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (key: (Long, String, Long), rows: Iterator[(Long, Long, String, Long)],
           state: GroupState[(Long, Seq[Long])]) =>
            val st = state.getOption.getOrElse((0L, Seq.empty[Long]))
            var n = st._1
            var pending = st._2
            val released = scala.collection.mutable.ArrayBuffer[Long]()
            rows.toSeq.sortBy(_._1).foreach { case (ck, _, _, _) =>
              n += 1
              if (n >= k) {
                if (pending.nonEmpty) { released ++= pending; pending = Seq.empty }
                released += ck
              } else pending = pending :+ ck
            }
            state.update((n, pending))
            released.iterator.map(ck => (ck, key._1, key._2, key._3))
        }
        .toDF("c_custkey", "nation", "seg", "band")
    }

  /** Streaming first-order transition tracker (s21): the (from → to)
    * event-pair emitter behind a live Markov view of user behavior —
    * x103's matrix maintained AT ARRIVAL instead of recomputed per run.
    * State per user is ONE tuple (last ts, last event_id, last type):
    * constant-size forever, no watermark needed. Each arriving event
    * emits exactly one transition row (from = the stored predecessor),
    * then replaces it — so the sink's (from, to) counts ARE the lead()
    * matrix whenever per-user delivery is in order. In-order per-key
    * delivery is the contract (the Kafka partition-key guarantee);
    * within a micro-batch, rows sort by (ts, event_id) — the s13 order
    * contract — so a single-batch replay reproduces the batch lead()
    * window bitwise, and the multi-batch spec proves the predecessor
    * carries across batch boundaries. */
  def runTransitions(spark: SparkSession, dir: String, queryName: String,
                     glob: String = "events.parquet",
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      readEvents(session, dir, glob, maxFilesPerTrigger)
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("tsm"), col("event_id").cast("long").as("event_id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, String), (Long, String, String)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, String, Long, Long)],
           state: GroupState[(Long, Long, String)]) =>
            var (lastTsm, lastId, lastTyp) = state.getOption.getOrElse((0L, 0L, ""))
            val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
            rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, typ, tsm, eid) =>
              if (lastTyp.nonEmpty) fired += ((uid, lastTyp, typ))
              lastTsm = tsm; lastId = eid; lastTyp = typ
            }
            state.update((lastTsm, lastId, lastTyp))
            fired.iterator
        }
        .toDF("user_id", "from_type", "to_type")
    }

  /** Streaming SCD Type-2 materialization (s27): x143's versioned
    * history maintained AT ARRIVAL — the CDC shape: each user's
    * event-type stream folds into runs; a type change CLOSES the current
    * version (emitting its final [valid_from, valid_to) row) and opens
    * the next; the OPEN run re-emits its running row each batch (Update
    * mode), so the sink's latest emission per (user, version) is the
    * current table state. State per user is one (version, type,
    * valid_from, n_events) tuple — constant size forever, watermark-free.
    * Emitted valid_to uses -1 as the OPEN sentinel (the batch-side fold
    * null-ifies it); closed rows are final and the fold prefers them.
    * Arrival-order contract as s21/s24: per-key in-order delivery,
    * in-batch (ts, event_id) sort — a single-batch replay equals x143's
    * batch windows bitwise. */
  def runScd2(spark: SparkSession, dir: String, queryName: String,
              glob: String = "events.parquet",
              maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      readEvents(session, dir, glob, maxFilesPerTrigger)
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("tsm"), col("event_id").cast("long").as("event_id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, String, Long, Long),
          (Long, Long, String, Long, Long, Long, Boolean)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, String, Long, Long)],
           state: GroupState[(Long, String, Long, Long)]) =>
            var (version, curType, validFrom, nEvents) =
              state.getOption.getOrElse((0L, "", 0L, 0L))
            val fired = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, String, Long, Long, Long, Boolean)]
            rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, typ, tsm, _) =>
              if (version == 0L) {
                version = 1L; curType = typ; validFrom = tsm; nEvents = 1L
              } else if (typ == curType) {
                nEvents += 1L
              } else {
                fired += ((uid, version, curType, validFrom, tsm, nEvents, false))
                version += 1L; curType = typ; validFrom = tsm; nEvents = 1L
              }
            }
            if (version > 0L) // re-emit the open run's running row
              fired += ((uid, version, curType, validFrom, -1L, nEvents, true))
            state.update((version, curType, validFrom, nEvents))
            fired.iterator
        }
        .toDF("user_id", "version", "event_type", "valid_from_us",
          "valid_to_us", "n_events", "is_current")
    }

  /** Streaming LATENESS audit (s24): x123's out-of-order arrival
    * measurement maintained AT ARRIVAL — the live read that sizes
    * watermarks while the pipeline runs, instead of after the fact.
    * State per user is FOUR longs (running max event-time micros, event
    * count, late count, worst delay): constant-size forever, no watermark
    * (the audit must SEE late data — that's its subject). An event is
    * late iff its event time precedes the running max of its user's
    * PREVIOUS arrivals; delay floors to whole seconds (x123's
    * `(pm − ts) // 1s`). Arrival order is the per-key delivery order
    * (the Kafka partition-key contract); within a micro-batch rows sort
    * by event_id — x123's arrival proxy — so a single-batch replay
    * reproduces the batch window bitwise and the multi-batch spec
    * (event_id-RANGE file splits, preserving arrival order) proves the
    * running max carries across batches. Emits running per-user totals
    * (Update mode); [[latenessTotals]] folds the latest emission per
    * user into x123's one-row summary. */
  def runLatenessAudit(spark: SparkSession, dir: String, queryName: String,
                       glob: String = "events.parquet",
                       maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      readEvents(session, dir, glob, maxFilesPerTrigger)
        .select(col("user_id").cast("long").as("user_id"),
          expr("unix_micros(ts)").as("tsm"), col("event_id").cast("long").as("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, Long)],
           state: GroupState[(Long, Long, Long, Long)]) =>
            var (maxTsm, nEv, nLate, worst) =
              state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
            rows.toSeq.sortBy(_._3).foreach { case (_, tsm, _) =>
              nEv += 1
              if (maxTsm != Long.MinValue && tsm < maxTsm) {
                nLate += 1
                worst = math.max(worst, Math.floorDiv(maxTsm - tsm, 1000000L))
              }
              maxTsm = math.max(maxTsm, tsm)
            }
            state.update((maxTsm, nEv, nLate, worst))
            Iterator((uid, nEv, nLate, worst))
        }
        .toDF("user_id", "n_events", "n_late", "worst_delay_s")
    }

  /** x123's one-row summary from the s24 sink: the latest emission per
    * user (the one with max n_events — totals are monotone) aggregated
    * once. */
  def latenessTotals(sink: DataFrame): DataFrame =
    sink.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_late"), col("worst_delay_s"))).as("m"))
      .agg(sum(col("m.n_events")).cast("long").as("n_events"),
        sum(col("m.n_late")).cast("long").as("n_late"),
        round(sum(col("m.n_late")).cast("double") / sum(col("m.n_events")), 6)
          .as("late_frac"),
        max(col("m.worst_delay_s")).cast("long").as("max_delay_s"),
        sum(when(col("m.n_late") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_users_late"))

  /** Streaming ordered-funnel detector (s20): x101's view → click →
    * purchase progression evaluated AT ARRIVAL — the trigger-style read
    * ("fire when a user converts") that batch funnels can only deliver
    * after the fact. Per-user state is exactly THREE slot timestamps
    * (first view; first click strictly after it; first purchase strictly
    * after that), each filled at most once — state is 24 bytes per user
    * forever, monotone (slots only fill), so nothing needs a watermark
    * and each stage-advance row is emitted exactly once, in the batch
    * where its slot fills.
    *
    * Same batch-order contract as [[runPackingMaintain]]: each user's
    * micro-batch slice is sorted by (ts, event_id) before folding, so a
    * single-batch replay (the oracle gate's shape) reproduces x101's
    * min-over-history semantics exactly — the first view in ts order IS
    * min(view ts), the first later click IS min(click > t1), and ties
    * resolve identically (equal-ts clicks fail the strict > in both
    * engines). Under multi-batch arrival the contract degrades to
    * arrival-order progression — the honest streaming semantics, proven
    * to carry slots across batches by the multi-batch spec. */
  def runFunnel(spark: SparkSession, dir: String, queryName: String,
                glob: String = "events.parquet",
                maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      readEvents(session, dir, glob, maxFilesPerTrigger)
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("tsm"), col("event_id").cast("long").as("event_id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, String, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, String, Long, Long)],
           state: GroupState[(Long, Long, Long)]) =>
            var (t1, t2, t3) = state.getOption.getOrElse((0L, 0L, 0L))
            val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
            rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, typ, tsm, _) =>
              typ match {
                case "view" if t1 == 0L =>
                  t1 = tsm; fired += ((uid, "view", tsm))
                case "click" if t1 != 0L && tsm > t1 && t2 == 0L =>
                  t2 = tsm; fired += ((uid, "click_after_view", tsm))
                case "purchase" if t2 != 0L && tsm > t2 && t3 == 0L =>
                  t3 = tsm; fired += ((uid, "purchase_after_click", tsm))
                case _ =>
              }
            }
            state.update((t1, t2, t3))
            fired.iterator
        }
        .toDF("user_id", "stage", "tsm")
        .select(col("user_id"), col("stage"), expr("timestamp_micros(tsm)").as("ts"))
    }

  /** Watermarked tumbling aggregation: count + sum(value cents) per
    * (1-hour window, event_type) — the streaming twin of q10_events_tumbling. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Run the streaming pipeline to completion over the (finite) events dir —
    * the local-smoke form: memory sink + AvailableNow ([[replay]]). State
    * cardinality is windows × event types (thousands). */
  def runOnce(spark: SparkSession, dir: String, queryName: String = "events_agg"): StreamingQuery =
    replay(spark, queryName, "complete") { session =>
      tumblingAgg(readEvents(session, dir))
    }

  /** Streaming sessionization with CUSTOM state (flatMapGroupsWithState):
    * per-user session/event counting with a `gapSeconds` inactivity split —
    * the stateful-stream twin of the batch q11 lag-window form.
    *
    * State per user = the MERGED SESSION INTERVALS [start,end] plus a total
    * event count. Each new event either extends an interval it lands within
    * `gapSeconds` of, bridges (merges) several, or opens a new one. Interval
    * merge is ORDER-INDEPENDENT: an event arriving in any micro-batch, in
    * any order — including cross-batch out-of-order and arbitrarily late —
    * converges to the same final totals as the sorted batch fold, with no
    * watermark needed for correctness. State size is bounded by the user's
    * *session* count (and shrinks when late events bridge sessions), not by
    * event volume. Emits the running totals per batch (Update mode); the
    * latest emission per user (the one with max n_events) is the answer —
    * see [[sessionTotals]].
    *
    * Eviction: per-user state is small, but on an UNBOUNDED stream the
    * distinct-user count grows without limit under NoTimeout. `evictAfterGap`
    * switches to EventTimeTimeout: a watermark (`watermarkDelay`) is applied,
    * and once it passes a user's last activity + gap — no event can legally
    * extend any of their sessions any more — the state emits its final totals
    * and is REMOVED. The trade: events later than the watermark are dropped
    * (standard streaming semantics), so the NoTimeout mode remains the right
    * gate for finite AvailableNow replays where arbitrary lateness must
    * still converge. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800,
                 evictAfterGap: Boolean = false,
                 watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = if (evictAfterGap) events.withWatermark("ts", watermarkDelay) else events
    val timeoutConf =
      if (evictAfterGap) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    // The event-time column must reach the stateful operator with its
    // watermark tag intact (EventTimeTimeout is rejected otherwise), so `ts`
    // is carried as a timestamp and converted to exact micros inside the fold.
    // State carries a GENERATION key (the first event micros the state saw):
    // eviction removes a user's state, and later events start a FRESH state
    // whose running totals restart from zero — emissions from different
    // generations must never be max-merged, they are partials to SUM (found
    // by the 16-batch soak: totals froze at the first eviction). A session
    // can never span generations: eviction requires the watermark to pass
    // max(end)+gap, so every pre-eviction interval is final and later
    // events open genuinely new sessions. Generation keys are distinct per
    // user because each new generation starts at an event time strictly
    // beyond the watermark that killed the previous one.
    src.select(col("user_id").cast("long"), col("ts"), col("event_id").cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, Long)], Long, Long), (Long, Long, Long, Long)](
        OutputMode.Update, timeoutConf) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[(Seq[(Long, Long)], Long, Long)]) =>
          if (state.hasTimedOut) {
            // Watermark passed last activity + gap: this generation's totals
            // are final. Emit once more (idempotent for sessionTotals —
            // identical to the last running emission) and drop the state.
            val (ivs, nEv, gen) = state.get
            state.remove()
            Iterator((user, gen, ivs.size.toLong, nEv))
          } else {
            var (ivs, nEv, gen) = state.getOption.getOrElse((Seq.empty[(Long, Long)], 0L, -1L))
            var any = false
            val gapUs = gapSeconds * 1000000L
            rows.foreach { case (_, ts, _) =>
              any = true
              nEv += 1
              // Exact micros (== unix_micros(ts), the batch q11 gap unit):
              // floor-second state would split/merge differently from the
              // oracle on true gaps in (gap, gap+1) s with sub-second ts.
              val us = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
              if (gen == -1L) gen = us
              val (touch, rest) = ivs.partition { case (s0, e0) =>
                us >= s0 - gapUs && us <= e0 + gapUs
              }
              val lo = (us +: touch.map(_._1)).min
              val hi = (us +: touch.map(_._2)).max
              ivs = (lo, hi) +: rest
            }
            if (!any) Iterator.empty
            else {
              state.update((ivs, nEv, gen))
              if (evictAfterGap) {
                // Evict when the watermark proves no event can extend any
                // interval: max session end + gap (micros → ceil ms, so the
                // timeout never fires a micro-instant early). Must stay
                // strictly above the current watermark or Spark rejects it.
                val target = Math.floorDiv(ivs.map(_._2).max + gapSeconds * 1000000L + 999L, 1000L)
                state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1))
              }
              Iterator((user, gen, ivs.size.toLong, nEv))
            }
          }
      }
      .toDF("user_id", "gen", "n_sessions", "n_events")
  }

  /** Final per-user totals from a sessionize memory sink. Update-mode memory
    * sinks APPEND one row per (user, batch) — earlier batches leave stale
    * running totals behind — so within each STATE GENERATION the latest
    * emission must be selected (`n_events` strictly increases per emission,
    * so max n_events is the latest), and the per-generation finals SUM to
    * the user total (each generation counts disjoint sessions/events). */
  def sessionTotals(sink: DataFrame): DataFrame =
    sink.groupBy("user_id", "gen")
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("m"))
      .groupBy("user_id")
      .agg(sum(col("m.n_sessions")).as("n_sessions"),
        sum(col("m.n_events")).as("n_events"))

  /** Run the sessionization stream to completion over the (finite) events
    * dir: memory sink (update mode), AvailableNow. */
  def runSessionize(spark: SparkSession, dir: String, queryName: String = "events_sessions",
                    glob: String = "events.parquet",
                    maxFilesPerTrigger: Option[Int] = None,
                    evictAfterGap: Boolean = false,
                    watermarkDelay: String = "10 minutes"): StreamingQuery =
    // Eviction is observable behavior here: the EventTimeTimeout fires in a
    // no-data batch (emitting each generation's final totals), so those
    // batches must survive when evictAfterGap is on.
    replay(spark, queryName, "update", keepNoDataBatches = evictAfterGap) { session =>
      sessionize(readEvents(session, dir, glob, maxFilesPerTrigger),
        evictAfterGap = evictAfterGap, watermarkDelay = watermarkDelay)
    }

  /** NATIVE session-window aggregation (s23) — Spark's built-in
    * `session_window(ts, gap)` operator, the declarative twin of
    * [[sessionize]]'s custom flatMapGroupsWithState fold: the engine owns
    * the window-merge state (two events merge iff the later one starts
    * STRICTLY before the earlier window's end = ts + gap, i.e. gap-diff
    * < 30 min; an exact-gap event opens a NEW window — note the boundary
    * differs from q11/s02's `> gap` split, and the oracle encodes `>=`).
    * Complete mode (the only unwatermarked mode the operator supports) +
    * AvailableNow replay is the gate shape: the sink holds the full merged
    * window set. A production unbounded run adds a watermark and append
    * mode so the state evicts — same plan, different sink contract. State per user is
    * one row per OPEN window — bounded by concurrent sessions, not event
    * volume. */
  def runSessionWindow(spark: SparkSession, dir: String,
                       queryName: String = "events_session_window",
                       glob: String = "events.parquet",
                       maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "complete") { session =>
      readEvents(session, dir, glob, maxFilesPerTrigger)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("w_start"),
          col("n_events"))
    }

  /** Per-user totals from the s23 sink: one row per merged window in the
    * single-batch replay, so sessions = window count, events = their sum. */
  def sessionWindowTotals(sink: DataFrame): DataFrame =
    sink.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))

  /** Stream-STREAM interval join (click→purchase attribution): purchases
    * matched to same-user clicks with the purchase inside
    * [click, click + windowSeconds]. Both sides carry watermarks and the
    * range condition is expressed directly on the watermarked event-time
    * columns — that pair is what lets Spark derive the state-cleanup
    * constraint (clicks evict once the watermark passes click + window;
    * purchases once it passes their own timestamp). A join keyed or ranged
    * on anything else (e.g. unix_timestamp of the column) would keep state
    * forever. Inner join ⇒ matches emit as they arrive; the watermark only
    * governs eviction.
    *
    * Timestamps are floored to SECONDS before the join on both sides so the
    * pair set is identical across engines regardless of sub-second
    * precision (parquet nanos vs Spark micros). */
  def attributionJoin(events: DataFrame, windowSeconds: Long = 3600,
                      watermarkDelay: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), date_trunc("second", col("ts")).as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), date_trunc("second", col("ts")).as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermarkDelay)
    clicks.join(purchases,
        col("p_uid") === col("c_uid") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("c_uid").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_seconds"))
  }

  /** LEFT-OUTER stream-stream interval join — the semantics [[attributionJoin]]
    * (inner) cannot express: clicks that never convert STILL emit, with null
    * purchase columns, once the watermark proves no match can arrive
    * (wm > click + window). The null row is produced by STATE EVICTION, not
    * by any data batch — which is why the bounded-replay runner for this
    * query must keep the trailing no-data micro-batch (it is where the
    * watermark advances and the unmatched rows flush). Clicks still inside
    * the horizon at end-of-replay remain in state and do NOT emit — the
    * batch oracle replicates exactly that by applying the same final-
    * watermark predicate (min of both sides' max event time, minus the
    * delay). */
  def attributionJoinOuter(events: DataFrame, windowSeconds: Long = 3600,
                           watermarkDelay: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), date_trunc("second", col("ts")).as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), date_trunc("second", col("ts")).as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermarkDelay)
    clicks.join(purchases,
        col("p_uid") === col("c_uid") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowSeconds SECONDS"),
        "leftOuter")
      .select(col("c_uid").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_seconds"))
  }

  /** Run the LEFT-OUTER attribution join over the finite events dir.
    * keepNoDataBatches = true is NOT optional here: the unmatched-click
    * rows only exist because the trailing no-data batch advances the
    * watermark and evicts left state (see [[attributionJoinOuter]]). */
  def runAttributionOuter(spark: SparkSession, dir: String,
                          queryName: String = "events_attribution_outer",
                          glob: String = "events.parquet",
                          maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "append", keepNoDataBatches = true) { session =>
      attributionJoinOuter(readEvents(session, dir, glob, maxFilesPerTrigger))
    }

  /** Run the attribution join to completion over the (finite) events dir:
    * append-mode memory sink, AvailableNow. State is per-user click/purchase
    * buffers within the watermark horizon. */
  def runAttribution(spark: SparkSession, dir: String,
                     queryName: String = "events_attribution",
                     glob: String = "events.parquet",
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    // Inner join: matches emit in the data batch where both sides are
    // present; the trailing no-data batch only evicts state, so it's safe
    // to drop for a bounded replay.
    replay(spark, queryName, "append") { session =>
      attributionJoin(readEvents(session, dir, glob, maxFilesPerTrigger))
    }

  /** Stream-static enrichment join + aggregate: the events stream joined to
    * a static dimension (plain equi-join per micro-batch — the static side
    * is a DataFrame, never streaming state) and aggregated per segment.
    * UNHINTED on purpose: customer is a corpus-scaling table (ScaleUp
    * clones it; TPC-H grows it with SF), so a broadcast hint here is the
    * deferred-OOM class the plan guard exists for — r14's new streaming
    * guard caught exactly that hint on this join. The planner still
    * broadcasts the dim while its size estimate is small; at 100 TB the join shuffles on
    * user_id like any fact-dim join too big to ship. */
  def enrichedAgg(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
        customer.select(col("c_custkey"), col("c_mktsegment")),
        events("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100).as("sum_value"))

  /** Run the enrichment stream to completion (complete mode, memory sink —
    * the aggregate is segment-count sized). */
  def runEnriched(spark: SparkSession, dir: String,
                  queryName: String = "events_enriched"): StreamingQuery =
    replay(spark, queryName, "complete") { session =>
      val customer = session.read.parquet(s"$dir/customer.parquet")
      enrichedAgg(readEvents(session, dir), customer)
    }

  /** Streaming deduplication chained into a stateful aggregate: watermarked
    * `dropDuplicates` keeps one row per (user_id, event_type) — dedup state
    * is bounded by the watermark — and the downstream count gives distinct
    * users per type. Two stateful operators in one streaming query. */
  def distinctUsersPerType(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_distinct_users"))

  /** Run the streaming-dedup pipeline to completion (complete mode). */
  def runDistinctUsers(spark: SparkSession, dir: String, queryName: String = "events_dedup",
                       glob: String = "events.parquet",
                       maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    // Complete-mode output: dedup-state eviction in the trailing no-data
    // batch never changes the emitted aggregate, only trims state the
    // replay is about to discard.
    replay(spark, queryName, "complete") { session =>
      distinctUsersPerType(readEvents(session, dir, glob, maxFilesPerTrigger))
    }

  /** foreachBatch sink with EXACTLY-ONCE batch effects via the
    * [[ExactlyOnceSink]] txn protocol: a replayed micro-batch (crash between
    * the sink write and the checkpoint commit, or a restart from an older
    * checkpoint) is skipped or overwritten in place — never appended twice.
    * The write-back pattern for catalog tagging from a stream.
    *
    * Started without artifact isolation: each query runs on a clone of the
    * caller's session, and with `spark.sql.artifact.isolation.enabled` on
    * (Spark 4's default) every clone gets its own artifact UUID, so the
    * executors build a fresh class loader per query and, since the codegen
    * cache is keyed on (class loader, source), recompile the same write
    * classes on every start. The clone copies the conf when the query is
    * created, so the setting is needed on the caller's session only for
    * `start()`; its previous value is restored afterwards. The query stays
    * on the caller's session, visible to that session's listeners. */
  def toParquetBatches(agg: DataFrame, outDir: String, checkpoint: String): StreamingQuery = {
    val writer = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ExactlyOnceSink.writeBatch(batch, batchId, outDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    // The caller's session may not come from Sessions (a benchmark or an
    // embedding application builds its own), and the query's checkpoint
    // logs are written through the context's Hadoop conf.
    graft.util.LocalFs.register(agg.sparkSession.sparkContext)
    val conf = agg.sparkSession.conf
    val key = "spark.sql.artifact.isolation.enabled"
    // Serialized, so two starts on one session cannot restore each other's value.
    synchronized {
      val prev = conf.getAll.get(key)
      conf.set(key, "false")
      try writer.start()
      finally prev.fold(conf.unset(key))(conf.set(key, _))
    }
  }

  /** Streaming Count-Min maintenance — the mergeable sketch as STREAMING
    * STATE: each micro-batch's token cells fold into a keyed running-count
    * aggregation (update mode), so at any instant the sink holds a CMS grid
    * of everything ingested so far. The state is the depth×width cell set —
    * bounded by CONSTRUCTION regardless of token volume or distinct
    * cardinality (the sketch's whole point, applied to the state store), so
    * no watermark is needed: nothing ever has to evict. Update mode emits
    * only touched cells per batch; cell counts are monotone, so the current
    * grid is max(bc) per cell over the sink's rows whatever the batching
    * was. This is the production posture x41's scale note describes —
    * maintain the grid continuously, ship it for cell-wise merges —
    * run as a stream. */
  def runCmsMaintain(spark: SparkSession, dir: String, queryName: String,
                     depth: Int, width: Int,
                     glob: String = "documents.parquet",
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      // The file source splits by FILE and documents.parquet is one
      // single-row-group file — without a repartition the tokenize +
      // depth-way cell explode runs in ONE task per micro-batch (the s06
      // lesson). The shuffle moves only raw doc text; the per-task partial
      // aggregation then caps each task's output at depth*width cells.
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16)
        .select(explode(split(col("text"), " ")).as("token"))
        .select(posexplode(transform(sequence(lit(0), lit(depth - 1)),
          j => graft.ops.Sketches.bucket(col("token"), j, width))).as(Seq("j", "bucket")))
        .groupBy("j", "bucket").agg(count(lit(1)).as("bc"))
    }

  /** Streaming maintenance of the x76 histogram-quantile sketch: each doc
    * contributes one histogram cell (source, bucket) AND one value cell
    * (source, token-length) to a single keyed running count — state is
    * bounded at sources × (64 + max doc length) cells BY CONSTRUCTION, the
    * same sketch-property-as-state-bound argument as [[runCmsMaintain]].
    * Counts are monotone, so the read-back's max-per-key is correct under
    * any batching; the quantile scan then runs on the reassembled arrays
    * exactly as the batch query does (oracle: x76's SQL verbatim). */
  def runHistMaintain(spark: SparkSession, dir: String, queryName: String,
                      glob: String = "documents.parquet",
                      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16) // single-file source: restore tokenize parallelism (s06 lesson)
        .select(col("source"), size(split(col("text"), " ")).as("nt"))
        .select(col("source"), explode(array(
          struct(lit("h").as("kind"), least(col("nt") / 8, lit(63)).cast("long").as("key")),
          struct(lit("v").as("kind"), col("nt").cast("long").as("key")))).as("c"))
        .groupBy(col("source"), col("c.kind").as("kind"), col("c.key").as("key"))
        .agg(count(lit(1)).as("cnt"))
    }

  /** Streaming greedy sequence packing (s13): the x25 batch operator run as
    * a STATEFUL stream — documents arrive through a file stream and each
    * doc is assigned the context-window bin it starts in, where the
    * per-language running token offset is CUSTOM KEYED STATE
    * (flatMapGroupsWithState) carried across micro-batches. State per
    * language is ONE long (the fill level); a production packer runs this
    * unbounded, emitting bin assignments as docs arrive, with state size =
    * number of languages by construction — nothing to watermark or evict.
    *
    * Within a micro-batch each language group is sorted by doc_id before
    * folding, so a single-batch replay (the oracle gate's shape: one
    * parquet file → one AvailableNow batch) reproduces x25's
    * order-by-doc_id semantics exactly; under multi-batch arrival the
    * contract degrades to arrival-order packing, which is the honest
    * streaming semantics (bins depend on history, and history is arrival).
    * Each doc is processed in exactly one batch, so Update-mode emissions
    * land once per doc and the sink table needs no dedup on read-back. */
  def runPackingMaintain(spark: SparkSession, dir: String, queryName: String,
                         binTokens: Long = 2048,
                         glob: String = "documents.parquet",
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16) // single-file source: restore tokenize parallelism (s06 lesson)
        .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long, Long, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (lang: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
            var before = state.getOption.getOrElse(0L)
            // sort inside the group: micro-batch-local, bounded by batch size
            val out = rows.toSeq.sortBy(_._2).map { case (_, docId, nt) =>
              val bin = before / binTokens
              before += nt
              (lang, docId, nt, bin)
            }
            state.update(before)
            out.iterator
        }
        .toDF("lang", "doc_id", "n_tokens", "bin_id")
    }

  /** Streaming per-source token-quota admission (s15): x31's budget gate
    * run as the unbounded ingest control it is in production — every doc
    * is admitted or rejected AT ARRIVAL against its source's remaining
    * budget, where the cumulative token count seen so far is ONE long of
    * CUSTOM KEYED STATE per source. Truncation semantics, same as x31:
    * the count advances on every doc (admitted or not), so the admitted
    * set is an order-prefix and the gate stays monotone — once a source
    * crosses its budget nothing more gets in, no matter how small. State
    * size = source count by construction; nothing to watermark.
    *
    * Same batch-order contract as [[runPackingMaintain]]: groups sort by
    * doc_id within a micro-batch, so the single-batch replay reproduces
    * the doc_id-ordered oracle exactly; multi-batch arrival degrades to
    * arrival-order admission — the honest streaming semantics.
    *
    * `budgetOf` maps a source name to its token budget; the default is the
    * test corpus's srcN tier formula with a safe floor for names that
    * don't parse (a throw inside flatMapGroupsWithState kills the whole
    * streaming query, so the budget function must be total). */
  def runQuotaMaintain(spark: SparkSession, dir: String, queryName: String,
                       glob: String = "documents.parquet",
                       maxFilesPerTrigger: Option[Int] = None,
                       budgetOf: String => Long = defaultSourceBudget): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16) // single-file source: restore tokenize parallelism (s06 lesson)
        .select(col("source"), col("doc_id").cast("long").as("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long, Long, Boolean)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (source: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
            val budget = budgetOf(source)
            var before = state.getOption.getOrElse(0L)
            val out = rows.toSeq.sortBy(_._2).map { case (_, docId, nt) =>
              val accepted = before < budget
              before += nt
              (source, docId, nt, accepted)
            }
            state.update(before)
            out.iterator
        }
        .toDF("source", "doc_id", "n_tokens", "accepted")
    }

  /** Composed streaming INGEST GATE (s16): the front door a training-data
    * ingest actually runs — s10's quality routing and s15's token quota in
    * ONE stateful pass. Every arriving doc is routed (keep / low_stopword /
    * short, stateless per-row metrics) and only keep-routed docs draw from
    * their source's token budget, so the quota counter measures ADMITTED
    * QUALITY MASS, not raw arrivals — rejecting junk must not starve the
    * budget. State stays ONE long per source; same batch-order contract as
    * [[runPackingMaintain]] (intra-batch sort by doc_id → the single-batch
    * replay reproduces the doc_id-ordered oracle; multi-batch arrival is
    * honest arrival-order gating). */
  def runIngestGate(spark: SparkSession, dir: String, queryName: String,
                    glob: String = "documents.parquet",
                    maxFilesPerTrigger: Option[Int] = None,
                    budgetOf: String => Long = defaultSourceBudget): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      val toks = split(col("text"), " ")
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16) // single-file source: restore tokenize parallelism (s06 lesson)
        .select(col("source"), col("doc_id").cast("long").as("doc_id"),
          size(toks).cast("long").as("nt"),
          size(filter(toks, t => t.isin("the", "a"))).cast("long").as("ns"))
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long, Long, String, Boolean)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (source: String, rows: Iterator[(String, Long, Long, Long)], state: GroupState[Long]) =>
            val budget = budgetOf(source)
            var before = state.getOption.getOrElse(0L)
            val out = rows.toSeq.sortBy(_._2).map { case (_, docId, nt, ns) =>
              val disposition =
                if (nt < 15) "short"
                else if (ns * 25 < nt) "low_stopword"
                else "keep"
              val accepted = disposition == "keep" && before < budget
              if (disposition == "keep") before += nt
              (source, docId, nt, disposition, accepted)
            }
            state.update(before)
            out.iterator
        }
        .toDF("source", "doc_id", "n_tokens", "disposition", "accepted")
    }

  /** Streaming weighted-sample maintenance (s14): x81's priority sample
    * kept current as docs arrive, with the CUSTOM bounded-heap aggregate
    * (TopKMinExpr, a TypedImperativeAggregate) as the state-store value —
    * state is k rows per source BY CONSTRUCTION, no watermark, and the
    * engine's own serialize/merge path maintains it across micro-batches.
    * The heap only improves monotonically, so every member of the final
    * top-k appears in some Update-mode emission and every emitted non-
    * member ranks strictly below the final k — the read-back (explode all
    * emissions, distinct, rank, take k) reconstructs the exact final
    * sample regardless of batching. */
  def runWeightedSampleMaintain(spark: SparkSession, dir: String, queryName: String,
                                k: Int = 25,
                                glob: String = "documents.parquet",
                                maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16) // single-file source: restore tokenize parallelism (s06 lesson)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("w"),
          graft.ops.Sketches.bucket(col("doc_id").cast("string"), lit("wsmp"), 65536).as("h"))
        .withColumn("priority", col("w") * 65536.0 / (col("h") + 1))
        .groupBy("source")
        .agg(graft.ops.TopK.topk_min(
          struct((-col("priority")).as("np"), col("doc_id"), col("w"), col("priority")),
          k).as("top"))
    }

  /** Streaming MinHash-LSH near-dup ADMISSION gate (s25): the composed
    * operator the batch incremental dedup (x43/s08) and the exact
    * streaming dedup (s18) bracket but neither provides — a SELF-feeding
    * gate where the reference corpus is what the gate itself admitted.
    * Rule: FIRST ARRIVAL of each LSH band hash owns it; a doc whose every
    * band is unowned at arrival is admitted (it cannot be a near-dup of
    * anything seen — near-dups share ≥1 band with overwhelming
    * probability); a doc with any owned band is blocked, reporting the
    * owner. "Seen", not "admitted": a production gate rejects a doc that
    * collides with ANYTHING that already arrived — admitting B (blocked
    * by A) and then C (near-dup of B but not A) would re-admit the same
    * content family; ownership by first arrival closes that transitively
    * and — unlike the greedy admitted-only rule — needs NO cross-band
    * coordination, so the state shards cleanly by band key.
    *
    * Scale posture: state is ONE long per DISTINCT band hash (the owner's
    * doc id, write-once), sharded by (band, hash) across state partitions
    * — no global sequencing, no watermark (ownership is monotone), and
    * the per-batch group work is one min over the group's rows. Arrival
    * order = (micro-batch order, doc_id within batch) — the s15/s16
    * contract: a single-batch replay reproduces the doc_id-ordered batch
    * oracle; multi-batch arrival is honest arrival-order gating (the
    * EventStreamSpec permutation test pins it).
    *
    * Emits one verdict row per (doc, band); the query-side read-back
    * folds them to per-doc admission (bands are conjunctive). `bandsOf`
    * stages (doc_id, band, band_hash) from raw docs — passed in so the
    * banding construction stays single-sourced at the batch band stage. */
  def runLshAdmission(spark: SparkSession, dir: String, queryName: String,
                      bandsOf: DataFrame => DataFrame,
                      glob: String = "documents.parquet",
                      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      val banded = bandsOf(
        streamReader(session, dir, glob, maxFilesPerTrigger)
          .repartition(16)) // single-file source: restore minhash parallelism
        .select(col("band").cast("int").as("band"), col("band_hash"),
          col("doc_id").cast("long").as("doc_id"))
        .as[(Int, String, Long)]
      banded
        .groupByKey(r => (r._1, r._2))
        .flatMapGroupsWithState[Long, (Long, Int, Boolean, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (_: (Int, String), rows: Iterator[(Int, String, Long)], state: GroupState[Long]) =>
            val ids = rows.map(_._3).toSeq.sorted
            val prior = state.getOption            // owner from earlier batches
            val owner = prior.getOrElse(ids.head)  // else batch min claims it
            if (prior.isEmpty) state.update(owner) // write-once
            ids.iterator.map { d =>
              val blocked = d != owner
              (d, 0, blocked, if (blocked) owner else -1L)
            }
        }
        .map { case (d, _, blocked, blocker) => (d, blocked, blocker) }
        .toDF("doc_id", "blocked", "blocker")
    }

  /** Streaming span-decontamination gate (s17): x95's longest-verbatim-run
    * semantics as the admission check a training-data ingest runs AT
    * ARRIVAL — every incoming doc is scored against the benchmark suite
    * and quarantined when any shared verbatim span reaches 13 tokens.
    *
    * The whole check is ONE stateless map over the stream: the benchmark's
    * per-item distinct 5-gram sets ride a single broadcast row
    * (eval-sized, the x23 posture), and per (doc, benchmark item) the hit
    * bitmap AND its longest consecutive run fold IN-ROW over the doc's
    * positional grams (`aggregate` with a (current, best) struct
    * accumulator) — no explode, no shuffle, no state store, no watermark.
    * Batch x95 keeps the per-pair audit detail; this gate emits the
    * per-doc DECISION: how many benchmark items it touches, its worst
    * span, quarantine yes/no — one row per arriving doc, append mode. */
  def runDecontamGate(spark: SparkSession, dir: String, queryName: String,
                      glob: String = "documents.parquet",
                      benchBelow: Long = 10L,
                      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "append") { session =>
      // Grams hash to 64-bit xxhash64, not md5 strings: only gram EQUALITY
      // matters here (the decision columns are counts/runs, so the oracle
      // pins them regardless of the internal hash), and the per-doc
      // membership fold compares each doc gram against every benchmark gram
      // — long compares make that scan ~2x cheaper than 32-char strings.
      def gramsOf(tk: Column): Column =
        when(size(tk) >= 5, transform(sequence(lit(1), size(tk) - 4),
          i => xxhash64(concat_ws(" ", (0 until 5).map(o => element_at(tk, i + o)): _*))))
          .otherwise(array().cast("array<bigint>"))
      // Static side: the benchmark's (id, distinct gram set) structs as ONE
      // broadcast row — at real scale this is the eval suite, not the corpus.
      val benchDocs = session.read.parquet(new java.io.File(dir, glob).getPath)
        .filter(col("doc_id") < benchBelow)
        .select(col("doc_id").cast("long").as("bid"),
          array_distinct(gramsOf(split(col("text"), " "))).as("bset"))
      val bench = benchDocs
        .agg(collect_list(struct(col("bid"), col("bset"))).as("bs"))
      // Fused verdict kernel (r16): the former union-prefilter +
      // per-item array_intersect + longestRun `aggregate` HOF stack
      // evaluated interpreted per (gram × item) with a linear array_contains
      // scan per probe; [[graft.ops.DecontamVerdictExpr]] computes the
      // identical (hits, longest-run) pair — same xxhash64 grams, same
      // union short-circuit, same per-item gating and degenerate (0, 0)
      // results — with each item's gram set loaded ONCE per broadcast value
      // into an open-addressing long set. The 10× stress had s17 at 4.8×
      // corpus-linear, dominated by exactly this fold.
      val v = graft.ops.DecontamVerdictExpr.decontam_verdict(
        split(col("text"), " "), col("bs"))
      streamReader(session, dir, glob, maxFilesPerTrigger)
        .filter(col("doc_id") >= benchBelow)
        .repartition(16) // single-file source: restore scan parallelism (s06 lesson)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .crossJoin(broadcast(bench))
        // the kernel is aliased in its OWN projection: CollapseProject does
        // not inline a non-cheap expression referenced twice, so it runs
        // once per row (guide §4.4's duplication hazard)
        .select(col("doc_id"), v.as("__v"))
        .select(col("doc_id"), col("__v.hits").as("__h"), col("__v.mr").as("__mr"))
        .select(col("doc_id"), col("__h").cast("long").as("n_bench_hits"),
          when(col("__mr") > 0, col("__mr") + 4).otherwise(lit(0))
            .cast("long").as("max_span_tokens"),
          (col("__mr") >= 9).as("quarantine"))
    }

  /** KMV sketch size shared by [[runKmvDistinct]], its s28 read-back, and
    * the s28 oracle SQL (r14 ADVICE: the three sites hard-coded 64/63
    * independently — changing one silently diverged the sketch from the
    * oracle). The estimator is (k−1)·2⁶⁰ / h_k, so both the rank filter
    * and the numerator derive from this one constant. */
  val KmvK: Int = 64

  /** Streaming KMV bottom-k distinct sketch (s28): x141's deterministic
    * distinct-count estimator maintained AT ARRIVAL, per source — the
    * "how many distinct tokens has each feed shipped so far" gauge an
    * ingest dashboard actually watches, at O(k) state where the exact
    * answer needs unbounded state. Per batch each arriving doc explodes
    * to its distinct tokens, tokens hash to the x141 60-bit md5 value,
    * and flatMapGroupsWithState folds them into ONE sorted bottom-k
    * array per source (set semantics — KMV needs distinct values; the
    * TreeSet merge dedups and trims in the same pass). Bottom-k of a set
    * is a MONOTONE, arrival-order-free fold, so the final state equals
    * the batch bottom-k exactly — the estimate is value-comparable
    * against the batch oracle, the property HLL lacks (x141's argument,
    * streamed). Emits (source, rows_seen, sketch_size, h_k) per updated
    * group per batch; rows_seen is strictly increasing per source, so
    * the read-back's "latest row wins" rank needs no sink ordering.
    * Scale: state = k longs per source, sharded by source; per-batch
    * group work is one merge of the batch's hashes. */
  def runKmvDistinct(spark: SparkSession, dir: String, queryName: String,
                     k: Int = KmvK,
                     glob: String = "documents.parquet",
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "update") { session =>
      import session.implicits._
      val hashed = streamReader(session, dir, glob, maxFilesPerTrigger)
        .repartition(16) // single-file source: restore scan parallelism (s06 lesson)
        .select(col("source"), explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("source"),
          conv(substring(md5(concat(lit("kmv|"), col("tok"))), 1, 15), 16, 10)
            .cast("long").as("hv"))
        .as[(String, Long)]
      hashed.groupByKey(_._1)
        .flatMapGroupsWithState[(Array[Long], Long), (String, Long, Int, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (src: String, rows: Iterator[(String, Long)], state: GroupState[(Array[Long], Long)]) =>
            val (prior, seen) = state.getOption.getOrElse((Array.empty[Long], 0L))
            val set = scala.collection.mutable.TreeSet.empty[Long] ++ prior
            var n = seen
            rows.foreach { r =>
              n += 1
              if (set.size < k || r._2 < set.last) {
                set += r._2
                if (set.size > k) set -= set.last
              }
            }
            state.update((set.toArray, n))
            Iterator.single((src, n, set.size,
              if (set.size >= k) set.last else -1L))
        }
        .toDF("source", "rows_seen", "sketch_size", "hk")
    }

  /** Streaming exact-substring ADMISSION gate (s29): x147's criterion AT
    * ARRIVAL against the STORED corpus — Lee et al. 2022's exact-substring
    * dedup applied at ingest, the suffix-granularity member of the
    * admission family (s25 = MinHash bands, s26 = perceptual hash, s17 =
    * benchmark n-grams). An arriving doc (source 'src0') is admitted iff
    * NONE of its 16-token windows matches any window of the stored
    * (non-src0) corpus.
    *
    * Shape: the doc's window labels are built IN-ROW on the stream side
    * (the x147 map-side construction — zero joins, no explode-regroup
    * before the verdict), deduped to distinct label classes per doc, then
    * ONE stream-static equi-join against the stored corpus's distinct
    * label set marks hits. Wholly STATELESS — no state store, no
    * watermark; one verdict row per (doc, distinct label) appends to the
    * sink (explode_outer keeps short zero-window docs as a null-label
    * row, admitted by construction), and the batch-side read-back folds
    * them to the per-doc decision — the s25 "verdict rows, read-back
    * folds" contract.
    *
    * Scale posture: the stored label table is corpus-sized and therefore
    * UNHINTED (the r14 guard class: billions of distinct windows at
    * 100 TB) — the join shuffles on the label key like the stored-artifact
    * lookup it stands in for. The replay session runs without AQE: paired
    * BenchOne warm rounds at sf0.1 read s29 at 1.58 s with AQE and 1.19 s
    * without. Stream-side shuffle ships one constant-width label
    * per distinct window class, never window text.
    *
    * `storedLabelsPath` (the production shape, r15 verdict #1): a
    * [[graft.ops.Dedup.substringLabelArtifact]] parquet of the stored
    * corpus's distinct labels, maintained by the batch x147 pass — the
    * gate then just scans label rows, paying neither the corpus
    * re-tokenization nor the distinct per stream start (the derive-fresh
    * form's in-suite cost was dominated by exactly that rebuild, 3.7 s at
    * sf0.1). None derives the label set from the corpus parquet
    * in-session (kept for corpora with no artifact yet); either side is
    * persisted across micro-batches. */
  def runSubstringGate(spark: SparkSession, dir: String, queryName: String,
                       runTokens: Int = 16, capTokens: Int = 128,
                       glob: String = "documents.parquet",
                       maxFilesPerTrigger: Option[Int] = None,
                       storedLabelsPath: Option[String] = None): StreamingQuery =
    replay(spark, queryName, "append") { session =>
      val storedRaw = storedLabelsPath match {
        case Some(p) => session.read.parquet(p).select(col("r"))
        case None =>
          session.read.parquet(new java.io.File(dir, "documents.parquet").getPath)
            .filter(col("source") =!= "src0")
            .select(explode(
              graft.ops.Dedup.windowLabels(col("text"), runTokens, capTokens)).as("r"))
            .distinct()
      }
      val stored = graft.util.PersistScope.track(
        storedRaw.withColumn("hit", lit(true))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val incoming = streamReader(session, dir, glob, maxFilesPerTrigger)
        .filter(col("source") === "src0")
        .repartition(16) // single-file source: restore label-hash parallelism
        .select(col("doc_id"),
          graft.ops.Dedup.windowLabels(col("text"), runTokens, capTokens).as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_windows"),
          explode_outer(array_distinct(col("ws"))).as("r"))
      incoming.join(stored, Seq("r"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("hit"), lit(false)).as("hit"))
    }

  /** Streaming embedding-drift gate (s22): x117's codebook-drift check AT
    * ARRIVAL — every incoming embedding is scored against the codebooks
    * trained on the label-0 slice ("yesterday's data"), and flagged when
    * its quantization error runs >20% above the training slice's own
    * per-vector mean. One stateless map: the trained codebooks + baseline
    * ride a single broadcast row (m·k entries — model-sized, not
    * corpus-sized), the per-subspace argmin folds IN-ROW over that array,
    * and the error is the same exact 1e-6-micro int64 the batch query
    * computes — so the emitted decisions equal the batch oracle bitwise.
    * No shuffle, no state, no watermark; append-mode, one row per vector. */
  def runDriftGate(spark: SparkSession, dir: String, queryName: String,
                   glob: String = "embeddings.parquet",
                   maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    replay(spark, queryName, "append") { session =>
      // Stored-model pairing (r16, the s29/x82 pattern): the model trains
      // once per JVM as a parquet artifact on the CALLER's batch session
      // (production: once per pipeline run) and every gate invocation reads
      // the file — the previous form re-trained codebooks + baseline per
      // stream start, a full corpus pass inside the gate's timer. An empty
      // artifact (no label-0 slice) still crossJoins to zero rows — the
      // batch-oracle-matching silence is preserved.
      val model = session.read.parquet(
        graft.ops.PqQueries.driftModelArtifact(spark, dir))
      val src = graft.ops.KMeans.withInt8Codes(
        streamReader(session, dir, glob, maxFilesPerTrigger)
          .repartition(16), // single-file source: restore scan parallelism (s06 lesson)
        "embedding", "qv")
      src
        .crossJoin(broadcast(model))
        .select(col("vec_id").cast("long").as("vec_id"),
          graft.ops.PqQueries.streamQuantError(col("qv"), col("cs")).as("q_err_micro"),
          col("base"))
        .select(col("vec_id"), col("q_err_micro"),
          (col("q_err_micro") * 10 > col("base") * 12).as("drifted"))
    }
}

/** Transactional parquet batch sink: the missing piece between Structured
  * Streaming's at-least-once foreachBatch contract and exactly-once batch
  * EFFECTS. The engine replays a micro-batch whenever the sink ran but the
  * checkpoint commit didn't land (crash in the gap), and restarts from a
  * deleted/older checkpoint re-run earlier batch ids wholesale — a plain
  * `mode("append")` sink duplicates those batches silently.
  *
  * Protocol (one marker per batch id — the "txn-id table", here a marker
  * directory because no table-format jars ship in this container; on a real
  * lake the markers become rows in a Delta/Iceberg commit table and the
  * data+marker write one MERGE/transaction):
  *
  *  1. marker exists → the batch's effects are durable; skip entirely.
  *  2. write the batch to its OWN partition dir `batch_id=<id>` with
  *     mode(overwrite) — a replay of a half-written batch replaces the torn
  *     files instead of doubling them.
  *  3. create the marker (atomic create-new): effects published.
  *
  * Readers trust only marked batches ([[ExactlyOnceSink.readCommitted]],
  * [[ExactlyOnceSink.committedCount]]), so a crash in the 2→3 gap exposes
  * nothing and the replay converges. Markers, listings and existence checks
  * go through the Hadoop `FileSystem` of `outDir`'s path, so the markers
  * land beside the data on any scheme. Cost per micro-batch: one Spark
  * write job (step 2) plus a marker create on the driver, and no process
  * start on `file:` once [[graft.util.LocalFs]] is registered (the query
  * start registers it); counting what has committed reads parquet footers
  * on the driver and runs no job. Single concurrent writer per checkpoint
  * is the streaming engine's own guarantee; the protocol tolerates the
  * engine's at-least-once replays, not two independent queries writing one
  * outDir. */
object ExactlyOnceSink {
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

  private def commitsDir(outDir: String) = new Path(outDir, "_commits")
  private def fileSystem(spark: SparkSession, outDir: String): FileSystem =
    new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Apply one batch's effects exactly once. Returns true if this call
    * wrote the batch, false if it was already committed (replay). */
  def writeBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                 batchId: Long, outDir: String): Boolean = {
    val fs = fileSystem(batch.sparkSession, outDir)
    val marker = new Path(commitsDir(outDir), batchId.toString)
    if (fs.exists(marker)) {
      // Skip the EFFECT, not the computation: a stateful pipeline must still
      // execute the replayed batch so its state stores rebuild and commit
      // (Spark 4 validates the commit count and fails the query otherwise).
      batch.count()
      return false
    }
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    try fs.create(marker, false).close()
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    true
  }

  /** The directory of every committed batch, by ascending batch id: a
    * marker whose directory is missing names nothing, and a directory
    * without a marker is torn. Throws if no batch has committed yet. */
  private def committedDirs(fs: FileSystem, outDir: String): Seq[Path] = {
    def names(dir: Path): Set[String] =
      try fs.listStatus(dir).iterator.map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    val present = names(new Path(outDir))
    val dirs = names(commitsDir(outDir)).toSeq.flatMap(_.toLongOption).sorted
      .map(id => s"batch_id=$id").filter(present).map(new Path(outDir, _))
    require(dirs.nonEmpty, s"no committed batches under $outDir")
    dirs
  }

  /** Every committed batch, with `batch_id` recovered as a partition column.
    * Uncommitted (torn) batch dirs are invisible. Throws if no batch has
    * committed yet — there is no schema to give an empty frame. */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("basePath", outDir)
      .parquet(committedDirs(fileSystem(spark, outDir), outDir).map(_.toString): _*)

  /** `readCommitted(spark, outDir).count()` without a Spark job: the sum of
    * the row counts in the parquet footers of the committed batches' data
    * files, read on the driver. Data files are the ones a Spark read lists
    * (`_SUCCESS`, `.crc` and other `_`/`.` names are not data). The footers
    * are read with the context's Hadoop conf; parquet's default options
    * would build and parse a fresh one for every file. Throws as
    * readCommitted does if no batch has committed. */
  def committedCount(spark: SparkSession, outDir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fileSystem(spark, outDir)
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    def isData(f: FileStatus) = f.isFile && !f.getPath.getName.startsWith("_") &&
      !f.getPath.getName.startsWith(".")
    committedDirs(fs, outDir).iterator.flatMap(fs.listStatus(_)).filter(isData).map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf), options)
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
