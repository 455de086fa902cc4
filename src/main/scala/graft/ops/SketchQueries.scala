package graft.ops

import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.queries.QueryDef.t
import graft.streaming.EventStream

/** Sketch-backed corpus analytics: the queries where a fixed-size mergeable
  * summary replaces a cardinality-sized exact structure. Both are verified
  * the hard way — x41 replicates the whole Count-Min grid in DuckDB SQL and
  * bound-checks the estimates in-query (the x14/x37 self-verification
  * pattern); x42's output is EXACT (the bloom filter is a pre-filter that
  * cannot change the answer, only the work), so its oracle is plain SQL.
  */
object SketchQueries {

  private val CmsDepth = 4
  private val CmsWidth = 1024
  private val BloomBits = 65536
  private val BloomHashes = 3

  /** The x41 oracle: full CMS grid replicated in SQL, exact top-20 with
    * lower/eN bound checks. Shared verbatim by s09 — the streamed grid must
    * produce the exact same estimates as the batch-built one. */
  private val CmsHeavyHittersSql =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        uni AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
        tot AS (SELECT sum(n) AS nn FROM uni),
        top AS (SELECT token, n FROM uni ORDER BY n DESC, token LIMIT 20),
        cms AS (SELECT j, bucket, sum(n) AS bc FROM (
            SELECT js.j, ${Sketches.bucketSql("u.token", "js.j", CmsWidth)} AS bucket, u.n
            FROM uni u, (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS j) js)
          GROUP BY 1, 2),
        est AS (SELECT t.token, min(c.bc) AS est
          FROM top t, (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS j) js
          JOIN cms c ON c.j = js.j
          WHERE c.bucket = ${Sketches.bucketSql("t.token", "js.j", CmsWidth)}
          GROUP BY 1)
        SELECT t.token, CAST(t.n AS BIGINT) AS n, CAST(e.est AS BIGINT) AS cms_est,
          e.est >= t.n AS lower_bounded,
          (e.est - t.n) <= ceil(tot.nn * 2.718281828459045 / $CmsWidth) AS within_bound
        FROM top t JOIN est e ON e.token = t.token, tot"""

  /** The x41/s09 verification tail: exact top-20 + estimates off `grid`.
    * The exact unigram frame re-aggregates the pass-wide shared wordcount
    * stage (exact integer sums, so identical to a private tokenize) —
    * before round 9 both x41 and s09 re-exploded the corpus privately
    * here, ~1.5 s each at sf0.1 that the shared frame already paid. */
  private def cmsVerifyOutput(session: org.apache.spark.sql.SparkSession,
                              d: String, grid: org.apache.spark.sql.DataFrame) = {
    // Pass-wide: x41 and s09 both read this identical vocab-sized frame
    // (PersistScope would persist it twice under Verify's concurrent pool).
    val uni = graft.util.SharedStages.cached("cms-unigram", session, d)(
      OpsQueries.sharedWordCounts(session, d)
        .groupBy("token").agg(sum("c").as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = uni.agg(sum("n").as("nn"))
    val top = uni.orderBy(col("n").desc, col("token")).limit(20)
    val est = Sketches.cmsEstimate(grid, top, "token", CmsDepth, CmsWidth)
    top.join(est, "token").crossJoin(broadcast(tot))
      .select(col("token"), col("n").cast("long").as("n"),
        col("cms_est").cast("long").as("cms_est"),
        (col("cms_est") >= col("n")).as("lower_bounded"),
        (col("cms_est") - col("n") <=
          ceil(col("nn") * 2.718281828459045 / CmsWidth)).as("within_bound"))
  }

  /** The x76 / s12 shared oracle: token-length p50/p90 per source from the
    * width-8 histogram plus exact quantiles and the est−exact ∈ [1, 8]
    * audit columns (see x76's QueryDef commentary). */
  private val HistQuantilesSql: String = {
    // first sorted (key, c) entry whose cumulative count reaches rank k
    def qSql(vc: String, k: String) =
      s"""(list_filter(list_transform(generate_series(1, len($vc)),
            i -> struct_pack(cum := list_sum(list_transform(($vc)[1:i], e -> e.c)),
                             key := ($vc)[i].key)),
            s -> s.cum >= $k))[1].key"""
    s"""WITH nt AS (SELECT source, len(string_split(text, ' ')) AS nt FROM documents),
        n AS (SELECT source, count(*) AS n FROM nt GROUP BY 1),
        hb AS (SELECT source, list(struct_pack(key := b, c := c) ORDER BY b) AS hb FROM (
            SELECT source, least(nt // 8, 63) AS b, count(*) AS c FROM nt GROUP BY 1, 2) GROUP BY 1),
        vc AS (SELECT source, list(struct_pack(key := nt, c := c) ORDER BY nt) AS vc FROM (
            SELECT source, nt, count(*) AS c FROM nt GROUP BY 1, 2) GROUP BY 1),
        j AS (SELECT n.source, n.n,
                (n.n * 50 + 99) // 100 AS k50, (n.n * 90 + 99) // 100 AS k90,
                hb.hb, vc.vc FROM n JOIN hb USING (source) JOIN vc USING (source))
        SELECT source, CAST(n AS BIGINT) AS n,
          CAST(${qSql("vc", "k50")} AS BIGINT) AS p50_exact,
          CAST((${qSql("hb", "k50")} + 1) * 8 AS BIGINT) AS p50_est,
          (${qSql("hb", "k50")} + 1) * 8 - ${qSql("vc", "k50")} BETWEEN 1 AND 8 AS p50_in_bound,
          CAST(${qSql("vc", "k90")} AS BIGINT) AS p90_exact,
          CAST((${qSql("hb", "k90")} + 1) * 8 AS BIGINT) AS p90_est,
          (${qSql("hb", "k90")} + 1) * 8 - ${qSql("vc", "k90")} BETWEEN 1 AND 8 AS p90_in_bound
        FROM j"""
  }

  val defs: Seq[QueryDef] = Seq(

    // Heavy hitters with Count-Min estimates, self-verified: the exact
    // top-20 tokens (oracle-checkable ground truth) carry their sketch
    // estimate, the guaranteed lower-bound check, and the eN-bound check.
    // Scale story: the exact path shuffles a vocabulary-sized frame; the
    // sketch is depth x width rows with map-side combine no matter how many
    // distinct tokens exist, and merges across shards/days by cell-wise
    // addition. At 100 TB the candidate set comes from per-shard top-k
    // (every global heavy hitter is a shard heavy hitter for bounded shard
    // counts), not from the exact histogram computed here for verification.
    QueryDef("x41_cms_heavy_hitters", CmsHeavyHittersSql) { (s, d) =>
      val tok = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      cmsVerifyOutput(s, d, Sketches.countMin(tok, "token", CmsDepth, CmsWidth))
    },

    // The x41 grid maintained as STREAMING STATE (s09): documents arrive
    // through a file stream, each micro-batch folds its token cells into a
    // keyed running-count aggregation, and the sink always holds the
    // current mergeable grid — state bounded at depth×width cells by
    // construction (the sketch property applied to the state store), so no
    // watermark and nothing to evict. Update mode emits touched cells per
    // batch; counts are monotone, so the current grid is max(bc) per cell
    // regardless of how the input was batched. Gate: the streamed grid
    // must yield EXACTLY x41's estimates — same oracle, verbatim.
    QueryDef("s09_stream_cms", CmsHeavyHittersSql) { (s, d) =>
      val name = "s09_sink_" + math.abs(d.hashCode).toString
      val sink = EventStream.sinkTable(
        EventStream.runCmsMaintain(s, d, name, CmsDepth, CmsWidth))
      // The grid is ≤ depth×width cells BY CONSTRUCTION (the sketch
      // property) — small enough to lift onto the parent session as a
      // local relation, so the verify tail runs where the pass-wide
      // shared wordcount stage lives instead of on the stream's child
      // session (which cannot see the parent's cache). Same class of
      // bounded driver materialization as a broadcast benchmark set.
      import s.implicits._
      val grid = sink.groupBy("j", "bucket").agg(max("bc").as("bc"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq.toDF("j", "bucket", "bc")
      cmsVerifyOutput(s, d, grid)
    },

    // The x41 scale path operationalized: candidates from per-SHARD
    // (per-source) top-m — a global heavy hitter is a shard heavy hitter
    // for bounded shard counts — ranked by their Count-Min estimates into a
    // global top-k, with membership in the EXACT global top-k as the
    // self-verifying output column. The exact global histogram exists here
    // only to verify; the production pipeline ships shard top-m lists
    // (m·shards rows) plus the mergeable grid, never the vocabulary.
    QueryDef("x49_sharded_heavy_hitters",
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
          st AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
          shard AS (SELECT DISTINCT token FROM (
              SELECT token, row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rn
              FROM st) WHERE rn <= 5),
          uni AS (SELECT token, sum(c) AS n FROM st GROUP BY 1),
          exact AS (SELECT token FROM uni ORDER BY n DESC, token LIMIT 10),
          cms AS (SELECT j, bucket, sum(n) AS bc FROM (
              SELECT js.j, ${Sketches.bucketSql("u.token", "js.j", CmsWidth)} AS bucket, u.n
              FROM uni u, (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS j) js)
            GROUP BY 1, 2),
          est AS (SELECT s.token, min(c.bc) AS est
            FROM shard s, (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS j) js
            JOIN cms c ON c.j = js.j
            WHERE c.bucket = ${Sketches.bucketSql("s.token", "js.j", CmsWidth)}
            GROUP BY 1),
          pick AS (SELECT token, est FROM est ORDER BY est DESC, token LIMIT 10)
          SELECT p.token, CAST(p.est AS BIGINT) AS cms_est,
            CAST(u.n AS BIGINT) AS n,
            EXISTS (SELECT 1 FROM exact e WHERE e.token = p.token) AS in_exact_topk
          FROM pick p JOIN uni u ON u.token = p.token""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = t(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val st = graft.util.PersistScope.track(
        tok.groupBy("source", "token").agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val shard = st
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("token"))))
        .filter(col("rn") <= 5).select("token").distinct()
      val uni = graft.util.PersistScope.track(
        st.groupBy("token").agg(sum("c").as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val exact = uni.orderBy(col("n").desc, col("token")).limit(10)
        .select(col("token").as("e_token"))
      // the grid from the reduced (token, n) frame: identical cell values
      // to the raw-stream build (commutative sums), cheaper to verify with
      val cms = uni
        .select(col("n"), posexplode(transform(sequence(lit(0), lit(CmsDepth - 1)),
          j => Sketches.bucket(col("token"), j, CmsWidth))).as(Seq("j", "bucket")))
        .groupBy("j", "bucket").agg(sum("n").as("bc"))
      val pick = Sketches.cmsEstimate(cms, shard, "token", CmsDepth, CmsWidth)
        .withColumnRenamed("cms_est", "est")
        .orderBy(col("est").desc, col("token")).limit(10)
      pick.join(uni, "token")
        .join(broadcast(exact), col("token") === col("e_token"), "left")
        .select(col("token"), col("est").cast("long").as("cms_est"),
          col("n").cast("long").as("n"),
          col("e_token").isNotNull.as("in_exact_topk"))
    },

    // Contamination check behind a bloom gate. Same semantics as x23
    // (benchmark = shingles of docs 0-9) but the scale-honest shape: the
    // benchmark set is NOT broadcast exactly — its 64-Kbit bloom image is.
    // Docs' shingles that fail the bloom skip the exact join entirely (no
    // false negatives, so nothing real is skipped); survivors are verified
    // by a shingle-keyed equi-join, so the output is exact and the oracle
    // is the plain SQL with no bloom at all. At 100 TB the bloom stays a
    // few MB however large the benchmark corpus, and the exact join only
    // carries the ~fp-rate fraction of innocent shingles.
    QueryDef("x42_bloom_contamination",
      s"""WITH sh AS (SELECT doc_id, list_distinct(${OpsQueries.ShinglesSql}) AS s FROM documents),
          b AS (SELECT DISTINCT unnest(s) AS x FROM sh WHERE doc_id < 10),
          ex AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE doc_id >= 10),
          m AS (SELECT doc_id, count(*) AS m FROM ex JOIN b USING (x) GROUP BY 1)
          SELECT sh.doc_id, CAST(len(s) AS BIGINT) AS n_shingles,
            CAST(coalesce(m.m, 0) AS BIGINT) AS n_matched,
            round(coalesce(m.m, 0)::DOUBLE / greatest(len(s), 1), 6) AS contamination,
            coalesce(m.m, 0) > 0 AS contaminated
          FROM sh LEFT JOIN m ON m.doc_id = sh.doc_id WHERE sh.doc_id >= 10""") { (s, d) =>
      val sh = OpsQueries.sharedShingles(s, d)
      val bench = graft.util.PersistScope.track(
        sh.filter(col("doc_id") < 10).select(explode(col("s")).as("x")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bloom = Sketches.bloomBuild(bench, "x", BloomBits, BloomHashes)
      val docSh = sh.filter(col("doc_id") >= 10)
      val matched = docSh.select(col("doc_id"), explode(col("s")).as("x"))
        .crossJoin(broadcast(bloom))
        .filter(Sketches.bloomContains(col("bm"), col("x"), BloomBits, BloomHashes))
        .join(bench, "x")
        .groupBy("doc_id").agg(count(lit(1)).as("m"))
      docSh.select(col("doc_id"), size(col("s")).as("n_sh"))
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh").cast("long").as("n_shingles"),
          coalesce(col("m"), lit(0L)).cast("long").as("n_matched"),
          round(coalesce(col("m"), lit(0L)).cast("double")
            / greatest(col("n_sh"), lit(1)), 6).as("contamination"),
          (coalesce(col("m"), lit(0L)) > 0).as("contaminated"))
    },

    // Histogram-quantile sketch with an IN-QUERY error audit — the
    // mergeable-quantile shape (KLL/t-digest's fixed-width cousin): per
    // source the token-length distribution reduces to a ≤64-cell bucket
    // histogram (width 8, top-clamped) — bounded state, mergeable by cell
    // addition, the same sketch property as x14's HLL and x41's CMS grid.
    // p50/p90 estimates read the histogram (upper bucket edge); the EXACT
    // quantiles ride along from the (source, nt)-count frame (itself
    // bounded: sources × max doc length) and the emitted in_bound columns
    // assert the sketch's guarantee — est−exact ∈ [1, W] whenever the
    // estimate's bucket wasn't clamped. Everything is exact integer
    // arithmetic: counts, cumulative sums (an O(cells²) in-row prefix scan
    // over ≤64-entry arrays — constant work per source), rank thresholds
    // ceil(q·n/100) via integer div. Self-verifying numerics, x30-style:
    // the quality gate is IN the result, not in a spec.
    QueryDef("x76_histogram_quantiles", HistQuantilesSql) { (s, d) =>
      val nt = t(s, d, "documents")
        .select(col("source"), size(split(col("text"), " ")).as("nt"))
      val n = nt.groupBy("source").agg(count(lit(1)).as("n"))
      val hb = nt.select(col("source"), least(col("nt") / 8, lit(63)).cast("long").as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(array_sort(collect_list(
          struct(col("b").as("key"), col("c")))).as("hb"))
      val vc = nt.groupBy("source", "nt").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(array_sort(collect_list(
          struct(col("nt").cast("long").as("key"), col("c")))).as("vc"))
      histQuantileOutput(n.join(hb, "source").join(vc, "source"))
    },

    // The x76 sketch MAINTAINED AS STREAMING STATE (the s09/x41 pairing,
    // applied to quantiles): docs arrive through the stream, each updates
    // one histogram cell and one value cell of a keyed running count —
    // state bounded at sources × (64 + max doc length) cells by
    // construction. Counts are monotone, so the read-back's max-per-key is
    // exact under any batching; the reassembled arrays walk the identical
    // quantile scan and the gate is x76's batch oracle VERBATIM — nobody
    // can tell the streamed sketch from the batch one.
    QueryDef("s12_stream_histogram", HistQuantilesSql) { (s, d) =>
      val name = "s12_sink_" + math.abs(d.hashCode).toString
      val sink = EventStream.sinkTable(EventStream.runHistMaintain(s, d, name))
      // ONE aggregation reshapes the cell state into (n, hb, vc) — three
      // filtered branches would self-join the memory-sink view, which the
      // analyzer cannot deduplicate (MemoryPlan attrs are fixed).
      // collect_list drops the nulls the `when` produces, so each array
      // gathers exactly its kind's cells.
      val joined = sink.groupBy("source", "kind", "key").agg(max("cnt").as("c"))
        .groupBy("source").agg(
          sum(when(col("kind") === "v", col("c"))).as("n"),
          array_sort(collect_list(when(col("kind") === "h",
            struct(col("key"), col("c"))))).as("hb"),
          array_sort(collect_list(when(col("kind") === "v",
            struct(col("key"), col("c"))))).as("vc"))
      histQuantileOutput(joined)
    },

    // Streaming greedy sequence packing (the x25 batch operator as keyed
    // state): docs arrive through a file stream, each is assigned the
    // context-window bin it starts in, and the per-language fill level is
    // carried across micro-batches as ONE long of state per language —
    // the packer a training-data ingest runs unbounded, with nothing to
    // watermark (state size = language count by construction). Gate: the
    // streamed assignment must equal x25's batch oracle verbatim.
    QueryDef("s13_stream_packing",
      """SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(before_doc / 2048.0) AS BIGINT) AS bin_id
         FROM (
           SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             coalesce(sum(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_doc
           FROM documents)""") { (s, d) =>
      val name = "s13_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runPackingMaintain(s, d, name))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin_id"))
    },

    // Streaming weighted-sample maintenance: x81's priority sample kept
    // current as docs arrive — the custom bounded-heap aggregate
    // (TopKMinExpr) IS the state-store value, so state is k rows per
    // source by construction and the engine's serialize/merge maintains it
    // across micro-batches. The heap improves monotonically, so ranking
    // the union of all Update-mode emissions reconstructs the exact final
    // sample under any batching. Gate: must equal x81's batch oracle
    // verbatim.
    QueryDef("s14_stream_weighted_sample",
      s"""WITH r AS (SELECT source, doc_id, len(string_split(text, ' ')) AS w,
            ${Sketches.bucketSql("doc_id::VARCHAR", "'wsmp'", 65536)} AS h FROM documents)
          SELECT source, doc_id, CAST(w AS BIGINT) AS n_tokens,
            w * 65536.0 / (h + 1) AS priority, CAST(rn AS INT) AS smpl_rank
          FROM (SELECT *, row_number() OVER (
              PARTITION BY source ORDER BY w * 65536.0 / (h + 1) DESC, doc_id) AS rn FROM r)
          WHERE rn <= 25""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val name = "s14_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runWeightedSampleMaintain(s, d, name))
        .select(col("source"), explode(col("top")).as("p"))
        .select(col("source"), col("p.np").as("np"), col("p.doc_id").as("doc_id"),
          col("p.w").as("w"), col("p.priority").as("priority"))
        .distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("np"), col("doc_id"))))
        .filter(col("rn") <= 25)
        .select(col("source"), col("doc_id"), col("w").cast("long").as("n_tokens"),
          col("priority"), col("rn").cast("int").as("smpl_rank"))
    })

  /** The x76 quantile read-out over a (source, n, hb, vc) frame (sorted
    * (key, c) histogram and value-count arrays) — shared verbatim by the
    * batch query and the streamed-state twin (s12), so the two can only
    * differ if the STATE differs. In-row prefix scans over ≤64-entry (hb) /
    * ≤max-length (vc) arrays; all integer arithmetic. */
  private def histQuantileOutput(joined: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    def q(arr: Column, k: Column): Column =
      element_at(filter(
        transform(sequence(lit(1), size(arr)), i => struct(
          aggregate(slice(arr, lit(1), i), lit(0L), (a, e) => a + e.getField("c")).as("cum"),
          element_at(arr, i).getField("key").as("key"))),
        x => x.getField("cum") >= k), 1).getField("key")
    joined
      .withColumn("k50", expr("(n * 50 + 99) div 100"))
      .withColumn("k90", expr("(n * 90 + 99) div 100"))
      .select(col("source"), col("n").cast("long").as("n"),
        q(col("vc"), col("k50")).cast("long").as("p50_exact"),
        ((q(col("hb"), col("k50")) + 1) * 8).cast("long").as("p50_est"),
        ((q(col("hb"), col("k50")) + 1) * 8 - q(col("vc"), col("k50")))
          .between(1, 8).as("p50_in_bound"),
        q(col("vc"), col("k90")).cast("long").as("p90_exact"),
        ((q(col("hb"), col("k90")) + 1) * 8).cast("long").as("p90_est"),
        ((q(col("hb"), col("k90")) + 1) * 8 - q(col("vc"), col("k90")))
          .between(1, 8).as("p90_in_bound"))
  }
}
