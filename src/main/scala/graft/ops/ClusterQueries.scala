package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.queries.QueryDef
import graft.queries.QueryDef.t

/** Clustering-family curation ops: deterministic k-means over int8 codes
  * (x32), SemDeDup-style within-cluster semantic dedup composing it (x33),
  * and passage-level first-occurrence dedup with document reassembly (x34).
  *
  * Determinism posture (what makes these oracle-checkable): every cross-row
  * reduction that feeds a float is an exact INTEGER sum (int8 codes, int64
  * dot products / norms / centroid sums), so no result depends on partial-agg
  * order; the only float folds are per-row, fixed index order in both
  * engines.
  */
object ClusterQueries {

  private val K = 8
  private val Iters = 2
  private val Tau = 0.4 // quantized-cosine dedup threshold (organic near-dups)

  /** The int8-quantization + 2-round Lloyd chain as DuckDB CTEs (mirrors
    * KMeans.assignments: init = vectors with id < k, assign, integer-sum
    * centroid update, assign). The oracle's assignment is a row_number
    * window; the engine's is an in-row array_min argmin — same (dist², cid)
    * ordering, so identical assignments. */
  /** The x26 int8-quantization chain as DuckDB CTEs (ends at `qb`). */
  private[ops] val QuantCte =
    """e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e FROM embeddings),
 m AS (SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS emax FROM e),
 qb AS (SELECT vec_id, list_transform(e, v -> CASE WHEN emax = 0 THEN 0
          ELSE CAST(floor(v / emax * 127 + 0.5) AS INT) END) AS qv FROM m)"""

  /** Exact int64 dist² between two int-code arrays, as DuckDB SQL. */
  private def bDi(a: String, b: String) =
    s"""CAST(list_sum(list_transform(generate_series(1, 64),
         i -> (($a)[i]::BIGINT - ($b)[i]::BIGINT) * (($a)[i]::BIGINT - ($b)[i]::BIGINT))) AS BIGINT)"""

  /** The x70 bucketed-assignment chain as DuckDB CTEs (mirrors
    * KMeans.bucketedAssignments over the shifted large-k centroid set; ends
    * at `ba` = (vec_id, cid, dist2, cell), with `coarse` available for
    * query-side probes). Shared by x70 (assignment) and x80 (IVF search). */
  private val BucketedCte =
    s"""$QuantCte,
        cent AS (SELECT vec_id * 4 + j AS cid, list_transform(qv, v -> v + j) AS ce
                 FROM qb, unnest([0, 1, 2, 3]) AS t(j)),
        coarse AS (SELECT cid AS cell, ce AS ge FROM cent WHERE cid % 44 = 0),
        cc AS (SELECT cell, cid, ce FROM (
           SELECT g.cell, c.cid, c.ce,
             row_number() OVER (PARTITION BY c.cid
               ORDER BY ${bDi("c.ce", "g.ge")}, g.cell) AS rn
           FROM cent c CROSS JOIN coarse g) WHERE rn = 1),
        vp AS (SELECT vec_id, qv, cell FROM (
           SELECT b.vec_id, b.qv, g.cell,
             row_number() OVER (PARTITION BY b.vec_id
               ORDER BY ${bDi("b.qv", "g.ge")}, g.cell) AS rn
           FROM qb b CROSS JOIN coarse g) WHERE rn <= 5),
        ba AS (SELECT vec_id, cid, dist2, cell FROM (
           SELECT v.vec_id, c.cid, ${bDi("v.qv", "c.ce")} AS dist2, v.cell,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY ${bDi("v.qv", "c.ce")}, c.cid) AS rn
           FROM vp v JOIN cc c USING (cell)) WHERE rn = 1)"""

  private[ops] def kmeansCte(withD2: Boolean): String = {
    val d2 = """list_sum(list_transform(generate_series(1, 64),
          i -> (b.qv[i]::DOUBLE - c.ce[i]) * (b.qv[i]::DOUBLE - c.ce[i])))"""
    val d2Col = if (withD2) s", $d2 AS d2" else ""
    val d2Out = if (withD2) ", d2" else ""
    s"""$QuantCte,
 c0 AS (SELECT vec_id AS cid, list_transform(qv, v -> v::DOUBLE) AS ce FROM qb WHERE vec_id < $K),
 a1 AS (SELECT vec_id, qv, cid FROM (
    SELECT b.vec_id, b.qv, c.cid,
      row_number() OVER (PARTITION BY b.vec_id ORDER BY $d2, c.cid) AS rn
    FROM qb b CROSS JOIN c0 c) WHERE rn = 1),
 u1 AS (SELECT cid, pos, sum(qv[pos])::DOUBLE / count(*) AS val
        FROM a1, (SELECT unnest(generate_series(1, 64)) AS pos) GROUP BY cid, pos),
 c1 AS (SELECT cid, list(val ORDER BY pos) AS ce FROM u1 GROUP BY cid),
 a2 AS (SELECT vec_id, qv, cid$d2Out FROM (
    SELECT b.vec_id, b.qv, c.cid$d2Col,
      row_number() OVER (PARTITION BY b.vec_id ORDER BY $d2, c.cid) AS rn
    FROM qb b CROSS JOIN c1 c) WHERE rn = 1)"""
  }

  /** Final k-means assignment, shared between x32/x33: computed and
    * persisted once per (session, dir) harness pass. MEMORY_AND_DISK — the
    * frame is one row per vector with a 64-int code array, and the x33 pair
    * join reads it twice. */
  // The int8 code frame is pass-scoped (not PersistScope): the shared
  // assignment frame below outlives any single query's action, and a
  // rebuild of its blocks must find the upstream codes still cached — a
  // thread-local scope would have released them with the first consuming
  // query. x45's seeding reads the same frame.
  private[ops] def sharedInt8(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("embeddings-int8", s, d)(
      KMeans.withInt8Codes(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")), "embedding", "qv")
        .select("vec_id", "qv")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private[ops] def sharedKmeans(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("embeddings-kmeans", s, d) {
      KMeans.assignments(sharedInt8(s, d), "vec_id", "qv", K, Iters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The x70/x80 synthetic large-k centroid set: FOUR shifted int-code
    * variants per corpus vector, k = 4·|corpus| (2000 at sf0.01, 20000 at
    * sf0.1) — deliberately past the broadcast bar and growing with SF so
    * the bucketed path is exercised at the scale it exists for. */
  private def shiftedCents(qb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    qb.select(col("vec_id"), col("qv"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("j"))
      .select((col("vec_id") * 4 + col("j")).as("cid"),
        transform(col("qv"), v => v + col("j")).as("ce"))

  /** x70's bucketed (non-broadcast) assignment over the shifted large-k
    * centroid set, shared between x70 (assignment inspection) and x80 (IVF
    * search over the resulting cells) — one index build per pass, the way a
    * production pipeline materializes its IVF lists once. Vector-count
    * rows: memory-first. */
  private def sharedBucketedAssign(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("embeddings-bucketed", s, d) {
      val qb = sharedInt8(s, d)
      KMeans.bucketedAssignments(shiftedCents(qb), qb, "vec_id", "qv",
          cellStep = 44, nprobe = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Embedding-side shared stages for the bench's pre-build pass, in
    * dependency order — see [[OpsQueries.stageBuilders]]. */
  private[graft] def stageBuilders
      : Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "int8" -> (sharedInt8(_, _)),
    "kmeans" -> (sharedKmeans(_, _)),
    "bucketed" -> (sharedBucketedAssign(_, _)))

  val defs: Seq[QueryDef] = Seq(

    // Deterministic k-means (k=8, 2 Lloyd rounds) over int8 codes: the
    // cluster index for IVF/SemDeDup. Assignment is shuffle-free (broadcast
    // centroid array + in-row argmin); the update shuffles k·dims integer
    // rows. The window count here is the only corpus-keyed shuffle.
    QueryDef("x32_kmeans",
      s"""WITH ${kmeansCte(withD2 = true)}
          SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
            CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_size,
            round(d2, 4) AS dist2
          FROM a2""") { (s, d) =>
      sharedKmeans(s, d)
        .select(col("vec_id"), col("cid").cast("long").as("cluster"),
          count(lit(1)).over(Window.partitionBy("cid")).as("cluster_size"),
          round(col("dist2"), 4).as("dist2"))
    },

    // Cluster-label PURITY audit — the "is the unsupervised index telling
    // the truth" check a pipeline runs before trusting k-means cells for
    // SemDeDup or balanced selection: per cluster, how concentrated are
    // the supervised labels (majority share + distinct-label count). Low
    // purity everywhere means the cells slice across semantics and
    // cell-scoped dedup (x33) is operating near random partitions — the
    // measured caveat, in-query. Shape: one (cluster, label)-keyed count
    // (map-side combined, ≤ clusters×labels rows), the majority pick is a
    // window over each cluster's ≤|labels| count rows, purity is one exact
    // integer division at output. Rides the shared assignment stage.
    QueryDef("x94_cluster_purity",
      s"""WITH ${kmeansCte(withD2 = false)},
          lab AS (SELECT a2.cid, el.label FROM a2 JOIN embeddings el ON el.vec_id = a2.vec_id),
          lc AS (SELECT cid, label, count(*) AS c FROM lab GROUP BY 1, 2),
          cn AS (SELECT cid, sum(c) AS n, count(*) AS n_labels FROM lc GROUP BY 1),
          maj AS (SELECT cid, label AS majority_label, c AS n_majority FROM (
              SELECT *, row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn
              FROM lc) WHERE rn = 1)
          SELECT CAST(maj.cid AS BIGINT) AS cluster, CAST(cn.n AS BIGINT) AS n,
            CAST(cn.n_labels AS BIGINT) AS n_labels,
            maj.majority_label, CAST(maj.n_majority AS BIGINT) AS n_majority,
            round(maj.n_majority::DOUBLE / cn.n, 6) AS purity
          FROM maj JOIN cn USING (cid)""") { (s, d) =>
      val lab = sharedKmeans(s, d).select("vec_id", "cid")
        .join(t(s, d, "embeddings").select("vec_id", "label"), "vec_id")
      val lc = lab.groupBy("cid", "label").agg(count(lit(1)).as("c"))
      val n = lc.groupBy("cid").agg(sum("c").as("n"), count(lit(1)).as("n_labels"))
      val m = lc.withColumn("rn", row_number().over(
          Window.partitionBy("cid").orderBy(col("c").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cid"), col("label").as("majority_label"), col("c").as("n_majority"))
      m.join(n, "cid")
        .select(col("cid").cast("long").as("cluster"), col("n").cast("long").as("n"),
          col("n_labels").cast("long").as("n_labels"),
          col("majority_label"), col("n_majority").cast("long").as("n_majority"),
          round(col("n_majority").cast("double") / col("n"), 6).as("purity"))
    },

    // SemDeDup: within-CLUSTER near-duplicate pruning — pairs are generated
    // only inside a k-means cell (cluster-key equi-join; the cells bound the
    // pair blowup the way LSH buckets do in x16), scored by QUANTIZED cosine
    // (integer dot and norms — exact, order-independent), greedy min-id
    // survivor anti-join. Composes the x32 assignment via the shared stage.
    QueryDef("x33_semantic_dedup",
      s"""WITH ${kmeansCte(withD2 = false)},
          pairs AS (
            SELECT a.vec_id AS i1, b.vec_id AS i2,
              list_sum(list_transform(generate_series(1, 64), i -> a.qv[i]::BIGINT * b.qv[i]::BIGINT))::DOUBLE
                / (sqrt(list_sum(list_transform(a.qv, v -> v::BIGINT * v::BIGINT))::DOUBLE)
                   * sqrt(list_sum(list_transform(b.qv, v -> v::BIGINT * v::BIGINT))::DOUBLE)) AS qcos
            FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
          doomed AS (SELECT DISTINCT i2 FROM pairs WHERE qcos >= $Tau)
          SELECT q.vec_id FROM qb q ANTI JOIN doomed d ON q.vec_id = d.i2""") { (s, d) =>
      Dedup.dropSemanticDuplicates(sharedKmeans(s, d), "vec_id", "qv", Tau)
    },

    // IVF ANN with a TRAINED coarse quantizer — the production composition
    // x15 stubs (its centroids are k-means with zero iterations): cells come
    // from the 2-round Lloyd assignment (shared with x32/x33), queries
    // search ONLY their own cell, ranked by exact float cosine. Training
    // tightens the cells around the data, and the search stays a cell-key
    // equi-join — identical scale shape, better recall per probed vector.
    QueryDef("x38_ivf_trained", {
      val cosSql =
        """(list_sum(list_transform(generate_series(1, len(q.qe)), i -> q.qe[i]::DOUBLE * z.emb[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(q.qe, v -> v::DOUBLE * v::DOUBLE)))
               * sqrt(list_sum(list_transform(z.emb, v -> v::DOUBLE * v::DOUBLE)))))"""
      s"""WITH ${kmeansCte(withD2 = false)},
          assigned AS (
            SELECT a.vec_id, a.cid, e.embedding AS emb
            FROM a2 a JOIN embeddings e USING (vec_id)),
          q AS (SELECT vec_id AS qid, emb AS qe, cid FROM assigned WHERE vec_id >= 8 AND vec_id < 24)
          SELECT qid, vec_id, rank, cos FROM (
            SELECT q.qid, z.vec_id,
              round($cosSql, 5) AS cos,
              CAST(row_number() OVER (PARTITION BY q.qid
                ORDER BY $cosSql DESC, z.vec_id) AS INT) AS rank
            FROM q JOIN assigned z ON z.cid = q.cid AND z.vec_id <> q.qid)
          WHERE rank <= 3"""
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val assigned = sharedKmeans(s, d).select("vec_id", "cid")
        .join(t(s, d, "embeddings").select(col("vec_id"), col("embedding")), "vec_id")
      // limit(16): no-op on the id-predicate row set, makes the broadcast
      // bound machine-visible to PlanGuard's corpus-lineage check.
      val q = assigned.filter(col("vec_id") >= 8 && col("vec_id") < 24).limit(16)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cid"))
      val w = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      assigned.join(broadcast(q), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", VectorOps.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"), col("rank"), round(col("rawcos"), 5).as("cos"))
    },

    // Passage-level first-occurrence dedup (boilerplate removal): docs split
    // into 8-token passages; only the globally-first occurrence of each
    // passage text survives; docs reassembled from surviving passages.
    // See Dedup.passageDedup for the shape.
    QueryDef("x34_passage_dedup",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         p AS (SELECT doc_id, j AS pos, array_to_string(tk[(j*8+1):(j*8+8)], ' ') AS ptext
               FROM tk, unnest(generate_series(0, CAST(ceil(len(tk) / 8.0) AS BIGINT) - 1)) AS t(j)),
         w AS (SELECT md5(ptext) AS h, min(struct_pack(d:=doc_id, p:=pos)) AS win FROM p GROUP BY 1),
         kept AS (SELECT p.doc_id, p.pos, p.ptext, (struct_pack(d:=p.doc_id, p:=p.pos) = w.win) AS keep
                  FROM p JOIN w ON md5(p.ptext) = w.h)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
           coalesce(string_agg(ptext, ' ' ORDER BY pos) FILTER (keep), '') AS cleaned_text
         FROM kept GROUP BY doc_id""") { (s, d) =>
      Dedup.passageDedup(t(s, d, "documents"), "doc_id", "text", passageTokens = 8)
    },

    // Deterministic k-center greedy seeding (farthest-point / Gonzalez) over
    // the shared int8 codes — the seeding x32's "first k ids" init upgrades
    // to when cluster quality matters: maximally spread seeds, 2-approx for
    // the k-center objective, zero RNG. The oracle unrolls the k=4 greedy
    // rounds as chained CTEs (each = distance update + top-1) — exactly the
    // engine's per-round broadcast + TakeOrdered, so both walk the same
    // deterministic integer-distance sequence. See KMeans.kCenterSeeds for
    // the scale shape (k passes, no corpus shuffle).
    QueryDef("x45_kcenter_seeds", {
      val di = """CAST(list_sum(list_transform(generate_series(1, 64),
           i -> (b.qv[i]::BIGINT - c.qv[i]::BIGINT) * (b.qv[i]::BIGINT - c.qv[i]::BIGINT))) AS BIGINT)"""
      s"""WITH $QuantCte,
          c1 AS (SELECT vec_id, qv FROM qb WHERE vec_id = (SELECT min(vec_id) FROM qb)),
          d1 AS (SELECT b.vec_id, b.qv, $di AS d FROM qb b, c1 c),
          c2 AS (SELECT vec_id, qv, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
          d2 AS (SELECT b.vec_id, b.qv, least(b.d, $di) AS d FROM d1 b, c2 c),
          c3 AS (SELECT vec_id, qv, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
          d3 AS (SELECT b.vec_id, b.qv, least(b.d, $di) AS d FROM d2 b, c3 c),
          c4 AS (SELECT vec_id, qv, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1)
          SELECT * FROM (
            SELECT CAST(1 AS INT) AS rank, vec_id, CAST(0 AS BIGINT) AS dist2_at_pick FROM c1
            UNION ALL SELECT CAST(2 AS INT), vec_id, CAST(d AS BIGINT) FROM c2
            UNION ALL SELECT CAST(3 AS INT), vec_id, CAST(d AS BIGINT) FROM c3
            UNION ALL SELECT CAST(4 AS INT), vec_id, CAST(d AS BIGINT) FROM c4)
          WHERE rank = 1 OR dist2_at_pick > 0"""
    }) { (s, d) =>
      KMeans.kCenterSeeds(sharedInt8(s, d), "vec_id", "qv", k = 4)
        .select(col("rank").cast("int").as("rank"), col("vec_id"),
          col("dist2_at_pick"))
    },

    // k-means|| oversampled seeding — x45's large-k escape hatch as a real
    // operator: each round admits every point whose PORTABLE-HASH priority
    // falls under the paper's l·d²/cost admission probability (determinism
    // replaces the RNG; expected ~l candidates/round at ANY corpus size),
    // then the admitted set gets k-means||'s weights (points nearest each
    // center). The oracle unrolls both rounds: seed → distances → cost →
    // admission → running-min update → admission → weight assignment, every
    // quantity an exact integer or a single well-defined double ratio.
    QueryDef("x47_kmeanspp_oversample", {
      def di(a: String, b: String) =
        s"""CAST(list_sum(list_transform(generate_series(1, 64),
             i -> (($a.qv)[i]::BIGINT - ($b.qv)[i]::BIGINT) * (($a.qv)[i]::BIGINT - ($b.qv)[i]::BIGINT))) AS BIGINT)"""
      s"""WITH $QuantCte,
          c0 AS (SELECT vec_id, qv FROM qb WHERE vec_id = (SELECT min(vec_id) FROM qb)),
          d0 AS (SELECT b.vec_id, b.qv, ${di("b", "c")} AS d FROM qb b, c0 c),
          t0 AS (SELECT sum(d) AS cost FROM d0),
          s1 AS (SELECT vec_id, qv FROM d0 b, t0
                 WHERE ${Sketches.bucketSql("b.vec_id::VARCHAR", "'1'", 65536)} / 65536.0 < 8.0 * b.d / t0.cost),
          m1 AS (SELECT b.vec_id, min(${di("b", "s")}) AS md FROM d0 b, s1 s GROUP BY b.vec_id),
          d1 AS (SELECT b.vec_id, b.qv, least(b.d, coalesce(m1.md, b.d)) AS d
                 FROM d0 b LEFT JOIN m1 USING (vec_id)),
          t1 AS (SELECT sum(d) AS cost FROM d1),
          s2 AS (SELECT vec_id, qv FROM d1 b, t1
                 WHERE ${Sketches.bucketSql("b.vec_id::VARCHAR", "'2'", 65536)} / 65536.0 < 8.0 * b.d / t1.cost),
          centers AS (SELECT vec_id, qv, 0 AS round FROM c0
            UNION ALL SELECT vec_id, qv, 1 FROM s1
            UNION ALL SELECT vec_id, qv, 2 FROM s2),
          a AS (SELECT vec_id, cid FROM (
            SELECT b.vec_id, c.vec_id AS cid,
              row_number() OVER (PARTITION BY b.vec_id ORDER BY ${di("b", "c")}, c.vec_id) AS rn
            FROM qb b CROSS JOIN centers c) WHERE rn = 1),
          w AS (SELECT cid, count(*) AS weight FROM a GROUP BY 1)
          SELECT c.vec_id, CAST(c.round AS INT) AS round,
            CAST(coalesce(w.weight, 0) AS BIGINT) AS weight
          FROM centers c LEFT JOIN w ON w.cid = c.vec_id"""
    }) { (s, d) =>
      KMeans.parallelSeeds(sharedInt8(s, d), "vec_id", "qv", l = 8.0, rounds = 2)
    },

    // Mini-batch k-means — the large-k/large-corpus path of x32: each update
    // round assigns ONE deterministic batch (vec_id % 2 here) and centroids
    // are the cumulative exact-integer batch statistics (Sculley's 1/n_c
    // step telescoped to its closed form), so update rounds scan corpus/
    // batches rows and only the final assignment pass touches everything.
    // The oracle unrolls both rounds: seed → batch-0 assign → cumulative
    // update (seed fallback for untouched centroids) → batch-1 assign →
    // cumulative update → full assign. Same argmin/tie-break chain as x32;
    // the emitted distance is the EXACT count-scaled integer Σ(qv_i·n−s_i)²
    // (= n²·dist², all int64) — a rounded float dist² hit a half-midpoint
    // at sf0.001 where the engines' round() disagree by one ulp.
    QueryDef("x57_minibatch_kmeans", {
      val d2 = """list_sum(list_transform(generate_series(1, 64),
            i -> (b.qv[i]::DOUBLE - c.ce[i]) * (b.qv[i]::DOUBLE - c.ce[i])))"""
      s"""WITH $QuantCte,
          c0 AS (SELECT vec_id AS cid, list_transform(qv, v -> v::DOUBLE) AS ce FROM qb WHERE vec_id < $K),
          a1 AS (SELECT vec_id, qv, cid FROM (
             SELECT b.vec_id, b.qv, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY $d2, c.cid) AS rn
             FROM (SELECT * FROM qb WHERE vec_id % 2 = 0) b CROSS JOIN c0 c) WHERE rn = 1),
          u1 AS (SELECT cid, pos, sum(qv[pos]) AS s, count(*) AS n
                 FROM a1, (SELECT unnest(generate_series(1, 64)) AS pos) GROUP BY cid, pos),
          cs1 AS (SELECT cid, list(s::DOUBLE / n ORDER BY pos) AS ce FROM u1 GROUP BY cid),
          c1 AS (SELECT c0.cid, coalesce(cs1.ce, c0.ce) AS ce FROM c0 LEFT JOIN cs1 USING (cid)),
          a2 AS (SELECT vec_id, qv, cid FROM (
             SELECT b.vec_id, b.qv, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY $d2, c.cid) AS rn
             FROM (SELECT * FROM qb WHERE vec_id % 2 = 1) b CROSS JOIN c1 c) WHERE rn = 1),
          u2 AS (SELECT cid, pos, sum(qv[pos]) AS s, count(*) AS n
                 FROM a2, (SELECT unnest(generate_series(1, 64)) AS pos) GROUP BY cid, pos),
          uc AS (SELECT cid, pos, sum(s) AS s, sum(n) AS n
                 FROM (SELECT * FROM u1 UNION ALL SELECT * FROM u2) GROUP BY cid, pos),
          cs2 AS (SELECT cid, list(s::DOUBLE / n ORDER BY pos) AS ce FROM uc GROUP BY cid),
          c2 AS (SELECT c0.cid, coalesce(cs2.ce, c0.ce) AS ce FROM c0 LEFT JOIN cs2 USING (cid)),
          csx AS (SELECT cid, list(s ORDER BY pos) AS sa, min(n) AS n FROM uc GROUP BY cid),
          cx AS (SELECT c0.cid,
                   coalesce(csx.sa, list_transform(c0.ce, v -> CAST(v AS BIGINT))) AS sa,
                   coalesce(csx.n, 1) AS n
                 FROM c0 LEFT JOIN csx USING (cid)),
          af AS (SELECT vec_id, qv, cid FROM (
             SELECT b.vec_id, b.qv, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY $d2, c.cid) AS rn
             FROM qb b CROSS JOIN c2 c) WHERE rn = 1)
          SELECT af.vec_id, CAST(af.cid AS BIGINT) AS cluster,
            CAST(count(*) OVER (PARTITION BY af.cid) AS BIGINT) AS cluster_size,
            CAST(list_sum(list_transform(generate_series(1, 64),
              i -> (af.qv[i]::BIGINT * cx.n - cx.sa[i]) * (af.qv[i]::BIGINT * cx.n - cx.sa[i])))
              AS BIGINT) AS dist2n
          FROM af JOIN cx USING (cid)"""
    }) { (s, d) =>
      KMeans.miniBatchAssignments(sharedInt8(s, d), "vec_id", "qv", K, batches = 2)
        .select(col("vec_id"), col("cid").cast("long").as("cluster"),
          count(lit(1)).over(Window.partitionBy("cid")).as("cluster_size"),
          col("dist2n"))
    },

    // Prototypicality pruning (the SemDeDup/D4 "keep the prototypes" signal):
    // distance of every vector to its LABEL centroid, plus an outlier flag
    // (dist² > 1.25× the label's mean dist² — measured: the ratio spans
    // 0.31–1.92 with p90 ≈ 1.34 on this corpus at both sf0.01 and sf0.1, so
    // the flag marks a real ~13% tail rather than sitting degenerate) — the
    // data-pruning curation op that drops un-prototypical examples before
    // training. All math is exact int64 over the x26 int8 codes: the emitted
    // distance is the count-scaled Σ(n·q_i − S_i)² (= n²·dist², the x57
    // lesson — never round a float whose inputs are exact), and the flag
    // compares 4·n·d2n against 5·Σd2n so the threshold needs no division. Scale shape: one (label, dim)-keyed
    // integer-sum shuffle (labels×dims rows out of any corpus size, map-side
    // combined), the centroid table broadcast back, per-row in-row fold, one
    // more labels-sized reduction for the means. Int64 bound: |q|≤127, so
    // n·q_i−S_i ≤ 2n·127 and d2n·n ≤ 4·127²·dims·n³ — safe through ~10⁶ rows
    // per label; past that switch the flag to the double path (the exact gate
    // is a test-scale instrument, the shape is what survives).
    QueryDef("x61_prototypicality",
      s"""WITH $QuantCte,
          q AS (SELECT qb.vec_id, e2.label, qb.qv
                FROM qb JOIN (SELECT vec_id, label FROM embeddings) e2 USING (vec_id)),
          s AS (SELECT label, i, sum(qv[i]) AS sv, count(*) AS n
                FROM q, unnest(generate_series(1, 64)) AS t(i) GROUP BY 1, 2),
          sa AS (SELECT label, max(n) AS n, list(sv ORDER BY i) AS sv FROM s GROUP BY 1),
          d AS (SELECT q.vec_id, q.label, sa.n,
                  CAST(list_sum(list_transform(generate_series(1, 64), i ->
                    (sa.n * q.qv[i] - sa.sv[i]) * (sa.n * q.qv[i] - sa.sv[i]))) AS BIGINT) AS d2n
                FROM q JOIN sa USING (label)),
          tt AS (SELECT label, CAST(sum(d2n) AS BIGINT) AS td FROM d GROUP BY 1)
          SELECT d.vec_id, d.label, CAST(d.n AS BIGINT) AS n_label, d.d2n AS dist2n,
            (4 * d.d2n * d.n > 5 * tt.td) AS is_outlier
          FROM d JOIN tt USING (label)""") { (s, d) =>
      val q = KMeans.withInt8Codes(
          t(s, d, "embeddings").select(col("vec_id"), col("label"), col("embedding")),
          "embedding", "qv")
        .select("vec_id", "label", "qv")
      // the code frame feeds the centroid-sum stage AND the per-row distance
      val qP = graft.util.PersistScope.track(
        q.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sums = qP.select(col("label"), posexplode_outer(col("qv")).as(Seq("pos", "v")))
        .filter(col("pos").isNotNull)
        .groupBy("label", "pos").agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .groupBy("label").agg(max("n").as("n"),
          array_sort(collect_list(struct(col("pos"), col("sv")))).as("pv"))
        .select(col("label"), col("n"),
          transform(col("pv"), x => x.getField("sv")).as("sv"))
        // limit(4096): no-op — one row per LABEL (a classification enum,
        // not a corpus-scaling key); machine-visible bound for PlanGuard.
        .limit(4096)
      val dd = qP.join(broadcast(sums), "label")
        .withColumn("d2n", aggregate(
          zip_with(col("qv"), col("sv"),
            (qi, si) => (qi.cast("long") * col("n") - si) * (qi.cast("long") * col("n") - si)),
          lit(0L), (a, v) => a + v))
      val tt = dd.groupBy("label").agg(sum("d2n").as("td")).limit(4096)
      dd.join(broadcast(tt), "label")
        .select(col("vec_id"), col("label"), col("n").cast("long").as("n_label"),
          col("d2n").as("dist2n"),
          (lit(4L) * col("d2n") * col("n") > lit(5L) * col("td")).as("is_outlier"))
    },

    // Bucketed (NON-broadcast) k-means assignment — the k ≥ 10⁴ path that
    // x32/x57's one-row broadcast centroid array cannot reach (SCALE.md's
    // cost model, realized). Centroid set here: FOUR shifted int-code
    // variants per corpus vector (k = 4·|corpus| = 2000 at sf0.01, 8000 at
    // sf0.1 — well past the 1024 bar and growing with SF), assigned via the
    // IVF two-level shape: ~k/44 coarse cells broadcast, centroids
    // cell-assigned as a DISTRIBUTED k-row frame, vectors probe their 5
    // nearest cells in-row, and ONE cell-keyed equi-join + per-vector
    // min-struct picks the winner. Nothing k-sized is ever broadcast,
    // collected, or folded per-row. Approximate by construction (nprobe < m);
    // both engines walk the identical deterministic probe set, so the result
    // is still bitwise-checked. All distances exact int64.
    QueryDef("x70_bucketed_assign",
      s"""WITH $BucketedCte
          SELECT vec_id, CAST(cid AS BIGINT) AS cid, dist2, CAST(cell AS BIGINT) AS cell
          FROM ba""") { (s, d) =>
      sharedBucketedAssign(s, d)
        .select(col("vec_id"), col("cid").cast("long").as("cid"),
          col("dist2"), col("cell").cast("long").as("cell"))
    },

    // IVF ANN over the BUCKETED index — x38's trained-IVF search composed
    // with x70's non-broadcast assignment, closing the loop SCALE.md's cost
    // model promised: when k (here 4·|corpus| ≥ 2000, growing with SF) is
    // past the broadcast bar, the index build routes through
    // KMeans.bucketedAssignments and the SEARCH keys on the coarse CELL the
    // assignment produced. Query side probes its nprobe nearest cells with
    // the same broadcast coarse array (KMeans.probeCells — the identical
    // probe machinery, so index and search walk one geometry); nprobe = 4
    // per x78's measured nprobe→recall curve (recall flattens by 4 probes
    // at this cell geometry). Candidates = one cell-keyed equi-join against
    // the query-sized broadcast probe set, ranked by exact float cosine —
    // the corpus is never shuffled by the search, and nothing k-sized is
    // broadcast, collected, or folded per-row anywhere in the composition.
    QueryDef("x80_ivf_bucketed", {
      val cosSql =
        """(list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i]::DOUBLE * emb[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(qe, v -> v::DOUBLE * v::DOUBLE)))
               * sqrt(list_sum(list_transform(emb, v -> v::DOUBLE * v::DOUBLE)))))"""
      s"""WITH $BucketedCte,
          q AS (SELECT b.vec_id AS qid, b.qv, e.embedding AS qe
                FROM qb b JOIN embeddings e USING (vec_id)
                WHERE b.vec_id >= 8 AND b.vec_id < 24),
          qp AS (SELECT qid, cell FROM (
             SELECT q.qid, g.cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY ${bDi("q.qv", "g.ge")}, g.cell) AS rn
             FROM q CROSS JOIN coarse g) WHERE rn <= 4),
          lists AS (SELECT ba.vec_id, ba.cell, e.embedding AS emb
                    FROM ba JOIN embeddings e USING (vec_id)),
          cand AS (SELECT qp.qid, l.vec_id, q.qe, l.emb
                   FROM qp JOIN lists l USING (cell) JOIN q USING (qid)
                   WHERE l.vec_id <> qp.qid)
          SELECT qid, vec_id, rank, cos FROM (
            SELECT qid, vec_id, round($cosSql, 5) AS cos,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY $cosSql DESC, vec_id) AS INT) AS rank
            FROM cand) WHERE rank <= 3"""
    }) { (s, d) =>
      val qb = sharedInt8(s, d)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      // the inverted lists: corpus vectors keyed by the coarse cell the
      // bucketed assignment put them in (shared with x70 — one index build
      // per pass serves assignment inspection and search)
      val lists = sharedBucketedAssign(s, d).select("vec_id", "cell").join(emb, "vec_id")
      // limit(16): no-op on the id-predicate row set, makes the broadcast
      // bound machine-visible to PlanGuard's corpus-lineage check.
      val qs = KMeans.probeCells(shiftedCents(qb),
          qb.filter(col("vec_id") >= 8 && col("vec_id") < 24).limit(16),
          "vec_id", "qv", cellStep = 44, nprobe = 4)
        .select(col("vec_id").as("qid"), col("cell"))
        .join(emb.filter(col("vec_id") >= 8 && col("vec_id") < 24).limit(16)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      val w = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      lists.join(broadcast(qs), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", VectorOps.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"), col("rank"), round(col("rawcos"), 5).as("cos"))
    },

    // Cluster-balanced selection (diversity sampling / D4-style): per
    // k-means cluster keep only ceil(sqrt(n_c)) members, chosen by portable
    // hash rank — big clusters (redundant content) get aggressively
    // down-sampled, small clusters (rare content) survive whole. The
    // anti-mode-collapse counterpart of x33's similarity-threshold dedup.
    // Rides the SHARED x32 assignment; the quota is a k-row aggregate
    // broadcast back, and the rank window partitions by cluster — fine at
    // scale because each partition is one cluster, never the corpus.
    QueryDef("x75_cluster_balanced", {
      s"""WITH ${kmeansCte(withD2 = false)},
          n AS (SELECT cid, count(*) AS n_c FROM a2 GROUP BY 1),
          r AS (SELECT a.vec_id, a.cid, n.n_c,
              row_number() OVER (PARTITION BY a.cid
                ORDER BY ${Sketches.bucketSql("a.vec_id::VARCHAR", "'bal'", 65536)}, a.vec_id) AS rk
            FROM a2 a JOIN n USING (cid))
          SELECT vec_id, CAST(cid AS BIGINT) AS cluster, CAST(n_c AS BIGINT) AS cluster_size,
            CAST(CEIL(sqrt(n_c)) AS BIGINT) AS quota, CAST(rk AS INT) AS pick_rank
          FROM r WHERE rk <= CEIL(sqrt(n_c))"""
    }) { (s, d) =>
      val a = sharedKmeans(s, d).select(col("vec_id"), col("cid"))
      // limit(K): no-op — one row per k-means cell; machine-visible bound.
      val n = a.groupBy("cid").agg(count(lit(1)).as("n_c")).limit(K)
      val w = Window.partitionBy("cid")
        .orderBy(Sketches.bucket(col("vec_id").cast("string"), lit("bal"), 65536), col("vec_id"))
      a.join(broadcast(n), "cid")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= ceil(sqrt(col("n_c"))))
        .select(col("vec_id"), col("cid").cast("long").as("cluster"),
          col("n_c").cast("long").as("cluster_size"),
          ceil(sqrt(col("n_c"))).cast("long").as("quota"),
          col("rk").cast("int").as("pick_rank"))
    },

    // Embedding L2-norm OUTLIER audit (Tukey fences) — the vector-quality
    // gate an embedding pipeline runs before indexing: truncated/zeroed or
    // blown-up vectors sit far outside [q1−1.5·IQR, q3+1.5·IQR] of the norm
    // distribution. Determinism: norms are fixed-pointed to int64 BEFORE
    // ranking (floor(x·10⁶+0.5) — sqrt and the square-sum fold are
    // correctly-rounded IEEE, identical in both engines), quartiles are
    // exact smallest-value-at-rank picks over the value-count frame, and
    // the fences compare in pure integer arithmetic (2v < 2q1 − 3·IQR) so
    // no float division ever reaches the verdict. Scale shape: norm is a
    // pure map; ranking runs over the DISTINCT-norm value-count frame
    // (bounded by norm granularity, not corpus size — the x76 argument);
    // the verdict is a broadcast of two scalars back over the corpus.
    QueryDef("x85_norm_outliers",
      """WITH e0 AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e FROM embeddings),
         off AS (SELECT max(vec_id) + 1 AS o FROM e0),
         e AS (SELECT vec_id, e FROM e0
               UNION ALL  -- planted degenerates: a zeroed and a 50x blown-up
               SELECT e0.vec_id + off.o, list_transform(e0.e, v -> v * 0) FROM e0, off WHERE e0.vec_id < 3
               UNION ALL
               SELECT e0.vec_id + 2 * off.o, list_transform(e0.e, v -> v * 50) FROM e0, off WHERE e0.vec_id < 3),
         nm AS (SELECT vec_id,
             CAST(floor(sqrt(list_sum(list_transform(e, v -> v * v))) * 1000000 + 0.5) AS BIGINT) AS nfp
           FROM e),
         vc AS (SELECT nfp, count(*) AS c FROM nm GROUP BY 1),
         n AS (SELECT count(*) AS n FROM nm),
         cum AS (SELECT nfp, sum(c) OVER (ORDER BY nfp) AS cum FROM vc),
         q AS (SELECT min(CASE WHEN cum >= (n.n * 25 + 99) // 100 THEN nfp END) AS q1,
                      min(CASE WHEN cum >= (n.n * 75 + 99) // 100 THEN nfp END) AS q3
               FROM cum, n)
         SELECT vec_id, nfp / 1000000.0 AS norm,
           q.q1 / 1000000.0 AS q1, q.q3 / 1000000.0 AS q3,
           (2 * nfp < 2 * q.q1 - 3 * (q.q3 - q.q1))
             OR (2 * nfp > 2 * q.q3 + 3 * (q.q3 - q.q1)) AS is_outlier
         FROM nm, q""") { (s, d) =>
      val e0 = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("e"))
      val off = e0.agg((max("vec_id") + 1).as("o"))
      // planted degenerates (the organic synthetic norms are too tight to
      // cross a fence, so both verdict branches would otherwise be dead —
      // the x82 planted-fixture pattern): a zeroed and a 50x blown-up copy
      // of the first three vectors, id-offset like x16's variants.
      def plant(mult: Double, offs: Int) = e0.filter(col("vec_id") < 3)
        .crossJoin(broadcast(off))
        .select((col("vec_id") + col("o") * offs).as("vec_id"),
          transform(col("e"), v => v * mult).as("e"))
      val nm = graft.util.PersistScope.track(
        e0.unionByName(plant(0.0, 1)).unionByName(plant(50.0, 2))
          .select(col("vec_id"),
            floor(sqrt(aggregate(col("e"), lit(0.0), (a, v) => a + v * v))
              * 1000000 + 0.5).cast("long").as("nfp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val vc = nm.groupBy("nfp").agg(count(lit(1)).as("c"))
        .withColumn("bkt", shiftright(col("nfp"), 20))
      val n = nm.agg(count(lit(1)).as("n"))
      // Two-level prefix sum (the x107 shape): distinct fixed-point norms
      // are near-unique for real embeddings, so a single unpartitioned
      // window here would be a corpus-sized global sort. Instead bucket by
      // shiftright(nfp,20) — bucket count is bounded by the NORM RANGE
      // (≈ max_norm·1e6/2^20, a dimensionality bound), and each bucket
      // partition holds ≤2^20 distinct integer norms by construction.
      val boff = vc.groupBy("bkt").agg(sum("c").as("bc"))
        .withColumn("off", coalesce(sum("bc").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      val cum = vc.join(boff, "bkt").withColumn("cum",
        col("off") + sum("c").over(Window.partitionBy("bkt").orderBy("nfp")
          .rowsBetween(Window.unboundedPreceding, 0)))
      val q = cum.crossJoin(broadcast(n)).agg(
        min(when(col("cum") >= expr("(n * 25 + 99) div 100"), col("nfp"))).as("q1"),
        min(when(col("cum") >= expr("(n * 75 + 99) div 100"), col("nfp"))).as("q3"))
      nm.crossJoin(broadcast(q))
        .select(col("vec_id"), (col("nfp") / 1000000.0).as("norm"),
          (col("q1") / 1000000.0).as("q1"), (col("q3") / 1000000.0).as("q3"),
          ((col("nfp") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3)
            || (col("nfp") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3)).as("is_outlier"))
    },

    // Cluster-relative semantic outliers (x119) — the "junk embedding"
    // detector x85's global-norm fences can't see: a vector can have a
    // perfectly typical norm and still sit far from EVERY centroid (mixed
    // content, corrupted encode, out-of-domain page). Per k-means cell:
    // the exact median assignment distance (distinct-value cumulative
    // frame, integer ceil rank — the x89/x76 idiom, no global sort) and
    // the count of members sitting beyond 2× that median. Per-cell rows
    // only (k ≤ 8) — the audit a pipeline reads before trusting the cells
    // for SemDeDup. Rides the shared assignment stage; the only work
    // beyond it is a (cid, d2)-keyed count and windows over that frame.
    QueryDef("x119_semantic_outliers",
      s"""WITH ${kmeansCte(withD2 = true)},
          dv AS (SELECT cid, d2, count(*) AS c FROM a2 GROUP BY 1, 2),
          cum AS (SELECT cid, d2, sum(c) OVER (PARTITION BY cid ORDER BY d2
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM dv),
          nn AS (SELECT cid, count(*) AS n FROM a2 GROUP BY 1),
          med AS (SELECT cum.cid, min(d2) AS med FROM cum JOIN nn USING (cid)
               WHERE cum >= (nn.n + 1) // 2 GROUP BY 1),
          outs AS (SELECT a2.cid, count(*) AS n_out
               FROM a2 JOIN med USING (cid) WHERE a2.d2 > 2 * med.med GROUP BY 1)
          SELECT CAST(nn.cid AS BIGINT) AS cluster, CAST(nn.n AS BIGINT) AS n_vecs,
            round(med.med, 4) AS median_d2,
            CAST(coalesce(outs.n_out, 0) AS BIGINT) AS n_outliers,
            coalesce(outs.n_out, 0)::DOUBLE / nn.n AS outlier_frac
          FROM nn JOIN med USING (cid) LEFT JOIN outs USING (cid)""") { (s, d) =>
      val asg = sharedKmeans(s, d).select("cid", "dist2")
      val dv = asg.groupBy("cid", "dist2").agg(count(lit(1)).as("c"))
      val cum = dv.withColumn("cum", sum("c").over(
        Window.partitionBy("cid").orderBy("dist2")
          .rowsBetween(Window.unboundedPreceding, 0)))
      // limit(K) on every per-cell frame: no-ops (one row per k-means
      // cell); machine-visible bounds for PlanGuard's corpus-lineage check.
      val nn = asg.groupBy("cid").agg(count(lit(1)).as("n")).limit(K)
      val med = cum.join(broadcast(nn), "cid")
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("cid").agg(min("dist2").as("med")).limit(K)
      val outs = asg.join(broadcast(med), "cid")
        .filter(col("dist2") > col("med") * 2)
        .groupBy("cid").agg(count(lit(1)).as("n_out")).limit(K)
      nn.join(broadcast(med), "cid").join(broadcast(outs), Seq("cid"), "left")
        .select(col("cid").cast("long").as("cluster"), col("n").cast("long").as("n_vecs"),
          round(col("med"), 4).as("median_d2"),
          coalesce(col("n_out"), lit(0L)).cast("long").as("n_outliers"),
          (coalesce(col("n_out"), lit(0L)).cast("double") / col("n")).as("outlier_frac"))
    },

    // Per-dimension quantile (rank) normalization (x144) — the
    // feature-preprocessing transform (rank-gauss / quantile-transform
    // family) over the int8 embedding codes: each (vector, dim) value
    // maps to its MIDRANK position within that dimension's corpus
    // distribution, (cb + (cnt+1)/2)/n in [0,1] — ties share one value
    // (midrank), so the output is independent of row order. Exactness:
    // midrank is a rational of exact integer counts snapped to 1e-6
    // round-half-up fixed point. Scale: the cumulative NEVER runs over
    // corpus rows — int8 codes have a ≤256-value domain per dim, so the
    // distribution frame is ≤ 64·256 rows; the per-dim window orders
    // ≤256 rows, and the corpus is touched by one map-side-combined
    // (dim, value) count and one (dim, value)-keyed join back (AQE
    // broadcasts the tiny distribution frame at runtime). Output is one
    // row per (vector, dim) — the transform's own product.
    QueryDef("x144_rank_normalize",
      s"""WITH $QuantCte,
          x AS (SELECT vec_id, i AS dim, qv[i] AS v
                FROM qb, unnest(generate_series(1, 64)) AS t(i)),
          c AS (SELECT dim, v, count(*) AS cnt FROM x GROUP BY 1, 2),
          cum AS (SELECT dim, v, cnt,
              sum(cnt) OVER (PARTITION BY dim ORDER BY v) - cnt AS cb FROM c),
          nn AS (SELECT count(*) AS n FROM qb)
          SELECT x.vec_id, CAST(x.dim AS INT) AS dim, CAST(x.v AS INT) AS v,
            CAST((2 * (2 * cum.cb + cum.cnt + 1) * 1000000 + 2 * nn.n)
              // (4 * nn.n) AS BIGINT) / 1000000.0 AS qnorm
          FROM x JOIN cum USING (dim, v) CROSS JOIN nn""") { (s, d) =>
      val x = sharedInt8(s, d)
        .select(col("vec_id"), posexplode(col("qv")).as(Seq("d0", "v")))
        .select(col("vec_id"), (col("d0") + 1).cast("int").as("dim"),
          col("v").cast("int").as("v"))
      val cfr = x.groupBy("dim", "v").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("dim").orderBy("v")
      val cum = cfr.withColumn("cb", sum("cnt").over(w) - col("cnt"))
      val nn2 = sharedInt8(s, d).agg(count(lit(1)).as("n"))
      x.join(cum, Seq("dim", "v")).crossJoin(broadcast(nn2))
        .select(col("vec_id"), col("dim"), col("v"),
          (expr("(2 * (2 * cb + cnt + 1) * 1000000 + 2 * n) div (4 * n)")
            / 1000000.0).as("qnorm"))
    })
}
