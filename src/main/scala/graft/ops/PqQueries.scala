package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.queries.QueryDef.t
import graft.streaming.EventStream

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — THE memory-bound ANN scale path the IVF
  * family (x15/x38/x70/x80) does not cover: a 64-dim vector compresses to
  * m=4 one-byte codes (16× over int8, 64× over float32), and query-time
  * distance becomes m table lookups instead of a 64-dim kernel. At 100 TB
  * this is the difference between an index that fits in cluster RAM and
  * one that doesn't.
  *
  * Determinism posture (same as [[KMeans]]): codebooks train over int8
  * sub-codes, so every cross-row reduction is an exact integer sum; the
  * only float folds are per-row in fixed index order, and every
  * per-row float that later crosses rows (training dist², ADC lookup
  * entries) snaps to 1e-6 fixed-point int64 first, so no result depends
  * on partial-agg or aggregation order in either engine.
  *
  * Scale shape:
  *  - training ASSIGN is shuffle-free (the m·k=64 codebook rows collapse
  *    to a 4-row broadcast, argmin is an in-row array_min fold);
  *  - training UPDATE shuffles only (sub, cid, pos)-keyed integer sums
  *    with map-side combine — m·k·16 = 1024 rows out of any corpus;
  *  - encoding is the final assign pass: corpus-linear, shuffle-free;
  *  - ADC search broadcasts the |Q|·m·k lookup table (queries are few by
  *    contract) and joins it to the (vec, sub, cid) code frame — the
  *    corpus is touched once, with no per-pair vector kernel at all.
  */
object PqQueries {

  private val M = 4          // subspaces
  private val SubDim = 16    // dims per subspace (64 / M)
  private val K = 16         // centroids per subspace codebook
  private val QMod = 101     // query set: vec_id % QMod == 0 AND vec_id < QCap
  // Query-set CAP: a production search workload is external and fixed-size —
  // it does not grow because the indexed corpus grew. Without the cap the
  // derived query set (and every |Q|-sized broadcast downstream: LUTs, top-k,
  // probes) scales linearly with the corpus — the class the 10× stress
  // caught in x110 (r10). 2048 binds at sf0.1 (21 queries vs 50 uncapped),
  // so the capped path is the tested path.
  private val QCap = 2048
  private val QMax = 1 + (QCap - 1) / QMod // |query ids| = 21; limit() carries it into maxRows
  private val TopN = 10
  private val Fp = 1000000.0 // 1e6 fixed-point scale for sub-distances

  // ---------------------------------------------------------------------
  // Engine-side shared training/encoding stages
  // ---------------------------------------------------------------------

  /** (vec_id, sub, sq): int8 sub-codes, one row per (vector, subspace). */
  private def subCodes(s: SparkSession, d: String): DataFrame =
    ClusterQueries.sharedInt8(s, d)
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("sub"), col("qv"))
      .select(col("vec_id"), col("sub"),
        slice(col("qv"), col("sub") * SubDim + 1, lit(SubDim)).as("sq"))

  /** Per-row dist² between an int sub-code array and a double centroid
    * array — fixed index order, evaluated once per row. */
  private def d2(sq: org.apache.spark.sql.Column, ce: org.apache.spark.sql.Column) =
    aggregate(zip_with(sq, ce, (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)

  /** One assignment pass: `cents` = (sub, cid, ce). Collapses the codebook
    * to M broadcast rows (sub → array of (cid, ce)) so the argmin is an
    * in-row fold — no per-vector shuffle, no window over the corpus. */
  private def assignOnce(sv: DataFrame, cents: DataFrame): DataFrame = {
    // limit(M): no-op (one row per subspace), makes the M-bound
    // machine-visible (maxRows) to PlanGuard's corpus-lineage check.
    val arr = cents.groupBy("sub")
      .agg(array_sort(collect_list(struct(col("cid"), col("ce")))).as("cs"))
      .limit(M)
    val best = array_min(transform(col("cs"),
      c => struct(d2(col("sq"), c.getField("ce")).as("dd"),
        c.getField("cid").as("cid"))))
    sv.join(broadcast(arr), "sub")
      .withColumn("__best", best)
      .select(col("vec_id"), col("sub"), col("sq"),
        col("__best.cid").as("cid"),
        floor(col("__best.dd") * Fp + 0.5).cast("long").as("d2i"))
  }

  /** Codebook update: exact (sub, cid, pos)-keyed integer sums → the
    * rational mean evaluated once as a double (bit-identical anywhere). */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("cid"), posexplode_outer(col("sq")).as(Seq("pos", "v")))
      .filter(col("pos").isNotNull)
      .groupBy("sub", "cid", "pos").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .groupBy("sub", "cid").agg(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / col("n")).as("val")))).as("pv"))
      .select(col("sub"), col("cid"), transform(col("pv"), x => x.getField("val")).as("ce"))
      // limit(M·K): no-op — one row per (subspace, codebook entry) —
      // asserting the m·k codebook bound for PlanGuard (cids come from a
      // K-row seed set, but the groupBy erases that maxRows).
      .limit(M * K)

  /** Trained codebooks (sub, cid, ce) after 2 Lloyd rounds; init = the
    * sub-codes of vec_id < K. 64 rows — driver-trivial, broadcast-sized. */
  private[ops] def sharedCodebooks(s: SparkSession, d: String): DataFrame =
    graft.util.SharedStages.cached("pq-codebooks", s, d) {
      val sv = subCodes(s, d)
      // limit(K·M): no-op on the id-predicate seed rows (K vec_ids × M
      // subspaces), makes the bound machine-visible to PlanGuard.
      val init = sv.filter(col("vec_id") < K).limit(K * M)
        .select(col("sub"), col("vec_id").as("cid"),
          transform(col("sq"), v => v.cast("double")).as("ce"))
      update(assignOnce(sv, init))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Final PQ encoding: (vec_id, sub, sq, cid, d2i) under the trained
    * codebooks — the corpus's compressed representation, built once per
    * pass (x112 reports on it, x113 searches it). */
  private[ops] def sharedPqCodes(s: SparkSession, d: String): DataFrame =
    graft.util.SharedStages.cached("pq-codes", s, d) {
      assignOnce(subCodes(s, d), sharedCodebooks(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Exact brute-force ground truth, shared (r17, r16 verdict #2): the
    * |Q|·corpus int8 top-10 per query — (qid, top: array<struct<d2,
    * vec_id>>, ascending) over the SAME derived query set (vec_id % QMod
    * == 0 AND vec_id < QCap) that x116's recall audit and x135's MRR
    * ground truth each paid privately. One corpus-scale exact pass per
    * pipeline run instead of two; the result frame is |Q|-bounded (21
    * rows × 10 structs at sf0.1). x116 reads the full top-10; x135 reads
    * element 0 (TopKMinExpr output is ascending, so top[0] IS topk_min
    * with k=1 under the identical (d2, vec_id) total order). */
  private[ops] def sharedBruteTop10(s: SparkSession, d: String): DataFrame =
    graft.util.SharedStages.cached("pq-gt10", s, d) {
      val qb = ClusterQueries.sharedInt8(s, d)
      val qv = qb.filter(col("vec_id") % QMod === 0 && col("vec_id") < QCap)
        .limit(QMax) // no-op on the predicate rows; PlanGuard-visible bound
        .select(col("vec_id").as("qid"), col("qv").as("qqv"))
      qb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          KMeans.int8Dist2(col("qqv"), col("qv")).as("d2"))
        .groupBy("qid")
        .agg(TopK.topk_min(struct(col("d2"), col("vec_id")), TopN).as("top"))
        .limit(QMax) // one row per capped query id
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** PQ shared stages for the bench's pre-build pass. `driftmodel` builds
    * the per-JVM drift-model artifact eagerly (a parquet write action);
    * the returned scan is the noop-timed remainder — the sublabels
    * discipline. `gt10` is the shared exact-ground-truth pass
    * (x116 + x135). */
  private[graft] def stageBuilders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "pq" -> (sharedPqCodes(_, _)),
    "gt10" -> (sharedBruteTop10(_, _)),
    "driftmodel" -> ((s, d) => s.read.parquet(driftModelArtifact(s, d))))

  /** The s22 drift model as a per-JVM parquet artifact — the production
    * shape (train once per pipeline run, every gate invocation reads the
    * model table) and the cross-SESSION handoff the streaming gate needs:
    * the model trains on the caller's batch session, and the gate's child
    * replay session reads the file. Stamped on embeddings.parquet so a
    * regenerated corpus at the same path never serves a stale model. */
  private[graft] def driftModelArtifact(spark: SparkSession, dir: String): String =
    graft.util.SharedStages.artifact("drift-model", dir, "embeddings.parquet") { dst =>
      driftModelRow(spark, dir).write.mode("overwrite").parquet(dst)
    }

  /** Drift-model training (x117 / s22): codebooks over the label-0 slice
    * only, seeds = its K smallest ids — "yesterday's data" for the gate. */
  private[graft] def driftCodebooks(s: SparkSession, d: String): DataFrame = {
    val lb = t(s, d, "embeddings").select(col("vec_id"), col("label"))
    val sv0 = subCodes(s, d)
      .join(lb.filter(col("label") === 0).select("vec_id"), "vec_id")
    val seeds = sv0.select("vec_id").distinct().orderBy("vec_id").limit(K)
    val init = sv0.join(broadcast(seeds), "vec_id")
      .select(col("sub"), col("vec_id").as("cid"),
        transform(col("sq"), v => v.cast("double")).as("ce"))
    update(assignOnce(sv0, init))
  }

  /** SharedStages-cached drift codebooks (r16): x117 and the s22 drift
    * model both train the identical label-0 codebooks; before r16 each
    * rebuilt them privately. One persisted build per (session, dir) pass;
    * the bench pays it inside the `driftmodel` stage timer. */
  private[ops] def sharedDriftCodebooks(s: SparkSession, d: String): DataFrame =
    graft.util.SharedStages.cached("drift-codebooks", s, d)(
      driftCodebooks(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The drift model as ONE broadcastable row for the streaming gate
    * (s22): `cs` = the trained codebook entries, `base` = the training
    * slice's exact per-vector mean quantization error in micros, and a
    * literal join key. Empty when no label-0 slice exists (the stream
    * gate emits nothing then — matching the batch oracle). */
  private[graft] def driftModelRow(s: SparkSession, d: String): DataFrame = {
    val c1 = sharedDriftCodebooks(s, d)
    val lb = t(s, d, "embeddings").select(col("vec_id"), col("label"))
    val enc0 = assignOnce(
      subCodes(s, d).join(lb.filter(col("label") === 0).select("vec_id"), "vec_id"), c1)
    val base = enc0.groupBy("vec_id").agg(sum("d2i").as("vd2"))
      .agg(expr("(2 * sum(vd2) + count(*)) div (2 * count(*))").as("base"))
    c1.agg(array_sort(collect_list(struct(col("sub"), col("cid"), col("ce")))).as("cs"))
      .crossJoin(base)
      .filter(size(col("cs")) > 0)
      .select(lit(1).as("k"), col("cs"), col("base"))
  }

  /** In-row total quantization error (exact 1e-6 micros) of an int8 code
    * array against the broadcast codebook entries `cs` — the streaming
    * twin of one [[assignOnce]] pass followed by the per-vector d2i sum:
    * per subspace, the argmin distance over that subspace's entries,
    * snapped to micros and summed. Pure per-row fold — no shuffle. */
  private[graft] def streamQuantError(qv: org.apache.spark.sql.Column,
                                      cs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sequence(lit(0), lit(M - 1)), lit(0L), (acc, sub) => {
      val sq = slice(qv, sub * SubDim + 1, lit(SubDim))
      val dmin = array_min(transform(filter(cs, c => c.getField("sub") === sub),
        c => d2(sq, c.getField("ce"))))
      acc + floor(dmin * Fp + 0.5).cast("long")
    })

  /** The three frames of one IVF-PQ search: the query set (qid, qv), the
    * IVF candidate fan-out (qid, vec_id), and the ADC top-[[TopN]]
    * (qid, vec_id, rank, adc). */
  private[ops] case class IvfpqSearch(q: DataFrame, cand: DataFrame, topk: DataFrame)

  /** One IVF-PQ search over the shared index stages, parameterized by the
    * derived query set (vec_id % qMod == 0 AND vec_id < qCap; qMax = its
    * exact id-count bound, carried into maxRows via limit for PlanGuard).
    * Factored from x116 so x149's hybrid fusion can run the SAME composed
    * index against ITS query set (the BM25 one) without duplicating the
    * probe/LUT/ADC chain. Scale shape unchanged: probes, LUTs and top-k
    * are |Q|-sized broadcasts; the corpus is touched once via the cell
    * assignment join. */
  private[ops] def ivfpqSearch(s: SparkSession, d: String,
                               qMod: Int, qCap: Int, qMax: Int): IvfpqSearch = {
    val asg = ClusterQueries.sharedKmeans(s, d) // (vec_id, qv, cid, dist2)
    val ccent = asg
      .select(col("cid"), posexplode_outer(col("qv")).as(Seq("pos", "v")))
      .filter(col("pos").isNotNull)
      .groupBy("cid", "pos").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"),
        (col("sv").cast("double") / col("n")).as("val")))).as("pv"))
      .select(col("cid"), transform(col("pv"), x => x.getField("val")).as("ce"))
      // limit(64): no-op — one row per coarse k-means cell (k=8 here,
      // bounded by the index config); machine-visible PlanGuard bound.
      .limit(64)
    val q = ClusterQueries.sharedInt8(s, d)
      .filter(col("vec_id") % qMod === 0 && col("vec_id") < qCap)
      .limit(qMax) // no-op on the predicate rows; PlanGuard-visible bound
      .select(col("vec_id").as("qid"), col("qv"))
    val d2full = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, v) => acc + v)
    val pw = Window.partitionBy("qid").orderBy(col("pd2"), col("cid"))
    val probe = q.crossJoin(broadcast(ccent))
      .withColumn("pd2", d2full(col("qv"), col("ce")))
      .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
      .select("qid", "cid")
    val cand = asg.select("vec_id", "cid").join(broadcast(probe), "cid")
      .filter(col("vec_id") =!= col("qid")).select("qid", "vec_id")
    val qpq = sharedPqCodes(s, d)
      .filter(col("vec_id") % qMod === 0 && col("vec_id") < qCap)
      .limit(qMax * M) // no-op on the predicate rows; PlanGuard-visible bound
      .select(col("vec_id").as("qid"), col("sub"), col("sq"))
    val lut = qpq.join(broadcast(sharedCodebooks(s, d)), "sub")
      .select(col("qid"), col("sub"), col("cid"),
        floor(d2(col("sq"), col("ce")) * Fp + 0.5).cast("long").as("ld"))
    val adc = sharedPqCodes(s, d).select("vec_id", "sub", "cid")
      .join(cand, "vec_id")
      .join(broadcast(lut), Seq("qid", "sub", "cid"))
      .groupBy("qid", "vec_id").agg(sum("ld").as("adc"))
    // Bounded-heap top-k (r16): same (adc, vec_id) total order as the
    // row_number window this replaces — posexplode position + 1 IS the
    // row_number — but only k rows per (map partition, qid) cross the
    // shuffle where the window sorted every candidate row per query.
    val topk = adc.groupBy("qid")
      .agg(TopK.topk_min(struct(col("adc"), col("vec_id")), TopN).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("p", "hit")))
      .select(col("qid"), col("hit.vec_id").as("vec_id"),
        col("hit.adc").as("adc"), (col("p") + 1).as("rank"))
    IvfpqSearch(q, cand, topk)
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle CTE chain (mirrors the engine exactly)
  // ---------------------------------------------------------------------

  /** d2 between list slices, as DuckDB SQL (16 dims, fixed order). */
  private def bD2(a: String, b: String) =
    s"""list_sum(list_transform(generate_series(1, $SubDim),
         i -> (($a)[i]::DOUBLE - ($b)[i]) * (($a)[i]::DOUBLE - ($b)[i])))"""

  /** Training + encoding chain body (assumes `qb` from QuantCte is in
    * scope), ending at `<p>a2` = (vec_id, sub, sq, cid, d2i) and `<p>c1`
    * = the trained codebooks. Same init / assign / integer-sum update /
    * re-assign protocol as the engine; the assignment argmin is a
    * row_number window with the identical (d2, cid) ordering. The `p`
    * prefix keeps the names collision-free when composed with other CTE
    * chains (x116 combines this with the coarse kmeansCte). */
  private def pqBody(p: String): String =
    s"""${p}sv AS (SELECT vec_id, s AS sub, qv[s*$SubDim+1 : s*$SubDim+$SubDim] AS sq
        FROM qb, unnest(generate_series(0, ${M - 1})) AS t(s)),
 ${p}c0 AS (SELECT sub, vec_id AS cid, list_transform(sq, v -> v::DOUBLE) AS ce
        FROM ${p}sv WHERE vec_id < $K),
 ${p}a1 AS (SELECT vec_id, sub, sq, cid FROM (
    SELECT v.vec_id, v.sub, v.sq, c.cid,
      row_number() OVER (PARTITION BY v.vec_id, v.sub
        ORDER BY ${bD2("v.sq", "c.ce")}, c.cid) AS rn
    FROM ${p}sv v JOIN ${p}c0 c ON c.sub = v.sub) WHERE rn = 1),
 ${p}u1 AS (SELECT sub, cid, pos, sum(sq[pos])::DOUBLE / count(*) AS val
        FROM ${p}a1, (SELECT unnest(generate_series(1, $SubDim)) AS pos) GROUP BY 1, 2, 3),
 ${p}c1 AS (SELECT sub, cid, list(val ORDER BY pos) AS ce FROM ${p}u1 GROUP BY 1, 2),
 ${p}a2 AS (SELECT vec_id, sub, sq, cid, d2i FROM (
    SELECT v.vec_id, v.sub, v.sq, c.cid,
      CAST(floor(${bD2("v.sq", "c.ce")} * ${Fp} + 0.5) AS BIGINT) AS d2i,
      row_number() OVER (PARTITION BY v.vec_id, v.sub
        ORDER BY ${bD2("v.sq", "c.ce")}, c.cid) AS rn
    FROM ${p}sv v JOIN ${p}c1 c ON c.sub = v.sub) WHERE rn = 1)"""

  private val PqCte = s"${ClusterQueries.QuantCte},\n ${pqBody("")}"

  /** The full IVF-PQ search CTE chain (coarse k-means + PQ training +
    * probe/LUT/ADC), parameterized by the derived query set — the SQL
    * twin of [[ivfpqSearch]], ending at `topk` = (qid, vec_id, adc, rank)
    * with `q`, `cand`, `qb`, `pa2` etc. in scope for downstream CTEs
    * (x116 appends its exact-recall audit; x149 appends the RRF fusion). */
  private[ops] def ivfpqSearchCte(qMod: Int, qCap: Int): String =
    s"""${ClusterQueries.kmeansCte(false)},
          ${pqBody("p")},
          ccent AS (SELECT cid, list(val ORDER BY pos) AS ce FROM (
               SELECT cid, pos, sum(qv[pos])::DOUBLE / count(*) AS val
               FROM a2, (SELECT unnest(generate_series(1, 64)) AS pos)
               GROUP BY 1, 2) GROUP BY 1),
          q AS (SELECT vec_id AS qid, qv FROM qb WHERE vec_id % $qMod = 0 AND vec_id < $qCap),
          probe AS (SELECT qid, cid FROM (
               SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
                   ORDER BY list_sum(list_transform(generate_series(1, 64),
                     i -> (q.qv[i]::DOUBLE - c.ce[i]) * (q.qv[i]::DOUBLE - c.ce[i]))),
                   c.cid) AS rn
               FROM q CROSS JOIN ccent c) WHERE rn <= 2),
          cand AS (SELECT p.qid, a.vec_id FROM probe p JOIN a2 a ON a.cid = p.cid
               WHERE a.vec_id <> p.qid),
          qpq AS (SELECT vec_id AS qid, sub, sq FROM psv WHERE vec_id % $qMod = 0 AND vec_id < $qCap),
          lut AS (SELECT qpq.qid, c.sub, c.cid,
               CAST(floor(${bD2("qpq.sq", "c.ce")} * ${Fp} + 0.5) AS BIGINT) AS ld
             FROM qpq JOIN pc1 c USING (sub)),
          adc AS (SELECT cand.qid, cand.vec_id, sum(l.ld) AS adc
             FROM cand JOIN pa2 a ON a.vec_id = cand.vec_id
             JOIN lut l ON l.qid = cand.qid AND l.sub = a.sub AND l.cid = a.cid
             GROUP BY 1, 2),
          rk AS (SELECT qid, vec_id, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
             FROM adc),
          topk AS (SELECT * FROM rk WHERE rank <= $TopN)"""

  /** The drift-model chain (x117 / s22): codebooks trained on the label-0
    * slice (seeds = its K smallest ids), every vector encoded under them,
    * ending at `vd` = (vec_id, vd2 micro quantization error) with `lb`
    * (labels) in scope. */
  private val DriftCte =
    s"""${ClusterQueries.QuantCte},
 lb AS (SELECT vec_id, label FROM embeddings),
 sv AS (SELECT vec_id, s AS sub, qv[s*$SubDim+1 : s*$SubDim+$SubDim] AS sq
        FROM qb, unnest(generate_series(0, ${M - 1})) AS t(s)),
 sv0 AS (SELECT sv.* FROM sv JOIN lb USING (vec_id) WHERE lb.label = 0),
 seeds AS (SELECT DISTINCT vec_id FROM sv0 ORDER BY vec_id LIMIT $K),
 c0 AS (SELECT sub, vec_id AS cid, list_transform(sq, v -> v::DOUBLE) AS ce
        FROM sv0 WHERE vec_id IN (SELECT vec_id FROM seeds)),
 a1 AS (SELECT vec_id, sub, sq, cid FROM (
    SELECT v.vec_id, v.sub, v.sq, c.cid,
      row_number() OVER (PARTITION BY v.vec_id, v.sub
        ORDER BY ${bD2("v.sq", "c.ce")}, c.cid) AS rn
    FROM sv0 v JOIN c0 c ON c.sub = v.sub) WHERE rn = 1),
 u1 AS (SELECT sub, cid, pos, sum(sq[pos])::DOUBLE / count(*) AS val
        FROM a1, (SELECT unnest(generate_series(1, $SubDim)) AS pos)
        GROUP BY 1, 2, 3),
 c1 AS (SELECT sub, cid, list(val ORDER BY pos) AS ce FROM u1 GROUP BY 1, 2),
 a2 AS (SELECT vec_id, d2i FROM (
    SELECT v.vec_id, v.sub,
      CAST(floor(${bD2("v.sq", "c.ce")} * ${Fp} + 0.5) AS BIGINT) AS d2i,
      row_number() OVER (PARTITION BY v.vec_id, v.sub
        ORDER BY ${bD2("v.sq", "c.ce")}, c.cid) AS rn
    FROM sv v JOIN c1 c ON c.sub = v.sub) WHERE rn = 1),
 vd AS (SELECT vec_id, sum(d2i) AS vd2 FROM a2 GROUP BY 1)"""

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // PQ codebook training report (x112): per (subspace, centroid) cell —
    // how many vectors encode to it, the mean quantization error, and the
    // centroid's own norm. The m·k-row view a pipeline inspects before
    // committing to a PQ deployment (dead cells / error skew mean the
    // codebook needs more data or better init). Output ≤ m·k = 64 rows.
    // Both reported doubles are exact-int64 micros divided once by 1e6 —
    // no float round() anywhere, so no tie-break divergence between the
    // engines' rounding (a 7th-decimal avg tie at sf0.01 found this).
    QueryDef("x112_pq_codebooks",
      s"""WITH $PqCte
          SELECT sub::BIGINT AS sub, a2.cid::BIGINT AS cid,
            CAST(count(*) AS BIGINT) AS n_vecs,
            ((2 * sum(a2.d2i) + count(*)) // (2 * count(*)))::DOUBLE / ${Fp}
              AS avg_dist2,
            list_sum(list_transform(any_value(c1.ce),
              x -> CAST(floor(x * x * ${Fp} + 0.5) AS BIGINT)))::DOUBLE / ${Fp}
              AS centroid_sq_norm
          FROM a2 JOIN c1 USING (sub, cid)
          GROUP BY 1, 2""") { (s, d) =>
      val codes = sharedPqCodes(s, d)
      val cents = sharedCodebooks(s, d)
        .select(col("sub").cast("long").as("sub"), col("cid").cast("long").as("cid"),
          (aggregate(col("ce"), lit(0L),
            (acc, x) => acc + floor(x * x * Fp + 0.5).cast("long")).cast("double") / Fp)
            .as("centroid_sq_norm"))
      codes.groupBy(col("sub").cast("long").as("sub"), col("cid").cast("long").as("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum("d2i").as("sd2"))
        .select(col("sub"), col("cid"), col("n_vecs"),
          // round-half-up mean in pure integer arithmetic: (2s+n) div (2n)
          (expr("(2 * sd2 + n_vecs) div (2 * n_vecs)").cast("double") / Fp)
            .as("avg_dist2"))
        .join(broadcast(cents), Seq("sub", "cid"))
        .select(col("sub"), col("cid"), col("n_vecs"), col("avg_dist2"),
          col("centroid_sq_norm"))
    },

    // PQ asymmetric-distance top-k search (x113): each query (vec_id %
    // 101 == 0, its exact sub-codes) scans the COMPRESSED corpus — ADC
    // dist(q, x) = Σ_sub lut[sub][code_sub(x)] where lut is the per-query
    // (sub, cid) distance table. The corpus-side work per candidate is m
    // integer lookups; no 64-dim kernel ever runs against corpus rows.
    // Lookup entries are 1e-6 fixed-point int64s, so the cross-subspace
    // sum is exact and ranking is order-independent. The top-10 winners
    // then get ONE exact int8 dist² each (the standard PQ re-rank step,
    // |Q|·10 kernel evaluations total) so the result self-reports its
    // approximation error. Scale: lut is |Q|·m·k rows (broadcast); the
    // code frame joins it on (sub, cid) — corpus touched once.
    QueryDef("x113_pq_adc_search",
      s"""WITH $PqCte,
          q AS (SELECT vec_id AS qid, sub, sq FROM sv WHERE vec_id % $QMod = 0 AND vec_id < $QCap),
          lut AS (SELECT q.qid, c.sub, c.cid,
               CAST(floor(${bD2("q.sq", "c.ce")} * ${Fp} + 0.5) AS BIGINT) AS ld
             FROM q JOIN c1 c USING (sub)),
          adc AS (SELECT l.qid, a.vec_id, sum(l.ld) AS adc
             FROM a2 a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
             WHERE a.vec_id <> l.qid
             GROUP BY 1, 2),
          rk AS (SELECT qid, vec_id, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
             FROM adc),
          top AS (SELECT * FROM rk WHERE rank <= $TopN),
          fq AS (SELECT vec_id, qv FROM qb),
          ex AS (SELECT t.qid, t.rank, t.vec_id, t.adc,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> (a.qv[i]::BIGINT - b.qv[i]::BIGINT) * (a.qv[i]::BIGINT - b.qv[i]::BIGINT)))
                 AS BIGINT) AS exact_d2
             FROM top t JOIN fq a ON a.vec_id = t.qid JOIN fq b ON b.vec_id = t.vec_id)
          SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
            round(adc / ${Fp}, 6) AS adc_dist2, exact_d2
          FROM ex""") { (s, d) =>
      val codes = sharedPqCodes(s, d)
      val q = codes.filter(col("vec_id") % QMod === 0 && col("vec_id") < QCap)
        .limit(QMax * M) // no-op on the predicate rows; PlanGuard-visible bound
        .select(col("vec_id").as("qid"), col("sub"), col("sq"))
      val lut = q.join(broadcast(sharedCodebooks(s, d)), "sub")
        .select(col("qid"), col("sub"), col("cid"),
          floor(d2(col("sq"), col("ce")) * Fp + 0.5).cast("long").as("ld"))
      val adc = codes.select("vec_id", "sub", "cid")
        .join(broadcast(lut), Seq("sub", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id").agg(sum("ld").as("adc"))
      // Bounded-heap top-k (r16): same (adc, vec_id) total order as the
      // row_number window it replaces (posexplode position + 1 = rank);
      // k rows per (map partition, qid) cross the shuffle instead of the
      // whole corpus-sized ADC frame sorting per query. limit(QMax·TopN):
      // no-op on the ≤TopN rows per capped query id, makes every
      // winner-derived broadcast bound machine-visible to PlanGuard.
      val top = adc.groupBy("qid")
        .agg(TopK.topk_min(struct(col("adc"), col("vec_id")), TopN).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("p", "hit")))
        .select(col("qid"), col("hit.vec_id").as("vec_id"),
          col("hit.adc").as("adc"), (col("p") + 1).as("rank"))
        .limit(QMax * TopN)
      // Exact re-rank kernels: |Q|·10 winner rows vs the corpus code frame —
      // the winners are the broadcast side, both times.
      val qb = ClusterQueries.sharedInt8(s, d)
      qb.select(col("vec_id").as("qid"), col("qv").as("qqv"))
        .join(broadcast(top), "qid")
        .join(broadcast(qb.select(col("vec_id"), col("qv").as("dqv"))
          .join(broadcast(top.select("vec_id").distinct()), "vec_id")
          .limit(QMax * TopN)), "vec_id")
        .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id"),
          round(col("adc") / Fp, 6).as("adc_dist2"),
          KMeans.int8Dist2(col("qqv"), col("dqv")).as("exact_d2"))
    },

    // IVF-PQ composed search (x116) — the FAISS IVFPQ architecture: the
    // coarse k-means cells (x32's trained index) prune the corpus to
    // nprobe=2 inverted lists, and PQ ADC scores ONLY the surviving
    // candidates — the two memory/compute reductions composed the way a
    // production 100-TB vector store actually deploys them. Per query the
    // result row self-reports candidate count, the top hit with its exact
    // distance, and recall@10 against the exact brute-force top-10 (the
    // in-query audit that catches a mistuned nprobe before it ships).
    // Scale: probes and the ADC lookup table broadcast (|Q|-sized); the
    // candidate fan-out is a broadcast join against the cell assignment —
    // the corpus is touched once for encoding and once for the recall
    // audit (the audit is the expensive half and exists for the gate; a
    // production run drops it).
    QueryDef("x116_ivfpq_search",
      s"""WITH ${ivfpqSearchCte(QMod, QCap)},
          exd AS (SELECT q.qid, b.vec_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> (q.qv[i]::BIGINT - b.qv[i]::BIGINT) * (q.qv[i]::BIGINT - b.qv[i]::BIGINT)))
                 AS BIGINT) AS d2
             FROM q JOIN qb b ON b.vec_id <> q.qid),
          gt AS (SELECT qid, vec_id FROM (
               SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                   ORDER BY d2, vec_id) AS rn FROM exd) WHERE rn <= $TopN),
          hits AS (SELECT t.qid, count(*) AS h FROM topk t
               JOIN gt ON gt.qid = t.qid AND gt.vec_id = t.vec_id GROUP BY 1),
          nc AS (SELECT qid, count(*) AS n_cand FROM cand GROUP BY 1),
          t1 AS (SELECT t.qid, t.vec_id AS top1_vec_id, e.d2 AS top1_exact_d2
             FROM topk t JOIN exd e ON e.qid = t.qid AND e.vec_id = t.vec_id
             WHERE t.rank = 1)
          SELECT q.qid, CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
            t1.top1_vec_id, t1.top1_exact_d2,
            coalesce(hits.h, 0)::DOUBLE / $TopN AS recall_at10
          FROM q LEFT JOIN nc USING (qid) LEFT JOIN t1 USING (qid)
          LEFT JOIN hits USING (qid)""") { (s, d) =>
      val IvfpqSearch(q, cand, topk) = ivfpqSearch(s, d, QMod, QCap, QMax)
      // Exact brute-force audit — read from the SHARED ground-truth stage
      // (r17): the |Q|·corpus int8 kernel pass is paid once per pipeline
      // run (the `gt10` stage) and consumed by both this recall audit and
      // x135's MRR truth, instead of each query repeating the corpus-scale
      // exact pass. Same query set, same kernel, same (d2, vec_id) heap
      // order — see sharedBruteTop10.
      val qb0 = ClusterQueries.sharedInt8(s, d)
      val gt = sharedBruteTop10(s, d)
        .select(col("qid"), explode(col("top")).as("hit"))
        .select(col("qid"), col("hit.vec_id").as("vec_id"))
      // limit(QMax): no-ops — one row per capped query id;
      // machine-visible PlanGuard bounds.
      val hits = topk.join(gt, Seq("qid", "vec_id")).groupBy("qid")
        .agg(count(lit(1)).as("h")).limit(QMax)
      val nc = cand.groupBy("qid").agg(count(lit(1)).as("n_cand")).limit(QMax)
      // Exact top-1 distance: one kernel per rank-1 (qid, vec_id) pair via
      // two broadcast lookups into the int8 frame (the x113 re-rank shape)
      // — identical value to probing the old materialized distance frame.
      // limit(QMax): no-op on the one rank-1 row per capped query id;
      // PlanGuard-visible bound for the broadcasts below.
      val r1 = topk.filter(col("rank") === 1).limit(QMax)
      val t1 = qb0.select(col("vec_id").as("qid"), col("qv").as("qqv"))
        .join(broadcast(r1.select("qid", "vec_id")), "qid")
        .join(broadcast(qb0.select(col("vec_id"), col("qv").as("dqv"))
          .join(broadcast(r1.select("vec_id").distinct()), "vec_id")
          .limit(QMax)), "vec_id")
        .select(col("qid"), col("vec_id").as("top1_vec_id"),
          KMeans.int8Dist2(col("qqv"), col("dqv")).as("top1_exact_d2"))
        .limit(QMax)
      q.select("qid")
        .join(broadcast(nc), Seq("qid"), "left")
        .join(broadcast(t1), Seq("qid"), "left")
        .join(broadcast(hits), Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_cand"), lit(0L)).cast("long").as("n_cand"),
          col("top1_vec_id"), col("top1_exact_d2"),
          (coalesce(col("h"), lit(0L)).cast("double") / TopN).as("recall_at10"))
    },

    // PQ codebook drift audit (x117) — the embedding-distribution shift
    // detector an ML-ops pipeline runs before reusing a trained index:
    // codebooks train on the label-0 slice only (the "yesterday's data"
    // stand-in; seeds = its K smallest ids), then EVERY vector encodes
    // under them and the per-label mean quantization error is compared to
    // the training slice's own. A slice whose error runs >20% above the
    // training baseline gets flagged — its vectors live where the
    // codebook has no centroids (distribution drift), and ANN recall on
    // it will silently degrade. All means are exact-int64 micro averages
    // ((2s+n) div 2n); the 20% gate compares 10·avg_l > 12·avg_0 in
    // int64, so the flag is ULP-stable. Output: one row per label.
    QueryDef("x117_codebook_drift",
      s"""WITH $DriftCte,
          pl AS (SELECT lb.label, count(*) AS n_vecs, sum(vd.vd2) AS s
               FROM vd JOIN lb USING (vec_id) GROUP BY 1),
          am AS (SELECT label, n_vecs, (2 * s + n_vecs) // (2 * n_vecs) AS avg_micro
               FROM pl),
          b0 AS (SELECT avg_micro AS base FROM am WHERE label = 0)
          SELECT label::BIGINT AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
            avg_micro::DOUBLE / ${Fp} AS avg_d2,
            CASE WHEN (SELECT base FROM b0) > 0
              THEN avg_micro::DOUBLE / (SELECT base FROM b0) END AS drift_ratio,
            avg_micro * 10 > (SELECT base FROM b0) * 12 AS flagged
          FROM am""") { (s, d) =>
      val lb = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      val enc = assignOnce(subCodes(s, d), sharedDriftCodebooks(s, d))
      val vd = enc.groupBy("vec_id").agg(sum("d2i").as("vd2"))
      val pl = vd.join(lb, "vec_id").groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("vd2").as("s"))
      val am = pl.select(col("label"), col("n_vecs"),
        expr("(2 * s + n_vecs) div (2 * n_vecs)").as("avg_micro"))
      // limit(1): no-op — the single label-0 baseline row;
      // machine-visible PlanGuard bound.
      val b0 = am.filter(col("label") === 0).select(col("avg_micro").as("base")).limit(1)
      am.crossJoin(broadcast(b0))
        .select(col("label").cast("long").as("label"),
          col("n_vecs").cast("long").as("n_vecs"),
          (col("avg_micro").cast("double") / Fp).as("avg_d2"),
          when(col("base") > 0, col("avg_micro").cast("double") / col("base"))
            .as("drift_ratio"),
          (col("avg_micro") * 10 > col("base") * 12).as("flagged"))
    },

    // x117 evaluated AT ARRIVAL (s22): the streaming embedding-drift gate
    // — each incoming vector scored against the label-0-trained codebooks
    // and flagged when its quantization error runs >20% above the
    // training slice's per-vector mean. The model (m·k codebook entries +
    // the exact int64 baseline) rides one broadcast row; the score is a
    // pure in-row fold, so the stream is stateless, watermark-free, and
    // bitwise equal to the batch computation per vector — which IS the
    // oracle. Runner in EventStream.runDriftGate.
    QueryDef("s22_stream_drift_gate",
      s"""WITH $DriftCte,
          b AS (SELECT (2 * sum(vd.vd2) + count(*)) // (2 * count(*)) AS base
               FROM vd JOIN lb USING (vec_id) WHERE lb.label = 0)
          SELECT vec_id, CAST(vd2 AS BIGINT) AS q_err_micro,
            vd2 * 10 > (SELECT base FROM b) * 12 AS drifted
          FROM vd""") { (s, d) =>
      val name = "s22_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runDriftGate(s, d, name))
        .select(col("vec_id"), col("q_err_micro"), col("drifted"))
    },

    // Retrieval MRR audit (x135) — the rank-position eval x116's recall@10
    // cannot see: recall treats "true neighbor at rank 1" and "at rank 10"
    // identically, but a reranker consuming the candidate list cares WHERE
    // the truth sits. Per query: the exact int8 brute-force nearest
    // neighbor (the ground truth), its rank in the full-corpus PQ-ADC
    // top-10 (x113's ranking), and the reciprocal rank (0 if the truth
    // fell outside — standard MRR@k); the corpus-wide MRR rides every row.
    // Determinism: 1/rank and the mean snap to 1e-6 fixed point by integer
    // round-half-up (the mean averages the per-query ROUNDED values,
    // mirrored in the oracle). Scale: ADC ranking via the bounded topk_min
    // heap — k rows per (partition, qid) cross the shuffle, where x113's
    // row_number window sorts a corpus-sized partition per query; the
    // brute-force side is the |Q|-broadcast audit kernel x116 also pays
    // (it IS the ground truth — a production run samples queries, which
    // the QMod/QCap cap models).
    QueryDef("x135_search_mrr",
      s"""WITH $PqCte,
          q AS (SELECT vec_id AS qid, sub, sq FROM sv WHERE vec_id % $QMod = 0 AND vec_id < $QCap),
          lut AS (SELECT q.qid, c.sub, c.cid,
               CAST(floor(${bD2("q.sq", "c.ce")} * ${Fp} + 0.5) AS BIGINT) AS ld
             FROM q JOIN c1 c USING (sub)),
          adc AS (SELECT l.qid, a.vec_id, sum(l.ld) AS adc
             FROM a2 a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
             WHERE a.vec_id <> l.qid
             GROUP BY 1, 2),
          rk AS (SELECT qid, vec_id, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
             FROM adc),
          top AS (SELECT * FROM rk WHERE rank <= $TopN),
          fqv AS (SELECT vec_id AS qid, qv FROM qb WHERE vec_id % $QMod = 0 AND vec_id < $QCap),
          exd AS (SELECT f.qid, b.vec_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> (f.qv[i]::BIGINT - b.qv[i]::BIGINT) * (f.qv[i]::BIGINT - b.qv[i]::BIGINT)))
                 AS BIGINT) AS d2
             FROM fqv f JOIN qb b ON b.vec_id <> f.qid),
          gt AS (SELECT qid, vec_id AS gt_vec_id FROM (
               SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                   ORDER BY d2, vec_id) AS rn FROM exd) WHERE rn = 1),
          rr AS (SELECT gt.qid, gt.gt_vec_id, t.rank,
               coalesce((2 * 1000000 + t.rank) // (2 * t.rank), 0) AS rrfp
             FROM gt LEFT JOIN top t ON t.qid = gt.qid AND t.vec_id = gt.gt_vec_id),
          mstat AS (SELECT (2 * sum(rrfp) + count(*)) // (2 * count(*)) AS mrrfp FROM rr)
          SELECT rr.qid, rr.gt_vec_id, CAST(rr.rank AS BIGINT) AS adc_rank,
            rrfp / 1000000.0 AS rr, (SELECT mrrfp FROM mstat) / 1000000.0 AS mrr
          FROM rr""") { (s, d) =>
      val codes = sharedPqCodes(s, d)
      val q = codes.filter(col("vec_id") % QMod === 0 && col("vec_id") < QCap)
        .limit(QMax * M) // no-op on the predicate rows; PlanGuard-visible bound
        .select(col("vec_id").as("qid"), col("sub"), col("sq"))
      val lut = q.join(broadcast(sharedCodebooks(s, d)), "sub")
        .select(col("qid"), col("sub"), col("cid"),
          floor(d2(col("sq"), col("ce")) * Fp + 0.5).cast("long").as("ld"))
      val adc = codes.select("vec_id", "sub", "cid")
        .join(broadcast(lut), Seq("sub", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id").agg(sum("ld").as("adc"))
      // Bounded-heap top-10 per query (ascending (adc, vec_id) = x113's
      // ordering incl. ties); limit = 10 rows per capped qid, no-op,
      // PlanGuard-visible.
      val top = adc.groupBy("qid")
        .agg(TopK.topk_min(struct(col("adc"), col("vec_id")), TopN).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("p", "hit")))
        .select(col("qid"), col("hit.vec_id").as("gt_vec_id"),
          (col("p") + 1).cast("long").as("rnk"))
        .limit(QMax * TopN)
      // Ground truth from the SHARED brute-force stage (r17): element 0 of
      // the ascending top-10 heap IS the k=1 heap under the identical
      // (d2, vec_id) order — the |Q|·corpus exact pass is paid once per
      // pipeline run (`gt10`), not re-run here.
      val gt = sharedBruteTop10(s, d)
        .select(col("qid"), col("top")(0).getField("vec_id").as("gt_vec_id"))
        .limit(QMax) // one ground-truth row per capped qid
      val rr = gt.join(top, Seq("qid", "gt_vec_id"), "left")
        .withColumn("rrfp",
          coalesce(expr("(2 * 1000000 + rnk) div (2 * rnk)"), lit(0L)))
      val m = rr.agg(
        expr("(2 * sum(rrfp) + count(1)) div (2 * count(1))").as("mrrfp"))
      rr.crossJoin(broadcast(m))
        .select(col("qid"), col("gt_vec_id"),
          col("rnk").cast("long").as("adc_rank"),
          (col("rrfp") / 1000000.0).as("rr"),
          (col("mrrfp") / 1000000.0).as("mrr"))
    }
  )
}
