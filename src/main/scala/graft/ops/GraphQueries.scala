package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.queries.QueryDef.t

/** Graph analytics over the near-duplicate candidate graph — the layer on
  * top of the pair family (x03/x111) and the component family (x21/x35):
  * PageRank as the AUTHORITY score for canonical-document selection. When
  * a dup cluster must keep one representative, "the doc most linked into
  * the near-dup neighborhood" is a better canonical than min-id (it's the
  * version the most variants derive from) — the same reasoning search
  * engines apply to mirror clusters.
  *
  * Determinism posture: scores live entirely in int64 fixed point (1e12
  * scale); per-edge shares use truncating integer division (identical in
  * both engines on non-negatives), so no float ever crosses rows and the
  * three unrolled power iterations are bitwise reproducible anywhere.
  * Dangling-mass redistribution is deliberately omitted (isolated docs
  * keep teleport mass only) — the standard sparse-graph simplification;
  * scores are a RANKING signal, not a probability distribution.
  *
  * Scale shape: edges come from the shared band frame (band-keyed
  * equi-join — never all-pairs); each iteration is one (src-keyed share
  * map) + one (dst-keyed sum) shuffle over edge rows, with map-side
  * combine on the sum; the node frame joins by doc_id throughout. Three
  * iterations = the fixed-depth unrolling a ranking signal needs (full
  * convergence buys nothing for canonical selection).
  */
object GraphQueries {

  private val S = 1000000000000L // 1e12 fixed-point score scale
  private val Iters = 3

  /** Clone-collapsed PageRank scores (doc_id, degree, pr_fp) — the x115
    * computation as a reusable stage (x120 composes it with the dup
    * components for canonical selection). See x115's Scaladoc for the
    * exactness argument; the doc-space oracle is the bitwise proof.
    *
    * SharedStages-cached (r16): x115 and x120 both consume this frame, and
    * before r16 each rebuilt the full three-iteration rank chain (~4-5 s
    * apiece at sf0.1 — the two slowest batch queries in BENCH_r15). As a
    * named bench stage the suite pays the iteration once, under its own
    * timer, exactly like components/bands; production materializes the
    * score table once per pipeline run the same way. */
  private[ops] def pagerankScores(s: SparkSession, d: String): DataFrame =
    graft.util.SharedStages.cached("documents-pagerank", s, d)(
      pagerankScoresUncached(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Shared-stage builders for the bench's separately-timed pre-build pass
    * (see OpsQueries.stageBuilders). Depends on repmap/repcands/bands —
    * listed after OpsQueries' builders in Bench's stage pass. */
  private[graft] def stageBuilders
      : Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "pagerank" -> (pagerankScores(_, _)))

  private def pagerankScoresUncached(s: SparkSession, d: String): DataFrame = {
    val rm = OpsQueries.sharedRepMap(s, d) // (doc_id, rep)
    val mult = rm.groupBy("rep").agg(count(lit(1)).as("m"))
    // Shared rep-level band-collision pairs (one band self-join per pass,
    // shared with x03/x64 and the edge consumers).
    val rcand = OpsQueries.sharedRepCands(s, d)
    // Rep-level symmetric edges, read once per iteration (3×) + degrees.
    // NOT pre-partitioned on src: measured at sf0.1, AQE broadcasts the
    // small node-side of every src-keyed join, so the edge frame is never
    // shuffled and an upfront repartition(src) is a pure extra shuffle
    // (+4-5% warm). On a cluster where the node side outgrows broadcast,
    // revisit: a src-partitioned persist would then feed all four SMJs.
    val redges = graft.util.PersistScope.track(
      rcand.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(rcand.select(col("d2").as("src"), col("d1").as("dst")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hasBands = OpsQueries.sharedBands(s, d).select("doc_id").distinct()
      .join(rm.filter(col("doc_id") === col("rep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("rep"), lit(1).as("hb"))
    val cross = redges
      .join(mult.select(col("rep").as("src"), col("m").as("ms")), "src")
      .groupBy(col("dst").as("rep")).agg(sum("ms").as("cd"))
    // `cross` and `hasBands` are rep-count-sized (≈ the deduped corpus) —
    // never broadcast them; a plain shuffle join on `rep` is the scale-safe
    // shape (round-10 verdict: a rep-sized broadcast OOMs at 100×).
    val nodes = graft.util.PersistScope.track(mult
      .join(cross, Seq("rep"), "left")
      .join(hasBands, Seq("rep"), "left")
      .select(col("rep"), col("m"),
        (coalesce(col("cd"), lit(0L)) +
          when(col("hb").isNotNull, col("m") - 1).otherwise(lit(0L))).as("deg"),
        when(col("hb").isNotNull, col("m") - 1).otherwise(lit(0L)).as("sd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nRow = t(s, d, "documents").agg(count(lit(1)).as("n"))
    def step(r: DataFrame): DataFrame = {
      val shares = r.select(col("rep"), col("m"), col("deg"), col("sd"),
        when(col("deg") > 0, expr("r div deg")).otherwise(lit(0L)).as("share"))
      val contrib = redges
        .join(shares.select(col("rep").as("src"), col("m").as("ms"),
          col("share").as("sshare")), "src")
        .select(col("dst").as("rep"), (col("ms") * col("sshare")).as("w"))
        .groupBy("rep").agg(sum("w").as("cin"))
      shares
        .join(contrib, Seq("rep"), "left")
        .crossJoin(broadcast(nRow))
        .select(col("rep"), col("m"), col("deg"), col("sd"),
          expr(s"(15 * ($S div n)) div 100" +
            " + (85 * (coalesce(cin, CAST(0 AS BIGINT)) + sd * share)) div 100")
            .as("r"))
    }
    val r0 = nodes.crossJoin(broadcast(nRow))
      .select(col("rep"), col("m"), col("deg"), col("sd"), expr(s"$S div n").as("r"))
    // The rank chain stays UNPERSISTED: `shares` feeds both the
    // contribution map and the rank update, but the duplicated subtrees
    // plan identical exchanges, and exchange reuse computes them once —
    // measured: persisting each iteration's rep-sized frame ADDED ~15%
    // (materialization cost for work the reused exchange already shares).
    val rF = (1 to Iters).foldLeft(r0)((r, _) => step(r))
    rm.join(rF.select("rep", "deg", "r"), "rep")
      .select(col("doc_id"), col("deg").cast("long").as("degree"),
        col("r").cast("long").as("pr_fp"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Near-dup-graph PageRank (x115). Output: every doc's degree and its
    // exact fixed-point score after 3 damped (d=0.85) power iterations.
    QueryDef("x115_dedup_pagerank",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(
                sig[band*${OpsQueries.BandSize}+1 : band*${OpsQueries.BandSize}+${OpsQueries.BandSize}], ',')) AS band_hash
            FROM (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${OpsQueries.NumHashes / OpsQueries.BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          edges AS (SELECT d1 AS src, d2 AS dst FROM cand
                    UNION ALL SELECT d2, d1 FROM cand),
          deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
          nodes AS (SELECT d.doc_id, coalesce(g.deg, 0) AS deg
                    FROM documents d LEFT JOIN deg g ON g.src = d.doc_id),
          c AS (SELECT count(*) AS n FROM documents),
          r0 AS (SELECT doc_id, deg, $S // (SELECT n FROM c) AS r FROM nodes),
          i1 AS (SELECT n.doc_id, n.deg,
               (15 * ($S // (SELECT n FROM c))) // 100
                 + (85 * coalesce(sum(p.r // p.deg), 0)) // 100 AS r
             FROM r0 n LEFT JOIN edges e ON e.dst = n.doc_id
             LEFT JOIN r0 p ON p.doc_id = e.src
             GROUP BY 1, 2),
          i2 AS (SELECT n.doc_id, n.deg,
               (15 * ($S // (SELECT n FROM c))) // 100
                 + (85 * coalesce(sum(p.r // p.deg), 0)) // 100 AS r
             FROM i1 n LEFT JOIN edges e ON e.dst = n.doc_id
             LEFT JOIN i1 p ON p.doc_id = e.src
             GROUP BY 1, 2),
          i3 AS (SELECT n.doc_id, n.deg,
               (15 * ($S // (SELECT n FROM c))) // 100
                 + (85 * coalesce(sum(p.r // p.deg), 0)) // 100 AS r
             FROM i2 n LEFT JOIN edges e ON e.dst = n.doc_id
             LEFT JOIN i2 p ON p.doc_id = e.src
             GROUP BY 1, 2)
          SELECT doc_id, CAST(deg AS BIGINT) AS degree, CAST(r AS BIGINT) AS pr_fp
          FROM i3""") { (s, d) =>
      // CLONE-COLLAPSED computation of the doc-space semantics above (the
      // x90 rep-collapse pattern): identical texts have identical bands,
      // hence identical neighborhoods, hence identical scores — so the
      // whole iteration runs on exact-text REPRESENTATIVES with integer
      // multiplicities, immune to dup density (the 10× dense-skew stress
      // measured the doc-space form at 6-13×: clone groups grow the edge
      // set quadratically in multiplicity). The UNCHANGED doc-space
      // oracle is the bitwise proof. Shared with x120 — see
      // [[pagerankScores]].
      pagerankScores(s, d)
    },

    // Canonical-document selection (x120) — the composition the dedup
    // pipeline actually ships: per near-dup CLUSTER (the x21 verified
    // components), keep the member with the highest PageRank authority
    // (x115) — "the version the most variants derive from" — with a
    // deterministic (score desc, doc_id) tie-break. Min-id selection
    // (x53's representative rule) keeps an arbitrary member; this keeps
    // the hub. Output: one row per cluster with its size, the canonical
    // doc, and its score. Scale: both inputs are shared/rep-collapsed
    // stages; the selection itself is one window over cluster-sized
    // groups of the (doc, score) join.
    QueryDef("x120_canonical_docs",
      s"""WITH RECURSIVE ${OpsQueries.componentsCteOver("documents")},
          psym AS (SELECT d1 AS src, d2 AS dst FROM cand
                   UNION ALL SELECT d2, d1 FROM cand),
          pdeg AS (SELECT src, count(*) AS deg FROM psym GROUP BY 1),
          pnodes AS (SELECT d.doc_id, coalesce(g.deg, 0) AS deg
                     FROM documents d LEFT JOIN pdeg g ON g.src = d.doc_id),
          pc AS (SELECT count(*) AS n FROM documents),
          pr0 AS (SELECT doc_id, deg, $S // (SELECT n FROM pc) AS r FROM pnodes),
          pi1 AS (SELECT n.doc_id, n.deg,
               (15 * ($S // (SELECT n FROM pc))) // 100
                 + (85 * coalesce(sum(p.r // p.deg), 0)) // 100 AS r
             FROM pr0 n LEFT JOIN psym e ON e.dst = n.doc_id
             LEFT JOIN pr0 p ON p.doc_id = e.src
             GROUP BY 1, 2),
          pi2 AS (SELECT n.doc_id, n.deg,
               (15 * ($S // (SELECT n FROM pc))) // 100
                 + (85 * coalesce(sum(p.r // p.deg), 0)) // 100 AS r
             FROM pi1 n LEFT JOIN psym e ON e.dst = n.doc_id
             LEFT JOIN pi1 p ON p.doc_id = e.src
             GROUP BY 1, 2),
          pi3 AS (SELECT n.doc_id, n.deg,
               (15 * ($S // (SELECT n FROM pc))) // 100
                 + (85 * coalesce(sum(p.r // p.deg), 0)) // 100 AS r
             FROM pi2 n LEFT JOIN psym e ON e.dst = n.doc_id
             LEFT JOIN pi2 p ON p.doc_id = e.src
             GROUP BY 1, 2),
          sized AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1),
          scored AS (SELECT l.cluster_id, l.doc_id, p.r FROM lab l
               JOIN pi3 p USING (doc_id)),
          rep AS (SELECT cluster_id, doc_id AS canonical_doc_id, r AS canonical_pr_fp
             FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                 ORDER BY r DESC, doc_id) AS rn FROM scored) WHERE rn = 1)
          SELECT r.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
            r.canonical_doc_id, CAST(r.canonical_pr_fp AS BIGINT) AS canonical_pr_fp
          FROM rep r JOIN sized s USING (cluster_id)""") { (s, d) =>
      val lab = OpsQueries.sharedComponents(s, d)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val scored = lab.join(pagerankScores(s, d).select("doc_id", "pr_fp"), "doc_id")
      val rw = Window.partitionBy("cluster_id")
        .orderBy(col("pr_fp").desc, col("doc_id"))
      val rep = scored.withColumn("rn", row_number().over(rw)).filter(col("rn") === 1)
      val sized = lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      rep.join(sized, "cluster_id")
        .select(col("cluster_id"), col("cluster_size").cast("long").as("cluster_size"),
          col("doc_id").as("canonical_doc_id"),
          col("pr_fp").cast("long").as("canonical_pr_fp"))
    },

    // Near-dup pair EDIT-DISTANCE audit (x124) — the character-level read
    // the shingle-set jaccard can't give: two near-dups with jaccard 0.85
    // may differ by a navigation header (fine to dedup) or by scattered
    // token edits throughout (a template family — maybe worth keeping
    // both). Levenshtein over the verified REP edges (clone-immune by
    // construction: the kernel is a function of the two texts), with the
    // texts CAPPED at 500 chars — the O(n·m) DP cell count is bounded at
    // 250k per pair regardless of document length, the standard prefix
    // heuristic for dedup audits. Similarity snaps to 1e-6 fixed point by
    // integer round-half-up (ratio of exact ints — the x108 idiom), so
    // the emitted double is bit-identical in both engines. Scale shape:
    // one kernel per rep edge (the LSH-bounded sparse graph), texts reach
    // the kernel via two doc-keyed equi-joins; nothing quadratic, nothing
    // broadcast.
    QueryDef("x124_edit_distance",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*${OpsQueries.BandSize}+1 : band*${OpsQueries.BandSize}+${OpsQueries.BandSize}], ',')) AS band_hash
            FROM (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${OpsQueries.NumHashes / OpsQueries.BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct(${OpsQueries.ShinglesSql}) AS s FROM documents),
          rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
          reps AS (SELECT doc_id FROM rm WHERE doc_id = rep),
          e AS (SELECT p.d1, p.d2 FROM cand p
            JOIN reps r1 ON r1.doc_id = p.d1 JOIN reps r2 ON r2.doc_id = p.d2
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          x AS (SELECT e.d1, e.d2,
              CAST(levenshtein(substr(t1.text, 1, 500), substr(t2.text, 1, 500)) AS BIGINT) AS lev,
              greatest(least(length(t1.text), 500), least(length(t2.text), 500), 1) AS ml
            FROM e JOIN documents t1 ON t1.doc_id = e.d1
            JOIN documents t2 ON t2.doc_id = e.d2)
          SELECT d1, d2, lev AS edit_distance,
            CAST((2 * (ml - lev) * 1000000 + ml) // (2 * ml) AS BIGINT) / 1000000.0 AS sim
          FROM x""") { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 500).as("tx"))
      OpsQueries.sharedRepEdges(s, d)
        .join(docs.select(col("doc_id").as("d1"), col("tx").as("t1")), "d1")
        .join(docs.select(col("doc_id").as("d2"), col("tx").as("t2")), "d2")
        .withColumn("lev", levenshtein(col("t1"), col("t2")).cast("long"))
        .withColumn("ml", greatest(length(col("t1")), length(col("t2")), lit(1)).cast("long"))
        .select(col("d1"), col("d2"), col("lev").as("edit_distance"),
          (expr("(2 * (ml - lev) * 1000000 + ml) div (2 * ml)") / 1000000.0).as("sim"))
    },

    // Dup-cluster COHESION audit (x125) — "is this cluster one document
    // family or a chain of unrelated texts glued by weak links?": per
    // transitive near-dup cluster, its size and the mean/min jaccard over
    // its REP-level verified edges. LSH + transitive closure can chain A-B
    // (0.8) and B-C (0.8) into one cluster where A-C is unrelated — a low
    // MIN flags the chain before a canonical-doc collapse (x120) destroys
    // distinct content. Determinism: each edge's jaccard snaps to 1e-6
    // fixed point by integer round-half-up from the exact |∩|/|∪| counts,
    // the per-cluster mean divides the integer SUM once (decimal(38,0) —
    // immune to float addition order), and min is order-free. Scale shape:
    // kernels once per rep edge (clone-immune), one cluster-keyed agg over
    // the sparse edge set, one over the membership frame.
    QueryDef("x125_cluster_cohesion",
      s"""WITH RECURSIVE ${OpsQueries.componentsCteOver("documents")},
          rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
          reps AS (SELECT doc_id FROM rm WHERE doc_id = rep),
          rj AS (SELECT p.d1, p.d2,
              (2 * len(list_filter(s1.s, x -> list_contains(s2.s, x)))::BIGINT * 1000000
                 + greatest(len(list_distinct(s1.s || s2.s)), 1))
                // (2 * greatest(len(list_distinct(s1.s || s2.s)), 1)) AS jfp
            FROM cand p
            JOIN reps r1 ON r1.doc_id = p.d1 JOIN reps r2 ON r2.doc_id = p.d2
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          el AS (SELECT l.cluster_id, rj.jfp FROM rj JOIN lab l ON l.doc_id = rj.d1),
          ce AS (SELECT cluster_id, count(*) AS n_edges,
              CAST(sum(jfp) AS BIGINT) AS sj, min(jfp) AS mj
            FROM el GROUP BY 1),
          sz AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1)
          SELECT sz.cluster_id, CAST(sz.n_docs AS BIGINT) AS n_docs,
            CAST(coalesce(ce.n_edges, 0) AS BIGINT) AS n_rep_edges,
            CAST((2 * ce.sj + ce.n_edges) // (2 * ce.n_edges) AS BIGINT) / 1000000.0
              AS mean_jaccard,
            CAST(ce.mj AS BIGINT) / 1000000.0 AS min_jaccard
          FROM sz LEFT JOIN ce USING (cluster_id)""") { (s, d) =>
      val sh = OpsQueries.sharedShingles(s, d)
      val inter = size(array_intersect(col("s1.s"), col("s2.s"))).cast("long")
      val uni = greatest(size(array_union(col("s1.s"), col("s2.s"))), lit(1)).cast("long")
      val rj = OpsQueries.sharedRepCands(s, d)
        .join(sh.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sh.as("s2"), col("d2") === col("s2.doc_id"))
        .filter(inter.cast("double") / uni >= 0.8)
        .withColumn("i", inter).withColumn("u", uni)
        .select(col("d1"),
          expr("(2 * i * 1000000 + u) div (2 * u)").cast("long").as("jfp"))
      val lab = OpsQueries.sharedComponents(s, d)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val el = rj.join(lab.select(col("doc_id").as("d1"), col("cluster_id")), "d1")
      val ce = el.groupBy("cluster_id").agg(count(lit(1)).as("n_edges"),
        sum(col("jfp").cast("decimal(38,0)")).cast("long").as("sj"), min("jfp").as("mj"))
      val sz = lab.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
      sz.join(ce, Seq("cluster_id"), "left")
        .select(col("cluster_id"), col("n_docs").cast("long").as("n_docs"),
          coalesce(col("n_edges"), lit(0L)).cast("long").as("n_rep_edges"),
          (expr("(2 * sj + n_edges) div (2 * n_edges)") / 1000000.0).as("mean_jaccard"),
          (col("mj") / 1000000.0).as("min_jaccard"))
    },

    // Triangle counting + local clustering coefficient (x134) over the
    // verified rep-level near-dup graph — the graph-shape audit the
    // cohesion family (x125) reads edge weights for, read here from the
    // TOPOLOGY: a node whose neighborhood is a clique (lcc → 1) sits in a
    // genuine document family; high degree with lcc → 0 is the hub of a
    // star — the template/boilerplate signature that chains unrelated
    // texts through one shared page. Algorithm: each edge is oriented
    // from its lower-(degree, id) endpoint, wedges are enumerated at the
    // orientation source only, and a wedge is a triangle iff its two
    // endpoints are themselves an edge — the standard distributed scheme
    // (Suri & Vassilvitskii, WWW'11): out-degree under this orientation
    // is O(√m), so per-node wedge fan-out is bounded by m, never by the
    // raw degree of a hub. Every step is an equi-join on node ids; no
    // broadcast, nothing all-pairs. Determinism: counts are exact ints;
    // lcc = 2T/(deg·(deg−1)) snaps to 1e-6 fixed point by integer
    // round-half-up (the x108 idiom), so the double is bit-identical in
    // both engines.
    QueryDef("x134_triangle_count",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*${OpsQueries.BandSize}+1 : band*${OpsQueries.BandSize}+${OpsQueries.BandSize}], ',')) AS band_hash
            FROM (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${OpsQueries.NumHashes / OpsQueries.BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct(${OpsQueries.ShinglesSql}) AS s FROM documents),
          rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
          reps AS (SELECT doc_id FROM rm WHERE doc_id = rep),
          e AS (SELECT p.d1, p.d2 FROM cand p
            JOIN reps r1 ON r1.doc_id = p.d1 JOIN reps r2 ON r2.doc_id = p.d2
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          deg AS (SELECT v, count(*) AS g FROM
            (SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY 1),
          tri AS (SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
            FROM e e1 JOIN e e2 ON e2.d1 = e1.d2
            JOIN e e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
          tn AS (SELECT v, count(*) AS t FROM
            (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY 1)
          SELECT deg.v AS doc_id, CAST(deg.g AS BIGINT) AS degree,
            CAST(coalesce(tn.t, 0) AS BIGINT) AS triangles,
            CASE WHEN deg.g >= 2 THEN
              CAST((4 * coalesce(tn.t, 0) * 1000000 + deg.g * (deg.g - 1))
                // (2 * deg.g * (deg.g - 1)) AS BIGINT) / 1000000.0
            ELSE 0.0 END AS lcc
          FROM deg LEFT JOIN tn ON tn.v = deg.v""") { (s, d) =>
      val e = OpsQueries.sharedRepEdges(s, d) // (d1, d2), d1 < d2, verified
      val deg = e.select(col("d1").as("v")).unionByName(e.select(col("d2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("g"))
      // Orient each edge from its lower-(deg, id) endpoint: wedges are
      // enumerated only at orientation sources, whose out-degree is O(√m).
      val de = e
        .join(deg.select(col("v").as("d1"), col("g").as("g1")), "d1")
        .join(deg.select(col("v").as("d2"), col("g").as("g2")), "d2")
        .select(when(col("g1") < col("g2")
            || (col("g1") === col("g2") && col("d1") < col("d2")),
          struct(col("d1").as("s"), col("d2").as("t")))
          .otherwise(struct(col("d2").as("s"), col("d1").as("t"))).as("o"))
        .select(col("o.s").as("src"), col("o.t").as("dst"))
      // Wedge (u; v < w) closes into a triangle iff (v, w) is an edge —
      // e is already id-canonical (d1 < d2), so the closure is one lookup.
      val wedges = de.as("a").join(de.as("b"),
          col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
        .select(col("a.src").as("u"), col("a.dst").as("v"), col("b.dst").as("w"))
      val tri = wedges.join(e,
        col("v") === col("d1") && col("w") === col("d2"))
      val tn = tri.select(explode(array(col("u"), col("v"), col("w"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("t"))
      deg.join(tn, Seq("v"), "left")
        .withColumn("t", coalesce(col("t"), lit(0L)))
        .select(col("v").as("doc_id"), col("g").cast("long").as("degree"),
          col("t").cast("long").as("triangles"),
          when(col("g") >= 2,
            expr("(4 * t * 1000000 + g * (g - 1)) div (2 * g * (g - 1))")
              / 1000000.0)
            .otherwise(lit(0.0)).as("lcc"))
    },

    // Degree assortativity (x136) — one exact Pearson correlation of
    // endpoint degrees over the near-dup graph's edges: positive means
    // big document families attach to each other (crawl-mirror topology),
    // negative means hubs attach to leaves (template/boilerplate stars) —
    // the one-number topology fingerprint that tells a curation run which
    // dedup posture (x120 canonical collapse vs x125 chain audit) the
    // corpus needs. Exactness: over the symmetrized edge list the x/y
    // marginals coincide, so r = (M·Σxy − S²)/(M·Σx² − S²) is a ratio of
    // exact decimal(38,0)/HUGEINT integers (degrees squared then summed —
    // cast BEFORE multiplying, the x131 rule); the sign is split out and
    // |r| snaps to 1e-6 fixed point by integer round-half-up, because
    // Spark's `div` truncates toward zero while DuckDB's `//` floors —
    // they agree only on non-negatives. Scale: two node-keyed equi-joins
    // + one scalar aggregate; the three 1-row frames cross-join at the
    // end (maxRows = 1 each, PlanGuard-visible).
    QueryDef("x136_degree_assortativity",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*${OpsQueries.BandSize}+1 : band*${OpsQueries.BandSize}+${OpsQueries.BandSize}], ',')) AS band_hash
            FROM (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${OpsQueries.NumHashes / OpsQueries.BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct(${OpsQueries.ShinglesSql}) AS s FROM documents),
          rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
          reps AS (SELECT doc_id FROM rm WHERE doc_id = rep),
          e AS (SELECT p.d1, p.d2 FROM cand p
            JOIN reps r1 ON r1.doc_id = p.d1 JOIN reps r2 ON r2.doc_id = p.d2
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          deg AS (SELECT v, count(*) AS g FROM
            (SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY 1),
          sym AS (SELECT d1 AS src, d2 AS dst FROM e
                  UNION ALL SELECT d2, d1 FROM e),
          a AS (SELECT g1.g::HUGEINT AS x, g2.g::HUGEINT AS y FROM sym
                JOIN deg g1 ON g1.v = sym.src JOIN deg g2 ON g2.v = sym.dst),
          st AS (SELECT count(*)::HUGEINT AS m, sum(x) AS sx,
                   sum(x * x) AS qx, sum(x * y) AS pxy FROM a)
          SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
            (SELECT count(*) FROM e)::BIGINT AS m_edges,
            CASE WHEN m * qx - sx * sx > 0 THEN
              CASE WHEN m * pxy - sx * sx >= 0
                THEN CAST((2 * (m * pxy - sx * sx) * 1000000 + (m * qx - sx * sx))
                       // (2 * (m * qx - sx * sx)) AS BIGINT) / 1000000.0
                ELSE -(CAST((2 * (sx * sx - m * pxy) * 1000000 + (m * qx - sx * sx))
                       // (2 * (m * qx - sx * sx)) AS BIGINT) / 1000000.0)
              END END AS assortativity
          FROM st""") { (s, d) =>
      val dec = "decimal(38,0)"
      val e = OpsQueries.sharedRepEdges(s, d)
      val deg = e.select(col("d1").as("v")).unionByName(e.select(col("d2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("g"))
      val sym = e.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(e.select(col("d2").as("src"), col("d1").as("dst")))
      val st = sym
        .join(deg.select(col("v").as("src"), col("g").as("x")), "src")
        .join(deg.select(col("v").as("dst"), col("g").as("y")), "dst")
        .agg(count(lit(1)).cast(dec).as("m"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("x").cast(dec) * col("x").cast(dec)).as("qx"),
          sum(col("x").cast(dec) * col("y").cast(dec)).as("pxy"))
        .withColumn("num", col("m") * col("pxy") - col("sx") * col("sx"))
        .withColumn("den", col("m") * col("qx") - col("sx") * col("sx"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      val me = e.agg(count(lit(1)).as("m_edges"))
      nn.crossJoin(me).crossJoin(st)
        .select(col("n_nodes").cast("long").as("n_nodes"),
          col("m_edges").cast("long").as("m_edges"),
          when(col("den") > 0,
            when(col("num") >= 0,
              expr("(2 * num * 1000000 + den) div (2 * den)") / 1000000.0)
              .otherwise(-(expr("(2 * (-num) * 1000000 + den) div (2 * den)")
                / 1000000.0)))
            .as("assortativity"))
    }
  )
}