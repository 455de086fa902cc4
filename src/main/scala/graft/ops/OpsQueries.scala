package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.queries.QueryDef.t

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force cosine top-k, LSH-bucketed ANN), and text analysis
  * (language-ID heuristics, quality scoring, token stats, fingerprinting).
  *
  * Cross-engine determinism: every hash is md5-hex (identical in Spark and
  * DuckDB); MinHash takes the lexicographic min over seeded md5 values;
  * SimHash uses the top bit of each md5 hex digit. No engine-specific hash
  * functions, no RNG.
  *
  * Scale design: all per-doc work is expression-level (no UDFs, no explode
  * where an array fold suffices). The pairwise stages (LSH pair generation,
  * ANN) only shuffle on bucket keys — the brute-force O(n·q) cosine is
  * explicitly the small-q baseline, with the LSH bucket join as the scale
  * path.
  */
object OpsQueries {

  // ---- shared building blocks -------------------------------------------

  /** Word tokens (split on single spaces — documents are single-spaced). */
  private[ops] def tokens(text: Column): Column = split(text, " ")

  /** Word 3-gram shingles of a token array. Docs with fewer than 3 tokens
    * yield an empty array — `sequence(1, 0)` would count DOWN on Spark
    * (unlike DuckDB's empty `generate_series`) and then hit index 0 in
    * `element_at`, so the degenerate case must be guarded explicitly. */
  private[ops] def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  private[ops] val ShinglesSql =
    """list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
       i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])"""

  private[ops] val NumHashes = 8
  private[ops] val BandSize = 2 // 4 bands x 2 hashes

  private[ops] val MinhashSigSql =
    s"""list_transform(generate_series(0, ${NumHashes - 1}),
        j -> list_min(list_transform($ShinglesSql, x -> md5(j::VARCHAR || '|' || x))))"""

  /** Staged doc → (doc_id, band, band_hash) frame: tokens, shingles, and the
    * MinHash signature are materialized as columns so each evaluates once per
    * row (splicing the trees into downstream lambdas would re-evaluate them
    * per reference — interpreted HOFs do no common-subexpression elimination). */
  private def bandsDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // The signature gate is expressed on the RAW column, not on `sig`:
    // sig[0] is null exactly when the doc has < 3 tokens (no shingles), and
    // a filter referencing the computed `sig` attribute gets substituted
    // through the projection into the scan — re-running the whole MinHash
    // digest loop per row as a scan DataFilter (the same pushdown trap as
    // p04's generate filter; found by the round-4 plan audit).
    docs.filter(length(col("text")) > 0 && size(tokens(col("text"))) >= 3)
      .withColumn("sig", MinHashFromTokensExpr.minhash_from_tokens(tokens(col("text")), NumHashes))
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), lit(NumHashes / BandSize - 1)),
        b => md5(concat_ws(",", slice(col("sig"), b * BandSize + 1, lit(BandSize)))))).as(Seq("band", "band_hash")))

  /** The band construction over an arbitrary (possibly STREAMING) doc
    * frame — s25's admission gate stages arriving docs through the exact
    * batch band chain so stream and oracle hash identically. */
  private[graft] def stagedBands(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandsDf(docs)

  /** Staged shingle sets over an arbitrary doc frame — the delta-side twin
    * of [[stagedBands]] (x82 stages its 20 planted twins through the exact
    * batch chain and unions them with the stored shared frames). */
  private[graft] def stagedShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleSets(docs)

  /** Staged doc → (doc_id, s: distinct shingle set). */
  private def shingleSets(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .withColumn("sh", shingles(col("toks")))
      .select(col("doc_id"), array_distinct(col("sh")).as("s"))

  /** Shared corpus wordcount frame: (doc_id, source, token, c) — the
    * reduced form of the full token explode, which x10/x22/x24/x39/x44/
    * x51/x52 each re-ran privately before round 7. Everything those
    * queries need re-derives from this one pass with further map-side-
    * combinable aggs (counts are exact integers, so every derivation is
    * order-independent); `source` rides along (constant per doc,
    * dictionary-compressed) so the per-source views need no join back to
    * the documents table. One corpus tokenization per pass instead of
    * seven. */
  private[graft] def sharedWordCounts(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-wordcounts", s, d)(
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "source", "token").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Staged doc → (doc_id, s, band, band_hash): the band explode CARRYING
    * the doc's shingle set — the one-frame form a STATELESS stream-side
    * ingest-dedup needs (s08): deriving bands and shingles as two frames
    * and re-joining them would be a stream self-join, i.e. stateful; this
    * keeps the whole incoming-doc pipeline a per-row map + explode. The
    * 4×-per-doc duplication of `s` is the price of statelessness and is
    * bounded by the band count. Exposed for the streaming queries. */
  private[graft] def stagedBandsWithShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(length(col("text")) > 0 && size(tokens(col("text"))) >= 3)
      .withColumn("toks", tokens(col("text")))
      .withColumn("sig", MinHashFromTokensExpr.minhash_from_tokens(col("toks"), NumHashes))
      .withColumn("s", array_distinct(shingles(col("toks"))))
      .select(col("doc_id"), col("s"),
        posexplode(transform(sequence(lit(0), lit(NumHashes / BandSize - 1)),
          b => md5(concat_ws(",", slice(col("sig"), b * BandSize + 1, lit(BandSize))))))
          .as(Seq("band", "band_hash")))

  // Shared across queries (x02/x03/x21 bands; x03/x05/x21/x23 shingles):
  // one DISK_ONLY materialization per (session, dir) per harness pass
  // instead of one per query. DISK_ONLY, not memory-first: these are the
  // two corpus-sized frames, and the loop-heavy consumers (x21's component
  // rounds) should not compete with them for executor memory. The session
  // identity is part of the key so a frame never outlives or crosses its
  // owning session. The ingest-dedup stream (s08) and the retrieval
  // queries join against these same frames.
  private[graft] def sharedBands(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-bands", s, d)(
      bandsDf(t(s, d, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))

  private[graft] def sharedShingles(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-shingles", s, d)(
      shingleSets(t(s, d, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))

  /** Shared-stage builders in dependency order (upstream first), for the
    * bench's separately-timed pre-build pass. Whichever query first
    * touches a SharedStages frame absorbs its whole build, so per-query
    * bench numbers depended on run order (x53 read 0.44 s or 4.69 s
    * across two identical r8 runs depending on who paid for the component
    * frame). Building each stage under its own named timer before the
    * query loop makes per-query numbers comparable across orderings; the
    * production analogue is materializing the staging tables once per
    * pipeline run before the query fleet reads them. */
  private[graft] def stageBuilders
      : Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "wordcounts" -> (sharedWordCounts(_, _)),
    "bands" -> (sharedBands(_, _)),
    "shingles" -> (sharedShingles(_, _)),
    "repmap" -> (sharedRepMap(_, _)),
    "repcands" -> (sharedRepCands(_, _)),
    "repedges" -> (sharedRepEdges(_, _)),
    "edges08" -> (sharedEdges(_, _)),
    "components" -> (sharedComponents(_, _)),
    "bpe3" -> (sharedBpeSegs(_, _)),
    // The stored-corpus substring-label artifact (s29's static side): the
    // build runs eagerly inside the call (a parquet write action); the
    // returned scan of the artifact is the noop-timed remainder.
    "sublabels" -> ((s, d) => s.read.parquet(Dedup.substringLabelArtifact(s, d))))

  /** Exact-duplicate representative map (doc_id → rep = min doc_id of its
    * exact-text group). The standard collapse a boilerplate-heavy crawl
    * corpus needs BEFORE near-dup candidate generation: exact copies share
    * every band hash, so an id-level band self-join is quadratic in copy
    * count, while the rep-level join is immune to it. One md5 window
    * shuffle, corpus-sized narrow frame. */
  private[graft] def sharedRepMap(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-repmap", s, d)(
      t(s, d, "documents")
        .select(col("doc_id"), min(col("doc_id")).over(
          Window.partitionBy(md5(col("text")))).as("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Verified near-dup edges at the exact-text REPRESENTATIVE level —
    * identical-text docs have identical band hashes and identical shingle
    * sets, so LSH candidacy and jaccard are functions of the
    * representative. Running the band self-join + verification over reps
    * only makes both immune to duplicate-group size (the 30× ScaleUp
    * stress: 30 copies/doc made the id-level join generate 900× the
    * candidate rows before any verification). Rep-graph sized. */
  /** UNVERIFIED LSH candidate pairs at the representative level (r1 < r2,
    * distinct) — the band self-join every pair consumer shares, run over
    * reps only so it is immune to exact-duplicate group size. Verification
    * kernels layer on top (sharedRepEdges filters ≥ 0.8; x03/x64 carry the
    * kernel values into their outputs). */
  private[graft] def sharedRepCands(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-repcands", s, d) {
      val m = sharedRepMap(s, d)
      val bands = sharedBands(s, d)
      // bands of representatives only (reps are rows where doc_id == rep).
      // Scoped persist: rb feeds both sides of the self-join; released
      // with the first consuming query, by which point this stage's own
      // persisted result is materialized.
      val rb = graft.util.PersistScope.track(bands.join(
        m.filter(col("doc_id") === col("rep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
      rb.as("a").join(rb.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private[graft] def sharedRepEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-repedges", s, d) {
      val sh = sharedShingles(s, d)
      sharedRepCands(s, d).join(sh.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sh.as("s2"), col("d2") === col("s2.doc_id"))
        .filter(size(array_intersect(col("s1.s"), col("s2.s"))).cast("double")
          / greatest(size(array_union(col("s1.s"), col("s2.s"))), lit(1)) >= 0.8)
        .select(col("d1"), col("d2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** All banded doc ids (docs that produced LSH bands: nonempty, ≥3
    * tokens). Group membership is text-determined, so a doc is banded iff
    * its whole exact-text group is. Derived from the persisted band frame
    * — cheap enough not to be its own stage. */
  private def bandedDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    sharedBands(s, d).select("doc_id").distinct()

  /** Verified near-dup edge set (jaccard ≥ 0.8 over LSH candidates) at the
    * id level — the pair-set consumers (x35 cross-source matrix, x43/x50
    * doomed sets) read this. Pure output-bound expansion of the rep-level
    * edges: intra-group pairs are jaccard-1 edges iff the group banded
    * (identical nonempty shingle sets share every band), cross-group pairs
    * inherit the rep pair's verdict verbatim. A group of n emits C(n, 2)
    * intra rows — that quadratic is the declared OUTPUT of pair-set
    * semantics, not avoidable work; connectivity consumers ride
    * [[sharedComponents]]' sparse edge set instead and never pay it. */
  private def sharedEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-edges08", s, d) {
      val m = sharedRepMap(s, d)
      val intra = m.as("ma").join(m.as("mb"),
        col("ma.rep") === col("mb.rep") && col("ma.doc_id") < col("mb.doc_id"))
        .join(bandedDocs(s, d).as("bd"), col("ma.doc_id") === col("bd.doc_id"), "left_semi")
        .select(col("ma.doc_id").as("d1"), col("mb.doc_id").as("d2"))
      // Disjoint from intra (different groups), and each id pair maps to
      // exactly one rep pair — no distinct needed.
      val cross = sharedRepEdges(s, d)
        .join(m.as("ma"), col("ma.rep") === col("d1"))
        .join(m.as("mb"), col("mb.rep") === col("d2"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("d1"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("d2"))
      intra.unionByName(cross)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Transitive cluster labels — x21 (cluster listing), x48 (effective
    * size), x53, x77 all need the same connected components. The
    * propagation runs over a SPARSE connectivity-equivalent edge set:
    * star edges rep→member inside each banded exact-text group (a group is
    * a clique of jaccard-1 pairs; a star has the same connectivity) plus
    * the rep-level verified edges (members reach other groups through
    * their rep's star). Same components and min-labels as the full
    * expanded pair set at O(n) instead of O(n²) edges per duplicate
    * group — at the 30× stress that is 155k edges in place of 2.3M. */
  private[ops] def sharedComponents(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-components", s, d) {
      val m = sharedRepMap(s, d)
      val stars = m.filter(col("doc_id") =!= col("rep"))
        .join(bandedDocs(s, d), Seq("doc_id"), "left_semi")
        .select(col("rep").as("id1"), col("doc_id").as("id2"))
      val conn = stars.unionByName(
        sharedRepEdges(s, d).select(col("d1").as("id1"), col("d2").as("id2")))
      Dedup.connectedComponents(conn)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The full DuckDB replica of the shared component stage (bands →
    * LSH candidates → jaccard-verified edges → recursive min-label
    * components as `lab(doc_id, cluster_id)`) — the oracle prefix x21 and
    * x53 both build on. */
  /** The component CTE chain over an arbitrary doc table (must expose
    * doc_id + text) — x82 runs it over a derived corpus; the `documents`
    * instance below serves x21/x53. Caller supplies the WITH RECURSIVE
    * prefix (and any CTEs the table itself needs before this chain). */
  private[graft] def componentsCteOver(table: String): String =
    s"""bands AS (
          SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
          FROM (SELECT doc_id, $MinhashSigSql AS sig FROM $table WHERE length(text) > 0),
               (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
          WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM $table),
        edges AS (
          SELECT p.d1, p.d2 FROM cand p
          JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
          WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
            / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
        sym AS (SELECT d1 AS src, d2 AS dst FROM edges UNION ALL SELECT d2, d1 FROM edges),
        reach(doc_id, r) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM sym) t0
          UNION
          SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.doc_id),
        lab AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY doc_id)"""

  private val ComponentsCteSql = "WITH RECURSIVE " + componentsCteOver("documents")

  private val SimhashBitsSql =
    """array_to_string(list_transform(generate_series(1, 32), b ->
         CASE WHEN list_sum(list_transform(string_split(text, ' '), tk ->
           CASE WHEN substr(md5(tk), b, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) >= 0
         THEN '1' ELSE '0' END), '')"""

  private def cosine(a: Column, b: Column): Column = VectorOps.cosine(a, b)

  private def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> ($a)[i]::DOUBLE * ($b)[i]::DOUBLE))
        / (sqrt(list_sum(list_transform($a, v -> v::DOUBLE * v::DOUBLE)))
           * sqrt(list_sum(list_transform($b, v -> v::DOUBLE * v::DOUBLE)))))"""

  private def lshBucket(vec: Column): Column = VectorOps.lshBucket(vec)

  private def lshBucketSqlFor(planes: Int) =
    s"""array_to_string(list_transform(generate_series(0, ${planes - 1}), p ->
         CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
           embedding[i]::DOUBLE * (CASE WHEN substr(md5(p::VARCHAR || '_' || (i-1)::VARCHAR), 1, 1)
             IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END))) >= 0
         THEN '1' ELSE '0' END), '')"""

  private val LshBucketSql = lshBucketSqlFor(8)

  // ---- queries -----------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy on content (map-side combine, one shuffle).
    QueryDef("x01_dedup_exact",
      """SELECT md5(text) AS fp, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS representative
         FROM documents GROUP BY md5(text)""") { (s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("representative"))
    },

    // MinHash signatures + LSH band hashes (the dedup scale path: docs
    // sharing a band hash become candidate pairs with one bucket-key shuffle).
    QueryDef("x02_minhash_bands",
      s"""SELECT doc_id, CAST(band AS INT) AS band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
          FROM (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
               (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
          WHERE len(sig) > 0 AND sig[1] IS NOT NULL""") { (s, d) =>
      sharedBands(s, d)
        .select(col("doc_id"), col("band").cast("int").as("band"), col("band_hash"))
    },

    // LSH candidate pairs + exact n-gram Jaccard verification of each pair.
    QueryDef("x03_minhash_pairs",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
            FROM (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          pairs AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents)
          SELECT p.d1, p.d2,
            round(len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1), 6) AS jaccard
          FROM pairs p JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2""") { (s, d) =>
      // CLONE-IMMUNE form (the x90/x115 rep-collapse pattern, r10 ask):
      // LSH candidacy and jaccard are functions of exact-text content, so
      // both the band self-join and the shingle kernels run at the
      // REPRESENTATIVE level (sharedRepCands — immune to duplicate-group
      // size) and the doc-space pair list is a pure OUTPUT expansion:
      // cross-group pairs inherit the rep pair's jaccard verbatim, and a
      // banded group of n emits its C(n,2) intra pairs with the group's
      // self-jaccard (identical shingle sets). The quadratic is the
      // declared output of pair semantics, never re-kerneled work — the
      // doc-space ORACLE above is unchanged and proves the expansion.
      val m = sharedRepMap(s, d)
      val sh = sharedShingles(s, d)
      val jac = round(size(array_intersect(col("s1.s"), col("s2.s"))).cast("double")
        / greatest(size(array_union(col("s1.s"), col("s2.s"))), lit(1)), 6)
      val rjac = sharedRepCands(s, d)
        .join(sh.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sh.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1").as("r1"), col("d2").as("r2"), jac.as("jaccard"))
      val cross = rjac
        .join(m.as("ma"), col("ma.rep") === col("r1"))
        .join(m.as("mb"), col("mb.rep") === col("r2"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("d1"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("d2"), col("jaccard"))
      // self-jaccard of a group's (identical, nonempty-for-banded) shingle
      // set: |s|/max(|s|,1) — 1.0 for every banded group
      val selfJ = sh.select(col("doc_id").as("rep"),
        round(size(col("s")).cast("double") / greatest(size(col("s")), lit(1)), 6)
          .as("jaccard"))
      val intra = m.as("ma").join(m.as("mb"),
          col("ma.rep") === col("mb.rep") && col("ma.doc_id") < col("mb.doc_id"))
        .join(bandedDocs(s, d).as("bd"), col("ma.doc_id") === col("bd.doc_id"), "left_semi")
        .select(col("ma.doc_id").as("d1"), col("mb.doc_id").as("d2"), col("ma.rep").as("rep"))
        .join(selfJ, "rep")
        .select("d1", "d2", "jaccard")
      cross.unionByName(intra)
    },

    // SimHash fingerprints.
    QueryDef("x04_simhash",
      s"""SELECT doc_id, $SimhashBitsSql AS simhash FROM documents""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), SimHash32Expr.simhash32(tokens(col("text"))).as("simhash"))
    },

    // n-gram Jaccard near-dup score between consecutive doc ids (the exact
    // verification kernel; the LSH stage above supplies candidates at scale).
    QueryDef("x05_ngram_jaccard",
      s"""WITH sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents)
          SELECT a.doc_id AS d1, b.doc_id AS d2,
            round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
              / greatest(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
          FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""") { (s, d) =>
      // Kernel-per-REP-PAIR (clone-immune, r10 ask): jaccard is a function
      // of the two texts, so the shingle intersect/union kernel runs once
      // per DISTINCT (rep(d), rep(d+1)) pair and joins back to the
      // consecutive-id pair list. On a clone-free corpus this is the same
      // one kernel per pair; on a boilerplate-heavy one the kernel count
      // collapses to the distinct content-pair count. Self pairs (both
      // sides the same group) fall out of the same kernel (s∩s / s∪s).
      val m = sharedRepMap(s, d)
      val pr = m.as("a").join(m.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.rep").as("r1"), col("b.rep").as("r2"))
      val sh = sharedShingles(s, d)
      val rjac = pr.select("r1", "r2").distinct()
        .join(sh.as("s1"), col("r1") === col("s1.doc_id"))
        .join(sh.as("s2"), col("r2") === col("s2.doc_id"))
        .select(col("r1"), col("r2"),
          round(size(array_intersect(col("s1.s"), col("s2.s"))).cast("double")
            / greatest(size(array_union(col("s1.s"), col("s2.s"))), lit(1)), 6).as("jaccard"))
      pr.join(rjac, Seq("r1", "r2")).select("d1", "d2", "jaccard")
    },

    // Brute-force cosine top-k: baseline ANN. Queries broadcast; candidates
    // scanned once; per-query top-k via window.
    QueryDef("x06_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8)
          SELECT qid, vec_id, rank, cos FROM (
            SELECT q.qid, e.vec_id,
              round(${cosineSql("q.qe", "e.embedding")}, 5) AS cos,
              CAST(row_number() OVER (PARTITION BY q.qid
                ORDER BY ${cosineSql("q.qe", "e.embedding")} DESC, e.vec_id) AS INT) AS rank
            FROM q, embeddings e WHERE e.vec_id <> q.qid)
          WHERE rank <= 5""") { (s, d) =>
      val e = t(s, d, "embeddings")
      // limit(8) is a no-op on the ≤8 ids the predicate admits, but it makes
      // the bound MACHINE-VISIBLE (maxRows) — PlanGuard's corpus-lineage
      // broadcast check then proves this hint safe instead of trusting it.
      val q = e.filter(col("vec_id") < 8).limit(8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("vec_id"), col("rank"), round(col("rawcos"), 5).as("cos"))
    },

    // LSH-bucketed ANN: random-hyperplane signature buckets; neighbors are
    // only searched within the query's bucket (the 100 TB scale path: the
    // cross join above becomes a bucket-key equi-join).
    QueryDef("x07_ann_lsh",
      s"""WITH b AS (SELECT vec_id, embedding, $LshBucketSql AS bucket FROM embeddings),
          q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 32)
          SELECT qid, vec_id, rank, cos FROM (
            SELECT q.qid, b.vec_id,
              round(${cosineSql("q.qe", "b.embedding")}, 5) AS cos,
              CAST(row_number() OVER (PARTITION BY q.qid
                ORDER BY ${cosineSql("q.qe", "b.embedding")} DESC, b.vec_id) AS INT) AS rank
            FROM q JOIN b ON b.bucket = q.bucket AND b.vec_id <> q.qid)
          WHERE rank <= 3""") { (s, d) =>
      // Persisted: both join sides derive from this frame, and the inferred
      // join-key isnotnull would otherwise push the bucket expression into
      // the scan for a re-evaluation per side (plan-audit finding).
      val b = graft.util.PersistScope.track(
        t(s, d, "embeddings").withColumn("bucket", lshBucket(col("embedding")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // limit(32): no-op on the id-predicate row set, makes the broadcast
      // bound machine-visible to PlanGuard's corpus-lineage check.
      val q = b.filter(col("vec_id") < 32).limit(32)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
      val w = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      b.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"), col("rank"), round(col("rawcos"), 5).as("cos"))
    },

    // IVF-style ANN: deterministic coarse quantization (centroids = the first
    // 8 vectors, i.e. k-means with zero iterations) assigns every vector to
    // its nearest centroid cell; queries search ONLY their own cell
    // (nprobe=1). Same scale shape as a trained IVF: assignment is a
    // broadcast-nested-loop over k centroids + argmin, search is a cell-key
    // equi-join — more cells = smaller cells, never O(n²).
    QueryDef("x15_ivf_ann",
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
          assigned AS (
            SELECT vec_id, embedding, cid FROM (
              SELECT e.vec_id, e.embedding, c.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  list_sum(list_transform(generate_series(1, len(e.embedding)),
                    di -> (e.embedding[di]::DOUBLE - c.ce[di]::DOUBLE) * (e.embedding[di]::DOUBLE - c.ce[di]::DOUBLE))),
                  c.cid) AS rn
              FROM embeddings e CROSS JOIN cent c)
            WHERE rn = 1),
          q AS (SELECT vec_id AS qid, embedding AS qe, cid FROM assigned WHERE vec_id >= 8 AND vec_id < 24)
          SELECT qid, vec_id, rank, cos FROM (
            SELECT q.qid, a.vec_id,
              round(${cosineSql("q.qe", "a.embedding")}, 5) AS cos,
              CAST(row_number() OVER (PARTITION BY q.qid
                ORDER BY ${cosineSql("q.qe", "a.embedding")} DESC, a.vec_id) AS INT) AS rank
            FROM q JOIN assigned a ON a.cid = q.cid AND a.vec_id <> q.qid)
          WHERE rank <= 3""") { (s, d) =>
      val e = t(s, d, "embeddings")
      // limit(8)/limit(16): no-ops on the id-predicate row sets, but they
      // carry the bound into maxRows so PlanGuard proves both broadcasts.
      val cent = e.filter(col("vec_id") < 8).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val dist2 = aggregate(zip_with(col("embedding"), col("ce"),
        (x, c) => (x.cast("double") - c.cast("double")) * (x.cast("double") - c.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      val wAssign = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("d2", dist2)
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select("vec_id", "embedding", "cid")
      val q = assigned.filter(col("vec_id") >= 8 && col("vec_id") < 24).limit(16)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cid"))
      val wRank = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      assigned.join(broadcast(q), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(wRank).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"), col("rank"), round(col("rawcos"), 5).as("cos"))
    },

    // IVF nprobe→recall TUNING CURVE — the table that answers "what nprobe
    // do we run in production?" (the x68 coverage-curve idiom applied to
    // ANN): for nprobe ∈ {1, 2, 4, 8 = all cells}, top-3 recall vs the
    // exact ranking, plus the candidate count that nprobe paid for it.
    // nprobe = 8 probes every cell, so its recall row must read 1.0 — the
    // in-query self-check. ONE cell assignment and ONE candidate-join
    // produce all four curve points (the nprobe explode happens on the
    // 16×8-row probe frame, not on the corpus); the exact side is the same
    // broadcast-query brute force x06 calibrates with.
    QueryDef("x78_ivf_nprobe_curve", {
      def d2(a: String, b: String) =
        s"""list_sum(list_transform(generate_series(1, len($a)),
             di -> (($a)[di]::DOUBLE - ($b)[di]::DOUBLE) * (($a)[di]::DOUBLE - ($b)[di]::DOUBLE)))"""
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
          assigned AS (SELECT vec_id, embedding, cid FROM (
              SELECT e.vec_id, e.embedding, c.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e.embedding", "c.ce")}, c.cid) AS rn
              FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id >= 8 AND vec_id < 24),
          qp AS (SELECT q.qid, q.qe, c.cid,
                row_number() OVER (PARTITION BY q.qid ORDER BY ${d2("q.qe", "c.ce")}, c.cid) AS probe_rank
              FROM q CROSS JOIN cent c),
          pr AS (SELECT qid, qe, cid, np FROM qp, (SELECT unnest([1, 2, 4, 8]) AS np) t
                 WHERE probe_rank <= np),
          cand AS (SELECT pr.qid, pr.np, a.vec_id, ${cosineSql("pr.qe", "a.embedding")} AS cos
                   FROM pr JOIN assigned a USING (cid) WHERE a.vec_id <> pr.qid),
          ap AS (SELECT qid, np, vec_id FROM (
              SELECT qid, np, vec_id, row_number() OVER (PARTITION BY qid, np ORDER BY cos DESC, vec_id) AS rk
              FROM cand) WHERE rk <= 3),
          nc AS (SELECT qid, np, count(*) AS n_candidates FROM cand GROUP BY 1, 2),
          ex AS (SELECT qid, vec_id FROM (
              SELECT q.qid, e.vec_id,
                row_number() OVER (PARTITION BY q.qid ORDER BY ${cosineSql("q.qe", "e.embedding")} DESC, e.vec_id) AS rk
              FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid) WHERE rk <= 3),
          h AS (SELECT ap.qid, ap.np, count(*) AS h FROM ap
                JOIN ex ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id GROUP BY 1, 2)
          SELECT nc.qid, CAST(nc.np AS INT) AS nprobe,
            CAST(nc.n_candidates AS BIGINT) AS n_candidates,
            round(coalesce(h.h, 0) / 3.0, 6) AS recall
          FROM nc LEFT JOIN h ON h.qid = nc.qid AND h.np = nc.np"""
    }) { (s, d2) =>
      def dist2(a: Column, b: Column) =
        aggregate(zip_with(a, b,
          (x, c) => (x.cast("double") - c.cast("double")) * (x.cast("double") - c.cast("double"))),
          lit(0.0), (acc, v) => acc + v)
      val e = t(s, d2, "embeddings").select("vec_id", "embedding")
      // limit(8)/limit(16): no-ops on the id-predicate row sets; they make
      // the bounds machine-visible so PlanGuard proves the broadcasts.
      val cent = e.filter(col("vec_id") < 8).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val assigned = graft.util.PersistScope.track(
        e.crossJoin(broadcast(cent))
          .withColumn("d2", dist2(col("embedding"), col("ce")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))))
          .filter(col("rn") === 1).select("vec_id", "embedding", "cid")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 24).limit(16)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val probes = q.crossJoin(broadcast(cent))
        .withColumn("d2q", dist2(col("qe"), col("ce")))
        .withColumn("probe_rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2q"), col("cid"))))
        .withColumn("np", explode(array(lit(1), lit(2), lit(4), lit(8))))
        .filter(col("probe_rank") <= col("np"))
        .select("qid", "qe", "cid", "np")
      val cand = graft.util.PersistScope.track(
        assigned.join(broadcast(probes), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("rawcos", cosine(col("qe"), col("embedding")))
          .select("qid", "np", "vec_id", "rawcos")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val ap = cand.withColumn("rk", row_number().over(
          Window.partitionBy("qid", "np").orderBy(col("rawcos").desc, col("vec_id"))))
        .filter(col("rk") <= 3).select("qid", "np", "vec_id")
      val nc = cand.groupBy("qid", "np").agg(count(lit(1)).as("n_candidates"))
      val ex = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", cosine(col("qe"), col("embedding")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))))
        .filter(col("rk") <= 3)
        .select(col("qid").as("eqid"), col("vec_id").as("evid"))
      val h = ap.join(ex, col("qid") === col("eqid") && col("vec_id") === col("evid"))
        .groupBy("qid", "np").agg(count(lit(1)).as("h"))
      nc.join(h, Seq("qid", "np"), "left")
        .select(col("qid"), col("np").cast("int").as("nprobe"),
          col("n_candidates").cast("long").as("n_candidates"),
          round(coalesce(col("h"), lit(0)) / 3.0, 6).as("recall"))
    },

    // Language-ID heuristic: stopword hits per language, argmax with
    // first-in-list tie-break.
    QueryDef("x08_langid",
      """WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
         SELECT doc_id, lang,
           CAST(len(list_filter(toks, t -> list_contains(['the','a','fast','slow','big','small'], t))) AS BIGINT) AS en_hits,
           CAST(len(list_filter(toks, t -> list_contains(['el','la','los','rapido'], t))) AS BIGINT) AS es_hits,
           CASE WHEN len(list_filter(toks, t -> list_contains(['el','la','los','rapido'], t)))
                   > len(list_filter(toks, t -> list_contains(['the','a','fast','slow','big','small'], t)))
                THEN 'es' ELSE 'en' END AS predicted
         FROM s""") { (s, d) =>
      val en = array(Seq("the", "a", "fast", "slow", "big", "small").map(lit): _*)
      val es = array(Seq("el", "la", "los", "rapido").map(lit): _*)
      val toks = tokens(col("text"))
      def hits(lst: Column) = size(filter(toks, tk => array_contains(lst, tk))).cast("long")
      t(s, d, "documents").select(col("doc_id"), col("lang"),
        hits(en).as("en_hits"), hits(es).as("es_hits"),
        when(hits(es) > hits(en), "es").otherwise("en").as("predicted"))
    },

    // Quality scoring: token stats + stopword ratio + a fused quality score.
    QueryDef("x09_quality",
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           length(text) AS n_chars,
           round(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a'], t)))::DOUBLE
             / greatest(len(string_split(text, ' ')), 1), 6) AS stopword_ratio,
           round(length(text)::DOUBLE / greatest(len(string_split(text, ' ')), 1), 6) AS avg_token_len
         FROM documents""") { (s, d) =>
      val toks = tokens(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        round(size(filter(toks, tk => tk.isin("the", "a"))).cast("double")
          / greatest(size(toks), lit(1)), 6).as("stopword_ratio"),
        round(length(col("text")).cast("double") / greatest(size(toks), lit(1)), 6).as("avg_token_len"))
    },

    // Corpus token histogram: top 20 tokens.
    QueryDef("x10_top_tokens",
      """SELECT token, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 20""") { (s, d) =>
      sharedWordCounts(s, d)
        .groupBy("token").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    },

    // Document fingerprint: md5 of whitespace-normalized lowercase text.
    QueryDef("x11_fingerprint",
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
    },

    // Embedding-cosine near-duplicate DEDUP (the mandate's fifth dedup mode):
    // LSH-bucket candidates → exact cosine verify ≥ 0.999 → greedy min-id
    // survivor anti-join. The corpus plants a deterministic near-copy of every
    // vector (same construction in both engines: scaled by 1.02 in double —
    // cosine-1 by construction), since the synthetic embeddings have no
    // organic near-dups (max pairwise cosine ≈ 0.47).
    QueryDef("x16_embed_dedup", {
      val bucketSql =
        """array_to_string(list_transform(generate_series(0, 7), p ->
             CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
               e[i] * (CASE WHEN substr(md5(p::VARCHAR || '_' || (i-1)::VARCHAR), 1, 1)
                 IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END))) >= 0
             THEN '1' ELSE '0' END), '')"""
      val cosSql =
        """(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b2.e[i]))
            / (sqrt(list_sum(list_transform(a.e, v -> v * v)))
               * sqrt(list_sum(list_transform(b2.e, v -> v * v)))))"""
      s"""WITH corpus AS (
            SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e FROM embeddings
            UNION ALL
            SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
                   list_transform(embedding, v -> v::DOUBLE * 1.02) FROM embeddings),
          b AS (SELECT vec_id, e, $bucketSql AS bucket FROM corpus),
          doomed AS (
            SELECT DISTINCT b2.vec_id FROM b a JOIN b b2
            ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
            WHERE $cosSql >= 0.999)
          SELECT c.vec_id FROM corpus c ANTI JOIN doomed d ON c.vec_id = d.vec_id"""
    }) { (s, d) =>
      val e = t(s, d, "embeddings")
      val orig = e.select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("e"))
      // planted ids start at max(vec_id)+1 so they never collide with real
      // ids at any scale factor (a fixed offset breaks once the table grows
      // past it, silently corrupting the min-id representative choice)
      val off = e.agg((max("vec_id") + lit(1)).as("off"))
      val planted = e.crossJoin(broadcast(off))
        .select((col("vec_id") + col("off")).as("vec_id"),
          transform(col("embedding"), v => v.cast("double") * 1.02).as("e"))
      Dedup.dropEmbeddingNearDuplicates(orig.unionByName(planted), "vec_id", "e", 0.999)
        .select("vec_id")
    },

    // SimHash near-duplicate pairs (hamming-distance dedup): 2×16-bit LSH
    // bands for candidates, exact hamming ≤ 2 verification — the banded
    // scale path over the x04 fingerprints.
    QueryDef("x17_simhash_pairs", {
      val hamSql =
        """list_sum(list_transform(generate_series(1, 32),
             i -> CASE WHEN substr(s1.s, i, 1) <> substr(s2.s, i, 1) THEN 1 ELSE 0 END))"""
      s"""WITH sh AS (SELECT doc_id, $SimhashBitsSql AS s FROM documents),
          bands AS (SELECT doc_id, band, substr(s, band*16+1, 16) AS bits
                    FROM sh, (SELECT unnest(generate_series(0, 1)) AS band)),
          cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                   FROM bands x JOIN bands y
                   ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id)
          SELECT c.d1, c.d2, CAST($hamSql AS INT) AS hamming
          FROM cand c JOIN sh s1 ON s1.doc_id = c.d1 JOIN sh s2 ON s2.doc_id = c.d2
          WHERE $hamSql <= 2"""
    }) { (s, d) =>
      Dedup.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 2)
        .select(col("id1").as("d1"), col("id2").as("d2"), col("hamming"))
    },

    // End-to-end corpus CURATION — the composed shape of a training-data
    // prep pass: exact-dedup survivors → token-count gate → stopword-ratio
    // scoring → language gate (the x08 heuristic), in ONE query. Plan shape
    // at scale: one hash-agg shuffle for the survivor set, a semi-join back
    // (AQE broadcasts the survivor ids while small), and pure map stages for
    // every gate — nothing quadratic, nothing collected.
    QueryDef("x18_corpus_curation",
      """WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           s AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents)
         SELECT s.doc_id, s.lang, s.source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(len(list_filter(toks, t -> list_contains(['the','a'], t)))::DOUBLE
             / greatest(len(toks), 1), 6) AS stopword_ratio
         FROM s SEMI JOIN surv ON s.doc_id = surv.doc_id
         WHERE len(toks) BETWEEN 25 AND 80
           AND len(list_filter(toks, t -> list_contains(['the','a'], t)))::DOUBLE
             / greatest(len(toks), 1) >= 0.03
           AND len(list_filter(toks, t -> list_contains(['el','la','los','rapido'], t)))
             <= len(list_filter(toks, t -> list_contains(['the','a','fast','slow','big','small'], t)))""") { (s, d) =>
      val docs = t(s, d, "documents")
      val surv = docs.groupBy(md5(col("text")).as("fp")).agg(min("doc_id").as("doc_id"))
      val toks = tokens(col("text"))
      val en = array(Seq("the", "a", "fast", "slow", "big", "small").map(lit): _*)
      val es = array(Seq("el", "la", "los", "rapido").map(lit): _*)
      def hits(lst: Column) = size(filter(toks, tk => array_contains(lst, tk)))
      val ratio = size(filter(toks, tk => tk.isin("the", "a"))).cast("double") /
        greatest(size(toks), lit(1))
      docs.select(col("doc_id"), col("lang"), col("source"),
          size(toks).cast("long").as("n_tokens"),
          ratio.as("raw_ratio"),
          (hits(es) <= hits(en)).as("is_en"))
        .join(surv.select("doc_id"), Seq("doc_id"), "left_semi")
        .filter(col("n_tokens").between(25, 80) && col("raw_ratio") >= 0.03 && col("is_en"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
          round(col("raw_ratio"), 6).as("stopword_ratio"))
    },

    // Deterministic stratified sampling: top-k per (lang, source) stratum
    // ordered by md5(doc_id) — a reproducible uniform downsample (hash order
    // is stable across engines, retries, and cluster sizes, unlike rand()).
    // One shuffle on the stratum key; per-stratum state is a k-row heap.
    QueryDef("x19_stratified_sample",
      """SELECT lang, source, doc_id FROM (
           SELECT lang, source, doc_id,
             CAST(row_number() OVER (PARTITION BY lang, source
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS INT) AS rn
           FROM documents) WHERE rn <= 10""") { (s, d) =>
      val w = Window.partitionBy("lang", "source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 10)
        .select("lang", "source", "doc_id")
    },

    // Repetition-based quality filter (the Gopher-rules shape): per-doc
    // repeated-token fraction + top-bigram fraction, with a keep gate.
    // Distributed wordcount shape — explode → (doc, gram) counts with
    // map-side combine → per-doc aggregates → doc-keyed join. Linear per-doc
    // work, so safe for UNBOUNDED document length: the expression-level
    // alternative (array_distinct + a filter per distinct gram) is zero-
    // shuffle but O(distinct·total) per doc in interpreted HOFs, which
    // quietly turns a single book-length doc into a straggler task. Both
    // keyed shuffles partial-aggregate, and the final join is doc-keyed on
    // frames that are each one row per doc.
    QueryDef("x20_repetition_quality",
      """WITH s AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
           m AS (SELECT doc_id, tk,
             list_transform(generate_series(1, greatest(len(tk)-1, 0)),
               i -> tk[i] || ' ' || tk[i+1]) AS bg FROM s),
           f AS (SELECT doc_id,
             CAST(len(tk) AS INT) AS n_tokens,
             1.0 - len(list_distinct(tk))::DOUBLE / len(tk) AS rep,
             CASE WHEN len(bg) = 0 THEN 0.0
               ELSE list_max(list_transform(list_distinct(bg),
                 x -> len(list_filter(bg, y -> y = x))))::DOUBLE / len(bg)
             END AS topb FROM m)
         SELECT doc_id, n_tokens,
           round(rep, 6) AS frac_repeated_tokens,
           round(topb, 6) AS top_bigram_frac,
           rep <= 0.55 AND topb <= 0.08 AS keep
         FROM f""") { (s, d) =>
      val tk = col("tk")
      val base = t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .withColumn("bg", when(size(tk) >= 2,
          transform(sequence(lit(1), size(tk) - 1),
            i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
          .otherwise(array().cast("array<string>")))
      // ONE explode over tokens-and-bigrams tagged by kind, so the whole
      // filter is a single scan + a single keyed aggregation chain — no
      // second pass, no doc-keyed join. explode_outer + post-generate null
      // filter, NOT a plain explode: a non-outer Generate lets
      // InferFiltersFromGenerate push `size(arr)>0` into the scan as a
      // DataFilter, re-evaluating the gram construction per row inside the
      // scan (the p04 trap — see SCALE.md "Catalyst gotcha").
      // split("x", " ") is never empty, so every doc keeps its token rows
      // even when it has no bigrams.
      val grams = base.select(col("doc_id"), explode_outer(concat(
          transform(tk, x => struct(x.as("g"), lit(0).as("kind"))),
          transform(col("bg"), x => struct(x.as("g"), lit(1).as("kind"))))).as("e"))
        .filter(col("e").isNotNull)
        .select(col("doc_id"), col("e.g").as("g"), col("e.kind").as("kind"))
      grams.groupBy("doc_id", "kind", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(when(col("kind") === 0, col("c"))).as("n_tok"),
          count(when(col("kind") === 0, 1)).as("n_distinct"),
          max(when(col("kind") === 1, col("c"))).as("max_bg"))
        .withColumn("rep", lit(1.0) - col("n_distinct").cast("double") / col("n_tok"))
        .withColumn("topb", coalesce(
          col("max_bg").cast("double") / (col("n_tok") - 1), lit(0.0)))
        .select(col("doc_id"), col("n_tok").cast("int").as("n_tokens"),
          round(col("rep"), 6).as("frac_repeated_tokens"),
          round(col("topb"), 6).as("top_bigram_frac"),
          (col("rep") <= 0.55 && col("topb") <= 0.08).as("keep"))
    },

    // Near-dup CLUSTER assignment: connected components over the verified
    // MinHash pair graph (x03's pairs at jaccard >= 0.8 — the measured pair
    // distribution is bimodal: true dups >= 0.9, LSH noise < 0.1). Labels
    // propagate by iterative min-id: each round every node takes the min of
    // its own label and its neighbors', converging in O(component diameter)
    // rounds — dup components are chains/cliques of a handful of docs, so
    // 2-4 rounds in practice (capped at 15). Each round is one equi-join +
    // one hash-agg shuffle over the EDGE set only (docs with no near-dup
    // never enter the loop). At 100 TB the same loop holds; the known
    // optimization when components get deep is large-star/small-star
    // (alternating conditional star contractions), which keeps the same
    // join+agg primitive and only changes the propagation rule.
    QueryDef("x21_dedup_clusters",
      s"""$ComponentsCteSql
          SELECT l.doc_id, l.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
          FROM lab l JOIN (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1) c USING (cluster_id)""") { (s, d) =>
      // Band + shingle + edge + COMPONENT frames come from SharedStages:
      // x21 consumes the same frames x02/x03/x05/x35/x48 build, so a full
      // pass computes each once (the propagation rounds run once per pass).
      val lab = sharedComponents(s, d)
      // Window count = one shuffle on cluster_id; the agg+join form pays two.
      lab.select(col("id").as("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy("cluster_id")).as("cluster_size"))
    },

    // TF-IDF top terms per doc — the classic distributed shape: explode →
    // (doc, token) counts with map-side combine, token-keyed doc-frequency
    // agg, a token equi-join (AQE broadcasts the df side while small), and a
    // per-doc top-k window. Every shuffle is keyed and partial-aggregated;
    // nothing is collected. idf = ln(N/df) with N a 1-row broadcast scalar.
    QueryDef("x22_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
          df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          scored AS (
            SELECT tf.doc_id, tf.token, tf.tf * ln(n.n::DOUBLE / df.df) AS tfidf
            FROM tf JOIN df USING (token), n)
          SELECT doc_id, token, round(tfidf, 6) AS tfidf, rank FROM (
            SELECT doc_id, token, tfidf,
              CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rank
            FROM scored) WHERE rank <= 3""") { (s, d) =>
      val docs = t(s, d, "documents")
      // tf IS the shared wordcount frame (one corpus tokenization per
      // pass); df (docs per token) is a row count over it — one row per
      // (doc, token) there already, so the raw token stream is never
      // evaluated twice (x28's trick).
      val tf = sharedWordCounts(s, d).select(col("doc_id"), col("token"), col("c").as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      // PARTIAL top-k instead of a row_number window: the bounded-heap
      // aggregate (TopKMinExpr) keeps 3 rows per doc on the MAP side, so
      // the shuffle carries <=3 rows per (partition, doc) and nothing is
      // sorted — the window form shuffled and sorted the entire scored
      // (doc, token) frame to rank 3 survivors per doc. topk_min on
      // struct(-tfidf, token) = (tfidf desc, token asc), the window's
      // exact order; rank = 1 + array position.
      tf.join(df, "token").crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf") * log(col("n").cast("double") / col("df")))
        .groupBy("doc_id")
        .agg(TopK.topk_min(struct((-col("tfidf")).as("neg"), col("token")), 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")).as(Seq("i", "e")))
        .select(col("doc_id"), col("e.token").as("token"),
          round(-col("e.neg"), 6).as("tfidf"), (col("i") + 1).cast("int").as("rank"))
    },

    // Benchmark-contamination check: fraction of a doc's 3-gram shingles
    // that appear in a held-out benchmark set (docs 0-9 stand in for the
    // eval suite). Scale shape: the benchmark shingle set is eval-sized —
    // it BROADCASTS as one array row, so scoring is a pure map stage over
    // the corpus (array_intersect per doc), no shuffle at any corpus size.
    // A benchmark too large to broadcast degrades to the explode +
    // shingle-keyed semi-join form instead.
    QueryDef("x23_contamination",
      s"""WITH sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents),
          b AS (SELECT list_distinct(flatten(list(s))) AS bset FROM sh WHERE doc_id < 10)
          SELECT doc_id,
            round(len(list_filter(s, x -> list_contains(bset, x)))::DOUBLE
              / greatest(len(s), 1), 6) AS contamination,
            len(list_filter(s, x -> list_contains(bset, x)))::DOUBLE
              / greatest(len(s), 1) >= 0.5 AS contaminated
          FROM sh, b WHERE doc_id >= 10""") { (s, d) =>
      val sh = sharedShingles(s, d)
      val bench = sh.filter(col("doc_id") < 10)
        .agg(array_distinct(flatten(collect_list(col("s")))).as("bset"))
      // member_count kernel (r17, the s17 verdict-kernel shape for the
      // batch contamination family): `s` is distinct, so the hit count
      // equals size(array_intersect(s, bset)) — but the benchmark set
      // loads into a hash set ONCE per value instead of ArrayIntersect
      // rebuilding it per row (and the old frac expression appeared in
      // TWO output columns — §4.4 duplication — so per row it built the
      // eval-suite-sized set twice). Aliased in its own projection so
      // CollapseProject cannot duplicate the kernel either.
      val frac = col("__hits").cast("double") / greatest(size(col("s")), lit(1))
      sh.filter(col("doc_id") >= 10)
        .crossJoin(broadcast(bench))
        .withColumn("__hits", MemberCountExpr.member_count(col("s"), col("bset")))
        .select(col("doc_id"),
          round(frac, 6).as("contamination"),
          (frac >= 0.5).as("contaminated"))
    },

    // Unigram log-probability scoring — the model-free stand-in for a
    // perplexity quality filter: score = mean -ln p(token) under the
    // corpus's own unigram distribution (add-one smoothed). High scores =
    // improbable token sequences. Shape: one wordcount shuffle for the
    // unigram table, token-keyed join back (AQE broadcasts while the vocab
    // is small), per-doc mean agg. The vocab table is corpus-derived but
    // vocab-sized, far below doc count.
    QueryDef("x24_unigram_logprob",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          uni AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
          tot AS (SELECT sum(c) AS n, count(*) AS v FROM uni)
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_tokens,
            round(avg(-ln((uni.c + 1)::DOUBLE / (tot.n + tot.v))), 6) AS avg_neg_logprob
          FROM tok JOIN uni USING (token), tot
          GROUP BY doc_id""") { (s, d) =>
      // instance-count-weighted mean over the shared wordcount frame: every
      // instance of a (doc, token) carries the identical nlp double, so
      // Σ(c·nlp)/Σc equals the oracle's per-instance avg (and has FEWER
      // float additions than the old per-instance form)
      val wc = sharedWordCounts(s, d).select(col("doc_id"), col("token"), col("c").as("tc"))
      val uni = wc.groupBy("token").agg(sum("tc").as("c"))
      val tot = uni.agg(sum("c").as("n"), count(lit(1)).as("v"))
      wc.join(uni, "token").crossJoin(broadcast(tot))
        .withColumn("nlp", -log((col("c") + 1).cast("double") / (col("n") + col("v"))))
        .groupBy("doc_id")
        .agg(sum("tc").cast("long").as("n_tokens"),
          round(sum(col("tc") * col("nlp")) / sum("tc"), 6).as("avg_neg_logprob"))
    },

    // Greedy sequence packing (training-batch prep): docs are packed into
    // fixed token-budget bins in deterministic doc_id order within each
    // lang stream — bin = floor(cumulative-tokens-before-doc / budget).
    // One window shuffle on the stream key; the running sum is O(1) state
    // per stream. Contiguity by construction makes the assignment
    // reproducible across cluster sizes and retries (no rand, no
    // partition-dependent state).
    QueryDef("x25_sequence_packing",
      """SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(before_doc / 2048.0) AS BIGINT) AS bin_id
         FROM (
           SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             coalesce(sum(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_doc
           FROM documents)""") { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("nt"))
        .withColumn("before_doc", coalesce(sum("nt").over(w), lit(0)))
        .select(col("doc_id"), col("lang"), col("nt").cast("long").as("n_tokens"),
          floor(col("before_doc") / 2048.0).cast("long").as("bin_id"))
    },

    // Token counting with a BPE-ish word/punct regex (scale-stable
    // regexp_count, no explode).
    QueryDef("x12_token_counts",
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_\s]')) AS BIGINT) AS n_punct
         FROM documents""") { (s, d) =>
      // regexp_count, not size(regexp_extract_all): counting matches
      // without materializing the match arrays halves the per-doc
      // allocation churn in the suite's hottest pure-map query (the 10×
      // stress's top flag both rounds).
      t(s, d, "documents").select(col("doc_id"),
        expr("regexp_count(text, '[A-Za-z0-9_]+')").cast("long").as("n_words"),
        expr("regexp_count(text, '[^A-Za-z0-9_\\\\s]')").cast("long").as("n_punct"))
    },

    // Symmetric int8 embedding quantization — the storage/memory scale lever
    // for ANN over 100 TB of vectors (4x smaller than float32, integer dot
    // products downstream). Per-vector scale = max|e|/127; q_i =
    // floor(e_i/max|e|*127 + 0.5) — the explicit-floor form so both engines
    // round identically. Pure map stage, zero shuffle; max_err is the
    // self-verifying reconstruction bound (≤ scale/2 by construction).
    QueryDef("x26_quantize_embeddings",
      """WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e FROM embeddings),
          m AS (SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS emax FROM e),
          q AS (SELECT vec_id, e, emax,
            list_transform(e, v -> CASE WHEN emax = 0 THEN 0
              ELSE CAST(floor(v / emax * 127 + 0.5) AS INT) END) AS qv FROM m)
          SELECT vec_id, round(emax / 127, 6) AS scale,
            array_to_string(qv, ',') AS qvec,
            round(list_max(list_transform(generate_series(1, len(e)),
              i -> abs(qv[i]::DOUBLE * emax / 127 - e[i]))), 6) AS max_err
          FROM q""") { (s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("e"))
        .withColumn("emax", array_max(transform(col("e"), v => abs(v))))
        .withColumn("qv", transform(col("e"), v =>
          when(col("emax") === 0, lit(0))
            .otherwise(floor(v / col("emax") * 127 + 0.5).cast("int"))))
        .select(col("vec_id"), round(col("emax") / 127, 6).as("scale"),
          array_join(transform(col("qv"), q => q.cast("string")), ",").as("qvec"),
          round(array_max(zip_with(col("qv"), col("e"),
            (q, v) => abs(q.cast("double") * col("emax") / 127 - v))), 6).as("max_err"))
    },

    // ANN over the QUANTIZED vectors: integer dot products (exact, cheap,
    // SIMD-friendly) on 4x-smaller data. Brute top-k here to isolate the
    // quantization; the bucketed candidate generation (x07/x15) composes
    // unchanged. Integer scores make the ranking bit-deterministic.
    QueryDef("x27_quantized_ann",
      """WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e FROM embeddings),
          m AS (SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS emax FROM e),
          qb AS (SELECT vec_id,
            list_transform(e, v -> CASE WHEN emax = 0 THEN 0
              ELSE CAST(floor(v / emax * 127 + 0.5) AS INT) END) AS qv FROM m),
          qq AS (SELECT vec_id AS qid, qv AS q FROM qb WHERE vec_id < 16)
          SELECT qid, vec_id, rank, dot FROM (
            SELECT qq.qid, b.vec_id,
              CAST(list_sum(list_transform(generate_series(1, len(qq.q)),
                i -> qq.q[i]::BIGINT * b.qv[i]::BIGINT)) AS BIGINT) AS dot,
              CAST(row_number() OVER (PARTITION BY qq.qid
                ORDER BY list_sum(list_transform(generate_series(1, len(qq.q)),
                  i -> qq.q[i]::BIGINT * b.qv[i]::BIGINT)) DESC, b.vec_id) AS INT) AS rank
            FROM qq, qb b WHERE b.vec_id <> qq.qid)
          WHERE rank <= 3""") { (s, d) =>
      // Persisted: queries + corpus both derive from the quantized frame
      // (same reason x07 persists its bucket frame).
      val qb = graft.util.PersistScope.track(
        t(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("e"))
          .withColumn("emax", array_max(transform(col("e"), v => abs(v))))
          .select(col("vec_id"), transform(col("e"), v =>
            when(col("emax") === 0, lit(0))
              .otherwise(floor(v / col("emax") * 127 + 0.5).cast("int"))).as("qv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val q = qb.filter(col("vec_id") < 16).limit(16) // limit: PlanGuard-visible bound
        .select(col("vec_id").as("qid"), col("qv").as("q"))
      val dot = aggregate(zip_with(col("q"), col("qv"),
        (a, b) => a.cast("long") * b.cast("long")), lit(0L), (acc, v) => acc + v)
      val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("vec_id"))
      qb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dot", dot)
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"), col("rank"), col("dot"))
    },

    // Duplicated-n-gram fraction (the MassiveText/Gopher repetition signal
    // at corpus scope): per doc, the fraction of its word 5-gram
    // OCCURRENCES whose gram also appears in at least one other document.
    // Shape: one explode → (doc, gram) counts with map-side combine, a
    // gram-keyed distinct-doc count, a gram equi-join, per-doc agg — every
    // stage keyed, nothing pairwise. Docs under 5 tokens have no grams and
    // drop out (both engines agree).
    QueryDef("x28_dup_ngram_fraction",
      """WITH g AS (SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' ||
                   string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' ||
                   string_split(text, ' ')[i+4])) AS gram FROM documents),
          c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
          nd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
            round(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 6) AS dup_fraction,
            (sum(CASE WHEN nd >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c)) > 0.3 AS flagged
          FROM c JOIN nd USING (gram) GROUP BY doc_id""") { (s, d) =>
      // Engine lives in Dedup.dupNgramStats (grams shuffle as 64-bit hashes;
      // the distinct-doc count derives from the reduced (doc, gram) frame).
      // saltBuckets=0: the synthetic corpus has no hot boilerplate gram; a
      // real corpus with one switches the gram join to the salted form —
      // same output, spec-proven (SkewSpec).
      Dedup.dupNgramStats(t(s, d, "documents"), "doc_id", "text",
        n = 5, flagThreshold = 0.3)
    },

    // Hard-negative mining for embedding training: per query vector, the
    // most similar vectors with a DIFFERENT label — the pairs a contrastive
    // fine-tune needs most. Same scale shape as x06 (broadcast queries, one
    // corpus scan, per-query top-k window); swap the scan for the x07/x15
    // bucketed candidates when the corpus outgrows brute force.
    QueryDef("x29_hard_negatives",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql FROM embeddings WHERE vec_id < 8)
          SELECT qid, vec_id, rank, cos FROM (
            SELECT q.qid, e.vec_id,
              round(${cosineSql("q.qe", "e.embedding")}, 5) AS cos,
              CAST(row_number() OVER (PARTITION BY q.qid
                ORDER BY ${cosineSql("q.qe", "e.embedding")} DESC, e.vec_id) AS INT) AS rank
            FROM q, embeddings e WHERE e.label <> q.ql)
          WHERE rank <= 3""") { (s, d) =>
      val e = t(s, d, "embeddings")
      // limit(8): no-op on the id-predicate row set, makes the broadcast
      // bound machine-visible to PlanGuard's corpus-lineage check.
      val q = e.filter(col("vec_id") < 8).limit(8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("ql"))
      val w = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("label") =!= col("ql"))
        .withColumn("rawcos", cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"), col("rank"), round(col("rawcos"), 5).as("cos"))
    },

    // Training-mix assembly (domain reweighting): each source gets a TOKEN
    // budget (weights 1-3x by source index here; in production the mixture
    // config), docs are taken in deterministic hash order until the
    // cumulative tokens before a doc reach the budget — so every source
    // contributes a reproducible, budget-bounded slice regardless of its
    // corpus share. One window shuffle per source stream (x25's shape);
    // no rand, identical output on any cluster size.
    QueryDef("x31_mixture_budget",
      """SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens FROM (
           SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
             coalesce(sum(len(string_split(text, ' '))) OVER (
               PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_doc,
             (1 + CAST(substr(source, 4) AS INT) % 3) * 3000 AS budget
           FROM documents)
         WHERE before_doc < budget""") { (s, d) =>
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("source"), col("doc_id"), size(tokens(col("text"))).as("nt"))
        .withColumn("before_doc", coalesce(sum("nt").over(w), lit(0)))
        .withColumn("budget",
          (lit(1) + substring(col("source"), 4, 10).cast("int") % 3) * 3000)
        .filter(col("before_doc") < col("budget"))
        .select(col("source"), col("doc_id"), col("nt").cast("long").as("n_tokens"))
    },

    // The PRODUCTION ANN composition, with its quality measured in-query:
    // MULTI-PROBE LSH candidate generation (coarse 4-plane buckets; each
    // query also probes its 4 Hamming-1 neighbor buckets — the standard
    // recall lever that keeps the bucket EQUI-JOIN shape, just 5 probe keys
    // per query instead of 1) over int8-quantized codes (x26), ranked by
    // exact integer dot product, scored as top-3 RECALL against the float
    // brute-force ground truth. The recall column is the self-verifying
    // quality metric — an ANN without a measured recall is a guess, not an
    // index — and single-probe 8-plane buckets measurably fail it on this
    // corpus (recall ≈ 0), which is exactly what the metric is for.
    QueryDef("x30_ann_recall", {
      val cosQZ = cosineSql("q.qe", "z.embedding")
      s"""WITH b AS (SELECT vec_id, embedding, list_transform(embedding, v -> v::DOUBLE) AS e,
              ${lshBucketSqlFor(4)} AS bucket FROM embeddings),
          m AS (SELECT vec_id, embedding, e, bucket,
              list_max(list_transform(e, v -> abs(v))) AS emax FROM b),
          qz AS (SELECT vec_id, embedding, bucket,
              list_transform(e, v -> CASE WHEN emax = 0 THEN 0
                ELSE CAST(floor(v / emax * 127 + 0.5) AS INT) END) AS qv FROM m),
          q AS (SELECT vec_id AS qid, embedding AS qe, qv AS qq,
              list_transform(generate_series(0, 4), p -> CASE WHEN p = 0 THEN bucket
                ELSE substr(bucket, 1, p - 1)
                  || (CASE WHEN substr(bucket, p, 1) = '1' THEN '0' ELSE '1' END)
                  || substr(bucket, p + 1, 4 - p) END) AS probes
              FROM qz WHERE vec_id < 16),
          qp AS (SELECT qid, qq, unnest(probes) AS pb FROM q),
          exact AS (SELECT qid, vec_id FROM (
              SELECT q.qid, z.vec_id,
                row_number() OVER (PARTITION BY q.qid ORDER BY $cosQZ DESC, z.vec_id) AS rn
              FROM q, qz z WHERE z.vec_id <> q.qid) WHERE rn <= 3),
          approx AS (SELECT qid, vec_id FROM (
              SELECT qp.qid, z.vec_id,
                row_number() OVER (PARTITION BY qp.qid ORDER BY
                  list_sum(list_transform(generate_series(1, len(qp.qq)),
                    i -> qp.qq[i]::BIGINT * z.qv[i]::BIGINT)) DESC, z.vec_id) AS rn
              FROM qp JOIN qz z ON z.bucket = qp.pb AND z.vec_id <> qp.qid) WHERE rn <= 3),
          cand AS (SELECT qp.qid, count(*) AS n_candidates
              FROM qp JOIN qz z ON z.bucket = qp.pb AND z.vec_id <> qp.qid GROUP BY 1),
          hits AS (SELECT e.qid, count(*) AS h FROM exact e
              JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id GROUP BY 1)
          SELECT q.qid, CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
            round(coalesce(h.h, 0) / 3.0, 6) AS recall
          FROM q LEFT JOIN cand c USING (qid) LEFT JOIN hits h USING (qid)"""
    }) { (s, d) =>
      // One persisted frame carries raw embedding + bucket + int8 codes:
      // ground truth, candidates, and approx ranking all read it.
      val qz = graft.util.PersistScope.track(
        t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            transform(col("embedding"), v => v.cast("double")).as("e"),
            VectorOps.lshBucket(col("embedding"), 4, 64).as("bucket"))
          .withColumn("emax", array_max(transform(col("e"), v => abs(v))))
          .select(col("vec_id"), col("embedding"), col("bucket"),
            transform(col("e"), v => when(col("emax") === 0, lit(0))
              .otherwise(floor(v / col("emax") * 127 + 0.5).cast("int"))).as("qv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bkt = col("bucket")
      val probes = transform(sequence(lit(0), lit(4)), p =>
        when(p === 0, bkt).otherwise(concat(
          bkt.substr(lit(1), p - 1),
          when(bkt.substr(p, lit(1)) === "1", lit("0")).otherwise(lit("1")),
          bkt.substr(p + 1, lit(4) - p))))
      val q = qz.filter(col("vec_id") < 16).limit(16) // limit: PlanGuard-visible bound
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("qv").as("qq"), probes.as("probes"))
      val qp = q.select(col("qid"), col("qq"), explode(col("probes")).as("pb"))
      val wCos = Window.partitionBy("qid").orderBy(col("rawcos").desc, col("vec_id"))
      val exact = qz.crossJoin(broadcast(q.drop("probes", "qq")))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rawcos", cosine(col("qe"), col("embedding")))
        .withColumn("rn", row_number().over(wCos))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id"))
      // 5 probe keys per query, still a bucket equi-join; pair-dup-free
      // because every vector lives in exactly one bucket
      val bucketPairs = qz.join(broadcast(qp),
          col("bucket") === col("pb") && col("vec_id") =!= col("qid"))
      val wDot = Window.partitionBy("qid").orderBy(col("dot").desc, col("vec_id"))
      val approx = bucketPairs
        .withColumn("dot", aggregate(zip_with(col("qq"), col("qv"),
          (a, b) => a.cast("long") * b.cast("long")), lit(0L), (acc, v) => acc + v))
        .withColumn("rn", row_number().over(wDot))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id"))
      val cand = bucketPairs.groupBy("qid").agg(count(lit(1)).as("n_candidates"))
      val hits = exact.join(approx, Seq("qid", "vec_id")).groupBy("qid").agg(count(lit(1)).as("h"))
      q.select(col("qid"))
        .join(cand, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_candidates"), lit(0L)).cast("long").as("n_candidates"),
          round(coalesce(col("h"), lit(0L)) / 3.0, 6).as("recall"))
    },

    // Cross-source duplication matrix — provenance analytics for a corpus
    // curator: verified near-dup pair counts by (source, source), i.e. which
    // ingestion sources copy from each other (mirrors, scrapes, re-posts).
    // Rides the SHARED band/shingle/edge stages (x21 consumes the same edge
    // frame), so its marginal cost is two doc_id joins over the pair-graph-
    // sized edge set + a tiny keyed agg; the (src_a, src_b) key is
    // direction-normalized with least/greatest so mirrored pairs land in
    // one cell.
    QueryDef("x35_cross_source_dup",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
            FROM (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents),
          edges AS (
            SELECT p.d1, p.d2 FROM cand p
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8)
          SELECT least(da.source, db.source) AS src_a,
                 greatest(da.source, db.source) AS src_b,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM edges e JOIN documents da ON da.doc_id = e.d1
                       JOIN documents db ON db.doc_id = e.d2
          GROUP BY 1, 2""") { (s, d) =>
      val src = t(s, d, "documents").select(col("doc_id"), col("source"))
      sharedEdges(s, d)
        .join(src.as("sa"), col("d1") === col("sa.doc_id"))
        .join(src.as("sb"), col("d2") === col("sb.doc_id"))
        .select(least(col("sa.source"), col("sb.source")).as("src_a"),
          greatest(col("sa.source"), col("sb.source")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
    },

    // Effective dataset size after transitive dedup — the number a mixture
    // designer actually budgets against: per source, docs/tokens SURVIVING
    // min-id-representative dedup over the x21 cluster structure (cluster
    // label IS the min member id under min-label propagation, so survival
    // is the cheap predicate doc_id = cluster_id — no extra reduction).
    // Rides the shared edge stage + the same connectedComponents call as
    // x21; marginal cost = a doc-keyed left join and a source-keyed agg.
    QueryDef("x48_effective_size",
      s"""WITH RECURSIVE bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
            FROM (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents),
          edges AS (
            SELECT p.d1, p.d2 FROM cand p
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          sym AS (SELECT d1 AS src, d2 AS dst FROM edges UNION ALL SELECT d2, d1 FROM edges),
          reach(doc_id, r) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM sym) t0
            UNION
            SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.doc_id),
          lab AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY doc_id),
          dd AS (SELECT d.doc_id, d.source, len(string_split(d.text, ' ')) AS nt, l.cluster_id
                 FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id)
          SELECT source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(*) FILTER (cluster_id IS NULL OR doc_id = cluster_id) AS BIGINT) AS n_surviving,
            CAST(sum(nt) AS BIGINT) AS n_tokens,
            CAST(sum(nt) FILTER (cluster_id IS NULL OR doc_id = cluster_id) AS BIGINT) AS n_tokens_surviving,
            round((sum(nt) FILTER (cluster_id IS NULL OR doc_id = cluster_id))::DOUBLE / sum(nt), 6) AS token_keep_ratio
          FROM dd GROUP BY source""") { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), size(tokens(col("text"))).as("nt"))
      val lab = sharedComponents(s, d)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val survives = col("cluster_id").isNull || col("doc_id") === col("cluster_id")
      docs.join(lab, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          count(when(survives, 1)).cast("long").as("n_surviving"),
          sum("nt").cast("long").as("n_tokens"),
          sum(when(survives, col("nt")).otherwise(0)).cast("long").as("n_tokens_surviving"),
          round(sum(when(survives, col("nt")).otherwise(0)).cast("double")
            / sum("nt"), 6).as("token_keep_ratio"))
    },

    // Incremental-ingest dedup: the day-2 shape of near-dup dedup — a NEW
    // batch (source src0 stands in for "today's crawl") is deduped AGAINST
    // the existing corpus, not within itself. Rides the same shared
    // band/shingle/verified-edge stages; the only new work is an
    // endpoint-side source filter over the pair-graph-sized edge set. At
    // 100 TB the old corpus's bands are a precomputed artifact (written once
    // at ingest), so a daily batch pays band computation only for ITSELF
    // plus one bucket-key equi-join against the stored bands — never a
    // corpus rescan. Docs keep their full drop/keep decision (dup_of = the
    // smallest matching old doc) so the decision is auditable.
    QueryDef("x43_incremental_dedup",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
            FROM (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents),
          edges AS (
            SELECT p.d1, p.d2 FROM cand p
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          xp AS (
            SELECT CASE WHEN da.source = 'src0' THEN e.d1 ELSE e.d2 END AS new_id,
                   CASE WHEN da.source = 'src0' THEN e.d2 ELSE e.d1 END AS dup_of
            FROM edges e JOIN documents da ON da.doc_id = e.d1
                         JOIN documents db ON db.doc_id = e.d2
            WHERE (da.source = 'src0') <> (db.source = 'src0')),
          fd AS (SELECT new_id, min(dup_of) AS dup_of FROM xp GROUP BY 1)
          SELECT d.doc_id, fd.new_id IS NOT NULL AS dropped, fd.dup_of
          FROM documents d LEFT JOIN fd ON fd.new_id = d.doc_id
          WHERE d.source = 'src0'""") { (s, d) =>
      Dedup.incrementalDropList(
        sharedEdges(s, d).select(col("d1").as("id1"), col("d2").as("id2")),
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", newTag = "src0")
    },

    // The CAPSTONE composition — the whole curation pipeline as one query,
    // each stage one of the verified operators: clean (x46 chain) → exact
    // dedup on the CLEANED text (x01 shape, min-id representative via one
    // fingerprint window) → near-dup dedup over the shared verified-edge
    // artifact (x03; in production bands are rebuilt post-clean — here the
    // edge set is an input artifact, the day-2 posture of x43) → benchmark
    // contamination gate (x23, docs 0-9 are the benchmark and exempt) →
    // greedy sequence packing of survivors (x25). Every doc leaves with an
    // auditable disposition; kept docs carry their training bin. Stage
    // precedence exact > contaminated > near: a near-dup OF the benchmark
    // is contamination (the stronger drop reason), while ordinary near-dups
    // keep their own label; each gate only runs on the previous gate's
    // survivors at scale.
    QueryDef("x50_curation_pipeline",
      s"""WITH cl AS (SELECT doc_id, lang,
              trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g'), '\\s+', ' ', 'g')) AS ct
            FROM documents),
          rep AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(ct)) AS rep FROM cl),
          bands AS (
            SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
            FROM (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents),
          edges AS (
            SELECT p.d1, p.d2 FROM cand p
            JOIN sh s1 ON s1.doc_id = p.d1 JOIN sh s2 ON s2.doc_id = p.d2
            WHERE len(list_filter(s1.s, x -> list_contains(s2.s, x)))::DOUBLE
              / greatest(len(list_distinct(s1.s || s2.s)), 1) >= 0.8),
          doomed AS (SELECT DISTINCT d2 FROM edges),
          b AS (SELECT list_distinct(flatten(list(s))) AS bset FROM sh WHERE doc_id < 10),
          cont AS (SELECT sh.doc_id,
              len(list_filter(s, x -> list_contains(bset, x)))::DOUBLE / greatest(len(s), 1) AS frac
            FROM sh, b),
          st AS (SELECT cl.doc_id, cl.lang, cl.ct,
              CASE WHEN cl.doc_id <> rep.rep THEN 'exact_dup'
                   WHEN cl.doc_id >= 10 AND cont.frac >= 0.5 THEN 'contaminated'
                   WHEN dm.d2 IS NOT NULL THEN 'near_dup'
                   ELSE 'kept' END AS status
            FROM cl JOIN rep ON rep.doc_id = cl.doc_id
            LEFT JOIN doomed dm ON dm.d2 = cl.doc_id
            LEFT JOIN cont ON cont.doc_id = cl.doc_id),
          kept AS (SELECT doc_id, lang, len(string_split(ct, ' ')) AS nt FROM st WHERE status = 'kept'),
          packed AS (SELECT doc_id,
              CAST(floor(coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin_id
            FROM kept)
          SELECT s.doc_id, s.status, p.bin_id
          FROM st s LEFT JOIN packed p ON p.doc_id = s.doc_id""") { (s, d) =>
      val cl = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), graft.functions.clean_text(col("text")).as("ct"))
      val doomed = sharedEdges(s, d).select(col("d2")).distinct()
      val sh = sharedShingles(s, d)
      val bench = sh.filter(col("doc_id") < 10)
        .agg(array_distinct(flatten(collect_list(col("s")))).as("bset"))
      val cont = sh.crossJoin(broadcast(bench))
        .select(col("doc_id"),
          (size(array_intersect(col("s"), col("bset"))).cast("double")
            / greatest(size(col("s")), lit(1))).as("frac"))
      val repW = Window.partitionBy(md5(col("ct")))
      // Persisted: both the packing branch and the final disposition join
      // read `st`; without it the packing side re-derives the entire
      // clean+window+join chain (plan-audit finding — the NFC chain showed
      // up twice in the physical plan).
      val st = graft.util.PersistScope.track(cl
        .withColumn("rep", min("doc_id").over(repW))
        .join(doomed, col("doc_id") === col("d2"), "left")
        .join(cont, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("doc_id") =!= col("rep"), "exact_dup")
            .when(col("doc_id") >= 10 && col("frac") >= 0.5, "contaminated")
            .when(col("d2").isNotNull, "near_dup")
            .otherwise("kept"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val packW = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = st.filter(col("status") === "kept")
        .select(col("doc_id"), col("lang"), size(split(col("ct"), " ")).as("nt"))
        .withColumn("bin_id",
          floor(coalesce(sum("nt").over(packW), lit(0)) / 2048.0).cast("long"))
        .select(col("doc_id"), col("bin_id"))
      st.join(packed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("status"), col("bin_id"))
    },

    // Winnowing fingerprints (the MOSS scheme) — LOCAL fingerprint selection
    // robust to edits: each window of 4 consecutive shingle hashes
    // contributes its minimum, so partial overlap (quotations, boilerplate
    // splicing) still shares fingerprints where MinHash's global signature
    // washes out. See Dedup.winnowFingerprints; the (doc, fp) frame is the
    // joinable artifact (fp equi-join = the candidate generation).
    QueryDef("x36_winnow_fingerprints",
      s"""WITH sh AS (SELECT doc_id, list_transform($ShinglesSql, g -> md5(g)) AS hs FROM documents),
          f AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, greatest(len(hs) - 3, 1)),
                  j -> list_min(hs[j:j+3]))) AS fps
                FROM sh WHERE len(hs) >= 1)
          SELECT doc_id, unnest(fps) AS fp FROM f""") { (s, d) =>
      Dedup.winnowFingerprints(t(s, d, "documents"), "doc_id", "text", window = 4)
    },

    // Winnowing candidate pairs — the dedup stage over the x36 fingerprints:
    // docs sharing ≥ 2 winnowed fingerprints, ranked by overlap strength.
    // Fingerprint equi-join (shuffle ∝ shingles/window per doc), threshold
    // suppresses single-collision noise; near-dups in this corpus share up
    // to ~40 fingerprints while unrelated docs share 0-1. Fingerprints in
    // more than 128 docs are dropped pre-join (the MOSS hot-fingerprint
    // rule — boilerplate, no pairwise signal, O(m²) bucket cost; see
    // Dedup.winnowCandidatePairs). Test-SF posting lists max out at 24, so
    // the cap is semantics-visible only at stress scale.
    QueryDef("x40_winnow_pairs",
      s"""WITH sh AS (SELECT doc_id, list_transform($ShinglesSql, g -> md5(g)) AS hs FROM documents),
          f AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, greatest(len(hs) - 3, 1)),
                  j -> list_min(hs[j:j+3]))) AS fps
                FROM sh WHERE len(hs) >= 1),
          p0 AS (SELECT doc_id, unnest(fps) AS fp FROM f),
          hot AS (SELECT fp FROM p0 GROUP BY fp HAVING count(*) > 128),
          p AS (SELECT * FROM p0 WHERE fp NOT IN (SELECT fp FROM hot))
          SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS shared_fps
          FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2""") { (s, d) =>
      Dedup.winnowCandidatePairs(t(s, d, "documents"), "doc_id", "text",
        window = 4, minShared = 2, maxPosting = 128)
    },

    // Per-source length quantiles with the sketch SELF-VERIFIED in-query
    // (the x14 pattern): the exact percentiles are the oracle-checkable
    // output, and the approx_percentile sketch — the only form that scales
    // (exact percentile sorts per group; the KLL-style sketch is mergeable
    // map-side state) — must land inside the exact ±0.05-QUANTILE band or
    // the row says so. The band is in RANK space, not value space: the
    // sketch's guarantee is a rank error, and it returns observed data
    // points (no interpolation), so a relative-value bound is
    // data-dependent — it failed honestly on one sparse source at sf0.01,
    // which is exactly what the column is for.
    QueryDef("x37_length_quantiles",
      """SELECT source,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.9), 6) AS p90,
           CAST(count(*) AS BIGINT) AS n,
           true AS sketch_in_band
         FROM documents GROUP BY source""") { (s, d) =>
      t(s, d, "documents").groupBy("source").agg(
          expr("percentile(n_chars, 0.5)").as("e50"),
          expr("percentile(n_chars, 0.9)").as("e90"),
          expr("percentile(n_chars, 0.45)").as("lo50"),
          expr("percentile(n_chars, 0.55)").as("hi50"),
          expr("percentile(n_chars, 0.85)").as("lo90"),
          expr("percentile(n_chars, 0.95)").as("hi90"),
          expr("percentile_approx(n_chars, 0.5, 1000)").as("a50"),
          expr("percentile_approx(n_chars, 0.9, 1000)").as("a90"),
          count(lit(1)).as("n"))
        .select(col("source"),
          round(col("e50"), 6).as("p50"), round(col("e90"), 6).as("p90"), col("n"),
          (col("a50").between(col("lo50"), col("hi50")) &&
            col("a90").between(col("lo90"), col("hi90"))).as("sketch_in_band"))
    },

    // Per-source KL divergence from the corpus token distribution — the
    // domain-shift signal a mixture designer reads before reweighting
    // (which sources are lexically "far" from the blend). Per-term values
    // are exact-count ratios (deterministic doubles); the CROSS-ROW sum is
    // the order-dependence hazard, so each term is fixed-pointed to an
    // int64 (floor(x·1e9 + 0.5), the x26 rounding form) and summed
    // EXACTLY — bit-identical on any partitioning and in DuckDB. Shape:
    // wordcount shuffle, source/token-keyed sums derived from the reduced
    // frame, token equi-join, per-source exact-int agg.
    // Corpus text cleaning — the pre-dedup normalization pass: Unicode NFC
    // (via the codegen'd NfcNormalizeExpr — byte-variants of identically
    // rendered text must collapse BEFORE exact/shingle fingerprinting or
    // cross-source dups hide), control-char strip, whitespace collapse,
    // trim. Pure map stage, zero shuffle; both engines run the same
    // normalize→strip→collapse→trim chain (DuckDB's nfc_normalize is the
    // same Unicode form C). The synthetic corpus is already clean — the
    // changed flag oracle-pins that the chain is a no-op exactly where it
    // should be; the Unicode-bearing cases live in NormalizeSpec.
    QueryDef("x46_clean_text",
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'), '\s+', ' ', 'g')) AS cleaned,
           trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'), '\s+', ' ', 'g')) <> text AS changed,
           CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
         FROM documents""") { (s, d) =>
      t(s, d, "documents")
        .withColumn("cleaned", graft.functions.clean_text(col("text")))
        .select(col("doc_id"), col("cleaned"),
          (col("cleaned") =!= col("text")).as("changed"),
          length(col("cleaned")).cast("long").as("n_chars_clean"))
    },

    // Source-vocabulary overlap matrix — the pairwise companion to x39's
    // KL-from-blend: which sources duplicate each other's lexicon (merge
    // candidates; near-identical crawls) vs contribute unique mass. Shape:
    // one (source, token)-distinct frame (wordcount-sized, persisted), a
    // token-keyed self-join whose fan-out per token is bounded by the
    // number of SOURCES sharing it (sources are datasets — tens to
    // hundreds, never corpus-scale), and a broadcast of the source-count
    // vocab sizes. For thousands of sources, switch the self-join to a
    // per-token source-list + bounded pair explode; same output.
    QueryDef("x44_source_overlap",
      """WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token FROM documents),
         v AS (SELECT source, count(*) AS nv FROM st GROUP BY 1),
         i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS ni
               FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
               GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(ni AS BIGINT) AS n_shared,
           round(ni::DOUBLE / (va.nv + vb.nv - ni), 6) AS jaccard
         FROM i JOIN v va ON va.source = i.src_a JOIN v vb ON vb.source = i.src_b""") { (s, d) =>
      val st = graft.util.PersistScope.track(
        sharedWordCounts(s, d).select(col("source"), col("token")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // limit(4096): no-op — one row per SOURCE, a curated enumeration
      // (crawl/books/code/...), not a corpus-scaling key; makes the bound
      // machine-visible to PlanGuard. If a corpus ever had >4096 sources
      // the truncation would fail the oracle hash, not pass silently.
      val v = st.groupBy("source").agg(count(lit(1)).as("nv")).limit(4096)
      st.as("a").join(st.as("b"),
          col("a.token") === col("b.token") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("ni"))
        .join(broadcast(v.as("va")), col("src_a") === col("va.source"))
        .join(broadcast(v.as("vb")), col("src_b") === col("vb.source"))
        .select(col("src_a"), col("src_b"), col("ni").cast("long").as("n_shared"),
          round(col("ni").cast("double")
            / (col("va.nv") + col("vb.nv") - col("ni")), 6).as("jaccard"))
    },

    QueryDef("x39_source_kl",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
         st AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
         s AS (SELECT source, sum(c) AS ns FROM st GROUP BY 1),
         ct AS (SELECT token, sum(c) AS n FROM st GROUP BY 1),
         tot AS (SELECT sum(c) AS nn FROM st)
         SELECT st.source,
           CAST(any_value(s.ns) AS BIGINT) AS n_tokens,
           round(sum(CAST(floor((st.c::DOUBLE / s.ns) * ln((st.c::DOUBLE / s.ns) / (ct.n::DOUBLE / tot.nn))
             * 1000000000 + 0.5) AS BIGINT)) / 1000000000.0, 6) AS kl_from_corpus
         FROM st JOIN s USING (source) JOIN ct USING (token), tot
         GROUP BY st.source""") { (s, d) =>
      // (source, token) counts re-reduce from the shared wordcount frame
      // (exact integer sums, so the re-grouping cannot change any value);
      // source totals, corpus token counts, and the grand total all derive
      // from this reduced frame
      val st = graft.util.PersistScope.track(
        sharedWordCounts(s, d).groupBy("source", "token").agg(sum("c").as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sTot = st.groupBy("source").agg(sum("c").as("ns"))
      val ct = st.groupBy("token").agg(sum("c").as("n"))
      val tot = st.agg(sum("c").as("nn"))
      val ps = col("c").cast("double") / col("ns")
      val pc = col("n").cast("double") / col("nn")
      st.join(sTot, "source").join(ct, "token").crossJoin(broadcast(tot))
        .withColumn("term", floor(ps * log(ps / pc) * 1000000000L + 0.5).cast("long"))
        .groupBy("source")
        .agg(max("ns").cast("long").as("n_tokens"),
          round(sum("term") / 1000000000.0, 6).as("kl_from_corpus"))
    },

    // DSIR importance resampling (Xie et al., NeurIPS 2023): score every
    // corpus doc by how much more likely its tokens are under the TARGET
    // domain's unigram model than the general corpus's, then keep the
    // top-k. Docs 0-9 stand in for the target-domain sample (the x23
    // convention); weight(doc) = Σ_tokens ln(p_target(w)/p_source(w)),
    // add-one smoothed over the shared vocabulary. Shape: two vocab-sized
    // count tables from ONE wordcount pass, a token equi-join back to the
    // exploded corpus (AQE broadcasts the vocab side while it fits; at
    // real scale DSIR hashes features into 2^20 buckets, which bounds this
    // table regardless of corpus size), per-doc exact int64 term sums, and
    // the global top-k via the bounded-heap aggregate — one row total
    // broadcast back, NO global sort (the window form would funnel every
    // doc through one partition). Ties at the boundary break on doc_id
    // through the same struct order in both engines.
    QueryDef("x51_dsir_resampling",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         cnt AS (SELECT token, count(*) FILTER (doc_id < 10) AS ct, count(*) FILTER (doc_id >= 10) AS cs
                 FROM tok GROUP BY 1),
         tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns, count(*) AS v FROM cnt),
         w AS (SELECT t.doc_id, count(*) AS n_tokens,
                 sum(CAST(floor(ln(((c.ct + 1)::DOUBLE / (tot.nt + tot.v)) / ((c.cs + 1)::DOUBLE / (tot.ns + tot.v)))
                   * 1000000000 + 0.5) AS BIGINT)) AS wi
               FROM tok t JOIN cnt c USING (token), tot
               WHERE t.doc_id >= 10 GROUP BY 1),
         thr AS (SELECT max(struct_pack(nw := -wi, id := doc_id)) AS b FROM
                   (SELECT wi, doc_id FROM w ORDER BY -wi ASC, doc_id ASC LIMIT 50))
         SELECT w.doc_id, CAST(w.n_tokens AS BIGINT) AS n_tokens,
           round(w.wi / 1000000000.0, 6) AS weight,
           struct_pack(nw := -w.wi, id := w.doc_id) <= thr.b AS selected
         FROM w, thr""") { (s, d) =>
      // all from the shared wordcount frame: the per-instance fixed-point
      // term is identical for every instance of a (doc, token), so the
      // per-doc sum is exactly c × term — integer math, no explode rerun
      val wc = sharedWordCounts(s, d)
      val cnt = graft.util.PersistScope.track(
        wc.groupBy("token").agg(
          sum(when(col("doc_id") < 10, col("c")).otherwise(0L)).as("ct"),
          sum(when(col("doc_id") >= 10, col("c")).otherwise(0L)).as("cs"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val tot = cnt.agg(sum("ct").as("nt"), sum("cs").as("ns"), count(lit(1)).as("v"))
      val pt = (col("ct") + 1).cast("double") / (col("nt") + col("v"))
      val psrc = (col("cs") + 1).cast("double") / (col("ns") + col("v"))
      val w = wc.filter(col("doc_id") >= 10)
        .join(cnt, "token").crossJoin(broadcast(tot))
        .withColumn("term", col("c") * floor(log(pt / psrc) * 1000000000L + 0.5).cast("long"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_tokens"), sum("term").as("wi"))
      // global top-50 as ONE topk_min row (ascending (-wi, id) = weight
      // desc, id asc); the boundary is its LAST element, so k larger than
      // the doc count degrades to selecting everything — honestly.
      val thr = w.agg(TopK.topk_min(struct((-col("wi")).as("nw"), col("doc_id").as("id")), 50).as("top"))
        .select(element_at(col("top"), size(col("top"))).as("b"))
      w.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_tokens"),
          round(col("wi") / 1000000000.0, 6).as("weight"),
          (struct((-col("wi")).as("nw"), col("doc_id").as("id")) <= col("b")).as("selected"))
    },

    // Deterministic train/val/test split assignment — the reproducible
    // 80/10/10 partition every training run starts from: the split is a
    // pure function of doc_id through the portable md5 bucket (x47's
    // admission hash), so it is identical on any cluster size, any
    // partitioning, and re-runs — no rand(), no global sort, no state.
    // n_in_cell (docs sharing this doc's (source, split) cell) rides along
    // so the gate audits the per-source stratification proportions, not
    // just the assignment. Scale shape: pure map for the split; the cell
    // counts are a sources×3-row aggregate broadcast back — the corpus
    // never shuffles (the window form would shuffle everything).
    QueryDef("x58_train_split",
      s"""WITH b AS (SELECT doc_id, source,
              ${Sketches.bucketSql("doc_id::VARCHAR", "'split'", 65536)} AS b
            FROM documents),
          a AS (SELECT doc_id, source,
              CASE WHEN b < 52429 THEN 'train' WHEN b < 58982 THEN 'val' ELSE 'test' END AS split
            FROM b),
          c AS (SELECT source, split, count(*) AS n_in_cell FROM a GROUP BY 1, 2)
          SELECT a.doc_id, a.source, a.split, c.n_in_cell
          FROM a JOIN c USING (source, split)""") { (s, d) =>
      val a = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          Sketches.bucket(col("doc_id").cast("string"), lit("split"), 65536).as("b"))
        .withColumn("split",
          when(col("b") < 52429, "train").when(col("b") < 58982, "val").otherwise("test"))
        .drop("b")
      // limit(4096): no-op — |sources|×3 rows (curated source enumeration,
      // not corpus-scaling); machine-visible bound for PlanGuard.
      val c = a.groupBy("source", "split").agg(count(lit(1)).as("n_in_cell")).limit(4096)
      a.join(broadcast(c), Seq("source", "split"))
        .select(col("doc_id"), col("source"), col("split"), col("n_in_cell"))
    },

    // Rolling-hash document fingerprinting — the char-level member of the
    // fingerprint family (x11 whole-doc md5, x36 token-shingle winnowing):
    // the k=4 smallest DISTINCT Rabin-Karp hashes over all 16-byte windows,
    // one O(n) pass per doc inside RollingFpExpr (each window hash derives
    // from its predecessor in O(1); the k-min buffer lives in the
    // expression, so output is 4 longs per doc regardless of length —
    // that boundedness is what makes the fingerprint joinable at corpus
    // scale). Exact int64 arithmetic (B=256, M=2³¹−1) replicated verbatim
    // by the oracle, which hashes every window from scratch with a
    // precomputed power table — O(n·w), fine for an oracle, the cost the
    // engine's rolling recurrence avoids.
    QueryDef("x59_rolling_fingerprint", {
      val M = 2147483647L
      val pw = Iterator.iterate(1L)(p => p * 256 % M).take(16).toSeq
      val powersDesc = pw.reverse.mkString("[", ", ", "]") // [j] 1-based -> B^(16-j)
      s"""WITH d AS (SELECT doc_id, text, greatest(length(text) - 15, 0) AS nw FROM documents),
          win AS (SELECT doc_id,
              (list_sum(list_transform(generate_series(1, 16), j ->
                 CAST(ascii(substr(text, i + j - 1, 1)) AS BIGINT) * ($powersDesc)[j]))
               % $M) AS h
            FROM d, unnest(generate_series(1, nw)) AS t(i)),
          f AS (SELECT doc_id, (list(DISTINCT h ORDER BY h))[1:4] AS fps
                FROM win GROUP BY doc_id)
          SELECT d.doc_id, CAST(d.nw AS BIGINT) AS n_windows,
            coalesce(array_to_string(f.fps, ','), '') AS fps
          FROM d LEFT JOIN f USING (doc_id)"""
    }) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        greatest(length(col("text")) - 15, lit(0)).cast("long").as("n_windows"),
        concat_ws(",",
          transform(RollingFpExpr.rolling_fps(col("text"), 16, 4),
            v => v.cast("string"))).as("fps"))
    },

    // Bigram log-probability scoring — the perplexity-filter upgrade of
    // x24's unigram form: score = mean -ln p(w2|w1) under the corpus's own
    // add-one-smoothed bigram model (real LM-filter pipelines swap in a
    // trained KenLM/transformer; the smoothed count model keeps the oracle
    // exact). High score = improbable token SEQUENCES, which catches
    // shuffled/boilerplate text that unigram stats miss. Shape: bigrams
    // come from one in-row transform over the token array (no positional
    // self-join), one bigram-keyed wordcount for the model, a context-count
    // reduction of that frame, the vocab size as a one-row broadcast, and a
    // per-doc exact int64 mean. Docs with fewer than two tokens have no
    // bigrams and drop out in both engines.
    QueryDef("x52_bigram_logprob",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
                FROM tk, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
         bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         cc AS (SELECT w1, sum(c) AS cw FROM bc GROUP BY 1),
         v AS (SELECT count(DISTINCT token) AS v FROM
                 (SELECT unnest(string_split(text, ' ')) AS token FROM documents))
         SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(CAST(floor(-ln((bc.c + 1)::DOUBLE / (cc.cw + v.v)) * 1000000000 + 0.5) AS BIGINT))
             / (count(*) * 1000000000.0), 6) AS avg_neg_logprob
         FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1), v
         GROUP BY bg.doc_id""") { (s, d) =>
      val tk = t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
      // bigram stream from one in-row transform (x28's stage-the-array
      // lesson: the token array is a column, split once per row), reduced
      // IMMEDIATELY to per-doc bigram counts — the model join and the
      // per-doc mean both ride the reduced frame (every instance of a
      // (doc, w1, w2) gets the identical integer term, so the instance sum
      // is exactly c × term and n_bigrams is Σc). Only the reduced frame
      // persists; the raw instance stream is consumed once by its own
      // map-side combine and never shuffles.
      // size(tk)-2 is NEGATIVE for a 1-token doc and sequence() counts
      // DOWN to [0,-1], making element_at(tk, 0) throw (same latent
      // pitfall ADVICE r8 flagged in x79; Dedup.scala:28). A <2-token doc
      // has no bigrams — the filter matches the oracle's empty
      // generate_series(1, 0).
      val dbc = graft.util.PersistScope.track(
        tk.filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(0), size(col("tk")) - 2),
            i => struct(element_at(col("tk"), i + 1).as("w1"),
              element_at(col("tk"), i + 2).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
          .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bc = dbc.groupBy("w1", "w2").agg(sum("c").as("c"))
      val cc = bc.groupBy("w1").agg(sum("c").as("cw"))
      val v = sharedWordCounts(s, d)
        .agg(countDistinct("token").as("v"))
      dbc.join(bc.withColumnRenamed("c", "mc"), Seq("w1", "w2"))
        .join(cc, "w1").crossJoin(broadcast(v))
        .withColumn("term",
          floor(-log((col("mc") + 1).cast("double") / (col("cw") + col("v"))) * 1000000000L + 0.5).cast("long"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_bigrams"),
          round(sum(col("c") * col("term")) / (sum("c") * 1000000000.0), 6).as("avg_neg_logprob"))
    },

    // PMI collocations — the corpus's top word PAIRS by pointwise mutual
    // information (ln of observed-vs-independent bigram probability), the
    // classic multiword-expression/tokenizer-seed signal, min-count-gated
    // (c ≥ 5) so rare-pair noise can't top the list. Determinism: the one
    // ln per PAIR TYPE is snapped to int64 fixed-point (the x24/x69
    // trick — floor(ln·1e9 + 0.5) on an identically-built double), and
    // ALL ranking happens on that integer. Scale shape: one bigram-keyed
    // count shuffle (map-side combined), vocab-sized unigram joins off
    // the shared wordcount stage, and the global top-20 is ONE bounded
    // topk_min row — no global sort, the corpus never shuffles twice.
    QueryDef("x79_pmi_collocations",
      """WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
         bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
                FROM tk, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
         bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         nb AS (SELECT sum(c) AS nb FROM bc),
         u AS (SELECT token, count(*) AS cu FROM
                 (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
         nu AS (SELECT sum(cu) AS nu FROM u),
         p AS (SELECT bc.w1, bc.w2, bc.c,
                 CAST(floor(ln(bc.c::DOUBLE * nu.nu::DOUBLE * nu.nu::DOUBLE
                     / (nb.nb::DOUBLE * u1.cu::DOUBLE * u2.cu::DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS pmi_fp
               FROM bc JOIN u u1 ON u1.token = bc.w1 JOIN u u2 ON u2.token = bc.w2, nb, nu
               WHERE bc.c >= 5)
         SELECT w1, w2, CAST(c AS BIGINT) AS c, CAST(rk AS INT) AS rank,
           round(pmi_fp / 1000000000.0, 6) AS pmi
         FROM (SELECT *, row_number() OVER (ORDER BY pmi_fp DESC, w1, w2) AS rk FROM p)
         WHERE rk <= 20""") { (s, d2) =>
      val tk = t(s, d2, "documents").select(tokens(col("text")).as("tk"))
      // size(tk)-2 is NEGATIVE for a 1-token doc and sequence() counts
      // DOWN to [0,-1], making element_at(tk, 0) throw (Dedup.scala:28
      // pitfall; same guard as x74's grams5). A <2-token doc has no
      // bigrams — the filter matches the oracle's empty generate_series.
      val bc = graft.util.PersistScope.track(
        tk.filter(size(col("tk")) >= 2)
          .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
            i => struct(element_at(col("tk"), i + 1).as("w1"),
              element_at(col("tk"), i + 2).as("w2")))).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nb = bc.agg(sum("c").as("nb"))
      val u = sharedWordCounts(s, d2).groupBy("token").agg(sum("c").as("cu"))
      val nu = u.agg(sum("cu").as("nu"))
      val top = bc.filter(col("c") >= 5)
        .join(u.select(col("token").as("w1"), col("cu").as("cu1")), "w1")
        .join(u.select(col("token").as("w2"), col("cu").as("cu2")), "w2")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .withColumn("pmi_fp",
          floor(log(col("c").cast("double") * col("nu").cast("double") * col("nu").cast("double")
            / (col("nb").cast("double") * col("cu1").cast("double") * col("cu2").cast("double")))
            * 1000000000L + 0.5).cast("long"))
        .agg(TopK.topk_min(struct((-col("pmi_fp")).as("np"), col("w1"), col("w2"),
          col("c")), 20).as("top"))
      top.select(posexplode(col("top")).as(Seq("i", "p")))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"),
          col("p.c").cast("long").as("c"), (col("i") + 1).cast("int").as("rank"),
          round((-col("p.np")) / 1000000000.0, 6).as("pmi"))
    },

    // Quality-aware cluster representatives — production near-dup dedup
    // keeps the BEST document of each duplicate cluster, not the min-id
    // one (x03's convention): here best = most characters, doc_id
    // tie-break (swap in any per-doc quality score; the argmax shape is
    // unchanged). Rides the shared component stage; the winner is one
    // struct-max per cluster (map-side partials, no window sort), joined
    // back cluster-keyed. Cluster-graph sized throughout — only docs WITH
    // a near-dup appear.
    QueryDef("x53_cluster_representatives",
      s"""$ComponentsCteSql,
          q AS (SELECT l.doc_id, l.cluster_id, d.n_chars
                FROM lab l JOIN documents d USING (doc_id)),
          rep AS (SELECT cluster_id, max(struct_pack(n := n_chars, ni := -doc_id)) AS b
                  FROM q GROUP BY 1)
          SELECT q.doc_id, q.cluster_id, CAST(-((rep.b).ni) AS BIGINT) AS rep_id,
            q.doc_id = -((rep.b).ni) AS keep
          FROM q JOIN rep USING (cluster_id)""") { (s, d) =>
      val q = sharedComponents(s, d)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .join(t(s, d, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
      val rep = q.groupBy("cluster_id")
        .agg(max(struct(col("n_chars").as("n"), (-col("doc_id")).as("ni"))).as("b"))
      q.join(rep, "cluster_id")
        .select(col("doc_id"), col("cluster_id"),
          (-col("b.ni")).cast("long").as("rep_id"),
          (col("doc_id") === -col("b.ni")).as("keep"))
    },

    // Contamination provenance — x23 says HOW contaminated a doc is; this
    // says BY WHICH benchmark doc: every (corpus doc, benchmark doc) pair
    // sharing at least one 3-gram shingle, with the shared count and the
    // fraction of the corpus doc's shingles covered. The audit artifact a
    // decontamination run files alongside the drop list. Shape: the bench
    // side is eval-sized (docs 0-9) → exploded and BROADCAST; the corpus
    // side streams through one shingle-keyed broadcast join, and the
    // group-by fan-out per corpus doc is bounded by the benchmark's size.
    // No corpus-side self-join at any scale.
    QueryDef("x54_contamination_pairs",
      s"""WITH sh AS (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents),
          c AS (SELECT doc_id, unnest(s) AS g, len(s) AS n_sh FROM sh WHERE doc_id >= 10),
          b AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id < 10)
          SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared,
            round(count(*)::DOUBLE / greatest(max(c.n_sh), 1), 6) AS frac
          FROM c JOIN b USING (g)
          GROUP BY 1, 2""") { (s, d) =>
      val sh = sharedShingles(s, d)
      val c = sh.filter(col("doc_id") >= 10)
        .select(col("doc_id"), size(col("s")).as("n_sh"), explode(col("s")).as("g"))
      val b = sh.filter(col("doc_id") < 10)
        .select(col("doc_id").as("bench_id"), explode(col("s")).as("g"))
      c.join(broadcast(b), "g")
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).cast("long").as("n_shared"),
          round(count(lit(1)).cast("double") / greatest(max("n_sh"), lit(1)), 6).as("frac"))
    },

    // Temperature-scaled source mixture weights — the multilingual-LM
    // sampling op (Conneau & Lample 2019, α = 0.5): upsample tail sources,
    // downsample heads, by q_s ∝ p_s^α over per-source token mass. Every
    // cross-row sum is exact int64 (per-source token counts; the sqrt terms
    // go through the x39 fixed-point idiom — floor(√(n/N)·1e9 + 0.5) — so
    // the normalizer is an order-free integer sum, never a float
    // accumulation whose value depends on partial-agg order). Scale shape:
    // reduces off the shared wordcount pass to a sources-sized frame; the
    // two normalizers are one-row broadcasts; the corpus never re-shuffles.
    QueryDef("x63_temperature_mixture",
      """WITH st AS (SELECT source, count(*) AS n FROM
           (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
         tot AS (SELECT sum(n) AS nn FROM st),
         term AS (SELECT source, n,
             CAST(floor(sqrt(n::DOUBLE / tot.nn) * 1000000000 + 0.5) AS BIGINT) AS w
           FROM st, tot),
         ts AS (SELECT sum(w) AS tw FROM term)
         SELECT source, CAST(n AS BIGINT) AS n_tokens,
           round(n::DOUBLE / tot.nn, 6) AS share,
           round(w::DOUBLE / ts.tw, 6) AS temp_share,
           round(w::DOUBLE / ts.tw, 6) > round(n::DOUBLE / tot.nn, 6) AS upsampled
         FROM term, tot, ts""") { (s, d) =>
      val st = sharedWordCounts(s, d).groupBy("source").agg(sum("c").as("n"))
      val tot = st.agg(sum("n").as("nn"))
      val term = st.crossJoin(broadcast(tot))
        .withColumn("w",
          floor(sqrt(col("n").cast("double") / col("nn")) * 1000000000L + 0.5).cast("long"))
      val ts = term.agg(sum("w").as("tw"))
      term.crossJoin(broadcast(ts))
        .select(col("source"), col("n").cast("long").as("n_tokens"),
          round(col("n").cast("double") / col("nn"), 6).as("share"),
          round(col("w").cast("double") / col("tw"), 6).as("temp_share"),
          (round(col("w").cast("double") / col("tw"), 6)
            > round(col("n").cast("double") / col("nn"), 6)).as("upsampled"))
    },

    // MinHash estimator calibration — the instrument a dedup pipeline runs
    // before trusting its LSH thresholds: for every LSH candidate pair, the
    // signature-agreement estimate of Jaccard (matching components / 8,
    // which is what MinHash mathematically estimates) against the EXACT
    // shingle Jaccard, with the absolute error and the would-verify verdict
    // in the row. est is exactly k/8 (no float accumulation); jaccard and
    // the error are single correctly-rounded IEEE ops identical across
    // engines. Scale shape: pairs come only from the band equi-join (the
    // x02/x03 shared stage — never all-pairs); signatures and shingle sets
    // join back doc-keyed; output is candidate-pair sized.
    QueryDef("x64_minhash_calibration",
      s"""WITH sig AS (SELECT doc_id, $MinhashSigSql AS sig FROM documents WHERE length(text) > 0),
          sf AS (SELECT doc_id, sig FROM sig WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          bands AS (SELECT doc_id, band, md5(array_to_string(sig[band*$BandSize+1 : band*$BandSize+$BandSize], ',')) AS band_hash
            FROM sf, (SELECT unnest(generate_series(0, ${NumHashes / BandSize - 1})) AS band)),
          cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          m AS (SELECT c.d1, c.d2,
              len(list_filter(generate_series(1, $NumHashes), j -> g1.sig[j] = g2.sig[j])) AS nm,
              len(list_filter(s1.s, x -> list_contains(s2.s, x))) AS i,
              greatest(len(list_distinct(s1.s || s2.s)), 1) AS u
            FROM cand c
            JOIN sf g1 ON g1.doc_id = c.d1 JOIN sf g2 ON g2.doc_id = c.d2
            JOIN (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents) s1 ON s1.doc_id = c.d1
            JOIN (SELECT doc_id, list_distinct($ShinglesSql) AS s FROM documents) s2 ON s2.doc_id = c.d2)
          SELECT d1, d2, CAST(nm AS BIGINT) AS n_matching,
            round(nm / ${NumHashes}.0, 6) AS est_jaccard,
            round(i::DOUBLE / u, 6) AS jaccard,
            round(abs(nm / ${NumHashes}.0 - i::DOUBLE / u), 6) AS abs_err,
            (i::DOUBLE / u) >= 0.8 AS is_near_dup
          FROM m""") { (s, d) =>
      // CLONE-IMMUNE form (the x03 rep-collapse, same argument): every
      // emitted kernel (signature agreement, jaccard, their gap) is a
      // function of the two TEXTS, so kernels evaluate once per rep pair
      // — cross pairs from sharedRepCands, intra pairs against the
      // group's own sig/shingles (identical content ⇒ all positions
      // match) — and the doc-space rows are a pure output expansion
      // proven by the unchanged doc-space oracle.
      val m = sharedRepMap(s, d)
      // Signatures for REPS ONLY, persisted: kernels join this frame four
      // times (g1/g2 × cross/self); without the semi-filter + persist each
      // join side re-ran the full-corpus MinHash — the dominant cost at 10×
      // dense skew (clones never need their own sig: it equals the rep's).
      val sigs = graft.util.PersistScope.track(
        t(s, d, "documents")
          .join(m.filter(col("doc_id") === col("rep")).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .filter(length(col("text")) > 0 && size(tokens(col("text"))) >= 3)
          .withColumn("sig",
            MinHashFromTokensExpr.minhash_from_tokens(tokens(col("text")), NumHashes))
          .select(col("doc_id"), col("sig"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sh = sharedShingles(s, d)
      val nmc = size(filter(zip_with(col("g1.sig"), col("g2.sig"), (x, y) => x === y), b => b))
      val inter = size(array_intersect(col("s1.s"), col("s2.s"))).cast("double")
      val uni = greatest(size(array_union(col("s1.s"), col("s2.s"))), lit(1)).cast("double")
      def kernels(pairs: org.apache.spark.sql.DataFrame, c1: String, c2: String) = pairs
        .join(sigs.as("g1"), col(c1) === col("g1.doc_id"))
        .join(sigs.as("g2"), col(c2) === col("g2.doc_id"))
        .join(sh.as("s1"), col(c1) === col("s1.doc_id"))
        .join(sh.as("s2"), col(c2) === col("s2.doc_id"))
        .select(col(c1), col(c2),
          nmc.cast("long").as("n_matching"),
          round(nmc.cast("double") / NumHashes, 6).as("est_jaccard"),
          round(inter / uni, 6).as("jaccard"),
          round(abs(nmc.cast("double") / NumHashes - inter / uni), 6).as("abs_err"),
          (inter / uni >= 0.8).as("is_near_dup"))
      val kCols = Seq("n_matching", "est_jaccard", "jaccard", "abs_err", "is_near_dup")
      val rk = kernels(sharedRepCands(s, d), "d1", "d2")
        .withColumnsRenamed(Map("d1" -> "r1", "d2" -> "r2"))
      val cross = rk
        .join(m.as("ma"), col("ma.rep") === col("r1"))
        .join(m.as("mb"), col("mb.rep") === col("r2"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("d1") +:
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("d2") +: kCols.map(col): _*)
      // group self-kernels: rep paired with itself (r2c aliases the id so
      // the four joins above stay distinct attribute-wise)
      val selfK = kernels(
        m.filter(col("doc_id") === col("rep"))
          .select(col("doc_id").as("rep"), col("doc_id").as("rep2")), "rep", "rep2")
      val intra = m.as("ma").join(m.as("mb"),
          col("ma.rep") === col("mb.rep") && col("ma.doc_id") < col("mb.doc_id"))
        .join(bandedDocs(s, d).as("bd"), col("ma.doc_id") === col("bd.doc_id"), "left_semi")
        .select(col("ma.doc_id").as("d1"), col("mb.doc_id").as("d2"), col("ma.rep").as("rep"))
        .join(selfK.drop("rep2"), "rep")
        .select(("d1" +: "d2" +: kCols).map(col): _*)
      cross.unionByName(intra)
    },

    // Leakage-safe train/val/test split — x58's deterministic split with
    // the eval-integrity guarantee a real pretraining team needs: all
    // members of a near-dup CLUSTER land in the SAME split (otherwise the
    // val set contains near-copies of training docs and the eval is
    // contaminated). The split hashes the cluster REPRESENTATIVE (min-label
    // component id; singletons are their own representative, so
    // non-clustered docs get exactly x58's assignment), and `rerouted`
    // audits which docs a doc-id hash would have placed differently. Scale
    // shape: rides the shared component stage (pair-graph sized); the
    // corpus takes two id-keyed shuffle joins + a pure-map bucket — never
    // all-pairs. NO broadcast hints: `lab` is one row per doc in any
    // near-dup cluster and `sizes` one row per cluster — BOTH grow with
    // the corpus (a dup-dense crawl makes `lab` corpus-sized), so hinting
    // them is a deferred OOM; AQE may still pick broadcast when they
    // measure small at runtime.
    QueryDef("x65_leakage_safe_split",
      s"""$ComponentsCteSql,
          sz AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1),
          a AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab l USING (doc_id)),
          b AS (SELECT a.doc_id, a.cluster_id,
                  ${Sketches.bucketSql("a.cluster_id::VARCHAR", "'split'", 65536)} AS cb,
                  ${Sketches.bucketSql("a.doc_id::VARCHAR", "'split'", 65536)} AS db
                FROM a)
          SELECT b.doc_id, CAST(b.cluster_id AS BIGINT) AS cluster_id,
            CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size,
            CASE WHEN cb < 52429 THEN 'train' WHEN cb < 58982 THEN 'val' ELSE 'test' END AS split,
            (CASE WHEN cb < 52429 THEN 'train' WHEN cb < 58982 THEN 'val' ELSE 'test' END) <>
              (CASE WHEN db < 52429 THEN 'train' WHEN db < 58982 THEN 'val' ELSE 'test' END) AS rerouted
          FROM b LEFT JOIN sz ON sz.cluster_id = b.cluster_id""") { (s, d) =>
      def splitOf(b: Column) =
        when(b < 52429, "train").when(b < 58982, "val").otherwise("test")
      val lab = sharedComponents(s, d).select(col("id").as("doc_id"), col("cluster_id"))
      val sizes = lab.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
      val cb = Sketches.bucket(col("cluster_id").cast("string"), lit("split"), 65536)
      val db = Sketches.bucket(col("doc_id").cast("string"), lit("split"), 65536)
      t(s, d, "documents").select(col("doc_id"))
        .join(lab, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .join(sizes, Seq("cluster_id"), "left")
        .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"),
          coalesce(col("csz"), lit(1L)).cast("long").as("cluster_size"),
          splitOf(cb).as("split"),
          (splitOf(cb) =!= splitOf(db)).as("rerouted"))
    },

    // Cross-split leakage audit — the check that makes x65 WORTH running:
    // for every verified near-dup pair, would the naive doc-id split (x58)
    // have separated the two docs (naive_leak — real eval contamination),
    // and does the cluster-keyed split (x65) keep them together (safe_leak,
    // false for every pair BY CONSTRUCTION — both endpoints of a verified
    // edge share a component, so they hash identically; the column is the
    // machine-checked statement of the guarantee, and the DuckDB oracle
    // re-derives it from its own recursive components rather than trusting
    // the engine's). Scale shape: rides the shared edge + component stages;
    // marginal cost is two label joins over the pair-graph-sized edge set.
    QueryDef("x67_split_leakage_audit", {
      def splitCase(b: String) =
        s"CASE WHEN $b < 52429 THEN 'train' WHEN $b < 58982 THEN 'val' ELSE 'test' END"
      val bd1 = Sketches.bucketSql("e.d1::VARCHAR", "'split'", 65536)
      val bd2 = Sketches.bucketSql("e.d2::VARCHAR", "'split'", 65536)
      val bc1 = Sketches.bucketSql("l1.cluster_id::VARCHAR", "'split'", 65536)
      val bc2 = Sketches.bucketSql("l2.cluster_id::VARCHAR", "'split'", 65536)
      s"""$ComponentsCteSql
          SELECT e.d1, e.d2,
            ${splitCase(bd1)} AS split1_naive, ${splitCase(bd2)} AS split2_naive,
            ${splitCase(bd1)} <> ${splitCase(bd2)} AS naive_leak,
            ${splitCase(bc1)} <> ${splitCase(bc2)} AS safe_leak
          FROM edges e
          JOIN lab l1 ON l1.doc_id = e.d1 JOIN lab l2 ON l2.doc_id = e.d2"""
    }) { (s, d) =>
      def splitOf(b: Column) =
        when(b < 52429, "train").when(b < 58982, "val").otherwise("test")
      def bk(c: Column) = Sketches.bucket(c.cast("string"), lit("split"), 65536)
      val lab = sharedComponents(s, d)
      sharedEdges(s, d)
        .join(lab.select(col("id").as("d1"), col("cluster_id").as("c1")), "d1")
        .join(lab.select(col("id").as("d2"), col("cluster_id").as("c2")), "d2")
        .select(col("d1"), col("d2"),
          splitOf(bk(col("d1"))).as("split1_naive"),
          splitOf(bk(col("d2"))).as("split2_naive"),
          (splitOf(bk(col("d1"))) =!= splitOf(bk(col("d2")))).as("naive_leak"),
          (splitOf(bk(col("c1"))) =!= splitOf(bk(col("c2")))).as("safe_leak"))
    },

    // Vocabulary coverage curve — the stat that sizes a tokenizer's vocab:
    // what fraction of all token INSTANCES do the top-k types cover (1 −
    // OOV rate at vocab size k)? Exact integer sums; one division per
    // output row. k beyond the true vocab saturates honestly (n_top stops
    // at the vocab size, coverage hits 1). Scale shape: the vocab-sized
    // count frame reduces off the shared wordcount pass; the ranking is a
    // BOUNDED topk_min heap (map-side combinable, one k-length array row
    // out of any vocab cardinality) — never a window sort over the vocab;
    // everything after it is rows-of-k arithmetic on the driver-side-small
    // frame.
    QueryDef("x68_vocab_coverage",
      """WITH uni AS (SELECT token, count(*) AS n FROM
           (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
         tot AS (SELECT sum(n) AS nn, count(*) AS v FROM uni),
         r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rn FROM uni),
         ks AS (SELECT unnest([4, 8, 16, 32]) AS k)
         SELECT ks.k, CAST(least(ks.k, tot.v) AS BIGINT) AS n_top,
           round(sum(r.n)::DOUBLE / tot.nn, 6) AS coverage
         FROM ks JOIN r ON r.rn <= ks.k, tot
         GROUP BY ks.k, tot.v, tot.nn""") { (s, d) =>
      val uni = sharedWordCounts(s, d).groupBy("token").agg(sum("c").as("n"))
      val tot = uni.agg(sum("n").as("nn"), count(lit(1)).as("v"))
      val ranked = uni
        .agg(TopK.topk_min(struct((-col("n")).as("nc"), col("token")), 32).as("arr"))
        .select(posexplode(col("arr")).as(Seq("pos", "s")))
        .select((col("pos") + 1).as("rn"), (-col("s.nc")).as("n"))
      val ks = s.range(2, 6).select(pow(lit(2), col("id")).cast("int").as("k"))
      ks.join(ranked, col("rn") <= col("k"))
        .groupBy("k").agg(sum("n").as("cn"))
        .crossJoin(broadcast(tot))
        .select(col("k").cast("int").as("k"),
          least(col("k"), col("v")).cast("long").as("n_top"),
          round(col("cn").cast("double") / col("nn"), 6).as("coverage"))
    },

    // Per-source unigram entropy — the diversity signal mixture designers
    // read next to x39's KL-from-blend: low-entropy sources are templated/
    // repetitive, high-entropy sources are diverse (and norm_entropy =
    // H/ln(V) makes sources with different vocab sizes comparable). The
    // cross-row sum is exact int64 (the x24/x52 fixed-point ln idiom:
    // per-type term c·⌊ln(N/c)·1e9+0.5⌋, so no float accumulation);
    // divisions happen once per source row. Scale shape: reduces off the
    // shared wordcount pass to (source, type) counts with map-side combine;
    // per-source normalizers broadcast back.
    QueryDef("x69_source_entropy",
      """WITH st AS (SELECT source, token, count(*) AS c FROM
           (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1, 2),
         ns AS (SELECT source, sum(c) AS n, count(*) AS v FROM st GROUP BY 1),
         tm AS (SELECT st.source,
             sum(st.c * CAST(floor(ln(ns.n::DOUBLE / st.c) * 1000000000 + 0.5) AS BIGINT)) AS t
           FROM st JOIN ns USING (source) GROUP BY 1)
         SELECT tm.source, CAST(ns.n AS BIGINT) AS n_tokens, CAST(ns.v AS BIGINT) AS vocab,
           round(tm.t / (ns.n * 1000000000.0), 6) AS entropy,
           CASE WHEN ns.v > 1 THEN round(tm.t / (ns.n * 1000000000.0) / ln(ns.v), 6)
                ELSE 0.0 END AS norm_entropy
         FROM tm JOIN ns USING (source)""") { (s, d) =>
      val st = sharedWordCounts(s, d).groupBy("source", "token").agg(sum("c").as("c"))
      // limit(4096): no-op — one row per source (curated enumeration);
      // machine-visible bound for PlanGuard's corpus-lineage check.
      val ns = st.groupBy("source").agg(sum("c").as("n"), count(lit(1)).as("v")).limit(4096)
      val tm = st.join(broadcast(ns), "source")
        .select(col("source"),
          (col("c") * floor(log(col("n").cast("double") / col("c")) * 1000000000L + 0.5)
            .cast("long")).as("t"))
        .groupBy("source").agg(sum("t").as("t"))
      tm.join(broadcast(ns), "source")
        .select(col("source"), col("n").cast("long").as("n_tokens"),
          col("v").cast("long").as("vocab"),
          round(col("t") / (col("n") * 1000000000.0), 6).as("entropy"),
          when(col("v") > 1,
            round(col("t") / (col("n") * 1000000000.0) / log(col("v").cast("double")), 6))
            .otherwise(0.0).as("norm_entropy"))
    },

    // BPE tokenizer induction — the vocabulary-LEARNING op of a training
    // pipeline (Sennrich et al. 2016): 3 rounds of merge-the-most-frequent-
    // adjacent-symbol-pair, exactly how production BPE trainers run — over
    // the WORD-FREQUENCY table, never the corpus: after the one shared
    // corpus wordcount, every round touches only vocab-sized frames (pair
    // counts explode |word| symbols per DISTINCT word, map-side combined;
    // the winning pair is ONE broadcast row; the merge applies as an in-row
    // left-to-right greedy fold over the symbol array — 'a a a a' with pair
    // (a,a) becomes 'aa aa', canonical BPE, which a naive string replace
    // gets wrong because its match consumes the separator). Tie-break:
    // (count desc, pair asc) in both engines. The oracle reruns the fold as
    // a DuckDB list_reduce over a string accumulator — same greedy rule,
    // structurally different evaluation.
    QueryDef("x62_bpe_merges",
      s"""WITH $bpeChainSql
          SELECT s3.word, CAST(s3.c AS BIGINT) AS c, s3.seg,
            m1.a || '|' || m1.b AS merge1, m2.a || '|' || m2.b AS merge2,
            m3.a || '|' || m3.b AS merge3
          FROM s3, m1, m2, m3""") { (s, d) =>
      sharedBpeSegs(s, d).select(col("word"), col("c"), col("seg"),
        concat(col("a1"), lit("|"), col("b1")).as("merge1"),
        concat(col("a2"), lit("|"), col("b2")).as("merge2"),
        concat(col("a3"), lit("|"), col("b3")).as("merge3"))
    },

    // Tokenizer fertility / compression audit — the stat a tokenizer team
    // reads after induction (x62): per SOURCE, how many symbols per token
    // does the learned segmentation spend, vs the character baseline?
    // (Sources whose text the merges compress least are the ones the vocab
    // under-serves — the signal that drives vocab-size and mixture
    // decisions.) All sums are exact int64 over (count × per-word integer
    // lengths); the one division happens at output. Scale shape: the
    // per-source word counts reduce off the shared wordcount pass, the
    // merge table is the SHARED vocab-sized BPE stage (one induction per
    // pass, x62 and this query both ride it), and the join is vocab-sized
    // on both sides — the corpus itself is never re-read.
    QueryDef("x66_bpe_compression",
      s"""WITH $bpeChainSql,
          st AS (SELECT source, token AS word, count(*) AS c
            FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY 1, 2),
          j AS (SELECT st.source, st.c, length(st.word) AS lw,
                  len(string_split(s3.seg, ' ')) AS ls
                FROM st JOIN s3 ON s3.word = st.word)
          SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
            CAST(sum(c * lw) AS BIGINT) AS n_chars,
            CAST(sum(c * ls) AS BIGINT) AS n_symbols,
            round(sum(c * ls)::DOUBLE / sum(c * lw), 6) AS compression
          FROM j GROUP BY 1""") { (s, d) =>
      val st = sharedWordCounts(s, d)
        .groupBy("source", "token").agg(sum("c").as("c"))
      st.join(sharedBpeSegs(s, d).select(col("word"), col("seg")),
          col("token") === col("word"))
        .select(col("source"), col("c"), length(col("token")).as("lw"),
          size(split(col("seg"), " ")).as("ls"))
        .groupBy("source").agg(
          sum("c").cast("long").as("n_tokens"),
          sum(col("c") * col("lw")).cast("long").as("n_chars"),
          sum(col("c") * col("ls")).cast("long").as("n_symbols"))
        .withColumn("compression",
          round(col("n_symbols").cast("double") / col("n_chars"), 6))
    },

    // Matryoshka-style dimension-ablation audit: top-3 neighbor recall when
    // embeddings are truncated to their first 16/32/64 components, against
    // the full-dim (64) ranking as ground truth. The decision aid for
    // "how many dims can retrieval drop" (MRL-style truncation) — at 100 TB
    // you run this audit on a query sample exactly like this (16 queries
    // broadcast), while the corpus side stays one scan: all three dims'
    // cosines come from the SAME pair row (slice + fold in-row), so ablating
    // more dims adds zero scans and zero shuffles. Brute force is the
    // calibration baseline by design, same as x06/x29/x30.
    QueryDef("x71_dim_ablation", {
      def cosD(a: String, b: String) =
        s"""(list_sum(list_transform(generate_series(1, d.dim), i -> ($a)[i]::DOUBLE * ($b)[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(generate_series(1, d.dim), i -> ($a)[i]::DOUBLE * ($a)[i]::DOUBLE)))
               * sqrt(list_sum(list_transform(generate_series(1, d.dim), i -> ($b)[i]::DOUBLE * ($b)[i]::DOUBLE)))))"""
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 16),
          rk AS (SELECT qid, dim, vec_id, rn FROM (
              SELECT q.qid, d.dim, z.vec_id,
                row_number() OVER (PARTITION BY q.qid, d.dim
                  ORDER BY ${cosD("q.qe", "z.embedding")} DESC, z.vec_id) AS rn
              FROM q CROSS JOIN (SELECT unnest([16, 32, 64]) AS dim) d
                   CROSS JOIN embeddings z WHERE z.vec_id <> q.qid)
            WHERE rn <= 3),
          full3 AS (SELECT qid, vec_id FROM rk WHERE dim = 64),
          hits AS (SELECT t.qid, t.dim, count(*) AS h FROM rk t
              JOIN full3 f ON f.qid = t.qid AND f.vec_id = t.vec_id GROUP BY 1, 2),
          top AS (SELECT qid, dim, max(CASE WHEN rn = 1 THEN vec_id END) AS top1
              FROM rk GROUP BY 1, 2)
          SELECT top.qid, CAST(top.dim AS INT) AS dim, CAST(top.top1 AS BIGINT) AS top1,
            round(coalesce(h.h, 0) / 3.0, 6) AS recall
          FROM top LEFT JOIN hits h ON h.qid = top.qid AND h.dim = top.dim"""
    }) { (s, d2) =>
      val emb = t(s, d2, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 16).limit(16) // limit: PlanGuard-visible bound
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid", "dim").orderBy(col("cos").desc, col("vec_id"))
      // rk feeds ground truth, hits and top1 — persist the 16·corpus·3 frame
      val rk = graft.util.PersistScope.track(
        emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
          .withColumn("dim", explode(array(lit(16), lit(32), lit(64))))
          .withColumn("cos", cosine(slice(col("qe"), lit(1), col("dim")),
            slice(col("embedding"), lit(1), col("dim"))))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select("qid", "dim", "vec_id", "rn")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val full3 = rk.filter(col("dim") === 64)
        .select(col("qid").as("fqid"), col("vec_id").as("fvid"))
      val hits = rk.join(full3, col("qid") === col("fqid") && col("vec_id") === col("fvid"))
        .groupBy("qid", "dim").agg(count(lit(1)).as("h"))
      rk.groupBy("qid", "dim").agg(max(when(col("rn") === 1, col("vec_id"))).as("top1"))
        .join(hits, Seq("qid", "dim"), "left")
        .select(col("qid"), col("dim").cast("int").as("dim"),
          col("top1").cast("long").as("top1"),
          round(coalesce(col("h"), lit(0)) / 3.0, 6).as("recall"))
    },

    // Context-length audit: for each candidate training context length L,
    // what does the corpus cost in truncation (docs clipped, tokens lost)
    // and packing slack (chop-packed bins, fill ratio)? The table a
    // pretraining team reads before fixing seq_len. Pure map + one
    // (lang, L)-keyed aggregate — the corpus is scanned once, the explode
    // carries only (lang, nt) pairs ×4, everything else is exact int64
    // arithmetic inside the aggregate (map-side combined). The L ladder
    // straddles this corpus's 10–100-token length distribution so both the
    // truncation and the slack branches are live (the s10 discipline:
    // never ship a threshold whose branch the data can't reach).
    QueryDef("x72_ctx_len_audit",
      """WITH nt AS (SELECT lang, len(string_split(text, ' ')) AS nt FROM documents),
         x AS (SELECT lang, L, nt FROM nt CROSS JOIN (SELECT unnest([32, 64, 128, 256]) AS L))
         SELECT lang, CAST(L AS INT) AS ctx_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE nt > L) AS BIGINT) AS n_truncated,
           CAST(sum(CASE WHEN nt > L THEN nt - L ELSE 0 END) AS BIGINT) AS tokens_lost,
           CAST(floor((sum(least(nt, L)) + L - 1) / L) AS BIGINT) AS n_bins,
           round(sum(least(nt, L)) / (floor((sum(least(nt, L)) + L - 1) / L) * L)::DOUBLE, 6) AS fill_ratio
         FROM x GROUP BY lang, L""") { (s, d2) =>
      t(s, d2, "documents")
        .select(col("lang"), size(tokens(col("text"))).as("nt"))
        .withColumn("L", explode(array(lit(32), lit(64), lit(128), lit(256))))
        .groupBy("lang", "L").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("nt") > col("L"), 1L).otherwise(0L)).as("n_truncated"),
          sum(when(col("nt") > col("L"), col("nt") - col("L")).otherwise(0L)).as("tokens_lost"),
          sum(least(col("nt"), col("L"))).as("kept"))
        .select(col("lang"), col("L").cast("int").as("ctx_len"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_truncated").cast("long").as("n_truncated"),
          col("tokens_lost").cast("long").as("tokens_lost"),
          floor((col("kept") + col("L") - 1) / col("L")).cast("long").as("n_bins"),
          round(col("kept") /
            (floor((col("kept") + col("L") - 1) / col("L")) * col("L")).cast("double"), 6)
            .as("fill_ratio"))
    },

    // N-gram novelty — the temporal-dedup audit: what fraction of a doc's
    // DISTINCT 5-grams first appear in THIS doc (global first occurrence =
    // min doc_id over the docs containing the gram)? Low-novelty docs are
    // recombinations of earlier content — the doc-level signal behind
    // "train on first occurrences" curation. Scale shape: the gram stream
    // shuffles as portable 128-bit md5 keys (8+8 bytes, never the gram
    // text), first-occurrence is ONE map-side-combinable min per key, and
    // the join back is key-to-key — no pair blowup anywhere, same posture
    // as x28's dup-gram stats.
    QueryDef("x74_ngram_novelty",
      """WITH g AS (SELECT DISTINCT doc_id, md5(gram) AS h FROM (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' ||
                     string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' ||
                     string_split(text, ' ')[i+4])) AS gram FROM documents)),
          f AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY 1)
          SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_distinct_grams,
            CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT) AS n_novel,
            round(count(*) FILTER (WHERE f.first_doc = g.doc_id)::DOUBLE / count(*), 6) AS novelty
          FROM g JOIN f USING (h) GROUP BY g.doc_id""") { (s, d2) =>
      val grams5 = (toks: Column) =>
        when(size(toks) >= 5,
          transform(sequence(lit(1), size(toks) - 4),
            i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
              element_at(toks, i + 2), element_at(toks, i + 3), element_at(toks, i + 4))))
          .otherwise(array().cast("array<string>"))
      // g feeds both the min-reduce and the join back — persist the reduced
      // (doc, hash) frame, never the gram text
      val g = graft.util.PersistScope.track(
        t(s, d2, "documents")
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), explode(array_distinct(grams5(col("toks")))).as("gram"))
          .select(col("doc_id"), md5(col("gram")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val first = g.groupBy("h").agg(min("doc_id").as("first_doc"))
      g.join(first, "h")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_distinct_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_distinct_grams").cast("long").as("n_distinct_grams"),
          col("n_novel").cast("long").as("n_novel"),
          round(col("n_novel").cast("double") / col("n_distinct_grams"), 6).as("novelty"))
    },

    // The SPLIT MANIFEST — the composition that turns x65 + x23 into the
    // artifact a training run actually consumes: every corpus doc gets ONE
    // disposition (train/val/test/quarantine) where (a) assignment is
    // near-dup-CLUSTER-atomic (the x65 guarantee: no eval leakage through
    // paraphrases), and (b) a cluster is quarantined WHOLE if ANY member is
    // benchmark-contaminated (x23's shingle-overlap rule) OR IS a benchmark
    // doc (a corpus doc near-dupping a benchmark doc is contamination the
    // shingle gate alone can miss). quarantined_by_cluster isolates the
    // docs that are clean themselves but ride out with a dirty cluster —
    // the visibility a curation team needs to tune the tradeoff. Scale
    // shape: rides the shared component + shingle stages; the roll-up is
    // one cluster-keyed bool_or; everything else is hash maps and id-keyed
    // shuffle joins. The component-label frame is NOT broadcast-hinted —
    // it is doc-keyed and corpus-proportional in a dup-dense crawl (same
    // class as the r10 pagerank fix).
    QueryDef("x77_split_manifest",
      s"""$ComponentsCteSql,
          a AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab l USING (doc_id)),
          -- `sh` (distinct shingle sets) comes from the components CTE prefix
          bb AS (SELECT list_distinct(flatten(list(s))) AS bset FROM sh WHERE doc_id < 10),
          ct AS (SELECT sh.doc_id,
                   len(list_filter(s, x -> list_contains(bset, x)))::DOUBLE
                     / greatest(len(s), 1) >= 0.5 AS contaminated
                 FROM sh, bb WHERE sh.doc_id >= 10),
          cq AS (SELECT a.cluster_id,
                   bool_or(a.doc_id < 10 OR coalesce(ct.contaminated, false)) AS q
                 FROM a LEFT JOIN ct USING (doc_id) GROUP BY 1),
          m AS (SELECT a.doc_id, a.cluster_id, cq.q,
                  coalesce(ct.contaminated, false) AS self_cont,
                  ${Sketches.bucketSql("a.cluster_id::VARCHAR", "'split'", 65536)} AS cb
                FROM a JOIN cq USING (cluster_id) LEFT JOIN ct USING (doc_id)
                WHERE a.doc_id >= 10)
          SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
            CASE WHEN q THEN 'quarantine'
                 WHEN cb < 52429 THEN 'train' WHEN cb < 58982 THEN 'val'
                 ELSE 'test' END AS disposition,
            (q AND NOT self_cont) AS quarantined_by_cluster
          FROM m""") { (s, d2) =>
      val lab = sharedComponents(s, d2).select(col("id").as("doc_id"), col("cluster_id"))
      val a = t(s, d2, "documents").select(col("doc_id"))
        .join(lab, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val sh = sharedShingles(s, d2)
      val bench = sh.filter(col("doc_id") < 10)
        .agg(array_distinct(flatten(collect_list(col("s")))).as("bset"))
      val ct = sh.filter(col("doc_id") >= 10)
        .crossJoin(broadcast(bench))
        .select(col("doc_id"),
          (size(array_intersect(col("s"), col("bset"))).cast("double") /
            greatest(size(col("s")), lit(1)) >= 0.5).as("contaminated"))
      Dedup.splitManifest(a, ct, benchBelow = 10)
    },

    // Exact-size deterministic sample per source — the reservoir-sampling
    // shape (exactly min(k, n) rows per stratum, not a Bernoulli fraction
    // like x19): rank every doc by a portable hash and keep the k smallest
    // per source. The engine runs it as a bounded k-heap aggregation
    // (`topk_min` over (hash, doc_id) structs) — k rows per (partition,
    // source) cross the wire and memory is O(k) per group, where the window
    // form would shuffle AND sort the whole corpus. Hash ranking makes the
    // sample stable under any partitioning/cluster size and reproducible by
    // the oracle's window replication.
    QueryDef("x73_reservoir_sample",
      s"""WITH r AS (SELECT source, doc_id,
            ${Sketches.bucketSql("doc_id::VARCHAR", "'smp'", 65536)} AS h FROM documents)
          SELECT source, doc_id, CAST(rn AS INT) AS smpl_rank FROM (
            SELECT source, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM r)
          WHERE rn <= 25""") { (s, d2) =>
      t(s, d2, "documents")
        .select(col("source"), col("doc_id"),
          Sketches.bucket(col("doc_id").cast("string"), lit("smp"), 65536).as("h"))
        .groupBy("source")
        .agg(TopK.topk_min(struct(col("h"), col("doc_id")), 25).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("source"), col("p.doc_id").as("doc_id"),
          (col("i") + 1).cast("int").as("smpl_rank"))
    },

    // WEIGHTED sample without replacement — priority sampling (Duffield/
    // Lund/Thorup): u = deterministic md5 uniform in (0,1], priority =
    // w/u, keep the k largest priorities per source; inclusion probability
    // is weight-proportional, and the sample is reproducible across
    // engines, retries, and cluster sizes (x73's hash-ordering argument
    // applied to the weighted case). Weight = token count, so the sample
    // is token-mass-representative — the form a mixture-budget pipeline
    // samples corpora with. Float story: priority = w·65536/(h+1) is one
    // IEEE division of exact integers — correctly-rounded and therefore
    // bitwise-identical in both engines; no ln/exp/pow in the key (the
    // exponential-jump E-S formulation would put libm in the gate).
    // Scale shape: pure map → bounded topk_min heap per source (k rows per
    // (partition, source) on the shuffle), no corpus window, no sort.
    QueryDef("x81_weighted_sample",
      s"""WITH r AS (SELECT source, doc_id, len(string_split(text, ' ')) AS w,
            ${Sketches.bucketSql("doc_id::VARCHAR", "'wsmp'", 65536)} AS h FROM documents)
          SELECT source, doc_id, CAST(w AS BIGINT) AS n_tokens,
            w * 65536.0 / (h + 1) AS priority, CAST(rn AS INT) AS smpl_rank
          FROM (SELECT *, row_number() OVER (
              PARTITION BY source ORDER BY w * 65536.0 / (h + 1) DESC, doc_id) AS rn FROM r)
          WHERE rn <= 25""") { (s, d2) =>
      t(s, d2, "documents")
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("w"),
          Sketches.bucket(col("doc_id").cast("string"), lit("wsmp"), 65536).as("h"))
        .withColumn("priority", col("w") * 65536.0 / (col("h") + 1))
        // natural struct order: -priority ascending == priority descending,
        // doc_id breaks ties — exactly the oracle's row_number ordering
        .groupBy("source")
        .agg(TopK.topk_min(
          struct((-col("priority")).as("np"), col("doc_id"), col("w"), col("priority")),
          25).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("source"), col("p.doc_id").as("doc_id"),
          col("p.w").cast("long").as("n_tokens"), col("p.priority").as("priority"),
          (col("i") + 1).cast("int").as("smpl_rank"))
    },

    // Dedup CASCADE accounting — the per-source token-retention ledger a
    // curation run reports after its sequential dedup stages: exact (keep
    // the min-id of each identical-text group) → near-dup (keep each
    // cluster's min id; on exact survivors the cluster structure is the
    // rep graph, whose components equal the full graph's restricted to
    // reps — every cross-group id pair implies its rep pair, so the full
    // cluster min IS the surviving rep) → passage-level first-occurrence
    // dedup over what remains. Composes repmap + components + passageDedup
    // with no new shuffle classes; the budget numbers (tokens_raw →
    // tokens_passage) are what a mixture planner consumes.
    QueryDef("x83_dedup_cascade",
      s"""WITH RECURSIVE ${componentsCteOver("documents")},
          em AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nt,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS rep
                 FROM documents),
          st AS (SELECT em.doc_id, em.source, em.nt,
                   em.doc_id = em.rep AS s_exact,
                   em.doc_id = em.rep AND (l.cluster_id IS NULL OR l.cluster_id = em.doc_id) AS s_nd
                 FROM em LEFT JOIN lab l ON l.doc_id = em.doc_id),
          tk AS (SELECT d.doc_id, string_split(d.text, ' ') AS tk
                 FROM documents d JOIN st ON st.doc_id = d.doc_id AND st.s_nd),
          p AS (SELECT doc_id, j AS pos, array_to_string(tk[(j*8+1):(j*8+8)], ' ') AS ptext
                FROM tk, unnest(generate_series(0, CAST(ceil(len(tk) / 8.0) AS BIGINT) - 1)) AS t(j)),
          w AS (SELECT md5(ptext) AS h, min(struct_pack(d:=doc_id, p:=pos)) AS win FROM p GROUP BY 1),
          ptok AS (SELECT p.doc_id, sum(CASE WHEN struct_pack(d:=p.doc_id, p:=p.pos) = w.win
                     THEN len(string_split(p.ptext, ' ')) ELSE 0 END) AS pt
                   FROM p JOIN w ON md5(p.ptext) = w.h GROUP BY 1)
          SELECT st.source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(st.nt) AS BIGINT) AS tokens_raw,
            CAST(count(*) FILTER (st.s_exact) AS BIGINT) AS docs_exact,
            CAST(sum(st.nt) FILTER (st.s_exact) AS BIGINT) AS tokens_exact,
            CAST(count(*) FILTER (st.s_nd) AS BIGINT) AS docs_nd,
            CAST(sum(st.nt) FILTER (st.s_nd) AS BIGINT) AS tokens_nd,
            CAST(coalesce(sum(pt), 0) AS BIGINT) AS tokens_passage,
            round(coalesce(sum(pt), 0)::DOUBLE / sum(st.nt), 6) AS retention
          FROM st LEFT JOIN ptok ON ptok.doc_id = st.doc_id
          GROUP BY st.source""") { (s, d2) =>
      val docs = t(s, d2, "documents")
      val lab = sharedComponents(s, d2)
        .select(col("id").as("doc_id"), col("cluster_id"))
      // Persisted: st feeds the survivor filter (passage stage input) AND
      // the final rollup.
      val st = graft.util.PersistScope.track(
        docs.select(col("doc_id"), col("source"), size(tokens(col("text"))).as("nt"))
          .join(sharedRepMap(s, d2), Seq("doc_id"))
          .join(lab, Seq("doc_id"), "left")
          .withColumn("s_exact", col("doc_id") === col("rep"))
          .withColumn("s_nd", col("s_exact") &&
            (col("cluster_id").isNull || col("cluster_id") === col("doc_id")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val ndDocs = docs.join(
        st.filter(col("s_nd")).select("doc_id"), Seq("doc_id"), "left_semi")
      val pt = Dedup.passageDedup(ndDocs, "doc_id", "text", passageTokens = 8)
        .select(col("doc_id"),
          when(length(col("cleaned_text")) === 0, 0L)
            .otherwise(size(split(col("cleaned_text"), " ")).cast("long")).as("pt"))
      st.join(pt, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("nt").cast("long").as("tokens_raw"),
          count(when(col("s_exact"), 1)).cast("long").as("docs_exact"),
          sum(when(col("s_exact"), col("nt")).otherwise(0L)).cast("long").as("tokens_exact"),
          count(when(col("s_nd"), 1)).cast("long").as("docs_nd"),
          sum(when(col("s_nd"), col("nt")).otherwise(0L)).cast("long").as("tokens_nd"),
          coalesce(sum("pt"), lit(0L)).cast("long").as("tokens_passage"),
          round(coalesce(sum("pt"), lit(0L)).cast("double") / sum("nt"), 6).as("retention"))
    })

  /** The x62 oracle's CTE chain (corpus wordcount → char segmentation →
    * 3 merge rounds), factored so x66's oracle reruns the identical
    * induction before its per-source join. */
  private def bpeChainSql: String = {
    def roundCte(r: Int) = {
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT s[i] AS a, s[i+1] AS b, sum(c) AS cnt
              FROM (SELECT c, string_split(seg, ' ') AS s FROM $prev),
                   unnest(generate_series(1, len(s) - 1)) AS t(i)
              GROUP BY 1, 2),
         m$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         s$r AS (SELECT word, c,
              list_reduce(string_split(seg, ' '), (acc, x) ->
                CASE WHEN x = m$r.b AND (acc = m$r.a OR ends_with(acc, ' ' || m$r.a))
                     THEN CASE WHEN acc = m$r.a THEN m$r.a || m$r.b
                          ELSE substr(acc, 1, length(acc) - length(m$r.a)) || m$r.a || m$r.b END
                     ELSE acc || ' ' || x END) AS seg
              FROM $prev, m$r)"""
    }
    s"""wc AS (SELECT token AS word, count(*) AS c
          FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
        s0 AS (SELECT word, c, array_to_string(list_transform(
            generate_series(1, length(word)), i -> substr(word, i, 1)), ' ') AS seg FROM wc),
        ${roundCte(1)}, ${roundCte(2)}, ${roundCte(3)}"""
  }

  /** Corpus-wide 3-round BPE merge table (word, c, seg, a1..b3) — the
    * induction is one computation per pass shared by x62 (merge output)
    * and x66 (compression stats). Round intermediates are PersistScope-
    * scoped (they only matter while the first consumer materializes this
    * frame); the final frame is the shared stage. */
  private def sharedBpeSegs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.SharedStages.cached("documents-bpe3", s, d) {
      val vocab = sharedWordCounts(s, d)
        .groupBy("token").agg(sum("c").as("c"))
        .select(col("token").as("word"), col("c"),
          concat_ws(" ", transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1)))).as("seg"))
      var seg = graft.util.PersistScope.track(
        vocab.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      for (r <- 1 to 3) {
        val syms = split(col("seg"), " ")
        // guard: Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty —
        // a single-symbol word must contribute no pairs
        val idx = when(size(syms) > 1, sequence(lit(1), size(syms) - 1))
          .otherwise(array().cast("array<int>"))
        val best = seg
          .select(col("c"), posexplode_outer(transform(idx,
            i => struct(element_at(syms, i).as("a"), element_at(syms, i + 1).as("b"))))
            .as(Seq("pos", "p")))
          .filter(col("p").isNotNull)
          .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum("c").as("cnt"))
          .agg(min(struct((-col("cnt")).as("nc"), col("a"), col("b"))).as("m"))
          .select(col("m.a").as(s"a$r"), col("m.b").as(s"b$r"))
        val next = seg.crossJoin(broadcast(best))
          .withColumn("seg", Bpe.applyMerge(col("seg"), col(s"a$r"), col(s"b$r")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // final round's frame belongs to the shared stage, not the query scope
        seg = if (r < 3) graft.util.PersistScope.track(next) else next
      }
      seg
    }
}
