package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-facing deduplication operations over a text corpus.
  *
  * Scale shape (the whole point): signatures are a map stage (fused one-pass
  * MinHash expression); candidate pairs come from an equi-join on LSH band
  * buckets (shuffle ∝ 4 rows/doc, join output ∝ near-duplicate pairs — never
  * O(n²)); exact Jaccard verifies only the candidates; survivors are an
  * anti-join. Representative choice is "smallest id among LSH-similar
  * neighbors": a doc is dropped iff some verified neighbor has a smaller id —
  * single pass, the standard greedy behavior for near-dup corpus pruning.
  * For exact one-representative-per-cluster semantics (greedy keeps extra
  * docs in star shapes through a larger hub), [[dropNearDuplicatesTransitive]]
  * runs iterative connected components over the verified pair graph.
  */
object Dedup {

  val NumHashes = 8
  val BandSize = 2 // 4 bands x 2 rows

  /** Word tokens (single-space splitting, matching the query suite). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word 3-gram shingles of a token array (composable form). Docs with
    * fewer than 3 tokens yield an empty array — `sequence(1, 0)` counts DOWN
    * on Spark and `element_at(toks, 0)` then throws, so guard explicitly. */
  def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** (id, band, band_hash) rows: the LSH bucket keys. `idCol`/`textCol` name
    * columns of `docs`. */
  def bands(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // Gate on the raw column (sig[0] is null iff < 3 tokens): filtering on
    // the computed signature attribute re-runs the digest loop inside the
    // scan's DataFilters (see OpsQueries.bandsDf).
    docs.filter(length(col(textCol)) > 0 && size(tokens(col(textCol))) >= 3)
      .withColumn("__sig", MinHashFromTokensExpr.minhash_from_tokens(tokens(col(textCol)), NumHashes))
      .select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lit(NumHashes / BandSize - 1)),
          b => md5(concat_ws(",", slice(col("__sig"), b * BandSize + 1, lit(BandSize))))))
          .as(Seq("band", "band_hash")))

  /** Verified near-duplicate pairs (id1 < id2, jaccard ≥ threshold). */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double): DataFrame = {
    // Persisted (PersistScope-released after the caller's action): the
    // self-join would otherwise run the MinHash digest twice — once per
    // side — and the shingle frame feeds two verify joins.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val b = graft.util.PersistScope.track(bands(docs, idCol, textCol).persist(lvl))
    val sh = graft.util.PersistScope.track(docs.select(col(idCol).as("id"),
      array_distinct(shingles(tokens(col(textCol)))).as("s")).persist(lvl))
    nearDuplicatePairsFromFrames(b, sh, threshold)
  }

  /** [[nearDuplicatePairs]] over PREBUILT frames — `bands` (id, band,
    * band_hash) and `sh` (id, s: distinct shingle set). The day-2 shape:
    * a caller that already holds the pass-wide band/shingle artifacts
    * (or a union of stored artifacts + a freshly-staged delta, x82's
    * augmented corpus) pairs WITHOUT re-running the corpus MinHash —
    * the same stored-band posture the s08 ingest stream takes. Callers
    * own persisting the inputs; both sides of the band self-join and
    * both verify joins read them. */
  def nearDuplicatePairsFromFrames(b: DataFrame, sh: DataFrame,
                                   threshold: Double): DataFrame = {
    val candidates = b.as("a").join(b.as("b"),
      col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    candidates
      .join(sh.as("s1"), col("id1") === col("s1.id"))
      .join(sh.as("s2"), col("id2") === col("s2.id"))
      .withColumn("jaccard",
        size(array_intersect(col("s1.s"), col("s2.s"))).cast("double")
          / greatest(size(array_union(col("s1.s"), col("s2.s"))), lit(1)))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** The corpus with near-duplicates removed: every doc that has a verified
    * neighbor with a smaller id is dropped. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8): DataFrame = {
    val doomed = nearDuplicatePairs(docs, idCol, textCol, threshold)
      .select(col("id2").as(idCol)).distinct()
    docs.join(doomed, Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected pair frame (id1, id2):
    * (id, cluster_id) rows for every id appearing in a pair, with cluster_id
    * the minimum id reachable through the pair graph. Iterative min-label
    * propagation with POINTER JUMPING: each round every node takes the min
    * of its own label and its neighbors' (one equi-join + keyed hash-agg
    * over the EDGE set), then follows its label one hop (labels are node
    * ids, so label := label's label — one more self-join). The jump halves
    * label-chain depth each round, so convergence is O(log diameter) — a
    * plain neighbor-propagation loop moves the min ONE hop per round and
    * silently truncates long chains at the iteration cap (caught by the
    * deep-chain spec). Near-dup components converge in 2-3 rounds. The
    * symmetric edge frame persists (memory-first, tracked by
    * [[graft.util.PersistScope]]); label frames localCheckpoint to truncate
    * lineage each round. Throws if maxIters rounds don't reach the fixpoint
    * (2^maxIters diameter) — wrong labels must never return silently. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 15): DataFrame = {
    import graft.util.PersistScope
    // MEMORY_AND_DISK, not DISK_ONLY: the label/edge frames are edge-set
    // sized (small even when the corpus is huge — only docs WITH a near-dup
    // appear), and the loop re-reads them every round; forcing them to disk
    // pays a write+read round-trip per iteration for no resilience gain the
    // spill path doesn't already provide.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = PersistScope.track(
      pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .union(pairs.select(col("id2").as("src"), col("id1").as("dst"))).persist(lvl))
    // Init fuses propagation round zero: each node starts at min(own id,
    // min direct neighbor) — same single shuffle as the identity init, one
    // fewer loop round (cliques converge at init and pay only the confirm).
    //
    // Label frames are localCheckpoint'ed, NOT persisted: each round's plan
    // builds on the previous label frame, so a plain persist leaves the
    // LOGICAL lineage growing linearly with iterations — re-analysis and
    // AQE plan handling then blow up superlinearly (a 20-node chain OOMed
    // the driver building plan strings). localCheckpoint truncates lineage
    // each round; the frames are edge-set sized, and on executor loss the
    // query simply re-runs (the production alternative for long chains is a
    // reliable checkpoint dir). ContextCleaner reaps the checkpoint blocks
    // as the intermediate frames go out of scope.
    var lab = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("cluster_id"))
      .localCheckpoint()
    // Fixpoint test without a diff join: labels only ever DECREASE, so the
    // label sum strictly decreases iff any node changed this round — one
    // cheap scalar agg per round.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("cluster_id"), lit(0L))).first().getLong(0)
    var prevSum = labelSum(lab)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = sym.join(lab, sym("src") === lab("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      // Checkpoint BEFORE the self-join: truncates lineage (see scaladoc)
      // and leaves a plain LogicalRDD — self-joining an aliased Union plan
      // trips Catalyst's union-constraint rewrite (ambiguous attributes).
      val merged = lab.union(prop)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint()
      // Pointer jump: labels are node ids of the same graph, so every label
      // has its own row in `merged`; following it one hop halves chain depth.
      val parents = merged.select(col("id").as("pid"), col("cluster_id").as("plabel"))
      val next = merged.join(parents, col("cluster_id") === col("pid"), "left")
        .select(col("id"), coalesce(col("plabel"), col("cluster_id")).as("cluster_id"))
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      lab = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds")
    lab
  }

  /** Transitive near-dup drop: ONE representative (the component minimum) per
    * connected near-duplicate cluster. Strictly stronger than the greedy
    * [[dropNearDuplicates]]: greedy keeps any doc whose verified neighbors
    * all have larger ids, so a star through a larger hub (edges (1,3),(2,3))
    * keeps both 1 and 2 even though 2 ~ 3 ~ 1 transitively; the component
    * form keeps only 1. Costs the O(diameter) label-propagation rounds on
    * top of the pair generation. */
  def dropNearDuplicatesTransitive(docs: DataFrame, idCol: String, textCol: String,
                                   threshold: Double = 0.8): DataFrame = {
    val comp = connectedComponents(
      nearDuplicatePairs(docs, idCol, textCol, threshold).select("id1", "id2"))
    val doomed = comp.filter(col("id") =!= col("cluster_id")).select(col("id").as(idCol))
    docs.join(doomed, Seq(idCol), "left_anti")
  }

  /** Incremental-ingest drop list: given a verified near-dup pair graph
    * over the WHOLE corpus (`pairs`: id1/id2, any orientation), a doc →
    * group tag frame, and the tag of the NEW batch, returns one row per new
    * doc: (idCol, dropped, dup_of) where dup_of is the smallest matching
    * OLD doc (auditable decision). New-vs-new pairs are ignored — dedup
    * WITHIN the batch is [[dropNearDuplicates]]'s job; this is the day-2
    * against-the-corpus pass. At scale the old corpus's bands are a stored
    * artifact, so `pairs` costs one batch-side band computation plus a
    * bucket equi-join against the store — never a corpus rescan. */
  def incrementalDropList(pairs: DataFrame, tags: DataFrame,
                          idCol: String, tagCol: String, newTag: String): DataFrame = {
    val src = tags.select(col(idCol).as("__id"), col(tagCol).as("__tag"))
    val tagged = pairs
      .join(src.as("ta"), col("id1") === col("ta.__id"))
      .join(src.as("tb"), col("id2") === col("tb.__id"))
    val isNew1 = col("ta.__tag") === newTag
    val isNew2 = col("tb.__tag") === newTag
    val firstDup = tagged.filter(isNew1 =!= isNew2)
      .select(when(isNew1, col("id1")).otherwise(col("id2")).as("__new_id"),
        when(isNew1, col("id2")).otherwise(col("id1")).as("dup_of"))
      .groupBy("__new_id").agg(min("dup_of").as("dup_of"))
    src.filter(col("__tag") === newTag)
      .join(firstDup, col("__id") === col("__new_id"), "left")
      .select(col("__id").as(idCol), col("__new_id").isNotNull.as("dropped"),
        col("dup_of"))
  }

  /** Verified embedding near-duplicate pairs (id1 < id2, cosine ≥ threshold).
    * Candidates come from a random-hyperplane LSH bucket equi-join — the same
    * scale shape as the MinHash path: shuffle ∝ 1 row/vector, never O(n²). */
  def embeddingNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Int = 8, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact-vector representative collapse before the bucket join — the
    // same group-size-immunity move as the text path (OpsQueries
    // sharedRepEdges): identical vectors share their bucket, and cosine is
    // a function of the two vector VALUES, so candidacy and verdicts are
    // functions of the representatives. The id-level bucket self-join was
    // quadratic in identical-vector group size (exact-dup documents yield
    // exact-dup embeddings; the 30× ScaleUp stress put ~230 rows in every
    // bucket). Grouping partitions by the vector value itself — heavier
    // shuffle key than a hash but collision-free, and it happens once.
    val m = graft.util.PersistScope.track(
      vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("rep", min(col("id")).over(Window.partitionBy(col("v"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val reps = m.filter(col("id") === col("rep"))
    // Persisted: the self-join would otherwise compute every bucket TWICE
    // (once per side), and the join-key isnotnull filter Catalyst infers
    // would substitute the bucket expression into the scan for a third
    // evaluation (plan-audit finding). The cached frame computes each
    // bucket once; the filter reads the cached column.
    val b = graft.util.PersistScope.track(
      reps.select(col("id"), col("v"),
        VectorOps.lshBucket(col("v"), planes, dims).as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val repPairs = b.as("a").join(b.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", VectorOps.cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("r1"), col("b.id").as("r2"), col("cos"))
    // Intra-group pairs carry cosine(v, v) computed by the SAME expression
    // (bitwise-identical to what the member pair would have produced —
    // the values are equal arrays), including its verdict under the
    // threshold, so degenerate vectors behave exactly as before.
    val selfCos = reps.select(col("id").as("r"),
        VectorOps.cosine(col("v"), col("v")).as("cos"))
      .filter(col("cos") >= threshold)
    val intra = m.as("ma").join(m.as("mb"),
      col("ma.rep") === col("mb.rep") && col("ma.id") < col("mb.id"))
      .join(selfCos, col("ma.rep") === col("r"))
      .select(col("ma.id").as("id1"), col("mb.id").as("id2"), col("cos"))
    // Disjoint from intra (different groups); each id pair maps to exactly
    // one rep pair — no distinct needed.
    val cross = repPairs
      .join(m.as("ma"), col("ma.rep") === col("r1"))
      .join(m.as("mb"), col("mb.rep") === col("r2"))
      .select(least(col("ma.id"), col("mb.id")).as("id1"),
        greatest(col("ma.id"), col("mb.id")).as("id2"), col("cos"))
    intra.unionByName(cross)
  }

  /** The vector set with embedding near-duplicates removed: every vector with
    * a verified bucket-neighbor of smaller id is dropped (greedy min-id
    * representative, matching [[dropNearDuplicates]]). */
  def dropEmbeddingNearDuplicates(vecs: DataFrame, idCol: String, vecCol: String,
                                  threshold: Double = 0.999,
                                  planes: Int = 8, dims: Int = 64): DataFrame = {
    val doomed = embeddingNearDupPairs(vecs, idCol, vecCol, threshold, planes, dims)
      .select(col("id2").as(idCol)).distinct()
    vecs.join(doomed, Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicate pairs: 32-bit signature, 2×16-bit LSH bands for
    * candidates, exact Hamming-distance verification ≤ maxHamming. Pairs whose
    * differing bits straddle both halves at distance > 1 can be missed — the
    * standard banding recall tradeoff, verified-candidates semantics like the
    * MinHash path. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int): DataFrame = {
    // Persisted: the signature frame feeds the distinct-signature band join
    // plus both expansion joins — three consumers, one signature computation.
    val sh = graft.util.PersistScope.track(docs.select(col(idCol).as("id"),
      SimHash32Expr.simhash32(tokens(col(textCol))).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Candidacy depends only on the SIGNATURES (two docs share a band iff
    // their signatures do), so the band self-join runs over the DISTINCT
    // signature frame — bounded at 2^32 rows no matter how many documents
    // exist, and immune to duplicate-group size. The naive id-level
    // bands x bands join is quadratic in group size: a boilerplate-heavy
    // corpus where every doc has ~30 near-identical copies measured 0.7 s
    // -> 93 s for 30x the data (the 10x/30x ScaleUp stress), all of it
    // spent generating and distinct-ing C(30b, 2) candidate id pairs per
    // bucket before verification.
    val sigs = graft.util.PersistScope.track(sh.select("s").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bands = sigs.select(col("s"),
      posexplode(transform(sequence(lit(0), lit(1)),
        b => col("s").substr(b * 16 + 1, lit(16)))).as(Seq("band", "bits")))
    // Verified signature pairs: the hamming filter runs once per DISTINCT
    // signature pair (strictly less work than once per id pair).
    val sigPairs = bands.as("x").join(bands.as("y"),
      col("x.band") === col("y.band") && col("x.bits") === col("y.bits")
        && col("x.s") < col("y.s"))
      .select(col("x.s").as("s1"), col("y.s").as("s2")).distinct()
      .withColumn("hamming", VectorOps.hammingBits(col("s1"), col("s2")).cast("int"))
      .filter(col("hamming") <= maxHamming)
    // Expansion back to id pairs is pure output-bound equi-join work:
    // intra-signature pairs are hamming 0 (identical signatures share both
    // bands, so they always qualify for maxHamming >= 0); inter-signature
    // pairs cross the two id sets. The sets are disjoint (a doc has ONE
    // signature), so no distinct is needed after expansion.
    val intra = sh.as("a").join(sh.as("b"),
      col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        lit(0).as("hamming"))
    val inter = sigPairs
      .join(sh.as("a"), col("a.s") === col("s1"))
      .join(sh.as("b"), col("b.s") === col("s2"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"), col("hamming"))
    intra.unionByName(inter)
  }

  /** Passage-level first-occurrence dedup — the scalable cousin of exact
    * substring dedup: each document is split into consecutive non-overlapping
    * `passageTokens`-token passages; a passage occurrence survives iff it is
    * the globally FIRST occurrence of that passage text (ordered by
    * (docId, position)); the document is reassembled from its surviving
    * passages in order. Boilerplate shared across documents (headers,
    * licenses, templated spans) disappears from every doc but the first.
    *
    * Output: (idCol, n_passages, n_kept, cleaned_text) — one row per doc; a
    * fully-duplicated doc keeps 0 passages and reassembles to "".
    *
    * Scale shape: one explode to ~tokens/passageTokens passage rows; the
    * first-occurrence winner is a keyed min-agg over an 8-byte xxhash64
    * passage key (map-side combine; the hash only ever feeds equality — a
    * 64-bit collision across billions of passages is past the durability of
    * the storage); one equi-join back on that key; one doc-keyed agg whose
    * collect_list is bounded by document length. Nothing pairwise, nothing
    * collected to the driver. */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
                   passageTokens: Int = 8): DataFrame = {
    val tk = col("__tk")
    val nPassages = ceil(size(tk) / lit(passageTokens.toDouble)).cast("int")
    val passages = transform(sequence(lit(0), nPassages - 1),
      j => array_join(slice(tk, j * passageTokens + 1, lit(passageTokens)), " "))
    // posexplode_outer + null filter, not posexplode: a non-outer Generate
    // lets InferFiltersFromGenerate push size(passages)>0 into the scan as a
    // DataFilter, re-evaluating the passage construction per row inside the
    // scan (the p04 Catalyst trap; passages are never empty anyway — even
    // "" tokenizes to one token and one passage).
    val p = graft.util.PersistScope.track(
      docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
        .select(col(idCol), posexplode_outer(passages).as(Seq("pos", "ptext")))
        .filter(col("ptext").isNotNull)
        .withColumn("h", xxhash64(col("ptext")))
        // first-occurrence winner = MIN over the (docId, pos) STRUCT —
        // lexicographic struct ordering, still a plain map-side-combinable
        // min. (The earlier docId*1e9+pos packed int64 silently wrapped
        // for doc ids >= ~9.2e9, exactly the 1e10+ corpus regime this op
        // targets, and the wrap broke the (docId, pos) winner order.)
        .withColumn("key", struct(col(idCol).cast("long").as("d"), col("pos").as("p")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val winners = p.groupBy("h").agg(min("key").as("win"))
    p.join(winners, "h")
      .withColumn("keep", col("key") === col("win"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops nulls, so only kept passages enter; array_sort
        // on (pos, ptext) structs restores document order (pos unique per doc)
        array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("ptext"))))),
          x => x.getField("ptext")), " ").as("cleaned_text"))
  }

  /** SemDeDup-style semantic dedup over a k-means ASSIGNMENT frame
    * (id, qv: int8 codes, cid — the [[KMeans.assignments]] output, possibly
    * persisted/shared by the caller): within each cluster cell, pairs at
    * quantized-cosine ≥ `tau` drop the larger id. Pair generation is a
    * cluster-key equi-join — cells bound the pairwise blowup the way LSH
    * buckets do, with k as the cost dial — and the criterion is exact
    * integer math (int64 dot/norms, one double division), so the decision
    * boundary cannot flake under partial-agg order. Returns the surviving
    * ids. */
  def dropSemanticDuplicates(assigned: DataFrame, idCol: String, qvCol: String,
                             tau: Double, lshPlanes: Int = 0): DataFrame = {
    // lshPlanes > 0 sub-buckets each cell with a hyperplane LSH over the
    // codes, so the pair join keys on (cid, bucket) — the scale path when
    // CELLS THEMSELVES outgrow a reducer (raising k re-clusters; adding
    // planes just splits the join key). Standard LSH recall tradeoff: only
    // same-bucket pairs are compared, so survivors are a superset of the
    // exhaustive form's (near-identical vectors land in the same bucket —
    // their projections agree on every plane; borderline-tau pairs may not).
    val a = assigned.withColumn("__qn", KMeans.int8SqNorm(col(qvCol)))
      .withColumn("__bkt",
        if (lshPlanes > 0) VectorOps.lshBucket(
          transform(col(qvCol), v => v.cast("double")), lshPlanes)
        else lit(""))
    val qcos = KMeans.int8Dot(col("__q1"), col("__q2")).cast("double") /
      (sqrt(col("__n1").cast("double")) * sqrt(col("__n2").cast("double")))
    val doomed = a.select(col(idCol).as("__i1"), col(qvCol).as("__q1"),
        col("__qn").as("__n1"), col("cid"), col("__bkt"))
      .join(a.select(col(idCol).as("__i2"), col(qvCol).as("__q2"),
        col("__qn").as("__n2"), col("cid"), col("__bkt")), Seq("cid", "__bkt"))
      .filter(col("__i1") < col("__i2"))
      .filter(qcos >= tau)
      .select(col("__i2").as(idCol)).distinct()
    assigned.select(idCol).join(doomed, Seq(idCol), "left_anti")
  }

  /** Convenience form from raw float vectors: quantize → k-means → prune.
    * For repeated use share the assignment frame and call the other
    * overload (the x32/x33 queries do exactly that). */
  def dropSemanticDuplicates(vecs: DataFrame, idCol: String, vecCol: String,
                             k: Int, iters: Int, tau: Double): DataFrame = {
    val qb = KMeans.withInt8Codes(vecs.select(col(idCol), col(vecCol)), vecCol, "__qv")
      .select(col(idCol), col("__qv"))
    dropSemanticDuplicates(
      KMeans.assignments(qb, idCol, "__qv", k, iters), idCol, "__qv", tau)
  }

  /** Duplicated-n-gram statistics (the MassiveText/Gopher repetition signal
    * at corpus scope): per doc, the fraction of its word n-gram OCCURRENCES
    * whose gram also appears in at least one other document, and a flag at
    * `flagThreshold`. The x28 query's engine, exposed as an API.
    *
    * Shape: one explode → (doc, gram) counts with map-side combine, a
    * gram-keyed distinct-doc count derived from the reduced frame, a gram
    * equi-join, per-doc agg — every stage keyed, nothing pairwise. Grams
    * shuffle as 64-bit hashes (equality is their only use).
    *
    * `saltBuckets > 0` switches the gram join to [[Skew.saltedJoin]]: on a
    * real corpus a boilerplate gram (license header, template span) can put
    * a constant fraction of ALL occurrence rows on one reducer — beyond what
    * AQE's skew splitting fixes when a single key exceeds every split
    * target. Salting splits each hot gram across `saltBuckets` reducers at
    * the cost of replicating the (gram, nd) side; identical output. */
  def dupNgramStats(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, flagThreshold: Double = 0.3,
                    saltBuckets: Int = 0): DataFrame = {
    // Token array STAGED as a column: the gram lambda references it n+2
    // times, and splicing the split() tree in would re-split the whole
    // document once per element_at per gram — O(tokens·n) splits per doc
    // (the cold-run straggler the round-6 bench caught; CollapseProject
    // keeps the stage because the alias is non-cheap and multiply-referenced).
    val tk = col("__tk")
    val gram = transform(sequence(lit(1), size(tk) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*))
    val g = docs
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), when(size(tk) >= n, gram)
        .otherwise(array().cast("array<string>")).as("grams"))
      // outer+filter: keep the gram construction out of scan DataFilters
      // (the recurring InferFiltersFromGenerate trap)
      .select(col(idCol), explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
      .select(col(idCol), xxhash64(col("gram")).as("gram"))
    // One pass over the gram stream: the distinct-doc count per gram is a
    // row count over `c` (one row per (doc, gram) there already). Persisted —
    // both the join probe and the nd build read it.
    val c = graft.util.PersistScope.track(
      g.groupBy(idCol, "gram").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nd = c.groupBy("gram").agg(count(lit(1)).as("nd"))
    val joined =
      if (saltBuckets > 0) Skew.saltedJoin(c, nd, Seq("gram"), saltBuckets)
      else c.join(nd, "gram")
    val dupFrac = sum(when(col("nd") >= 2, col("c")).otherwise(0)).cast("double") / sum("c")
    joined.groupBy(idCol)
      .agg(sum("c").cast("long").as("n_grams"),
        round(dupFrac, 6).as("dup_fraction"),
        (dupFrac > flagThreshold).as("flagged"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS scheme): per doc, the DISTINCT minima of each `window`-wide run of
    * consecutive 3-gram shingle hashes. The winnowing guarantee — every
    * window of `window` consecutive shingles contributes a fingerprint —
    * makes matches of length ≥ window+2 tokens detectable while keeping
    * ~1/window of the shingle hashes, and unlike MinHash the selection is
    * LOCAL: an edit perturbs only the fingerprints whose windows overlap it,
    * so partial overlap (quotation, boilerplate splicing) still shares
    * fingerprints where MinHash's global signature washes out.
    *
    * Returns exploded (id, fp) rows — the joinable artifact: docs sharing
    * ≥ m fingerprints are near-dup candidates via a fp equi-join (the same
    * bucket-join scale shape as the MinHash bands). Docs shorter than 3
    * tokens have no shingles and emit no rows; shingle runs shorter than
    * `window` winnow to their overall minimum. All per-doc work is
    * expression-level (zero shuffle); hashes are md5 hex, minimized
    * lexicographically (= numerically for hex of equal length). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         window: Int = 4): DataFrame =
    // Fused one-pass kernel (r16): the former shingle→transform(md5)→
    // windowed array_min HOF chain evaluated interpreted per shingle per
    // window; WinnowFpsExpr computes the identical distinct fingerprint
    // array imperatively (see its Scaladoc for the equivalence argument —
    // zero-shingle docs yield an empty array, which explode drops exactly
    // like the old explode_outer+filter).
    docs
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        explode(WinnowFpsExpr.winnow_fps(col("__tk"), window)).as("fp"))

  /** Winnowing candidate pairs: docs sharing ≥ `minShared` winnowed
    * fingerprints, with the shared count as the overlap strength. The
    * candidate-generation stage of the winnowing dedup pipeline — a
    * fingerprint equi-join (the LSH-band scale shape: shuffle ∝ fingerprints
    * per doc ≈ shingles/window, output ∝ overlapping pairs), thresholded to
    * suppress single-collision noise. Fingerprints are distinct per doc, so
    * the count is the distinct-overlap size.
    *
    * Fingerprints whose posting list exceeds `maxPosting` docs are DROPPED
    * before the join (the MOSS/winnowing "hot fingerprint" rule): a
    * fingerprint shared by hundreds of docs is boilerplate, carries no
    * pairwise-dedup signal, and its bucket alone contributes O(m²) pairs —
    * a 10× id-offset-copy stress ran 18.6× slower purely on those buckets.
    * The hot set is tiny by construction (it's the fingerprints MORE common
    * than the cap), so it broadcasts into an anti-join: no extra shuffle of
    * the posting frame. Near-dup pairs survive because true near-dups share
    * many rare fingerprints; test-SF posting lists top out at 24 docs, so
    * the default cap of 128 changes nothing below the stress scale. */
  def winnowCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                           window: Int = 4, minShared: Int = 2,
                           maxPosting: Int = 128): DataFrame = {
    // CLONE-IMMUNE rep collapse (the x03/x64/containment pattern):
    // fingerprints are a pure function of text, so the winnow pass and
    // the fp self-join run over exact-text REPRESENTATIVES only and the
    // doc-level pair set is a pure output expansion — shared counts are
    // constant per rep pair, and intra-group pairs share the full
    // (capped) fingerprint set by identity. The hot-posting cap keeps
    // DOC-level semantics (posting weight = summed clone multiplicity),
    // so results are bitwise identical to the id-level form; the 10×
    // clone stress had measured the id-level join 18.6× slower purely on
    // clone-inflated buckets. The expansion is the OUTPUT — Θ(m²) per
    // m-clone group because the full pair set is what this API returns.
    val gp = graft.util.PersistScope.track(
      docs.groupBy(md5(col(textCol)).as("__h"))
        .agg(min(col(idCol)).as("rep"), count(lit(1)).as("m"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rm = docs.select(col(idCol), md5(col(textCol)).as("__h"))
      .join(gp.select("__h", "rep"), "__h").select(col(idCol), col("rep"))
    val reps = docs.join(gp.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    val p0 = graft.util.PersistScope.track(
      winnowFingerprints(reps, idCol, textCol, window)
        .withColumnRenamed(idCol, "rep")
        .join(gp.select("rep", "m"), "rep")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Hot-fingerprint drop WITHOUT a separate hot frame: a whole-partition
    // weight-sum window over the fp partitioning filters over-cap posting
    // lists in the SAME shuffle the pair self-join needs — no anti-join,
    // no broadcast question (the hot set is corpus-LINEAR in the worst
    // case — templated crawls), and no second pass over the posting frame.
    val pw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    // __nr = reps sharing the fp, computed in the SAME fp-partitioned
    // window shuffle as the hot cap (r17): a fingerprint held by ONE rep
    // cannot produce a cross pair, so the self-join's inputs drop every
    // singleton posting before the join — identical pair output, a
    // fraction of the join bytes (most fps are unique in a real corpus).
    val p = graft.util.PersistScope.track(
      p0.withColumn("__m", sum(col("m")).over(pw))
        .withColumn("__nr", count(lit(1)).over(pw))
        .filter(col("__m") <= maxPosting).select("rep", "fp", "__nr")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pp = p.filter(col("__nr") >= 2).select("rep", "fp")
    val cross = pp.as("a").join(pp.as("b"),
        col("a.fp") === col("b.fp") && col("a.rep") < col("b.rep"))
      .groupBy(col("a.rep").as("r1"), col("b.rep").as("r2"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
    val nf = p.groupBy("rep").agg(count(lit(1)).as("n_fp"))
    val intra = gp.filter(col("m") >= 2).select("rep")
      .join(nf, "rep").filter(col("n_fp") >= minShared)
      .select(col("rep").as("r1"), col("rep").as("r2"),
        col("n_fp").as("shared_fps"))
    val crossX = cross
      .join(rm.select(col("rep").as("r1"), col(idCol).as("__i")), "r1")
      .join(rm.select(col("rep").as("r2"), col(idCol).as("__j")), "r2")
      .select(least(col("__i"), col("__j")).as("id1"),
        greatest(col("__i"), col("__j")).as("id2"), col("shared_fps"))
    val intraX = intra
      .join(rm.select(col("rep").as("r1"), col(idCol).as("__i")), "r1")
      .join(rm.select(col("rep").as("r2"), col(idCol).as("__j")), "r2")
      .filter(col("__i") < col("__j"))
      .select(col("__i").as("id1"), col("__j").as("id2"), col("shared_fps"))
    crossX.unionByName(intraX)
  }

  /** Asymmetric near-CONTAINMENT pairs over winnowed fingerprints: for each
    * ordered pair (inner, outer), containment = |fp(inner) ∩ fp(outer)| /
    * |fp(inner)| — Broder's containment coefficient computed on the winnow
    * sample instead of the full shingle sets. This is the dedup signal
    * symmetric Jaccard misses: a short doc quoted verbatim inside a much
    * longer one has near-zero Jaccard (the union is outer-sized) but
    * containment ≈ 1, and winnowing's LOCAL selection guarantees the
    * quoted span still contributes shared fingerprints (a MinHash global
    * signature would wash it out — see winnowFingerprints).
    *
    * Shape: the SAME fingerprint equi-join as [[winnowCandidatePairs]] —
    * candidate generation never leaves the bucket-join scale posture; the
    * only additions are a per-doc fingerprint-count frame (id-keyed, one
    * row per doc) and an ordered (=!= not <) pair roll-up, so each
    * unordered pair surfaces twice with its OWN denominator — by design:
    * containment is directional (the quote is contained in the article,
    * never the reverse). Denominators count fingerprints AFTER the
    * hot-fingerprint drop, so boilerplate-heavy docs can still reach
    * containment 1.0 on their informative remainder — and both sides of
    * the ratio see the identical fingerprint universe.
    *
    * `topNPerDoc > 0` bounds the OUTPUT per inner doc: only the N
    * strongest containing candidates (containment desc, outer_id asc as
    * the tie-break), each with its 1-based rank. This is the default a
    * production pass wants — on a clone-heavy corpus every member of an
    * m-clone group mutually contains every other, so the full ordered
    * pair set grows Θ(m²) PER GROUP (the 10× ScaleUp stress measured
    * ~300× output growth) while the curation decision ("is this doc
    * subsumed, and by whom") needs only the best few witnesses per doc.
    * The roll-up is a bounded-heap [[TopKMinExpr]] aggregate — O(N) state
    * per doc, N rows per (map partition, doc) shuffled, no per-doc sort —
    * so output AND shuffle become linear in docs at fixed N.
    *
    * The `topNPerDoc > 0` path is additionally CLONE-IMMUNE (the r11
    * x03/x64 rep-collapse, applied here): fingerprints are a pure
    * function of text, so containment is a function of the exact-text
    * REPRESENTATIVE pair — the winnow pass and the fingerprint equi-join
    * run over reps only, and doc-level rows are a pure OUTPUT expansion.
    * The hot-posting cap keeps its DOC-level semantics (per-fp posting
    * weight = Σ clone multiplicity), so results are bitwise identical to
    * the doc-level form — the 10× clone stress had measured the id-level
    * join at Θ(clones²) per posting list. Expansion is bounded: the
    * (ct desc, outer_id asc) tie-break means only each outer rep's N+1
    * smallest member ids can ever appear in ANY doc's top-N (same-rep
    * members precede on id; +1 covers a doc excluding itself), so the
    * witness frame per inner rep is ≤ N+1 rows and the per-doc top-N is
    * an in-row array filter+slice — no doc-level join or window anywhere.
    * `topNPerDoc = 0` returns the full doc-level pair set (Θ(clique²)
    * output by request — rep-collapse cannot shrink what the caller asked
    * to materialize). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       window: Int = 4, minContain: Double = 0.5,
                       maxPosting: Int = 128, topNPerDoc: Int = 0): DataFrame = {
    if (topNPerDoc <= 0) {
      val p0 = graft.util.PersistScope.track(
        winnowFingerprints(docs, idCol, textCol, window)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // Same one-shuffle hot-fingerprint drop as winnowCandidatePairs: the
      // per-fp count window rides the fp partitioning instead of staging a
      // separate hot frame for an anti-join.
      val pw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      // __m doubles as the pair-pruning count (r17): a fingerprint held by
      // one doc produces no ordered pair, so the self-join drops singleton
      // postings on both sides — identical output, fewer join bytes.
      val p = graft.util.PersistScope.track(
        p0.withColumn("__m", count(lit(1)).over(pw))
          .filter(col("__m") <= maxPosting)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nf = p.groupBy(col(idCol).as("inner_id")).agg(count(lit(1)).as("n_fp"))
      val pp = p.filter(col("__m") >= 2).drop("__m")
      pp.as("a").join(pp.as("b"),
          col("a.fp") === col("b.fp") && col(s"a.$idCol") =!= col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("inner_id"), col(s"b.$idCol").as("outer_id"))
        .agg(count(lit(1)).as("shared_fps"))
        .join(nf, "inner_id")
        .withColumn("__cont", col("shared_fps").cast("double") / col("n_fp"))
        .filter(col("__cont") >= minContain)
        .select(col("inner_id"), col("outer_id"), col("shared_fps"),
          col("n_fp").cast("long").as("n_fp_inner"),
          round(col("__cont"), 6).as("containment"),
          (col("__cont") >= 0.8).as("near_contained"))
    } else {
      val keep = topNPerDoc + 1 // smallest ids per rep that can ever rank
      // Exact-text groups: rep = min id, m = clone multiplicity, m9 = the
      // `keep` smallest member ids (sorted — TopKMinExpr output order).
      val gp = graft.util.PersistScope.track(
        docs.groupBy(md5(col(textCol)).as("__h"))
          .agg(min(col(idCol)).as("rep"), count(lit(1)).as("m"),
            TopK.topk_min(col(idCol), keep).as("m9"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val rm = docs.select(col(idCol), md5(col(textCol)).as("__h"))
        .join(gp.select("__h", "rep"), "__h").select(col(idCol), col("rep"))
      val reps = docs.join(gp.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
      val p0 = winnowFingerprints(reps, idCol, textCol, window)
        .withColumnRenamed(idCol, "rep")
        .join(gp.select("rep", "m"), "rep")
      // Hot-posting drop with DOC-level semantics: the posting weight per
      // fp is the summed clone multiplicity, identical to the id-level
      // row count — the cap decision cannot depend on the collapse.
      val pw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      // __nr = reps sharing the fp (r17): singleton postings cannot form a
      // cross pair — both self-join sides drop them before the join;
      // identical pair output, fewer join bytes. Computed in the same
      // fp-partitioned window shuffle as the hot cap.
      val p = graft.util.PersistScope.track(
        p0.withColumn("__m", sum(col("m")).over(pw))
          .withColumn("__nr", count(lit(1)).over(pw))
          .filter(col("__m") <= maxPosting).select("rep", "fp", "__nr")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nf = p.groupBy("rep").agg(count(lit(1)).as("n_fp"))
      val pp = p.filter(col("__nr") >= 2).select("rep", "fp")
      val cross = pp.as("a").join(pp.as("b"),
          col("a.fp") === col("b.fp") && col("a.rep") =!= col("b.rep"))
        .groupBy(col("a.rep").as("ri"), col("b.rep").as("ro"))
        .agg(count(lit(1)).as("shared_fps"))
      // Intra-group pairs: distinct clones of one text mutually contain
      // each other at exactly 1.0 with shared = n_fp (identical fp sets).
      val self = gp.filter(col("m") >= 2)
        .select(col("rep").as("ri"), col("rep").as("ro"))
        .join(nf.select(col("rep").as("ri"), col("n_fp").as("shared_fps")), "ri")
      val rp = cross.unionByName(self)
        .join(nf.select(col("rep").as("ri"), col("n_fp")), "ri")
        .withColumn("__cont", col("shared_fps").cast("double") / col("n_fp"))
        .filter(col("__cont") >= minContain)
      // Witness candidates per inner rep: each outer rep contributes its
      // `keep` smallest ids; the bounded heap keeps the global best
      // `keep` in (ct desc, outer_id) order.
      val wit = rp
        .join(gp.select(col("rep").as("ro"), col("m9")), "ro")
        .select(col("ri"), col("n_fp"), (-col("__cont")).as("nc"),
          col("shared_fps"), explode(col("m9")).as("outer_id"))
        .groupBy(col("ri"), col("n_fp"))
        .agg(TopK.topk_min(struct(col("nc"), col("outer_id"),
          col("shared_fps")), keep).as("top"))
      // Doc-level output: drop the doc itself from its rep's witness list
      // and enumerate the first N in-row — no join fan-out, no window.
      rm.join(wit, rm("rep") === wit("ri"))
        .withColumn("__w", slice(filter(col("top"),
          w => w.getField("outer_id") =!= col(idCol)), 1, topNPerDoc))
        .select(col(idCol).as("inner_id"), col("n_fp"),
          posexplode(col("__w")).as(Seq("i", "t")))
        .select(col("inner_id"), col("t.outer_id").as("outer_id"),
          col("t.shared_fps").as("shared_fps"),
          col("n_fp").cast("long").as("n_fp_inner"),
          round(-col("t.nc"), 6).as("containment"),
          (-col("t.nc") >= 0.8).as("near_contained"),
          (col("i") + 1).as("rank"))
    }
  }

  /** Exact dedup: one representative (min id) per identical text. */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val reps = docs.groupBy(md5(col(textCol)).as("__fp")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(reps, Seq(idCol), "left_semi")
  }

  /** The quarantine-aware, cluster-atomic split manifest (x77's core,
    * factored so the cluster-quarantine branch is unit-testable on planted
    * fixtures the organic corpus lacks — its only benchmark-adjacent docs
    * are verbatim copies, so `quarantined_by_cluster` never fires there).
    *
    *  - `assign`: (doc_id, cluster_id) for EVERY doc incl. benchmark ids.
    *  - `ct`: (doc_id, contaminated) for corpus docs (id ≥ benchBelow).
    *  - A cluster is quarantined whole if any member is a benchmark doc
    *    (id < benchBelow) or is contaminated; clean members of such a
    *    cluster carry quarantined_by_cluster = true.
    *
    * Scale shape: one cluster-keyed bool-or roll-up joined back on
    * cluster_id, id-keyed joins everywhere else. `cq` is one row per
    * CLUSTER — cluster count grows linearly with the corpus, so it is NOT
    * broadcast-hinted (a dup-dense 100-TB crawl would OOM the driver);
    * AQE may still broadcast it when it measures small at runtime. */
  def splitManifest(assign: DataFrame, ct: DataFrame, benchBelow: Long): DataFrame = {
    val cq = assign.join(ct, Seq("doc_id"), "left")
      .groupBy("cluster_id")
      .agg(max(when(col("doc_id") < benchBelow ||
        coalesce(col("contaminated"), lit(false)), 1).otherwise(0)).as("qi"))
      .select(col("cluster_id"), (col("qi") === 1).as("q"))
    val cb = Sketches.bucket(col("cluster_id").cast("string"), lit("split"), 65536)
    assign.filter(col("doc_id") >= benchBelow)
      .join(cq, "cluster_id")
      .join(ct, Seq("doc_id"), "left")
      .withColumn("self_cont", coalesce(col("contaminated"), lit(false)))
      .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"),
        when(col("q"), "quarantine")
          .when(cb < 52429, "train").when(cb < 58982, "val")
          .otherwise("test").as("disposition"),
        (col("q") && !col("self_cont")).as("quarantined_by_cluster"))
  }

  /** Exact substring duplication at suffix granularity (x147): flags every
    * document sharing an exact run of ≥ `runTokens` consecutive tokens with
    * another document, at ANY token offset — Lee et al. 2022's
    * exact-substring dedup criterion, the famous training-data dedup mode
    * the rest of the family only approximates (MinHash/SimHash at doc
    * granularity, x34 at aligned-passage granularity, x59/x28 by
    * collision-prone rolling hashes at window granularity). A window label
    * held by ≥ 2 DISTINCT docs marks an exact cross-doc run (a doc
    * repeating its own phrase is not cross-doc duplication); labels are
    * md5-equivalence classes — the suite's exactness standard (x34's
    * oracle groups passages by md5 the same way).
    *
    * Two label constructions, same answer (a spec asserts bit-equality):
    *
    *  - DEFAULT (in-row): each doc's capped token array is one parquet
    *    row, so every runTokens-window label is computable MAP-SIDE by a
    *    transform over the array — md5(concat_ws of the window) built
    *    transiently inside codegen, per element. ZERO joins before the
    *    final aggregates; shuffle carries one constant-width label per
    *    window position, never the window text (the naive shingle
    *    materialization ships runTokens× the corpus bytes; this ships
    *    ~1×). The extra hashing vs the doubling path (runTokens× per
    *    position) is embarrassingly parallel scan-side CPU — the cheap
    *    currency at cluster scale, where shuffled bytes are the expensive
    *    one. Measured at sf0.1 (BenchOne warm): 2.4 s vs the doubling
    *    path's 6.2 s.
    *
    *  - `viaSuffixRanks = true`: hash prefix-doubling over suffix ranks,
    *    for corpora whose documents do NOT fit in a row (book-length docs
    *    stored token-sliced, giant runTokens): every (doc, pos) suffix
    *    starts at label₀ = md5(token); round k joins each suffix with the
    *    suffix 2^k positions ahead in the same doc (one keyed equi-join
    *    on (doc_id, pos)) and folds the two labels, so after
    *    log₂(runTokens) rounds equal labels ⟺ identical first runTokens
    *    tokens. Per-position work is log₂(runTokens) hashes instead of
    *    runTokens, at the price of log₂(runTokens) corpus-wide shuffles.
    *    Why md5 chains instead of the textbook ordinal re-ranking: the
    *    classic round re-densifies ranks with a global sort plus a
    *    sequence assignment, and every distributed sequence primitive
    *    (monotonically_increasing_id, zipWithIndex) is partition-order-
    *    dependent — nondeterministic under stage retries on a real
    *    cluster, which would corrupt equivalence classes mid-join. The
    *    md5 chain is a pure function of token content: identical under
    *    any re-execution, and it deletes the per-round distinct +
    *    range-sort entirely (4 shuffles/round → 1).
    *
    * Shared finale: two keyed aggregates (per-label distinct-doc count,
    * then per-doc window counts) plus one per-DOC gaps-and-islands window
    * for `longest_run` — the quantity Lee et al. actually cut on:
    * consecutive shared window positions p..p+k−1 compose into one shared
    * token run of length runTokens+k−1, so the longest run is
    * max(island size)+runTokens−1 (the x95 idiom, corpus-wide instead of
    * vs-benchmark). The window partitions by doc_id with ≤ capTokens rows
    * per doc — never a corpus-wide sort. No broadcast, no pair
    * materialization — a clone family of B docs costs its per-label
    * doc count, never B² pairs. `capTokens` bounds per-doc work (the
    * reference point for prose dedup is a few hundred tokens; raise it
    * for long docs — cost is linear).
    *
    * `runTokens` is ANY length ≥ 2 — Lee et al.'s convention is L=50. The
    * in-row path is length-agnostic; the doubling path handles general L
    * with the standard sparse-table trick (see [[suffixRankWindows]]). */
  def sharedRunStats(docs: DataFrame, idCol: String, textCol: String,
                     runTokens: Int = 16, capTokens: Int = 128,
                     viaSuffixRanks: Boolean = false): DataFrame = {
    require(runTokens >= 2, s"runTokens must be >= 2, got $runTokens")
    require(capTokens >= runTokens, s"capTokens ($capTokens) < runTokens ($runTokens)")
    val toks = docs.select(col(idCol).as("doc_id"),
      slice(tokens(col(textCol)), 1, capTokens).as("tk"))
    // (doc_id, pos, r): one row per full runTokens-window position (pos is
    // 0-based), r = the window's label.
    val windows =
      if (viaSuffixRanks) suffixRankWindows(toks, runTokens)
      else toks.select(col("doc_id"),
        posexplode(windowLabelsOfTokens(col("tk"), runTokens)).as(Seq("pos", "r")))
    val shared = windows.select("r", "doc_id").distinct()
      .groupBy("r").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("r"), lit(true).as("sh"))
    val marked = graft.util.PersistScope.track(
      windows.join(shared, Seq("r"), "left")
        .select(col("doc_id"), col("pos"), col("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val per = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_windows"),
      count(col("sh")).as("shared_windows"))
    // Gaps-and-islands over SHARED positions only: pos − row_number is
    // constant within a maximal consecutive block.
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val longest = marked.filter(col("sh"))
      .withColumn("grp", col("pos") - row_number().over(pw))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("ilen"))
      .groupBy("doc_id")
      .agg((max("ilen") + lit(runTokens - 1)).cast("long").as("longest_run"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .join(longest, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("shared_windows"), lit(0L)).as("shared_windows"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        (coalesce(col("shared_windows"), lit(0L)) > 0).as("has_shared_run"))
  }

  /** In-row runTokens-window md5 labels over a capped token ARRAY (x147's
    * map-side construction, shared with the s29 streaming gate): one label
    * per full window position, built transiently inside codegen; empty
    * array when the capped doc is shorter than runTokens. Two docs share
    * a label iff they share an exact runTokens-token run (md5-equivalence;
    * space-joining space-free tokens is injective). */
  def windowLabelsOfTokens(tk: Column, runTokens: Int): Column =
    when(size(tk) >= runTokens,
      transform(sequence(lit(0), size(tk) - runTokens),
        j => md5(concat_ws(" ", slice(tk, j + 1, lit(runTokens))))))
      .otherwise(array().cast("array<string>"))

  /** [[windowLabelsOfTokens]] straight off a text column. */
  def windowLabels(text: Column, runTokens: Int, capTokens: Int): Column =
    windowLabelsOfTokens(slice(tokens(text), 1, capTokens), runTokens)

  /** The prefix-doubling window labeler behind
    * [[sharedRunStats]](viaSuffixRanks = true) — see that scaladoc for the
    * algorithm and when to prefer it. Returns (doc_id, pos, r) rows, one
    * per full runTokens-window position.
    *
    * General (non-power-of-two) L uses the sparse-table trick: double to
    * level m = the largest power of two ≤ L, then ONE extra fold of the
    * two OVERLAPPING m-windows at pos and pos+L−m. They cover [pos, pos+L)
    * jointly, so (modulo md5 collision, the suite's standing exactness
    * convention) the folded label is equal iff the full L-window is equal
    * — log₂L rounds + 1, same as the textbook ⌈log₂L⌉. */
  private def suffixRankWindows(toks: DataFrame, runTokens: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var cur = graft.util.PersistScope.track(
      toks.select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos"), md5(col("tok")).as("r"))
        .persist(lvl))
    // One fold of cur's span-window labels at pos and pos+step: afterwards
    // each row's r labels the (span+step)-token window at pos.
    def fold(step: Int): Unit = {
      val ahead = cur.select(col("doc_id"), (col("pos") - step).as("pos"),
        col("r").as("r2"))
      cur = graft.util.PersistScope.track(
        cur.join(ahead, Seq("doc_id", "pos"), "left")
          .select(col("doc_id"), col("pos"),
            // '#' sentinel: suffixes too short for the span stay distinct
            // from every real continuation. Never reached by full windows
            // (every fold keeps span+step ≤ runTokens ≤ ntok − pos), only
            // by the short suffix tail the final filter drops.
            md5(concat(col("r"), lit("|"), coalesce(col("r2"), lit("#")))).as("r"))
          .persist(lvl))
    }
    var span = 1
    while (span * 2 <= runTokens) { fold(span); span *= 2 }
    // span = largest power of two ≤ runTokens; for general L one final
    // OVERLAPPING fold (step = L − span < span) finishes the window. The
    // two m-window labels being equal pins both halves of the cover, so
    // overlap changes nothing about the equivalence.
    if (span < runTokens) fold(runTokens - span)
    val lens = toks.select(col("doc_id"), size(col("tk")).as("ntok"))
    cur.join(lens, "doc_id")
      .filter(col("pos") + runTokens <= col("ntok"))
      .select(col("doc_id"), col("pos"), col("r"))
  }

  /** The CUT MANIFEST of exact substring dedup (x150) — the actionable
    * output of Lee et al. 2022: not just WHETHER a doc shares runs
    * ([[sharedRunStats]]) but exactly WHICH token spans to remove. One row
    * per maximal removable span: shared window positions compose into
    * islands (consecutive positions = one run), island token ranges
    * [start, start+n+L−1) can still overlap or touch ACROSS islands (two
    * shared runs separated by < L−1 unshared windows), so a second
    * interval-merge pass (running-max of range ends) unions them into
    * disjoint spans — the ranges an editor would actually cut. Output per
    * span: (doc_id, span_idx, start_tok, end_tok (exclusive),
    * span_tokens, n_tokens, kept_tokens), kept = capped length − total
    * cut. Docs with no shared runs emit nothing.
    *
    * Scale: identical wide shape to [[sharedRunStats]] (map-side in-row
    * labels — or the doubling path via `viaSuffixRanks` — then one
    * label-keyed aggregate); everything after runs in per-DOC windows
    * over ≤ capTokens rows — islands, interval merge, and span indexing
    * never sort the corpus. */
  def sharedRunManifest(docs: DataFrame, idCol: String, textCol: String,
                        runTokens: Int = 16, capTokens: Int = 128,
                        viaSuffixRanks: Boolean = false): DataFrame = {
    require(runTokens >= 2, s"runTokens must be >= 2, got $runTokens")
    require(capTokens >= runTokens, s"capTokens ($capTokens) < runTokens ($runTokens)")
    val pw = org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      slice(tokens(col(textCol)), 1, capTokens).as("tk"))
    val windows = graft.util.PersistScope.track(
      (if (viaSuffixRanks) suffixRankWindows(toks, runTokens)
       else toks.select(col("doc_id"),
         posexplode(windowLabelsOfTokens(col("tk"), runTokens)).as(Seq("pos", "r"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sharedLabels = windows.select("r", "doc_id").distinct()
      .groupBy("r").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("r")
    val sp = windows.join(sharedLabels, Seq("r")).select("doc_id", "pos")
    val islands = sp
      .withColumn("grp", col("pos") -
        row_number().over(pw.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("s"), (max("pos") + lit(runTokens)).as("e"))
    // Interval merge: a run starting at or before the running max end of
    // its predecessors joins their span (touching ranges merge too — the
    // cut is contiguous); s is unique per doc so the order is total.
    val prevMax = max("e").over(pw.partitionBy("doc_id").orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val merged = islands
      .withColumn("isnew", when(col("s") > coalesce(prevMax, lit(-1L)), 1).otherwise(0))
      .withColumn("mgrp", sum("isnew").over(pw.partitionBy("doc_id").orderBy("s")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "mgrp")
      .agg(min("s").as("start_tok"), max("e").as("end_tok"))
    val nt = toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
    merged.join(nt, "doc_id")
      .select(col("doc_id"),
        row_number().over(pw.partitionBy("doc_id").orderBy("start_tok"))
          .cast("long").as("span_idx"),
        col("start_tok").cast("long").as("start_tok"),
        col("end_tok").cast("long").as("end_tok"),
        (col("end_tok") - col("start_tok")).cast("long").as("span_tokens"),
        col("n_tokens"),
        (col("n_tokens") - sum(col("end_tok") - col("start_tok"))
          .over(pw.partitionBy("doc_id"))).cast("long").as("kept_tokens"))
  }

  /** The STORED-CORPUS distinct window-label table as a persisted parquet
    * artifact — the batch x147 pass's natural output and the production
    * shape of [[graft.streaming.EventStream.runSubstringGate]]'s static
    * side (the gate's scaladoc promise, r15 verdict #1): build the
    * corpus's label set ONCE per pipeline run, let every gate invocation
    * read it instead of re-tokenizing/re-hashing/re-distincting the
    * corpus per stream start. Returns the artifact path; idempotent per
    * (dir, documents.parquet stamp, excludeSource, runTokens, capTokens)
    * until the pass ends ([[graft.util.SharedStages.artifact]]), so every
    * harness invocation builds it fresh from the parquet inputs (in
    * production the pipeline run owns the artifact's lifetime; in this
    * harness the pass is the run). At 100 TB this table is corpus-sized; production
    * writes it bucketed on the label key so the gate's stream-static join
    * co-locates without a shuffle of the stored side — locally plain
    * parquet (bucketed tables need a metastore-managed path). */
  def substringLabelArtifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                             runTokens: Int = 16, capTokens: Int = 128,
                             excludeSource: String = "src0"): String =
    graft.util.SharedStages.artifact(
      s"substring-labels-$excludeSource-$runTokens-$capTokens", dir, "documents.parquet") { dst =>
      spark.read.parquet(new java.io.File(dir, "documents.parquet").getPath)
        .filter(col("source") =!= excludeSource)
        .select(explode(windowLabels(col("text"), runTokens, capTokens)).as("r"))
        .distinct()
        .write.mode("overwrite").parquet(dst)
    }
}
