package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.queries.QueryDef.t
import graft.streaming.EventStream

/** Round-9 corpus-curation operators: the selection/trimming decisions a
  * training-data pipeline makes AFTER dedup has mapped the redundancy —
  * containment (quote/subset) detection, boilerplate span trimming,
  * data-constrained epoch scheduling, and curriculum phasing.
  *
  * Same determinism contract as OpsQueries: md5 everywhere both engines
  * hash, exact integer arithmetic across every cross-row reduction, ratios
  * divided once at the end and rounded 6dp.
  */
object CurationQueries {

  private val Sh = OpsQueries.ShinglesSql

  /** x88's budget-share arithmetic over a pre-aggregated (source, toks, w)
    * frame: budget = ⌊2·Σtoks·w / Σw⌋, capped full epochs, and the partial-
    * epoch remainder. The 2·Σtoks·w product is computed as decimal(38,0) —
    * int64 wraps once total tokens × vocab weight passes 2⁶² (a 10¹⁵-token
    * corpus with 10⁹-term vocab weights is past it), and a wrapped product
    * yields a silently NEGATIVE budget that admits nothing. The quotient is
    * ≤ 2·Σtoks (w ≤ Σw), so the final budget is long-safe; under ANSI mode
    * a corpus beyond even decimal(38,0) throws rather than wraps. */
  def epochBudgets(stw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    stw
      .crossJoin(broadcast(stw.agg(sum("toks").as("tt"), sum("w").as("sw"))))
      .withColumn("budget",
        expr("CAST((CAST(2 AS DECIMAL(38,0)) * tt * w) div sw AS BIGINT)"))
      .withColumn("full_epochs", least(expr("budget div toks"), lit(2L)))
      .withColumn("part_budget", when(col("full_epochs") >= 2, lit(0L))
        .otherwise(col("budget") - col("full_epochs") * col("toks")))

  /** Per-doc n-gram repetition stats, computed entirely IN-ROW: build the
    * doc's n-gram array, sort it, and fold adjacent-equal runs with a
    * (prev, run, dup, max, tot) accumulator — `dup` accumulates the sizes
    * of completed runs ≥ 2 (the finish lambda flushes the last run), `max`
    * tracks the longest run (= the most common gram's count). Equivalent
    * to a per-doc GROUP BY gram without leaving the row: no explode, no
    * shuffle, O(L log L) per doc. Returns struct(tot, mx, dup). */
  private def repStats(tk: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val grams = when(size(tk) >= n,
        transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
    aggregate(
      array_sort(grams),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("dup"), lit(0L).as("mx"), lit(0L).as("tot")),
      (acc, e) => {
        val same = acc.getField("prev") <=> e
        val run2 = when(same, acc.getField("run") + 1).otherwise(lit(1L))
        struct(e.as("prev"), run2.as("run"),
          when(!same && acc.getField("run") >= 2,
            acc.getField("dup") + acc.getField("run"))
            .otherwise(acc.getField("dup")).as("dup"),
          greatest(acc.getField("mx"), run2).as("mx"),
          (acc.getField("tot") + 1).as("tot"))
      },
      acc => struct(
        acc.getField("tot").as("tot"),
        acc.getField("mx").as("mx"),
        when(acc.getField("run") >= 2, acc.getField("dup") + acc.getField("run"))
          .otherwise(acc.getField("dup")).as("dup")))
  }

  /** Hex nibble → 0-15 as a long (`conv` base-16; the DuckDB oracle walks
    * the same lowercase-hex alphabet with strpos − 1 — identical values). */
  private def hexNibble(nibble: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(nibble, 16, 10).cast("long")

  val defs: Seq[QueryDef] = Seq(

    // Asymmetric near-containment, top-8 witnesses per doc (Broder's
    // containment coefficient over winnowed fingerprints):
    // |fp(a)∩fp(b)| / |fp(a)| — flags the doc QUOTED INSIDE another even
    // when symmetric Jaccard (x40's shape) is tiny because the outer doc
    // dominates the union. Ordered pairs by design: containment is
    // directional, so each unordered pair can surface in both directions
    // with its own denominator. The OUTPUT is bounded per inner doc — the
    // N strongest containing candidates by (containment desc, outer_id)
    // with their rank — because on a clone-heavy corpus mutual-containment
    // cliques make the full ordered pair set Θ(clique²) per group (the
    // 10× stress measured ~300× output growth) while the curation decision
    // needs only the best witnesses; the full set stays available via
    // Dedup.containmentPairs(topNPerDoc = 0). Scale: identical fingerprint
    // equi-join as x40 (shuffle ∝ shingles/window per doc, hot-fingerprint
    // cap pre-join), an id-keyed count frame, and a bounded-heap top-N
    // roll-up (O(N) state per doc, no per-doc sort) — no corpus-scale sort
    // or unbounded group anywhere. Engine in Dedup.containmentPairs.
    QueryDef("x86_containment_pairs",
      s"""WITH sh AS (SELECT doc_id, list_transform($Sh, g -> md5(g)) AS hs FROM documents),
          f AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, greatest(len(hs) - 3, 1)),
                  j -> list_min(hs[j:j+3]))) AS fps
                FROM sh WHERE len(hs) >= 1),
          p0 AS (SELECT doc_id, unnest(fps) AS fp FROM f),
          hot AS (SELECT fp FROM p0 GROUP BY fp HAVING count(*) > 128),
          p AS (SELECT * FROM p0 WHERE fp NOT IN (SELECT fp FROM hot)),
          nf AS (SELECT doc_id AS inner_id, count(*) AS n_fp FROM p GROUP BY 1),
          pr AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS shared_fps
                 FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2),
          c AS (SELECT pr.inner_id, pr.outer_id, pr.shared_fps, nf.n_fp,
                  pr.shared_fps::DOUBLE / nf.n_fp AS ct
                FROM pr JOIN nf USING (inner_id)
                WHERE pr.shared_fps::DOUBLE / nf.n_fp >= 0.5),
          rk AS (SELECT *, row_number() OVER (
                   PARTITION BY inner_id ORDER BY ct DESC, outer_id) AS rn FROM c)
          SELECT inner_id, outer_id, CAST(shared_fps AS BIGINT) AS shared_fps,
            CAST(n_fp AS BIGINT) AS n_fp_inner,
            round(ct, 6) AS containment, ct >= 0.8 AS near_contained,
            CAST(rn AS INT) AS rank
          FROM rk WHERE rn <= 8""") { (s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        window = 4, minContain = 0.5, maxPosting = 128, topNPerDoc = 8)
    },

    // Boilerplate SPAN coverage — the C4/CCNet-style trim decision: a
    // 3-gram occurring in ≥ 4 distinct docs is corpus boilerplate; each
    // boilerplate occurrence covers its 3 token positions, and the doc's
    // kept-token count is what survives trimming every covered span.
    // Distinct-position counting makes overlapping boilerplate grams count
    // each token once — span semantics, not x28's occurrence-weighted
    // dup fraction (and unlike x74's novelty, membership is by corpus
    // DOCFREQ, not first-arrival). Scale: positional grams shuffle as md5
    // keys; docfreq is a map-side-combinable distinct-count; the
    // boilerplate membership join is a gram-keyed equi-join (the
    // boilerplate set is NOT assumed small — no broadcast claim); span
    // expansion is 3 rows per hit, bounded per doc by 3·positions.
    QueryDef("x87_boilerplate_coverage",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         g AS (SELECT doc_id, i, md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS h
               FROM tk, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS t(i)),
         df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
         cov AS (SELECT doc_id, count(DISTINCT p) AS nc FROM (
             SELECT g.doc_id, unnest(generate_series(g.i, g.i + 2)) AS p
             FROM g JOIN df USING (h) WHERE df.nd >= 4) GROUP BY 1),
         n AS (SELECT doc_id, len(tk) AS n_tokens FROM tk)
         SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(cov.nc, 0) AS BIGINT) AS n_boiler_tokens,
           round(coalesce(cov.nc, 0)::DOUBLE / n.n_tokens, 6) AS boiler_frac,
           CAST(n.n_tokens - coalesce(cov.nc, 0) AS BIGINT) AS n_kept_tokens,
           coalesce(cov.nc, 0)::DOUBLE / n.n_tokens <= 0.5 AS keep
         FROM n LEFT JOIN cov ON cov.doc_id = n.doc_id""") { (s, d) =>
      val tk = t(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("tk"))
      // Positional 3-gram hashes: (doc_id, i, h) with i 1-based so the span
      // i..i+2 matches the oracle's generate_series. posexplode is 0-based.
      val g = graft.util.PersistScope.track(
        tk.filter(size(col("tk")) >= 3)
          .select(col("doc_id"), posexplode(transform(sequence(lit(1), size(col("tk")) - 2),
            i => md5(concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))).as(Seq("i0", "h")))
          .select(col("doc_id"), (col("i0") + 1).as("i"), col("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val df = g.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
      val cov = g.join(df.filter(col("nd") >= 4).select("h"), "h")
        .select(col("doc_id"), explode(sequence(col("i"), col("i") + 2)).as("p"))
        .groupBy("doc_id").agg(count_distinct(col("p")).as("nc"))
      tk.select(col("doc_id"), size(col("tk")).as("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .withColumn("__frac", coalesce(col("nc"), lit(0L)).cast("double") / col("n_tokens"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          coalesce(col("nc"), lit(0L)).cast("long").as("n_boiler_tokens"),
          round(col("__frac"), 6).as("boiler_frac"),
          (col("n_tokens") - coalesce(col("nc"), lit(0L))).cast("long").as("n_kept_tokens"),
          (col("__frac") <= 0.5).as("keep"))
    },

    // Data-constrained epoch scheduling (the Muennighoff et al. repeat
    // question made operational): given a token budget of 2× the corpus
    // and per-source diversity weights (distinct-vocabulary size), each
    // source's budget share yields N full epochs (capped — repeats beyond
    // the cap return ~nothing) plus a deterministic partial epoch: docs
    // md5-ranked, prefix-summed, admitted while the cumulative token count
    // fits. All integer arithmetic until the final utilization ratio —
    // the 2·total·weight product runs in 128-bit integer space on BOTH
    // engines (decimal(38,0) here, HUGEINT in the oracle) because at real
    // corpus scale (tt ≈ 10¹⁵ tokens, vocab weights ≈ 10⁹) the int64
    // product silently wraps negative; the share itself is ≤ 2·tt so the
    // final budget is long-safe (engine in [[epochBudgets]], spec-pinned
    // past the int64 horizon). The per-source prefix sum is a window per
    // source — for a source too big for one task, sub-bucket by md5
    // prefix and roll bucket sums first (x76's value-keyed cumulative
    // pattern); the admitted set is identical.
    QueryDef("x88_epoch_schedule",
      """WITH dt AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nt FROM documents),
         st AS (SELECT source, sum(nt) AS toks FROM dt GROUP BY 1),
         w AS (SELECT source, count(DISTINCT token) AS w FROM (
             SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
         tot AS (SELECT sum(toks) AS tt FROM st),
         sw AS (SELECT sum(w) AS sw FROM w),
         b AS (SELECT st.source, st.toks, w.w,
                 CAST((2::HUGEINT * tot.tt * w.w) // sw.sw AS BIGINT) AS budget
               FROM st JOIN w USING (source), tot, sw),
         e AS (SELECT *, least(budget // toks, 2) AS full_epochs FROM b),
         r AS (SELECT *, CASE WHEN full_epochs >= 2 THEN 0
                 ELSE budget - full_epochs * toks END AS part_budget FROM e),
         pd AS (SELECT source, doc_id, nt,
                  sum(nt) OVER (PARTITION BY source
                    ORDER BY md5(doc_id::VARCHAR), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM dt),
         ps AS (SELECT pd.source, count(*) AS npd, sum(pd.nt) AS ptok
                FROM pd JOIN r USING (source) WHERE pd.cum <= r.part_budget GROUP BY 1)
         SELECT r.source, CAST(r.toks AS BIGINT) AS tokens, CAST(r.w AS BIGINT) AS vocab,
           CAST(r.budget AS BIGINT) AS budget, CAST(r.full_epochs AS INT) AS full_epochs,
           CAST(coalesce(ps.npd, 0) AS BIGINT) AS n_partial_docs,
           CAST(r.full_epochs * r.toks + coalesce(ps.ptok, 0) AS BIGINT) AS effective_tokens,
           round((r.full_epochs * r.toks + coalesce(ps.ptok, 0))::DOUBLE / r.budget, 6) AS utilization
         FROM r LEFT JOIN ps ON ps.source = r.source""") { (s, d) =>
      val dt = t(s, d, "documents")
        .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("nt"))
      val st = dt.groupBy("source").agg(sum("nt").as("toks"))
      val w = OpsQueries.sharedWordCounts(s, d).select("source", "token").distinct()
        .groupBy("source").agg(count(lit(1)).as("w"))
      val r = epochBudgets(st.join(w, "source"))
      val pd = dt.withColumn("cum", sum("nt").over(
        Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ps = pd.join(r.select("source", "part_budget"), "source")
        .filter(col("cum") <= col("part_budget"))
        .groupBy("source").agg(count(lit(1)).as("npd"), sum("nt").as("ptok"))
      r.join(ps, Seq("source"), "left")
        .withColumn("__eff", col("full_epochs") * col("toks") + coalesce(col("ptok"), lit(0L)))
        .select(col("source"), col("toks").cast("long").as("tokens"),
          col("w").cast("long").as("vocab"), col("budget").cast("long").as("budget"),
          col("full_epochs").cast("int").as("full_epochs"),
          coalesce(col("npd"), lit(0L)).cast("long").as("n_partial_docs"),
          col("__eff").cast("long").as("effective_tokens"),
          round(col("__eff").cast("double") / col("budget"), 6).as("utilization"))
    },

    // Curriculum phasing by document length (short→long is the classic
    // curriculum axis): exact global decile of (n_tokens, doc_id) WITHOUT
    // a global sort — the rank decomposes into "docs with strictly
    // smaller length" (a cumulative count over the distinct-length frame,
    // which is tiny: lengths are bounded by the context window) plus the
    // doc's row_number among equal-length peers. The per-phase roll-up is
    // then an ordinary groupBy. Phase formula ((rank−1)·10) div n on BOTH
    // engines — deliberately NOT ntile(), whose remainder placement
    // differs from this even split. Scale: the only windows are (a) over
    // the ≤max-length distinct-length frame and (b) within one length
    // value — for production tie-bucket sizes, sub-rank by md5(doc_id)
    // ranges, same x76 cumulative trick one level down.
    QueryDef("x89_curriculum_phases",
      """WITH nt AS (SELECT doc_id, source, len(string_split(text, ' ')) AS toklen FROM documents),
         n AS (SELECT count(*) AS n FROM nt),
         r AS (SELECT *, row_number() OVER (ORDER BY toklen, doc_id) AS rk FROM nt),
         p AS (SELECT *, CAST((rk - 1) * 10 // n.n + 1 AS INT) AS phase FROM r, n)
         SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(toklen) AS BIGINT) AS min_len, CAST(max(toklen) AS BIGINT) AS max_len,
           CAST(sum(toklen) AS BIGINT) AS tok_sum,
           round(sum(toklen)::DOUBLE / count(*), 6) AS mean_len,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM p GROUP BY 1""") { (s, d) =>
      val nt = t(s, d, "documents")
        .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("toklen"))
      val cnt = nt.groupBy("toklen").agg(count(lit(1)).as("c"))
      // Distinct-length cumulative frame: single-partition window over a
      // frame bounded by max doc length — deliberate, same as x76's cells.
      val cum = cnt.withColumn("cumb",
        coalesce(sum("c").over(Window.orderBy("toklen")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val n = nt.agg(count(lit(1)).as("n"))
      nt.join(cum.select("toklen", "cumb"), "toklen")
        .withColumn("rk", col("cumb") +
          row_number().over(Window.partitionBy("toklen").orderBy("doc_id")))
        .crossJoin(broadcast(n))
        .withColumn("phase", expr("CAST((rk - 1) * 10 div n + 1 AS INT)"))
        .groupBy("phase").agg(count(lit(1)).as("n_docs"),
          min("toklen").as("min_len"), max("toklen").as("max_len"),
          sum("toklen").as("tok_sum"), count_distinct(col("source")).as("n_sources"))
        .select(col("phase"), col("n_docs").cast("long").as("n_docs"),
          col("min_len").cast("long").as("min_len"),
          col("max_len").cast("long").as("max_len"),
          col("tok_sum").cast("long").as("tok_sum"),
          round(col("tok_sum").cast("double") / col("n_docs"), 6).as("mean_len"),
          col("n_sources").cast("long").as("n_sources"))
    },

    // LSH band/row tuning curve — the "set your dedup thresholds with
    // evidence" operator (x78's nprobe-curve idea applied to MinHash):
    // the SAME 8-hash signature banded four ways (8×1, 4×2, 2×4, 1×8),
    // each config's candidate pairs counted and scored for precision and
    // recall against exact Jaccard ≥ 0.8 ground truth. Bandings are
    // NESTED (sharing an r-row band implies sharing each of its single
    // hashes), so the 1-row config's candidate set is a superset of every
    // other's — exact Jaccard is computed once, on that superset, and
    // recall is measured against its verified truth (the standard LSH
    // calibration protocol; truth beyond ANY single shared hash has
    // probability (1−s)^8 < 10⁻⁵ at s = 0.8). Scale: band equi-joins
    // throughout, pair-level work bounded by the superset candidates, and
    // the x40 hot-bucket rule applied SYMMETRICALLY to every config before
    // its self-join: any (config, band, hash) bucket holding > 128 docs is
    // boilerplate-shaped (single-hash buckets especially — r=1 is the
    // config a dup-dense crawl blows up), carries no calibration signal,
    // and alone contributes O(m²) pairs. No silent coverage loss: each
    // config reports how many buckets the cap removed and the exact
    // C(m,2) candidate upper bound those buckets would have generated
    // (capped_buckets / dropped_candidates — 0 at test SF, where postings
    // top out well under the cap). Degenerate corpora (no truth pairs, a
    // config with zero candidates) return defined 0.0 scores, not NaN,
    // and every config row survives via the config-table left join.
    QueryDef("x90_lsh_tuning_curve",
      s"""WITH s AS (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig,
                list_distinct(${OpsQueries.ShinglesSql}) AS sh FROM documents
              WHERE len(string_split(text, ' ')) >= 3),
          cfg AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8)) AS t(b, r)),
          bands AS (SELECT cfg.b, cfg.r, s.doc_id, g.i AS band,
                md5(list_aggregate(sig[(g.i*cfg.r+1):((g.i+1)*cfg.r)], 'string_agg', ',')) AS bh
              FROM s, cfg, unnest(generate_series(0, cfg.b - 1)) AS g(i)),
          hot AS (SELECT b, r, band, bh, count(*) AS m FROM bands
              GROUP BY 1, 2, 3, 4 HAVING count(*) > 128),
          capstat AS (SELECT b, r, count(*) AS capped_buckets,
                sum(m * (m - 1) // 2) AS dropped_candidates
              FROM hot GROUP BY 1, 2),
          bk AS (SELECT bands.* FROM bands LEFT JOIN hot USING (b, r, band, bh)
              WHERE hot.m IS NULL),
          cand AS (SELECT DISTINCT b, r, a.doc_id AS id1, b2.doc_id AS id2
              FROM bk a JOIN bk b2 USING (b, r, band, bh)
              WHERE a.doc_id < b2.doc_id),
          t81 AS (SELECT id1, id2 FROM cand WHERE b = 8),
          jac AS (SELECT t.id1, t.id2,
                len(list_intersect(a.sh, b2.sh))::DOUBLE / len(list_distinct(a.sh || b2.sh)) AS j
              FROM t81 t JOIN s a ON a.doc_id = t.id1 JOIN s b2 ON b2.doc_id = t.id2),
          truth AS (SELECT id1, id2 FROM jac WHERE j >= 0.8),
          nt AS (SELECT count(*) AS n_truth FROM truth),
          agg AS (SELECT c.b, c.r, count(*) AS n_candidates, count(tr.id1) AS n_true
              FROM cand c LEFT JOIN truth tr ON tr.id1 = c.id1 AND tr.id2 = c.id2
              GROUP BY c.b, c.r)
          SELECT cfg.b AS bands, cfg.r AS rows_per_band,
            CAST(coalesce(agg.n_candidates, 0) AS BIGINT) AS n_candidates,
            CAST(coalesce(agg.n_true, 0) AS BIGINT) AS n_true,
            CASE WHEN coalesce(agg.n_candidates, 0) = 0 THEN 0.0
                 ELSE round(agg.n_true::DOUBLE / agg.n_candidates, 6) END AS precision,
            CASE WHEN nt.n_truth = 0 THEN 0.0
                 ELSE round(coalesce(agg.n_true, 0)::DOUBLE / nt.n_truth, 6) END AS recall,
            CAST(coalesce(cs.capped_buckets, 0) AS BIGINT) AS capped_buckets,
            CAST(coalesce(cs.dropped_candidates, 0) AS BIGINT) AS dropped_candidates
          FROM cfg
          LEFT JOIN agg ON agg.b = cfg.b AND agg.r = cfg.r
          LEFT JOIN capstat cs ON cs.b = cfg.b AND cs.r = cfg.r, nt""") { (s, d) =>
      val toks = OpsQueries.tokens(col("text"))
      // EXACT-CONTENT rep collapse — the group-size-immunity move the
      // embedding/simhash paths already make (Dedup.embeddingNearDupPairs,
      // simhashNearDupPairs): candidacy and Jaccard are functions of
      // (sig, sh) ALONE, so docs with identical token streams collapse to
      // one representative carrying a multiplicity m, and every count
      // below re-weights by m — bit-identical to the doc-space counts the
      // (unchanged) oracle computes, while the join/verify work scales
      // with DISTINCT content instead of clone count. A pair of groups
      // (m₁, m₂) sharing an uncapped band contributes m₁·m₂ unordered doc
      // pairs; a group's own members contribute C(m,2) (identical sigs
      // share every band, so intra pairs are candidates in every config
      // the group retains a band in). The 10× clone stress ran the
      // doc-space form at ~7× (clone-quadratic candidate enumeration);
      // this form is ~1× in clone count by construction. The collapse keys
      // on md5(text) — which REFINES (sig, sh) equality, so any group it
      // splits finer is handled exactly by the ordinary inter-group path —
      // in ONE corpus shuffle: the group roll-up carries (min id, count,
      // one copy of the text — min of identical values), and the signature
      // pass runs on the collapsed frame. Map-side combine already folds
      // local clones, so the shuffle is bounded by distinct content per
      // partition.
      val reps = graft.util.PersistScope.track(
        t(s, d, "documents")
          .groupBy(md5(col("text")).as("__h"))
          .agg(min("doc_id").as("rid"), count(lit(1)).as("m"), min("text").as("text"))
          .filter(size(toks) >= 3)
          .withColumn("sig", MinHashFromTokensExpr.minhash_from_tokens(toks, 8))
          .withColumn("sh", array_distinct(OpsQueries.shingles(toks)))
          .select(col("rid"), col("m"), col("sig"), col("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // ALL FOUR configs' band rows in ONE pass over reps (r17; was a
      // 4-branch union = 4 scans): 8+4+2+1 = 15 (b, r, band, bh) structs
      // per rep, built in-row and exploded. bh is the UNHEXED md5 — the
      // identical 128-bit value as the hex string (unhex is injective), at
      // half the shuffle/persist bytes; bh never reaches the output.
      val bandArr = flatten(array(Seq((8, 1), (4, 2), (2, 4), (1, 8)).map {
        case (b, r) =>
          transform(sequence(lit(0), lit(b - 1)), i =>
            struct(lit(b).as("b"), lit(r).as("r"), i.as("band"),
              unhex(md5(concat_ws(",", slice(col("sig"), i * r + 1, lit(r)))))
                .as("bh")))
      }: _*))
      val bands = reps.select(col("rid"), col("m"), explode(bandArr).as("e"))
        .select(col("e.b").as("b"), col("e.r").as("r"), col("e.band").as("band"),
          col("e.bh").as("bh"), col("rid"), col("m"))
      // ONE bucket roll-up replaces the hot-agg + anti-join + SELF-JOIN
      // chain (r16 verdict #1 / guide §2.4 — the old shape shuffled the
      // band frame four times: hot counts, the anti-join, and both sides
      // of the pair self-join): per (config, band, hash) bucket, the doc
      // weight Σm decides hot-vs-kept, and a BOUNDED topk_min heap carries
      // the membership — ≤ cap+1 structs per bucket, because a kept bucket
      // has docs ≤ 128 so at most 128 reps, while a hot bucket's
      // (truncated) membership is never read. O(cap) state per group at
      // ANY corpus scale — the mega-bucket that would have made a
      // collect_list OOM is exactly the bucket the cap discards.
      val buckets = graft.util.PersistScope.track(
        bands.groupBy("b", "r", "band", "bh")
          .agg(sum("m").as("docs"),
            TopK.topk_min(struct(col("rid"), col("m")), 129).as("mem"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // Hot buckets: MORE doc weight than the 128-doc cap; the C(docs,2)
      // sum makes the dropped coverage auditable per config.
      val capstat = buckets.filter(col("docs") > 128).groupBy("b", "r")
        .agg(count(lit(1)).as("capped_buckets"),
          sum(expr("docs * (docs - 1) div 2")).as("dropped_candidates"))
      // Inter-group candidate pairs (rep space, weight m₁·m₂): generated
      // IN-ROW from each kept bucket's complete, rid-ascending membership
      // (i < j ⇒ r1 < r2 — the heap output is sorted and rids are unique
      // per bucket), exactly the old self-join's pair set; the distinct
      // dedups pairs sharing several bands, as before.
      val kept = buckets.filter(col("docs") <= 128 && size(col("mem")) >= 2)
      val pairArr = flatten(transform(sequence(lit(0), size(col("mem")) - 2), i =>
        transform(sequence(i + 1, size(col("mem")) - 1), j =>
          struct(element_at(col("mem"), i + 1).getField("rid").as("r1"),
            element_at(col("mem"), j + 1).getField("rid").as("r2"),
            element_at(col("mem"), i + 1).getField("m").as("m1"),
            element_at(col("mem"), j + 1).getField("m").as("m2")))))
      val cand = graft.util.PersistScope.track(
        kept.select(col("b"), col("r"), explode(pairArr).as("p"))
          .select(col("b"), col("r"), col("p.r1").as("r1"), col("p.r2").as("r2"),
            col("p.m1").as("m1"), col("p.m2").as("m2"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // ...and intra-group pairs: C(m,2) for every multi-doc group that
      // retains at least one uncapped band in the config. Presence IS
      // membership in some kept bucket (a group absent from every kept
      // bucket had all b of its bands capped — the old fullyCapped
      // anti-join, flipped to a semi-join on the kept side).
      val cfg = s.createDataFrame(Seq((8, 1), (4, 2), (2, 4), (1, 8))).toDF("b", "r")
      val presence = buckets.filter(col("docs") <= 128)
        .select(col("b"), col("r"), explode(col("mem")).as("e"))
        .select(col("b"), col("r"), col("e.rid").as("rid"))
      val intra = reps.filter(col("m") >= 2).select(col("rid"), col("m"))
        .crossJoin(broadcast(cfg))
        .join(presence, Seq("b", "r", "rid"), "left_semi")
      // Weighted candidate contributions per config; intra rows key as
      // (rid, rid), disjoint from inter keys (strictly r1 < r2).
      val candW = cand
        .select(col("b"), col("r"), col("r1"), col("r2"),
          (col("m1") * col("m2")).as("w"))
        .unionByName(intra
          .select(col("b"), col("r"), col("rid").as("r1"), col("rid").as("r2"),
            expr("m * (m - 1) div 2").as("w")))
      // Truth on the b=8 superset: inter pairs verify exact Jaccard once
      // per REP pair; intra pairs have Jaccard 1 by construction (identical
      // shingle sets), so every b=8-present multi-doc group is truth.
      val shp = reps.select(col("rid"), col("sh"))
      // single consumer — no persist: the join below materializes it once
      val truthKeys =
        cand.filter(col("b") === 8).select("r1", "r2")
          .join(shp.select(col("rid").as("r1"), col("sh").as("sh1")), "r1")
          .join(shp.select(col("rid").as("r2"), col("sh").as("sh2")), "r2")
          .filter(size(array_intersect(col("sh1"), col("sh2"))).cast("double")
            / size(array_union(col("sh1"), col("sh2"))) >= 0.8)
          .select("r1", "r2")
          .unionByName(intra.filter(col("b") === 8)
            .select(col("rid").as("r1"), col("rid").as("r2")))
      val agg = graft.util.PersistScope.track(
        candW.join(truthKeys.withColumn("tr", lit(1)), Seq("r1", "r2"), "left")
          .groupBy("b", "r")
          .agg(sum("w").as("n_candidates"),
            sum(when(col("tr").isNotNull, col("w")).otherwise(0L)).as("n_true"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // n_truth = the b=8 superset's true-pair mass (recall anchor = 1 by
      // construction); the agg form keeps one row even when b=8 is empty.
      val nt = agg.filter(col("b") === 8)
        .agg(coalesce(sum("n_true"), lit(0L)).as("n_truth"))
      cfg.join(agg, Seq("b", "r"), "left")
        .join(capstat, Seq("b", "r"), "left")
        .crossJoin(broadcast(nt))
        .select(col("b").as("bands"), col("r").as("rows_per_band"),
          coalesce(col("n_candidates"), lit(0L)).cast("long").as("n_candidates"),
          coalesce(col("n_true"), lit(0L)).cast("long").as("n_true"),
          when(coalesce(col("n_candidates"), lit(0L)) === 0, lit(0.0))
            .otherwise(round(col("n_true").cast("double") / col("n_candidates"), 6))
            .as("precision"),
          when(col("n_truth") === 0, lit(0.0))
            .otherwise(round(coalesce(col("n_true"), lit(0L)).cast("double")
              / col("n_truth"), 6)).as("recall"),
          coalesce(col("capped_buckets"), lit(0L)).cast("long").as("capped_buckets"),
          coalesce(col("dropped_candidates"), lit(0L)).cast("long").as("dropped_candidates"))
    },

    // Quality-route × duplication cross-tab — the audit that tells a
    // curation pipeline whether its quality gate and its dedup stage are
    // measuring the SAME pathology (low-quality docs that are also dups
    // get dropped twice for one reason) or independent ones (each stage
    // earns its keep). Composes s10/x09's disposition routing with the
    // shared near-dup components: per route, how many docs sit in a
    // verified near-dup cluster. Scale: disposition is a pure map;
    // cluster membership is an id-keyed semi-join against the shared
    // component frame (every lab member has ≥1 verified edge, so
    // membership IS duplication); one 3-row aggregate at the end — the
    // whole query costs two cheap joins on top of stages other queries
    // already paid.
    QueryDef("x91_quality_vs_dup",
      "WITH RECURSIVE " + OpsQueries.componentsCteOver("documents") + """,
          q AS (SELECT doc_id,
              CASE WHEN nt < 15 THEN 'short'
                   WHEN ns * 25 < nt THEN 'low_stopword'
                   ELSE 'keep' END AS disposition
            FROM (SELECT doc_id, len(string_split(text, ' ')) AS nt,
                    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS ns
                  FROM documents))
          SELECT q.disposition, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(lab.doc_id) AS BIGINT) AS n_dup,
            round(count(lab.doc_id)::DOUBLE / count(*), 6) AS dup_rate
          FROM q LEFT JOIN lab ON lab.doc_id = q.doc_id
          GROUP BY 1""") { (s, d) =>
      val toks = OpsQueries.tokens(col("text"))
      val q = t(s, d, "documents")
        .select(col("doc_id"), size(toks).as("nt"),
          size(filter(toks, tk => tk.isin("the", "a"))).as("ns"))
        .withColumn("disposition",
          when(col("nt") < 15, "short")
            .when(col("ns") * 25 < col("nt"), "low_stopword")
            .otherwise("keep"))
      val dup = OpsQueries.sharedComponents(s, d)
        .select(col("id").as("doc_id"), lit(1).as("in_dup"))
      q.join(dup, Seq("doc_id"), "left")
        .groupBy("disposition")
        .agg(count(lit(1)).as("n_docs"), count(col("in_dup")).as("n_dup"))
        .select(col("disposition"), col("n_docs").cast("long").as("n_docs"),
          col("n_dup").cast("long").as("n_dup"),
          round(col("n_dup").cast("double") / col("n_docs"), 6).as("dup_rate"))
    },

    // Intra-source DRIFT: KL divergence between each source's front and
    // back halves (doc_id order = ingest order) — the monitoring signal
    // that catches a crawl whose content shifted mid-collection, where
    // x39's KL-from-blend would still read "normal" (both halves equally
    // far from the corpus). Add-one smoothing over the source's OWN vocab
    // makes every term finite; per-term values are exact-count ratios
    // snapped to int64 fixed-point (the x39/x24 trick) before the
    // cross-row sum, so the result is bit-identical on any partitioning.
    // Shape: the half label is one per-source window over doc ids (x25's
    // accepted shape; sub-bucketable at production source sizes); counts
    // re-reduce from the shared wordcount frame; the term grid is
    // vocab-sized per source, never corpus-sized.
    QueryDef("x92_source_drift",
      """WITH dt AS (SELECT source, doc_id FROM documents),
         n AS (SELECT source, count(*) AS nd FROM dt GROUP BY 1),
         r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM dt),
         h AS (SELECT r.source, r.doc_id, CASE WHEN r.rn * 2 <= n.nd THEN 0 ELSE 1 END AS half
               FROM r JOIN n USING (source)),
         tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM documents),
         hc AS (SELECT tok.source, h.half, tok.token, count(*) AS c
                FROM tok JOIN h ON h.doc_id = tok.doc_id GROUP BY 1, 2, 3),
         va AS (SELECT DISTINCT source, token FROM hc),
         vt AS (SELECT source, count(*) AS vv FROM va GROUP BY 1),
         nt AS (SELECT source, half, sum(c) AS n FROM hc GROUP BY 1, 2),
         grid AS (SELECT va.source, va.token,
                    coalesce(f.c, 0) AS cf, coalesce(b.c, 0) AS cb
                  FROM va
                  LEFT JOIN hc f ON f.source = va.source AND f.token = va.token AND f.half = 0
                  LEFT JOIN hc b ON b.source = va.source AND b.token = va.token AND b.half = 1),
         j AS (SELECT g.source,
                 (g.cf + 1)::DOUBLE / (nf.n + vt.vv) AS qf,
                 (g.cb + 1)::DOUBLE / (nb.n + vt.vv) AS qb,
                 nf.n AS nf, nb.n AS nb, vt.vv AS vv
               FROM grid g
               JOIN nt nf ON nf.source = g.source AND nf.half = 0
               JOIN nt nb ON nb.source = g.source AND nb.half = 1
               JOIN vt ON vt.source = g.source)
         SELECT source, CAST(any_value(nf) AS BIGINT) AS n_front_tokens,
           CAST(any_value(nb) AS BIGINT) AS n_back_tokens,
           CAST(any_value(vv) AS BIGINT) AS vocab,
           round(sum(CAST(floor(qf * ln(qf / qb) * 1000000000 + 0.5) AS BIGINT)) / 1000000000.0, 6) AS kl_drift
         FROM j GROUP BY source""") { (s, d) =>
      val docs = t(s, d, "documents")
      val n = docs.groupBy("source").agg(count(lit(1)).as("nd"))
      val h = docs.select(col("source"), col("doc_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy("doc_id")))
        .join(n, "source")
        .select(col("doc_id"), when(col("rn") * 2 <= col("nd"), 0).otherwise(1).as("half"))
      val hc = graft.util.PersistScope.track(
        OpsQueries.sharedWordCounts(s, d).join(h, "doc_id")
          .groupBy("source", "half", "token").agg(sum("c").as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nt = hc.groupBy("source", "half").agg(sum("c").as("n"))
      // ONE conditional aggregation (r16): the grid's row set is exactly
      // the distinct (source, token) pairs of hc, and cf/cb are the half
      // counts with 0 defaults — the former distinct + two left
      // self-joins re-shuffled the wordcount-sized frame three times for
      // what one pivot-style groupBy computes (identical rows and values:
      // a half with no row sums to null → coalesce 0, exactly the old
      // left-join miss).
      val grid = hc.groupBy("source", "token")
        .agg(coalesce(sum(when(col("half") === 0, col("c"))), lit(0L)).as("cf"),
          coalesce(sum(when(col("half") === 1, col("c"))), lit(0L)).as("cb"))
      val vt = grid.groupBy("source").agg(count(lit(1)).as("vv"))
      val qf = (col("cf") + 1).cast("double") / (col("nf") + col("vv"))
      val qb = (col("cb") + 1).cast("double") / (col("nb") + col("vv"))
      grid
        .join(nt.filter(col("half") === 0).select(col("source"), col("n").as("nf")), "source")
        .join(nt.filter(col("half") === 1).select(col("source"), col("n").as("nb")), "source")
        .join(vt, "source")
        .withColumn("term", floor(qf * log(qf / qb) * 1000000000L + 0.5).cast("long"))
        .groupBy("source")
        .agg(max("nf").cast("long").as("n_front_tokens"),
          max("nb").cast("long").as("n_back_tokens"),
          max("vv").cast("long").as("vocab"),
          round(sum("term") / 1000000000.0, 6).as("kl_drift"))
    },

    // Temperature SWEEP — x63's α = 0.5 mixture generalized to the
    // decision table a mixture designer actually reads (the x78/x90
    // "curve" family): per α ∈ {0.25, 0.5, 0.75, 1.0}, every source's
    // temperature share and up/downsample direction. Cross-engine float
    // discipline: fractional powers come ONLY from sqrt compositions —
    // p^¼ = √√p, p^¾ = √p·√√p — because IEEE sqrt (and double multiply)
    // are correctly rounded and therefore bit-identical in Spark and
    // DuckDB, where libm pow() is not. Each power is snapped to int64
    // fixed-point BEFORE the per-α normalizer sum (the x63/x39 idiom), so
    // normalizers are order-free integer sums. Shape: sources×4 rows off
    // the shared wordcount pass; normalizers are a 4-row broadcast.
    QueryDef("x93_temperature_sweep",
      """WITH st AS (SELECT source, count(*) AS n FROM
           (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
         tot AS (SELECT sum(n) AS nn FROM st),
         a AS (SELECT unnest([25, 50, 75, 100]) AS alpha_pct),
         term AS (SELECT st.source, st.n, a.alpha_pct,
             CAST(floor(CASE a.alpha_pct
                 WHEN 25 THEN sqrt(sqrt(st.n::DOUBLE / tot.nn))
                 WHEN 50 THEN sqrt(st.n::DOUBLE / tot.nn)
                 WHEN 75 THEN sqrt(st.n::DOUBLE / tot.nn) * sqrt(sqrt(st.n::DOUBLE / tot.nn))
                 ELSE st.n::DOUBLE / tot.nn END * 1000000000 + 0.5) AS BIGINT) AS w
           FROM st, tot, a),
         ts AS (SELECT alpha_pct, sum(w) AS tw FROM term GROUP BY 1)
         SELECT term.source, CAST(term.alpha_pct AS INT) AS alpha_pct,
           CAST(term.n AS BIGINT) AS n_tokens,
           round(term.n::DOUBLE / tot.nn, 6) AS share,
           round(term.w::DOUBLE / ts.tw, 6) AS temp_share,
           round(term.w::DOUBLE / ts.tw, 6) > round(term.n::DOUBLE / tot.nn, 6) AS upsampled
         FROM term JOIN ts USING (alpha_pct), tot""") { (s, d) =>
      val st = OpsQueries.sharedWordCounts(s, d)
        .groupBy("source").agg(sum("c").as("n"))
      val tot = st.agg(sum("n").as("nn"))
      val p = col("n").cast("double") / col("nn")
      val term = st.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("nn"),
          explode(array(Seq(25, 50, 75, 100).map(lit): _*)).as("alpha_pct"))
        .withColumn("w", floor(
          when(col("alpha_pct") === 25, sqrt(sqrt(p)))
            .when(col("alpha_pct") === 50, sqrt(p))
            .when(col("alpha_pct") === 75, sqrt(p) * sqrt(sqrt(p)))
            .otherwise(p) * 1000000000L + 0.5).cast("long"))
      // limit(4): no-op — one row per α in the fixed sweep grid;
      // machine-visible bound for PlanGuard's corpus-lineage check.
      val ts = term.groupBy("alpha_pct").agg(sum("w").as("tw")).limit(4)
      term.join(broadcast(ts), "alpha_pct")
        .select(col("source"), col("alpha_pct").cast("int").as("alpha_pct"),
          col("n").cast("long").as("n_tokens"),
          round(p, 6).as("share"),
          round(col("w").cast("double") / col("tw"), 6).as("temp_share"),
          (round(col("w").cast("double") / col("tw"), 6) > round(p, 6)).as("upsampled"))
    },

    // SPAN-level benchmark decontamination — the report the doc-level
    // contamination ops (x23/x42/x54/x60) cannot produce: WHICH benchmark
    // item leaks into WHICH corpus doc, through how many 5-gram positions,
    // and — the decisive number — the LONGEST CONSECUTIVE run of shared
    // grams, i.e. the longest verbatim span (run + 4 tokens). A doc
    // quoting one benchmark answer verbatim flags here (long run) while a
    // doc that merely shares topical vocabulary does not (many scattered
    // single-gram hits, short runs) — the distinction doc-level overlap
    // fractions blur. Flag at span ≥ 13 tokens (the Dolma/GPT-3
    // decontamination convention). Shape: positional 5-grams shuffle as
    // md5 keys; the benchmark gram set is EVAL-sized so it broadcasts into
    // the hit join (a benchmark too large to broadcast degrades to the
    // gram-keyed equi-join, same plan minus the hint); runs come from the
    // gaps-and-islands trick (i − row_number per pair) with every window
    // partitioned by (doc, bench) — bounded by doc length, never
    // corpus-wide. Hit rows are bounded by positions × |bench docs
    // sharing the gram| ≤ positions × benchmark size.
    QueryDef("x95_span_contamination",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         g AS (SELECT doc_id, i, md5(list_aggregate(tk[i:i+4], 'string_agg', ' ')) AS h
               FROM tk, unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)),
         bg AS (SELECT DISTINCT doc_id AS bench_id, h FROM g WHERE doc_id < 10),
         hits AS (SELECT DISTINCT g.doc_id, bg.bench_id, g.i
                  FROM g JOIN bg USING (h) WHERE g.doc_id >= 10),
         runs AS (SELECT doc_id, bench_id, i,
                    i - row_number() OVER (PARTITION BY doc_id, bench_id ORDER BY i) AS grp
                  FROM hits),
         rl AS (SELECT doc_id, bench_id, grp, count(*) AS run_len
                FROM runs GROUP BY 1, 2, 3)
         SELECT doc_id, bench_id,
           CAST(sum(run_len) AS BIGINT) AS n_hit_grams,
           CAST(max(run_len) AS BIGINT) AS longest_run_grams,
           CAST(max(run_len) + 4 AS BIGINT) AS max_span_tokens,
           max(run_len) + 4 >= 13 AS flagged
         FROM rl GROUP BY 1, 2""") { (s, d) =>
      val tk = t(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("tk"))
      val gram = transform(sequence(lit(1), size(col("tk")) - 4),
        i => md5(concat_ws(" ", (0 until 5).map(o => element_at(col("tk"), i + o)): _*)))
      // persisted: the benchmark side and the corpus side both read it
      val g = graft.util.PersistScope.track(
        tk.filter(size(col("tk")) >= 5)
          .select(col("doc_id"), posexplode(gram).as(Seq("i0", "h")))
          .select(col("doc_id"), (col("i0") + 1).as("i"), col("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bg = g.filter(col("doc_id") < 10)
        .select(col("doc_id").as("bench_id"), col("h")).distinct()
      val hits = g.filter(col("doc_id") >= 10).join(broadcast(bg), "h")
        .select("doc_id", "bench_id", "i").distinct()
      val runs = hits.withColumn("grp", col("i") -
        row_number().over(Window.partitionBy("doc_id", "bench_id").orderBy("i")))
      val rl = runs.groupBy("doc_id", "bench_id", "grp").agg(count(lit(1)).as("run_len"))
      rl.groupBy("doc_id", "bench_id")
        .agg(sum("run_len").cast("long").as("n_hit_grams"),
          max("run_len").cast("long").as("longest_run_grams"),
          (max("run_len") + 4).cast("long").as("max_span_tokens"),
          (max("run_len") + 4 >= 13).as("flagged"))
    },

    // x95's span decontamination as a STREAMING admission gate (s17): the
    // check runs AT ARRIVAL — each incoming doc scored against the
    // benchmark suite, quarantined when any shared verbatim span reaches
    // 13 tokens. One stateless map over the stream: the benchmark's
    // per-item distinct gram sets ride a single broadcast row (eval-sized)
    // and the longest-run fold happens IN-ROW per (doc, bench item) with a
    // (current, best) accumulator — no explode, no shuffle, no state, no
    // watermark; append-mode emission, one decision row per doc. Batch
    // x95 keeps the per-pair audit detail; this is the decision surface.
    QueryDef("s17_stream_decontam_gate",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         g AS (SELECT doc_id, i, md5(list_aggregate(tk[i:i+4], 'string_agg', ' ')) AS h
               FROM tk, unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS t(i)),
         bg AS (SELECT DISTINCT doc_id AS bid, h FROM g WHERE doc_id < 10),
         hits AS (SELECT DISTINCT g.doc_id, bg.bid, g.i
                  FROM g JOIN bg USING (h) WHERE g.doc_id >= 10),
         runs AS (SELECT doc_id, bid, i,
                    i - row_number() OVER (PARTITION BY doc_id, bid ORDER BY i) AS grp
                  FROM hits),
         rl AS (SELECT doc_id, bid, grp, count(*) AS run_len
                FROM runs GROUP BY 1, 2, 3),
         agg AS (SELECT doc_id, count(DISTINCT bid) AS nb, max(run_len) AS mr
                 FROM rl GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bench_hits,
           CAST(CASE WHEN coalesce(agg.mr, 0) > 0 THEN agg.mr + 4 ELSE 0 END AS BIGINT)
             AS max_span_tokens,
           coalesce(agg.mr, 0) >= 9 AS quarantine
         FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         WHERE d.doc_id >= 10""") { (s, d) =>
      val name = "s17_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runDecontamGate(s, d, name))
        .select(col("doc_id"), col("n_bench_hits"),
          col("max_span_tokens"), col("quarantine"))
    },

    // Streaming MinHash-LSH near-dup ADMISSION gate (s25) — the
    // self-feeding composition the suite's dedup family bracketed but
    // lacked: s08 checks arrivals against a STATIC stored corpus, s18
    // dedups EXACT keys; here the reference set is what the gate itself
    // has seen — the first arrival of each band hash owns it, and a doc is
    // admitted iff every one of its bands is unowned at arrival (near-dups
    // share ≥1 band w.h.p., so an admitted doc is near-dup-free against
    // the whole arrival history, transitively — see
    // EventStream.runLshAdmission for why ownership-by-seen beats
    // ownership-by-admitted at scale: it shards by band key with no
    // cross-band coordination). State: ONE write-once long per distinct
    // band hash. The per-(doc, band) verdicts fold to per-doc admission
    // here (bands are conjunctive; the blocker reported is the earliest
    // owner among blocked bands). Oracle = the doc_id-ordered batch
    // replay: owner(band) = min doc_id, blocked iff owner < doc.
    // Docs that produce no bands (< 3 tokens) are vacuously admitted.
    QueryDef("s25_stream_lsh_admission",
      s"""WITH bands AS (
            SELECT doc_id, band, md5(array_to_string(
                sig[band*${OpsQueries.BandSize}+1 : band*${OpsQueries.BandSize}+${OpsQueries.BandSize}], ',')) AS band_hash
            FROM (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig FROM documents WHERE length(text) > 0),
                 (SELECT unnest(generate_series(0, ${OpsQueries.NumHashes / OpsQueries.BandSize - 1})) AS band)
            WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          fb AS (SELECT band, band_hash, min(doc_id) AS owner
                 FROM bands GROUP BY 1, 2),
          pb AS (SELECT b.doc_id, count(*) AS nb,
                   sum(CASE WHEN fb.owner < b.doc_id THEN 1 ELSE 0 END) AS nblk,
                   min(CASE WHEN fb.owner < b.doc_id THEN fb.owner END) AS blocker
                 FROM bands b JOIN fb USING (band, band_hash) GROUP BY 1)
          SELECT d.doc_id, CAST(coalesce(pb.nb, 0) AS BIGINT) AS n_bands,
            CAST(coalesce(pb.nblk, 0) AS BIGINT) AS n_blocked_bands,
            coalesce(pb.nblk, 0) = 0 AS admitted,
            CAST(pb.blocker AS BIGINT) AS first_blocker
          FROM documents d LEFT JOIN pb USING (doc_id)""") { (s, d) =>
      val name = "s25_sink_" + math.abs(d.hashCode).toString
      val sink = EventStream.sinkTable(
        EventStream.runLshAdmission(s, d, name, OpsQueries.stagedBands))
      val pb = sink.groupBy("doc_id").agg(
        count(lit(1)).as("nb"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("nblk"),
        min(when(col("blocked"), col("blocker"))).as("blocker"))
      sink.sparkSession.read.parquet(s"$d/documents.parquet").select(col("doc_id"))
        .join(pb, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nb"), lit(0L)).cast("long").as("n_bands"),
          coalesce(col("nblk"), lit(0L)).cast("long").as("n_blocked_bands"),
          (coalesce(col("nblk"), lit(0L)) === 0).as("admitted"),
          col("blocker").cast("long").as("first_blocker"))
    },

    // Streaming PERCEPTUAL-HASH admission gate (s26) — s25's ownership
    // machinery pointed at the image modality: arrivals hash through
    // Multimodal.aHash (a stateless batched kernel, so the stream side is
    // a pure map + explode exactly like the MinHash path), each of the
    // four 16-bit phash bands is owned by its first arrival, and a blob is
    // admitted iff every band is unowned — identical-tile dups and most
    // near-identical tiles share all/most bands, so the gate closes image
    // families transitively the way s25 closes text families. Degenerate
    // uniform-tile bands never reach the state (dropped in phashBands —
    // they'd make one hot key own half the corpus). Sub-tile blobs (< 256
    // bytes) produce no bands and are vacuously admitted, the s25
    // <3-tokens rule. State: ONE write-once long per distinct (band, val)
    // — bounded by 4× the admitted-corpus size, sharded by band key with
    // no cross-band coordination. Oracle = the doc_id-ordered batch
    // replay (owner = min doc_id per band value).
    QueryDef("s26_stream_phash_admission",
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 256),
         cells AS (SELECT doc_id, g // 8 AS r, g % 8 AS c,
             (ascii(substr(text, ((g // 8) * 2) * 16 + (g % 8) * 2 + 1, 1))
            + ascii(substr(text, ((g // 8) * 2) * 16 + (g % 8) * 2 + 2, 1))
            + ascii(substr(text, ((g // 8) * 2 + 1) * 16 + (g % 8) * 2 + 1, 1))
            + ascii(substr(text, ((g // 8) * 2 + 1) * 16 + (g % 8) * 2 + 2, 1))) // 4 AS v
           FROM docs, unnest(generate_series(0, 63)) AS t(g)),
         mn AS (SELECT doc_id, sum(v) // 64 AS m FROM cells GROUP BY 1),
         bits AS (SELECT cells.doc_id, r // 2 AS band,
             CASE WHEN v >= m THEN 1 << ((r % 2) * 8 + c) ELSE 0 END AS bit
           FROM cells JOIN mn USING (doc_id)),
         ph AS (SELECT doc_id, band, CAST(sum(bit) AS INT) AS val FROM bits GROUP BY 1, 2),
         pb0 AS (SELECT doc_id, band, val FROM ph WHERE val NOT IN (0, 65535)),
         fb AS (SELECT band, val, min(doc_id) AS owner FROM pb0 GROUP BY 1, 2),
         pb AS (SELECT b.doc_id, count(*) AS nb,
             sum(CASE WHEN fb.owner < b.doc_id THEN 1 ELSE 0 END) AS nblk,
             min(CASE WHEN fb.owner < b.doc_id THEN fb.owner END) AS blocker
           FROM pb0 b JOIN fb USING (band, val) GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(pb.nb, 0) AS BIGINT) AS n_bands,
           CAST(coalesce(pb.nblk, 0) AS BIGINT) AS n_blocked_bands,
           coalesce(pb.nblk, 0) = 0 AS admitted,
           CAST(pb.blocker AS BIGINT) AS first_blocker
         FROM documents d LEFT JOIN pb USING (doc_id)""") { (s, d) =>
      val name = "s26_sink_" + math.abs(d.hashCode).toString
      val sink = EventStream.sinkTable(
        EventStream.runLshAdmission(s, d, name, graft.ops.Multimodal.phashBands))
      val pb = sink.groupBy("doc_id").agg(
        count(lit(1)).as("nb"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("nblk"),
        min(when(col("blocked"), col("blocker"))).as("blocker"))
      sink.sparkSession.read.parquet(s"$d/documents.parquet").select(col("doc_id"))
        .join(pb, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nb"), lit(0L)).cast("long").as("n_bands"),
          coalesce(col("nblk"), lit(0L)).cast("long").as("n_blocked_bands"),
          (coalesce(col("nblk"), lit(0L)) === 0).as("admitted"),
          col("blocker").cast("long").as("first_blocker"))
    },

    // k-anonymity audit (x96) over the customer quasi-identifiers — the
    // privacy gate a PII engine runs BEFORE releasing an aggregate view:
    // every equivalence class on (nation, segment, $1k balance band) is
    // k-anonymous (n ≥ 5) or climbs a fixed generalization ladder — drop
    // the band (level 1), then the segment (level 2) — and a class whose
    // fully generalized release is STILL < k is marked suppressed rather
    // than silently published. Scale: one map-side-combined groupBy to the
    // class frame (∝ distinct QI combos, not rows), then two window sums
    // over that already-tiny frame — the corpus is touched exactly once.
    QueryDef("x96_k_anonymity",
      """WITH c0 AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS band, count(*) AS n
             FROM customer GROUP BY 1, 2, 3),
          c1 AS (SELECT nation, seg, sum(n) AS n1 FROM c0 GROUP BY 1, 2),
          c2 AS (SELECT nation, sum(n) AS n2 FROM c0 GROUP BY 1)
          SELECT c0.nation, c0.seg, c0.band, CAST(c0.n AS BIGINT) AS n,
            CAST(CASE WHEN c0.n >= 5 THEN 0 WHEN c1.n1 >= 5 THEN 1 ELSE 2 END AS BIGINT)
              AS anon_level,
            CAST(CASE WHEN c0.n >= 5 THEN c0.n WHEN c1.n1 >= 5 THEN c1.n1 ELSE c2.n2 END
              AS BIGINT) AS released_n,
            CAST(CASE WHEN c0.n >= 5 THEN c0.n WHEN c1.n1 >= 5 THEN c1.n1 ELSE c2.n2 END
              AS BIGINT) < 5 AS suppressed
          FROM c0 JOIN c1 USING (nation, seg) JOIN c2 USING (nation)""") { (s, d) =>
      val c0 = t(s, d, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("n"))
      val released = when(col("n") >= 5, col("n"))
        .when(col("n1") >= 5, col("n1")).otherwise(col("n2"))
      c0.withColumn("n1", sum("n").over(Window.partitionBy("nation", "seg")))
        .withColumn("n2", sum("n").over(Window.partitionBy("nation")))
        .select(col("nation"), col("seg"), col("band"), col("n"),
          when(col("n") >= 5, lit(0L)).when(col("n1") >= 5, lit(1L))
            .otherwise(lit(2L)).as("anon_level"),
          released.as("released_n"),
          (released < 5).as("suppressed"))
    },

    // Within-doc repetition metrics (x97) — the Gopher/MassiveText
    // repetition family x28 (CROSS-doc dup grams) does not cover: the
    // fraction of a doc's 2-grams in its single most-common 2-gram, and
    // the fraction of its 2-/3-grams that repeat AT ALL inside the doc —
    // the signals that catch degenerate generator loops and keyboard-mash
    // pages. The whole computation is IN-ROW (sort the doc's gram array,
    // fold adjacent-equal runs with one (prev, run, dup, max) accumulator)
    // so the query is a pure map: zero shuffles, zero joins, per-doc
    // linearithmic in doc length — the best possible 100-TB shape. The
    // fold runs once per (doc, n): the two-step select keeps the HOF out
    // of CollapseProject's inlining (the q17 re-evaluation lesson).
    QueryDef("x97_doc_repetition",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
                 FROM tk, unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS t(i)),
          c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          a2 AS (SELECT doc_id, sum(c) AS tot, max(c) AS mx,
                   sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup FROM c2 GROUP BY 1),
          g3 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
                 FROM tk, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS t(i)),
          c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          a3 AS (SELECT doc_id, sum(c) AS tot,
                   sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup FROM c3 GROUP BY 1)
          SELECT d.doc_id,
            CAST(coalesce(a2.tot, 0) AS BIGINT) AS n_2grams,
            round(CASE WHEN coalesce(a2.tot, 0) > 0 THEN a2.mx::DOUBLE / a2.tot ELSE 0 END, 6)
              AS top_2gram_frac,
            round(CASE WHEN coalesce(a2.tot, 0) > 0 THEN a2.dup::DOUBLE / a2.tot ELSE 0 END, 6)
              AS dup_2gram_frac,
            CAST(coalesce(a3.tot, 0) AS BIGINT) AS n_3grams,
            round(CASE WHEN coalesce(a3.tot, 0) > 0 THEN a3.dup::DOUBLE / a3.tot ELSE 0 END, 6)
              AS dup_3gram_frac,
            (CASE WHEN coalesce(a2.tot, 0) > 0 THEN a2.mx::DOUBLE / a2.tot ELSE 0 END) > 0.2
              OR (CASE WHEN coalesce(a3.tot, 0) > 0 THEN a3.dup::DOUBLE / a3.tot ELSE 0 END) > 0.18
              AS flagged
          FROM documents d
          LEFT JOIN a2 ON a2.doc_id = d.doc_id
          LEFT JOIN a3 ON a3.doc_id = d.doc_id""") { (s, d) =>
      val tk = split(col("text"), " ")
      val staged = t(s, d, "documents")
        .select(col("doc_id"), repStats(tk, 2).as("r2"), repStats(tk, 3).as("r3"))
      val top2 = when(col("r2.tot") > 0,
        col("r2.mx").cast("double") / col("r2.tot")).otherwise(lit(0.0))
      val dup2 = when(col("r2.tot") > 0,
        col("r2.dup").cast("double") / col("r2.tot")).otherwise(lit(0.0))
      val dup3 = when(col("r3.tot") > 0,
        col("r3.dup").cast("double") / col("r3.tot")).otherwise(lit(0.0))
      staged.select(col("doc_id"),
        col("r2.tot").as("n_2grams"),
        round(top2, 6).as("top_2gram_frac"),
        round(dup2, 6).as("dup_2gram_frac"),
        col("r3.tot").as("n_3grams"),
        round(dup3, 6).as("dup_3gram_frac"),
        (top2 > 0.2 || dup3 > 0.18).as("flagged"))
    },

    // Overlapping sliding-window chunking (x98) — the retrieval/context
    // pre-processing cut x25 (greedy packing) and x72 (truncation audit)
    // don't produce: each doc becomes windows of 16 tokens at stride 8
    // (half-overlap), with the chunk's ordinal, 1-based token offset,
    // actual length, and an md5 of the chunk text (the join key a
    // downstream embed/index stage uses; the raw slice is one concat_ws
    // away). Pure map + one generator — output rows ∝ Σ tokens / stride,
    // linear in corpus, no shuffle anywhere.
    QueryDef("x98_chunk_overlap",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          st AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk), 1), 8)) AS st
                 FROM tk)
          SELECT doc_id, CAST((st - 1) // 8 AS BIGINT) AS chunk_idx,
            CAST(st AS BIGINT) AS start_tok,
            CAST(least(16, len(tk) - st + 1) AS BIGINT) AS n_tokens,
            md5(list_aggregate(tk[st:st+15], 'string_agg', ' ')) AS chunk_md5
          FROM st""") { (s, d) =>
      val tk = split(col("text"), " ")
      t(s, d, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(1), greatest(size(col("tk")), lit(1)), lit(8))))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_idx"),
          col("col").cast("long").as("start_tok"),
          least(lit(16), size(col("tk")) - col("col") + 1).cast("long").as("n_tokens"),
          md5(concat_ws(" ", slice(col("tk"), col("col"), lit(16)))).as("chunk_md5"))
    },

    // Streaming exact-event dedup (s18): at-least-once ingest collapsed to
    // effectively-once with dropDuplicatesWithinWatermark — dedup state is
    // EVICTED once the watermark passes each key's event time, so resident
    // state ∝ rate × horizon (plain streaming dropDuplicates retains every
    // key forever — the classic state leak). Redeliveries carry the
    // original event time, so they land inside the horizon by construction;
    // the emitted row is the key projection itself, which makes the result
    // independent of which physical copy wins and the batch DISTINCT the
    // exact oracle. Runner in EventStream.runEventDedup.
    QueryDef("s18_stream_event_dedup",
      "SELECT DISTINCT user_id, event_type, ts FROM events") { (s, d) =>
      val name = "s18_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runEventDedup(s, d, name))
        .select(col("user_id"), col("event_type"), col("ts"))
    },

    // Feature hashing (x99) — the hashing-trick featurizer (Weinberger et
    // al. 2009): every token hashes to one of 16 buckets with a ±1 sign
    // hash, and the doc's fixed-dimension vector is the signed count sum
    // per bucket. The POINT of the operator is its scale shape: the output
    // dimension is CONSTANT regardless of vocabulary size (a 10⁹-term
    // vocab and a 10³-term vocab both produce 16 columns), so the
    // downstream model never materializes a vocab index. Both engines
    // derive bucket and sign from the same md5 hex nibbles (bucket =
    // nibble 1, sign = parity of nibble 2), so the result is portable
    // bit-for-bit. Rides the pass-wide shared wordcount stage — no new
    // corpus tokenization; the (doc, bucket) aggregate is map-side
    // combined with ≤ 16 output rows per doc.
    QueryDef("x99_feature_hashing",
      """WITH wc AS (SELECT doc_id, token, count(*) AS c
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents) GROUP BY 1, 2),
          h AS (SELECT doc_id,
                strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1 AS bucket,
                CAST(1 - 2 * ((strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) % 2)
                  AS BIGINT) AS sgn, c
              FROM wc)
          SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
            CAST(sum(sgn * c) AS BIGINT) AS val
          FROM h GROUP BY 1, 2""") { (s, d) =>
      OpsQueries.sharedWordCounts(s, d)
        .select(col("doc_id"),
          hexNibble(substring(md5(col("token")), 1, 1)).as("bucket"),
          (lit(1L) - lit(2L) * (hexNibble(substring(md5(col("token")), 2, 1)) % 2))
            .as("sgn"),
          col("c"))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn") * col("c")).as("val"))
    },

    // Streaming k-anonymity release gate (s19): x96's equivalence classes
    // as ingest-time HOLD-AND-RELEASE — the first k−1 members of a class
    // are buffered in state, the k-th arrival releases the buffer, later
    // members pass straight through, and never-≥k classes emit nothing
    // (exactly the rows batch release would suppress). The emitted SET is
    // order- and batching-independent, so the oracle is the batch
    // join-on-class-counts. State per class: one count + ≤ k−1 ids,
    // bounded by construction, monotone ⇒ watermark-free. Runner in
    // EventStream.runKAnonGate.
    QueryDef("s19_stream_kanon_gate",
      """WITH c AS (SELECT c_custkey, c_nationkey::BIGINT AS nation,
               c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS band FROM customer),
          n AS (SELECT nation, seg, band, count(*) AS cn FROM c GROUP BY 1, 2, 3)
          SELECT c.c_custkey, c.nation, c.seg, c.band
          FROM c JOIN n USING (nation, seg, band) WHERE n.cn >= 5""") { (s, d) =>
      val name = "s19_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runKAnonGate(s, d, name))
        .select(col("c_custkey"), col("nation"), col("seg"), col("band"))
    },

    // Composed streaming INGEST GATE (s16) — s10's quality router and
    // s15's token quota fused into the one stateful pass a production
    // ingest runs: every doc is routed, and only keep-routed docs draw
    // from their source's budget (the counter measures admitted QUALITY
    // mass — junk must not starve the budget). State is still one long
    // per source; the oracle is the keep-substream window form, emitting
    // route AND admission for every doc so all four outcome combinations
    // are pinned (keep+accepted, keep+over-budget, short, low_stopword).
    QueryDef("s16_stream_ingest_gate",
      """SELECT source, doc_id, CAST(nt AS BIGINT) AS n_tokens, disposition,
           disposition = 'keep' AND coalesce(before_keep, 0) < budget AS accepted
         FROM (
           SELECT source, doc_id, nt, disposition,
             sum(CASE WHEN disposition = 'keep' THEN nt END) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_keep,
             (1 + CAST(substr(source, 4) AS INT) % 3) * 3000 AS budget
           FROM (
             SELECT source, doc_id, len(string_split(text, ' ')) AS nt,
               CASE WHEN len(string_split(text, ' ')) < 15 THEN 'short'
                    WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 25
                         < len(string_split(text, ' ')) THEN 'low_stopword'
                    ELSE 'keep' END AS disposition
             FROM documents))""") { (s, d) =>
      val name = "s16_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runIngestGate(s, d, name))
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("disposition"), col("accepted"))
    },

    // x31's per-source token budget as a STREAMING admission gate (s15):
    // docs arrive through a file stream and each is accepted or rejected
    // at arrival against its source's remaining budget — the quota
    // controller an unbounded ingest runs, with ONE long of keyed state
    // per source (tokens seen so far) and nothing to watermark.
    // Truncation semantics match x31: the counter advances on every doc,
    // so the admitted set is an order-prefix (monotone gate — once over
    // budget, closed for good). The oracle is x31's window form ordered
    // by doc_id (the replay's intra-batch sort order), emitting BOTH
    // dispositions so the rejected branch is oracle-pinned too.
    QueryDef("s15_stream_quota",
      """SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           before_doc < budget AS accepted
         FROM (
           SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
             coalesce(sum(len(string_split(text, ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_doc,
             (1 + CAST(substr(source, 4) AS INT) % 3) * 3000 AS budget
           FROM documents)""") { (s, d) =>
      val name = "s15_sink_" + math.abs(d.hashCode).toString
      EventStream.sinkTable(EventStream.runQuotaMaintain(s, d, name))
        .select(col("source"), col("doc_id"), col("n_tokens"), col("accepted"))
    })
}
