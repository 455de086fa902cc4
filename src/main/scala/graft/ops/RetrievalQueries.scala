package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.queries.QueryDef.t

/** Corpus-retrieval and vocabulary-audit operators: the Heaps-law
  * vocabulary-growth curve, BM25 keyword search (the lexical retrieval
  * baseline next to the ANN family x06/x15/x80), and the LSH
  * candidate-degree histogram (the hot-bucket skew monitor that motivates
  * x40's posting cap). All three ride the pass-wide shared stages — no new
  * corpus tokenization or banding pass. */
object RetrievalQueries {

  private val B = 1000000000.0 // 1e9 fixed-point scale for per-term BM25 scores

  val defs: Seq[QueryDef] = Seq(

    // Vocabulary-growth curve (x109) — the Heaps-law audit run before
    // committing to a tokenizer/vocab budget: distinct-token count as the
    // corpus grows decile by decile, where "growth order" is the portable
    // md5 bucket of doc_id (x58 idiom — cluster-size independent, no
    // global sort over docs). Fully distributed: each token's FIRST bucket
    // is a min-agg, the per-bucket doc/token totals are map-side combined,
    // and the cumulative window runs on the fixed 10-row frame. At 100 TB
    // nothing here materializes an ordering over docs — the only
    // corpus-sized shuffle is the (token → min bucket) agg, on the already
    // reduced shared wordcount frame.
    QueryDef("x109_vocab_growth",
      s"""WITH d AS (SELECT doc_id, text,
               ${Sketches.bucketSql("doc_id::VARCHAR", "'growth'", 10)} AS b
             FROM documents),
          tok AS (SELECT b, unnest(string_split(text, ' ')) AS token FROM d),
          tb AS (SELECT token, min(b) AS b FROM tok GROUP BY 1),
          nv AS (SELECT b, count(*) AS nv FROM tb GROUP BY 1),
          dc AS (SELECT b, count(*) AS docs FROM d GROUP BY 1),
          tc AS (SELECT b, count(*) AS toks FROM tok GROUP BY 1),
          bk AS (SELECT unnest(generate_series(0, 9)) AS b),
          j AS (SELECT bk.b, coalesce(dc.docs, 0) AS docs, coalesce(tc.toks, 0) AS toks,
               coalesce(nv.nv, 0) AS nv
             FROM bk LEFT JOIN dc USING (b) LEFT JOIN tc USING (b) LEFT JOIN nv USING (b))
          SELECT CAST(b AS BIGINT) AS bucket,
            CAST(sum(docs) OVER w AS BIGINT) AS docs_cum,
            CAST(sum(toks) OVER w AS BIGINT) AS tokens_cum,
            CAST(sum(nv) OVER w AS BIGINT) AS vocab_cum,
            CAST(nv AS BIGINT) AS new_tokens,
            CASE WHEN sum(toks) OVER w > 0
              THEN round((sum(nv) OVER w)::DOUBLE / (sum(toks) OVER w), 6) END
              AS type_token_ratio
          FROM j WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""") {
      (s, d) =>
      val bkt = Sketches.bucket(col("doc_id").cast("string"), lit("growth"), 10)
      val wc = OpsQueries.sharedWordCounts(s, d).withColumn("b", bkt)
      // limit(10): no-ops — one row per hash bucket of the fixed 10-bucket
      // growth grid; machine-visible bounds for PlanGuard.
      val dc = t(s, d, "documents").select(bkt.as("b"))
        .groupBy("b").agg(count(lit(1)).as("docs")).limit(10)
      val tc = wc.groupBy("b").agg(sum("c").as("toks")).limit(10)
      val nv = wc.groupBy("token").agg(min("b").as("b"))
        .groupBy("b").agg(count(lit(1)).as("nv")).limit(10)
      val bk = s.range(1).select(explode(sequence(lit(0), lit(9))).as("b0"))
        .select(col("b0").cast("int").as("b"))
      val j = bk.join(broadcast(dc), Seq("b"), "left")
        .join(broadcast(tc), Seq("b"), "left")
        .join(broadcast(nv), Seq("b"), "left")
        .select(col("b"), coalesce(col("docs"), lit(0L)).as("docs"),
          coalesce(col("toks"), lit(0L)).as("toks"), coalesce(col("nv"), lit(0L)).as("nv"))
      val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
      j.select(col("b").cast("long").as("bucket"),
        sum("docs").over(w).cast("long").as("docs_cum"),
        sum("toks").over(w).cast("long").as("tokens_cum"),
        sum("nv").over(w).cast("long").as("vocab_cum"),
        col("nv").cast("long").as("new_tokens"),
        when(sum("toks").over(w) > 0,
          round(sum("nv").over(w).cast("double") / sum("toks").over(w), 6))
          .as("type_token_ratio"))
    },

    // BM25 keyword retrieval (x110) — the lexical search baseline every
    // retrieval/dedup pipeline keeps next to its ANN index: Robertson/
    // Lucene BM25 (k1=1.2, b=0.75, idf = ln(1+(N−df+0.5)/(df+0.5))) of
    // every corpus doc against a derived keyword-query set (each doc_id %
    // 97 == 0 with doc_id < 1000 contributes its top-8 in-doc tokens — a
    // stand-in for the fixed, small query list a production run supplies;
    // the < 1000 bound keeps the query COUNT constant as the corpus grows,
    // so total work scales with postings, not postings × corpus — the 10×
    // stress measured the unbounded form at ~45× from exactly that
    // queries×postings cross product). Determinism:
    // each (query, term, doc) BM25 term is computed in double from EXACT
    // integers (tf, df, dl, N, T) and immediately snapped to 1e-9
    // fixed-point, so the cross-term sum is an exact int64 — ranking never
    // depends on float addition order. Scale shape: query terms and their
    // df's broadcast (queries are small by construction); the posting join
    // is token-keyed on the shared wordcount frame; dl joins co-partition
    // on doc_id; per-query top-10 via window over the candidate frame
    // (fan-out bounded by Σ df over the ≤8 query terms — the WAND/maxscore
    // pruning a production engine adds changes cost, not results).
    QueryDef("x110_bm25_search",
      s"""WITH ${bm25Cte("")}
          SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
            round(s / 1000000000.0, 6) AS score
          FROM rk WHERE rank <= 10""") { (s, d) =>
      bm25TopK(s, d)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("doc_id"),
          round(col("s") / lit(B), 6).as("score"))
    },

    // LSH candidate-degree histogram (x111) — the hot-bucket skew monitor:
    // per doc, how many distinct near-dup CANDIDATE partners the band join
    // proposes (the x03 candidate set), bucketed into a fixed 7-row
    // histogram. This is the audit that shows, before any pair join runs,
    // whether a corpus's dup density is about to blow up candidate
    // generation (the shape x40's >128-doc posting cap defends against).
    // Scale: rides the shared band frame; the self-join is band-keyed; the
    // degree agg is map-side combined; output is 7 rows.
    QueryDef("x111_candidate_degree",
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
          deg AS (SELECT doc_id, count(*) AS degree FROM (
               SELECT d1 AS doc_id FROM cand UNION ALL SELECT d2 FROM cand) GROUP BY 1),
          ad AS (SELECT d.doc_id, coalesce(g.degree, 0) AS degree
             FROM documents d LEFT JOIN deg g USING (doc_id)),
          lab AS (SELECT CASE WHEN degree = 0 THEN 0 WHEN degree = 1 THEN 1
                 WHEN degree = 2 THEN 2 WHEN degree <= 4 THEN 3
                 WHEN degree <= 8 THEN 4 WHEN degree <= 16 THEN 5 ELSE 6 END AS ord,
               degree FROM ad),
          hist AS (SELECT ord, count(*) AS n_docs, max(degree) AS max_degree
             FROM lab GROUP BY 1),
          buckets(ord, bucket) AS (VALUES (0, '0'), (1, '1'), (2, '2'), (3, '3-4'),
               (4, '5-8'), (5, '9-16'), (6, '17+'))
          SELECT CAST(b.ord AS BIGINT) AS ord, b.bucket,
            CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs,
            CAST(coalesce(h.max_degree, 0) AS BIGINT) AS max_degree
          FROM buckets b LEFT JOIN hist h USING (ord)""") { (s, d) =>
      val bands = OpsQueries.sharedBands(s, d)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
      val deg = cand.select(col("d1").as("doc_id"))
        .unionByName(cand.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      val ad = t(s, d, "documents").select("doc_id")
        .join(deg, Seq("doc_id"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
      val ord = when(col("degree") === 0, 0).when(col("degree") === 1, 1)
        .when(col("degree") === 2, 2).when(col("degree") <= 4, 3)
        .when(col("degree") <= 8, 4).when(col("degree") <= 16, 5).otherwise(6)
      // limit(7): no-op — one row per fixed histogram bucket;
      // machine-visible bound for PlanGuard.
      val hist = ad.groupBy(ord.as("ord"))
        .agg(count(lit(1)).as("n_docs"), max("degree").as("max_degree"))
        .limit(7)
      val buckets = s.range(1)
        .select(posexplode(array(lit("0"), lit("1"), lit("2"), lit("3-4"),
          lit("5-8"), lit("9-16"), lit("17+"))).as(Seq("ord", "bucket")))
      buckets.join(broadcast(hist), Seq("ord"), "left")
        .select(col("ord").cast("long").as("ord"), col("bucket"),
          coalesce(col("n_docs"), lit(0L)).cast("long").as("n_docs"),
          coalesce(col("max_degree"), lit(0L)).cast("long").as("max_degree"))
    },

    // Neyman-optimal stratified allocation (x121) — the statistically
    // optimal upgrade of x19's proportional split: a fixed sample budget
    // (B=1000) is allocated across source strata ∝ N_h·S_h (population ×
    // within-stratum std-dev of doc length), which minimizes the sampling
    // variance of the corpus-mean estimate (Neyman 1934). Zero-variance
    // strata correctly get nothing. Determinism: N²·Var = N·Σx²−(Σx)² is
    // computed in decimal(38,0)/HUGEINT (exact at any corpus scale — the
    // x88 lesson), its correctly-rounded double sqrt snaps to 1e-3 fixed
    // point, and the allocation is pure integer floor-division plus
    // largest-remainder seats with a (remainder desc, source) tie-break —
    // bitwise identical in both engines. Scale: one map-side-combined
    // groupBy to the strata frame; everything after runs on |strata| rows.
    QueryDef("x121_neyman_allocation",
      """WITH st AS (SELECT source, count(*) AS nh,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sx2
             FROM documents GROUP BY 1),
          w AS (SELECT source, nh, sx,
               CAST(floor(sqrt((nh::HUGEINT * sx2::HUGEINT
                   - sx::HUGEINT * sx::HUGEINT)::DOUBLE) * 1000 + 0.5) AS BIGINT) AS wfp
             FROM st),
          tw AS (SELECT sum(wfp) AS totw FROM w),
          fl AS (SELECT source, nh, sx, wfp,
               CAST(CASE WHEN (SELECT totw FROM tw) > 0
                 THEN (1000 * wfp) // (SELECT totw FROM tw) END AS BIGINT) AS fa,
               CAST(CASE WHEN (SELECT totw FROM tw) > 0
                 THEN (1000 * wfp) % (SELECT totw FROM tw) END AS BIGINT) AS rem
             FROM w),
          sr AS (SELECT CAST(sum(fa) AS BIGINT) AS sfa FROM fl),
          rk AS (SELECT source, row_number() OVER (ORDER BY rem DESC, source) AS rn
             FROM fl WHERE rem IS NOT NULL)
          SELECT f.source, CAST(f.nh AS BIGINT) AS n_docs,
            CAST((2 * f.sx + f.nh) // (2 * f.nh) AS BIGINT) AS mean_chars,
            round(f.wfp / 1000.0, 3) AS neyman_w,
            CAST(CASE WHEN f.fa IS NOT NULL THEN f.fa
              + CASE WHEN rk.rn <= 1000 - (SELECT sfa FROM sr) THEN 1 ELSE 0 END END
              AS BIGINT) AS alloc
          FROM fl f LEFT JOIN rk USING (source)""") { (s, d) =>
      val st = t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("nh"),
          sum("n_chars").cast("long").as("sx"),
          sum(col("n_chars") * col("n_chars")).cast("long").as("sx2"))
      val dec = "decimal(38,0)"
      val w = st.select(col("source"), col("nh"), col("sx"),
        floor(sqrt((col("nh").cast(dec) * col("sx2").cast(dec)
            - col("sx").cast(dec) * col("sx").cast(dec)).cast("double")) * 1000 + 0.5)
          .cast("long").as("wfp"))
      val tw = w.agg(sum("wfp").as("totw"))
      val fl = w.crossJoin(broadcast(tw))
        .select(col("source"), col("nh"), col("sx"), col("wfp"),
          when(col("totw") > 0, expr("(1000 * wfp) div totw")).as("fa"),
          when(col("totw") > 0, pmod(col("wfp") * 1000, col("totw"))).as("rem"))
      val sr = fl.agg(sum("fa").as("sfa"))
      // limit(4096): no-op — one row per SOURCE stratum (curated
      // enumeration); machine-visible bound for PlanGuard, and the
      // cardinality argument for the whitelisted strata window above it.
      val rk = fl.filter(col("rem").isNotNull)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .select("source", "rn")
        .limit(4096)
      fl.join(broadcast(rk), Seq("source"), "left")
        .crossJoin(broadcast(sr))
        .select(col("source"), col("nh").cast("long").as("n_docs"),
          expr("(2 * sx + nh) div (2 * nh)").as("mean_chars"),
          round(col("wfp") / 1000.0, 3).as("neyman_w"),
          when(col("fa").isNotNull,
            col("fa") + when(col("rn") <= lit(1000) - col("sfa"), 1).otherwise(0))
            .cast("long").as("alloc"))
    },

    // N-gram NOVELTY score (x126) — the boilerplate-vs-original read a
    // curation pipeline runs beside dedup: per doc, the fraction of its
    // distinct shingles appearing in NO other document (corpus df = 1).
    // Exact clones correctly score 0 (nothing a clone carries is unique),
    // template families score low, original prose scores high — the
    // complement of x03's pairwise view, computed WITHOUT any pair
    // generation. Determinism: novelty = unique/total snaps to 1e-6 fixed
    // point by integer round-half-up (ratio of exact counts, one divide).
    // Scale shape: one shingle explode (linear), one vocabulary-keyed df
    // agg with map-side combine (the wordcount shape — the only corpus
    // shuffle), one doc-keyed re-agg; never any doc×doc structure.
    QueryDef("x126_ngram_novelty",
      s"""WITH sh AS (SELECT doc_id, list_distinct(${OpsQueries.ShinglesSql}) AS s FROM documents),
          ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
          df AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
          pd AS (SELECT ex.doc_id, count(*) AS n,
               sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS u
             FROM ex JOIN df USING (g) GROUP BY 1)
          SELECT d.doc_id, CAST(coalesce(pd.n, 0) AS BIGINT) AS n_shingles,
            CAST(coalesce(pd.u, 0) AS BIGINT) AS n_unique,
            CASE WHEN pd.n > 0
              THEN CAST((2 * pd.u * 1000000 + pd.n) // (2 * pd.n) AS BIGINT) / 1000000.0
            END AS novelty
          FROM documents d LEFT JOIN pd USING (doc_id)""") { (s, d) =>
      val ex = OpsQueries.sharedShingles(s, d)
        .select(col("doc_id"), explode(col("s")).as("g"))
      val df = ex.groupBy("g").agg(count(lit(1)).as("df"))
      val pd = ex.join(df, "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("u"))
      t(s, d, "documents").select("doc_id")
        .join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_shingles"),
          coalesce(col("u"), lit(0L)).cast("long").as("n_unique"),
          when(col("n") > 0,
            expr("(2 * u * 1000000 + n) div (2 * n)") / 1000000.0).as("novelty"))
    },

    // Zipf-law OCTAVE slopes (x127) — "does this corpus have a natural
    // token distribution?": the log-log slope of frequency vs rank,
    // sampled at octave ranks 1,2,4,…,1024 (natural text reads ≈ −1;
    // boilerplate-heavy or synthetic corpora bend away). Slopes are
    // PER-ROW doubles from two exact integer (rank, freq) pairs — no
    // float ever crosses rows, so the output is bit-identical in both
    // engines (the repo's float posture; a least-squares fit would sum
    // logs cross-row and was rejected for exactly that). Scale shape:
    // the global token count is one map-side-combined agg off the shared
    // wordcount frame; the top-1024 extraction is TakeOrdered (tree
    // reduce, no global sort); everything after runs on ≤11 rows. The
    // two unpartitioned windows are over the 1025-row top-k frame and
    // the 11-row octave frame — fixed-size by construction (whitelisted
    // in PlanGuard with that argument).
    QueryDef("x127_zipf_octaves",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
          gt AS (SELECT token, count(*) AS f FROM tok GROUP BY 1),
          rk AS (SELECT token, f, row_number() OVER (ORDER BY f DESC, token) AS r
             FROM gt),
          oct AS (SELECT r, f FROM rk
             WHERE r IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)),
          sl AS (SELECT r, f,
               lag(r) OVER (ORDER BY r) AS pr, lag(f) OVER (ORDER BY r) AS pf
             FROM oct)
          SELECT CAST(r AS BIGINT) AS rank, CAST(f AS BIGINT) AS freq,
            CASE WHEN pr IS NOT NULL AND f > 0 AND pf > 0
              THEN round((ln(f::DOUBLE) - ln(pf::DOUBLE))
                / (ln(r::DOUBLE) - ln(pr::DOUBLE)), 6) END AS slope
          FROM sl""") { (s, d) =>
      val octaves = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)
      val gt = OpsQueries.sharedWordCounts(s, d)
        .groupBy("token").agg(sum("c").as("f"))
      // TakeOrderedAndProject keeps the extraction a tree-reduce; the
      // ranking window then runs on the fixed 1025-row result only.
      val top = gt.orderBy(col("f").desc, col("token")).limit(1025)
        .withColumn("r", row_number().over(Window.orderBy(col("f").desc, col("token"))))
      val oct = top.filter(col("r").isin(octaves: _*))
        .withColumn("pr", lag("r", 1).over(Window.orderBy("r")))
        .withColumn("pf", lag("f", 1).over(Window.orderBy("r")))
      oct.select(col("r").cast("long").as("rank"), col("f").cast("long").as("freq"),
        when(col("pr").isNotNull && col("f") > 0 && col("pf") > 0,
          round((log(col("f").cast("double")) - log(col("pf").cast("double")))
            / (log(col("r").cast("double")) - log(col("pr").cast("double"))), 6))
          .as("slope"))
    },

    // MinHash estimator CALIBRATION audit (x129) — the measurement that
    // justifies the whole LSH family's thresholds: for every candidate
    // pair the band join proposes (at the exact-text REP level — the
    // estimator is a function of content), how does the signature's
    // Jaccard estimate (matching positions / 8) track the EXACT shingle
    // Jaccard? One row per estimator value: pair count, mean/min/max true
    // Jaccard. The table that tells a curation team whether 8 hashes and
    // a 0.8 gate are calibrated for THEIR corpus (a wide min-max spread
    // at est=1.0 means the signature is too short) — computed from live
    // pairs, not the binomial formula. Determinism: exact Jaccard snaps
    // to 1e-6 fixed point per pair by integer division; the mean is the
    // exact int round-half-up. Scale: rides the shared rep-cands stage
    // (band equi-join, never all-pairs); the sig recompute runs on rep
    // docs only; output ≤ 9 rows (one per possible match count, ≥2 since
    // candidacy requires one full matching band).
    QueryDef("x129_minhash_accuracy",
      s"""WITH rm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
             FROM documents),
          rd AS (SELECT d.doc_id, d.text FROM documents d
                 JOIN rm ON rm.doc_id = d.doc_id AND rm.rep = d.doc_id
                 WHERE length(d.text) > 0),
          bs AS (SELECT doc_id, ${OpsQueries.MinhashSigSql} AS sig,
                   list_distinct(${OpsQueries.ShinglesSql}) AS s
                 FROM rd),
          bb AS (SELECT doc_id, sig, s FROM bs
                 WHERE len(sig) > 0 AND sig[1] IS NOT NULL),
          bands AS (SELECT doc_id, band, md5(array_to_string(
                sig[band*${OpsQueries.BandSize}+1 : band*${OpsQueries.BandSize}+${OpsQueries.BandSize}], ',')) AS band_hash
              FROM bb, (SELECT unnest(generate_series(0, ${OpsQueries.NumHashes / OpsQueries.BandSize - 1})) AS band)),
          cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
          pr AS (SELECT c.d1, c.d2,
                len(list_filter(generate_series(1, ${OpsQueries.NumHashes}),
                  i -> b1.sig[i] = b2.sig[i])) AS est,
                (1000000 * len(list_intersect(b1.s, b2.s)))
                  // greatest(len(list_distinct(b1.s || b2.s)), 1) AS jfp
              FROM cand c JOIN bb b1 ON b1.doc_id = c.d1
              JOIN bb b2 ON b2.doc_id = c.d2)
          SELECT CAST(est AS BIGINT) AS est_matches,
            round(est / ${OpsQueries.NumHashes}.0, 6) AS est_jaccard,
            CAST(count(*) AS BIGINT) AS n_pairs,
            CAST((2 * sum(jfp) + count(*)) // (2 * count(*)) AS BIGINT)::DOUBLE
              / 1000000 AS mean_jaccard,
            CAST(min(jfp) AS BIGINT)::DOUBLE / 1000000 AS min_jaccard,
            CAST(max(jfp) AS BIGINT)::DOUBLE / 1000000 AS max_jaccard
          FROM pr GROUP BY 1, 2""") { (s, d) =>
      val rcand = OpsQueries.sharedRepCands(s, d)
      val sh = OpsQueries.sharedShingles(s, d)
      val rm = OpsQueries.sharedRepMap(s, d)
      val sig = t(s, d, "documents")
        .join(rm.filter(col("doc_id") === col("rep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .filter(length(col("text")) > 0 && size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"),
          MinHashFromTokensExpr.minhash_from_tokens(
            split(col("text"), " "), OpsQueries.NumHashes).as("sig"))
      val pr = rcand
        .join(sig.select(col("doc_id").as("d1"), col("sig").as("g1")), "d1")
        .join(sig.select(col("doc_id").as("d2"), col("sig").as("g2")), "d2")
        .join(sh.select(col("doc_id").as("d1"), col("s").as("s1")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("s").as("s2")), "d2")
        .select(
          size(filter(zip_with(col("g1"), col("g2"), (a, b) => a === b),
            x => x)).cast("long").as("est"),
          expr("CAST(1000000 AS BIGINT)").as("__m"),
          size(array_intersect(col("s1"), col("s2"))).cast("long").as("it"),
          greatest(size(array_union(col("s1"), col("s2"))), lit(1)).cast("long").as("un"))
        .select(col("est"), expr("(__m * it) div un").as("jfp"))
      pr.groupBy(col("est").as("est_matches"))
        .agg(count(lit(1)).as("n_pairs"), sum("jfp").as("sj"),
          min("jfp").as("mn"), max("jfp").as("mx"))
        .select(col("est_matches"),
          round(col("est_matches") / (OpsQueries.NumHashes * 1.0), 6).as("est_jaccard"),
          col("n_pairs").cast("long").as("n_pairs"),
          (expr("(2 * sj + n_pairs) div (2 * n_pairs)").cast("double") / 1000000)
            .as("mean_jaccard"),
          (col("mn").cast("double") / 1000000).as("min_jaccard"),
          (col("mx").cast("double") / 1000000).as("max_jaccard"))
    },

    // Hybrid retrieval fusion (x149) — reciprocal-rank fusion (Cormack et
    // al. 2009, k=60) of the suite's two oracle-green retrieval paths:
    // x110's lexical BM25 top-10 and x116's IVF-PQ ANN top-10, run against
    // the SAME query set (the BM25 one: doc/vec id % 97 == 0, id < 1000 —
    // the testdata keeps doc_id and vec_id aligned). This is the
    // production RAG retrieval shape: neither signal alone ranks a doc
    // that is mid-list in both above a doc that is top-1 in one and
    // absent in the other; RRF does, with no score normalization across
    // incomparable scales (BM25 nanos vs ADC micros). Determinism: each
    // list contributes floor(1e9/(60+rank)) — an int64 snapped per ROW,
    // so the fused score is an exact integer sum, never a float
    // accumulation across rows; ranking ties break on doc_id. Scale:
    // both inputs are |Q|-bounded top-k frames (≤ 10 rows/query); the
    // fusion is a tiny full-outer equi-join plus a window over ≤ 20
    // rows/query — free next to the retrieval passes it composes, which
    // themselves ride the pass-wide shared stages.
    QueryDef("x149_rrf_fusion",
      s"""WITH ${PqQueries.ivfpqSearchCte(97, 1000)},
          ${bm25Cte("l")}
          , ltop AS (SELECT qid, doc_id, rank FROM lrk WHERE rank <= 10),
          stop AS (SELECT qid, vec_id AS doc_id, rank FROM topk),
          fused AS (SELECT coalesce(a.qid, b.qid) AS qid,
               coalesce(a.doc_id, b.doc_id) AS doc_id,
               coalesce(CAST(floor(1000000000.0 / (60 + a.rank)) AS BIGINT), 0)
                 + coalesce(CAST(floor(1000000000.0 / (60 + b.rank)) AS BIGINT), 0) AS rrf_nano,
               CAST(coalesce(a.rank, 0) AS BIGINT) AS rank_lex,
               CAST(coalesce(b.rank, 0) AS BIGINT) AS rank_sem
             FROM ltop a FULL OUTER JOIN stop b
               ON a.qid = b.qid AND a.doc_id = b.doc_id),
          fr AS (SELECT qid, doc_id, rrf_nano, rank_lex, rank_sem,
               row_number() OVER (PARTITION BY qid ORDER BY rrf_nano DESC, doc_id) AS rank
             FROM fused)
          SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
            CAST(rrf_nano AS BIGINT) AS rrf_nano, rank_lex, rank_sem
          FROM fr WHERE rank <= 10""") { (s, d) =>
      val lex = bm25TopK(s, d).select(col("qid"), col("doc_id"), col("rank"))
      val sem = PqQueries.ivfpqSearch(s, d, 97, 1000, 11).topk
        .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
      rrfFuse(lex, sem)
    }
  )

  /** BM25 ranked retrieval (x110's engine body): (qid, doc_id, rank, s)
    * rows, rank ≤ 10 per query, s = the exact int64 nano-scaled score.
    * Factored so x149's fusion reuses the identical ranking. */
  private[ops] def bm25TopK(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val wc = OpsQueries.sharedWordCounts(s, d)
    val dl = wc.groupBy("doc_id").agg(sum("c").cast("long").as("dl"))
    val nt = t(s, d, "documents").agg(count(lit(1)).as("n"))
      .crossJoin(wc.agg(sum("c").cast("long").as("tt")))
    val rw = Window.partitionBy("doc_id").orderBy(col("c").desc, col("token"))
    // limit(88): no-op on the ≤11 query docs × 8 tokens the predicates
    // admit; makes the bound machine-visible to PlanGuard's check.
    val q = wc.filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000)
      .withColumn("r", row_number().over(rw)).filter(col("r") <= 8)
      .limit(88)
      .select(col("doc_id").as("qid"), col("token"))
    // limit(88): no-op — one df row per DISTINCT QUERY TOKEN (≤ the 88
    // query rows above); machine-visible bound for PlanGuard.
    val dfq = wc.join(broadcast(q.select("token").distinct()), "token")
      .groupBy("token").agg(count(lit(1)).cast("long").as("df"))
      .limit(88)
    val dlr = (col("dl") * col("n")).cast("double") / col("tt")
    val idf = log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val term = floor(idf * (col("c") * lit(2.2)) /
      (col("c") + lit(1.2) * (lit(0.25) + lit(0.75) * dlr)) * lit(B) + lit(0.5))
      .cast("long")
    val sc = wc.join(broadcast(q), "token")
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(dfq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(nt))
      .select(col("qid"), col("doc_id"), term.as("term"))
      .groupBy("qid", "doc_id").agg(sum("term").as("s"))
    // Bounded-heap top-10 (r16): struct(-s, doc_id) ascending = the
    // (s DESC, doc_id ASC) total order of the row_number window this
    // replaces (posexplode position + 1 = rank; s rides as a non-ordering
    // third field — (-s, doc_id) is already unique). 10 rows per
    // (map partition, qid) cross the shuffle instead of every candidate.
    sc.groupBy("qid")
      .agg(graft.ops.TopK.topk_min(
        struct((-col("s")).as("ns"), col("doc_id"), col("s")), 10).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("p", "hit")))
      .select(col("qid"), col("hit.doc_id").as("doc_id"),
        (col("p") + 1).as("rank"), col("hit.s").as("s"))
  }

  /** The BM25 CTE chain, `p`-prefixed for collision-free composition
    * (x149 combines it with the IVF-PQ chain, whose names include q/cand/
    * rk), ending at `<p>rk` = (qid, doc_id, s, rank). p = "" reproduces
    * x110's standalone names. */
  private[ops] def bm25Cte(p: String): String =
    s"""${p}wc AS (SELECT doc_id, token, count(*) AS c
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
             GROUP BY 1, 2),
          ${p}dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM ${p}wc GROUP BY 1),
          ${p}nt AS (SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT CAST(sum(c) AS BIGINT) FROM ${p}wc) AS tt),
          ${p}q AS (SELECT doc_id AS qid, token FROM (
               SELECT doc_id, token,
                 row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, token) AS r
               FROM ${p}wc WHERE doc_id % 97 = 0 AND doc_id < 1000) WHERE r <= 8),
          ${p}dfq AS (SELECT w.token, CAST(count(*) AS BIGINT) AS df
             FROM ${p}wc w JOIN (SELECT DISTINCT token FROM ${p}q) qt USING (token) GROUP BY 1),
          ${p}cand AS (SELECT ${p}q.qid, w.doc_id,
               CAST(floor(ln(1 + (${p}nt.n - ${p}dfq.df + 0.5) / (${p}dfq.df + 0.5))
                 * (w.c * 2.2) / (w.c + 1.2 * (0.25 + 0.75 * ((${p}dl.dl * ${p}nt.n)::DOUBLE / ${p}nt.tt)))
                 * 1000000000.0 + 0.5) AS BIGINT) AS term
             FROM ${p}q JOIN ${p}wc w USING (token)
             JOIN ${p}dfq ON ${p}dfq.token = w.token
             JOIN ${p}dl ON ${p}dl.doc_id = w.doc_id, ${p}nt
             WHERE w.doc_id <> ${p}q.qid),
          ${p}sc AS (SELECT qid, doc_id, sum(term) AS s FROM ${p}cand GROUP BY 1, 2),
          ${p}rk AS (SELECT qid, doc_id, s,
               row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS rank
             FROM ${p}sc)"""

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists,
    * both (qid, doc_id, rank): each list contributes
    * floor(1e9/(k+rank)) — snapped to int64 PER ROW, so the fused score
    * is an exact integer sum (no float accumulation across rows) — and
    * the fused ranking re-ranks by that sum, ties on doc_id. Output:
    * (qid, rank, doc_id, rrf_nano, rank_lex, rank_sem) with 0 marking
    * absence from a list. Both inputs are top-k frames, so everything
    * here is |Q|·k-bounded. */
  def rrfFuse(lex: org.apache.spark.sql.DataFrame, sem: org.apache.spark.sql.DataFrame,
              k: Int = 60, topN: Int = 10): org.apache.spark.sql.DataFrame = {
    def snap(r: org.apache.spark.sql.Column) =
      floor(lit(1e9) / (lit(k) + r)).cast("long")
    val a = lex.select(col("qid"), col("doc_id"),
      snap(col("rank")).as("sl"), col("rank").as("rl"))
    val b = sem.select(col("qid"), col("doc_id"),
      snap(col("rank")).as("ss"), col("rank").as("rs"))
    val fused = a.join(b, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(col("sl"), lit(0L)) + coalesce(col("ss"), lit(0L))).as("rrf_nano"),
        coalesce(col("rl"), lit(0)).cast("long").as("rank_lex"),
        coalesce(col("rs"), lit(0)).cast("long").as("rank_sem"))
    val w = Window.partitionBy("qid").orderBy(col("rrf_nano").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= topN)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("doc_id"),
        col("rrf_nano"), col("rank_lex"), col("rank_sem"))
  }
}
