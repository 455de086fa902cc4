package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the retrieval/audit family (x109–x111). */
class RetrievalQueriesSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
  }

  test("x109 vocab growth: cumulative counts reconcile with the corpus totals") {
    val rows = SparkEntry.queries("x109_vocab_growth")(spark, "/root/testdata/sf0.001")
      .orderBy("bucket").collect()
    assert(rows.length == 10)
    // monotone cumulative columns
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) <= b.getLong(1) && a.getLong(2) <= b.getLong(2)
        && a.getLong(3) <= b.getLong(3))
    }
    // final cumulative row equals corpus-wide totals
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import org.apache.spark.sql.functions._
    val nDocs = docs.count()
    val toks = docs.select(explode(split(col("text"), " ")).as("t"))
    val last = rows.last
    assert(last.getLong(1) == nDocs)
    assert(last.getLong(2) == toks.count())
    assert(last.getLong(3) == toks.distinct().count())
    // new_tokens sums to the distinct vocabulary
    assert(rows.map(_.getLong(4)).sum == last.getLong(3))
  }

  test("x110 BM25: tf raises score, doc length penalizes, query doc excluded") {
    // query doc 0 (0 % 97 == 0) emits its tokens; candidates differ in tf/dl.
    val dir = SparkSpec.tempDir("bm25")
    writeDocs(dir, Seq(
      0L -> "apple banana",
      1L -> "apple apple apple",             // high tf, short
      2L -> "apple apple apple pad pad pad pad pad pad", // same tf, longer
      3L -> "apple",                          // tf 1, shortest
      4L -> "cherry cherry cherry"))          // no query terms
    val got = SparkEntry.queries("x110_bm25_search")(spark, dir)
      .orderBy("qid", "rank").collect()
    val forQ0 = got.filter(_.getLong(0) == 0L)
    // doc 4 never scores (no overlap); doc 0 excluded as the query itself
    assert(!forQ0.exists(_.getLong(2) == 4L) && !forQ0.exists(_.getLong(2) == 0L))
    val ranked = forQ0.map(_.getLong(2)).toSeq
    // BM25 ordering on this fixture: doc1 (3x apple, dl 3) first; the
    // length penalty then drops doc2 (3x apple but dl 9) below even doc3
    // (1x apple, dl 1) — hand-checked: 0.469 > 0.408 > 0.342.
    assert(ranked == Seq(1L, 3L, 2L))
    assert(forQ0.forall(_.getDouble(3) > 0.0))
  }

  test("x121 Neyman: allocation proportional to N·S, zero-variance stratum gets nothing") {
    import spark.implicits._
    // A: lengths {10,10,20,20} -> N²Var = 400, N·S = 20 -> w 20.0
    // B: constant 15        -> N·S = 0  -> alloc 0 (Neyman's point)
    // C: lengths {0,30}     -> N²Var = 900, N·S = 30 -> w 30.0
    // budget 1000 splits 400/0/600 with no remainder seats.
    val rows = Seq(
      (1L, "a", "A", 10L), (2L, "a", "A", 10L), (3L, "a", "A", 20L), (4L, "a", "A", 20L),
      (5L, "a", "B", 15L), (6L, "a", "B", 15L), (7L, "a", "B", 15L), (8L, "a", "B", 15L),
      (9L, "a", "C", 0L), (10L, "a", "C", 30L))
    val dir = SparkSpec.tempDir("neyman")
    rows.map { case (id, tx, src, nc) => (id, tx, "en", src, nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("x121_neyman_allocation")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got("A") == ((4L, 15L, 20.0, 400L)))
    assert(got("B") == ((4L, 15L, 0.0, 0L)))
    assert(got("C") == ((2L, 15L, 30.0, 600L)))
  }

  test("x121 organic: allocations are non-negative and sum exactly to the budget") {
    val rows = SparkEntry.queries("x121_neyman_allocation")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.isNullAt(4) || r.getLong(4) >= 0L))
    if (rows.forall(!_.isNullAt(4)))
      assert(rows.map(_.getLong(4)).sum == 1000L, "largest-remainder seats close the budget")
  }

  test("x126 novelty: clones score 0, a fully original doc scores 1") {
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = SparkSpec.tempDir("novelty")
    writeDocs(dir, Seq(
      1L -> clone, 2L -> clone, // every shingle shared -> novelty 0
      3L -> "completely different words about ships and harbors tonight",
      4L -> "ab")) // < 3 tokens -> no shingles -> NULL novelty
    val got = SparkEntry.queries("x126_ngram_novelty")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(3) == 0.0 && got(2L).getDouble(3) == 0.0)
    assert(got(3L).getDouble(3) == 1.0)
    assert(got(4L).getLong(1) == 0L && got(4L).isNullAt(3))
  }

  test("x126 organic: novelty = unique/total at 1e-6 fixed point, bounded [0,1]") {
    val rows = SparkEntry.queries("x126_ngram_novelty")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, u) = (r.getLong(1), r.getLong(2))
      assert(u >= 0 && u <= n)
      if (n > 0) {
        val expected = (2 * u * 1000000 + n) / (2 * n) / 1000000.0
        assert(r.getDouble(3) == expected)
      } else assert(r.isNullAt(3))
    }
  }

  test("x127 zipf octaves: ranks are octaves, freqs non-increasing, slopes <= 0") {
    val rows = SparkEntry.queries("x127_zipf_octaves")(spark, "/root/testdata/sf0.001")
      .orderBy("rank").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(0) == 1L && rows.head.isNullAt(2))
    rows.foreach(r => assert((r.getLong(0) & (r.getLong(0) - 1)) == 0L, "rank is a power of 2"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) >= b.getLong(1), "freq non-increasing with rank")
      if (!b.isNullAt(2)) assert(b.getDouble(2) <= 0.0, "log-log slope non-positive")
    case _ => ()
    }
  }

  test("x111 candidate degree: clone triple lands in bucket 2, loner in bucket 0") {
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = SparkSpec.tempDir("degree")
    writeDocs(dir, Seq(
      1L -> clone, 2L -> clone, 3L -> clone,  // 3-clique of band collisions
      4L -> "completely different words about ships and harbors tonight"))
    val got = SparkEntry.queries("x111_candidate_degree")(spark, dir)
      .orderBy("ord").collect()
    assert(got.length == 7)
    val byBucket = got.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byBucket("2") == (3L, 2L)) // each clone has exactly 2 partners
    assert(byBucket("0")._1 == 1L)    // the loner
    assert(got.map(_.getLong(2)).sum == 4L)
  }
}
