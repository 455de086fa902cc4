package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic invariants for the clustering-family ops (x32-x34): the oracle
  * queries check exact values; these pin the properties that make the ops
  * correct as ALGORITHMS (Lloyd monotonicity, dedup soundness, reassembly). */
class ClusterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def codes() = {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    KMeans.withInt8Codes(e.select(col("vec_id"), col("embedding")), "embedding", "qv")
      .select("vec_id", "qv")
  }

  test("kmeans: every vector assigned once, to a live centroid id") {
    val qb = codes()
    val a = KMeans.assignments(qb, "vec_id", "qv", k = 8, iters = 2).collect()
    assert(a.length == qb.count())
    assert(a.map(_.getLong(0)).distinct.length == a.length)
    val cids = a.map(_.getLong(2)).distinct
    assert(cids.forall(c => c >= 0 && c < 8))
  }

  test("kmeans: Lloyd iterations never increase total within-cluster distance") {
    val qb = codes().persist()
    try {
      val totals = (1 to 3).map { iters =>
        KMeans.assignments(qb, "vec_id", "qv", k = 8, iters = iters)
          .agg(sum("dist2")).first().getDouble(0)
      }
      assert(totals.sliding(2).forall { case Seq(a, b) => b <= a + 1e-6 },
        s"dist2 totals must be non-increasing: $totals")
    } finally qb.unpersist()
  }

  test("kmeans: deterministic across runs") {
    val qb = codes()
    def run() = KMeans.assignments(qb, "vec_id", "qv", k = 8, iters = 2)
      .select("vec_id", "cid", "dist2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("mini-batch kmeans: batches=1 is exactly one Lloyd iteration") {
    val qb = codes().persist()
    try {
      def norm(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
      // one batch = assign-all + cumulative update + final assign, which is
      // the iters=2 Lloyd chain verbatim — the closed-form-step equivalence
      val mb = norm(KMeans.miniBatchAssignments(qb, "vec_id", "qv", k = 8, batches = 1)
        .select("vec_id", "qv", "cid", "dist2").collect())
      val ll = norm(KMeans.assignments(qb, "vec_id", "qv", k = 8, iters = 2)
        .select("vec_id", "qv", "cid", "dist2").collect())
      assert(mb == ll)
    } finally qb.unpersist()
  }

  test("mini-batch kmeans: every vector assigned, deterministic, seeds persist for untouched clusters") {
    val qb = codes().persist()
    try {
      def run() = KMeans.miniBatchAssignments(qb, "vec_id", "qv", k = 8, batches = 2)
        .select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      val a = run()
      assert(a.length == qb.count())
      assert(a.map(_._1).distinct.length == a.length)
      assert(a.forall(r => r._2 >= 0 && r._2 < 8))
      assert(run() == a)
      // a batch count that starves every round (ids 0..n-1, batches > n:
      // rounds r >= n see empty batches) leaves the seed centroids intact —
      // the final assignment is then plain nearest-seed
      import spark.implicits._
      val tiny = Seq((0L, Seq(0, 0)), (1L, Seq(100, 100)), (5L, Seq(99, 99)))
        .toDF("vec_id", "qv")
      val seeded = KMeans.miniBatchAssignments(tiny, "vec_id", "qv", k = 2, batches = 7)
        .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // batches touched: only vec_id 5 lands in round 5 (5 % 7); rounds 0/1
      // move centroid 0/1 toward themselves only — 5 stays nearest seed 1
      assert(seeded(5L) == 1L && seeded(0L) == 0L)
    } finally qb.unpersist()
  }

  test("x33 semantic dedup: every dropped vector has a smaller-id cluster-mate at qcos >= tau") {
    val a = KMeans.assignments(codes(), "vec_id", "qv", k = 8, iters = 2)
      .withColumn("qn", KMeans.int8SqNorm(col("qv")))
      .select("vec_id", "qv", "qn", "cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray, r.getLong(2), r.getLong(3)))
    val survivors = graft.SparkEntry.queries("x33_semantic_dedup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    graft.util.SharedStages.releaseAll()
    def qcos(x: (Long, Array[Int], Long, Long), y: (Long, Array[Int], Long, Long)): Double = {
      val dot = x._2.zip(y._2).map { case (p, q) => p.toLong * q.toLong }.sum
      dot.toDouble / (math.sqrt(x._3.toDouble) * math.sqrt(y._3.toDouble))
    }
    val dropped = a.filter(v => !survivors.contains(v._1))
    assert(dropped.nonEmpty, "threshold should drop some organic near-dups")
    for (v <- dropped) {
      val hasWitness = a.exists(u => u._4 == v._4 && u._1 < v._1 && qcos(u, v) >= 0.4)
      assert(hasWitness, s"vec ${v._1} dropped without a smaller-id witness")
    }
    // soundness the other way: no surviving pair within a cluster at >= tau
    // where the larger id should have been dropped
    val surv = a.filter(v => survivors.contains(v._1))
    val violation = surv.exists(v => surv.exists(u =>
      u._4 == v._4 && u._1 < v._1 && qcos(u, v) >= 0.4))
    assert(!violation, "a surviving vector still has a smaller-id near-dup survivor")
  }

  test("within-cell LSH variant: catches identical codes, survivors a superset of exhaustive") {
    val assigned = KMeans.assignments(codes(), "vec_id", "qv", k = 8, iters = 2)
      .persist()
    try {
      val exhaustive = Dedup.dropSemanticDuplicates(assigned, "vec_id", "qv", 0.4)
        .collect().map(_.getLong(0)).toSet
      val bucketed = Dedup.dropSemanticDuplicates(assigned, "vec_id", "qv", 0.4, lshPlanes = 4)
        .collect().map(_.getLong(0)).toSet
      graft.util.PersistScope.releaseAll()
      // only same-bucket pairs are compared: nothing new is dropped
      assert(exhaustive.subsetOf(bucketed))
      // a vector with IDENTICAL codes (same projections, same bucket) under a
      // larger id must still be caught by the bucketed form
      val dup = assigned.select("vec_id", "qv", "cid", "dist2").collect()
        .find(_.getLong(0) == 7L).get
      import spark.implicits._
      val withCopy = assigned.unionByName(Seq(
        (9999L, dup.getSeq[Int](1), dup.getLong(2), dup.getDouble(3)))
        .toDF("vec_id", "qv", "cid", "dist2"))
      val survivors = Dedup.dropSemanticDuplicates(withCopy, "vec_id", "qv", 0.4, lshPlanes = 4)
        .collect().map(_.getLong(0)).toSet
      graft.util.PersistScope.releaseAll()
      assert(survivors.contains(7L) && !survivors.contains(9999L))
    } finally assigned.unpersist()
  }

  test("x33: a planted scaled copy is dropped, the original kept") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    // copy of vector 42 at a new max id, scaled: identical int8 codes
    val copy = (e.map(_._1).max + 1, e.find(_._1 == 42L).get._2.map(_ * 1.02f))
    val tmp = SparkSpec.tempDir("semdedup")
    (e :+ copy).toSeq.toDF("vec_id", "embedding")
      .withColumn("label", lit(0)) // schema parity with the real table
      .write.parquet(s"$tmp/embeddings.parquet")
    val survivors = graft.SparkEntry.queries("x33_semantic_dedup")(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    graft.util.SharedStages.releaseAll()
    assert(survivors.contains(42L) && !survivors.contains(copy._1))
  }

  test("passage dedup: first occurrence wins, docs reassemble in order") {
    import spark.implicits._
    val docs = Seq(
      // doc 0: two passages (8 + 2 tokens)
      (0L, "a b c d e f g h i j"),
      // doc 1: repeats doc 0's first passage, then fresh content
      (1L, "a b c d e f g h k l"),
      // doc 2: full duplicate of doc 0 -> everything dropped
      (2L, "a b c d e f g h i j"),
      // doc 3: repeats ITS OWN first passage as its second
      (3L, "p q r s t u v w p q r s t u v w")
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.util.PersistScope.releaseAll()
    assert(out(0L) == ((2L, 2L, "a b c d e f g h i j")))
    assert(out(1L) == ((2L, 1L, "k l")))
    assert(out(2L) == ((2L, 0L, "")))
    assert(out(3L) == ((2L, 1L, "p q r s t u v w")))
  }

  test("kmeans differential: matches an in-memory reference Lloyd over random int codes") {
    import spark.implicits._
    val rnd = new scala.util.Random(606L)
    val dims = 8
    val vecs: Seq[(Long, Array[Int])] =
      (0L until 120L).map(i => (i, Array.fill(dims)(rnd.nextInt(255) - 127)))
    val k = 4
    val iters = 3
    // reference Lloyd: same init (id < k), same (dist2, cid) tie-break,
    // same exact integer centroid sums
    var cents: Map[Long, Array[Double]] =
      vecs.filter(_._1 < k).map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def d2(v: Array[Int], c: Array[Double]): Double =
      v.zip(c).map { case (x, cc) => (x - cc) * (x - cc) }.sum
    var expected: Map[Long, Long] = Map.empty
    for (it <- 1 to iters) {
      expected = vecs.map { case (id, v) =>
        id -> cents.toSeq.map { case (cid, c) => (d2(v, c), cid) }.min._2
      }.toMap
      if (it < iters) {
        cents = vecs.groupBy(v => expected(v._1)).map { case (cid, members) =>
          val sums = Array.fill(dims)(0L)
          members.foreach { case (_, v) => for (p <- 0 until dims) sums(p) += v(p) }
          cid -> sums.map(_.toDouble / members.size)
        }
      }
    }
    val qb = vecs.toDF("vec_id", "qv")
    val got = KMeans.assignments(qb, "vec_id", "qv", k, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.util.PersistScope.releaseAll()
    assert(got == expected)
  }

  test("mini-batch kmeans differential: matches an in-memory reference over random int codes") {
    import spark.implicits._
    val rnd = new scala.util.Random(1707L)
    val dims = 8
    val vecs: Seq[(Long, Array[Int])] =
      (0L until 150L).map(i => (i, Array.fill(dims)(rnd.nextInt(255) - 127)))
    val k = 4
    def d2(v: Array[Int], c: Array[Double]): Double =
      v.zip(c).map { case (x, cc) => (x - cc) * (x - cc) }.sum
    for (batches <- Seq(1, 2, 3)) {
      // reference: per-round batch assignment + CUMULATIVE integer stats;
      // untouched centroids keep the integer seed (count 1 for dist2n)
      val seed: Map[Long, Array[Int]] = vecs.filter(_._1 < k).toMap
      var cents: Map[Long, Array[Double]] = seed.map { case (id, v) => id -> v.map(_.toDouble) }
      val sums = scala.collection.mutable.Map[Long, Array[Long]]()
      val counts = scala.collection.mutable.Map[Long, Long]()
      for (r <- 0 until batches) {
        for ((id, v) <- vecs if id % batches == r) {
          val cid = cents.toSeq.map { case (c, ce) => (d2(v, ce), c) }.min._2
          val s = sums.getOrElseUpdate(cid, Array.fill(dims)(0L))
          for (p <- 0 until dims) s(p) += v(p)
          counts(cid) = counts.getOrElse(cid, 0L) + 1
        }
        cents = seed.map { case (cid, sv) =>
          cid -> (if (counts.contains(cid)) sums(cid).map(_.toDouble / counts(cid))
                  else sv.map(_.toDouble))
        }
      }
      val expected = vecs.map { case (id, v) =>
        val cid = cents.toSeq.map { case (c, ce) => (d2(v, ce), c) }.min._2
        val (sa, n) =
          if (counts.contains(cid)) (sums(cid), counts(cid))
          else (seed(cid).map(_.toLong), 1L)
        val dn = v.zip(sa).map { case (x, s) => (x * n - s) * (x * n - s) }.sum
        id -> ((cid, n, dn))
      }.toMap
      val got = KMeans.miniBatchAssignments(vecs.toDF("vec_id", "qv"), "vec_id", "qv", k, batches)
        .select("vec_id", "cid", "nc", "dist2n").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      graft.util.PersistScope.releaseAll()
      assert(got == expected, s"mismatch at batches=$batches")
    }
  }

  test("passage dedup differential: matches an in-memory reference over random corpora") {
    import spark.implicits._
    for (seed <- Seq(1L, 7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      // tiny alphabet + short docs -> passage collisions everywhere
      val docs: Seq[(Long, String)] = (0L until 60L).map { i =>
        val n = 1 + rnd.nextInt(30)
        (i, Seq.fill(n)(('a' + rnd.nextInt(3)).toChar.toString).mkString(" "))
      }
      val pt = 4
      // reference: first occurrence by (doc_id, pos) wins, docs reassemble
      val passages = docs.flatMap { case (id, text) =>
        text.split(" ", -1).grouped(pt).zipWithIndex.map { case (p, j) => (id, j, p.mkString(" ")) }
      }
      val winner = passages.groupBy(_._3).map { case (p, occ) => p -> occ.map(t => (t._1, t._2)).min }
      val expected = docs.map { case (id, _) =>
        val own = passages.filter(_._1 == id).sortBy(_._2)
        val kept = own.filter(t => winner(t._3) == ((t._1, t._2)))
        id -> ((own.size.toLong, kept.size.toLong, kept.map(_._3).mkString(" ")))
      }.toMap
      val got = Dedup.passageDedup(docs.toDF("doc_id", "text"), "doc_id", "text", pt)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      graft.util.PersistScope.releaseAll()
      assert(got == expected, s"seed $seed")
    }
  }

  test("winnowing: guarantee holds, selection is local under edits") {
    import spark.implicits._
    val w = 4
    val rnd = new scala.util.Random(36L)
    val base = Seq.fill(60)(('a' + rnd.nextInt(5)).toChar.toString).mkString(" ")
    val edited = "zz " + base // one token inserted at the front
    val docs = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", w).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // independent reference: every w-window of 3-gram md5s contributes its min
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hashes(text: String) = text.split(" ").sliding(3).map(g => md5hex(g.mkString(" "))).toVector
    for ((id, text) <- Seq((0L, base), (1L, edited))) {
      val hs = hashes(text)
      val expected = (if (hs.length <= w) Vector(hs.min)
        else hs.sliding(w).map(_.min).toVector).toSet
      assert(byDoc(id) == expected, s"doc $id")
    }
    // locality: the front edit perturbs only windows overlapping it — the
    // two docs share the vast majority of fingerprints (MinHash would
    // resample globally)
    val shared = byDoc(0L).intersect(byDoc(1L)).size.toDouble / byDoc(0L).size
    assert(shared >= 0.8, s"edit should be local, shared=$shared")
    // compression: far fewer fingerprints than shingles
    assert(byDoc(0L).size < hashes(base).length / 2)
  }

  test("winnow pairs: cross-algorithm agreement with the MinHash-verified near-dups") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val minhash = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.PersistScope.releaseAll()
    val winnow = Dedup.winnowCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    graft.util.PersistScope.releaseAll()
    assert(minhash.nonEmpty)
    // a verified near-dup shares long shingle runs, and the winnowing
    // guarantee makes long matches share fingerprints — every MinHash
    // near-dup must surface as a winnow candidate, with strong overlap
    for (pair <- minhash)
      assert(winnow.contains(pair), s"near-dup $pair missed by winnowing")
    // overlap strength scales with match length: strong for typical pairs
    // (short docs can drop to the threshold, e.g. 4 shared fingerprints)
    val strengths = minhash.toSeq.map(winnow)
    assert(strengths.max >= 10 && strengths.forall(_ >= 2))
  }

  test("passage dedup invariant: each distinct passage text kept exactly once corpus-wide") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Dedup.passageDedup(docs, "doc_id", "text").collect()
    graft.util.PersistScope.releaseAll()
    // reconstruct kept passages by re-splitting cleaned text into 8-token runs
    // only for docs where ALL passages were kept contiguously is that valid —
    // instead assert counts: total kept == number of distinct passage texts
    val totalKept = out.map(_.getLong(2)).sum
    val distinctPassages = docs
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, cast(ceil(size(split(text, ' ')) / 8.0) as int) - 1)," +
          " j -> array_join(slice(split(text, ' '), j * 8 + 1, 8), ' '))")).as("p"))
      .select("p").distinct().count()
    assert(totalKept == distinctPassages,
      s"kept $totalKept vs $distinctPassages distinct passages")
    // and nothing was invented: every doc keeps at most its own passage count
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)))
  }

  test("bucketed assignment with nprobe = all cells equals exact brute-force argmin") {
    val qb = codes().persist()
    try {
      // k = 4·|corpus| shifted-variant centroids (the x70 construction)
      val cents = qb
        .select(col("vec_id"), col("qv"),
          explode(array(lit(0), lit(1), lit(2), lit(3))).as("j"))
        .select((col("vec_id") * 4 + col("j")).as("cid"),
          transform(col("qv"), v => v + col("j")).as("ce"))
        .persist()
      val m = cents.filter(col("cid") % 44 === 0).count().toInt
      // probing EVERY cell removes the approximation: result must equal the
      // exact argmin over all k centroids, (d2, cid) tie-break.
      val bucketed = KMeans.bucketedAssignments(cents, qb, "vec_id", "qv",
        cellStep = 44, nprobe = m)
        .select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val exact = qb.crossJoin(cents)
        .withColumn("d2", KMeans.int8Dist2(col("qv"), col("ce")))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("b"))
        .select(col("vec_id"), col("b.cid"), col("b.d2")).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(bucketed == exact)
      assert(bucketed.nonEmpty)
    } finally qb.unpersist()
  }

  test("bucketed assignment: every vector assigned, winner lives in a probed cell") {
    val qb = codes()
    val cents = qb
      .select(col("vec_id"), col("qv"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("j"))
      .select((col("vec_id") * 4 + col("j")).as("cid"),
        transform(col("qv"), v => v + col("j")).as("ce"))
    val out = KMeans.bucketedAssignments(cents, qb, "vec_id", "qv",
      cellStep = 44, nprobe = 5).collect()
    assert(out.length == qb.count())
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // every winning cell is a coarse centroid id
    assert(out.forall(r => r.getLong(3) % 44 == 0))
  }

  test("probeCells: exactly the nprobe nearest coarse cells per vector") {
    import org.apache.spark.sql.expressions.Window
    val qb = codes().persist()
    try {
      val cents = qb
        .select(col("vec_id"), col("qv"),
          explode(array(lit(0), lit(1), lit(2), lit(3))).as("j"))
        .select((col("vec_id") * 4 + col("j")).as("cid"),
          transform(col("qv"), v => v + col("j")).as("ce"))
        .persist()
      val probes = KMeans.probeCells(cents, qb, "vec_id", "qv",
        cellStep = 44, nprobe = 4).collect()
      val byVec = probes.groupBy(_.getLong(0))
      assert(byVec.size == qb.count())
      assert(byVec.values.forall(_.map(_.getLong(2)).distinct.length == 4))
      assert(probes.forall(_.getLong(2) % 44 == 0))
      // the probe set IS the 4 nearest cells under (int64 dist², cell id) —
      // a brute-force window over every coarse cell must reproduce it exactly
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cell"))
      val exact = qb.crossJoin(
          cents.filter(col("cid") % 44 === 0)
            .select(col("cid").as("cell"), col("ce")))
        .withColumn("d2", KMeans.int8Dist2(col("qv"), col("ce")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probes.map(r => (r.getLong(0), r.getLong(2))).toSet == exact)
    } finally qb.unpersist()
  }

  test("x80 bucketed IVF search: well-formed ranks and high recall vs exact cosine") {
    // The oracle gates x80's exact values (it replays the same probe walk);
    // what it CANNOT assert is quality against the non-IVF ground truth.
    // This pins that: recall@3 of the composed bucketed-index search vs the
    // exact brute-force cosine top-3 over the full corpus.
    import org.apache.spark.sql.expressions.Window
    val q80 = graft.ops.ClusterQueries.defs.find(_.name == "x80_ivf_bucketed").get
    val got = q80.fn(spark, sf).collect()
    graft.util.SharedStages.releaseAll()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    // per query: ranks are 1..n consecutive, no self-match
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length), s"qid=$qid ranks")
      assert(rows.forall(_.getLong(1) != qid), s"qid=$qid self-match")
    }
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") >= 8 && col("vec_id") < 24)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val exact = qs.crossJoin(emb)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qe"), col("embedding")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = got.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.5, s"recall@3 $recall below floor (hits=$hits of ${exact.size})")
  }
}
