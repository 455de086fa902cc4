package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Round-14 additions: q33 (exact-integer correlated scalar subqueries),
  * x145 (blocked approximate string join), x146 (deterministic hash
  * bottom-k sample), s28 (streaming KMV distinct sketch). Planted fixtures
  * with hand-computable expectations plus organic cross-checks — the
  * DuckDB oracle gates values separately. */
class Round14QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q33 organic: flagged orders replicate a driver-side exact BigInt rule") {
    val got = SparkEntry.queries("q33_correlated_subqueries")(spark, sf).collect()
      .map(r => r.getLong(0)).toSet
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        math.round(r.getDouble(2) * 100)))
    val returned = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") === "R").select("l_orderkey").collect()
      .map(_.getAs[Number](0).longValue).toSet
    val byCust = orders.groupBy(_._2)
    val expect = orders.filter { case (ok, ck, cents) =>
      val g = byCust(ck)
      BigInt(cents) * g.length > g.map(t => BigInt(t._3)).sum && returned(ok)
    }.map(_._1).toSet
    assert(got == expect)
    assert(got.nonEmpty, "fixture exercises the positive branch")
    assert(orders.map(_._1).toSet.diff(got).nonEmpty, "and the negative branch")
  }

  test("q34 organic: lateral top-3 replicates a driver-side sort-take per customer") {
    val got = SparkEntry.queries("q34_lateral_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        math.round(r.getDouble(2) * 100)))
    val expect = orders.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      os.sortBy(t => (-t._3, t._2)).take(3).map(t => (ck, t._2, t._3)).toSeq
    }.toSet
    assert(got.toSet == expect)
    assert(got.length == got.toSet.size, "no duplicate (customer, order) rows")
    assert(expect.groupBy(_._1).values.exists(_.size == 3), "limit binds somewhere")
  }

  test("x145 planted: block + length-prune + levenshtein verify; zero-match names survive") {
    val dir = SparkSpec.tempDir("x145")
    import spark.implicits._
    // Block "ring": "red ring" vs "rad ring" (d=1), "mauve ring" (d=5/4
    // to the other ring names -> pruned by DISTANCE not length).
    // Block "bolt": "blue bolt" alone -> zero matches, survives via left
    // join. Length prune: "extremely long ring" (19 chars) never pairs
    // with 8-char names (|len diff| > 3) even though the block matches.
    Seq(("red ring", 2L), ("rad ring", 1L), ("mauve ring", 1L),
        ("blue bolt", 3L), ("extremely long ring", 1L))
      .flatMap { case (n, k) => (1L to k).map(i => (n.hashCode.toLong * 100 + i, n)) }
      .toDF("p_partkey", "p_name")
      .withColumn("p_brand", lit("Brand#1")).withColumn("p_retailprice", lit(1.0))
      .write.parquet(s"$dir/part.parquet")
    val rows = SparkEntry.queries("x145_fuzzy_name_join")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("red ring", "rad ring", "mauve ring", "blue bolt",
      "extremely long ring"))
    assert(rows("red ring").getLong(1) == 2L, "n_parts counts the expansion")
    assert(rows("red ring").getLong(2) == 1L && rows("red ring").getString(4) == "rad ring"
      && rows("red ring").getLong(3) == 1L, "d=1 match found")
    assert(rows("rad ring").getString(4) == "red ring")
    assert(rows("mauve ring").getLong(2) == 0L, "d=5/4 to the ring names: filtered")
    assert(rows("blue bolt").getLong(2) == 0L && rows("blue bolt").isNullAt(3),
      "singleton block survives with null best")
    assert(rows("extremely long ring").getLong(2) == 0L,
      "length prune excludes cross-length pairs")
  }

  test("x146 organic: per-source bottom-16 by hash, dense ranks, hashes ascending") {
    val rows = SparkEntry.queries("x146_hash_sample")(spark, sf).collect()
    val bySrc = rows.groupBy(_.getString(0))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == docs.keySet)
    for ((s, rs) <- bySrc) {
      assert(rs.length == math.min(16L, docs(s)), s"k or group size for $s")
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, "dense ranks")
      val hvs = sorted.map(_.getLong(3))
      assert(hvs.sameElements(hvs.sorted), "ranked by ascending hash")
      assert(hvs.distinct.length == hvs.length, "no hash ties at 60 bits")
    }
  }

  test("s28 multi-batch: split arrival equals the batch sketch (order-free bottom-k)") {
    // Same docs, two layouts: one file (single batch) vs three files
    // replayed one file per micro-batch. Bottom-k of a set is order-free,
    // so the final emitted sketch must be identical — the monotonicity
    // argument the Scaladoc makes, pinned.
    import spark.implicits._
    val docs = (0L until 90L).map { i =>
      (i, s"tok${i % 37} tok${(i * 7) % 53} shared common", "en", s"src${i % 3}", 10L)
    }
    def run(dir: String, glob: String, mfpt: Option[Int]): Map[String, (Int, Long)] = {
      val q = graft.streaming.EventStream.runKmvDistinct(
        spark, dir, s"s28_spec_${dir.hashCode.abs}_${glob.hashCode.abs}",
        k = 16, glob = glob, maxFilesPerTrigger = mfpt)
      graft.streaming.EventStream.awaitDone(q)
      import org.apache.spark.sql.expressions.Window
      q.sparkSession.table(q.name)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("source").orderBy(col("rows_seen").desc)))
        .filter(col("__rn") === 1).collect()
        .map(r => r.getString(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    }
    // Flat FILES (not Spark output dirs): the streamReader glob matches
    // filenames, so move each single part file out — the EventStreamSpec
    // multi-batch layout.
    def writeFlat(dir: String, name: String,
                  ds: Seq[(Long, String, String, String, Long)]): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val sub = s"$dir/__stage_$name"
      ds.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val one = SparkSpec.tempDir("s28one")
    writeFlat(one, "docs_all.parquet", docs)
    val many = SparkSpec.tempDir("s28many")
    for (b <- 0 until 3)
      writeFlat(many, s"docs_$b.parquet", docs.filter(_._1 % 3 == b))
    val a = run(one, "docs_*.parquet", None)
    val b = run(many, "docs_*.parquet", Some(1))
    assert(a == b, s"single-batch vs 3-batch sketches diverge: $a vs $b")
    assert(a.nonEmpty && a.values.exists(_._2 > 0), "estimator path exercised (k reached)")
  }
}
