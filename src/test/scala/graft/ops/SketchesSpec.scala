package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sketch guarantees, tested as properties — not against fixed outputs:
  * CMS estimates dominate exact counts and are partitioning-invariant;
  * sketch-of-union equals cell-wise merge of per-shard sketches; bloom
  * filters never false-negative and their packed-long bit tests agree with
  * a naive set; merged blooms equal the bloom of the union.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // deterministic zipf-ish corpus: token k appears ~N/k times
  private def corpus(n: Int): Seq[String] =
    (1 to n).flatMap(k => Seq.fill(math.max(n / k, 1))(s"tok$k"))

  test("streaming CMS maintenance: multi-batch grid equals the batch-built grid") {
    // two parquet files -> two micro-batches (maxFilesPerTrigger=1): proves
    // CROSS-BATCH state accumulation and the update-mode max-per-cell
    // recovery, not just a single-batch replay of the batch plan
    val dir = new java.io.File(SparkSpec.tempDir("s09spec"))
    def writeOne(texts: Seq[String], name: String): Unit = {
      val tmp = new java.io.File(SparkSpec.tempDir("s09w"))
      texts.toDF("text").coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, new java.io.File(dir, name).toPath)
    }
    writeOne(Seq("a b c a", "d e"), "f1.parquet")
    writeOne(Seq("a d d f", "g g g"), "f2.parquet")
    val q = graft.streaming.EventStream.runCmsMaintain(spark, dir.getPath,
      "s09spec_sink", depth = 4, width = 64, glob = "*.parquet",
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    if (q.isActive) q.stop()
    val sink = q.sparkSession.table("s09spec_sink")
    val got = sink.groupBy("j", "bucket").agg(max("bc").as("bc"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Sketches.countMin(
        spark.read.parquet(dir.getPath).select(explode(split(col("text"), " ")).as("token")),
        "token", depth = 4, width = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // cells for tokens in BOTH files ('a', 'd') were updated in both
    // batches -> the update-mode sink holds more rows than the grid has
    // cells, which is what proves two stateful batches actually ran
    assert(sink.count() > got.size.toLong)
  }

  test("streaming histogram maintenance: multi-batch state equals batch cells") {
    // two files -> two micro-batches: the (source, kind, key) counts must
    // accumulate ACROSS batches, recovered by max-per-key from update mode
    val dir = new java.io.File(SparkSpec.tempDir("s12spec"))
    def writeOne(rows: Seq[(String, String)], name: String): Unit = {
      val tmp = new java.io.File(SparkSpec.tempDir("s12w"))
      rows.toDF("source", "text").coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, new java.io.File(dir, name).toPath)
    }
    writeOne(Seq(("s1", "a b c"), ("s2", "a b c d e f g h i j")), "f1.parquet")
    writeOne(Seq(("s1", "x y"), ("s1", "a b c")), "f2.parquet")
    val q = graft.streaming.EventStream.runHistMaintain(spark, dir.getPath,
      "s12spec_sink", glob = "*.parquet", maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    if (q.isActive) q.stop()
    val got = q.sparkSession.table("s12spec_sink")
      .groupBy("source", "kind", "key").agg(max("cnt").as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    // batch truth: same cells from a plain read
    val nt = spark.read.parquet(dir.getPath)
      .select(col("source"), size(split(col("text"), " ")).as("nt"))
    val want = nt.select(col("source"), lit("h").as("kind"),
        least(col("nt") / 8, lit(63)).cast("long").as("key"))
      .unionByName(nt.select(col("source"), lit("v").as("kind"), col("nt").cast("long").as("key")))
      .groupBy("source", "kind", "key").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got == want)
    // s1's 3-token doc appears in both batches -> its cells updated twice
    assert(got(("s1", "v", 3L)) == 2L)
  }

  test("CMS estimate >= exact count for every token") {
    val items = corpus(80).toDF("token")
    val cms = Sketches.countMin(items, "token", depth = 4, width = 256).cache()
    val exact = items.groupBy("token").count()
    val joined = Sketches.cmsEstimate(cms, exact, "token", depth = 4, width = 256)
      .join(exact, "token")
      .select(col("token"), col("cms_est"), col("count")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"estimate below exact for ${r.getString(0)}")
    }
  }

  test("CMS is partitioning-invariant: same grid from 1 and 7 partitions") {
    val items = corpus(60).toDF("token")
    def grid(p: Int) =
      Sketches.countMin(items.repartition(p), "token", depth = 4, width = 128)
        .orderBy("j", "bucket").collect().toSeq
    assert(grid(1) == grid(7))
  }

  test("CMS merges: sketch(A union B) == cell-wise sum of sketch(A), sketch(B)") {
    val a = corpus(40).toDF("token")
    val b = corpus(25).map(_.reverse).toDF("token")
    val whole = Sketches.countMin(a.union(b), "token", depth = 4, width = 128)
    val merged = Sketches.countMin(a, "token", depth = 4, width = 128)
      .union(Sketches.countMin(b, "token", depth = 4, width = 128))
      .groupBy("j", "bucket").agg(sum("bc").as("bc"))
    assert(whole.orderBy("j", "bucket").collect().toSeq ==
      merged.orderBy("j", "bucket").collect().toSeq)
  }

  test("bloom: no false negatives, packed bits agree with naive membership") {
    val members = (1 to 500).map(i => s"item$i")
    val bloom = Sketches.bloomBuild(members.toDF("x"), "x", bits = 65536, hashes = 3)
    val probes = (1 to 2000).map(i => s"item$i").toDF("x")
    val hits = probes.crossJoin(broadcast(bloom))
      .filter(Sketches.bloomContains(col("bm"), col("x"), 65536, 3))
      .select("x").as[String].collect().toSet
    // every member passes (no false negatives)
    members.foreach(m => assert(hits.contains(m), s"false negative: $m"))
    // fp rate over the 1500 non-members stays near theory:
    // (1 - e^{-kn/m})^k with k=3, n=500, m=65536 => ~7e-6; allow slack
    val fps = hits.size - 500
    assert(fps <= 5, s"implausible false-positive count $fps")
  }

  test("bloom merges: bit_or of shard blooms == bloom of the union") {
    val a = (1 to 200).map(i => s"a$i")
    val b = (1 to 200).map(i => s"b$i")
    val whole = Sketches.bloomBuild((a ++ b).toDF("x"), "x", 4096, 3)
      .as[Seq[Long]].head()
    val bmA = Sketches.bloomBuild(a.toDF("x"), "x", 4096, 3).as[Seq[Long]].head()
    val bmB = Sketches.bloomBuild(b.toDF("x"), "x", 4096, 3).as[Seq[Long]].head()
    assert(whole == bmA.zip(bmB).map { case (x, y) => x | y })
  }

  test("bucket matches the documented DuckDB replication on sample values") {
    // spot pins: the Spark and SQL forms of the portable hash agree
    val got = Seq("hello", "world", "graft").toDF("x")
      .select(Sketches.bucket(col("x"), lit(2), 1024)).as[Long].collect().toSeq
    // values computed with DuckDB: md5('2|hello') etc, first 4 hex % 1024
    assert(got == Seq(942L, 933L, 628L))
  }
}
