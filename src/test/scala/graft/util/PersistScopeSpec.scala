package graft.util

import graft.SparkSpec

/** The DISK_ONLY frames inside x03/x05 are released by the harness after the
  * consuming action — a run must leave zero NEW persisted RDDs behind
  * (round-3 leaked 1–2 frames per invocation for the session lifetime).
  * Assertions are relative to a baseline snapshot: other suites share this
  * SparkSession and may legitimately cache their own fixtures. */
class PersistScopeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("x03/x05 leave no persisted RDDs after both scopes release") {
    SharedStages.releaseAll() // other suites may have left shared stages live
    val baseline = persistedIds
    val sharedBefore = SharedStages.size
    val persisted = Seq("x03_minhash_pairs", "x05_ngram_jaccard")
    persisted.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      val df = q(spark, sfDir)
      assert(df.count() >= 0)
      PersistScope.releaseAll()
    }
    // The band/shingle/rep frames are SHARED stages: they deliberately
    // survive per-query release (x02/x21/x115 reuse them) and the
    // rep-collapsed x03+x05 register exactly bands+shingles+repmap+repcands
    // between them...
    assert(SharedStages.size == sharedBefore + 4,
      s"expected bands+shingles+repmap+repcands as new shared stages, size=${SharedStages.size}")
    // ...until the end-of-pass release, which must drop every block.
    SharedStages.releaseAll()
    val leaked = persistedIds -- baseline
    assert(leaked.isEmpty, s"leaked RDD ids: $leaked")
  }

  test("SharedStages.cached is compute-once: same key returns the same frame") {
    import spark.implicits._
    SharedStages.releaseAll()
    val baseline = persistedIds
    var builds = 0
    def build() = {
      builds += 1
      Seq(1, 2).toDF("n").persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
    val a = SharedStages.cached("spec-stage", spark, "spec-dir")(build())
    val b = SharedStages.cached("spec-stage", spark, "spec-dir")(build())
    assert(a eq b, "second lookup must reuse the first frame")
    assert(builds == 1)
    assert(a.count() == 2)
    // The owning session is part of the key: another session sharing the
    // context gets its own frame for the same (name, dir).
    val other = SharedStages.cached("spec-stage", spark.newSession(), "spec-dir")(build())
    assert(!(other eq a), "a second session must not be served the first session's frame")
    assert(builds == 2)
    assert(SharedStages.size == 2)
    SharedStages.releaseAll()
    assert(SharedStages.size == 0)
    assert((persistedIds -- baseline).isEmpty)
  }

  test("SharedStages.releaseAll racing an in-flight build leaks nothing") {
    import spark.implicits._
    SharedStages.releaseAll()
    val baseline = persistedIds
    val buildEntered = new java.util.concurrent.CountDownLatch(1)
    val releaseDone = new java.util.concurrent.CountDownLatch(1)
    val builder = new Thread(() => {
      SharedStages.cached("race-stage", spark, "spec-dir") {
        buildEntered.countDown()
        // Hold the build open until releaseAll has returned on the main
        // thread; under the old peek-based sweep this frame was removed
        // from the map mid-build and its blocks leaked forever.
        releaseDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
        val df = Seq(1, 2, 3).toDF("n")
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        df.count()
        df
      }
      ()
    })
    builder.start()
    buildEntered.await(30, java.util.concurrent.TimeUnit.SECONDS)
    // releaseAll either waits out the build (monitor) or marks the cell
    // dead so the build unpersists its own result on completion.
    val releaser = new Thread(() => SharedStages.releaseAll())
    releaser.start()
    Thread.sleep(100) // give releaseAll a chance to reach the cell
    releaseDone.countDown()
    releaser.join(30000)
    builder.join(30000)
    assert(SharedStages.size == 0)
    // storage cleanup is async (blocking = false): poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while ((persistedIds -- baseline).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((persistedIds -- baseline).isEmpty,
      s"leaked RDD ids: ${persistedIds -- baseline}")

    // The artifact form of the same race: a build that finishes after
    // releaseAll dropped its cell must not hand back a path the release
    // deletes — the finished artifact joins the next pass instead.
    val dir = java.nio.file.Files.createTempDirectory("race-art").toString
    Seq(1, 2).toDF("n").write.parquet(s"$dir/t.parquet")
    val artEntered = new java.util.concurrent.CountDownLatch(1)
    val artRelease = new java.util.concurrent.CountDownLatch(1)
    @volatile var got: String = null
    val artBuilder = new Thread(() => {
      got = SharedStages.artifact("race-artifact", dir, "t.parquet") { dst =>
        artEntered.countDown()
        artRelease.await(30, java.util.concurrent.TimeUnit.SECONDS)
        spark.read.parquet(s"$dir/t.parquet").write.mode("overwrite").parquet(dst)
      }
    })
    artBuilder.start()
    artEntered.await(30, java.util.concurrent.TimeUnit.SECONDS)
    val artReleaser = new Thread(() => SharedStages.releaseAll())
    artReleaser.start()
    // releaseAll detaches every cell before releasing it: once the map is
    // empty the in-flight cell is (about to be) marked released.
    val detached = System.nanoTime() + 10e9.toLong
    while (SharedStages.size > 0 && System.nanoTime() < detached) Thread.sleep(10)
    Thread.sleep(100)
    artRelease.countDown()
    artReleaser.join(30000)
    artBuilder.join(30000)
    assert(got != null && new java.io.File(got, "_SUCCESS").isFile,
      s"a build finishing in a released cell returned a deleted path: $got")
    assert(SharedStages.size == 1, "the finished artifact belongs to the next pass")
    SharedStages.releaseAll()
    assert(!new java.io.File(got).exists(), "the next releaseAll frees the adopted artifact")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("SharedStages.artifact: stamped on its source, deleted by releaseAll, rebuilt fresh") {
    import spark.implicits._
    SharedStages.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("spec-art").toString
    val table = s"$dir/t.parquet"
    Seq(1, 2).toDF("n").write.parquet(table)
    var builds = 0
    def art() = SharedStages.artifact("spec-artifact", dir, "t.parquet") { dst =>
      builds += 1
      spark.read.parquet(table).write.mode("overwrite").parquet(dst)
    }
    def published(p: String) = new java.io.File(p, "_SUCCESS").isFile
    val p1 = art()
    assert(published(p1))
    assert(new java.io.File(p1).getParentFile.getName.startsWith("graft-stages-"))
    assert(new java.io.File(p1).getParentFile.getParent ==
      new java.io.File(sys.props("java.io.tmpdir")).getPath, s"stage root outside java.io.tmpdir: $p1")
    assert(art() == p1 && builds == 1, "same stamp: the published artifact is reused")
    // Rewriting the source table in place changes its length and mtime.
    Thread.sleep(10)
    Seq(1, 2, 3).toDF("n").write.mode("overwrite").parquet(table)
    val p2 = art()
    assert(p2 != p1 && builds == 2, "a rewritten source must not be served the old artifact")
    assert(spark.read.parquet(p2).count() == 3)
    val scratch = SharedStages.scratch("spec-scratch")
    assert(new java.io.File(scratch).isDirectory)
    SharedStages.releaseAll()
    Seq(p1, p2, scratch).foreach(p => assert(!new java.io.File(p).exists(), s"$p survived releaseAll"))
    assert(SharedStages.size == 0)
    val p3 = art()
    assert(published(p3) && p3 != p2 && builds == 3, "the next pass rebuilds a fresh artifact")
    SharedStages.releaseAll()
    // A missing source fails loudly, naming the table.
    val e = intercept[IllegalStateException](
      SharedStages.artifact("spec-artifact", dir, "absent.parquet")(_ => ()))
    assert(e.getMessage.contains("absent.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("SharedStages builds every cache key: no identityHashCode under src/main/scala") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sites = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).filter { p =>
      java.nio.file.Files.readString(p).contains("identityHashCode")
    }.map(_.getFileName.toString).toList finally files.close()
    assert(sites.isEmpty, s"hand-built identity keys in: $sites")
  }

  test("track returns the dataset unchanged and releaseAll is idempotent") {
    import spark.implicits._
    val baseline = persistedIds
    val ds = Seq(1, 2, 3).toDF("n")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    assert(PersistScope.track(ds) eq ds)
    ds.count()
    assert((persistedIds -- baseline).nonEmpty)
    PersistScope.releaseAll()
    PersistScope.releaseAll() // second call on empty scope is a no-op
    // unpersist(blocking=false) drops the catalog entry synchronously
    assert((persistedIds -- baseline).isEmpty)
  }

  test("scope is thread-local: one thread's release doesn't touch another's") {
    import spark.implicits._
    val baseline = persistedIds
    val ds = Seq(1).toDF("n")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    PersistScope.track(ds)
    ds.count()
    val t = new Thread(() => PersistScope.releaseAll())
    t.start(); t.join()
    assert((persistedIds -- baseline).nonEmpty,
      "sibling thread's releaseAll must not drop this thread's frames")
    PersistScope.releaseAll()
    assert((persistedIds -- baseline).isEmpty)
  }
}
