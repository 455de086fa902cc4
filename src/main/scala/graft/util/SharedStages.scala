package graft.util

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one cross-QUERY cache: persisted frames, per-JVM parquet artifacts
  * and scratch dirs that several queries of a pass share. The MinHash band
  * frame and the distinct-shingle frame over the documents table are each
  * built by three to four queries (x02/x03/x21 bands; x03/x05/x21/x23
  * shingles). [[PersistScope]] scopes a persist to ONE query's consuming
  * action; an entry registered here instead survives until the harness
  * finishes its whole pass and calls [[releaseAll]], so a suite run pays each
  * shared computation once instead of four times. At 100 TB this is the
  * difference between re-shingling the corpus per query and materializing
  * the band/shingle tables once per pipeline run (the production form
  * writes them to a staging table).
  *
  * Keys are built here, not by callers: a frame keys on (name, dir, owning
  * session), holding the session itself so a frame never crosses or
  * outlives it; an artifact keys on (name, dir, source stamp of the table
  * it derives from), so a table rewritten in place is never served a stale
  * artifact. Artifacts and scratch dirs (replay checkpoints among them)
  * live under one process-unique [[root]], deleted by [[releaseAll]] and at
  * JVM exit: no invocation can read what a PREVIOUS run built.
  * `computeIfAbsent` gives compute-once under Verify's concurrent query
  * pool — a second query needing the same entry blocks on the first one's
  * build and shares it.
  */
object SharedStages {

  /** Per-key memo cell: the build runs inside the CELL's monitor, NOT
    * inside the ConcurrentHashMap's bin lock. computeIfAbsent's mapping
    * function must not touch the map — but stage builders DO re-enter
    * `cached` for their upstream stages (components → edges → bands/
    * shingles; kmeans → int8; drift model → drift codebooks), and several
    * run Spark ACTIONS. Running those inside computeIfAbsent is specified
    * as undefined behavior (reentrancy on the same bin can corrupt or
    * deadlock the map under Verify's concurrent query pool). The two-phase
    * memoizer makes the map operation a cheap allocation; nested builds
    * then recurse through the map freely. Builder dependencies form a DAG,
    * so cell-monitor nesting cannot deadlock.
    *
    * `orphan` decides what a build that finishes in an already-released
    * cell hands back: it must return a value that is still valid and that
    * nothing will free behind the caller's back. */
  private final class Memo[A](build: () => A, free: A => Unit, orphan: A => A) {
    private var built: Option[A] = None
    @volatile private var released = false
    def value: A = synchronized {
      built.getOrElse {
        val v = build()
        if (released) orphan(v) else { built = Some(v); v }
      }
    }
    /** Frees the value if built. Marks the cell dead BEFORE taking the
      * monitor, so a build in flight sees the release when it finishes and
      * hands its value to `orphan` instead of storing it; the monitor then
      * makes this wait out that build, so releaseAll never returns while a
      * cell it dropped can still publish into it. */
    def release(): Unit = {
      released = true
      synchronized { built.foreach(free); built = None }
    }
  }

  private final case class Key(name: String, dir: String, owner: Any)

  private val cache = new ConcurrentHashMap[Key, Memo[_]]()

  private def cell[A](key: Key, build: => A, free: A => Unit, orphan: A => A): A =
    cache.computeIfAbsent(key, _ => new Memo[A](() => build, free, orphan))
      .asInstanceOf[Memo[A]].value

  /** The process's one scratch root: artifacts, scratch dirs and replay
    * checkpoints all live here, removed at JVM exit (a killed JVM leaks at
    * most this one dir). It sits on `/dev/shm` (tmpfs) when that is a
    * writable directory, else in `java.io.tmpdir`: a finite replay's
    * checkpoint has no durability value, and its per-batch WAL and
    * state-store writes cost less on tmpfs. */
  private[graft] lazy val root: File = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(sys.props("java.io.tmpdir"))
    val d = Files.createTempDirectory(base, "graft-stages-").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d.getPath)))
    d
  }

  private def delete(path: String): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
    catch { case _: java.io.IOException => () }

  /** The frame for (`name`, `dir`, `spark`), building it (persist
    * included — the builder's job) on first use; concurrent callers of the
    * same key block on the cell and share one frame. A build that loses a
    * race with [[releaseAll]] returns its frame unpersisted: still correct,
    * merely uncached. */
  def cached(name: String, spark: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    cell[DataFrame](Key(name, dir, spark), build,
      _.unpersist(blocking = false), { df => df.unpersist(blocking = false); df })

  /** Sum of file lengths and newest mtime of a table (a parquet file or a
    * directory of part files): a table regenerated at the same path gets a
    * new stamp. A missing or empty table fails here, naming itself. */
  private def stamp(table: File): String = {
    val parts =
      if (table.isDirectory) table.listFiles().toSeq.filter(_.isFile)
      else Seq(table).filter(_.isFile)
    if (parts.isEmpty) throw new IllegalStateException(s"$table missing or empty")
    s"${parts.map(_.length).sum}-${parts.map(_.lastModified).max}"
  }

  /** A per-JVM parquet artifact derived from `dir/table`: on first use for
    * the table's current stamp, `write` is handed a fresh path under the
    * stage root and must write the artifact there (a Spark action, on the
    * caller's session; readers may be other sessions). Returns the path,
    * which stays on disk until [[releaseAll]]. A build that finishes after
    * its cell was released is adopted by the next pass instead of being
    * deleted under its caller. */
  def artifact(name: String, dir: String, table: String)(write: String => Unit): String = {
    val key = Key(name, dir, stamp(new File(dir, table)))
    def adopt(path: String): String = {
      val fresh = new Memo[String](() => path, delete, adopt)
      val prev = cache.putIfAbsent(key, fresh)
      if (prev == null) fresh.value
      else { delete(path); prev.asInstanceOf[Memo[String]].value }
    }
    cell[String](key, {
      val dst = Files.createTempDirectory(root.toPath, name + "-").toString
      write(dst)
      dst
    }, delete, adopt)
  }

  /** A fresh empty directory under the stage root for output a query reads
    * back lazily (a sink's files behind its returned frame) or for a finite
    * replay's checkpoint; it lives until [[releaseAll]] ends the pass. */
  def scratch(tag: String): String = {
    val dir = Files.createTempDirectory(root.toPath, tag + "-").toString
    cell[String](Key(tag, dir, dir), dir, delete, identity)
  }

  /** Unpersist every shared frame and delete every artifact and scratch
    * dir: the one end-of-pass call. Harnesses call it at end-of-pass — and
    * a bench additionally between its warmup and timed passes, so the timed
    * pass pays each shared computation exactly once (leaving the warmup's
    * blocks in place would time cache reads and call them the cost of the
    * pipeline). */
  def releaseAll(): Unit = {
    // Detach first, then release: a build that finishes in a released cell
    // may re-register its result (artifact adoption), and that new cell
    // belongs to the next pass, so this sweep must not visit it. release()
    // waits out an in-flight build on its cell, holding one cell monitor
    // at a time, so builder-side nesting cannot deadlock against the sweep.
    val cells = cache.entrySet().asScala.toList.filter(e => cache.remove(e.getKey, e.getValue))
    cells.foreach(_.getValue.release())
  }

  /** Number of live shared entries (spec hook). */
  def size: Int = cache.size()
}
