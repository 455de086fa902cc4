package graft.util

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** `file:` through [[LocalFs]] behaves as through Hadoop's stock local
  * classes (modes, rename, link status) and starts no process doing it. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def confs(umask: String): (Configuration, Configuration) = {
    val stock = new Configuration()
    stock.set("fs.permissions.umask-mode", umask)
    val ours = new Configuration(stock)
    LocalFs.register(ours)
    (stock, ours)
  }

  /** Every path under `base` with its mode bits (sticky included). */
  private def modes(base: File): Map[String, Int] = {
    val walk = Files.walk(base.toPath)
    try walk.iterator().asScala.drop(1).map { p =>
      base.toPath.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  /** Files and directories made through both client APIs, with default and
    * explicit permissions, created parents included. */
  private def populate(conf: Configuration, base: File): Unit = {
    def p(rel: String) = new Path(base.toURI.toString + rel)
    val fs = FileSystem.newInstance(root, conf)
    try {
      fs.create(p("a/b/f1")).close()
      fs.create(p("f2"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(p("d1/d2"))
      fs.mkdirs(p("d3"), new FsPermission("751"))
    } finally fs.close()
    val fc = FileContext.getFileContext(root, conf)
    fc.create(p("c/g1"), java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
    fc.create(p("g2"), java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(new FsPermission("604"))).close()
    fc.mkdir(p("e/e2"), FsPermission.getDirDefault, true)
    fc.mkdir(p("e3"), new FsPermission("705"), false)
  }

  test("files and directories get the stock classes' modes under umask 022 and 077, with no process") {
    val seen = Seq("022", "077").map { umask =>
      val (stock, ours) = confs(umask)
      val (a, b) = (new java.io.File(SparkSpec.tempDir("localfs_stock")), new java.io.File(SparkSpec.tempDir("localfs_ours")))
      populate(stock, a)
      val (_, starts) = ProcessStarts.during(populate(ours, b))
      assert(starts.isEmpty, ProcessStarts.describe(starts))
      val (expected, got) = (modes(a), modes(b))
      assert(expected.size >= 16 && expected.keySet.exists(_.endsWith(".crc")), expected)
      assert(got == expected, s"umask $umask")
      got
    }
    // the umask reached the modes: 0755/0644 defaults under 022, 0700/0600 under 077
    assert(seen(0)("d1/d2") == Integer.parseInt("755", 8) && seen(1)("d1/d2") == Integer.parseInt("700", 8))
    assert(seen(0)("a/b/f1") == Integer.parseInt("644", 8) && seen(1)("a/b/f1") == Integer.parseInt("600", 8))
  }

  test("a sticky bit still reaches the file") {
    val (_, ours) = confs("022")
    val dir = Paths.get(SparkSpec.tempDir("localfs_sticky"))
    val fs = FileSystem.newInstance(root, ours)
    try fs.setPermission(new Path(dir.toUri.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    finally fs.close()
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
  }

  test("FileContext.rename without OVERWRITE still refuses an existing destination") {
    val (_, ours) = confs("022")
    val fc = FileContext.getFileContext(root, ours)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    val dir = Paths.get(SparkSpec.tempDir("localfs_rename")).toUri.toString
    val (src, dst) = (new Path(dir + "src"), new Path(dir + "dst"))
    for ((f, body) <- Seq(src -> "new", dst -> "old")) {
      val out = fc.create(f, java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write(body.getBytes) finally out.close()
    }
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes()) == "new") finally in.close()
  }

  test("link status equals the stock class's for files, directories and symlinks") {
    val dir = Paths.get(SparkSpec.tempDir("localfs_links"))
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val (stock, ours) = (new RawLocalFileSystem, new LocalFs.Raw)
    stock.initialize(root, new Configuration())
    ours.initialize(root, new Configuration())
    for (p <- Seq(dir, file, link); path <- Seq(new Path(p.toUri.toString), new Path(p.toString))) {
      def key(s: org.apache.hadoop.fs.FileStatus) =
        (s.isFile, s.isDirectory, s.isSymlink, s.getLen, if (s.isSymlink) s.getSymlink.toString else "")
      assert(key(ours.getFileLinkStatus(path)) == key(stock.getFileLinkStatus(path)), path)
    }
    // an unqualified symlink path is the case Hadoop resolves as a link
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }

  test("file: is LocalFs on the harness context, even after a stock instance was cached") {
    // stock: Hadoop's LocalFileSystem, or Hive's proxy of it when the Hive
    // jars' service entry wins the `file` scheme
    val cached = FileSystem.get(root, new Configuration())
    assert(!cached.isInstanceOf[LocalFs.Checked], cached.getClass)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).getClass == classOf[LocalFs.Checked])
    assert(new Path("/tmp").getFileSystem(spark.sessionState.newHadoopConf()).isInstanceOf[LocalFs.Checked])
    assert(FileSystem.get(root, new Configuration()) eq cached)
    val before = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    LocalFs.register(spark.sparkContext)
    assert(conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap == before)
  }
}
