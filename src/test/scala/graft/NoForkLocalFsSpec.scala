package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem,
  LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs}

/** The fork-free `file:` binding writes what the stock local filesystem
  * writes: the same names (`.crc` included), the same modes, the same
  * link statuses, the same `FileContext` rename — and a GraftSession
  * resolves `file:` to it. */
class NoForkLocalFsSpec extends SparkSpec {

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private def tmp(tag: String): java.nio.file.Path =
    java.nio.file.Paths.get(suiteTempDir(s"graft_nofork_$tag"))

  /** Relative name -> full unix mode (sticky bit included) of everything under `root`. */
  private def tree(root: java.nio.file.Path): Map[String, Int] = {
    val s = Files.walk(root)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).filter(_ != root).map { p =>
      root.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    }.toMap finally s.close()
  }

  private def write(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private def populate(fs: FileSystem, root: java.nio.file.Path): Unit = {
    val r = new Path(root.toUri)
    fs.mkdirs(new Path(r, "a/b"))
    write(fs, new Path(r, "a/f1"), "one")
    write(fs, new Path(r, "a/b/f2"), "two")
    fs.mkdirs(new Path(r, "c"), new FsPermission(Integer.parseInt("750", 8).toShort))
    fs.setPermission(new Path(r, "a/b"), new FsPermission(Integer.parseInt("700", 8).toShort))
    fs.setPermission(new Path(r, "a/f1"), new FsPermission(Integer.parseInt("640", 8).toShort))
    fs.setPermission(new Path(r, "c"), new FsPermission(Integer.parseInt("1755", 8).toShort))
    fs.create(new Path(r, "_SUCCESS"), true).close()
  }

  test("writes the same names and modes as the stock local filesystem") {
    val (stock, noFork) = (tmp("stock"), tmp("nofork"))
    populate(fresh(new LocalFileSystem()), stock)
    populate(fresh(new NoForkLocalFileSystem), noFork)
    val (want, got) = (tree(stock), tree(noFork))
    assert(want.keySet.exists(_.endsWith(".crc")), s"stock wrote no checksum files: $want")
    assert(got === want)
    assert(want("a/b") === Integer.parseInt("40700", 8))
    assert(want("a/f1") === Integer.parseInt("100640", 8))
    assert((want("c") & Integer.parseInt("1000", 8)) != 0, "the sticky bit was not set")
  }

  test("under a setgid parent, directories keep setgid as with stock chmod") {
    val setgid = Integer.parseInt("2000", 8)
    def sharedRoot(tag: String) = {
      val root = tmp(tag)
      Files.setAttribute(root, "unix:mode", Int.box(Integer.parseInt("2775", 8)))
      root
    }
    val (stock, noFork) = (sharedRoot("stock_sgid"), sharedRoot("nofork_sgid"))
    populate(fresh(new LocalFileSystem()), stock)
    populate(fresh(new NoForkLocalFileSystem), noFork)
    val (want, got) = (tree(stock), tree(noFork))
    assert(got === want)
    assert(want("a/b") === Integer.parseInt("42700", 8), "stock chmod 0700 kept setgid")
    assert((want("c") & setgid) != 0)
    assert((want("a/f1") & setgid) === 0)
  }

  test("getFileLinkStatus equals stock on files, dirs, missing paths and symlinks") {
    val root = tmp("links")
    Files.write(root.resolve("target"), "t".getBytes(UTF_8))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("target"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val stock = fresh(new LocalFileSystem()).asInstanceOf[LocalFileSystem].getRaw
    val noFork = fresh(new NoForkLocalFileSystem).asInstanceOf[LocalFileSystem].getRaw
    def facts(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, if (s.isSymlink) Some(s.getSymlink) else None)
    def probe(fs: FileSystem, p: Path) =
      scala.util.Try(facts(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (name <- Seq("target", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toUri), new Path(root.resolve(name).toString)))
      assert(probe(noFork, p) === probe(stock, p), s"at $p")
  }

  test("listFiles and listLocatedStatus report the stock modes, owners and groups") {
    val root = tmp("list")
    populate(fresh(new LocalFileSystem()), root)
    Files.createSymbolicLink(root.resolve("a/link"), root.resolve("a/f1"))
    val r = new Path(root.toUri)
    def facts(s: LocatedFileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getPermission, s.getOwner, s.getGroup,
      Option(s.getBlockLocations).map(_.toSeq.map(_.toString)))
    def drain(it: RemoteIterator[LocatedFileStatus]) = {
      val b = Seq.newBuilder[LocatedFileStatus]
      while (it.hasNext) b += it.next()
      b.result().map(facts).sortBy(_._1.toString)
    }
    def listings(fs: FileSystem) =
      (drain(fs.listFiles(r, true)), drain(fs.listLocatedStatus(r)),
        drain(fs.listLocatedStatus(new Path(r, "c"))))
    val (stock, noFork) = (fresh(new LocalFileSystem()), fresh(new NoForkLocalFileSystem))
    val want = listings(stock)
    assert(want._1.map(_._1.getName).toSet === Set("f1", "f2", "link", "_SUCCESS"))
    assert(want._2.exists(f => f._1.getName == "c" && f._6.getStickyBit))
    assert(listings(noFork) === want)
  }

  test("FileContext rename with OVERWRITE replaces an existing file like stock LocalFs") {
    def renameOver(afs: String): (Map[String, Int], String) = {
      val root = tmp("rename")
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", afs)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      def put(p: Path, body: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      val (src, dst) = (new Path(root.resolve("src").toUri), new Path(root.resolve("d/dst").toUri))
      put(dst, "old"); put(src, "new")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (tree(root), new String(Files.readAllBytes(root.resolve("d/dst")), UTF_8))
    }
    val want = renameOver("org.apache.hadoop.fs.local.LocalFs")
    assert(want._2 === "new")
    assert(renameOver(classOf[NoForkLocalFs].getName) === want)
  }

  test("a GraftSession resolves file: to the fork-free classes") {
    val conf = spark.sessionState.newHadoopConf()
    val tmpDir = new Path("file:///tmp")
    assert(tmpDir.getFileSystem(conf).isInstanceOf[NoForkLocalFileSystem],
      "a FileSystem cache entry made before the session shadows fs.file.impl")
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(tmpDir.toUri, conf).getDefaultFileSystem
      .isInstanceOf[NoForkLocalFs])
  }
}
