package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import scala.util.Try

/** The graft local filesystem must give exactly what stock Hadoop gives:
  * each case runs the same calls on [[GraftRawLocalFileSystem]] /
  * [[GraftLocalFs]] and on stock `RawLocalFileSystem` / `LocalFs`, each in
  * its own temp dir, and compares. The stock instances are built directly,
  * never through Hadoop's `FileSystem` cache, so this spec cannot decide
  * which class the JVM's cached `file:` instance is. The last test pins
  * that a graft session's `file:` paths resolve to the graft classes.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private lazy val graftRaw = raw(new GraftRawLocalFileSystem)
  private lazy val stockRaw = raw(new RawLocalFileSystem)

  /** Runs `body` once per side in a fresh temp dir; returns (graft, stock). */
  private def bothSides[T](body: (RawLocalFileSystem, Path) => T): (T, T) = {
    def run(fs: RawLocalFileSystem) =
      body(fs, new Path(Files.createTempDirectory("graft-localfs-").toUri))
    (run(graftRaw), run(stockRaw))
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  test("modes after create, mkdirs and setPermission equal stock Hadoop's") {
    for (m <- Seq("0000", "0640", "0755", "0777")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val (g, s) = bothSides { (fs, dir) =>
        val file = new Path(dir, "f")
        fs.create(file).close()
        val created = mode(file)
        val sub = new Path(dir, "a/b")
        assert(fs.mkdirs(sub, perm))
        val made = (mode(new Path(dir, "a")), mode(sub))
        fs.setPermission(file, perm)
        (created, made, mode(file))
      }
      assert(g === s, s"mode $m")
      assert(g._3 === Integer.parseInt(m, 8), s"mode $m applied")
    }
  }

  test("a sticky bit falls back to Hadoop and is still applied; a setgid dir keeps its bit") {
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val (g, s) = bothSides { (fs, dir) =>
      fs.setPermission(dir, sticky)
      mode(dir)
    }
    assert(g === s)
    assert(g === Integer.parseInt("1777", 8))
    // a directory created under a setgid parent inherits the bit; the
    // shell chmod a stock mkdirs runs keeps it, and so must the graft side
    val (g2, s2) = bothSides { (fs, dir) =>
      Files.setAttribute(Paths.get(dir.toUri), "unix:mode", Integer.parseInt("2755", 8))
      val sub = new Path(dir, "sub")
      assert(fs.mkdirs(sub, new FsPermission(Integer.parseInt("0750", 8).toShort)))
      (mode(dir), mode(sub))
    }
    assert(g2 === s2)
    assert(g2 === ((Integer.parseInt("2755", 8), Integer.parseInt("2750", 8))))
  }

  test("getFileLinkStatus on a file, a dir, a missing path and symlinks equals stock Hadoop's") {
    val dir = new Path(Files.createTempDirectory("graft-links-").toUri)
    val file = new Path(dir, "file")
    Files.write(Paths.get(file.toUri), "abc".getBytes(UTF_8))
    val sub = new Path(dir, "sub")
    Files.createDirectory(Paths.get(sub.toUri))
    val link = new Path(dir, "link")
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(file.toUri))
    val dangling = new Path(dir, "dangling")
    Files.createSymbolicLink(Paths.get(dangling.toUri), Paths.get(dir.toUri).resolve("gone"))
    val missing = new Path(dir, "missing")
    def outcome(fs: RawLocalFileSystem, p: Path): String =
      Try(fs.getFileLinkStatus(p)).fold(
        e => s"${e.getClass.getName}: ${e.getMessage}",
        st => s"$st ${st.getPermission} ${st.getOwner} ${st.getGroup}")
    // qualified (`file:/...`) paths, as FileContext passes them, and plain ones
    for (p <- Seq(file, sub, link, dangling, missing); q <- Seq(p, Path.getPathWithoutSchemeAndAuthority(p)))
      assert(outcome(graftRaw, q) === outcome(stockRaw, q), s"$q")
    intercept[FileNotFoundException](graftRaw.getFileLinkStatus(missing))
    val plainLink = Path.getPathWithoutSchemeAndAuthority(dangling)
    assert(graftRaw.getFileLinkStatus(plainLink).isSymlink, "a dangling link is still a link")
  }

  test("FileContext rename with OVERWRITE moves the data and its .crc like stock LocalFs") {
    val stockAfs = AbstractFileSystem.createFileSystem(URI.create("file:///"), conf)
    assert(stockAfs.isInstanceOf[LocalFs])
    def run(afs: AbstractFileSystem): (Seq[String], String) = {
      val fc = FileContext.getFileContext(afs, conf)
      val dir = new Path(Files.createTempDirectory("graft-rename-").toUri)
      def write(p: Path, text: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(text.getBytes(UTF_8))
        finally out.close()
      }
      val src = new Path(dir, "src")
      val dst = new Path(dir, "dst")
      write(src, "new contents")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val names = Files.list(Paths.get(dir.toUri)).toArray.map(_.toString.split('/').last).sorted.toSeq
      // ChecksumFs verifies the data against the moved .crc on read
      val in = fc.open(dst)
      try (names, new String(in.readAllBytes(), UTF_8))
      finally in.close()
    }
    val g = run(new GraftLocalFs(URI.create("file:///"), conf))
    assert(g === run(stockAfs))
    assert(g === ((Seq(".dst.crc", "dst"), "new contents")))
  }

  test("a graft session's file: paths resolve to the graft classes") {
    val spark = GraftSession.local(4, "local-fs-spec")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // Hadoop caches FileSystems by scheme, not by conf: this is the
    // JVM's one `file:` instance, so it is graft only if a graft session
    // opened it first
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
    // what MapReduce.rawFileSystem hands to the part-file sink
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[GraftRawLocalFileSystem])
    val afs = FileContext.getFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[GraftLocalFs], afs.getClass.getName)
  }
}
