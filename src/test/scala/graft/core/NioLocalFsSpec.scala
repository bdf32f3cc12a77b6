package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** The nio local filesystem against Hadoop's stock one: the same bits on
  * disk, the same link statuses, and the sessions resolve to it. */
class NioLocalFsSpec extends SparkSpec {

  /** A fresh Hadoop conf, with the nio classes for `file://` or without. */
  private def conf(nio: Boolean): Configuration = {
    val c = new Configuration()
    if (nio) SparkSessionFactory.LocalFsConf.foreach { case (k, v) =>
      c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  /** Mode bits (with the sticky bit) of every entry under `root`, by
    * relative path. */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    DirIO.walk(r)(_.iterator.asScala.filter(_ != r).map(p => r.relativize(p).toString ->
      (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)).toMap)
  }

  /** Creates files and dirs through both faces, an explicit 0600, a
    * sticky dir and a FileContext rename; returns the tree's modes. */
  private def exercise(nio: Boolean): Map[String, Int] = {
    val root = tmpDir(if (nio) "nio-fs" else "stock-fs")
    val c = conf(nio)
    val fs = FileSystem.newInstance(new URI("file:///"), c)
    try {
      fs.create(new Path(root, "fs/a/file")).close()
      fs.mkdirs(new Path(root, "fs/b/c"))
      fs.create(new Path(root, "fs/private")).close()
      fs.setPermission(new Path(root, "fs/private"), new FsPermission("600"))
      fs.mkdirs(new Path(root, "fs/sticky"))
      fs.setPermission(new Path(root, "fs/sticky"), new FsPermission("1777"))
    } finally fs.close()
    val fc = FileContext.getLocalFSFileContext(c)
    fc.mkdir(new Path(root, "fc/d/e"), FsPermission.getDirDefault, true)
    fc.create(new Path(root, "fc/d/tmp"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(root, "fc/d/tmp"), new Path(root, "fc/d/file"),
      Options.Rename.OVERWRITE)
    modes(root)
  }

  test("files and dirs get the stock LocalFileSystem's permission bits") {
    val (stock, nio) = (exercise(nio = false), exercise(nio = true))
    assert(nio.keySet.contains("fs/a/.file.crc") && nio.keySet.contains("fc/d/.file.crc"),
      s"checksum files missing: ${nio.keySet}")
    assert(nio == stock)
    assert(nio("fs/private") == Integer.parseInt("600", 8))
    // nio cannot set a sticky bit: it went to the stock chmod
    assert(nio("fs/sticky") == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus equals the stock RawLocalFileSystem's") {
    val root = tmpDir("nio-link")
    val file = Files.write(Paths.get(root, "file"), "x".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(root, "link"), file)
    def open(raw: RawLocalFileSystem): RawLocalFileSystem = {
      raw.initialize(new URI("file:///"), new Configuration()); raw
    }
    val stock = open(new RawLocalFileSystem)
    val nio = open(new NioRawLocalFileSystem)
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)
    for (p0 <- Seq(new Path(root, "file"), new Path(root, "link"), new Path(root));
         qualify <- Seq(false, true)) {
      val p = if (qualify) stock.makeQualified(p0) else p0
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    }
    assert(nio.getFileLinkStatus(new Path(root, "link")).isSymlink)
    val missing = new Path(root, "missing")
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("a session built with the factory's conf resolves file:// to the nio classes") {
    val shared = spark
    assert(SparkSessionFactory.local(4, "nio-fs-spec") eq shared)
    val c = shared.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), c).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(c).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(c).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }
}
