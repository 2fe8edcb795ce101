package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** graft's fork-free `file://` classes against the stock ones. The
  * `FileSystem` reference is Hive's `ProxyLocalFileSystem`, which is
  * what `file` resolves to on Spark's classpath without graft's session
  * defaults (a stock `LocalFileSystem` that refuses a rename onto a
  * file); the `FileContext` reference is Hadoop's `LocalFs`. A case that
  * writes runs on twin temp trees and compares them; a case that only
  * reads runs both filesystems on the same paths.
  */
class LocalFsSpec extends GraftSuite {
  private val root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def initialized(fs: FileSystem, c: Configuration): FileSystem = { fs.initialize(root, c); fs }
  private def stockFs(c: Configuration) = initialized(new ProxyLocalFileSystem, c)
  private def graftFs(c: Configuration) = initialized(new NioLocalFileSystem, c)

  private def twins(): (File, File) = {
    val base = Files.createTempDirectory("graft_localfs").toFile
    (new File(base, "stock"), new File(base, "graft"))
  }

  /** Every path under `dir` (relative) with its mode, sticky bit
    * included, and the bytes of each regular file.
    */
  private def tree(dir: File): Map[String, (Int, Seq[Byte])] = {
    val rootPath = dir.toPath
    Files.walk(rootPath).iterator().asScala.map { p =>
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
      rootPath.relativize(p).toString -> (modeOf(p.toFile), bytes)
    }.toMap
  }

  private def modeOf(f: File): Int = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(mode: String): Int = Integer.parseInt(mode, 8)

  /** Creates, mkdirs and setPermission through the `FileSystem` face. */
  private def writeTree(fs: FileSystem, dir: File): Unit = {
    val d = new Path(dir.getAbsolutePath)
    val out = fs.create(new Path(d, "a/b/f.txt"))
    try out.write("hello".getBytes("UTF-8")) finally out.close()
    fs.create(new Path(d, "a/_SUCCESS"), false).close()
    assert(fs.mkdirs(new Path(d, "m/n")))
    assert(fs.mkdirs(new Path(d, "x"), new FsPermission("750")))
    fs.create(new Path(d, "g.txt")).close()
    fs.setPermission(new Path(d, "g.txt"), new FsPermission("640"))
  }

  for (umask <- Seq("022", "077")) test(s"create, mkdirs and setPermission leave equal trees (umask $umask)") {
    val (s, g) = twins()
    writeTree(stockFs(conf(umask)), s)
    writeTree(graftFs(conf(umask)), g)
    val (ts, tg) = (tree(s), tree(g))
    assert(ts == tg)
    assert(ts.contains("a/b/.f.txt.crc") && ts.contains("a/._SUCCESS.crc"), ts.keySet)
    val (file, dir, x) = if (umask == "022") ("644", "755", "750") else ("600", "700", "700")
    assert(tg("a/b/f.txt")._1 == octal(file) && tg("a/b/.f.txt.crc")._1 == octal(file))
    assert(tg("m/n")._1 == octal(dir) && tg("x")._1 == octal(x))
    // an explicit setPermission takes no umask
    assert(tg("g.txt")._1 == octal("640"))
  }

  test("a sticky-bit mode falls back to the stock chmod") {
    val (s, g) = twins()
    Seq(s, g).foreach(_.mkdirs())
    val sticky = new FsPermission(octal("1777").toShort)
    stockFs(conf("022")).setPermission(new Path(s.getAbsolutePath), sticky)
    graftFs(conf("022")).setPermission(new Path(g.getAbsolutePath), sticky)
    assert(modeOf(g) == octal("1777") && modeOf(s) == modeOf(g))
  }

  test("setPermission on a missing path fails with an IOException on both, not a FileNotFoundException") {
    val (s, _) = twins()
    val missing = new Path(s.getAbsolutePath, "nope")
    for (fs <- Seq(stockFs(conf("022")), graftFs(conf("022")))) {
      val e = intercept[IOException](fs.setPermission(missing, new FsPermission("644")))
      assert(!e.isInstanceOf[FileNotFoundException], e)
    }
  }

  /** What a caller can read of a link status, the lazily loaded owner
    * and permission included.
    */
  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
      st.getLen, st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)

  test("getFileLinkStatus agrees on files, directories, symlinks and missing paths, bare and qualified") {
    val dir = Files.createTempDirectory("graft_links").toFile
    Files.write(new File(dir, "f.txt").toPath, "x".getBytes("UTF-8"))
    new File(dir, "d").mkdir()
    Files.createSymbolicLink(new File(dir, "link").toPath, Paths.get("f.txt"))
    Files.createSymbolicLink(new File(dir, "dangling").toPath, Paths.get("gone.txt"))
    val (stock, graft) = (stockFs(conf("022")), graftFs(conf("022")))
    for {
      name <- Seq("f.txt", "d", "link", "dangling", "missing")
      path <- Seq(new Path(new File(dir, name).getAbsolutePath), new Path("file:" + new File(dir, name).getAbsolutePath))
    } {
      def status(fs: FileSystem): Either[(Class[_], String), Seq[Any]] =
        try Right(fields(fs.getFileLinkStatus(path)))
        catch { case e: IOException => Left(e.getClass -> e.getMessage) }
      val (a, b) = (status(stock), status(graft))
      assert(a == b, path)
      if (name == "missing") assert(b.left.exists(_._1 == classOf[FileNotFoundException]), b)
      // a bare path to a link reads the link; a qualified one follows it
      if (name == "link") assert(b.exists(_(3) == !path.toString.startsWith("file:")), b)
    }
  }

  test("rename onto an existing file returns false and leaves both files; other renames move") {
    val (s, g) = twins()
    def renames(fs: FileSystem, dir: File): Seq[Boolean] = {
      val d = new Path(dir.getAbsolutePath)
      Seq("src", "dst", "other").foreach { n =>
        val out = fs.create(new Path(d, n))
        try out.write(n.getBytes("UTF-8")) finally out.close()
      }
      fs.mkdirs(new Path(d, "into"))
      Seq(fs.rename(new Path(d, "src"), new Path(d, "dst")),
        fs.rename(new Path(d, "other"), new Path(d, "fresh")),
        fs.rename(new Path(d, "fresh"), new Path(d, "into")))
    }
    val results = renames(stockFs(conf("022")), s)
    assert(results == renames(graftFs(conf("022")), g) && results == Seq(false, true, true))
    assert(tree(s) == tree(g))
    assert(Seq("src", "dst", ".src.crc", ".dst.crc", "into/fresh", "into/.fresh.crc").forall(tree(g).contains))
  }

  /** Creates, mkdir and rename(OVERWRITE) through the `FileContext`
    * face, the calls a streaming checkpoint's atomic write makes, plus
    * the two failures it relies on.
    */
  private def writeContext(afs: AbstractFileSystem, c: Configuration, dir: File): Seq[Class[_]] = {
    val fc = FileContext.getFileContext(afs, c)
    val d = new Path(dir.getAbsolutePath)
    def put(p: Path, text: String, flags: EnumSet[CreateFlag]): Unit = {
      val out = fc.create(p, flags, Options.CreateOpts.createParent())
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    fc.mkdir(new Path(d, "offsets"), FsPermission.getDirDefault, true)
    put(new Path(d, "offsets/0"), "v1", EnumSet.of(CreateFlag.CREATE))
    put(new Path(d, "offsets/.1.tmp"), "v2", EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    fc.rename(new Path(d, "offsets/.1.tmp"), new Path(d, "offsets/1"), Options.Rename.OVERWRITE)
    put(new Path(d, "offsets/.0.tmp"), "v3", EnumSet.of(CreateFlag.CREATE))
    fc.rename(new Path(d, "offsets/.0.tmp"), new Path(d, "offsets/0"), Options.Rename.OVERWRITE)
    Seq(
      intercept[IOException](put(new Path(d, "offsets/1"), "v4", EnumSet.of(CreateFlag.CREATE))).getClass,
      intercept[IOException](fc.rename(new Path(d, "offsets/gone"), new Path(d, "offsets/2"),
        Options.Rename.OVERWRITE)).getClass)
  }

  for (umask <- Seq("022", "077")) test(s"FileContext create, mkdir and rename(OVERWRITE) leave equal trees (umask $umask)") {
    val (s, g) = twins()
    val c = conf(umask)
    val stock = AbstractFileSystem.get(root, c)
    assert(stock.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    val errors = writeContext(stock, c, s)
    assert(writeContext(new NioLocalFs(root, c), c, g) == errors)
    assert(errors == Seq(classOf[FileAlreadyExistsException], classOf[FileNotFoundException]))
    val tg = tree(g)
    assert(tree(s) == tg)
    assert(tg("offsets/0")._2 == "v3".getBytes("UTF-8").toSeq && tg.contains("offsets/.1.crc"), tg.keySet)
  }

  test("the session's Hadoop conf resolves file:/// to graft's classes; a plain conf to Hive's") {
    val hc = spark.sparkContext.hadoopConfiguration
    // newInstance: the JVM-wide cache ignores the conf
    val fs = FileSystem.newInstance(root, hc)
    try assert(fs.getClass == classOf[NioLocalFileSystem]) finally fs.close()
    assert(AbstractFileSystem.get(root, hc).getClass == classOf[NioLocalFs])
    assert(FileSystem.getFileSystemClass("file", new Configuration()) == classOf[ProxyLocalFileSystem])
  }
}
