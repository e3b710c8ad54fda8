package graft.hadoop

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileContext, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  AbstractFileContextBasedCheckpointFileManager, CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** The NIO local filesystem against Hadoop's own: the same answers
  * from [[NioRawLocalFileSystem]] as from `RawLocalFileSystem`, and
  * the same checksum protection through the engine's `file:` bindings
  * as through Hadoop's stock `LocalFs`.
  *
  * Every filesystem here comes from `FileSystem.newInstance` or
  * `FileContext`: `FileSystem.get` would return the `file:` instance
  * the shared test session cached.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private val LocalUri = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(LocalUri, new Configuration())
    fs
  }

  private def tempDir(prefix: String): JPath =
    Files.createTempDirectory(prefix).toRealPath()

  /** The Hadoop conf of [[GraftSession.engine]]'s `file:` bindings. */
  private def engineConf(): Configuration = {
    val c = new Configuration()
    GraftSession.LocalFsConfs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  /** What `getFileLinkStatus` answers, or the exception it throws. */
  private def linkStatus(fs: RawLocalFileSystem, p: Path) =
    try {
      val s = fs.getFileLinkStatus(p)
      Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        if (s.isSymlink) Some(s.getSymlink) else None))
    } catch { case e: IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus matches RawLocalFileSystem on files, dirs, missing paths and symlinks") {
    val nio = raw(new NioRawLocalFileSystem)
    val stock = raw(new RawLocalFileSystem)
    val d = tempDir("nio_link_")
    val file = Files.write(d.resolve("f"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")
    // bare and `file:`-qualified paths: Hadoop's readlink fork gets the
    // qualified form's string verbatim, fails, and so reports a
    // qualified symlink as its target (a dangling one as missing)
    for (p <- Seq(file, dir, link, dangling, missing);
         hp <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(linkStatus(nio, hp) == linkStatus(stock, hp), hp)

    val ls = nio.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink && ls.getSymlink == new Path(file.toUri))
    assert(ls.getSymlink.toUri.getScheme == "file")
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(linkStatus(nio, new Path(missing.toString)) == Left(classOf[FileNotFoundException].getName))
  }

  test("setPermission round-trips 0644, 0755 and 0700 as RawLocalFileSystem sets them") {
    val nio = raw(new NioRawLocalFileSystem)
    val stock = raw(new RawLocalFileSystem)
    val d = tempDir("nio_perm_")
    for (mode <- Seq("644", "755", "700")) {
      val perm = new FsPermission(mode)
      val (a, b) = (d.resolve(s"nio_$mode"), d.resolve(s"stock_$mode"))
      Files.write(a, Array[Byte](0)); Files.write(b, Array[Byte](0))
      nio.setPermission(new Path(a.toUri), perm)
      stock.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), mode)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(a)) == perm.toString, mode)
      assert(stock.getFileStatus(new Path(a.toUri)).getPermission == perm, mode)
    }
  }

  /** Writes 4 KiB to `file` through `mgr.createAtomic`, checks its
    * `.crc` twin exists, flips one data byte on disk, and reads the
    * file back twice: through `mgr.open` (`FileContext.open(path)`,
    * which `FilterFs` hands to the raw filesystem unverified) and
    * through `FileContext.open(path, bufferSize)` (`ChecksumFs`'s
    * verifying reader). Returns each read's outcome.
    */
  private def corruptAndRead(mgr: CheckpointFileManager, conf: Configuration,
      file: JPath): (String, String) = {
    val p = new Path(file.toUri)
    val out = mgr.createAtomic(p, true)
    out.write(Array.tabulate[Byte](4096)(_.toByte))
    out.close()
    val crc = file.resolveSibling(s".${file.getFileName}.crc")
    assert(Files.exists(crc), s"no checksum twin $crc")
    val bytes = Files.readAllBytes(file)
    bytes(100) = (bytes(100) ^ 0x1).toByte
    Files.write(file, bytes)
    def outcome(open: => FSDataInputStream): String =
      try {
        val in = open
        try { in.readAllBytes(); "read" } finally in.close()
      } catch { case e: IOException => e.getClass.getSimpleName }
    (outcome(mgr.open(p)), outcome(FileContext.getFileContext(p.toUri, conf).open(p, 4096)))
  }

  test("engine conf: FileContext checkpoints over NioLocalFs keep .crc twins, checked as by LocalFs") {
    val d = tempDir("nio_ckpt_")
    val conf = engineConf()
    val mgr = CheckpointFileManager.create(new Path(d.toUri), conf)
    assert(mgr.isInstanceOf[FileContextBasedCheckpointFileManager])
    val fcField = classOf[AbstractFileContextBasedCheckpointFileManager].getDeclaredField("fc")
    fcField.setAccessible(true)
    assert(fcField.get(mgr).asInstanceOf[FileContext].getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val nio = corruptAndRead(mgr, conf, d.resolve("1"))
    assert(nio._2 == "ChecksumException")

    // the same corruption through Hadoop's stock LocalFs reads the same way
    val stockConf = new Configuration()
    val stockMgr = CheckpointFileManager.create(new Path(d.toUri), stockConf)
    assert(nio == corruptAndRead(stockMgr, stockConf, d.resolve("2")))
  }

  test("engine FileSystem binding keeps .crc twins; the builder binding writes none") {
    val d = tempDir("nio_fs_")
    val engineFs = FileSystem.newInstance(LocalUri, engineConf())
    val harnessFs = FileSystem.newInstance(LocalUri, TestSpark.spark.sparkContext.hadoopConfiguration)
    try {
      assert(engineFs.getClass == classOf[NioChecksumLocalFileSystem])
      assert(harnessFs.getClass == classOf[NioLocalFileSystem])
      for ((fs, name) <- Seq(engineFs -> "engine", harnessFs -> "harness")) {
        val out = fs.create(new Path(d.resolve(name).toUri))
        out.write(Array.fill[Byte](64)(7))
        out.close()
      }
      assert(Files.exists(d.resolve(".engine.crc")))
      assert(!Files.exists(d.resolve(".harness.crc")))
      val bytes = Files.readAllBytes(d.resolve("engine"))
      bytes(0) = 8
      Files.write(d.resolve("engine"), bytes)
      intercept[ChecksumException] {
        val in = engineFs.open(new Path(d.resolve("engine").toUri))
        try in.readAllBytes() finally in.close()
      }
    } finally {
      engineFs.close()
      harnessFs.close()
    }
  }
}
