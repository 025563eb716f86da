package graft.sources

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio `file:` FileSystem answers as stock Hadoop does. Both are
  * built directly: the JVM-wide FileSystem cache may already hold either. */
class LocalFsSpec extends AnyFunSuite {
  private val conf = new Configuration()
  conf.set("fs.permissions.umask-mode", "022")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), conf); fs }

  private def withDir(body: java.io.File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfs").toFile
    try body(dir) finally init(new RawLocalFileSystem).delete(new Path(dir.toURI), true)
  }

  private def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime,
    s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)

  private def mode(f: java.io.File) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("FileStatus fields equal stock for a file, a directory, a sticky directory, a symlink and a missing path") {
    withDir { dir =>
      val nio = init(new NioRawLocalFileSystem)
      val stock = init(new RawLocalFileSystem)
      val root = new Path(dir.toURI)
      val file = new Path(root, "part-0.parquet")
      val out = stock.create(file)
      out.write(Array.fill[Byte](1234)(7))
      out.close()
      stock.mkdirs(new Path(root, "sub"))
      stock.mkdirs(new Path(root, "sticky"))
      // java.nio cannot set the sticky bit: this goes through `super`
      nio.setPermission(new Path(root, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      Files.createSymbolicLink(Paths.get(dir.getPath, "link"), Paths.get(dir.getPath, "part-0.parquet"))
      for (name <- Seq("part-0.parquet", "sub", "sticky", "link")) {
        val p = new Path(root, name)
        assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), name)
        assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
        assert(nio.listStatus(p).map(fields).toSeq == stock.listStatus(p).map(fields).toSeq, name)
      }
      assert(nio.getFileStatus(new Path(root, "sticky")).getPermission.getStickyBit)
      assert(nio.listStatus(root).map(fields).sortBy(_._1.toString).toSeq ==
        stock.listStatus(root).map(fields).sortBy(_._1.toString).toSeq)
      val missing = new Path(root, "missing")
      for (fs <- Seq(nio, stock)) {
        intercept[FileNotFoundException](fs.getFileStatus(missing))
        intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fs.listStatus(missing))
      }
    }
  }

  test("create under umask 022 gives 0644, mkdirs 0755, and the checksum layer still guards reads") {
    withDir { dir =>
      val fs = init(new LocalFs)
      val file = new Path(new Path(dir.toURI), "data.bin")
      val out = fs.create(file)
      out.write(Array.tabulate[Byte](4096)(_.toByte))
      out.close()
      fs.mkdirs(new Path(new Path(dir.toURI), "a/b"))
      assert(mode(new java.io.File(dir, "data.bin")) == "rw-r--r--")
      assert(mode(new java.io.File(dir, ".data.bin.crc")) == "rw-r--r--")
      assert(mode(new java.io.File(dir, "a/b")) == "rwxr-xr-x")
      val in = fs.open(file)
      try assert(in.readAllBytes().length == 4096) finally in.close()
      val raf = new RandomAccessFile(new java.io.File(dir, "data.bin"), "rw")
      try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 1) }
      finally raf.close()
      val bad = fs.open(file)
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }
  }

  test("a session built through EngineConf.tune resolves file: to the java.nio classes") {
    val spark = graft.EngineConf.session(1)
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val fs = FileSystem.newInstance(URI.create("file:///"), hconf)
      try assert(fs.getClass == classOf[LocalFs]) finally fs.close()
      assert(FileContext.getLocalFSFileContext(hconf).getDefaultFileSystem.getClass ==
        classOf[LocalChecksumFs])
    } finally spark.stop()
  }
}
