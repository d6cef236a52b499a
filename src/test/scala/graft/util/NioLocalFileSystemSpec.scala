package graft.util

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The `file` connector registered by `core-site.xml` keeps Hadoop's
  * local semantics. Each probe runs once on Hadoop's own connector
  * (`LocalFileSystem` / `LocalFs`) and once on [[NioLocalFileSystem]] /
  * [[NioLocalFs]], through both `FileSystem` and `FileContext`, and the
  * two must agree, besides meeting the expected value outright. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  /** a umask unlike the usual process default, so a bit the connector
    * takes from the process rather than from the conf shows */
  private val umask = "027"

  private def conf(stock: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (stock) {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  /** runs `f` with a fresh uncached `FileSystem` of the chosen connector */
  private def withFs[A](stock: Boolean)(f: FileSystem => A): A = {
    val fs = FileSystem.newInstance(URI.create("file:///"), conf(stock))
    try f(fs) finally fs.close()
  }

  private def fc(stock: Boolean): FileContext = FileContext.getLocalFSFileContext(conf(stock))

  /** both connectors, each on its own scratch dir */
  private def bothSides[A](prefix: String)(probe: (Boolean, String) => A): (A, A) =
    (probe(true, Scratch.dir(prefix + "-stock")), probe(false, Scratch.dir(prefix + "-nio")))

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def write(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()

  private def read(in: java.io.InputStream): String =
    try new String(in.readAllBytes(), "UTF-8") finally in.close()

  test("core-site.xml registers the connector for both Hadoop APIs") {
    withFs(stock = false)(fs => assert(fs.isInstanceOf[NioLocalFileSystem]))
    assert(fc(stock = false).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[NioLocalFileSystem])
  }

  test("created files and dirs carry Hadoop's permission bits") {
    val (stock, nio) = bothSides("graft-nio-perm") { (stock, dir) =>
      val viaFs = withFs(stock) { fs =>
        fs.mkdirs(new Path(dir, "fs-dir/nested"))
        write(fs.create(new Path(dir, "fs-file")), "x")
        write(fs.create(new Path(dir, "fs-640"), new FsPermission("640"), false, 4096,
          fs.getDefaultReplication(new Path(dir)), fs.getDefaultBlockSize(new Path(dir)), null), "x")
        fs.mkdirs(new Path(dir, "fs-700"), new FsPermission("700"))
        fs.setPermission(new Path(dir, "fs-file"), new FsPermission("604"))
        Seq("fs-dir", "fs-dir/nested", "fs-file", "fs-640", "fs-700")
      }
      val c = fc(stock)
      c.mkdir(new Path(dir, "fc-dir/nested"), FsPermission.getDirDefault, true)
      write(c.create(new Path(dir, "fc-file"), EnumSet.of(CreateFlag.CREATE)), "x")
      write(c.create(new Path(dir, "fc-600"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission("600"))), "x")
      (viaFs ++ Seq("fc-dir", "fc-dir/nested", "fc-file", "fc-600"))
        .map(n => n -> mode(s"$dir/$n")).toMap
    }
    assert(nio === stock)
    // umask 027 applies to the defaults (0777 dirs, 0666 files) and to
    // explicit modes alike, except on setPermission, which takes bits as given
    assert(nio === Map(
      "fs-dir" -> "rwxr-x---", "fs-dir/nested" -> "rwxr-x---",
      "fs-file" -> "rw----r--", "fs-640" -> "rw-r-----", "fs-700" -> "rwx------",
      "fc-dir" -> "rwxr-x---", "fc-dir/nested" -> "rwxr-x---",
      "fc-file" -> "rw-r-----", "fc-600" -> "rw-------"))
  }

  test("a sticky bit still reaches the directory") {
    withFs(stock = false) { fs =>
      val dir = new Path(Scratch.dir("graft-nio-sticky"), "d")
      fs.mkdirs(dir)
      fs.setPermission(dir, new FsPermission("1777"))
      assert(mode(dir.toString) === "rwxrwxrwx")
      assert(fs.getFileStatus(dir).getPermission.getStickyBit)
    }
  }

  test("getFileLinkStatus: a real symlink reports its target, a file equals getFileStatus") {
    /** names, not paths: the two sides run in different dirs */
    def summary(st: FileStatus): (Boolean, Boolean, Long, String, Option[String]) =
      (st.isSymlink, st.isFile, st.getLen, st.getPath.getName,
        if (st.isSymlink) Some(st.getSymlink.getName) else None)

    val (stock, nio) = bothSides("graft-nio-link") { (stock, dir) =>
      val target = Paths.get(dir, "target")
      Files.writeString(target, "abc")
      Files.createSymbolicLink(Paths.get(dir, "link"), target)
      val (file, link) = (new Path(dir, "target"), new Path(dir, "link"))
      val viaFs = withFs(stock)(fs => Seq(
        summary(fs.getFileLinkStatus(link)), summary(fs.getFileLinkStatus(file)),
        summary(fs.getFileStatus(file))))
      val c = fc(stock)
      viaFs ++ Seq(summary(c.getFileLinkStatus(link)), summary(c.getFileLinkStatus(file)),
        summary(c.getFileStatus(file)))
    }
    assert(nio === stock)
    val Seq(fsLink, fsFile, fsStat, fcLink, fcFile, fcStat) = nio
    assert(fsLink === ((true, false, 3L, "link", Some("target"))) && fcLink === fsLink)
    assert(fsFile === ((false, true, 3L, "target", None)))
    assert(Seq(fsStat, fcFile, fcStat).forall(_ == fsFile))
  }

  test("rename: NONE refuses an existing target, OVERWRITE replaces it") {
    val (stock, nio) = bothSides("graft-nio-rename") { (stock, dir) =>
      val c = fc(stock)
      val (a, b, fresh) = (new Path(dir, "a"), new Path(dir, "b"), new Path(dir, "fresh"))
      write(c.create(a, EnumSet.of(CreateFlag.CREATE)), "A")
      write(c.create(b, EnumSet.of(CreateFlag.CREATE)), "B")
      val refused = intercept[FileAlreadyExistsException](c.rename(a, b, Options.Rename.NONE))
      val afterRefusal = (read(c.open(a)), read(c.open(b)))
      c.rename(a, b, Options.Rename.OVERWRITE)
      val afterOverwrite = (c.util.exists(a), read(c.open(b)))
      c.rename(b, fresh, Options.Rename.NONE)
      // the checksum file travels with its data file
      val crcs = Files.list(Paths.get(dir)).toArray.map(_.toString.replaceAll(".*/", ""))
        .filter(_.endsWith(".crc")).sorted.toSeq
      val viaFs = withFs(stock) { fs =>
        write(fs.create(new Path(dir, "c")), "C")
        (fs.rename(new Path(dir, "c"), new Path(dir, "d")), read(fs.open(new Path(dir, "d"))))
      }
      (refused.getClass, afterRefusal, afterOverwrite, read(c.open(fresh)), crcs, viaFs)
    }
    assert(nio === stock)
    assert(nio === (classOf[FileAlreadyExistsException], ("A", "B"), (false, "A"), "A",
      Seq(".fresh.crc"), (true, "C")))
  }

  test("a .crc is written and a flipped data byte fails the read") {
    /** Hadoop's `LocalFileSystem` moves a corrupt file into `bad_files`
      * at its highest writable ancestor on the device, `/` for root; the
      * probe keeps it in place and checks only the verification */
    def keepingCorruptFiles(stock: Boolean): LocalFileSystem = {
      val fs =
        if (stock) new LocalFileSystem {
          override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                             sums: FSDataInputStream, sumsPos: Long) = false
        } else new NioLocalFileSystem {
          override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                             sums: FSDataInputStream, sumsPos: Long) = false
        }
      fs.initialize(URI.create("file:///"), conf(stock))
      fs
    }

    val (stock, nio) = bothSides("graft-nio-crc") { (stock, dir) =>
      val (viaFs, viaFc) = (new Path(dir, "fs-data"), new Path(dir, "fc-data"))
      withFs(stock)(fs => write(fs.create(viaFs), "checksummed bytes"))
      val c = fc(stock)
      write(c.create(viaFc, EnumSet.of(CreateFlag.CREATE)), "checksummed bytes")
      val crcs = Seq(viaFs, viaFc).map(p => Files.readAllBytes(Paths.get(dir, s".${p.getName}.crc")).toSeq)
      Seq(viaFs, viaFc).foreach { p =>
        val raf = new RandomAccessFile(p.toString, "rw")
        try { raf.seek(3); raf.write('X') } finally raf.close()
      }
      val fs = keepingCorruptFiles(stock)
      // both .crc files are in force for a FileSystem read; Hadoop's own
      // FileContext `LocalFs` reads the file back unverified (Hadoop 3.4.2)
      val reads = try Seq(viaFs, viaFc).map(p => Try(read(fs.open(p))).failed.toOption.map(_.getClass))
        finally fs.close()
      (crcs, reads, Try(read(c.open(viaFc))).toOption)
    }
    assert(nio === stock)
    val (crcs, reads, _) = nio
    assert(crcs.forall(_.length > 8) && crcs.distinct.size == 1)
    assert(reads === Seq(Some(classOf[ChecksumException]), Some(classOf[ChecksumException])))
  }
}
