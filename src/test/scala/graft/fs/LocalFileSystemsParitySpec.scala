package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The graft `file:` classes against Hadoop's stock `LocalFileSystem` /
  * `LocalFs`: the same calls leave the same tree (permission bits, `.crc`
  * sidecars) and give the same answers (link status, missing paths,
  * overwriting renames). */
class LocalFileSystemsParitySpec extends AnyFunSuite with Matchers {
  private val fileUri = new URI("file:///")

  /** A fresh (uncached) FileSystem and a FileContext of the chosen flavour. */
  private def open(graft: Boolean): (FileSystem, FileContext) = {
    val conf = new Configuration()
    val fs = if (graft) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(fileUri, conf)
    conf.set("fs.AbstractFileSystem.file.impl",
      if (graft) classOf[NioLocalFs].getName else "org.apache.hadoop.fs.local.LocalFs")
    (fs, FileContext.getFileContext(fileUri, conf))
  }

  private def both[T](body: (FileSystem, FileContext, JPath) => T): (T, T) = {
    def run(graft: Boolean): T = {
      val (fs, fc) = open(graft)
      val root = Files.createTempDirectory(if (graft) "graft-fs-nio" else "graft-fs-stock")
      try body(fs, fc, root)
      finally {
        fs.close()
        val s = Files.walk(root)
        try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
      }
    }
    (run(graft = false), run(graft = true))
  }

  private def hp(p: JPath): Path = new Path(p.toString)

  private def write(fs: FileSystem, p: Path, text: String, perm: Option[FsPermission]): Unit = {
    val out = perm match {
      case Some(m) => fs.create(p, m, true, 4096, 1.toShort, 1L << 20, null)
      case None    => fs.create(p, true)
    }
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def fcWrite(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** relative path → octal mode (sticky bit included), for every file and
    * directory under root. */
  private def tree(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
      root.relativize(p).toString -> f"${mode & 0xfff}%04o"
    }.toMap finally s.close()
  }

  test("same writes leave the same permission bits and .crc sidecars; " +
    "checksummed read-back works and catches corruption") {
    val (stock, nio) = both { (fs, fc, root) =>
      fs.mkdirs(hp(root.resolve("a/b"))) shouldBe true
      fs.mkdirs(hp(root.resolve("private")), new FsPermission("700")) shouldBe true
      write(fs, hp(root.resolve("a/b/default.txt")), "default", None)
      write(fs, hp(root.resolve("private/secret.txt")), "secret", Some(new FsPermission("600")))
      write(fs, hp(root.resolve("a/wide.txt")), "wide", Some(new FsPermission("777")))
      fs.setPermission(hp(root.resolve("a/b")), new FsPermission("751"))
      fs.mkdirs(hp(root.resolve("shared"))) shouldBe true
      fs.setPermission(hp(root.resolve("shared")), new FsPermission(Integer.parseInt("1777", 8).toShort))
      fc.mkdir(hp(root.resolve("fc/dir")), new FsPermission("750"), true)
      fcWrite(fc, hp(root.resolve("fc/dir/x.txt")), "through FileContext")
      val t = tree(root)
      read(fs, hp(root.resolve("a/b/default.txt"))) shouldBe "default"
      read(fs, hp(root.resolve("private/secret.txt"))) shouldBe "secret"
      Files.writeString(root.resolve("a/wide.txt"), "WIDE")
      (t, Try(read(fs, hp(root.resolve("a/wide.txt")))).failed.toOption.map(_.getClass))
    }
    nio shouldBe stock
    val (t, corrupt) = nio
    Seq("a/b/.default.txt.crc", "private/.secret.txt.crc", "a/.wide.txt.crc",
      "fc/dir/.x.txt.crc").foreach(c => t.keySet should contain(c))
    t("private") shouldBe "0700"
    t("a/b") shouldBe "0751"
    t("shared") shouldBe "1777"
    corrupt shouldBe Some(classOf[ChecksumException])
  }

  test("link status: a symlinked directory reports isSymlink with its target; " +
    "plain paths report their own status; missing paths throw FileNotFoundException") {
    val (stock, nio) = both { (fs, fc, root) =>
      val target = Files.createDirectories(root.resolve("target"))
      Files.writeString(target.resolve("f.txt"), "f")
      val link = hp(Files.createSymbolicLink(root.resolve("link"), target))
      val missing = hp(root.resolve("nope"))
      def fnf(op: => Any): Boolean =
        Try(op).failed.toOption.exists(_.isInstanceOf[FileNotFoundException])
      val viaFs = fs.getFileLinkStatus(link)
      val viaFc = fc.getFileLinkStatus(link)
      val file = fs.getFileLinkStatus(hp(target.resolve("f.txt")))
      Map(
        "fs link" -> (viaFs.isSymlink, viaFs.getSymlink.toUri.getPath == target.toString),
        "fc link" -> (viaFc.isSymlink, viaFc.getSymlink.toUri.getPath == target.toString),
        "fs file" -> (file.isSymlink, file.isFile, file.getLen),
        "fc dir" -> (fc.getFileLinkStatus(hp(target)).isSymlink,
          fc.getFileLinkStatus(hp(target)).isDirectory),
        "missing" -> Seq(fnf(fs.getFileLinkStatus(missing)), fnf(fs.getFileStatus(missing)),
          fnf(fc.getFileLinkStatus(missing)), fnf(fc.getFileStatus(missing))))
    }
    nio shouldBe stock
    nio("fs link") shouldBe ((true, true))
    nio("fs file") shouldBe ((false, true, 1L))
    nio("fc dir") shouldBe ((false, true))
    nio("missing") shouldBe Seq(true, true, true, true)
  }

  test("FileContext rename with OVERWRITE replaces an existing file (checksum " +
    "included); without it the rename is refused") {
    val (stock, nio) = both { (fs, fc, root) =>
      val src = hp(root.resolve("d/src")); val dst = hp(root.resolve("d/dst"))
      fcWrite(fc, src, "new")
      fcWrite(fc, dst, "old")
      val refused = Try(fc.rename(src, dst)).failed.toOption.map(_.getClass.getSimpleName)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (refused, read(fs, dst), Files.exists(Paths.get(src.toString)), tree(root))
    }
    nio shouldBe stock
    nio._1 shouldBe Some("FileAlreadyExistsException")
    nio._2 shouldBe "new"
    nio._3 shouldBe false
    nio._4.keySet shouldBe Set("d", "d/dst", "d/.dst.crc")
  }
}
