package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.NioRawLocalFileSystem

/** The fork-free local filesystem answers as the stock
  * `RawLocalFileSystem` does, without starting a process. */
class NioLocalSpec extends AnyFunSuite {

  private def fs[T <: RawLocalFileSystem](f: T): T = {
    f.initialize(java.net.URI.create("file:///"), new Configuration()); f
  }
  private val stock = fs(new RawLocalFileSystem)
  private val nio = fs(new NioRawLocalFileSystem)

  private def fields(st: FileStatus) = (st.getLen, st.isFile, st.isDirectory, st.isSymlink,
    st.getModificationTime, st.getPermission, st.getOwner, st.getGroup, st.getPath,
    if (st.isSymlink) Some(st.getSymlink) else None)

  /** A file, a directory and a symlink to the file, with permissions the
    * defaults would not give. */
  private def tree(): JPath = {
    val dir = Files.createTempDirectory("graft_nio")
    val file = Files.write(dir.resolve("data.bin"), Array.fill[Byte](1234)(7))
    Files.setPosixFilePermissions(file, PosixFilePermissions.fromString("rw-r-----"))
    Files.setPosixFilePermissions(Files.createDirectory(dir.resolve("sub")),
      PosixFilePermissions.fromString("rwxr-x--x"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    dir
  }

  test("getFileStatus, getFileLinkStatus and listStatus match the stock filesystem") {
    val dir = tree()
    val (forks, _) = Forks.during {
      for (name <- Seq("data.bin", "sub", "link", "")) {
        // the bare path, as FileSystem callers pass it, and the qualified
        // one, as FileContext passes it
        for (p <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri))) {
          assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
          assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
          assert(nio.listStatus(p).map(fields).toSet == stock.listStatus(p).map(fields).toSet, p)
        }
      }
    }
    val link = stock.getFileLinkStatus(new Path(dir.resolve("link").toString))
    assert(link.isSymlink && nio.getFileLinkStatus(link.getPath).isSymlink, "a real link is seen")
    val file = nio.getFileStatus(new Path(dir.resolve("data.bin").toString))
    assert(file.getLen == 1234 && file.getPermission == new FsPermission("640"))
    assert(nio.getFileStatus(new Path(dir.toString)).isDirectory)
    assert(forks.nonEmpty, "the stock filesystem forks (the recording sees processes)")
    val nioOnly = Forks.during {
      Seq("data.bin", "sub", "").foreach { n =>
        val p = new Path(dir.resolve(n).toUri)
        nio.getFileStatus(p).getPermission; nio.getFileLinkStatus(p).getOwner
        nio.listStatus(p).foreach(_.getGroup)
      }
    }._1
    assert(nioOnly.isEmpty, s"no process for a status or listing: $nioOnly")
  }

  test("a missing path throws FileNotFoundException on both") {
    val missing = new Path(tree().resolve("absent").toString)
    for (f <- Seq(stock, nio)) {
      intercept[FileNotFoundException](f.getFileStatus(missing))
      intercept[FileNotFoundException](f.getFileLinkStatus(missing))
      intercept[FileNotFoundException](f.listStatus(missing))
      assert(!f.exists(missing))
    }
  }

  test("setPermission leaves the stock mode bits; a sticky bit takes the stock call") {
    val dir = tree()
    def mode(p: JPath) = stock.getFileStatus(new Path(p.toString)).getPermission
    for (perm <- Seq("600", "755", "421", "000")) {
      val Seq(a, b) = Seq("a", "b").map(n => Files.createFile(dir.resolve(s"$perm$n")))
      stock.setPermission(new Path(a.toString), new FsPermission(perm))
      val (forks, _) = Forks.during(nio.setPermission(new Path(b.toUri), new FsPermission(perm)))
      assert(mode(b) == mode(a) && mode(b) == new FsPermission(perm), perm)
      assert(forks.isEmpty, s"$perm: $forks")
    }
    val Seq(a, b) = Seq("ta", "tb").map(n => Files.createDirectory(dir.resolve(n)))
    stock.setPermission(new Path(a.toString), new FsPermission("1755"))
    val (forks, _) = Forks.during(nio.setPermission(new Path(b.toString), new FsPermission("1755")))
    assert(mode(b) == mode(a) && mode(b).getStickyBit, "the sticky bit is set")
    assert(forks.exists(_.startsWith("chmod")), s"the stock chmod sets it: $forks")
    assert(nio.getFileStatus(new Path(b.toString)).getPermission == mode(a))
  }
}

/** The processes the JVM starts while `body` runs (their command lines),
  * from an in-process JFR recording of `jdk.ProcessStart`. */
object Forks {
  def during[T](body: => T): (Seq[String], T) = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val dump = Files.createTempFile("graft_forks", ".jfr")
      try {
        rec.dump(dump)
        (jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command")), out)
      } finally Files.delete(dump)
    } finally rec.close()
  }
}
