package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.NioLocalFileSystem

class NioLocalFileSystemSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def graftFs: FileSystem = new Path("file:///").getFileSystem(conf)

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  /** Every mode bit, sticky included (`java.nio`'s POSIX view drops it). */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  private def tmpDir(): Path =
    new Path(Files.createTempDirectory("graft-localfs").toUri)

  test("a graft session resolves file: paths to NioLocalFileSystem, still checksummed") {
    assert(graftFs.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
  }

  test("mkdirs and create set the same permission bits as the stock LocalFileSystem") {
    val base = tmpDir()
    val cases = Seq(("explicit", Some("750"), Some("640")), ("default", None, None))
    for ((label, dirMode, fileMode) <- cases; (name, fs) <- Seq("stock" -> stockFs, "graft" -> graftFs)) {
      val dir = new Path(base, s"$label-$name/sub")
      dirMode match {
        case Some(m) => assert(fs.mkdirs(dir, new FsPermission(m)))
        case None => assert(fs.mkdirs(dir))
      }
      val file = new Path(dir, "part.bin")
      val out = fileMode match {
        case Some(m) => fs.create(file, new FsPermission(m), false, 4096,
          fs.getDefaultReplication(file), fs.getDefaultBlockSize(file), null)
        case None => fs.create(file)
      }
      out.write(Array[Byte](1, 2, 3))
      out.close()
    }
    def at(label: String, name: String) = new Path(base, s"$label-$name/sub")
    assert(perms(at("explicit", "stock")) == "rwxr-x---")
    assert(perms(new Path(at("explicit", "stock"), "part.bin")) == "rw-r-----")
    for (label <- Seq("explicit", "default"); rel <- Seq("", "part.bin")) {
      def p(name: String) = if (rel.isEmpty) at(label, name) else new Path(at(label, name), rel)
      assert(perms(p("graft")) == perms(p("stock")), s"$label $rel")
    }
    // so does the parent that mkdirs created on the way
    assert(perms(new Path(base, "explicit-graft")) == perms(new Path(base, "explicit-stock")))
  }

  test("a sticky directory keeps its sticky bit through the inherited fallback") {
    val base = tmpDir()
    // mkdirs applies the umask, which clears the sticky bit: set it directly
    for ((name, fs) <- Seq("stock" -> stockFs, "graft" -> graftFs)) {
      val dir = new Path(base, name)
      assert(fs.mkdirs(dir))
      fs.setPermission(dir, new FsPermission("1777"))
    }
    val graftMode = mode(new Path(base, "graft"))
    assert((graftMode & Integer.parseInt("1000", 8)) != 0, f"sticky bit missing: $graftMode%o")
    assert(graftMode == mode(new Path(base, "stock")))
  }

  test("a created file still gets its .crc sidecar") {
    val file = new Path(tmpDir(), "data.bin")
    val out = graftFs.create(file)
    out.write(Array.fill[Byte](1000)(7))
    out.close()
    val crc = new Path(file.getParent, ".data.bin.crc")
    assert(graftFs.exists(crc))
    assert(perms(crc) == perms(file))
    val in = graftFs.open(file)
    try assert(in.readAllBytes().length == 1000)
    finally in.close()
  }
}
