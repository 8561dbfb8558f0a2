package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.funspec.AnyFunSpec

/** A raw local file system that fails on the two calls that fork a process
  * (`chmod`, `readlink`) when Hadoop's native library is absent. */
class NoForkRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    throw new IllegalStateException(s"setPermission($p) forks chmod")
  override def getFileLinkStatus(p: Path): FileStatus =
    throw new IllegalStateException(s"getFileLinkStatus($p) forks readlink")
}

/** `file:` through [[NoForkRawFileSystem]], installed with `fs.file.impl`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawFileSystem)

class LocalCheckpointFileManagerSpec extends AnyFunSpec {

  private def noForkConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  private def newDir(): Path = new Path(Files.createTempDirectory("graft-ckpt").toUri)

  private def write(m: LocalCheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: LocalCheckpointFileManager, p: Path): String =
    Using.resource(m.open(p))(in => new String(in.readAllBytes(), UTF_8))

  private def names(dir: Path): Set[String] =
    Using.resource(Files.list(new java.io.File(dir.toUri).toPath))(_.iterator.asScala
      .map(_.getFileName.toString).toSet)

  describe("LocalCheckpointFileManager fork guard") {
    it("bites Spark's FileSystem-based manager, which sets a permission per write") {
      val dir = newDir()
      val m = new FileSystemBasedCheckpointFileManager(dir, noForkConf)
      intercept[IllegalStateException] {
        val out = m.createAtomic(new Path(dir, "0"), false)
        out.write(1)
        out.close()
      }
    }
    it("passes every call the metadata log makes") {
      val dir = newDir()
      val m = new LocalCheckpointFileManager(dir, noForkConf)
      val logDir = new Path(dir, "offsets")
      m.mkdirs(logDir)
      write(m, new Path(logDir, "0"), "a", overwrite = false)
      write(m, new Path(logDir, "0"), "b", overwrite = true)
      m.createAtomic(new Path(logDir, "1"), false).cancel()
      assert(read(m, new Path(logDir, "0")) == "b")
      assert(m.list(logDir).map(_.getPath.getName).toSeq == Seq("0"))
      assert(m.exists(new Path(logDir, "0")) && !m.exists(new Path(logDir, "1")))
      m.delete(new Path(logDir, "0"))
      assert(!m.exists(new Path(logDir, "0")))
      assert(m.createCheckpointDirectory().toUri.getScheme == "file")
    }
  }

  describe("LocalCheckpointFileManager semantics") {
    it("makes a write visible only after close()") {
      val dir = newDir()
      val m = new LocalCheckpointFileManager(dir, new Configuration())
      val target = new Path(dir, "0")
      val out = m.createAtomic(target, false)
      out.write("x".getBytes(UTF_8))
      out.flush()
      assert(!m.exists(target) && !m.list(dir).exists(_.getPath.getName == "0"))
      out.close()
      assert(read(m, target) == "x")
      assert(names(dir) == Set("0"))
    }
    it("leaves no file behind on cancel()") {
      val dir = newDir()
      val m = new LocalCheckpointFileManager(dir, new Configuration())
      val out = m.createAtomic(new Path(dir, "0"), false)
      out.write("x".getBytes(UTF_8))
      out.cancel()
      out.close()
      assert(names(dir).isEmpty)
    }
    it("replaces the target with overwriteIfPossible = true") {
      val dir = newDir()
      val m = new LocalCheckpointFileManager(dir, new Configuration())
      write(m, new Path(dir, "0"), "old", overwrite = false)
      write(m, new Path(dir, "0"), "new", overwrite = true)
      assert(read(m, new Path(dir, "0")) == "new")
      assert(names(dir) == Set("0"))
    }
    it("lets the first of two no-clobber writers win") {
      val dir = newDir()
      val m = new LocalCheckpointFileManager(dir, new Configuration())
      val target = new Path(dir, "7")
      val first = m.createAtomic(target, false)
      val second = m.createAtomic(target, false)
      first.write("first".getBytes(UTF_8))
      second.write("second".getBytes(UTF_8))
      first.close()
      intercept[FileAlreadyExistsException](second.close())
      assert(read(m, target) == "first")
      assert(names(dir) == Set("7"))
    }
    it("hides, drops and deletes the checksum sidecars Spark's default writes") {
      val dir = newDir()
      val m = new LocalCheckpointFileManager(dir, new Configuration())
      val local = new java.io.File(dir.toUri).toPath
      Files.writeString(local.resolve(".0.crc"), "stale")
      Files.writeString(local.resolve(".1.crc"), "sidecar")
      Files.writeString(local.resolve("1"), "by default")
      write(m, new Path(dir, "0"), "x", overwrite = false)
      assert(names(dir) == Set("0", "1", ".1.crc"))
      assert(m.list(dir).map(_.getPath.getName).toSet == Set("0", "1"))
      m.delete(new Path(dir, "1"))
      assert(names(dir) == Set("0"))
    }
    it("sends only local paths to java.nio") {
      val conf = new Configuration()
      assert(LocalCheckpointFileManager.isLocal(new Path("file:/tmp/ckpt"), conf))
      assert(LocalCheckpointFileManager.isLocal(new Path("/tmp/ckpt"), conf))
      assert(!LocalCheckpointFileManager.isLocal(new Path("s3a://b/k"), conf))
      assert(!LocalCheckpointFileManager.isLocal(new Path("hdfs://nn:8020/ckpt"), conf))
      conf.set("fs.defaultFS", "hdfs://nn:8020")
      assert(!LocalCheckpointFileManager.isLocal(new Path("/ckpt"), conf))
    }
  }
}
