package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{FileSystemException, Files, LinkOption, NoSuchFileException, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.attribute.BasicFileAttributes
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.{Comparator, UUID}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A Spark [[CheckpointFileManager]] that writes a local (`file:`)
  * checkpoint's metadata logs with java.nio, so writing one batch's offset
  * and commit entries starts no process.
  *
  * Spark's default manager writes through Hadoop's local file system.
  * Without Hadoop's native library every rename's `getFileLinkStatus`
  * forks `readlink` and every create with a permission forks `chmod`,
  * which made up half of a one-file micro-batch's trigger time. This
  * manager calls neither: writes, listings, `exists`, `mkdirs` and
  * `delete` use java.nio, and `open` reads through `RawLocalFileSystem`.
  *
  * What `HDFSMetadataLog` relies on is kept:
  *  - '''Atomic write.''' Bytes go to `.<name>.<uuid>.tmp` beside the
  *    target (Spark's own temp name; the leading dot keeps it from reading
  *    as a batch file) and are moved into place on `close()`.
  *  - '''No-clobber.''' With `overwriteIfPossible = false` the temp is
  *    hard-linked to the target, which fails atomically if the target
  *    exists: `close()` then throws Hadoop's `FileAlreadyExistsException`
  *    and the target keeps the first writer's bytes. Where the file system
  *    refuses links, that write goes through Spark's default manager.
  *  - '''Cancel.''' `cancel()` deletes the temp and never the target.
  *  - '''Durability parity.''' Nothing is synced, as Spark's default
  *    manager does not sync on the local file system either.
  *  - '''Restart compatibility, both ways.''' No `.N.crc` sidecar is
  *    written and none is read, so a checkpoint of either manager resumes
  *    under the other. `delete` removes a sidecar when one exists, and a
  *    placed file drops a stale one, so Spark's default never checks new
  *    bytes against an old checksum.
  *
  * A non-local path (HDFS, S3, ...) is handed to
  * `CheckpointFileManager.create` with [[ClassKey]] unset, so those schemes
  * keep exactly Spark's choice.
  *
  * Version note: written against Spark 4.1.2, whose checkpoint classes live
  * in `org.apache.spark.sql.execution.streaming.checkpointing`; earlier
  * releases kept them one package up. This file is the repo's only user
  * of that package, so a Spark upgrade that moves it again breaks here
  * alone.
  */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, conf)) new LocalCheckpointFileManager.Nio(path, conf)
    else LocalCheckpointFileManager.sparkDefault(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** Spark's (internal) session key naming the manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True iff `path` resolves to the local file system: a `file:` scheme,
    * or no scheme while the default file system is local. */
  def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The manager Spark picks for `path` when no class is configured. */
  def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val unset = new Configuration(conf)
    unset.unset(ClassKey)
    CheckpointFileManager.create(path, unset)
  }

  private def local(p: Path): NioPath = new java.io.File(p.toUri.getPath).toPath

  /** Hadoop's checksum file for `p`, as the default manager writes it. */
  private def sidecar(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  private final class Nio(path: Path, conf: Configuration) extends CheckpointFileManager {
    private lazy val raw = FileSystem.getLocal(conf).getRawFileSystem

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicFile(p, temp, new BufferedOutputStream(Files.newOutputStream(temp, CREATE_NEW, WRITE)),
        overwriteIfPossible)
    }

    private final class AtomicFile(target: Path, temp: NioPath, out: OutputStream, overwrite: Boolean)
        extends CancellableFSDataOutputStream(out) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try { underlyingStream.close(); place() }
          finally Files.deleteIfExists(temp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close() catch { case NonFatal(_) => }
          finally Files.deleteIfExists(temp)
        }
      }

      private def place(): Unit = {
        val dst = local(target)
        val placed =
          if (overwrite) { Files.move(temp, dst, ATOMIC_MOVE); true }
          else try { Files.createLink(dst, temp); true } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target exists; not overwriting it")
            case _: UnsupportedOperationException | _: FileSystemException => false
          }
        if (placed) Files.deleteIfExists(sidecar(dst)) else viaSparkDefault()
      }

      /** The no-clobber write where the file system refuses hard links. */
      private def viaSparkDefault(): Unit = {
        val fallback = sparkDefault(target, conf).createAtomic(target, false)
        try { Files.copy(temp, fallback); fallback.close() }
        catch { case e: Throwable => fallback.cancel(); throw e }
      }
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      try Using.resource(Files.newDirectoryStream(local(p))) { entries =>
        entries.asScala.iterator
          .filterNot { e => val n = e.getFileName.toString; n.startsWith(".") && n.endsWith(".crc") }
          .map(e => new Path(p, e.getFileName.toString) -> e)
          .filter { case (hp, _) => filter.accept(hp) }
          .map { case (hp, e) =>
            val a = Files.readAttributes(e, classOf[BasicFileAttributes])
            new FileStatus(a.size, a.isDirectory, 1, raw.getDefaultBlockSize(hp),
              a.lastModifiedTime.toMillis, hp)
          }.toArray
      } catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val target = local(p)
      if (Files.isDirectory(target, LinkOption.NOFOLLOW_LINKS))
        Using.resource(Files.walk(target))(_.sorted(Comparator.reverseOrder[NioPath]())
          .forEach(f => Files.delete(f)))
      else Files.deleteIfExists(target)
      Files.deleteIfExists(sidecar(target))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(path)
      raw.makeQualified(path)
    }
  }
}
