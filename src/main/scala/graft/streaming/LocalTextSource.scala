package graft.streaming

import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Path => NioPath, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamOptions, FileStreamSourceLog,
  FileStreamSourceOffset}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource.{FileEntry, SeenFilesMap}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.LineRanges

/** The streaming text source of [[InferStream.run]] for a plain local
  * directory: the batches of Spark's `FileStreamSource` without its
  * per-trigger file index.
  *
  * Spark's file source builds a fresh `InMemoryFileIndex` on every
  * trigger, idle polls included: a cloned Hadoop `Configuration` and a
  * `JobConf` whose `setJarByClass` scans the classpath, once to find new
  * files and once more to plan the batch. This source keeps its state
  * from one trigger to the next instead:
  *  - '''`getOffset`''' lists the directory's own files with java.nio,
  *    under Hadoop's hidden-name rule ([[hidden]]), and takes each file it
  *    has not seen, oldest first. Files are deduplicated by Spark's own
  *    `SeenFilesMap` with Spark's default `maxFileAge`, so a file touched
  *    again is not read again. Only a batch that has files is written, to
  *    Spark's own `FileStreamSourceLog` at `<checkpoint>/sources/0`, with
  *    `FileStreamSourceOffset` offsets. Paths take the form Hadoop's
  *    listing gives them, so a checkpoint resumes under either source.
  *  - '''`getBatch`''' returns a streaming `LogicalRelation` over a text
  *    `HadoopFsRelation` whose index ([[BatchFileIndex]]) holds just the
  *    batch's files that Spark would read ([[readable]]): their java.nio
  *    length and logged mtime. It lists nothing. A batch this instance logged is kept in memory until its
  *    `commit`; an older one (after a restart) is read back from the log.
  *    A file gone since it was logged is left out, as Spark's index leaves
  *    out a missing root path.
  *
  * Version note: written against Spark 4.1.2, whose v1 `Source`,
  * `FileStreamSourceLog`, `FileStreamSourceOffset` and `SeenFilesMap`
  * live in `org.apache.spark.sql.execution.streaming` and its `runtime`
  * package. This file is the repo's only user of the file-source classes,
  * so a Spark upgrade that moves or changes them breaks here alone.
  */
object LocalTextSource {

  /** The text source's one column. */
  private[streaming] val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Spark's default `maxFileAge` for a file source (seven days). */
  private lazy val MaxFileAgeMs: Long = new FileStreamOptions(Map.empty[String, String]).maxFileAgeMs

  /** The block size Hadoop's local file system reports (32 MB). */
  private val BlockSize = 32L << 20

  /** `inPath` in Hadoop's qualified `file:/…` form when this source reads
    * it; None for every path that keeps Spark's text source, decided from
    * the path itself:
    *  - a scheme other than `file:` (a path without one takes
    *    `fs.defaultFS`'s), or a `file:` URI with an authority;
    *  - `file:` on a file system that is not stock ([[LineRanges]]' rule);
    *  - a glob;
    *  - a path that is not an existing directory (Spark then reports it);
    *  - a directory holding `_spark_metadata`, a file sink's output, which
    *    Spark reads through the sink's log;
    *  - a directory with a `name=value` directory below it, from which
    *    Spark infers a partition column.
    *
    * A `_spark_metadata` or a `name=value` directory that appears once the
    * query runs does not switch sources: this source goes on reading the
    * directory's own files, and never the files below it. */
  private[streaming] def localDir(spark: SparkSession, inPath: String): Option[Path] = {
    val hadoop = GraftBridge.hadoopConf(spark, Map.empty)
    val path = new Path(inPath)
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoop).getScheme)
    if (scheme != "file" || !LineRanges.stockLocal(hadoop) || inPath.exists(GlobChars)) None
    else Some(path.getFileSystem(hadoop).makeQualified(path)).filter { base =>
      base.toUri.getAuthority == null && {
        val dir = Paths.get(base.toUri)
        Files.isDirectory(dir) && !Files.exists(dir.resolve("_spark_metadata")) &&
          !partitioned(dir)
      }
    }
  }

  /** The characters that make a path a glob (Spark's `isGlobPath`). */
  private val GlobChars = "{}[]*?\\".toSet

  /** True when a directory below `dir`, reached through names that are
    * not hidden, has a `name=value` name. */
  private def partitioned(dir: NioPath): Boolean =
    Using.resource(Files.newDirectoryStream(dir, (p: NioPath) =>
      !hidden(p.getFileName.toString) && Files.isDirectory(p))) { subdirs =>
      subdirs.iterator.asScala.exists(d => d.getFileName.toString.contains("=") || partitioned(d))
    }

  /** Hadoop's hidden-name rule, which Spark's file index applies to every
    * name it lists (`HadoopFSUtils.shouldFilterOutPathName`): a name that
    * starts with `_` (unless it holds `=`) or `.`, or that ends in
    * `._COPYING_`, is skipped, except `_metadata*` and `_common_metadata*`.
    * Those two are listed and logged but, as Spark's index does, never
    * read ([[readable]]). */
  private def hidden(name: String): Boolean =
    (underscoreOrDot(name) || name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def underscoreOrDot(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** Whether a batch reads a logged file: Spark's file index reads only
    * a non-empty file whose name does not start with `_` (unless it holds
    * `=`) or `.` (`PartitioningAwareFileIndex.listFiles`). */
  private def readable(f: FileStatus): Boolean = f.getLen > 0 && !underscoreOrDot(f.getPath.getName)

  private val LocalRoot = URI.create("file:///")

  /** The files directly in the directory `base` whose names are not
    * hidden, with their mtimes in ms, named as Hadoop's local listing
    * names them (`file:///…`, qualified with an empty authority). Links
    * are followed; subdirectories are skipped, as `FileStreamSource` reads
    * only a directory's own files when it has no partition column; an
    * entry gone while the listing runs is left out. */
  private def list(base: Path): Vector[(SparkPath, Long)] = {
    val out = Vector.newBuilder[(SparkPath, Long)]
    try Using.resource(Files.newDirectoryStream(Paths.get(base.toUri))) { entries =>
      entries.forEach { entry =>
        if (!hidden(entry.getFileName.toString)) {
          try {
            val attrs = Files.readAttributes(entry, classOf[BasicFileAttributes])
            if (!attrs.isDirectory) out += SparkPath.fromPath(new Path(entry.toString).makeQualified(LocalRoot, null)) ->
              attrs.lastModifiedTime.toMillis
          } catch { case _: NoSuchFileException => }
        }
      }
    } catch { case _: NoSuchFileException => }
    out.result()
  }
}

/** Spark's way in to [[LocalTextSource]]:
  * `readStream.format(classOf[LocalTextSourceProvider].getName)` loads it
  * by class name, so nothing is registered. It takes a `path` that
  * [[LocalTextSource.localDir]] accepts, no other option, and no schema
  * but the text source's. */
final class LocalTextSourceProvider extends StreamSourceProvider {

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    s"LocalTextSource[${base(sqlContext.sparkSession, schema, parameters)}]" -> LocalTextSource.Schema

  override def createSource(sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source =
    new LocalTextSource(sqlContext.sparkSession, base(sqlContext.sparkSession, schema, parameters), metadataPath)

  private def base(spark: SparkSession, schema: Option[StructType], parameters: Map[String, String]): Path = {
    require(schema.forall(_ == LocalTextSource.Schema), s"LocalTextSource reads no schema but ${LocalTextSource.Schema}")
    require(parameters.keys.forall(_.equalsIgnoreCase("path")),
      s"LocalTextSource takes no option but path: ${parameters.keys.mkString(", ")}")
    val path = parameters.find(_._1.equalsIgnoreCase("path")).map(_._2)
      .getOrElse(throw new IllegalArgumentException("LocalTextSource needs a path"))
    LocalTextSource.localDir(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"LocalTextSource reads only a plain local directory: $path"))
  }
}

/** See [[LocalTextSource$ the companion]]. `base` is the watched
  * directory, qualified; `metadataPath` is `<checkpoint>/sources/<id>`. */
final class LocalTextSource private[streaming] (spark: SparkSession, base: Path, metadataPath: String)
    extends Source with SupportsTriggerAvailableNow {
  import LocalTextSource._

  private val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, metadataPath)
  private var logOffset = log.getLatest().map(_._1).getOrElse(-1L)
  private val seen = new SeenFilesMap(MaxFileAgeMs, false)
  log.restore().foreach(e => seen.add(e.sparkPath, e.timestamp))
  seen.purge()
  /** The files of each batch this instance logged and has not seen
    * committed, by log offset. */
  private val logged = mutable.LongMap.empty[Array[FileEntry]]
  /** Under `Trigger.AvailableNow`, the one listing the run reads. */
  private var availableNow: Option[Vector[(SparkPath, Long)]] = None

  override def schema: StructType = Schema

  override def prepareForTriggerAvailableNow(): Unit = synchronized { availableNow = Some(list(base)) }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = getOffset.orNull

  override def getOffset: Option[Offset] = synchronized {
    val fresh = availableNow.getOrElse(list(base))
      .filter { case (path, mtime) => seen.isNewFile(path, mtime) }
      .sortBy(_._2)
    fresh.foreach { case (path, mtime) => seen.add(path, mtime) }
    seen.purge()
    if (fresh.nonEmpty) {
      logOffset += 1
      val entries = fresh.map { case (path, mtime) => FileEntry(path.urlEncoded, mtime, logOffset) }.toArray
      if (!log.add(logOffset, entries))
        throw new IllegalStateException(s"Concurrent update to the log of $this at batch $logOffset")
      logged(logOffset) = entries
    }
    if (logOffset < 0) None else Some(FileStreamSourceOffset(logOffset))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.fold(0L)(FileStreamSourceOffset(_).logOffset + 1)
    val to = FileStreamSourceOffset(end).logOffset
    require(from <= to + 1, s"$this: batch from log offset $from to $to")
    val ids = from to to
    val entries = synchronized(if (ids.forall(logged.contains)) Some(ids.flatMap(logged(_))) else None)
      .getOrElse(log.get(Some(from), Some(to)).toSeq.flatMap(_._2))
    val files = entries.flatMap { e =>
      val path = e.sparkPath.toPath
      try Some(new FileStatus(Files.size(Paths.get(path.toUri)), false, 1, BlockSize, e.timestamp, path))
      catch { case _: NoSuchFileException => None }
    }.filter(readable)
    val relation = HadoopFsRelation(new BatchFileIndex(files), StructType(Nil), Schema, None,
      new TextFileFormat, Map.empty)(spark)
    GraftBridge.ofRows(spark, LogicalRelation(relation, isStreaming = true))
  }

  override def commit(end: Offset): Unit = synchronized {
    val to = FileStreamSourceOffset(end).logOffset
    logged.filterInPlace((id, _) => id > to)
  }

  override def stop(): Unit = ()

  override def toString: String = s"LocalTextSource[$base]"
}

/** The file index of one micro-batch: exactly `files`, in one partition
  * with no partition values. It lists nothing, and `refresh` keeps it. */
private[streaming] final class BatchFileIndex(files: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[Path] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}
