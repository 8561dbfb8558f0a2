package graft.schema

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{FileRange, LineRangeRDD, LineRanges}

/** Per-group schema inference (SQL, `groupBy`) as a typed [[Aggregator]].
  *
  * The reference's core computation is a sequential fold
  * `schema ← merge(schema, parse(line))` over NDJSON lines
  * (`CreateHQL.scala:12-20`). Because the merge is associative with
  * identity [[JNull]], the same fold distributes as a standard Spark
  * partial + final aggregation: each partition folds its rows into one
  * O(schema) buffer, and only the tiny per-partition schemas cross the
  * wire — never rows.
  *
  * Each row folds in through [[ShapeFold]]: a row leaves the buffer the
  * same object (`eq`) iff merging its shape would not change it, and a
  * row that is not a valid single JSON object (null, or nested deeper
  * than [[JsonShape.MaxDepth]], included) is skipped. A group with no
  * valid row has no schema: its result is SQL `NULL`.
  *
  * @param typed false = the reference's STRING-only Hive lattice
  *              (`CreateHQL.scala:81`); true = LONG/DOUBLE/BOOLEAN/STRING.
  */
final class SchemaAgg(typed: Boolean) extends Aggregator[String, JType, String] {
  override def zero: JType = JNull
  override def reduce(b: JType, line: String): JType =
    new ShapeFold(typed, b).add(line).shape
  override def merge(a: JType, b: JType): JType = JType.merge(a, b, typed)
  /** The group's schema as Spark DataType JSON; null when no row was valid. */
  override def finish(r: JType): String = r match {
    case s: JStruct => JType.toDataType(s).json
    case _          => null
  }
  override def bufferEncoder: Encoder[JType] = JTypeCodec.encoder
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

/** The one rule every per-row inference fold keeps for a bad line: a line
  * [[JsonShape.fold]] finds invalid (not exactly one JSON object, nested
  * past [[JsonShape.MaxDepth]], or null) is counted and skipped, so it
  * never poisons `shape`; every other line widens it. Used by
  * [[SchemaInference.routedStats]], [[SchemaAgg]] and
  * [[graft.streaming.PerKeySchema]]. */
final class ShapeFold(typed: Boolean, var shape: JType = JNull) {
  var nValid, nInvalid = 0L
  def add(line: String): this.type = step(JsonShape.fold(shape, line, typed))
  def add(line: UTF8String): this.type = step(JsonShape.fold(shape, line, typed))
  private def step(next: JType): this.type = {
    if (next eq JTop) nInvalid += 1 else { shape = next; nValid += 1 }
    this
  }
}

/** [[SchemaInference.routedStats]]'s result: the valid rows' merged
  * lattice value, lowered to Spark types only on demand, and the counts. */
final case class RouteStats(shape: JType, nValid: Long, nInvalid: Long) {
  /** The table schema; None when no row was a valid JSON object with a
    * field ([[JType.tableSchema]]). */
  def schema: Option[StructType] = JType.tableSchema(shape)
}

object SchemaInference {

  /** A partition's fold: its [[JTypeCodec]] buffer, valid and invalid lines. */
  private[schema] type Folded = (Array[Byte], Long, Long)

  /** Column-level inference aggregate: `infer_schema_agg(jsonCol)` →
    * DataType-JSON string, NULL for a group with no valid row. Usable in
    * `groupBy(...).agg(...)` for per-key schemas. */
  def infer_schema_agg(col: Column, typed: Boolean = false): Column =
    functions.udaf(new SchemaAgg(typed)).apply(col)

  /** Register `infer_schema_agg` / `infer_schema_agg_typed` for SQL use. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("infer_schema_agg", functions.udaf(new SchemaAgg(false)))
    spark.udf.register("infer_schema_agg_typed", functions.udaf(new SchemaAgg(true)))
  }

  /** Whole-dataset inference: fold every row of `lines` into one schema.
    * None unless every row, and at least one, is a valid JSON object. */
  def infer(lines: Dataset[String], typed: Boolean = false): Option[StructType] = {
    val stats = routedStats(lines.toDF(), lines.columns.head, typed)
    if (stats.nInvalid > 0) None else stats.schema
  }

  /** Routing + schema inference in ONE pass over `col`, a string column.
    * Each partition folds its lines' UTF-8 bytes through [[ShapeFold]]:
    * valid JSON objects widen its schema, any other line (null included)
    * counts invalid. One `runJob` collects the partitions' [[JTypeCodec]]
    * buffers (a one-range byte plan, below, runs none), merged in
    * partition-index order, so the job has one stage and no shuffle, and
    * the schema equals the sequential fold, field order included
    * ([[JType.merge]] is associative, keeping first-seen order).
    *
    * Lines come one of two ways. When `df` is a plain scan of local,
    * uncompressed text files with default options (the whole test in
    * [[graft.sources.LineRanges.plan]]), the byte path
    * ([[rangeStats]]) reads the files in path order by byte range and
    * folds each line where it sits in the read buffer: no scan plan, no
    * broadcast Hadoop conf, no row copy; a plan of one range sequence,
    * which would be a one-task job, is folded on the calling thread and
    * runs no job at all ([[rangeStats]] says what that gives up). Every
    * other input (a filtered or joined plan, a remote, compressed or
    * checksummed file, non-default text options) is planned and its rows
    * folded ([[rowStats]]). Both give the lines Spark's text source gives;
    * for several files, the field order is the fold's order over the files
    * sorted by path.
    * [[graft.streaming.InferStream]]'s sink folds each micro-batch through
    * the same two paths. */
  def routedStats(df: DataFrame, col: String, typed: Boolean = false): RouteStats =
    LineRanges.plan(df, col) match {
      case Some(ranges) => rangeStats(df.sparkSession.sparkContext, ranges, typed)
      case None =>
        val column = df.select(df(col))
        require(column.schema.head.dataType == StringType,
          s"schema inference reads a string column; $col is ${column.schema.head.dataType.sql}")
        rowStats(column.queryExecution.toRdd, typed)
    }

  /** The byte path: folds the lines of `ranges` ([[LineRanges.plan]]).
    * A plan of two or more range sequences runs as one job over
    * [[LineRangeRDD]], one partition per sequence. A plan of at most one
    * sequence, which that job would run as a single task, is folded on the
    * calling thread through the same [[FoldRanges.fold]], and no job is
    * submitted. Such an in-place fold:
    *  - records no Spark task input metrics (the stream's `numInputRows`
    *    is credited by [[graft.streaming.InferSink]] either way);
    *  - cannot be cancelled through a job group; an interrupt of the
    *    calling thread closes the file being read
    *    (`ClosedByInterruptException`), which a streaming query's stop
    *    takes as a stop;
    *  - reads at most one split: at most `spark.sql.files.openCostInBytes`
    *    and `maxPartitionBytes`, or `maxPartitionBytes` alone when
    *    `defaultParallelism` is 1. */
  private[graft] def rangeStats(sc: SparkContext, ranges: IndexedSeq[Seq[FileRange]], typed: Boolean): RouteStats =
    if (ranges.size > 1) foldPartitions(new LineRangeRDD(sc, ranges), new FoldRanges(typed), typed)
    else {
      val f = new ShapeFold(typed)
      FoldRanges.fold(ranges.iterator.flatten, f)
      RouteStats(f.shape, f.nValid, f.nInvalid)
    }

  /** The row path: folds column 0, a string, of every row of `rows`. */
  private[graft] def rowStats(rows: RDD[InternalRow], typed: Boolean): RouteStats =
    foldPartitions(rows, new FoldRows(typed), typed)

  /** Runs `fold` over every partition of `rdd` as one job and merges the
    * partitions' results in index order. */
  private def foldPartitions[T](rdd: RDD[T], fold: PartitionFold[T], typed: Boolean): RouteStats = {
    val parts = new Array[Folded](rdd.getNumPartitions)
    rdd.sparkContext.runJob(rdd, fold, parts.indices, (i: Int, part: Folded) => parts(i) = part)
    val codec = new JTypeCodec
    parts.foldLeft(RouteStats(JNull, 0L, 0L)) { case (s, (bytes, v, i)) =>
      RouteStats(JType.merge(s.shape, codec.decode(bytes), typed), s.nValid + v, s.nInvalid + i)
    }
  }
}

/** One partition's [[ShapeFold]], encoded for the driver. The job functions
  * are named classes, not lambdas: Spark's closure cleaner then reads no
  * class file per job, where a lambda defined in `RDD` or `SparkContext`
  * costs it an ASM pass over those classes. */
private abstract class PartitionFold[T](typed: Boolean)
    extends ((TaskContext, Iterator[T]) => SchemaInference.Folded) with Serializable {
  protected def feed(context: TaskContext, in: Iterator[T], fold: ShapeFold): Unit
  final def apply(context: TaskContext, in: Iterator[T]): SchemaInference.Folded = {
    val f = new ShapeFold(typed)
    feed(context, in, f)
    (new JTypeCodec().encode(f.shape), f.nValid, f.nInvalid)
  }
}

/** The row path: a planned scan's rows, the line in column 0. */
private final class FoldRows(typed: Boolean) extends PartitionFold[InternalRow](typed) {
  protected def feed(context: TaskContext, rows: Iterator[InternalRow], fold: ShapeFold): Unit =
    rows.foreach(r => fold.add(r.getUTF8String(0)))
}

/** The byte path's task, for a plan of two or more range sequences: each
  * range's lines, read where they sit; the bytes and lines read count as
  * the task's input, as a file scan's do. */
private final class FoldRanges(typed: Boolean) extends PartitionFold[FileRange](typed) {
  protected def feed(context: TaskContext, ranges: Iterator[FileRange], fold: ShapeFold): Unit = {
    val bytes = FoldRanges.fold(ranges, fold)
    GraftBridge.addInput(context, bytes, fold.nValid + fold.nInvalid)
  }
}

private object FoldRanges {
  /** Folds the lines of `ranges`, in order, into `fold`, each where it sits
    * in the read buffer; returns the bytes read. The one per-range loop of
    * both the job's task and [[SchemaInference.rangeStats]]'s in-place fold. */
  def fold(ranges: Iterator[FileRange], into: ShapeFold): Long =
    ranges.map(r => LineRanges.read(r)(line => into.add(line))).sum
}
