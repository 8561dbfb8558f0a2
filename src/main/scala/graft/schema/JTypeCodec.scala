package graft.schema

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.reflect.classTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, Codec, ExpressionEncoder}

/** Compact binary codec for a [[JType]] wherever it must be stored.
  *
  * [[SchemaAgg]]'s buffer crosses the wire on every partial→final merge
  * and is re-serialized whenever the object-hash aggregate spills (the
  * per-key inference path `p06_group_schemas` can hold millions of group
  * buffers at 100 TB), each partition of [[SchemaInference.routedStats]]
  * returns its schema in this form, and
  * [[graft.streaming.PerKeySchema]] keeps each key's schema in the state
  * store in it. The bytes outlive a run there, so the format below is
  * fixed (JTypeSpec pins it). Generic kryo pays for class-name
  * metadata and reflective dispatch on every such event; this codec
  * writes a preorder tag-byte tree — a few bytes per schema node,
  * allocation-free dispatch — via Spark 4's public
  * `TransformingEncoder`/`Codec` extension point.
  *
  * Format: tag byte (one per node); `JArr` = tag + element;
  * `JStruct` = tag + field count + (length-prefixed UTF-8 name + node)
  * per field. Names are int-length-prefixed raw UTF-8 — NOT
  * `writeUTF`, whose 64 KB modified-UTF-8 cap would make a dirty
  * record with a pathological object key kill the task (kryo had no
  * such limit, and JsonShape stores keys unbounded).
  */
final class JTypeCodec extends Codec[JType, Array[Byte]] {

  override def encode(t: JType): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64)
    val out = new DataOutputStream(bos)
    def go(x: JType): Unit = x match {
      case JNull        => out.writeByte(0)
      case JStr         => out.writeByte(1)
      case JLong        => out.writeByte(2)
      case JDouble      => out.writeByte(3)
      case JBool        => out.writeByte(4)
      case JTop         => out.writeByte(5)
      case JArr(e)      => out.writeByte(6); go(e)
      case JStruct(fs)  =>
        out.writeByte(7); out.writeInt(fs.size)
        fs.foreach { case (k, v) =>
          val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(kb.length); out.write(kb)
          go(v)
        }
      case JMap(v)      => out.writeByte(8); go(v)
    }
    go(t)
    out.flush()
    bos.toByteArray
  }

  override def decode(bytes: Array[Byte]): JType = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    def readName(): String = {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      new String(kb, java.nio.charset.StandardCharsets.UTF_8)
    }
    def go(): JType = in.readByte() match {
      case 0 => JNull
      case 1 => JStr
      case 2 => JLong
      case 3 => JDouble
      case 4 => JBool
      case 5 => JTop
      case 6 => JArr(go())
      case 7 =>
        val n = in.readInt()
        JStruct(Vector.fill(n)(readName() -> go()))
      case 8 => JMap(go())
      case t => throw new IllegalStateException(s"bad JType tag $t")
    }
    go()
  }
}

object JTypeCodec {
  /** Encoder[JType] backed by the codec (replaces `Encoders.kryo`). */
  val encoder: Encoder[JType] = ExpressionEncoder(
    AgnosticEncoders.TransformingEncoder(
      classTag[JType], AgnosticEncoders.BinaryEncoder, () => new JTypeCodec))
}
