package landbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.schema.{JNull, JStruct, JType, JsonShape}

/** One generated NDJSON file with the counts the generator planted and
  * the reference schema: the sequential `JsonShape.of` / `JType.merge`
  * fold of its lines, computed once here and never by the code under
  * test. */
final case class Drop(path: Path, validPath: Path, lines: Long, valid: Long, bytes: Long, ref: JType) {
  def invalid: Long = lines - valid
}

/** Seeded, single-threaded NDJSON generators. Every object has unique keys
  * (as the NiFi map serializer writes them), and keys stay distinct after
  * Hive's `[.-] → _` sanitization and case folding, so every inferred
  * schema is one Hive accepts. */
object Gen {

  /** The three invalid-line kinds, in turn drawn at random: not JSON, a
    * top-level array, and an object followed by trailing garbage. */
  private def invalidLine(r: Random, validLine: String): String = r.nextInt(3) match {
    case 0 => "ThisIsNotJSON"
    case 1 => "[" + validLine + "]"
    case _ => validLine + " trailing"
  }

  /** Writes `n` lines, each invalid with probability `invalidShare`, and
    * folds the reference schema. `validPath` receives the valid lines
    * only, for the traced run's pre-filtered inference arms. */
  def write(path: Path, validPath: Path, n: Int, invalidShare: Double, r: Random)
      (record: Int => String): Drop = {
    Files.createDirectories(path.getParent)
    Files.createDirectories(validPath.getParent)
    val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    val vout = Files.newBufferedWriter(validPath, StandardCharsets.UTF_8)
    var ref: JType = JNull
    var valid = 0L
    var bytes = 0L
    try {
      var i = 0
      while (i < n) {
        val rec = record(i)
        val bad = r.nextDouble() < invalidShare
        val line = if (bad) invalidLine(r, rec) else rec
        JsonShape.of(line, typed = false) match {
          case Some(s: JStruct) =>
            require(!bad, s"generator planted an invalid line that parses: $line")
            valid += 1
            ref = JType.merge(ref, s, typed = false)
            put(vout, line)
          case _ =>
            require(bad, s"generator wrote a valid-looking line that fails: $line")
        }
        put(out, line)
        bytes += line.length + 1 // ASCII: one byte a character
        i += 1
      }
    } finally { out.close(); vout.close() }
    Drop(path, validPath, n.toLong, valid, bytes, ref)
  }

  private def put(w: BufferedWriter, line: String): Unit = { w.write(line); w.write('\n') }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(r: Random, n: Int): String = {
    val cs = new Array[Char](n)
    var bits = 0L
    var i = 0
    while (i < n) {
      if (i % 16 == 0) bits = r.nextLong()
      cs(i) = hexDigits((bits & 15).toInt)
      bits >>>= 4
      i += 1
    }
    new String(cs)
  }

  /** `n` distinct ints of `0 until k`, by a partial Fisher–Yates shuffle. */
  private def distinct(r: Random, k: Int, n: Int): Array[Int] = {
    val a = Array.tabulate(k)(identity)
    var i = 0
    while (i < n) {
      val j = i + r.nextInt(k - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }
  private def uuid(r: Random): String =
    s"${hex(r, 8)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 12)}"

  // ---------------------------------------------------------------- flowfile

  /** The 40-key attribute vocabulary: lowercase, dotted, no `_` or `-`,
    * so sanitization keeps the keys distinct. */
  private val attrVocab: Array[String] = {
    val heads = Array("server", "destination", "parent", "source", "kafka",
      "hdfs", "record", "schema")
    val tails = Array("timezone", "table.name", "hdfs.location", "topic", "count")
    for (h <- heads; t <- tails) yield s"$h.$t"
  }
  private val eventTypes = Array("CREATE", "RECEIVE", "SEND", "ROUTE",
    "CONTENT_MODIFIED", "ATTRIBUTES_MODIFIED", "DROP", "FORK")
  private val componentTypes = Array("PutHDFS", "ConsumeKafka", "UpdateAttribute",
    "RouteOnAttribute", "HiveSchemaGenerator", "MergeContent")

  /** A provenance event with the field set of the reference `flowfile.json`
    * (28 top-level fields in the union): 26 in every record, `transitUri`
    * on RECEIVE and SEND events and `previousContentURI` on all but CREATE.
    * `updatedAttributes` holds 4–11 distinct keys of the 40-key vocabulary,
    * `allAttributes` 1–3 and `previousAttributes` 1–2, with values of 1–4
    * characters; `eventOrdinal` is an array in one record of six. `extra`,
    * when given, is one more top-level key. */
  def flowfile(r: Random, i: Long, extra: String = null): String = {
    val sb = new java.lang.StringBuilder(1024)
    def str(k: String, v: String): Unit =
      sb.append('"').append(k).append("\":\"").append(v).append("\",")
    def num(k: String, v: Long): Unit =
      sb.append('"').append(k).append("\":").append(v).append(',')
    def attrs(k: String, lo: Int, hi: Int): Unit = {
      sb.append('"').append(k).append("\":{")
      val n = lo + r.nextInt(hi - lo + 1)
      val keys = distinct(r, attrVocab.length, n)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(',')
        sb.append('"').append(attrVocab(keys(j))).append("\":\"").append(hex(r, 1 + r.nextInt(4))).append('"')
        j += 1
      }
      sb.append("},")
    }
    val ts = 1700000000000L + i * 37 + r.nextInt(1000)
    val eventType = eventTypes(r.nextInt(eventTypes.length))
    val host = s"nifi-${r.nextInt(8)}"
    sb.append('{')
    str("eventId", uuid(r))
    if (r.nextInt(6) == 0) sb.append("\"eventOrdinal\":[").append(i).append(',').append(i + 6).append("],")
    else num("eventOrdinal", i)
    str("eventType", eventType)
    num("timestampMillis", ts)
    str("timestamp", s"2023-11-14T22:${10 + r.nextInt(50)}:${10 + r.nextInt(50)}.${100 + r.nextInt(900)}Z")
    num("durationMillis", r.nextInt(5000).toLong)
    num("lineageStart", ts - r.nextInt(100000))
    if (r.nextInt(4) == 0) sb.append("\"details\":null,") else str("details", hex(r, 4))
    str("componentId", hex(r, 8))
    str("componentType", componentTypes(r.nextInt(componentTypes.length)))
    str("componentName", s"c${r.nextInt(40)}")
    if (r.nextInt(8) == 0) sb.append("\"processGroupId\":null,\"processGroupName\":null,")
    else { str("processGroupId", hex(r, 8)); str("processGroupName", s"g${r.nextInt(12)}") }
    str("entityId", hex(r, 8))
    str("entityType", "FlowFile")
    num("entitySize", r.nextInt(1 << 20).toLong)
    num("previousEntitySize", r.nextInt(1 << 20).toLong)
    attrs("updatedAttributes", 4, 11)
    attrs("previousAttributes", 1, 2)
    attrs("allAttributes", 1, 3)
    str("actorHostname", host)
    str("contentURI", s"http://$host/c/$i/out")
    if (eventType != "CREATE")
      str("previousContentURI", s"http://$host/c/$i/in")
    if (eventType == "RECEIVE" || eventType == "SEND")
      str("transitUri", s"hdfs://nn/in/${hex(r, 4)}")
    sb.append("\"parentIds\":[")
    if (r.nextInt(5) == 0) sb.append('"').append(hex(r, 8)).append('"')
    sb.append("],\"childIds\":[],")
    str("platform", "nifi")
    if (extra != null) str(extra, hex(r, 8))
    sb.append("\"application\":\"NiFi Flow\"}")
    sb.toString
  }
}
