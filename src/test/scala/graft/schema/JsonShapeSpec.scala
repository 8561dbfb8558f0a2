package graft.schema

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funspec.AnyFunSpec

class JsonShapeSpec extends AnyFunSpec {

  describe("JsonShape.of") {
    it("extracts nested object shape (typed)") {
      assert(JsonShape.of("""{"a": 1, "b": {"c": [1.5, 2.5]}, "d": true}""", typed = true) ==
        Some(JStruct(Vector(
          "a" -> JLong,
          "b" -> JStruct(Vector("c" -> JArr(JDouble))),
          "d" -> JBool))))
    }
    it("collapses primitives to STRING in hive mode (CreateHQL.scala:81)") {
      assert(JsonShape.of("""{"a": 1, "b": true}""", typed = false) ==
        Some(JStruct(Vector("a" -> JStr, "b" -> JStr))))
    }
    it("merges ALL array elements (divergence from head-only CreateHQL.scala:55)") {
      assert(JsonShape.of("""[{"a": 1}, {"b": 2}]""", typed = true) ==
        Some(JArr(JStruct(Vector("a" -> JLong, "b" -> JLong)))))
    }
    it("rejects trailing garbage (stricter than org.json's tokener)") {
      assert(JsonShape.of("""{"a": 1} trailing""", typed = false).isEmpty)
      assert(JsonShape.of("""{"a": 1}{"b": 2}""", typed = false).isEmpty)
    }
    it("rejects non-JSON and empty input") {
      assert(JsonShape.of("ThisIsNotJSON", typed = false).isEmpty)
      assert(JsonShape.of("", typed = false).isEmpty)
      assert(JsonShape.of(null, typed = false).isEmpty)
    }
    it("treats an empty array as ARRAY<STRING> evidence") {
      assert(JsonShape.of("""{"a": []}""", typed = false) ==
        Some(JStruct(Vector("a" -> JArr(JNull)))))
    }
  }

  // Tiny independent JSON AST + renderer + expected-shape function —
  // a second implementation of the lattice to check the Jackson
  // streaming path against.
  sealed trait JV
  case object VNull extends JV
  case class VBool(b: Boolean) extends JV
  case class VInt(n: Long) extends JV
  case class VDbl(d: Double) extends JV
  case class VStr(s: String) extends JV
  case class VArr(items: List[JV]) extends JV
  case class VObj(fields: List[(String, JV)]) extends JV

  def render(v: JV): String = v match {
    case VNull => "null"
    case VBool(b) => b.toString
    case VInt(n) => n.toString
    case VDbl(d) => d.toString
    case VStr(s) => "\"" + s + "\""
    case VArr(xs) => xs.map(render).mkString("[", ",", "]")
    case VObj(fs) => fs.map { case (k, x) => "\"" + k + "\":" + render(x) }
      .mkString("{", ",", "}")
  }
  def shape(v: JV, typed: Boolean): JType = v match {
    case VNull    => JNull
    case VBool(_) => if (typed) JBool else JStr
    case VInt(_)  => if (typed) JLong else JStr
    case VDbl(_)  => if (typed) JDouble else JStr
    case VStr(_)  => JStr
    case VArr(xs) => JArr(
      xs.map(shape(_, typed)).foldLeft(JNull: JType)(JType.merge(_, _, typed)))
    case VObj(fs) =>
      fs.foldLeft(JStruct(Vector()): JType) { case (acc, (k, x)) =>
        JType.merge(acc, JStruct(Vector(k -> shape(x, typed))), typed)
      }
  }

  val keyGen = Gen.oneOf("a", "b", "cc", "d1")
  val strGen = Gen.alphaNumStr.map(_.take(6))
  /** `dups` keeps an object's repeated keys, as raw input may. */
  def jvGen(depth: Int, dups: Boolean = false): Gen[JV] =
    if (depth == 0)
      Gen.oneOf(Gen.const(VNull), Gen.oneOf(true, false).map(VBool),
        Gen.choose(-5L, 5L).map(VInt), Gen.const(VDbl(1.5)), strGen.map(VStr))
    else Gen.frequency(
      3 -> jvGen(0),
      2 -> Gen.lzy(Gen.listOfN(2, jvGen(depth - 1, dups)).map(VArr)),
      3 -> Gen.lzy(Gen.listOfN(3, Gen.zip(keyGen, jvGen(depth - 1, dups)))
        .map(fs => VObj(if (dups) fs else fs.distinctBy(_._1)))))

  describe("round-trip against an independent JSON model (ScalaCheck)") {
    it("parses any rendered JSON value to exactly the model's shape") {
      val prop = Prop.forAll(jvGen(3), Gen.oneOf(true, false)) { (v, typed) =>
        JsonShape.of(render(v), typed).contains(shape(v, typed))
      }
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
      assert(r.passed, r.status.toString)
    }
  }

  describe("JsonShape.ofRecord") {
    it("poisons top-level non-objects to JTop (vs reference ERROR DDL)") {
      assert(JsonShape.ofRecord("[1,2]", typed = false) == JTop)
      assert(JsonShape.ofRecord("42", typed = false) == JTop)
      assert(JsonShape.ofRecord("garbage", typed = false) == JTop)
    }
    it("accepts top-level objects") {
      assert(JsonShape.ofRecord("""{"k": 7}""", typed = false) ==
        JStruct(Vector("k" -> JStr)))
    }
  }

  private val cap = JsonShape.MaxDepth
  /** One top-level object `n` objects deep: `{"a":{"a":...1...}}`. */
  private def nested(n: Int): String = "{\"a\":" * n + "1" + "}" * n
  /** One top-level object holding arrays, `n` containers deep in all. */
  private def nestedArrays(n: Int): String = "{\"a\":" + "[" * (n - 1) + "]" * (n - 1) + "}"

  describe("nesting cap") {
    it("keeps a line nested exactly MaxDepth deep valid") {
      for (line <- Seq(nested(cap), nestedArrays(cap))) {
        assert(JsonShape.of(line, typed = false).exists(_.isInstanceOf[JStruct]))
        assert(JsonShape.isValid(line) && JsonShape.isValidObject(line))
        assert(JsonShape.fold(JNull, line, typed = false).isInstanceOf[JStruct])
      }
    }
    it("treats a line nested MaxDepth + 1 deep as invalid on every path") {
      for (line <- Seq(nested(cap + 1), nestedArrays(cap + 1))) {
        assert(JsonShape.of(line, typed = false).isEmpty)
        assert(!JsonShape.isValid(line) && !JsonShape.isValidObject(line))
        assert(JsonShape.fold(JNull, line, typed = false) == JTop)
      }
      // The walk reaches the cap inside a value it skips: the accumulator
      // already holds STRING at the depth where the deep line opens more.
      val acc = JsonShape.ofRecord(nested(cap), typed = false)
      assert(JsonShape.fold(acc, nested(cap), typed = false) eq acc)
      assert(JsonShape.fold(acc, nested(cap + 1), typed = false) == JTop)
    }
  }

  describe("JsonShape.fold (fused check-and-fold, ScalaCheck)") {
    val objGen: Gen[VObj] = Gen.choose(0, 3)
      .flatMap(n => Gen.listOfN(n, Gen.zip(keyGen, jvGen(2, dups = true)))).map(VObj)
    val garbageGen = Gen.oneOf(" x", "}", "{}", ",1", " ]", "\"s\"", "nul")
    /** A line of any kind the fold must tell apart; `seen` are the records
      * already folded, which the accumulator subsumes unless they carry
      * duplicate keys. */
    def lineGen(seen: List[String]): Gen[String] = {
      val kinds = List(
        3 -> objGen.map(render),
        // One field against one accumulated field: every scalar-vs-type pair.
        3 -> Gen.zip(keyGen, Gen.frequency(3 -> jvGen(0), 1 -> jvGen(1)))
          .map(kv => render(VObj(List(kv)))),
        1 -> Gen.oneOf(jvGen(0), Gen.listOfN(2, jvGen(2, dups = true)).map(VArr)).map(render),
        1 -> Gen.zip(objGen, garbageGen).map { case (o, g) => render(o) + g },
        1 -> objGen.map(render).flatMap(l => Gen.choose(0, l.length - 1).map(l.take)),
        1 -> Gen.zip(Gen.oneOf(cap, cap + 1, cap + 2, 500, 900), Gen.oneOf(true, false))
          .map { case (n, objs) => if (objs) nested(n) else nestedArrays(n) })
      Gen.frequency((if (seen.isEmpty) kinds else (4 -> Gen.oneOf(seen)) :: kinds): _*)
    }
    // Flat records keep scalar-typed fields in the accumulator.
    val flatGen: Gen[VObj] = Gen.choose(0, 3)
      .flatMap(n => Gen.listOfN(n, Gen.zip(keyGen, jvGen(0)))).map(VObj)
    val recordGen = Gen.frequency(
      5 -> objGen.map(render), 4 -> flatGen.map(render), 1 -> Gen.const("[1]"))
    val caseGen = for {
      records <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, recordGen))
      line    <- lineGen(records)
      typed   <- Gen.oneOf(true, false)
    } yield (records, line, typed)

    def reference(acc: JType, line: String, typed: Boolean): JType =
      JType.merge(acc, JsonShape.ofRecord(line, typed), typed)

    it("equals ofRecord + merge, returning the same accumulator iff it is unchanged") {
      val prop = Prop.forAll(caseGen) { case (records, line, typed) =>
        val acc = records.foldLeft(JNull: JType)(reference(_, _, typed))
        val want = reference(acc, line, typed)
        val got = JsonShape.fold(acc, line, typed)
        got == want && (got eq acc) == (want == acc)
      }
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000), prop)
      assert(r.passed, r.status.toString)
    }
    it("generates subsumed, widening and invalid lines alike") {
      val params = Gen.Parameters.default
      val kinds = (0 until 2000).map { i =>
        val (records, line, typed) = caseGen.pureApply(params, org.scalacheck.rng.Seed(i.toLong))
        val acc = records.foldLeft(JNull: JType)(reference(_, _, typed))
        val want = reference(acc, line, typed)
        if (acc == JTop) "poisoned"
        else if (want == JTop) "invalid"
        else if (want == acc) "subsumed"
        else "widens"
      }.groupBy(identity).map { case (k, v) => k -> v.size }
      for (k <- Seq("subsumed", "widens", "invalid")) assert(kinds.getOrElse(k, 0) >= 200, kinds)
    }
    it("answers json_is_valid / json_is_object exactly as the shape parse") {
      val prop = Prop.forAll(caseGen) { case (_, line, _) =>
        val shape = JsonShape.of(line, typed = false)
        JsonShape.isValid(line) == shape.isDefined &&
          JsonShape.isValidObject(line) == shape.exists(_.isInstanceOf[JStruct])
      }
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000), prop)
      assert(r.passed, r.status.toString)
    }
  }
}
