package graft.schema

import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funspec.AnyFunSpec

/** Lattice-rule unit tests + ScalaCheck laws for the merge
  * (reference semantics: `CreateHQL.scala:50-66`). */
class JTypeSpec extends AnyFunSpec {

  private def m(a: JType, b: JType, typed: Boolean = false) = JType.merge(a, b, typed)

  describe("merge lattice rules") {
    it("has JNull as identity (CreateHQL.scala:53-54)") {
      val xs = Seq(JStr, JLong, JArr(JStr), JStruct(Vector("a" -> JStr)), JTop)
      xs.foreach { x =>
        assert(m(JNull, x) == x)
        assert(m(x, JNull) == x)
      }
    }
    it("widens any conflict to STRING (CreateHQL.scala:63-64)") {
      assert(m(JStr, JArr(JStr)) == JStr)
      assert(m(JStruct(Vector()), JArr(JStr)) == JStr)
      assert(m(JLong, JBool, typed = true) == JStr)
    }
    it("LONG joins DOUBLE to DOUBLE in typed mode, STRING in hive mode") {
      assert(m(JLong, JDouble, typed = true) == JDouble)
      // hive mode never produces JLong/JDouble from parsing, but the rule
      // still collapses the pair to the lattice top:
      assert(m(JLong, JDouble) == JStr)
    }
    it("JTop poisons everything") {
      assert(m(JTop, JStruct(Vector("a" -> JStr))) == JTop)
      assert(m(JArr(JStr), JTop) == JTop)
    }
    it("unions struct fields in first-seen order (vs reference hash order)") {
      val a = JStruct(Vector("a" -> JStr, "b" -> JLong))
      val b = JStruct(Vector("b" -> JLong, "c" -> JBool))
      assert(m(a, b, typed = true) ==
        JStruct(Vector("a" -> JStr, "b" -> JLong, "c" -> JBool)))
    }
    it("merges array element types (all elements, SURVEY.md §1.2 divergence)") {
      assert(m(JArr(JStruct(Vector("a" -> JStr))), JArr(JStruct(Vector("b" -> JStr)))) ==
        JArr(JStruct(Vector("a" -> JStr, "b" -> JStr))))
    }
  }

  describe("mapify (attribute-map normalization — the post-aggregation " +
    "pass; JMap never enters the distributed fold)") {
    val th = 32
    it("collapses a >=threshold uniformly-typed struct to MAP") {
      val big = JStruct((1 to 40).map(i => s"k$i" -> (JStr: JType)).toVector)
      assert(JType.mapify(big, th, typed = true) == JMap(JStr))
      // A null-only key is no evidence against the uniform value type.
      val withNulls = JStruct((1 to 40).map(i =>
        s"k$i" -> (if (i % 3 == 0) JNull else JLong: JType)).toVector)
      assert(JType.mapify(withNulls, th, typed = true) == JMap(JLong))
    }
    it("keeps small structs as STRUCT") {
      val small = JStruct(Vector("a" -> JStr, "b" -> JStr))
      assert(JType.mapify(small, th, typed = true) == small)
    }
    it("keeps non-uniform value types as STRUCT") {
      val mixed = JStruct((1 to 40).map(i =>
        s"k$i" -> (if (i == 1) JLong else JStr: JType)).toVector)
      assert(JType.mapify(mixed, th, typed = true) == mixed)
    }
    it("does not collapse an all-null struct (no evidence)") {
      val nulls = JStruct((1 to 40).map(i => s"k$i" -> (JNull: JType)).toVector)
      assert(JType.mapify(nulls, th, typed = true) == nulls)
    }
    it("collapses nested structs while outer small structs survive") {
      val attrs = JStruct((1 to 40).map(i => s"a$i" -> (JStr: JType)).toVector)
      val t = JStruct(Vector("meta" -> JStruct(Vector("src" -> JStr)),
        "attrs" -> attrs))
      assert(JType.mapify(t, th, typed = true) ==
        JStruct(Vector("meta" -> JStruct(Vector("src" -> JStr)),
          "attrs" -> JMap(JStr))))
    }
    it("merges map-vs-struct observations (streaming evolution path)") {
      assert(m(JMap(JStr), JStruct(Vector("x" -> JStr, "y" -> JStr))) ==
        JMap(JStr))
      assert(m(JStruct(Vector("x" -> JLong)), JMap(JDouble), typed = true) ==
        JMap(JDouble))
    }
    it("lowers to MapType and renders MAP<STRING,STRING> DDL") {
      assert(JType.toDataType(JMap(JStr)) == MapType(StringType, StringType))
      assert(Ddl.render(MapType(StringType, StringType)) ==
        "MAP<STRING,STRING>")
    }
  }

  describe("toDataType") {
    it("renders JNull leaves as STRING (empty-array behavior, CreateHQL.scala:42,81)") {
      assert(JType.toDataType(JArr(JNull)) == ArrayType(StringType))
    }
  }

  // --- ScalaCheck laws -----------------------------------------------
  private val leafGen: Gen[JType] =
    Gen.oneOf(JNull, JStr, JLong, JDouble, JBool)
  private def typeGen(depth: Int): Gen[JType] =
    if (depth == 0) leafGen
    else Gen.frequency(
      4 -> leafGen,
      2 -> Gen.lzy(typeGen(depth - 1).map(JArr(_))),
      2 -> Gen.lzy(Gen.listOfN(3,
        Gen.zip(Gen.oneOf("a", "b", "c", "d"), typeGen(depth - 1)))
        .map(fs => JStruct(fs.distinctBy(_._1).toVector))))
  private implicit val arbJ: Arbitrary[JType] = Arbitrary(typeGen(3))

  private def law(name: String)(p: Prop): Unit = it(name) {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  describe("merge laws (distributability of the aggregation)") {
    law("associative")(Prop.forAll { (a: JType, b: JType, c: JType) =>
      m(a, m(b, c)) == m(m(a, b), c)
    })
    law("associative (typed)")(Prop.forAll { (a: JType, b: JType, c: JType) =>
      m(a, m(b, c, true), true) == m(m(a, b, true), c, true)
    })
    law("idempotent")(Prop.forAll { (a: JType) => m(a, a) == a })
    law("commutative up to struct field order")(Prop.forAll { (a: JType, b: JType) =>
      def canon(t: JType): JType = t match {
        case JStruct(fs) => JStruct(fs.map { case (k, v) => k -> canon(v) }.sortBy(_._1))
        case JArr(e)     => JArr(canon(e))
        case other       => other
      }
      canon(m(a, b)) == canon(m(b, a))
    })
  }

  describe("JTypeCodec (aggregation-buffer binary codec)") {
    law("round-trips every lattice value")(Prop.forAll { (a: JType) =>
      val c = new JTypeCodec
      c.decode(c.encode(a)) == a
    })
    it("handles JTop, empty structs, unicode field names, and maps") {
      val c = new JTypeCodec
      val cases = Seq[JType](JTop, JStruct(Vector.empty),
        JStruct(Vector("naïve.key-中文" -> JArr(JStruct(Vector("x" -> JLong))))),
        JMap(JStr), JStruct(Vector("attrs" -> JMap(JArr(JLong)))))
      cases.foreach(t => assert(c.decode(c.encode(t)) == t))
    }
    it("keeps its byte format (per-key streaming state is stored in it)") {
      val t: JType = JStruct(Vector(
        "n" -> JNull, "s" -> JStr, "l" -> JLong, "d" -> JDouble, "b" -> JBool,
        "t" -> JTop, "a" -> JArr(JMap(JLong)), "\u00e9" -> JStruct(Vector.empty)))
      val golden = Array(
        7, 0, 0, 0, 8,
        0, 0, 0, 1, 'n', 0,
        0, 0, 0, 1, 's', 1,
        0, 0, 0, 1, 'l', 2,
        0, 0, 0, 1, 'd', 3,
        0, 0, 0, 1, 'b', 4,
        0, 0, 0, 1, 't', 5,
        0, 0, 0, 1, 'a', 6, 8, 2,
        0, 0, 0, 2, 0xc3, 0xa9, 7, 0, 0, 0, 0).map(_.toByte)
      val c = new JTypeCodec
      assert(c.encode(t).sameElements(golden))
      assert(c.decode(golden) == t)
    }
    it("handles field names beyond writeUTF's 64 KB limit") {
      val c = new JTypeCodec
      val t: JType = JStruct(Vector(("k" * 70000) -> JStr))
      assert(c.decode(c.encode(t)) == t)
    }
    it("is several times smaller than kryo for a typical schema") {
      val t: JType = JStruct(Vector(
        "id" -> JLong, "name" -> JStr,
        "tags" -> JArr(JStr),
        "meta" -> JStruct(Vector("a" -> JBool, "b" -> JDouble))))
      assert(new JTypeCodec().encode(t).length < 60)
    }
  }
}
