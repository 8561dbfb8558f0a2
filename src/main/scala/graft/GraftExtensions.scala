package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{DotProduct, ExplodeShingles, JsonIsObject, JsonIsValid, MinHashSigs, NfcNormalize, SqDist}

/** Session-extension packaging of graft's native functions, so a user
  * can enable the whole surface with
  * `spark.sql.extensions=graft.GraftExtensions` (cluster-wide, no code)
  * or [[GraftExtensions.install]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** (name, doc, builder) for every native graft function. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("json_is_valid",
      info("json_is_valid", "json_is_valid(str) - true iff str is exactly one parseable JSON value"),
      es => { requireArity("json_is_valid", es, 1); JsonIsValid(es.head) }),
    ("json_is_object",
      info("json_is_object", "json_is_object(str) - true iff str is a JSON object"),
      es => { requireArity("json_is_object", es, 1); JsonIsObject(es.head) }),
    ("nfc_normalize",
      info("nfc_normalize", "nfc_normalize(str) - Unicode NFC normalization of str"),
      es => { requireArity("nfc_normalize", es, 1); NfcNormalize(es.head) }),
    ("minhash_sigs",
      info("minhash_sigs", "minhash_sigs(text[, perms]) - integer MinHash signatures of 3-word shingles"),
      es => { requireArityIn("minhash_sigs", es, 1, 2)
        MinHashSigs(es.head, foldableInt("minhash_sigs", es.lift(1), 4)) }),
    ("explode_shingles",
      info("explode_shingles", "explode_shingles(text[, n]) - one row per n-word shingle (default 3)"),
      es => { requireArityIn("explode_shingles", es, 1, 2)
        ExplodeShingles(es.head, foldableInt("explode_shingles", es.lift(1), 3)) }),
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - inner product of two ARRAY<DOUBLE> vectors (codegen'd left fold)"),
      es => { requireArity("vec_dot", es, 2); DotProduct(es.head, es(1)) }),
    ("vec_dist2",
      info("vec_dist2", "vec_dist2(a, b) - squared L2 distance of two ARRAY<DOUBLE> vectors (codegen'd left fold)"),
      es => { requireArity("vec_dist2", es, 2); SqDist(es.head, es(1)) }))

  /** Clean analysis-time error instead of an IndexOutOfBoundsException
    * when a SQL caller passes the wrong argument count (ADVICE r15;
    * extended to every registered function in r16 — the review found
    * the guard stopped at the two vector kernels). */
  private def requireArity(name: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n)
      throw new IllegalArgumentException(
        s"$name requires exactly $n arguments, got ${es.length}")

  private def requireArityIn(name: String, es: Seq[Expression],
                             lo: Int, hi: Int): Unit =
    if (es.length < lo || es.length > hi)
      throw new IllegalArgumentException(
        s"$name requires $lo to $hi arguments, got ${es.length}")

  /** Fold an optional literal/foldable INT argument, with a clean
    * error for the non-foldable case (a column reference there used
    * to surface as an unbound-attribute eval crash). */
  private def foldableInt(name: String, e: Option[Expression],
                          dflt: Int): Int = e match {
    case None => dflt
    case Some(Literal(v: Int, _)) => v
    case Some(other) if other.foldable =>
      other.eval() match {
        case n: Number => n.intValue()
        case v => throw new IllegalArgumentException(
          s"$name: second argument must be an integer literal, got $v")
      }
    case Some(_) => throw new IllegalArgumentException(
      s"$name: second argument must be a foldable integer literal")
  }

  /** Register the same functions on an already-running session. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, name, builder)
    }
}
