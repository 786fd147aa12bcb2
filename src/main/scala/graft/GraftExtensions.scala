package graft

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.{DotProduct, DotProductConst, GobDecode, GobEncode, MsgPackDecode, MsgPackEncode, NormalizeText, RollingGramHashExpr, TokensContainPhrase}

/**
 * SQL surface for the engine's custom expressions, registered through the
 * standard extension point: `spark.sql.extensions=graft.GraftExtensions`
 * (or `SparkSession.builder.withExtensions(new GraftExtensions)`), so
 * `spark.sql("... WHERE graft_phrase(toks, 'a', 'b')")` parses, analyzes,
 * and codegens like any built-in. The DataFrame API does not need this —
 * the typed wrappers in graft.functions build the expressions directly —
 * but a SQL-first user of the engine gets the same operators. Functions
 * are all it injects: no optimizer rule runs in an engine session.
 *
 * Functions:
 *  - `graft_phrase(tokens, w1, w2, ...)` — consecutive-token phrase match
 *  - `graft_dot(a, b)` — double-precision dot product of two array columns
 *  - `graft_cosine(v, constArray)` — dot vs a constant (foldable) query
 *    vector; dimension mismatch => 0.0
 *  - `graft_msgpack_pack(value)` — msgpack bytes of a packable column
 *  - `graft_msgpack_unpack(bytes, 'a INT, b STRING')` — typed decode; the
 *    schema is a DDL string literal (missing path / mismatch => NULL)
 *  - `graft_gob_pack(value)` / `graft_gob_unpack(bytes, 'ddl')` — the same
 *    pair for the legacy GOB encoding, so the GOB→MSGPACK migration runs
 *    from pure SQL
 *  - `graft_gram_hashes(tokens, k)` — rolling k-gram hashes of a token
 *    array (the substring-dedup gram index from pure SQL)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def foldableString(e: Expression, fn: String): String = {
    require(e.foldable, s"$fn expects literal arguments")
    String.valueOf(e.eval())
  }

  private def foldableFloats(e: Expression, fn: String): Array[Float] = {
    require(e.foldable, s"$fn expects a literal query vector")
    val arr = e.eval().asInstanceOf[ArrayData]
    e.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        (0 until arr.numElements()).map { i =>
          Literal(arr.get(i, et), et).eval() match {
            case f: Float => f
            case d: Double => d.toFloat
            case n: Number => n.floatValue()
            // SQL types bare numeric literals as DECIMAL — array(0.1, 0.2)
            // yields types.Decimal, which is NOT a java Number; without
            // this case the natural graft_cosine(v, array(0.1, 0.2)) call
            // was rejected as "non-numeric"
            case dec: org.apache.spark.sql.types.Decimal => dec.toFloat
            case other => throw new IllegalArgumentException(
              s"$fn: non-numeric vector element $other")
          }
        }.toArray
      case other => throw new IllegalArgumentException(
        s"$fn: expected an array literal, got $other")
    }
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_phrase",
      new ExpressionInfo(classOf[TokensContainPhrase].getName, "graft_phrase"),
      (exprs: Seq[Expression]) => {
        // >= 2: a word-less graft_phrase(toks) matches EVERY row (empty
        // phrase is vacuously contained) — an accident this SQL surface
        // turns into a clean analysis error instead of a silent select-all
        require(exprs.length >= 2, "graft_phrase(tokens, w1, ...)")
        TokensContainPhrase(exprs.head,
          exprs.tail.map(foldableString(_, "graft_phrase")))
      }),
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_dot(a, b)")
        DotProduct(exprs(0), exprs(1))
      }),
    ("graft_cosine",
      new ExpressionInfo(classOf[DotProductConst].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_cosine(v, constVector)")
        DotProductConst(exprs(0), foldableFloats(exprs(1), "graft_cosine"))
      }),
    ("graft_normalize",
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_normalize(text)")
        NormalizeText(exprs.head)
      }),
    ("graft_msgpack_pack",
      new ExpressionInfo(classOf[MsgPackEncode].getName, "graft_msgpack_pack"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_msgpack_pack(value)")
        MsgPackEncode(exprs.head)
      }),
    ("graft_msgpack_unpack",
      new ExpressionInfo(classOf[MsgPackDecode].getName, "graft_msgpack_unpack"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_msgpack_unpack(bytes, 'ddl schema')")
        MsgPackDecode(exprs.head,
          org.apache.spark.sql.types.DataType.fromDDL(
            foldableString(exprs(1), "graft_msgpack_unpack")))
      }),
    ("graft_gob_pack",
      new ExpressionInfo(classOf[GobEncode].getName, "graft_gob_pack"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_gob_pack(value)")
        GobEncode(exprs.head)
      }),
    ("graft_gob_unpack",
      new ExpressionInfo(classOf[GobDecode].getName, "graft_gob_unpack"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_gob_unpack(bytes, 'ddl schema')")
        GobDecode(exprs.head,
          org.apache.spark.sql.types.DataType.fromDDL(
            foldableString(exprs(1), "graft_gob_unpack")))
      }),
    ("graft_gram_hashes",
      new ExpressionInfo(classOf[RollingGramHashExpr].getName, "graft_gram_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_gram_hashes(tokens, k)")
        RollingGramHashExpr(exprs.head,
          foldableString(exprs(1), "graft_gram_hashes").toInt)
      }))

  /** Register on an already-constructed session (tests, shared REPLs). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      GraftBridge.registerFunction(spark, name, info, builder)
    }
}
