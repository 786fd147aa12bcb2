package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * A word → tokens dictionary held on the driver: `words(i)` segments as
 * `tokens(i)`. It ships to executors as the two arrays and each task
 * builds its hash index on first use, so the wire form is plain strings.
 * Equality is by reference: two dictionaries are the same only when they
 * are the same object, which keeps a plan's equality checks O(1) at any
 * vocabulary size.
 */
final class TokenDict(words: Array[String], tokens: Array[Array[String]])
    extends Serializable {
  require(words.length == tokens.length, "one token list per word")

  @transient private lazy val index: java.util.HashMap[UTF8String, ArrayData] = {
    val m = new java.util.HashMap[UTF8String, ArrayData](words.length * 2)
    for (i <- words.indices)
      m.put(UTF8String.fromString(words(i)),
        new GenericArrayData(tokens(i).map(t => UTF8String.fromString(t): Any)))
    m
  }

  /** `w`'s tokens, and the one token `w` for a word the dictionary does
    * not hold (NULL included). */
  def lookup(w: UTF8String): ArrayData = {
    val hit = if (w == null) null else index.get(w)
    if (hit != null) hit else new GenericArrayData(Array[Any](w))
  }
}

object TokenDict {

  /** Each word of `w` as its tokens in `dict`, and as itself, one token,
    * when `dict` does not hold it: the value of a left join to a (w, toks)
    * table followed by `coalesce(toks, array(w))`, as one expression. */
  def lookup(w: Column, dict: TokenDict): Column =
    GraftBridge.column(TokenLookupExpr(GraftBridge.expression(w), dict))
}

/**
 * [[TokenDict.lookup]] as one codegen'd expression. The dictionary rides
 * in the generated object's `references`, as [[BucketIndexExpr]]'s edges
 * do, so a second dictionary reuses the compiled class, and no broadcast
 * hash relation (and its 16 MB page) is built for it. The result is never
 * NULL.
 */
case class TokenLookupExpr(child: Expression, dict: TokenDict) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft token lookup needs a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    dict.lookup(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val dictRef = ctx.addReferenceObj("dict", dict, classOf[TokenDict].getName)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = $dictRef.lookup(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenLookupExpr =
    copy(child = newChild)
}
