package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types.{BooleanType, DataType}

/**
 * A primitive literal that generated code takes from its `references`
 * array instead of writing it into its source.
 *
 * `Literal.doGenCode` inlines int, long, double, date and timestamp values
 * (`o_custkey = 42L`), while strings, arrays and maps already go through
 * `references`. Spark caches compiled classes by their source text, so
 * every new key of a filter, keyset page or key list generated new source
 * and compiled a new class. Bound by reference, one class serves every
 * value of the same query shape.
 *
 * It stays `foldable` and evaluates to `value`, so an expression that
 * evaluates a foldable child while generating code (`Round`'s scale)
 * keeps doing so, and it prints like the `Literal` it replaces, so plan
 * text does not change.
 */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private lazy val literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  // a primitive field, unboxed from `references` once when the generated
  // object is initialized: a read costs about the bytecode of the inline
  // constant. Unboxing `references[i]` at every use pushed the 2-dimension
  // zorderWrite projection (about 1,500 literals) past the JVM's 64 KB
  // method limit, and its stage fell back to interpreted execution.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "paramLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/**
 * Physical rule: swap the literals `Literal.doGenCode` inlines for
 * [[ParamLiteral]]s in the expressions of `FilterExec`, `ProjectExec` and
 * `HashAggregateExec`, the operators whole-stage codegen compiles per
 * query. Booleans stay inline (two values cannot multiply classes), and so
 * does every other operator. Scan nodes in particular are left alone: a
 * `FileSourceScanExec`'s data filters become parquet `PushedFilters`,
 * which only recognise `Literal`s.
 *
 * It runs through `injectColumnar`, before the columnar transitions,
 * because that seam runs on both planning paths: adaptive execution
 * applies it to every query stage and to the final plan, and the plain
 * preparation applies it to plans adaptive execution does not wrap (a
 * filter without an exchange).
 */
object BindLiterals extends Rule[SparkPlan] {
  private def bindable(l: Literal): Boolean =
    l.value != null && l.dataType != BooleanType &&
      CodeGenerator.isPrimitiveType(l.dataType)

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: HashAggregateExec) =>
      p.transformExpressions {
        case l: Literal if bindable(l) => ParamLiteral(l.value, l.dataType)
      }
  }

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindLiterals
  }
}
