package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * `by_ref(v)`: a bigint constant that generated code reads from its
 * references array instead of inlining it.
 *
 * A `lit(v)` compiles into the Java source as `1000002L`, so a value that
 * changes every crawl round (the clock `now`) gives every round a source
 * text the codegen cache has never seen, and Janino compiles the stage
 * again. Bound through `ctx.addReferenceObj`, the source stays the same and
 * the compiled class is reused; only the object handed to its constructor
 * changes. Not foldable, so constant folding cannot turn it back into a
 * literal.
 */
case class ByRef(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "by_ref"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byRef", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object ByRef {
  /** Function-registry entry: `by_ref(<bigint literal>)`. */
  def fromArgs(es: Seq[Expression]): ByRef = es match {
    case Seq(e) if e.foldable && e.dataType == LongType =>
      ByRef(e.eval().asInstanceOf[Long])
    case other => throw new IllegalArgumentException(
      s"by_ref expects one bigint literal, got $other")
  }

  /** `by_ref(v)` as a column (registers the SQL function first). */
  def col(spark: org.apache.spark.sql.SparkSession,
          v: Long): org.apache.spark.sql.Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.expr(s"by_ref(${v}L)")
  }
}
