package graft.functions

import org.apache.spark.sql.{Column, Dataset, GraftInternal, classic}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** A literal whose value lives outside the generated code.
  *
  * Spark writes a primitive [[Literal]] (a `Long` key, an `Int` code, a
  * `Date` or timestamp bound) into the Java source of the whole-stage
  * class it compiles, so a query that differs from a served one only in
  * such a value compiles its classes afresh. A `Param` generates a read of
  * a class field instead, filled from the plan's references array through
  * `ctx.addReferenceObj` — the route Spark already takes for its own
  * non-primitive literals — so the source text, and with it the compiled
  * class, is the same for every value.
  *
  * Everything else is the plain literal's: it IS a [[Literal]] (same
  * `equals`, `sql`, `eval` and foldability), so every optimizer rule and
  * `DataSourceStrategy` treat it as one and its comparisons still reach
  * the scan as pushed filters. It is not a cache: each query still plans
  * and runs in full.
  */
final class Param(value: Any, dataType: DataType) extends Literal(value, dataType) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val prim = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(JavaCode.expression(s"$ref.${prim}Value()", dataType))
    }
}

object Param {

  /** A parameter holding Catalyst's internal `value` of `dataType`. A
    * null has no value to inline, so it stays a plain [[Literal]]. */
  def apply(value: Any, dataType: DataType): Literal =
    if (value == null) Literal(null, dataType) else new Param(value, dataType)

  def column(value: Any, dataType: DataType): Column =
    GraftInternal.column(Param(value, dataType))

  /** `functions.lit(v)` as a parameter for comparison with `df`'s
    * column `name`: typed to the column when the analyzer would widen `v`
    * to it anyway (an `Int` against a `Long` column), so the comparison
    * gets no cast for the optimizer to fold into a fresh inlined literal.
    * Otherwise `v` keeps its own type and coerces exactly as `lit(v)`. */
  def against(df: Dataset[_], name: String, v: Any): Column = {
    val l = Literal(v)
    GraftInternal.column(typeOf(df, name) match {
      case Some(t) if t != l.dataType && l.value != null &&
          TypeCoercion.findTightestCommonType(l.dataType, t).contains(t) =>
        Param(Cast(l, t, Some(confOf(df).sessionLocalTimeZone)).eval(), t)
      case _ => Param(l.value, l.dataType)
    })
  }

  /** The type of `df`'s top-level column `name`, resolved as the
    * analyzer resolves it; None when no such column exists. */
  def typeOf(df: Dataset[_], name: String): Option[DataType] = {
    val resolver = confOf(df).resolver
    df.schema.fields.find(f => resolver(f.name, name)).map(_.dataType)
  }

  /** `col(name) === v`, `v` bound by [[against]]. */
  def equalTo(df: Dataset[_], name: String, v: Any): Column =
    org.apache.spark.sql.functions.col(name) === against(df, name, v)

  def confOf(df: Dataset[_]): SQLConf =
    df.sparkSession.asInstanceOf[classic.SparkSession].sessionState.conf
}
