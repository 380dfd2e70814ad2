package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType}

/** Column ⇄ Expression bridge for the engine's custom Catalyst
  * expressions. Spark 4 moved these converters behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils); third-party
  * expression libraries bridge from inside the sql package — the same
  * pattern Spark connector/extension projects use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An input type that accepts exactly one of `types` (nullability
    * aside) and that the analyzer never implicitly casts to: a plain
    * `DataType` input type lets type coercion cast `array<double>` to
    * `array<tinyint>` or `array<int>` to `array<string>`, so a mistyped
    * kernel call would run on converted data instead of failing
    * analysis with UNEXPECTED_INPUT_TYPE. Type coercion casts only to
    * a `defaultConcreteType`, and nothing but NULL is assignable to
    * NullType.
    */
  def exactly(types: DataType*): AbstractDataType = Exactly(types)

  private case class Exactly(types: Seq[DataType]) extends AbstractDataType {
    override private[sql] def defaultConcreteType: DataType = NullType
    override private[sql] def acceptsType(other: DataType): Boolean =
      types.exists(_.sameType(other))
    override private[sql] def simpleString: String =
      types.map(_.simpleString).mkString(" or ")
  }
}
