package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal, TypeOf}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** The one path from a kernel's per-row `compute` to Catalyst. A
  * kernel without prepared state is a Scala object, and its call is a
  * `StaticInvoke`; a kernel with prepared state (stopword masks, a
  * merge list, codebooks) is a serializable case-class value, and its
  * call is an `Invoke` on a literal of that value. Catalyst supplies
  * everything else in both interpreted and generated mode: one direct
  * call per row, null in ⇒ null out (`propagateNull`), a null boxed
  * result ⇒ SQL null, and an analysis-time check of every argument
  * type (exact — never an implicit cast).
  */
private[expressions] object Kernel {

  /** One argument of a `compute` call and the types it may have. */
  final case class Arg(expr: Expression, accepts: Seq[DataType])

  /** A column argument of exactly one of `types`. */
  def arg(c: Column, types: DataType*): Arg = Arg(Bridge.expression(c), types)

  /** A plan-time parameter (int, boolean, double, sign bytes) passed as
    * a literal argument.
    */
  def param(v: Any): Arg = {
    val l = Literal(v)
    Arg(l, Seq(l.dataType))
  }

  /** Whether `c` is `array<double>` rather than `array<float>`. A
    * Column's type is unknown until analysis, so this is a `typeof`
    * test, which is foldable: the optimizer turns it into a literal.
    */
  def isDoubleArray(c: Column): Arg =
    Arg(EqualTo(TypeOf(Bridge.expression(c)), Literal("array<double>")),
      Seq(BooleanType))

  /** `impl.compute(args...)` as a column of `dataType`. */
  def call(impl: AnyRef, dataType: DataType, args: Seq[Arg],
           returnNullable: Boolean = true): Column = {
    val exprs = args.map(_.expr)
    val types = args.map(a => Bridge.exactly(a.accepts: _*))
    val cls = impl.getClass
    Bridge.column(
      if (cls.getName.endsWith("$"))
        StaticInvoke(cls, dataType, "compute", exprs, types,
          returnNullable = returnNullable)
      else
        Invoke(Literal.fromObject(impl), "compute", dataType, exprs, types,
          returnNullable = returnNullable))
  }
}
