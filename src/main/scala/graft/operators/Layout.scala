package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, Expression, Literal, Multiply, ShiftRight}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** Data-layout operators: Z-order (Morton) interleaving.
  *
  * Why an engine needs this at 100 TB: parquet data skipping works off
  * per-file / per-row-group min-max statistics, and a table sorted by
  * ONE column only prunes predicates on that column. Interleaving the
  * bits of two (or more) filter columns into a single sort key keeps
  * rows that are close in EVERY dimension close in the file order, so
  * min-max pruning stays effective for predicates on any interleaved
  * dimension (the Delta/Iceberg OPTIMIZE ZORDER design).
  *
  * The interleave itself is a tree of Catalyst's own bit nodes —
  * statically unrolled per bit, whole-stage-codegen'd, no UDF — and
  * reproducible in plain SQL on any engine (the oracle mirrors it with
  * `>>`/`&` arithmetic).
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative
    * integer columns: bit i of `a` lands at position 2i, bit i of `b`
    * at 2i+1. `bits` ≤ 31 (result fits a signed 64-bit). Inputs are
    * masked to `bits` bits, so out-of-range values wrap rather than
    * corrupt the ordering of in-range ones.
    *
    * Built from Catalyst nodes rather than the Column DSL, so the SQL
    * `z_value` builder, whose children arrive resolved, returns this
    * same tree.
    */
  def zValue2(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    def bit(e: Expression, i: Int, pos: Int): Expression =
      Multiply(BitwiseAnd(ShiftRight(e, Literal(i)), Literal(1L)),
        Literal(1L << pos))
    val al = Cast(Bridge.expression(a), LongType)
    val bl = Cast(Bridge.expression(b), LongType)
    Bridge.column((0 until bits).map[Expression] { i =>
      Add(bit(al, i, 2 * i), bit(bl, i, 2 * i + 1))
    }.reduce(Add(_, _)))
  }
}
