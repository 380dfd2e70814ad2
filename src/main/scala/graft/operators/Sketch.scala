package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

/** Mergeable distinct-count sketches (HyperLogLog, Flajolet et al. 2007).
  *
  * Exact `count(distinct x)` over 100 TB forces a full shuffle of every
  * distinct value; the HLL register array is a 4096-row-per-group bound
  * that partial-aggregates map-side, merges associatively across shards /
  * days / snapshots, and answers within ~1.6 % (1.04/√4096). This is the
  * canonical "distinct URLs / users / tokens per source" tool at corpus
  * scale — compute per-shard registers once, persist them, and re-merge
  * for any rollup without rescanning the data.
  *
  * Determinism contract (same bar as the rest of the engine): the hash is
  * the first 15 hex chars of md5 (60 bits — oracle-reproducible in
  * DuckDB via `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), the register
  * harmonic sum is an EXACT integer (`Σ 2^(49−reg)` ≤ 4096·2⁴⁹ < 2⁶³ —
  * no float-order sensitivity), and the final estimate applies the
  * published α·m²/Z formula with the linear-counting small-range branch
  * as literal IEEE double arithmetic, floored to BIGINT. Identical
  * expression text on the oracle side yields bit-identical results.
  *
  * Scale shape: one shuffle keyed by (group, bucket) with map-side max
  * partial-agg (≤ 4096 rows per group cross the wire per task), then one
  * tiny (group)-keyed agg over ≤ 4096 rows/group. Register maxing is
  * idempotent and associative, so duplicates and re-merges are free.
  *
  * Reference context: the reference's per-day "distinct mid" need
  * (sparkStreaming_realtime_project DauApp de-dup) is exact at its
  * scale; this is the approximate counterpart a 1000-executor corpus
  * profile needs.
  */
object Sketch {

  /** log2(m): 4096 registers → standard error 1.04/√4096 ≈ 1.6 %. */
  val P = 12
  val NumRegisters = 4096
  private val WBits = 60 - P // 48 suffix bits ranked for leading zeros
  private val WMask = (1L << WBits) - 1 // 281474976710655
  private val MaxRank = WBits + 1 // 49: all-zero suffix

  /** 60-bit md5-prefix hash — positive Long, DuckDB-reproducible. */
  private def hash60(v: Column): Column =
    conv(substring(md5(v), 1, 15), 16, 10).cast(LongType)

  /** HLL registers for the distinct values of `value` within each group:
    * one row per (group, bucket) with `reg` = max rank observed. Empty
    * buckets are implicit (reg 0) — [[hllEstimate]] accounts for them,
    * so a persisted sketch is at most 4096 rows per group.
    */
  def hllRegisters(df: DataFrame, value: Column,
                   groupCols: Seq[String]): DataFrame = {
    val h = hash60(value)
    val w = h.bitwiseAND(lit(WMask))
    val rank = when(w === 0L, lit(MaxRank))
      .otherwise(lit(MaxRank) - length(bin(w)))
    df.select(groupCols.map(col) ++ Seq(
        shiftright(h, WBits).as("bucket"), rank.as("rank")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rank")).as("reg"))
  }

  /** Merge register sets (max per bucket) — the cross-shard / cross-day
    * rollup path. Input: union of [[hllRegisters]] outputs that may
    * carry extra partition columns dropped by `groupCols`.
    */
  def hllMerge(registers: DataFrame, groupCols: Seq[String]): DataFrame =
    registers
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("reg")).as("reg"))

  /** Cardinality estimate from a register set: `approx_distinct` BIGINT
    * per group. α·m²/Z with linear counting below 2.5·m (Flajolet 2007);
    * the 60-bit hash space makes the large-range correction moot.
    */
  def hllEstimate(registers: DataFrame,
                  groupCols: Seq[String]): DataFrame = {
    val twoPowMax = lit(1L << MaxRank) // 2^49 per empty bucket
    val agg = registers
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("present"),
           sum(expr(s"shiftleft(CAST(1 AS BIGINT), $MaxRank - reg)"))
             .as("zp"))
    // Exact-integer harmonic denominator; literal IEEE double formula
    // from here (matches the oracle text op for op).
    val zScaled = (col("zp") +
      (lit(NumRegisters.toLong) - col("present")) * twoPowMax)
      .cast("double")
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0))
    val raw = alpha * lit(4096.0) * lit(4096.0) *
      lit((1L << MaxRank).toDouble) / zScaled
    val v = lit(NumRegisters.toLong) - col("present")
    val est = when(raw <= lit(2.5 * NumRegisters) && v > 0L,
        lit(NumRegisters.toDouble) * log(lit(NumRegisters.toDouble) /
          v.cast("double")))
      .otherwise(raw)
    agg.select(groupCols.map(col) :+
      floor(est).cast(LongType).as("approx_distinct"): _*)
  }

  /** One-shot per-group approximate distinct count of `value`. */
  def hllDistinct(df: DataFrame, value: Column,
                  groupCols: Seq[String]): DataFrame =
    hllEstimate(hllRegisters(df, value, groupCols), groupCols)

  /** Canonical cross-engine string rendering for [[tableProfile]]:
    * ints/longs via plain cast, timestamps at second precision
    * (`yyyy-MM-dd HH:mm:ss`, UTC session), floats/doubles quantized to
    * milli-units (`floor(x·1000 + 0.5)` — exact IEEE both engines;
    * documented: the profile treats values closer than 1e-3 as one).
    * Strings pass through; comparisons are binary in both engines.
    */
  private def canonical(f: org.apache.spark.sql.types.StructField): Column = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case StringType => col(f.name)
      case TimestampType | TimestampNTZType =>
        date_format(col(f.name).cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
      case DoubleType | FloatType =>
        floor(col(f.name) * 1000.0 + 0.5).cast(LongType).cast("string")
      case _ => col(f.name).cast("string")
    }
  }

  /** Schema-driven table profile — DESCRIBE at corpus scale: one row
    * per column with row/null counts, HLL approximate distinct, and
    * binary min/max of the canonical rendering. ONE pass over the
    * data: the melt (row → |columns| (name, value) pairs) is a narrow
    * projection, and everything downstream is map-side-combining
    * hash-aggs over ≤ 4096 register rows per column — the melted rows
    * themselves never cross the wire.
    */
  def tableProfile(df: DataFrame): DataFrame = {
    val kvs = df.schema.fields.map { f =>
      struct(lit(f.name).as("col_name"), canonical(f).as("v"))
    }
    val melted = df.select(explode(array(kvs.toIndexedSeq: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
    val base = melted.groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
           sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
           min(col("v")).as("min_value"),
           max(col("v")).as("max_value"))
    val est = hllEstimate(
      hllRegisters(melted.filter(col("v").isNotNull), col("v"),
        Seq("col_name")),
      Seq("col_name"))
    base.join(est, Seq("col_name"), "left")
      .withColumn("approx_distinct",
        coalesce(col("approx_distinct"), lit(0L)))
  }

  // ---- count-min sketch (Cormode & Muthukrishnan 2005) -----------------
  //
  // The heavy-hitter / frequency twin of the HLL register set: a
  // depth × width counter matrix whose cells ADD across shards (merge =
  // sum — partial-agg friendly), answering "how often does token X
  // occur" within ε·N (ε = e/width) without materializing the
  // vocabulary. At 100 TB the exact token→count table IS the corpus
  // vocabulary (billions of rows, token-keyed shuffle); the sketch is
  // depth·width rows per group, computed with ONE map-side-combining
  // hash-agg, and point lookups never scan the data again. All counts
  // are exact integers — no float anywhere — so the DuckDB oracle
  // hash-matches bit-for-bit.

  /** Rows (hash functions) in the counter matrix: error probability of
    * exceeding the ε·N bound is exp(−depth).
    */
  val CmsDepth = 4

  /** Cells per row: additive over-count bound ε = e/width ≈ 0.27 % of
    * total mass at 1024.
    */
  val CmsWidth = 1024

  /** The j-th row's cell for a value: md5-prefix hash of "j:value",
    * modulo the width. Deterministic and DuckDB-reproducible.
    */
  private def cmsCell(j: Column, v: Column): Column =
    hash60(concat(j.cast("string"), lit(":"), v)) % CmsWidth

  /** Build a count-min sketch of `value` occurrences per group: one row
    * per (group, row, cell) with the summed count. ≤ depth·width rows
    * per group; absent cells are implicit zeros.
    */
  def cmsSketch(df: DataFrame, value: Column,
                groupCols: Seq[String]): DataFrame =
    df.select(groupCols.map(col) :+ value.as("__v"): _*)
      .select(groupCols.map(col) :+
        explode(array((0 until CmsDepth).map(j =>
          struct(lit(j).as("row"),
            cmsCell(lit(j), col("__v")).as("cell"))): _*)).as("rc"): _*)
      .groupBy(groupCols.map(col) ++
        Seq(col("rc.row").as("row"), col("rc.cell").as("cell")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Approximate pairwise set overlap between groups by
    * inclusion–exclusion over HLL registers: |A∩B| ≈ est(A) + est(B) −
    * est(A∪B), where the union's registers are the bucket-wise max.
    * Input: [[hllRegisters]] output over ONE group column `groupCol`;
    * output: (ga, gb, approx_overlap) for ga < gb.
    *
    * The union's present-bucket harmonic sum needs NO outer join: with
    * zp/present per group and an equi-join on bucket for the
    * co-present buckets,
    *   zp_union = zpA + zpB
    *            + Σ_{b∈A∩B} (2^(49−max(ra,rb)) − 2^(49−ra) − 2^(49−rb))
    * and present_union = pa + pb − |A∩B| (the estimator supplies the
    * empty-bucket mass itself) — every term an exact integer, so the
    * estimate is bit-identical cross-engine. The exact-overlap twin ([[Dedup.sourceOverlap]])
    * shuffles every distinct (content, source) pair; this reads
    * per-group sketches of ≤ 4096 rows, so a 100 TB overlap matrix
    * costs pairs × registers, not data.
    */
  def hllOverlap(registers: DataFrame, groupCol: String): DataFrame = {
    val twoPowMax = 1L << MaxRank
    val per = registers.groupBy(col(groupCol))
      .agg(count(lit(1)).as("present"),
           sum(expr(s"shiftleft(CAST(1 AS BIGINT), $MaxRank - reg)"))
             .as("zp"))
    val a = registers.select(col(groupCol).as("ga"), col("bucket"),
      col("reg").as("ra"))
    val b = registers.select(col(groupCol).as("gb"), col("bucket"),
      col("reg").as("rb"))
    val both = a.join(b, Seq("bucket")).filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("n_both"),
           sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
               s"$MaxRank - greatest(ra, rb)) " +
               s"- shiftleft(CAST(1 AS BIGINT), $MaxRank - ra) " +
               s"- shiftleft(CAST(1 AS BIGINT), $MaxRank - rb)"))
             .as("corr"))
    def estOf(zp: Column, present: Column): Column = {
      val z = (zp + (lit(NumRegisters.toLong) - present) * twoPowMax)
        .cast("double")
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0))
      val raw = alpha * lit(4096.0) * lit(4096.0) *
        lit(twoPowMax.toDouble) / z
      val v = lit(NumRegisters.toLong) - present
      floor(when(raw <= lit(2.5 * NumRegisters) && v > 0L,
          lit(NumRegisters.toDouble) *
            log(lit(NumRegisters.toDouble) / v.cast("double")))
        .otherwise(raw)).cast(LongType)
    }
    val pa = per.select(col(groupCol).as("ga"),
      col("present").as("pa"), col("zp").as("zpa"))
    val pb = per.select(col(groupCol).as("gb"),
      col("present").as("pb"), col("zp").as("zpb"))
    both.join(pa, Seq("ga")).join(pb, Seq("gb"))
      .withColumn("zpu", col("zpa") + col("zpb") + col("corr"))
      .withColumn("pu", col("pa") + col("pb") - col("n_both"))
      .select(col("ga"), col("gb"),
        greatest(lit(0L),
          estOf(col("zpa"), col("pa")) + estOf(col("zpb"), col("pb")) -
            estOf(col("zpu"), col("pu"))).as("approx_overlap"))
  }

  // ---- decimal-bucket quantile sketch ---------------------------------
  //
  // The quantile member of the mergeable-profile trio (HLL = distinct,
  // CMS = frequency): bucket every non-negative integer metric down to
  // its first 3 significant decimal digits ("round down to 3 sig figs"
  // — 1234567 → 1230000). Buckets are ≤ ~900 per decade, counts SUM
  // across shards/days, and any permille quantile reads off the bucket
  // CDF with ≤ 1/100 relative error (values ≤ 999 are bucketed exactly).
  // Exact percentiles at 100 TB need a full sort or Greenwald-Khanna
  // state per group; this is one map-side-combining hash-agg, a
  // bounded-size artifact you can persist and re-merge, and — being
  // all-integer — a bit-exact cross-engine gate.

  /** Round a non-negative integer column down to its first 3
    * significant decimal digits (identity below 1000): subtract the
    * remainder modulo 10^(digits−3). All-integer except the 10^k
    * power, which is exact in double for k ≤ 15 (values < 10^18).
    */
  def sigBucket(x: Column): Column = {
    val xl = x.cast(LongType)
    val p = pow(lit(10.0), (length(xl.cast("string")) - 3).cast("double"))
      .cast(LongType)
    when(xl <= 999L, xl).otherwise(xl - (xl % p))
  }

  /** Quantile-sketch buckets of `value` per group: (group, qbucket,
    * cnt). Counts sum across shards — merge with [[qsketchMerge]].
    */
  def qsketch(df: DataFrame, value: Column,
              groupCols: Seq[String]): DataFrame =
    df.select(groupCols.map(col) :+ sigBucket(value).as("qbucket"): _*)
      .groupBy((groupCols :+ "qbucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge sketches (bucket-wise sum) — cross-shard rollup. */
  def qsketchMerge(sketch: DataFrame, groupCols: Seq[String]): DataFrame =
    sketch.groupBy((groupCols :+ "qbucket").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Permille quantiles from a sketch: for each group and each p in
    * `permilles` (e.g. 500/900/990), the smallest bucket whose
    * cumulative count reaches rank ceil(p·N/1000) — integer arithmetic
    * throughout. The window is partitioned per group over ≤ ~900 rows
    * per decade, never over the data. Output: group cols, `permille`,
    * `q_value`.
    */
  def qsketchQuantiles(sketch: DataFrame, groupCols: Seq[String],
                       permilles: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("qbucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    // Defensive merge: an unmerged union of shard sketches carries
    // duplicate (group, qbucket) rows, and the ROWS-framed cumulative
    // sum below would then depend on partition order at the duplicates.
    // The sketch is ≤ ~900 rows per group-decade, so this agg is free.
    val cum = qsketchMerge(sketch, groupCols)
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(wAll))
    cum
      .select(groupCols.map(col) ++ Seq(col("qbucket"), col("cum"),
        explode(array(permilles.map(lit): _*)).as("permille")): _*)
      .filter(col("cum") * 1000L >= col("permille") * col("total"))
      .groupBy((groupCols :+ "permille").map(col): _*)
      .agg(min(col("qbucket")).as("q_value"))
  }

  /** Point-frequency estimates for the values in `queries(queryCol)`:
    * min over rows of the addressed cells (absent cell ⇒ 0). Output:
    * queries' columns + `cms_count`. The sketch side is ≤ depth·width
    * rows per group — broadcast it; the probe never touches the corpus.
    */
  def cmsLookup(sketch: DataFrame, queries: DataFrame, queryCol: String,
                groupCols: Seq[String]): DataFrame = {
    val probes = queries.select(queries.columns.toIndexedSeq.map(col) :+
      explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("row"),
          cmsCell(lit(j), col(queryCol)).as("cell"))): _*)).as("rc"): _*)
      .select(queries.columns.toIndexedSeq.map(col) ++
        Seq(col("rc.row").as("row"), col("rc.cell").as("cell")): _*)
    probes
      .join(broadcast(sketch), groupCols ++ Seq("row", "cell"), "left")
      .groupBy(queries.columns.toIndexedSeq.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))
  }
}
