package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order wide-table pipeline (reference DwdOrderApp.scala): the
  * info⋈detail dual-stream join with 24 h cross-batch completion.
  *
  * The reference implements this as a per-batch fullOuterJoin plus a
  * hand-rolled Redis pending-cache with 24 h TTL (DwdOrderApp.scala:
  * 174-254). Net semantics — each (info, detail) pair on order_id is
  * emitted exactly once if both sides arrive within 24 h of each
  * other, 1:N supported, never-matched rows never emitted — are
  * exactly a Structured Streaming stream-stream INNER join with
  * symmetric 24 h watermarks and a time-range condition, so that's the
  * whole implementation. State eviction, late-data bounds, and restart
  * recovery come from the state store + checkpoint.
  */
object OrderWidePipeline {

  /** Join order_info and order_detail streams into the wide row.
    *
    * Both inputs must carry an event-time column named `create_ts`
    * (derive with `to_timestamp(create_time)`); `maxDelay` is the
    * cross-arrival bound (reference TTL: 24 h).
    */
  def orderWide(info: DataFrame, detail: DataFrame,
                maxDelay: String = "24 hours"): DataFrame = {
    val i = info.withWatermark("create_ts", maxDelay).alias("i")
    val d = detail.withWatermark("create_ts", maxDelay).alias("d")
    i.join(d,
      expr(s"""
        i.id = d.order_id AND
        d.create_ts >= i.create_ts - INTERVAL 24 HOURS AND
        d.create_ts <= i.create_ts + INTERVAL 24 HOURS
      """),
      "inner")
  }

  /** Dim enrichment of the info side BEFORE the stream-stream join
    * (reference DwdOrderApp.scala:112-146: user gender/age + province
    * columns land on the wide row). Broadcast joins against the
    * CDC-maintained dim tables — the info stream never shuffles for
    * enrichment, and the reference's `province_iso_code` never-assigned
    * / `area_code` double-assigned bugs (SURVEY §7) are normalized to
    * the intended one-column-each mapping.
    *
    * `dimUser(id, gender, birthday)`,
    * `dimProvince(id, name, area_code, iso_code, iso_3166_2)`.
    */
  def enrichInfo(info: DataFrame, dimUser: DataFrame,
                 dimProvince: DataFrame): DataFrame =
    info
      .join(broadcast(dimUser).as("u"),
        info("user_id") === col("u.id"), "left")
      .withColumn("user_gender", col("u.gender"))
      .withColumn("user_age", graft.functions.Cols.ageYears(
        current_date(), to_date(col("u.birthday"))))
      .drop(col("u.id")).drop(col("u.gender")).drop(col("u.birthday"))
      .join(broadcast(dimProvince).as("p"),
        col("province_id") === col("p.id"), "left")
      .withColumn("province_name", col("p.name"))
      .withColumn("province_area_code", col("p.area_code"))
      .withColumn("province_iso_code", col("p.iso_code"))
      .withColumn("province_3166_2", col("p.iso_3166_2"))
      .drop(col("p.id")).drop(col("p.name")).drop(col("p.area_code"))
      .drop(col("p.iso_code")).drop(col("p.iso_3166_2"))
}
