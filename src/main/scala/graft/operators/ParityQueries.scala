package graft.operators

import graft.Q
import graft.functions.Cols
import graft.tables.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** SURVEY.md §2 operator inventory, re-expressed Spark-first over the
  * driver's parquet tables (mapping per FIXTURES.md §B: `events` plays the
  * page-log stream, `orders`⋈`lineitem` plays OrderInfo⋈OrderDetail,
  * `customer`/`nation`/`region` play the dimensions, `part.p_name` plays
  * `sku_name`).
  *
  * Design rules applied throughout (see Cols for the float story):
  *  - filters are expressed on raw scan columns so they push into the
  *    parquet reader (`PushedFilters` in explain);
  *  - dim joins are `broadcast()`ed — at 100 TB the fact side never
  *    shuffles for enrichment;
  *  - every result has a deterministic ORDER BY mirrored in the oracle.
  */
object ParityQueries {

  private val D1 = "2024-01-05" // "today" for DAU-style queries
  private val D0 = "2024-01-04" // "yesterday"
  private val AS_OF = "2026-01-01" // pinned "now" for age derivation

  private def tsLit(d: String): Column = to_timestamp(lit(d))

  /** events restricted to one calendar day — range predicate expressed
    * on the NATIVE scan column (via Tables.eventsRangeNanos) so it
    * pushes down to the parquet reader whichever timestamp encoding the
    * file carries (a predicate on the converted expression would not).
    */
  private def eventsOn(s: SparkSession, dir: String, day: String): DataFrame = {
    val lo = dayNanos(day)
    val hi = lo + 86400L * 1000000000L
    eventsRangeNanos(s, dir, lo, hi)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
  }

  val all: Seq[Q] = Seq(

    // ---- flagship: pricing-summary agg (A-family; exact decimal sums) --
    Q("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |   / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |   / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Cols.decSum(col("l_quantity")).as("sum_qty"),
          Cols.decSum(col("l_extendedprice")).as("sum_base_price"),
          sum(Cols.discPrice(col("l_extendedprice"), col("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          Cols.decAvg(col("l_quantity")).as("avg_qty"),
          Cols.decAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- S5: serving-store read-back (one stored field for all docs) --
    // MyEsUtils.searchField / DwdDauApp.revertState (ref S5).
    Q("s5_readback",
      s"""SELECT DISTINCT user_id FROM events
         |WHERE ts >= TIMESTAMP '$D1 00:00:00' AND ts < TIMESTAMP '$D1 00:00:00' + INTERVAL 1 DAY
         |ORDER BY user_id""".stripMargin) { (s, d) =>
      eventsOn(s, d, D1).select(col("user_id")).distinct()
        .orderBy(col("user_id"))
    },

    // ---- P1: generic JSON field extraction (fastjson parseObject) -----
    Q("p1_json_extract",
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_val"))
        .orderBy(col("event_id"))
    },

    // ---- P4: null-check / error-branch predicate ----------------------
    Q("p4_filter_err",
      """SELECT event_id, value AS err_value FROM events
        |WHERE event_type = 'error' AND props IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .filter(col("event_type") === "error" && col("props").isNotNull)
        .select(col("event_id"), col("value").as("err_value"))
        .orderBy(col("event_id"))
    },

    // ---- P5: session-start filter (last_page_id IS NULL analog) -------
    Q("p5_session_start",
      """SELECT event_id, user_id FROM events
        |WHERE json_extract_string(props, '$.k') = '0'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .filter(get_json_object(col("props"), "$.k") === "0")
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
    },

    // ---- P6: CDC op-type decode + drop-unknown ------------------------
    Q("p6_cdc_decode",
      """SELECT event_id,
        | CASE WHEN event_type IN ('signup','view') THEN 'I'
        |      WHEN event_type IN ('click') THEN 'U'
        |      WHEN event_type IN ('purchase') THEN 'D' END AS op
        |FROM events
        |WHERE event_type IN ('signup','view','click','purchase')
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .withColumn("op", Cols.decode3(col("event_type"),
          Seq("signup", "view"), Seq("click"), Seq("purchase")))
        .filter(col("op").isNotNull)
        .select(col("event_id"), col("op"))
        .orderBy(col("event_id"))
    },

    // ---- P8: dynamic topic-name synthesis ------------------------------
    Q("p8_topic_synth",
      """SELECT event_id,
        | concat('DWD_', upper(event_type), '_',
        |   CASE WHEN event_type IN ('signup','view') THEN 'I'
        |        WHEN event_type IN ('click') THEN 'U'
        |        WHEN event_type IN ('purchase') THEN 'D' END) AS topic
        |FROM events
        |WHERE event_type IN ('signup','view','click','purchase')
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .withColumn("op", Cols.decode3(col("event_type"),
          Seq("signup", "view"), Seq("click"), Seq("purchase")))
        .filter(col("op").isNotNull)
        .select(col("event_id"),
          Cols.topicName(col("event_type"), col("op")).as("topic"))
        .orderBy(col("event_id"))
    },

    // ---- P9: age-from-birthday (Period.getYears semantics) ------------
    Q("p9_age_derive",
      s"""SELECT o_orderkey,
         | CAST((year(DATE '$AS_OF') - year(o_orderdate))
         |  - (CASE WHEN month(DATE '$AS_OF') < month(o_orderdate)
         |      OR (month(DATE '$AS_OF') = month(o_orderdate)
         |          AND day(DATE '$AS_OF') < day(o_orderdate))
         |     THEN 1 ELSE 0 END) AS INT) AS age_years
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          Cols.ageYears(to_date(lit(AS_OF)), col("o_orderdate"))
            .cast(IntegerType).as("age_years"))
        .orderBy(col("o_orderkey"))
    },

    // ---- P11: dt/hr derivation from event time -------------------------
    Q("p11_dt_hr",
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS dt,
        | CAST(hour(ts) AS INT) AS hr
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("event_id"),
          Cols.dt(col("ts")).as("dt"),
          Cols.hr(col("ts")).as("hr"))
        .orderBy(col("event_id"))
    },

    // ---- P13: schema-intersection merge (MyBeanUtils.copyProperties) --
    // unionByName(allowMissingColumns) = "copy same-named fields, null
    // the rest" (ref MyBeanUtils.scala:26-62).
    Q("p13_schema_intersect",
      """SELECT * FROM (
        | SELECT event_id, user_id, value FROM events
        | UNION ALL
        | SELECT event_id, user_id, NULL AS value FROM events
        |) ORDER BY event_id, value ASC NULLS FIRST""".stripMargin) { (s, d) =>
      val full = events(s, d).select(col("event_id"), col("user_id"), col("value"))
      val narrow = events(s, d).select(col("event_id"), col("user_id"))
      full.unionByName(narrow, allowMissingColumns = true)
        .orderBy(col("event_id"), col("value").asc_nulls_first)
    },

    // ---- P16: JSON serialize-out (to_json(struct(...))) ----------------
    Q("p16_to_json",
      """SELECT event_id,
        | concat('{"event_id":', event_id, ',"event_type":"', event_type,
        |        '","user_id":', user_id, '}') AS js
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"), col("user_id")))
            .as("js"))
        .orderBy(col("event_id"))
    },

    // ---- F1: n-way split routing (batch shadow of the 5-topic split) --
    Q("f1_route_counts",
      """SELECT CASE WHEN event_type = 'error' THEN 'err'
        |            WHEN event_type = 'signup' THEN 'start'
        |            ELSE 'page' END AS route,
        | COUNT(*) AS ct
        |FROM events GROUP BY 1 ORDER BY route""".stripMargin) { (s, d) =>
      events(s, d)
        .withColumn("route",
          when(col("event_type") === "error", "err")
            .when(col("event_type") === "signup", "start")
            .otherwise("page"))
        .groupBy(col("route")).agg(count(lit(1)).as("ct"))
        .orderBy(col("route"))
    },

    // ---- F2: array explode (displays[] analog) -------------------------
    Q("f2_explode_tokens",
      """SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |FROM documents ORDER BY doc_id, word""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .orderBy(col("doc_id"), col("word"))
    },

    // ---- F3: positional explode (actions[] keeps per-element ts) -------
    Q("f3_posexplode_tokens",
      """SELECT p_partkey,
        | CAST(generate_subscripts(string_split(p_name, ' '), 1) - 1 AS INT) AS pos,
        | unnest(string_split(p_name, ' ')) AS word
        |FROM part ORDER BY p_partkey, pos""".stripMargin) { (s, d) =>
      part(s, d)
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .orderBy(col("p_partkey"), col("pos"))
    },

    // ---- J1: stream-dim enrichment join (user dim; broadcast) ----------
    Q("j1_dim_join_user",
      """SELECT e.event_id, c.c_name AS user_name, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      events(s, d).as("e")
        .join(broadcast(customer(s, d)).as("c"),
          col("e.user_id") === col("c.c_custkey"), "left")
        .select(col("e.event_id"),
          col("c.c_name").as("user_name"),
          col("c.c_mktsegment").as("segment"))
        .orderBy(col("event_id"))
    },

    // ---- J2: geo-dim enrichment chain (province dim analog) ------------
    Q("j2_dim_join_geo",
      """SELECT c.c_custkey, n.n_name AS nation_name, r.r_name AS region_name
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).as("c")
        .join(broadcast(nation(s, d)).as("n"),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(region(s, d)).as("r"),
          col("n.n_regionkey") === col("r.r_regionkey"))
        .select(col("c.c_custkey"),
          col("n.n_name").as("nation_name"),
          col("r.r_name").as("region_name"))
        .orderBy(col("c_custkey"))
    },

    // ---- J3+P15: order-wide 1:N join + wide-row assembly ----------------
    Q("j3_order_wide",
      """SELECT o.o_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus,
        | o.o_totalprice, strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
        | l.l_partkey, l.l_suppkey, l.l_quantity, l.l_extendedprice,
        | l.l_discount, strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin) { (s, d) =>
      orders(s, d).as("o")
        .join(lineitem(s, d).as("l"),
          col("o.o_orderkey") === col("l.l_orderkey"))
        .select(col("o.o_orderkey"), col("l.l_linenumber"),
          col("o.o_custkey"), col("o.o_orderstatus"), col("o.o_totalprice"),
          Cols.dt(col("o.o_orderdate")).as("create_date"),
          col("l.l_partkey"), col("l.l_suppkey"), col("l.l_quantity"),
          col("l.l_extendedprice"), col("l.l_discount"),
          Cols.dt(col("l.l_shipdate")).as("ship_date"))
        .orderBy(col("o_orderkey"), col("l_linenumber"))
    },

    // ---- J4: time-bounded cross-batch join (24h-TTL join analog) -------
    // Purchases join same-user clicks within the preceding hour; second
    // granularity so Spark (µs) and DuckDB (ns) agree exactly.
    Q("j4_time_bounded_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        | ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND date_trunc('second', c.ts) >= date_trunc('second', p.ts) - INTERVAL 1 HOUR
        | AND date_trunc('second', c.ts) <= date_trunc('second', p.ts)
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      val p = events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_trunc("second", col("ts")).as("p_ts"))
      val c = events(s, d).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user_id"),
          date_trunc("second", col("ts")).as("c_ts"))
      p.join(c, col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    },

    // ---- J5: ES match-AND semantics -------------------------------------
    Q("j5_match_and",
      """SELECT p_partkey, p_name FROM part
        |WHERE list_contains(string_split(lower(p_name), ' '), 'small')
        |  AND list_contains(string_split(lower(p_name), ' '), 'widget')
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d)
        .filter(Cols.matchAnd(col("p_name"), "small widget"))
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    },

    // ---- J5-CJK: match-AND + highlight over unsegmented script ---------
    // Chinese sku_name synthesized deterministically from part rows (the
    // reference's deployment matches Chinese product names,
    // PublisherMapperImpl.java:143); the mixed query exercises both
    // paths: token membership for 'small', substring containment for
    // 小米 (whitespace tokenization can never match an unsegmented run).
    Q("j5_match_and_cjk",
      """SELECT p_partkey, sku_name,
        | regexp_replace(sku_name, '(?i)(\bsmall\b|小米)', '<em>\1</em>', 'g') AS hl_name
        |FROM (
        | SELECT p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN concat('小米手机 ', p_name)
        |       WHEN p_partkey % 3 = 1 THEN concat('华为平板 ', p_name)
        |       ELSE p_name END AS sku_name
        | FROM part)
        |WHERE contains(lower(sku_name), '小米')
        |  AND list_contains(string_split(lower(sku_name), ' '), 'small')
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val sku = when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(lit("小米手机 "), col("p_name")))
        .when(pmod(col("p_partkey"), lit(3)) === 1,
          concat(lit("华为平板 "), col("p_name")))
        .otherwise(col("p_name"))
      part(s, d).withColumn("sku_name", sku)
        .filter(Cols.matchAnd(col("sku_name"), "small 小米"))
        .select(col("p_partkey"), col("sku_name"),
          Cols.highlight(col("sku_name"), "small 小米").as("hl_name"))
        .orderBy(col("p_partkey"))
    },

    // ---- J5-CJK bigram mode: CJKAnalyzer-style query decomposition ----
    // The multi-char query 小米手机 decomposes into bigrams
    // 小米/米手/手机, EACH matched by containment — closer to the ik
    // analyzer the reference's ES deployment runs than whole-token
    // substring matching (a doc can match on shared bigrams without
    // the full contiguous run). Highlighting wraps the same bigrams.
    Q("j5_match_and_cjk_bigram",
      """SELECT p_partkey, sku_name,
        | regexp_replace(sku_name, '(?i)(\bsmall\b|小米|米手|手机)',
        |   '<em>\1</em>', 'g') AS hl_name
        |FROM (
        | SELECT p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN concat('小米手机 ', p_name)
        |       WHEN p_partkey % 3 = 1 THEN concat('华为平板 ', p_name)
        |       ELSE p_name END AS sku_name
        | FROM part)
        |WHERE list_contains(string_split(lower(sku_name), ' '), 'small')
        |  AND contains(lower(sku_name), '小米')
        |  AND contains(lower(sku_name), '米手')
        |  AND contains(lower(sku_name), '手机')
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val sku = when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(lit("小米手机 "), col("p_name")))
        .when(pmod(col("p_partkey"), lit(3)) === 1,
          concat(lit("华为平板 "), col("p_name")))
        .otherwise(col("p_name"))
      part(s, d).withColumn("sku_name", sku)
        .filter(Cols.matchAndBigram(col("sku_name"), "small 小米手机"))
        .select(col("p_partkey"), col("sku_name"),
          Cols.highlightBigram(col("sku_name"), "small 小米手机")
            .as("hl_name"))
        .orderBy(col("p_partkey"))
    },

    // ---- A1: total DAU (count of deduped actives for a day) ------------
    Q("a1_dau_total",
      s"""SELECT COUNT(DISTINCT user_id) AS dau_total FROM events
         |WHERE ts >= TIMESTAMP '$D1 00:00:00' AND ts < TIMESTAMP '$D1 00:00:00' + INTERVAL 1 DAY""".stripMargin) {
      (s, d) =>
        eventsOn(s, d, D1)
          .agg(countDistinct(col("user_id")).as("dau_total"))
    },

    // ---- A2: first-event-per-key-per-day dedup (the DAU dedup) ---------
    // Batch shadow of Redis SADD first-wins; event_id is monotone in ts so
    // "min event_id" == "earliest event" and is ns-truncation-safe.
    Q("a2_dau_dedup",
      """SELECT user_id, dt, hr, event_id FROM (
        | SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt,
        |  CAST(hour(ts) AS INT) AS hr, event_id,
        |  row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
        |                     ORDER BY event_id) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY user_id, dt""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("dt"))
        .orderBy(col("event_id"))
      events(s, d)
        .select(col("user_id"), Cols.dt(col("ts")).as("dt"),
          Cols.hr(col("ts")).as("hr"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy(col("user_id"), col("dt"))
    },

    // ---- A3: hourly DAU histogram (terms-agg-by-hr analog) --------------
    Q("a3_dau_by_hour",
      s"""SELECT CAST(hour(ts) AS INT) AS hr, COUNT(DISTINCT user_id) AS ct
         |FROM events
         |WHERE ts >= TIMESTAMP '$D1 00:00:00' AND ts < TIMESTAMP '$D1 00:00:00' + INTERVAL 1 DAY
         |GROUP BY 1 ORDER BY hr""".stripMargin) { (s, d) =>
      eventsOn(s, d, D1)
        .groupBy(Cols.hr(col("ts")).as("hr"))
        .agg(countDistinct(col("user_id")).as("ct"))
        .orderBy(col("hr"))
    },

    // ---- A4: match-filtered terms agg + sub-sum (statsByItem core) ------
    Q("a4_stats_by_item",
      """SELECT c.c_mktsegment AS segment,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_amount,
        | COUNT(*) AS ct
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE list_contains(string_split(lower(p.p_name), ' '), 'widget')
        |GROUP BY 1 ORDER BY segment""".stripMargin) { (s, d) =>
      lineitem(s, d).as("l")
        .join(broadcast(part(s, d)
          .filter(Cols.matchAnd(col("p_name"), "widget"))).as("p"),
          col("l.l_partkey") === col("p.p_partkey"))
        .join(orders(s, d).as("o"),
          col("l.l_orderkey") === col("o.o_orderkey"))
        .join(broadcast(customer(s, d)).as("c"),
          col("o.o_custkey") === col("c.c_custkey"))
        .groupBy(col("c.c_mktsegment").as("segment"))
        .agg(Cols.decSum(col("l.l_extendedprice")).as("sum_amount"),
          count(lit(1)).as("ct"))
        .orderBy(col("segment"))
    },

    // ---- A5: post-agg age re-bucketing ----------------------------------
    Q("a5_age_buckets",
      s"""SELECT CASE WHEN age < 28 THEN 'under_28'
         |            WHEN age <= 29 THEN '28_to_29'
         |            ELSE '30_plus' END AS age_bucket,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_amount,
         | COUNT(*) AS ct
         |FROM (SELECT o_totalprice,
         |  CAST((year(DATE '$AS_OF') - year(o_orderdate))
         |   - (CASE WHEN month(DATE '$AS_OF') < month(o_orderdate)
         |       OR (month(DATE '$AS_OF') = month(o_orderdate)
         |           AND day(DATE '$AS_OF') < day(o_orderdate))
         |      THEN 1 ELSE 0 END) AS INT) AS age FROM orders)
         |GROUP BY 1 ORDER BY age_bucket""".stripMargin) { (s, d) =>
      orders(s, d)
        .select(col("o_totalprice"),
          Cols.ageYears(to_date(lit(AS_OF)), col("o_orderdate"))
            .cast(IntegerType).as("age"))
        .groupBy(when(col("age") < 28, "under_28")
          .when(col("age") <= 29, "28_to_29")
          .otherwise("30_plus").as("age_bucket"))
        .agg(Cols.decSum(col("o_totalprice")).as("sum_amount"),
          count(lit(1)).as("ct"))
        .orderBy(col("age_bucket"))
    },

    // ---- A6: post-agg label mapping --------------------------------------
    Q("a6_label_map",
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'finished'
        |            WHEN o_orderstatus = 'O' THEN 'open'
        |            ELSE 'partial' END AS status_label,
        | COUNT(*) AS ct
        |FROM orders GROUP BY 1 ORDER BY status_label""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy(when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("partial").as("status_label"))
        .agg(count(lit(1)).as("ct"))
        .orderBy(col("status_label"))
    },

    // ---- A7: rollup / grouping-sets cube over (dt, hr) -------------------
    // Multi-grain OLAP in one pass: per-hour, per-day and grand-total
    // rows from a single rollup (Catalyst expands grouping sets into
    // one Expand + hash-agg — no per-grain re-scan). grouping_id
    // disambiguates the grain, matching DuckDB's GROUPING() pair.
    Q("a7_rollup",
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, CAST(hour(ts) AS INT) AS hr,
        | COUNT(*) AS ct,
        | CAST(GROUPING(strftime(ts, '%Y-%m-%d')) * 2
        |   + GROUPING(CAST(hour(ts) AS INT)) AS BIGINT) AS grain
        |FROM events
        |GROUP BY ROLLUP (strftime(ts, '%Y-%m-%d'), CAST(hour(ts) AS INT))
        |ORDER BY grain, dt, hr""".stripMargin) { (s, d) =>
      events(s, d)
        .select(Cols.dt(col("ts")).as("dt"), Cols.hr(col("ts")).as("hr"))
        .rollup(col("dt"), col("hr"))
        .agg(count(lit(1)).as("ct"), grouping_id().cast("long").as("grain"))
        .orderBy(col("grain"), col("dt"), col("hr"))
    },

    // ---- A8: exact percentiles per group ---------------------------------
    // Exact linear-interpolated quantiles (Spark `percentile` ≡ DuckDB
    // `quantile_cont`): the distribution profile a quality gate reads
    // (median/tail of per-event value by type). Exact beats sketch at
    // oracle parity; at 100 TB swap percentile_approx in at the SAME
    // call site when a bounded-memory sketch is preferred.
    Q("a8_percentiles",
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.95) AS p95,
        | CAST(count(*) AS BIGINT) AS ct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        events(s, d)
          .groupBy(col("event_type"))
          .agg(
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.95)").as("p95"),
            count(lit(1)).as("ct"))
          .orderBy(col("event_type"))
    },

    // ---- W1: top-K groups by count (ES terms size(K)) --------------------
    // Top-K via the map-side bounded-heap aggregate (TopKByScore): each
    // partition reduces to ≤ K candidates before the shuffle, so no
    // global single-partition window ever materializes. Emission order
    // (score desc, id asc) is exactly row_number(ORDER BY ct DESC,
    // user_id) — counts are < 2^53 so the double round-trip is exact.
    Q("w1_topk_terms",
      """SELECT user_id, ct, rn FROM (
        | SELECT user_id, ct,
        |  row_number() OVER (ORDER BY ct DESC, user_id) AS rn
        | FROM (SELECT user_id, COUNT(*) AS ct FROM events GROUP BY user_id))
        |WHERE rn <= 24 ORDER BY rn""".stripMargin) { (s, d) =>
      val counts = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("ct"))
      val topk = graft.expressions.TopKByScore(
        col("ct").cast(DoubleType), col("user_id"), 24)
      counts.agg(topk.as("topk"))
        .select(posexplode(col("topk")).as(Seq("pos", "t")))
        .select(col("t.id").as("user_id"),
          col("t.score").cast("long").as("ct"),
          (col("pos") + 1).cast(IntegerType).as("rn"))
        .orderBy(col("rn"))
    },

    // ---- W2: pagination (detailByItem from/size paging) -------------------
    // ordering totalized over every output column: the fixture has
    // duplicate (l_orderkey, l_linenumber) pairs, and a partial order
    // makes row_number nondeterministic between engines
    Q("w2_pagination",
      """SELECT l_orderkey, l_linenumber, p_name, l_extendedprice, rn FROM (
        | SELECT l.l_orderkey, l.l_linenumber, p.p_name, l.l_extendedprice,
        |  row_number() OVER (ORDER BY l.l_orderkey, l.l_linenumber,
        |                     p.p_name, l.l_extendedprice) AS rn
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | WHERE list_contains(string_split(lower(p.p_name), ' '), 'bolt'))
        |WHERE rn BETWEEN 21 AND 40 ORDER BY rn""".stripMargin) { (s, d) =>
      val joined = lineitem(s, d).as("l")
        .join(broadcast(part(s, d)
          .filter(Cols.matchAnd(col("p_name"), "bolt"))).as("p"),
          col("l.l_partkey") === col("p.p_partkey"))
        .select(col("l.l_orderkey"), col("l.l_linenumber"),
          col("p.p_name"), col("l.l_extendedprice"))
      // distributed top-(from+size) via TakeOrderedAndProject, then rn
      // reconstructed on the ≤ 40 surviving rows by a broadcast rank
      // join — no global single-partition window at any input scale
      Paging.paginate(joined,
        Seq("l_orderkey", "l_linenumber", "p_name", "l_extendedprice"),
        from = 20, size = 20)
        .orderBy(col("rn"))
    },

    // ---- W3: relevance-ordered match page (ES _score analog) ----------
    // The reference's detailByItem pages in Elasticsearch relevance
    // order; this is the deterministic analog — tf × linear-idf summed
    // per query token (Relevance.scored), ordered (score DESC, key) via
    // the distributed TakeOrderedAndProject page (score negated so the
    // ascending pagination core applies unchanged). OR-match semantics:
    // any row containing at least one query token scores.
    Q("w3_relevance_page", {
      def toks = "string_split_regex(lower(p_name), '\\s+')"
      def term(t: String, df: String) =
        s"CASE WHEN $df > 0 THEN " +
          s"CAST(len(list_filter($toks, x -> x = '$t')) * n AS DOUBLE)" +
          s" / CAST($df AS DOUBLE) ELSE 0.0 END"
      s"""WITH s AS (SELECT count(*) AS n,
         |  sum(CASE WHEN list_contains($toks, 'small') THEN 1 ELSE 0
         |    END) AS df0,
         |  sum(CASE WHEN list_contains($toks, 'widget') THEN 1 ELSE 0
         |    END) AS df1
         | FROM part),
         |sc AS (SELECT p_partkey, p_name,
         |  (${term("small", "df0")} + ${term("widget", "df1")}) AS score
         | FROM part, s)
         |SELECT p_partkey, p_name, score, CAST(rn AS INT) AS rn FROM (
         | SELECT p_partkey, p_name, score,
         |  row_number() OVER (ORDER BY score DESC, p_partkey) AS rn
         | FROM sc WHERE score > 0)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin
    }) { (s, d) =>
      val scored = Relevance.scored(
        part(s, d).select(col("p_partkey"), col("p_name")),
        "p_name", "small widget")
        .withColumn("__negscore", -col("score"))
      Paging.paginate(scored, Seq("__negscore", "p_partkey"),
        from = 0, size = 20)
        .drop("__negscore")
        .orderBy(col("rn"))
    },

    // ---- pipeline round-trips: the streaming transform code paths under
    // the oracle gate. Envelope JSON is synthesized in-plan from driver
    // tables, fed through the REAL LogSplit/CdcSplit code, and the
    // oracle computes the expected output directly from the base
    // columns (JSON-free), so parse/flatten/route fidelity is what's
    // hash-checked.
    Q("pipe_log_split",
      """SELECT concat('mid_', user_id) AS mid,
        | event_type AS page_id,
        | CASE WHEN json_extract_string(props, '$.k') = '0'
        |      THEN NULL ELSE 'prev' END AS last_page_id,
        | CAST(event_id AS VARCHAR) AS page_item,
        | CAST(trunc(value) AS BIGINT) AS during_time,
        | CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ts
        |FROM events ORDER BY CAST(page_item AS BIGINT)""".stripMargin) {
      (s, d) =>
        // spread the single-split input before the JSON codec work
        val raw = eventsRaw(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(to_json(struct(
          struct(
            concat(lit("mid_"), col("user_id")).as("mid"),
            col("user_id").cast("string").as("uid")).as("common"),
          struct(
            col("event_type").as("page_id"),
            when(get_json_object(col("props"), "$.k") === "0", lit(null))
              .otherwise(lit("prev")).as("last_page_id"),
            col("event_id").cast("string").as("item"),
            col("value").cast("long").as("during_time")).as("page"),
          expr("ts div 1000000").as("ts"))).as("value"))
        graft.streaming.LogSplit.pages(graft.streaming.LogSplit.parse(raw))
          .select(col("mid"), col("page_id"), col("last_page_id"),
            col("page_item"), col("during_time"), col("ts"))
          .orderBy(col("page_item").cast("long"))
    },

    Q("pipe_cdc_split",
      """SELECT 'order_info' AS tbl,
        | CASE WHEN o_orderstatus = 'F' THEN 'I' ELSE 'U' END AS op,
        | concat('DWD_ORDER_INFO_',
        |   CASE WHEN o_orderstatus = 'F' THEN 'I' ELSE 'U' END) AS topic,
        | CAST(o_orderkey AS BIGINT) AS id
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |ORDER BY id""".stripMargin) { (s, d) =>
      val raw = orders(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(to_json(struct(
        lit("gmall").as("database"),
        lit("order_info").as("table"),
        when(col("o_orderstatus") === "F", "insert")
          .when(col("o_orderstatus") === "O", "update")
          .otherwise("ddl").as("type"),
        col("o_orderkey").as("ts"),
        struct(col("o_orderkey").as("id"),
          col("o_totalprice").as("total_amount")).as("data"))).as("value"))
      val decoded = graft.streaming.CdcSplit.decoded(
        graft.streaming.CdcSplit.parse(raw))
      graft.streaming.CdcSplit.facts(decoded, Set("order_info"))
        .select(col("table").as("tbl"), col("op"), col("topic"),
          get_json_object(col("data"), "$.id").cast("long").as("id"))
        .orderBy(col("id"))
    },

    // ---- scalar pack: string/date/arith builtins used by the reference ---
    Q("scalar_pack",
      """SELECT c_custkey,
        | upper(c_mktsegment) AS seg_upper,
        | concat(c_name, ':', c_mktsegment) AS tagged,
        | string_split(c_name, '#')[2] AS cust_num,
        | CAST(c_custkey * 100 + 7 AS BIGINT) AS derived_key
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .select(col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_upper"),
          concat(col("c_name"), lit(":"), col("c_mktsegment")).as("tagged"),
          split(col("c_name"), "#").getItem(1).as("cust_num"),
          (col("c_custkey") * 100 + 7).as("derived_key"))
        .orderBy(col("c_custkey"))
    },

    // ---- scalar: yesterday derivation (publisher dauRealtime) ------------
    Q("scalar_yesterday",
      s"""SELECT CAST(DATE '$D1' - INTERVAL 1 DAY AS DATE) AS yd,
         | DATE '$D1' AS td""".stripMargin) { (s, d) =>
      s.range(1)
        .select(date_sub(to_date(lit(D1)), 1).as("yd"),
          to_date(lit(D1)).as("td"))
    },

    // ---- highlight: ES <em> token wrapping --------------------------------
    Q("scalar_highlight",
      """SELECT p_partkey,
        | regexp_replace(p_name, '(?i)\b(small|widget)\b', '<em>\1</em>', 'g') AS hl_name
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d)
        .select(col("p_partkey"),
          Cols.highlight(col("p_name"), "small widget").as("hl_name"))
        .orderBy(col("p_partkey"))
    },

    // ---- publisher endpoint: dauRealtime (today vs yesterday by hour) ----
    Q("svc_dau_realtime",
      s"""WITH td AS (
         | SELECT CAST(hour(ts) AS INT) AS hr, COUNT(DISTINCT user_id) AS ct
         | FROM events WHERE ts >= TIMESTAMP '$D1 00:00:00'
         |  AND ts < TIMESTAMP '$D1 00:00:00' + INTERVAL 1 DAY GROUP BY 1),
         |yd AS (
         | SELECT CAST(hour(ts) AS INT) AS hr, COUNT(DISTINCT user_id) AS ct
         | FROM events WHERE ts >= TIMESTAMP '$D0 00:00:00'
         |  AND ts < TIMESTAMP '$D0 00:00:00' + INTERVAL 1 DAY GROUP BY 1)
         |SELECT COALESCE(td.hr, yd.hr) AS hr,
         | COALESCE(td.ct, 0) AS dau_td, COALESCE(yd.ct, 0) AS dau_yd
         |FROM td FULL OUTER JOIN yd ON td.hr = yd.hr
         |ORDER BY hr""".stripMargin) { (s, d) =>
      def hourly(day: String) = eventsOn(s, d, day)
        .groupBy(Cols.hr(col("ts")).as("hr"))
        .agg(countDistinct(col("user_id")).as("ct"))
      hourly(D1).as("td")
        .join(hourly(D0).as("yd"), col("td.hr") === col("yd.hr"), "full_outer")
        .select(coalesce(col("td.hr"), col("yd.hr")).as("hr"),
          coalesce(col("td.ct"), lit(0L)).as("dau_td"),
          coalesce(col("yd.ct"), lit(0L)).as("dau_yd"))
        .orderBy(col("hr"))
    },

    // ---- publisher endpoint: detailByItem (match + page + highlight + total)
    Q("svc_detail_by_item",
      """SELECT l_orderkey, l_linenumber, hl_name, l_extendedprice, rn, total
        |FROM (
        | SELECT l.l_orderkey, l.l_linenumber,
        |  regexp_replace(p.p_name, '(?i)\b(widget)\b', '<em>\1</em>', 'g') AS hl_name,
        |  l.l_extendedprice,
        |  row_number() OVER (ORDER BY l.l_orderkey, l.l_linenumber,
        |                     p.p_name, l.l_extendedprice) AS rn,
        |  COUNT(*) OVER () AS total
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | WHERE list_contains(string_split(lower(p.p_name), ' '), 'widget'))
        |WHERE rn BETWEEN 1 AND 20 ORDER BY rn""".stripMargin) { (s, d) =>
      // p_name rides along as the tiebreak key (the oracle orders by the
      // raw name — ordering by hl_name would flip on the inserted tags)
      val base = lineitem(s, d).as("l")
        .join(broadcast(part(s, d)
          .filter(Cols.matchAnd(col("p_name"), "widget"))).as("p"),
          col("l.l_partkey") === col("p.p_partkey"))
        .select(col("l.l_orderkey"), col("l.l_linenumber"),
          col("p.p_name"),
          Cols.highlight(col("p.p_name"), "widget").as("hl_name"),
          col("l.l_extendedprice"))
      // page via distributed TakeOrderedAndProject (no global window);
      // the stable total is a scalar agg broadcast onto the page rows
      val total = base.agg(count(lit(1)).as("total"))
      Paging.paginate(base,
        Seq("l_orderkey", "l_linenumber", "p_name", "l_extendedprice"),
        from = 0, size = 20)
        .drop("p_name")
        .crossJoin(broadcast(total))
        .orderBy(col("rn"))
    }
  )
}
