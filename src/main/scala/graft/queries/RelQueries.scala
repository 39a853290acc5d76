package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.Q._

/** Relational query battery.
  *
  * The reference engine produces changelog rows and delegates ALL relational
  * processing (joins, aggregates, windows, scalar functions) to the Flink SQL
  * engine (SURVEY.md §0, §2.4-2.6; ITCase queries at
  * flink-connector-mysql-cdc-log/src/test/java/.../MySqlConnectorITCase.java:137-244).
  * This battery is the Spark-side equivalent of that delegated surface,
  * expressed with the DataFrame API so Catalyst handles pushdown, pruning and
  * join selection. Every float aggregate uses the exact decimal-sum pattern
  * (graft.Q.dsum) so results hash-match the DuckDB oracle bit-for-bit.
  */
object RelQueries {
  private val D = "DECIMAL(38,6)"
  // Exact decimal-sum oracle fragment.
  private def oSum(expr: String) = s"CAST(SUM(CAST($expr AS $D)) AS DOUBLE)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01,
    "q02_selective_filter_agg" -> q02,
    "q03_join_topk" -> q03,
    "q04_semi_join_exists" -> q04,
    "q05_multiway_join" -> q05,
    "q06_anti_join" -> q06,
    "q07_window_topn" -> q07,
    "q08_window_running" -> q08,
    "q09_set_ops" -> q09,
    "q10_group_having" -> q10,
    "q11_count_distinct" -> q11,
    "q12_conditional_agg" -> q12,
    "q13_rollup" -> q13,
    "q14_scalar_subquery" -> q14,
    "q15_string_funcs" -> q15,
    "q16_date_parts" -> q16,
    "q17_outer_join_agg" -> q17,
    "q18_sort_limit" -> q18,
    "q19_events_bucketed" -> q19,
    "q20_events_json_extract" -> q20,
    "q21_events_sessionize" -> q21,
    "q22_events_conditional_pivot" -> q22,
    "q40_window_range_frame" -> q40,
    "q41_cube" -> q41,
    "q44_grouping_sets" -> q44,
    "q45_percentiles" -> q45,
    "q46_word_count" -> q46,
    "q47_window_funcs" -> q47,
    "q48_unpivot" -> q48,
    "q49_set_ops_all" -> q49,
    "q51_salted_agg" -> q51,
    "q62_salted_join" -> q62,
    "q63_column_profile" -> q63,
    "q70_funnel" -> q70,
    "q71_retention" -> q71,
    "q72_zscore_outliers" -> q72,
    "q52_streaming_window" -> q52,
    "q54_streaming_sessions" -> q54,
    "q61_streaming_dedup" -> q61,
    "q87_bucketed_join" -> q87,
    "q107_partition_pruned" -> q107,
    "q88_stream_interval_join" -> q88,
    "q89_stream_temporal_join" -> q89,
    "q90_stream_temporal_outer" -> q90
  )

  /** Bucketed copies of orders/lineitem on the orderkey (8 buckets, sorted)
    * — the ingest-time index build q87 joins against. Idempotent per
    * (session, dir); Bench pre-materializes it untimed for the timed SF
    * dir, the same way it pre-writes the CDC fixture: an index build is
    * paid once at ingest, not per query. */
  private[graft] def ensureBucketedTables(s: SparkSession, dir: String): (String, String) = {
    import graft.operators.BucketedOps.ensureBucketed
    (ensureBucketed(t(s, dir, "orders"), s"$dir/orders", "o_orderkey", 8),
      ensureBucketed(t(s, dir, "lineitem"), s"$dir/lineitem", "l_orderkey", 8))
  }

  /** q107's partitioned events lake: the events table re-landed
    * Hive-partitioned by `event_day` (ts div 1 day — 30 day directories at
    * every SF), one file per day. This is the layout a 100 TB event store
    * actually uses: a date-bounded query must PRUNE partitions at planning
    * (directory listing beats scanning), and the gate pins that the
    * pruning really happens (PlanAuditSpec: PartitionFilters on the scan,
    * 3 of 30 directories read). Written once per (session, dir); Bench
    * pre-materializes it untimed — an ingest-time layout, amortized, the
    * same rule as the bucketed tables. */
  private[graft] def ensurePartitionedEventsLake(s: SparkSession, dir: String): String =
    partitionedEventsCache.computeIfAbsent(
      System.identityHashCode(s).toString + "|" + dir, _ => {
        val path = java.nio.file.Files.createTempDirectory("graft_events_lake_").toString
        t(s, dir, "events")
          .withColumn("event_day", expr("ts div 86400000000000"))
          .repartition(col("event_day")) // one task (and file) per day dir
          .write.mode("overwrite").partitionBy("event_day").parquet(path)
        path
      })

  private val partitionedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // date-bounded aggregate over the partitioned lake: the filter lands in
  // PartitionFilters (planning-time directory pruning — 3 of 30 day dirs
  // are ever opened), not in a post-scan row filter. The day bounds derive
  // from the raw table's min day (one bounded driver probe, the maxId
  // pattern); the oracle re-derives the same bounds closed-form.
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val lake = ensurePartitionedEventsLake(s, dir)
    val d0 = t(s, dir, "events")
      .agg(min(expr("ts div 86400000000000")).as("d0")).head().getLong(0)
    s.read.parquet(lake)
      .filter(col("event_day") >= d0 + 2 && col("event_day") <= d0 + 4)
      .groupBy(col("event_day").cast("bigint").as("event_day"), col("event_type"))
      .agg(cnt.as("n"), dsum(col("value")).as("total_value"))
      .orderBy("event_day", "event_type")
  }

  /** Pre-build every streaming query's staged input for `dir` (untimed in
    * the bench — ingest-side scaffolding, same rule as the CDC fixture and
    * the bucketed layout). Queries re-arm mtimes per run; the expensive
    * sort+write happens here, once per JVM. */
  private[graft] def ensureStreamFixtures(s: SparkSession, dir: String): Unit = {
    q52Stage(s, dir); q54Stage(s, dir); q61Stage(s, dir)
    q88Stage(s, dir); temporalStage(s, dir)
  }

  // --- q87: bucketed-storage co-located join (§2.4 at 100 TB) — both
  // sides pre-bucketed on the join key with matching bucket counts, so the
  // sort-merge join AND the per-order aggregate (grouping contains the
  // bucket key) run with ZERO exchanges end-to-end (PlanAuditSpec pins
  // this). Values are identical to the plain join — the DuckDB oracle
  // proves the bucketed layout changes the plan, never the answer. ---
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val (obTable, lbTable) = ensureBucketedTables(s, dir)
    val o = s.table(obTable).filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_custkey")
    val l = s.table(lbTable).select("l_orderkey", "l_extendedprice", "l_discount")
    o.hint("merge").join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_custkey")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        cnt.as("n_items"))
  }

  // --- q01: TPC-H Q1-style pricing summary (wide agg, map-side combine) ---
  private def q01(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.groupBy("l_returnflag", "l_linestatus").agg(
      dsum(col("l_quantity")).as("sum_qty"),
      dsum(col("l_extendedprice")).as("sum_base_price"),
      dsum(disc).as("sum_disc_price"),
      dsum(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
      (dsum(col("l_quantity")) / cnt.cast("double")).as("avg_qty"),
      cnt.as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // --- q02: TPC-H Q6-style selective filter + agg (predicate pushdown) ---
  private def q02(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24.0)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        cnt.as("n_rows"))
  }

  // --- q03: shipping priority: 3-way join + agg + top-k ---
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // --- q04: order-priority count via correlated EXISTS (left-semi join) ---
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
    o.join(l, col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority").agg(cnt.as("order_count"))
      .orderBy("o_orderpriority")
  }

  // --- q05: TPC-H Q5-style 6-way join (broadcast dims) ---
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // --- q06: customers with no orders (left-anti / NOT EXISTS) ---
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // --- q07: top-3 orders per customer (ranking window) ---
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  // --- q08: running spend per customer + days since previous order ---
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o.select(col("o_custkey"), col("o_orderkey"),
        dsumOver(col("o_totalprice"), w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("running_spend"),
        datediff(col("o_orderdate").cast("date"), lag(col("o_orderdate").cast("date"), 1).over(w)).cast("bigint").as("days_since_prev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // --- q09: set operations (UNION / EXCEPT over key sets) ---
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val buyersF = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k")).distinct()
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val negBal = c.filter(col("c_acctbal") < 0.0).select(col("c_custkey").as("k"))
    buyersF.union(building).distinct().except(negBal).orderBy("k")
  }

  // --- q10: GROUP BY + HAVING ---
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    l.groupBy("l_suppkey", "l_returnflag")
      .agg(cnt.as("n"), dsum(col("l_quantity")).as("total_qty"))
      .filter(col("n") > 50)
      .orderBy("l_suppkey", "l_returnflag")
  }

  // --- q11: COUNT(DISTINCT) per group ---
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        cnt.as("n"))
      .orderBy("o_orderstatus")
  }

  // --- q12: conditional aggregation (TPC-H Q14-style promo share) ---
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val j = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
    j.agg(
      dsum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0))).as("promo_revenue"),
      dsum(disc).as("total_revenue"))
      .withColumn("promo_share", lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  // --- q13: ROLLUP with grouping sets ---
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    l.rollup("l_returnflag", "l_linestatus")
      .agg(cnt.as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  // --- q14: top-revenue supplier via scalar-max subquery (TPC-H Q15-style) ---
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val rev = l.groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DEC)).as("r"))
    val mx = rev.agg(max(col("r")).as("mr"))
    rev.join(broadcast(mx), col("r") === col("mr"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("r").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  // --- q15: scalar string function battery ---
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_size").between(10, 20))
    p.select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_name")).as("name_l"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).cast("bigint").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("tag"),
        regexp_replace(col("p_type"), "M", "_").as("rep"),
        reverse(col("p_brand")).as("rev_brand"))
      .orderBy("p_partkey")
  }

  // --- q16: date part extraction + truncation ---
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
      .agg(cnt.as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("yr", "mo")
  }

  // --- q17: left outer join + agg with COALESCE ---
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("spend"))
      .orderBy("c_custkey")
  }

  // --- q18: global sort + limit with deterministic tiebreak ---
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    l.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)
  }

  // --- q19: events bucketed by minute (bigint-nanos arithmetic) ---
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
      .agg(cnt.as("n"), dsum(col("value")).as("total_value"))
      .orderBy("hour_bucket", "event_type")
  }

  // --- q20: extract numeric field from JSON-ish props via regexp ---
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.select(col("event_type"), regexp_extract(col("props"), "[0-9]+", 0).cast("bigint").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("k_sum"), max(col("k")).as("k_max"), cnt.as("n"))
      .orderBy("event_type")
  }

  // --- q21: sessionization via lag + cumulative flags (30-min gap) ---
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapNs = 1800000000000L // 30 min in ns
    val flagged = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
    flagged.groupBy("user_id")
      .agg(sum(col("new_session")).as("n_sessions"), cnt.as("n_events"))
      .orderBy("user_id")
  }

  // --- q22: manual pivot via conditional counts per user ---
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        dsum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))).as("purchase_value"))
      .orderBy("user_id")
  }

  def oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${oSum("l_quantity")} AS sum_qty,
         |  ${oSum("l_extendedprice")} AS sum_base_price,
         |  ${oSum("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
         |  ${oSum("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)")} AS sum_charge,
         |  ${oSum("l_quantity")} / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_selective_filter_agg" ->
      s"""SELECT ${oSum("l_extendedprice*l_discount")} AS revenue, COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""".stripMargin,
    "q03_join_topk" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority,
         |  ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM customer JOIN orders ON o_custkey = c_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q04_semi_join_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q05_multiway_join" ->
      s"""SELECT n_name, ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
         |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q07_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q08_window_running" ->
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(SUM(CAST(o_totalprice AS $D)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
         |  date_diff('day',
         |    LAG(CAST(o_orderdate AS DATE), 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         |    CAST(o_orderdate AS DATE)) AS days_since_prev
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q09_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |     b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     c AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0.0)
        |SELECT k FROM ((SELECT k FROM a UNION SELECT k FROM b) EXCEPT (SELECT k FROM c)) ORDER BY k""".stripMargin,
    "q10_group_having" ->
      s"""SELECT l_suppkey, l_returnflag, COUNT(*) AS n, ${oSum("l_quantity")} AS total_qty
         |FROM lineitem GROUP BY l_suppkey, l_returnflag
         |HAVING COUNT(*) > 50 ORDER BY l_suppkey, l_returnflag""".stripMargin,
    "q11_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q12_conditional_agg" ->
      s"""SELECT promo_revenue, total_revenue, 100.0 * promo_revenue / total_revenue AS promo_share FROM (
         |  SELECT ${oSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END")} AS promo_revenue,
         |         ${oSum("l_extendedprice*(1.0-l_discount)")} AS total_revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey)""".stripMargin,
    "q13_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${oSum("l_quantity")} AS qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q14_scalar_subquery" ->
      s"""WITH rev AS (SELECT l_suppkey, SUM(CAST(l_extendedprice*(1.0-l_discount) AS $D)) AS r
         |             FROM lineitem GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
         |FROM rev JOIN supplier ON s_suppkey = l_suppkey
         |WHERE r = (SELECT MAX(r) FROM rev) ORDER BY s_suppkey""".stripMargin,
    "q15_string_funcs" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_u, LOWER(p_name) AS name_l,
        |  SUBSTR(p_name, 1, 8) AS name8, CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  CONCAT(p_brand, '#', p_type) AS tag, REGEXP_REPLACE(p_type, 'M', '_', 'g') AS rep,
        |  REVERSE(p_brand) AS rev_brand
        |FROM part WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey""".stripMargin,
    "q16_date_parts" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
         |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
         |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         |  COUNT(*) AS n, ${oSum("o_totalprice")} AS total
         |FROM orders GROUP BY 1, 2, 3 ORDER BY yr, mo""".stripMargin,
    "q17_outer_join_agg" ->
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         |  COALESCE(${oSum("o_totalprice")}, 0.0) AS spend
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q18_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q19_events_bucketed" ->
      s"""SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
         |  COUNT(*) AS n, ${oSum("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,
    "q20_events_json_extract" ->
      """SELECT event_type, CAST(SUM(CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)) AS BIGINT) AS k_sum,
        |  MAX(CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)) AS k_max, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q21_events_sessionize" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - prev_ts > 1800000000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          LAG(epoch_ns(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_ts
        |        FROM events))
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q22_events_conditional_pivot" ->
      s"""SELECT user_id,
         |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
         |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
         |  ${oSum("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS purchase_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // RANGE frame over integer nanos: ties at equal ts are all in-frame →
    // deterministic regardless of within-tie ordering (a ROWS frame would
    // not hash-match across engines on tied timestamps)
    "q40_window_range_frame" ->
      s"""SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
         |  CAST(SUM(CAST(value AS $D)) OVER w AS DOUBLE) AS value_1h
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
         |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q41_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${oSum("o_totalprice")} AS total
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q44_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${oSum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q45_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.75) AS p75,
        |  MIN(l_quantity) AS mn, MAX(l_quantity) AS mx, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q46_word_count" ->
      """SELECT u.t AS tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        |GROUP BY u.t HAVING COUNT(*) >= 50
        |ORDER BY n DESC, tok""".stripMargin,

    "q47_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
        |  NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q48_unpivot" ->
      s"""SELECT measure, COUNT(*) AS n, ${oSum("val")} AS total
         |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         |                      l_discount, l_tax FROM lineitem)
         |      ON l_quantity, l_extendedprice, l_discount, l_tax
         |      INTO NAME measure VALUE val)
         |GROUP BY measure ORDER BY measure""".stripMargin,

    "q51_salted_agg" ->
      s"""SELECT event_type, COUNT(*) AS n, ${oSum("value")} AS total_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical arithmetic tree on both sides: decimal sums → double
    // mean/var/sqrt/division in the same order (IEEE ops are deterministic
    // given the same operand order)
    "q72_zscore_outliers" ->
      s"""WITH m AS (SELECT event_type, COUNT(*) AS n,
         |    ${oSum("value")} AS sx, ${oSum("value*value")} AS sxx
         |  FROM events GROUP BY 1),
         |s AS (SELECT event_type, sx / n AS mean,
         |        sqrt(sxx / n - (sx / n) * (sx / n)) AS std FROM m)
         |SELECT event_id, e.event_type, value, (value - mean) / std AS z
         |FROM events e JOIN s ON e.event_type = s.event_type
         |WHERE abs((value - mean) / std) > 2.0
         |ORDER BY event_id""".stripMargin,

    "q71_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |             (epoch_ns(ts) // 1000) // 604800000000 AS w FROM events),
        |f AS (SELECT user_id, MIN(w) AS cohort_w FROM e GROUP BY 1)
        |SELECT cohort_w, w - cohort_w AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_w, week_offset""".stripMargin,

    "q70_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(us) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > t_view GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(us) AS t_purchase FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > t_click GROUP BY 1)
        |SELECT v.user_id, t_view, t_click, t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,

    "q63_column_profile" -> {
      def leg(c: String) =
        s"""SELECT '$c' AS "column", COUNT(*) AS n,
           |  COUNT(*) FILTER ($c IS NULL) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min, CAST(MAX($c) AS DOUBLE) AS max
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(leg).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q107_partition_pruned" ->
      s"""WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS event_day,
         |            event_type, value FROM events),
         |b AS (SELECT MIN(event_day) AS d0 FROM e)
         |SELECT e.event_day, e.event_type, COUNT(*) AS n,
         |  ${oSum("e.value")} AS total_value
         |FROM e, b WHERE e.event_day BETWEEN b.d0 + 2 AND b.d0 + 4
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q62_salted_join" ->
      s"""WITH d AS (SELECT event_type, ${oSum("value")} AS tv, COUNT(*) AS tn
         |           FROM events GROUP BY 1)
         |SELECT e.event_id, e.event_type, e.value, d.tv / d.tn AS type_avg
         |FROM events e JOIN d USING (event_type)
         |ORDER BY e.event_id""".stripMargin,

    "q52_streaming_window" ->
      s"""SELECT (epoch_ns(ts) // 3600000000000) * 3600000000 AS hour_start_us,
         |  event_type, COUNT(*) AS n, ${oSum("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_start_us, event_type""".stripMargin,

    // independent session reconstruction: gap breaks via LAG, session ids
    // via running sum, then per-session aggregates (no ties at ms precision
    // in the corpus — verified — so the windows are unambiguous)
    "q54_streaming_sessions" ->
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
         |m AS (SELECT user_id, ms, value,
         |        CASE WHEN LAG(ms) OVER w IS NULL OR ms - LAG(ms) OVER w > 1800000
         |             THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
         |sess AS (SELECT user_id, ms, value,
         |           SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
         |                          ROWS UNBOUNDED PRECEDING) AS sid
         |         FROM m)
         |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
         |  COUNT(*) AS n_events, ${oSum("value")} AS total_value
         |FROM sess GROUP BY user_id, sid
         |ORDER BY user_id, start_ms""".stripMargin,

    // first event per (user, type): kept-row identity join on per-key min
    // timestamp (tie-free at µs precision, verified at every SF)
    "q61_streaming_dedup" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us,
        |             event_id, value FROM events),
        |m AS (SELECT user_id, event_type, MIN(us) mn FROM e GROUP BY 1, 2)
        |SELECT e.user_id, e.event_type, e.us AS ts_us, e.event_id, e.value
        |FROM e JOIN m ON e.user_id = m.user_id
        |  AND e.event_type = m.event_type AND e.us = m.mn
        |ORDER BY e.user_id, e.event_type""".stripMargin,

    // static interval join: every (click, purchase) pair on the same user
    // with the purchase inside [click, click + 30 min] — the stream-stream
    // join must emit exactly this set, exactly once, across micro-batches
    "q88_stream_interval_join" ->
      """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
        |           FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.us AS click_ts_us, p.us AS purchase_ts_us, p.value AS purchase_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.us >= c.us AND p.us <= c.us + 1800000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    // temporal join: each click joined to the LATEST purchase at-or-before
    // it (within the 2h staleness horizon) on the same user — Flink's
    // FOR SYSTEM_TIME AS OF; ties at the same purchase ts break on the
    // higher event_id, clicks with no purchase in the horizon are dropped
    "q89_stream_temporal_join" ->
      """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
        |           FROM events WHERE event_type = 'purchase'),
        |     j AS (SELECT c.user_id, c.event_id AS click_id, c.us AS click_ts_us,
        |             p.event_id AS version_id, p.us AS version_ts_us,
        |             p.value AS purchase_value,
        |             row_number() OVER (PARTITION BY c.event_id
        |               ORDER BY p.us DESC, p.event_id DESC) AS rn
        |           FROM c JOIN p ON c.user_id = p.user_id
        |             AND p.us <= c.us AND p.us >= c.us - 7200000000)
        |SELECT user_id, click_id, click_ts_us, version_id, version_ts_us,
        |  purchase_value
        |FROM j WHERE rn = 1
        |ORDER BY user_id, click_id""".stripMargin,

    // outer temporal join: same argmax, but clicks with no purchase in
    // the horizon are KEPT with NULL version columns (Flink's temporal
    // LEFT join) — LEFT JOIN makes the unmatched click a single all-NULL
    // version row, which is its own rn=1
    "q90_stream_temporal_outer" ->
      """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
        |           FROM events WHERE event_type = 'purchase'),
        |     j AS (SELECT c.user_id, c.event_id AS click_id, c.us AS click_ts_us,
        |             p.event_id AS version_id, p.us AS version_ts_us,
        |             p.value AS purchase_value,
        |             row_number() OVER (PARTITION BY c.event_id
        |               ORDER BY p.us DESC, p.event_id DESC) AS rn
        |           FROM c LEFT JOIN p ON c.user_id = p.user_id
        |             AND p.us <= c.us AND p.us >= c.us - 7200000000)
        |SELECT user_id, click_id, click_ts_us, version_id, version_ts_us,
        |  purchase_value
        |FROM j WHERE rn = 1
        |ORDER BY user_id, click_id""".stripMargin,

    // the bucketed layout must never change the answer: the oracle is the
    // PLAIN join — any hash-mismatch means bucketing perturbed values
    "q87_bucketed_join" ->
      s"""SELECT o_orderkey, o_custkey,
         |  ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'O'
         |GROUP BY o_orderkey, o_custkey""".stripMargin,

    "q49_set_ops_all" ->
      """WITH f AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |     p AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'),
        |     ia AS (SELECT k FROM f INTERSECT ALL SELECT k FROM p),
        |     ea AS (SELECT k FROM f EXCEPT ALL SELECT k FROM p)
        |SELECT * FROM (
        |  SELECT 'intersect_all' AS setop, k, COUNT(*) AS n FROM ia GROUP BY k
        |  UNION ALL
        |  SELECT 'except_all' AS setop, k, COUNT(*) AS n FROM ea GROUP BY k)
        |ORDER BY setop, k""".stripMargin
  )

  // --- q40: rolling 1-hour per-user window via a RANGE frame (§2.5) ---
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val hourNs = 3600L * 1000 * 1000 * 1000
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rangeBetween(-hourNs, Window.currentRow)
    e.select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        dsumOver(col("value"), w).as("value_1h"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  // --- q44: explicit GROUPING SETS (the general grouping-set surface) ---
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(cnt.as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  // --- q45: exact discrete percentiles per group (ordered-set aggregates) ---
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    l.groupBy("l_returnflag").agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)").as("p75"),
        min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"), cnt.as("n"))
      .orderBy("l_returnflag")
  }

  // --- q46: lateral explode → word count over documents ---
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(cnt.as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n") >= 50)
      .orderBy(col("n").desc, col("tok"))
  }

  // --- q47: navigation-window battery (lead/lag/first/nth_value/ntile) ---
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o.select(col("o_custkey"), col("o_orderkey"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        first(col("o_totalprice")).over(w).as("first_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
        ntile(4).over(w).cast("bigint").as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // --- q48: unpivot/melt wide measures to long form (§2.5 set ops family) ---
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    l.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "val")
      .groupBy("measure").agg(cnt.as("n"), dsum(col("val")).as("total"))
      .orderBy("measure")
  }

  // --- q49: INTERSECT ALL / EXCEPT ALL (multiset set operations) ---
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
    val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("k"))
    f.intersectAll(p).withColumn("setop", lit("intersect_all"))
      .unionAll(f.exceptAll(p).withColumn("setop", lit("except_all")))
      .groupBy("setop", "k").agg(cnt.as("n"))
      .orderBy("setop", "k")
  }

  // --- q51: skew-safe two-phase (salted) aggregation — identical result
  //     to the plain GROUP BY, so the oracle hash gate proves the
  //     decomposition exact. event_type is genuinely hot: a handful of
  //     values over the whole table. ---
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    graft.operators.SkewOps.saltedSumCount(e, Seq("event_type"),
        saltBy = col("event_id"), salt = 16, valueCol = col("value"),
        sumName = "total_value", cntName = "n")
      .select(col("event_type"), col("n"), col("total_value"))
      .orderBy("event_type")
  }

  // --- q62: skew-safe salted JOIN — every event joined to its type-level
  //     average (event_type is the canonical hot key: a handful of values
  //     over the whole table). Row multiset identical to the plain join,
  //     proven by the oracle hash gate; the salt spreads each hot key's
  //     probe work over 8 sub-keys. ---
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val perType = graft.operators.SkewOps.saltedSumCount(e, Seq("event_type"),
        saltBy = col("event_id"), salt = 16, valueCol = col("value"),
        sumName = "tv", cntName = "tn")
      .select(col("event_type"), (col("tv") / col("tn").cast("double")).as("type_avg"))
    graft.operators.SkewOps.saltedJoin(
        e.select("event_id", "event_type", "value"), perType,
        keys = Seq("event_type"), saltBy = col("event_id"), salt = 8)
      .select("event_id", "event_type", "value", "type_avg")
      .orderBy("event_id")
  }

  // --- q70: funnel analysis — earliest view → first click AFTER that
  //     view → first purchase AFTER that click, per user. Each stage is
  //     one conditional min-aggregate over a broadcast of the previous
  //     stage's (tiny, one-row-per-user) frontier — the whole funnel
  //     never re-shuffles the events table by anything but user_id. ---
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(broadcast(v), "user_id")
      .filter(col("us") > col("t_view"))
      .groupBy("user_id", "t_view").agg(min("us").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(broadcast(c), "user_id")
      .filter(col("us") > col("t_click"))
      .groupBy("user_id", "t_view", "t_click").agg(min("us").as("t_purchase"))
    v.join(c.select("user_id", "t_click"), Seq("user_id"), "left")
      .join(p.select("user_id", "t_purchase"), Seq("user_id"), "left")
      .orderBy("user_id")
  }

  // --- q72: statistical outlier detection — per-type z-scores from
  //     decimal-exact moments (Σx, Σx² sum in decimal, so mean/var are
  //     identical across engines and row orders; a naive double stddev
  //     is order-dependent and would break the hash gate). Tiny moment
  //     table broadcasts back onto the events. ---
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val m = e.groupBy("event_type").agg(
      cnt.as("n"), dsum(col("value")).as("sx"),
      dsum(col("value") * col("value")).as("sxx"))
      .select(col("event_type"),
        (col("sx") / col("n").cast("double")).as("mean"),
        sqrt(col("sxx") / col("n").cast("double") -
          (col("sx") / col("n").cast("double")) * (col("sx") / col("n").cast("double")))
          .as("std"))
    e.join(broadcast(m), "event_type")
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(abs(col("z")) > 2.0)
      .select("event_id", "event_type", "value", "z")
      .orderBy("event_id")
  }

  // --- q71: retention cohorts — users bucketed by first-seen week, then
  //     distinct-active counts per (cohort, week offset). Two keyed
  //     shuffles (first-seen agg, cohort-cell agg); the first-seen
  //     frontier is one row per user and broadcasts. ---
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    val e = t(s, dir, "events")
      .select(col("user_id"), expr(s"(ts div 1000) div $weekUs").as("w"))
    val first = e.groupBy("user_id").agg(min("w").as("cohort_w"))
    e.distinct()
      .join(broadcast(first), "user_id")
      .groupBy(col("cohort_w"), (col("w") - col("cohort_w")).as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .orderBy("cohort_w", "week_offset")
  }

  // --- q63: one-pass dataset profile of the lineitem measures (row/null/
  //     distinct counts + ranges, single scan + single reduce) ---
  private def q63(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.numericProfile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("column")

  // --- q52: STREAMING tumbling-window aggregation under the hash gate —
  //     the events table re-read as a multi-batch stream (AvailableNow),
  //     watermarked windowed agg, final state == the batch oracle. ---
  private def q52Events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(timestamp_micros(expr("ts div 1000")).as("ets"),
        col("event_type"), col("value"))

  // staged once per JVM (ingest-side scaffolding, untimed in the bench);
  // the windowed complete-mode agg is arrival-order-free, so one group
  private def q52Stage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q52", dir) { in =>
      q52Events(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      Seq((StreamFixtures.parts(in), 0L))
    }

  private def q52(s: SparkSession, dir: String): DataFrame = {
    val st = StreamFixtures.arm(q52Stage(s, dir))
    // bounded run, tiny state → few state partitions, scoped to the
    // stream's own session (see the streamSession note)
    val ss = StreamFixtures.streamSession(s)
    // no maxFilesPerTrigger: one catch-up batch. The complete-mode
    // windowed aggregation is arrival-order-free (the stage writes all
    // files in one mtime group for the same reason), so per-2-file
    // batching only paid extra planning + checkpoint rounds.
    val stream = ss.readStream.schema(q52Events(s, dir).schema)
      .parquet(st.in)
    val agg = graft.streaming.StreamingOps.windowedCounts(stream, "ets", "10 seconds", "1 hour")
    StreamFixtures.drainToMemory(agg, "q52_win", mode = "complete")
      .select(unix_micros(col("window.start")).as("hour_start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("hour_start_us", "event_type")
  }

  // --- q54: STREAMING stateful sessionization (flatMapGroupsWithState)
  //     under the hash gate. Input replayed as a time-ordered multi-batch
  //     file stream (range-partitioned files, mtimes force arrival order =
  //     event-time order, so no late drops regardless of lateness); one
  //     far-future sentinel event per user closes the user's last open
  //     session through the ordinary gap path in the final batch (the
  //     end-of-stream flush pattern — sentinel sessions themselves are
  //     never emitted). Exact-decimal session totals make the emitted sums
  //     order-independent. Oracle: lag/cumsum session reconstruction. ---
  private val q54GapMs = 1800000L // 30-min gap, same as q21

  private def q54Events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      col("event_type"), col("value"))

  // staged once per JVM; arrival order = event-time order (the file
  // source admits files by mtime), re-armed fresh per run
  private def q54Stage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q54", dir) { in =>
      val e = q54Events(s, dir)
      e.orderBy("ts").write.mode("overwrite").parquet(in) // range-partitioned by ts
      val maxUs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
      StreamFixtures.stageWithSentinel(in, e.select(col("user_id")).distinct()
        .select(col("user_id"),
          timestamp_micros(lit(maxUs + (q54GapMs + 60000L) * 1000L)).as("ts"),
          lit("__sentinel").as("event_type"), lit(0.0).as("value")))
    }

  private def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = StreamFixtures.arm(q54Stage(s, dir))
    val ss = StreamFixtures.streamSession(s)
    // no maxFilesPerTrigger: one catch-up batch. sessionize sorts each
    // key's batch slice by event time inside the invocation, so a single
    // batch holding the whole (time-ordered) input incl. the sentinel
    // closes every real session through the ordinary gap path — the same
    // emissions the 5-batch schedule produced, minus 4 rounds of
    // per-batch planning + state checkpointing. Sentinel sessions stay
    // open in state and are never emitted, exactly as before.
    val stream = ss.readStream.schema(q54Events(s, dir).schema)
      .parquet(st.in)
    StreamFixtures.drainToMemory(graft.streaming.StreamingOps
        .sessionize(stream.as[graft.streaming.Event], q54GapMs).toDF(), "q54_sess")
      .select(col("user_id"), col("start_ts").as("start_ms"), col("end_ts").as("end_ms"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "start_ms")
  }

  // --- q61: STREAMING first-event-per-key dedup under the hash gate.
  //     Events replayed as a time-ordered multi-batch file stream,
  //     dropDuplicates state keyed on (user_id, event_type): kept row =
  //     min-ts row per key (no ties at µs precision in the corpus —
  //     verified at every SF). Oracle: join back on the per-key MIN(ts).
  //     Determinism the gate depends on: ONE range-partitioned file per
  //     micro-batch (maxFilesPerTrigger=1, each file < one input split),
  //     so every batch has a single in-order mapper. With several files
  //     per batch, which duplicate "arrives first" at the dedup state
  //     follows reduce-side fetch order across mappers — nondeterministic
  //     (it held at sf0.01 by luck and broke at sf0.1's file count). ---
  private def q61Events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"), col("event_type"),
      timestamp_micros(expr("ts div 1000")).as("ets"), col("event_id"), col("value"))

  private def q61Stage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q61", dir) { in =>
      q61Events(s, dir).repartitionByRange(4, col("ets")).sortWithinPartitions("ets")
        .write.mode("overwrite").parquet(in)
      StreamFixtures.parts(in).zipWithIndex.map { case (f, i) => (Seq(f), i * 1000L) }
    }

  private def q61(s: SparkSession, dir: String): DataFrame = {
    val st = StreamFixtures.arm(q61Stage(s, dir))
    val ss = StreamFixtures.streamSession(s)
    val stream = ss.readStream.schema(q61Events(s, dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(st.in)
    val dedup = graft.streaming.StreamingOps.firstPerKey(
      stream, "ets", Seq("user_id", "event_type"), lateness = "1 hour")
    StreamFixtures.drainToMemory(dedup, "q61_dedup")
      .select(col("user_id"), col("event_type"), unix_micros(col("ets")).as("ts_us"),
        col("event_id"), col("value"))
      .orderBy("user_id", "event_type")
  }

  // --- q88: STREAMING stream-stream interval join under the hash gate —
  //     clicks and purchases re-read as two watermarked file streams over
  //     the same time-ordered input (q54's mtime trick: arrival order =
  //     event-time order, so nothing is ever late and no pair can be
  //     dropped); inner join on user with purchase_ts ∈ [click_ts,
  //     click_ts + 30 min]. Append mode emits each qualifying pair exactly
  //     once across micro-batches; state on both sides is evicted as the
  //     watermark advances (StreamStreamJoinSpec pins the plan and the
  //     eviction). Oracle: the equivalent static interval join. ---
  private def q88Events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"), col("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ets"), col("event_type"), col("value"))

  private def q88Stage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q88", dir) { in =>
      q88Events(s, dir).orderBy("ets").write.mode("overwrite").parquet(in) // range-partitioned by ts
      StreamFixtures.parts(in).zipWithIndex.map { case (f, i) => (Seq(f), i * 1000L) }
    }

  private def q88(s: SparkSession, dir: String): DataFrame = {
    val st = StreamFixtures.arm(q88Stage(s, dir))
    // parts=4 (default) holds even at one big batch: A/B'd parts=16 here
    // — q88 6.9s vs 2.8s, q89 19.9s vs 13.7s — state-store instance
    // overhead dwarfs any shuffle-width gain at this state size
    val ss = StreamFixtures.streamSession(s)
    // no maxFilesPerTrigger: the bounded catch-up drains in ONE
    // micro-batch. An inner interval join in append mode emits each
    // qualifying pair exactly once under ANY batching (pairs emit when
    // both rows are present; the watermark only bounds state), so the
    // per-2-file batching paid ~16 rounds of per-batch planning +
    // state-checkpoint choreography for the same answer — the r17
    // profile's 30-55% driver-only gap (guide §1.2: remove passes that
    // compute nothing).
    def side(tpe: String, pre: String) = ss.readStream.schema(q88Events(s, dir).schema)
      .parquet(st.in)
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"), col("event_id").as(s"${pre}_id"),
        col("ets").as(s"${pre}ts"), col("value").as(s"${pre}_value"))
    val joined = graft.streaming.StreamingOps.intervalJoin(
      side("click", "c").drop("c_value"), "cts",
      side("purchase", "p"), "pts",
      "c_user", "p_user", windowMs = 1800000L, lateness = "2 hours")
    StreamFixtures.drainToMemory(joined, "q88_ssj")
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"), unix_micros(col("cts")).as("click_ts_us"),
        unix_micros(col("pts")).as("purchase_ts_us"), col("p_value").as("purchase_value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  // --- q89: STREAMING event-time temporal join under the hash gate —
  //     Flink's `FOR SYSTEM_TIME AS OF`: clicks and purchases re-read as
  //     two watermarked file streams (q54's mtime trick), each click
  //     enriched with the LATEST purchase at-or-before it within a 2h
  //     staleness horizon. Spark-first: StreamingOps.temporalJoin is ONE
  //     flatMapGroupsWithState over the tagged union of both streams,
  //     keyed by user (StreamingOpsSpec pins semantics, exactly-once and
  //     the single state operator). A click is emitted once the global
  //     watermark (the min over the two streams) passes it: one far-future
  //     sentinel click+purchase (user -1, filtered from output) pushes the
  //     watermark past every real click, and the no-data batch AvailableNow
  //     runs after that advance emits them — the q54 end-of-stream pattern.
  //     Oracle: static argmax-per-click join.
  //
  //     q90 is the OUTER form (Flink's temporal LEFT join): clicks with no
  //     purchase in the horizon are kept with NULL version columns, emitted
  //     by the same watermark pass. Both run the one operator and share one
  //     staged layout. ---
  private def q89(s: SparkSession, dir: String): DataFrame = temporalQ(s, dir, outer = false)
  private def q90(s: SparkSession, dir: String): DataFrame = temporalQ(s, dir, outer = true)

  private val temporalHorizonMs = 7200000L // 2h staleness horizon
  private val temporalLatenessSec = 3600L

  private def temporalEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"), col("event_id"),
      timestamp_micros(expr("ts div 1000")).as("ets"), col("event_type"), col("value"))

  // one staged layout serves BOTH join modes (the sentinels ride in both)
  private def temporalStage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q89", dir) { in =>
      val e = temporalEvents(s, dir)
      e.orderBy("ets").write.mode("overwrite").parquet(in) // range-partitioned by ts
      val maxUs = e.agg(max(unix_micros(col("ets")))).head().getLong(0)
      // past lateness + horizon with a 2 min margin: the sentinel's
      // watermark advance passes every real click
      val sentUs = maxUs + (temporalLatenessSec * 1000L + temporalHorizonMs + 120000L) * 1000L
      def sentinel(tpe: String) =
        s.range(1).select(lit(-1L).as("user_id"), col("id").as("event_id"),
          timestamp_micros(lit(sentUs)).as("ets"), lit(tpe).as("event_type"),
          lit(0.0).as("value"))
      StreamFixtures.stageWithSentinel(in, sentinel("click").unionAll(sentinel("purchase")))
    }

  private def temporalQ(s: SparkSession, dir: String, outer: Boolean): DataFrame = {
    val st = StreamFixtures.arm(temporalStage(s, dir))
    val ss = StreamFixtures.streamSession(s)
    // uncapped: every real row and the sentinel land in one batch, whose
    // watermark advance the closing no-data batch turns into the emission
    // — two micro-batches in all. Batch boundaries between real files buy
    // nothing but per-batch planning + state-store checkpoints (the r17
    // profile's 0.5 s/batch).
    def side(tpe: String, pre: String) = ss.readStream.schema(temporalEvents(s, dir).schema)
      .parquet(st.in)
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"), col("event_id").as(s"${pre}_id"),
        col("ets").as(s"${pre}ts"), col("value").as(s"${pre}_value"))
    val joined = graft.streaming.StreamingOps.temporalJoin(
      side("click", "c").drop("c_value"), "cts",
      side("purchase", "p"), "pts",
      "c_user", "p_user", horizonMs = temporalHorizonMs,
      lateness = s"$temporalLatenessSec seconds",
      eCols = Seq("c_user", "c_id"), payload = Seq("p_value"), tieCols = Seq("p_id"),
      joinType = if (outer) "leftOuter" else "inner")
    StreamFixtures.drainToMemory(joined, "q89_tj")
      .where(col("c_user") >= 0) // drop the sentinel pair
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        unix_micros(col("cts")).as("click_ts_us"), col("p_id").as("version_id"),
        unix_micros(col("version_ts")).as("version_ts_us"),
        col("p_value").as("purchase_value"))
      .orderBy("user_id", "click_id")
  }

  // --- q41: CUBE grouping sets over orders (§2.5) ---
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.cube("o_orderstatus", "o_orderpriority")
      .agg(cnt.as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }
}
