package graft.queries

import graft.core.Memo
import graft.functions.hashes.portableHash60
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator inventory over the TPC-H-ish tables: aggregation,
  * filter/projection pushdown, broadcast + shuffle joins, semi/anti joins,
  * window functions, top-k, distinct, set ops, rollup, scalar functions,
  * JSON, sessionization, time windows, as-of join, range join.
  *
  * The reference engine has NO relational operators (SURVEY §2c) — its only
  * dataflow is generic map/shuffle/reduce. This module is the Spark-native
  * capability surface a user of the reference would gain, and every query
  * here is DuckDB-oracle-checked (driver t2 gate).
  *
  * Determinism rules (oracle hash-parity across engines):
  *  - money arithmetic in DECIMAL(18,2) (exact), cast to DOUBLE only at
  *    the output boundary — identical doubles in Spark and DuckDB;
  *  - every query has a total ORDER BY;
  *  - timestamps leave the engine as formatted strings (Spark reads the
  *    events table's ns timestamps as µs — raw values would differ);
  *  - averages computed as exact decimal sum / count in double division.
  */
object Relational {

  private val D = DecimalType(18, 2)
  private def d2(c: Column): Column = c.cast(D)
  /** Exact decimal sum, exported as double. */
  private def money(c: Column): Column = sum(d2(c)).cast("double")

  /** DECIMAL(38,0) → BIGINT with an EXPLICIT overflow guard. Spark's
    * non-ANSI cast silently NULLs on overflow where DuckDB's
    * HUGEINT→BIGINT cast raises — on a dense-enough graph (walk counts
    * grow like deg^T) the two engines would fail DIFFERENTLY. The guard
    * makes both fail loudly and identically: raise_error here, error()
    * in the oracle's mirrored CASE; in-range values are untouched.
    */
  private[graft] def boundedLong(c: Column, what: String): Column =
    when(c.between(Long.MinValue, Long.MaxValue), c.cast("long"))
      .otherwise(raise_error(
        concat(lit(s"$what overflows BIGINT: "), c.cast("string"))))

  /** The q175 walk chain as oracle CTEs (pe/e/adj/deg/s0..s4/walk) —
    * shared verbatim by the q175 and q179 oracles.
    */
  private def walkOracleCtes: String = {
    def step(k: Int): String =
      s"""s${k + 1} AS (
         |  SELECT s.seed, s.wno, a.dst AS node
         |  FROM s$k s JOIN deg d ON d.src = s.node
         |  JOIN adj a ON a.src = s.node AND a.idx =
         |    CAST(concat('0x', substr(md5(concat(
         |      CAST(s.seed AS VARCHAR), ':', CAST(s.wno AS VARCHAR),
         |      ':', '$k')), 1, 15)) AS BIGINT) % d.deg)""".stripMargin
    s"""pe AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM pe
       |      UNION ALL SELECT s AS src, c AS dst FROM pe),
       |adj AS (SELECT src, dst, row_number() OVER (
       |    PARTITION BY src ORDER BY dst) - 1 AS idx FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |s0 AS (SELECT node AS seed, wno, node
       |       FROM (SELECT DISTINCT src AS node FROM e),
       |            (VALUES (0), (1)) w(wno)),
       |${(0 until 4).map(step).mkString(",\n")},
       |walk AS (SELECT seed, wno, 0 AS step, node FROM s0
       |${(1 to 4).map(k =>
          s"  UNION ALL SELECT seed, wno, $k, node FROM s$k")
          .mkString("\n")})""".stripMargin
  }

  /** The oracle-side mirror of [[boundedLong]] over a SQL expression. */
  private[graft] def boundedLongSql(e: String, what: String): String =
    s"CASE WHEN $e BETWEEN -9223372036854775808 AND 9223372036854775807" +
      s" THEN CAST($e AS BIGINT) ELSE" +
      s" CAST(error('$what overflows BIGINT') AS BIGINT) END"

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01,
    "q02_filter_pushdown" -> q02,
    "q03_broadcast_join_agg" -> q03,
    "q04_shuffle_join_agg" -> q04,
    "q05_semi_join" -> q05,
    "q06_anti_join" -> q06,
    "q07_window_rank" -> q07,
    "q08_window_running" -> q08,
    "q09_topk" -> q09,
    "q10_distinct_agg" -> q10,
    "q11_setops" -> q11,
    "q12_rollup" -> q12,
    "q13_scalar_string_math" -> q13,
    "q14_scalar_date" -> q14,
    "q15_json_extract" -> q15,
    "q16_sessionize" -> q16,
    "q17_time_window" -> q17,
    "q18_asof_join" -> q18,
    "q19_range_join" -> q19,
    "q20_cube" -> q20,
    "q21_approx_distinct" -> q21,
    "q22_correlated_subquery" -> q22,
    "q23_grouping_sets" -> q23,
    "q24_pivot" -> q24,
    "q25_percentiles" -> q25,
    "q26_lateral_topk" -> q26,
    "q27_hash_sample" -> q27,
    "q28_window_frames" -> q28,
    "q29_skew_salted_join" -> q29,
    "q30_sliding_window" -> q30,
    "q31_setops_all" -> q31,
    "q32_date_arith" -> q32,
    "q33_full_outer_join" -> q33,
    "q34_zorder" -> q34,
    "q35_array_hof" -> q35,
    "q36_hll_portable" -> q36,
    "q37_cdc_upsert" -> q37,
    "q38_cms_heavy" -> q38,
    "q39_pagerank" -> q39,
    "q40_profile" -> q40,
    "q41_anomaly" -> q41,
    "q42_session_window" -> q42,
    "q43_incremental_agg" -> q43,
    "q44_tpch_q3" -> q44,
    "q45_tpch_q5" -> q45,
    "q46_analytic_fns" -> q46,
    "q47_funnel" -> q47,
    "q48_hits" -> q48,
    "q49_tpch_q10" -> q49,
    "q50_observe_metrics" -> q50,
    "q51_unpivot" -> q51,
    "q52_gaps_islands" -> q52,
    "q53_kmv_distinct" -> q53,
    "q54_triangles" -> q54,
    "q55_tpch_q18" -> q55,
    "q56_tpch_q7" -> q56,
    "q57_tpch_q21" -> q57,
    "q58_tpch_q14" -> q58,
    "q59_tpch_q8" -> q59,
    "q60_recursive_cte" -> q60,
    "q61_tpch_q2" -> q61,
    "q62_tpch_q4" -> q62,
    "q63_tpch_q6" -> q63,
    "q64_tpch_q9" -> q64,
    "q65_tpch_q11" -> q65,
    "q66_tpch_q12" -> q66,
    "q67_tpch_q13" -> q67,
    "q68_tpch_q15" -> q68,
    "q69_tpch_q16" -> q69,
    "q70_tpch_q17" -> q70,
    "q71_tpch_q19" -> q71,
    "q72_tpch_q20" -> q72,
    "q73_tpch_q22" -> q73,
    "q74_resample_ffill" -> q74,
    "q75_cohort_retention" -> q75,
    "q76_mad_outliers" -> q76,
    "q77_integrity_audit" -> q77,
    "q78_bfs_hops" -> q78,
    "q79_scd2" -> q79,
    "q80_zonemap_skip" -> q80,
    "q81_heavy_hitters" -> q81,
    "q82_kmv_setops" -> q82,
    "q83_ohlc_bars" -> q83,
    "q84_ivm_join" -> q84,
    "q85_native_topk" -> q85,
    "q86_twap" -> q86,
    "q87_skyline" -> q87,
    "q88_interval_join" -> q88,
    "q89_equidepth_hist" -> q89,
    "q90_mode" -> q90,
    "q91_join_fanout" -> q91,
    "q92_winsorize" -> q92,
    "q93_attribution" -> q93,
    "q94_pit_join" -> q94,
    "q95_drift" -> q95,
    "q96_decile_lift" -> q96,
    "q97_ema" -> q97,
    "q98_linear_attribution" -> q98,
    "q99_qdigest" -> q99,
    "q100_sssp" -> q100,
    "q101_benford" -> q101,
    "q102_markov" -> q102,
    "q103_ams" -> q103,
    "q104_cusum" -> q104,
    "q105_stratified" -> q105,
    "q106_basket_rules" -> q106,
    "q107_concomp" -> q107,
    "q108_rfm" -> q108,
    "q109_capped_cumsum" -> q109,
    "q110_topk_rewrite" -> q110,
    "q111_regression" -> q111,
    "q112_kcore" -> q112,
    "q113_fd_audit" -> q113,
    "q114_bitmap_index" -> q114,
    "q115_item_similarity" -> q115,
    "q116_seq_mining" -> q116,
    "q117_moving_median" -> q117,
    "q118_binary_seg" -> q118,
    "q119_interpolate" -> q119,
    "q120_weighted_median" -> q120,
    "q121_moving_mad" -> q121,
    "q122_drawdown" -> q122,
    "q123_gini" -> q123,
    "q124_hhi" -> q124,
    "q125_seasonality" -> q125,
    "q126_lag_features" -> q126,
    "q127_spatial_join" -> q127,
    "q128_active_users" -> q128,
    "q129_concurrency" -> q129,
    "q130_pareto" -> q130,
    "q131_dup_payments" -> q131,
    "q132_native_asof" -> q132,
    "q133_native_pit" -> q133,
    "q134_ab_test" -> q134,
    "q135_survival" -> q135,
    "q136_holt" -> q136,
    "q137_native_sessionize" -> q137,
    "q138_window_funnel" -> q138,
    "q139_sax" -> q139,
    "q140_prefix_topk" -> q140,
    "q141_rolling_ols" -> q141,
    "q142_time_to_convert" -> q142,
    "q143_native_asof_fwd" -> q143,
    "q144_assortativity" -> q144,
    "q145_forecast_eval" -> q145,
    "q146_ks_test" -> q146,
    "q147_fifo_allocation" -> q147,
    "q148_rev_recognition" -> q148,
    "q149_bitemporal" -> q149,
    "q150_holt_winters" -> q150,
    "q151_decayed_ltv" -> q151,
    "q152_mv_rewrite" -> q152,
    "q153_link_predict" -> q153,
    "q154_dtw" -> q154,
    "q155_auc" -> q155,
    "q156_closeness" -> q156,
    "q157_clustering" -> q157,
    "q158_pr_curve" -> q158,
    "q159_spearman" -> q159,
    "q160_matrix_profile" -> q160,
    "q161_eigencentrality" -> q161,
    "q162_harmonic" -> q162,
    "q163_katz" -> q163,
    "q164_betweenness" -> q164,
    "q165_wilson" -> q165,
    "q166_ppr" -> q166,
    "q167_calibration" -> q167,
    "q168_community" -> q168,
    "q169_hopplot" -> q169,
    "q170_kmv_setops" -> q170,
    "q171_hilbert" -> q171,
    "q172_isotonic" -> q172,
    "q173_ab_test" -> q173,
    "q174_ktruss" -> q174,
    "q175_random_walks" -> q175,
    "q176_removal_effect" -> q176,
    "q177_theilsen" -> q177,
    "q178_mann_kendall" -> q178,
    "q179_skipgram" -> q179,
    "q180_rsi" -> q180,
    "q181_stl_decompose" -> q181,
    "q182_did" -> q182,
    "q183_conformal" -> q183,
  )

  /** TPC-H Q1-style pricing summary: grouped exact-decimal aggregates with
    * map-side partial aggregation (HashAggregate x2 around one shuffle).
    */
  private def q01(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        money(col("l_quantity")).as("sum_qty"),
        money(col("l_extendedprice")).as("sum_base_price"),
        sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Filter + narrow projection — predicate and column pruning must reach
    * the parquet scan (asserted in PlanSpec).
    */
  private def q02(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") >= lit("1999-01-01") && col("l_quantity") < 5)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Star-join: fact lineitem joined to orders, then broadcast-joined up
    * the customer->nation->region dimension chain; revenue per region/nation.
    */
  private def q03(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Big-big shuffle join (lineitem x orders co-partitioned on orderkey). */
  private def q04(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        money(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Left-semi join (EXISTS): customers having at least one high-value
    * open order.
    */
  private def q05(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 450000 && col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no order above 400k. */
  private def q06(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"))
      .orderBy("c_custkey")
  }

  /** Ranking window: top-3 orders per customer by totalprice (orderkey as
    * deterministic tiebreak).
    */
  private def q07(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Running-frame window: cumulative exact-decimal sum + lag over each
    * user's event stream (event_id is the deterministic per-user order).
    */
  private def q08(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    e.select(
        col("user_id"), col("event_id"), col("event_type"),
        sum(d2(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_value"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .orderBy("user_id", "event_id")
  }

  /** Global top-k with total order. */
  private def q09(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  /** Distinct aggregation: exact count-distinct per group. */
  private def q10(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    c.groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_cust"),
        money(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** Set operations: (BUILDING ∪ MACHINERY nations) ∖ (nations of customers
    * with negative balance), plus an intersect — exercised as DataFrame
    * union/intersect/except.
    */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_nationkey"))
    val negative = c.filter(col("c_acctbal") < 0).select(col("c_nationkey"))
    building.union(machinery).distinct()
      .intersect(c.filter(col("c_acctbal") > 9000).select(col("c_nationkey")))
      .except(negative.filter(col("c_nationkey") > 20))
      .orderBy("c_nationkey")
  }

  /** Hierarchical aggregate: ROLLUP(returnflag, linestatus), null grouping
    * levels surfaced as 'ALL' for engine-portable output.
    */
  private def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(money(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Scalar string/math functions (codegen'd, no UDFs). */
  private def q13(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
    p.select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_up"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        length(col("p_name")).as("name_len"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        (d2(col("p_retailprice")) * lit(BigDecimal("1.1")).cast(DecimalType(2, 1)))
          .cast("double").as("price_bump"),
        abs(col("p_size") - 25).as("size_dist"))
      .orderBy("p_partkey")
  }

  /** Scalar date functions over timestamp columns. */
  private def q14(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"))
      .filter(col("yr") === 2000)
      .orderBy("o_orderkey")
  }

  /** JSON extraction from the events.props string column. */
  private def q15(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .filter(col("k_val") >= 50)
      .orderBy("event_id")
  }

  /** Sessionization: per-user sessions split on >30 min idle gaps (exact
    * epoch-microsecond arithmetic), then per-session aggregates. The same
    * semantics are exposed for streams in [[graft.streaming.EventStream]].
    */
  private def q16(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val gapped = e.select(
      col("user_id"), col("event_id"), col("ts"), col("value"),
      when(col("ts_ns") - lag(col("ts_ns"), 1).over(w)
             > 1800L * 1000000000L, 1).otherwise(0).as("is_new"))
    val sess = gapped.withColumn(
      "session_id", sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        money(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Tumbling 1-hour event-time window — the batch twin of the streaming
    * aggregation in [[graft.streaming.EventStream]].
    */
  private def q17(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("v"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("v"))
      .orderBy("bucket", "event_type")
  }

  /** As-of join — an operator Spark lacks natively (DuckDB: ASOF JOIN).
    * For each purchase event, the most recent click of the same user at or
    * before its timestamp. Composed Spark-first: union the two streams and
    * carry the last click forward with a running window (clicks sort before
    * purchases at equal ts to honor >=), avoiding any per-row range probe —
    * one shuffle on user_id, linear scan, scales to arbitrary stream
    * length.
    */
  private def q18(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val tagged = e.filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"), col("event_id"), col("ts_ns"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_purchase"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("is_purchase"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("click_id",
        last(when(col("is_purchase") === 0, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("click_id"))
      .orderBy("purchase_id")
  }

  /** Range (inequality) join against a tiny in-memory band dimension —
    * broadcast nested-loop on purpose; bands per order totals.
    */
  private def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val bands = Seq(
      ("b0_low", 0.0, 100000.0),
      ("b1_mid", 100000.0, 250000.0),
      ("b2_high", 250000.0, 400000.0),
      ("b3_top", 400000.0, 1e9)).toDF("band", "lo", "hi")
    o.join(broadcast(bands),
        o("o_totalprice") >= bands("lo") && o("o_totalprice") < bands("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), money(col("o_totalprice")).as("sum_price"))
      .orderBy("band")
  }

  /** Full CUBE over two dimensions (all four grouping levels). */
  private def q20(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))
      .orderBy("status", "priority")
  }

  /** Sketch aggregation: HyperLogLog++ approximate distinct gated as an
    * ACCURACY CONTRACT. The raw estimate is engine-private (DuckDB's HLL
    * differs), so the hash-gated columns are the exact count plus
    * `within_3rsd` — the sketch's documented guarantee (|err| ≤ 3·rsd =
    * 6% at rsd 0.02, a ≥ 99.7% bound that the DETERMINISTIC sketch
    * either always meets or never meets on a given corpus; measured
    * ≤ 1.03% on all three test SFs), checked by exact integer
    * cross-multiplication. The oracle asserts the contract holds
    * (TRUE), so a sketch regression — or an engine upgrade that breaks
    * the estimator — turns the entry hash-red. The raw estimate's
    * portable twin is q36 (bit-reproducible registers, value-gated);
    * AggregatesSpec additionally bounds this entry's raw error.
    */
  private def q21(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (col("approx_parts") * 100 >= col("exact_parts") * 94 &&
          col("approx_parts") * 100 <= col("exact_parts") * 106)
          .as("within_3rsd"))
      .orderBy("l_returnflag")
  }

  /** Portable HyperLogLog: approximate-distinct with DETERMINISTIC
    * registers — the md5-prefix hash assigns (bucket, rank), so the
    * sketch and its raw estimator are bit-reproducible in any engine,
    * unlike [[q21]]'s engine-private HLL++ (which stays as the native
    * formulation; this is its hash-gated twin). b=8 bits -> m=256
    * registers; rank = leading-zero count of the 52 post-bucket hash bits
    * plus one.
    *
    * The raw estimator E = alpha_m * m^2 / sum_j 2^(-r_j) is computed in
    * exact integer arithmetic scaled by 2^rmax (sum of long powers —
    * order-independent), with ONE long->double conversion, one constant
    * multiply by an exact power of two, and one IEEE division — both
    * engines produce the identical double. The small/large-range
    * correction branches need ln(), whose libm rounding is
    * engine-specific; the raw estimator is the portable core, and its
    * small-cardinality bias is the documented HLL one (the exact count
    * rides along for reference).
    */
  // alpha_256 * 256^2, rendered ONCE via Double.toString (shortest
  // round-trip form) and parsed back to the identical double by both
  // engines — the constant never multiplies cross-engine
  private val q36AlphaM2: String =
    ((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0).toString

  private def q36(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val alphaM2 = q36AlphaM2
    val regs = li
      .select(col("l_returnflag").as("flag"),
        portableHash60(col("l_partkey").cast("string")).as("h"))
      .withColumn("rest", expr("h div 256"))
      .withColumn("rank", when(col("rest") === 0, lit(53))
        .otherwise(lit(53) - length(bin(col("rest")))))
      .groupBy(col("flag"), expr("h % 256").as("bucket"))
      .agg(max("rank").as("r"))
    val sketch = regs.groupBy("flag")
      .agg(max("r").as("rmax"), count(lit(1)).as("nhit"),
        collect_list(col("r")).as("rs"))
      // empty registers contribute 2^0 each: scaled by 2^rmax that is
      // (m - nhit) * 2^rmax, folded into the same exact-integer sum
      .withColumn("s", expr(
        "aggregate(rs, CAST(0 AS BIGINT), (acc, r) -> " +
          "acc + shiftleft(CAST(1 AS BIGINT), CAST(rmax - r AS INT))) + " +
          "(256 - nhit) * shiftleft(CAST(1 AS BIGINT), CAST(rmax AS INT))"))
      .withColumn("hll_estimate",
        expr(s"($alphaM2 * power(2.0, CAST(rmax AS DOUBLE))) / CAST(s AS DOUBLE)"))
    val exact = li.groupBy(col("l_returnflag").as("flag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    sketch.join(exact, "flag")
      .select(col("flag").as("l_returnflag"), col("nhit").as("n_buckets_hit"),
        col("hll_estimate"), col("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** 2024-01-16T00:00:00Z — mid-span of the events table's fixed January
    * window at every SF, so both the snapshot and the delta are non-empty.
    */
  private val q37CutoffNs = 1705363200L * 1000000000L

  /** CDC upsert (last-writer-wins merge with tombstones): the events feed
    * is split into a base snapshot (ts < cutoff) and a delta batch; each
    * side folds to one state row per key, and the MERGE is
    * `greatest(base_state, delta_state)` on a (ts_ns, event_id, …) struct
    * — struct comparison is lexicographic, so the newer writer wins with a
    * total, deterministic tiebreak. 'error' events are tombstones: a key
    * whose merged state is an error is deleted from the output.
    *
    * Scale shape: both sides reduce via groupBy(max(struct)) — partial
    * aggregation (map-side combine) collapses each partition to one row
    * per local key BEFORE the exchange, unlike a row_number window which
    * must shuffle and sort every event. The full-outer merge joins two
    * already-hash-partitioned-on-user_id sides, so it adds no exchange.
    * This is the standard compact-a-changelog shape: state size O(keys),
    * shuffle O(partitions × keys), never O(events).
    *
    * The oracle states the SEMANTICS (global latest-event rule over the
    * union) rather than the incremental plan — the two agree exactly
    * because the cutoff makes every delta timestamp newer than every
    * snapshot timestamp, which is the merge's correctness argument.
    */
  private def q37(spark: SparkSession, dir: String): DataFrame = {
    // rank at µs precision: the oracle engine's epoch_ns truncates parquet
    // TIMESTAMP(NANOS) to µs, so sub-µs digits must not influence the
    // winner (event_id breaks any same-µs tie deterministically)
    val e = Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    def latest(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max(struct(col("ts_us"), col("event_id"),
          col("event_type"), col("value"))).as("s"))
    val snap = latest(e.filter(col("ts_ns") < q37CutoffNs))
    val delta = latest(e.filter(col("ts_ns") >= q37CutoffNs))
    snap.withColumnRenamed("s", "bs")
      .join(delta.withColumnRenamed("s", "ds"), Seq("user_id"), "full_outer")
      .select(col("user_id"), greatest(col("bs"), col("ds")).as("s"))
      .filter(col("s.event_type") =!= "error")
      .select(col("user_id"),
        col("s.event_type").as("last_type"),
        col("s.value").as("last_value"),
        col("s.ts_us").as("last_ts_us"))
      .orderBy("user_id")
  }

  /** Count-Min sketch heavy hitters — the second portable sketch next to
    * q36's HyperLogLog: d=4 hash rows × w=256 counters, every counter an
    * EXACT integer and every hash the md5-prefix construction, so the
    * whole sketch (and the estimates read from it) is bit-identical in
    * any engine. The CMS guarantee est ≥ true (collisions only ADD) is
    * property-tested; the min over the 4 rows bounds the overshoot.
    *
    * Scale shape: the sketch build is ONE partial aggregation into d×w =
    * 1024 keys — per-executor partial sketches merge associatively
    * (counter-wise sum), which is exactly what CMS is FOR at 100 TB:
    * stream it, shard it, merge it; memory is the 1024-cell grid however
    * many billions of items flow through. The heavy-hitter threshold is a
    * data-derived 1-row scalar (9/10 of the max key frequency), and the
    * verify side joins only candidate keys × 4 probe cells.
    */
  private def q38(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val items = li.select(col("l_partkey").as("key"))
    def bucket(r: Int, k: Column): Column =
      portableHash60(concat(lit(s"cms:$r:"), k.cast("string"))) % 256
    val rows = 0 until 4
    def cellsOf(df: DataFrame): DataFrame =
      df.withColumn("c", explode(array(rows.map(r =>
          struct(lit(r).as("r"), bucket(r, col("key")).as("b"))): _*)))
        .select(df.columns.map(col) :+ col("c.r") :+ col("c.b"): _*)
    val sketch = cellsOf(items).groupBy("r", "b").agg(count(lit(1)).as("cnt"))
    val counts = items.groupBy("key").agg(count(lit(1)).as("n_true"))
    val thresh = counts.agg(expr("(max(n_true) * 9) div 10").as("t"))
    val heavy = counts.crossJoin(broadcast(thresh))
      .filter(col("n_true") >= col("t")).select("key", "n_true")
    cellsOf(heavy).join(sketch, Seq("r", "b"))
      .groupBy("key", "n_true")
      .agg(min(col("cnt")).as("cms_est"))
      .orderBy("key")
  }

  /** PageRank (authority scoring) over the customer↔supplier trade graph
    * — the web-crawl curation primitive that weights pages by host
    * authority, expressed on this schema as "who trades with important
    * partners". Edges are the DISTINCT (customer, supplier) pairs joined
    * through orders×lineitem, taken in BOTH directions so every node in
    * the graph has outdegree (no dangling-mass correction needed); nodes
    * live in one id space (customer → 2k, supplier → 2k+1).
    *
    * Every iteration is EXACT integer arithmetic on ranks scaled by 1e9:
    * r'(v) = floor(0.15·1e9/N) + floor(0.85·Σ_{u→v} floor(r_u/deg_u))
    * with floor division throughout — bit-identical in any engine, which
    * a float PageRank (order-dependent double sums) can never be. Five
    * fixed iterations, like the oracle's unrolled CTE chain.
    *
    * Scale shape: the rank vector and the edge list stay distributed —
    * each iteration is one join (ranks ⋈ edges on src, both sides
    * hash-partitioned the same way after the first iteration) and one
    * partial-agg groupBy(dst); nothing is collected. Five iterations =
    * five bounded shuffles of O(nodes + edges). Degrees are computed once
    * and carried WITH the rank row, so the per-iteration join is binary,
    * not ternary. The same loop shape as [[graft.operators.Dedup]]'s
    * label propagation; fixed depth, so no per-iteration checkpoint is
    * needed (lineage stays 5 joins deep).
    */
  private def q39(spark: SparkSession, dir: String): DataFrame = {
    // the graph is materialized ONCE (tradeEdges localCheckpoints): edges
    // feed every iteration's join and deg every iteration's rebuild —
    // without the checkpoint each of the 5 iterations re-runs the
    // orders⋈lineitem edge derivation (the duplicateClusters lesson)
    val edges = tradeEdges(spark, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nNodes = deg.count() // bounded: one count of the node list
    require(nNodes > 0,
      "q39_pagerank: the orders⋈lineitem trade graph is empty — no nodes to rank")
    val scale = 1000000000L
    val teleport = (scale * 15L / 100L) / nNodes
    var ranks = deg.select(col("src").as("node"), col("deg"),
      lit(scale / nNodes).as("rank"))
    for (_ <- 0 until 5) {
      val contrib = ranks
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("rank div deg").as("share"))
        .groupBy("dst")
        .agg(sum(col("share")).as("inflow"))
      ranks = deg.join(contrib, col("src") === col("dst"), "left")
        .select(col("src").as("node"), col("deg"),
          (lit(teleport) +
            expr("(85 * coalesce(inflow, 0)) div 100")).as("rank"))
    }
    ranks
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("node_id"),
        col("rank").as("rank_scaled"))
      .orderBy("node_type", "node_id")
  }

  /** Column profiling — the ingest-QA operator every pipeline runs before
    * trusting a new drop: per numeric column, counts/nulls/min/max/exact
    * distinct plus a 10-bucket equi-width histogram. Money columns are
    * taken to exact cents first, so the bucket boundary arithmetic is ALL
    * INTEGER (`((x−min)·10) div (max−min+1)` — a float-ratio floor can
    * straddle a ULP differently per engine; an integer div cannot).
    *
    * Scale shape: everything derives from ONE per-(column, value) count
    * table — a single scan explodes each row into C (column, value)
    * structs and partial-aggs them, so the only exchange carries the
    * DISTINCT values per column (~2k rows here), not data. Stats
    * (total/nulls/min/max/distinct) and the histogram are then two tiny
    * aggregations of that table; raw rows are never touched again. The
    * two rejected shapes both measured ~4 s at sf0.1: a per-column scan
    * loop (2·C full passes), and a single multi-`countDistinct` agg —
    * Catalyst plans C distinct aggregates as Expand(C+1 copies) + a
    * dedup aggregate KEYED ON ALL C COLUMNS, which shuffles ~5× the
    * table. For a genuinely high-cardinality column the value table
    * degrades to the column's cardinality — the price ANY exact distinct
    * pays — while min/max/counts stay partial-agg cheap.
    */
  private def q40(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val long = li.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        (d2(col(c)) * 100).cast("bigint").as("xc"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.xc").as("xc"))
    // materialize the tiny value table eagerly: TWO consumers (stats +
    // histogram) would otherwise each re-run the corpus scan — the
    // differing parent aggregates defeat ReuseExchange, exactly the
    // ta_lm_score lesson. ~cardinality rows, so the checkpoint is free.
    val vcounts = long.groupBy("col_name", "xc").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val stats = vcounts.groupBy("col_name").agg(
      sum("n").cast("long").as("n_total"),
      sum(when(col("xc").isNull, col("n")).otherwise(0L)).cast("long")
        .as("n_null"),
      min("xc").as("min_cents"),
      max("xc").as("max_cents"),
      sum(when(col("xc").isNotNull, 1L).otherwise(0L)).cast("long")
        .as("n_distinct"))
    vcounts.filter(col("xc").isNotNull)
      .join(broadcast(stats), "col_name")
      .withColumn("bucket",
        expr("((xc - min_cents) * 10) div (max_cents - min_cents + 1)")
          .cast("int"))
      .groupBy("col_name", "bucket", "n_total", "n_null", "min_cents",
        "max_cents", "n_distinct")
      .agg(sum(col("n")).cast("long").as("n_bucket"))
      .select("col_name", "bucket", "n_bucket", "n_total", "n_null",
        "min_cents", "max_cents", "n_distinct")
      .orderBy("col_name", "bucket")
  }

  /** Volume-anomaly flags: hours whose event count exceeds the per-type
    * mean by 3σ. The z-score test is cross-multiplied into EXACT integer
    * arithmetic — `n > μ + 3σ  ⇔  (n·H − S) > 0 ∧ (n·H − S)² > 9·(H·S₂ −
    * S²)` where S/S₂ are the per-type count sums over H observed hours —
    * so no float mean, variance, or sqrt exists anywhere and the flags
    * are bit-identical in any engine. (μ, σ are over OBSERVED hours;
    * zero-event hours are absent by definition of the groupBy. Counters
    * fit int64 through ~10⁹ events/hour; past that the same identity runs
    * in decimal.)
    *
    * Scale shape: hourly buckets are a partial-agg groupBy (map-side
    * combine); the 5-row per-type stats table broadcasts back into the
    * bucket stream. Two bounded shuffles, no window over raw events.
    */
  /** The flag stage of q41 over an (event_type, bucket, n) hourly-count
    * frame — factored out so the STREAMING twin (st_anomaly) can apply
    * the identical exact-integer test inside foreachBatch.
    */
  def anomalyFlags(hourly: DataFrame): DataFrame = {
    val stats = hourly.groupBy("event_type").agg(
      count(lit(1)).as("h"), sum("n").as("s"),
      sum(col("n") * col("n")).as("s2"))
    hourly.join(broadcast(stats), "event_type")
      .withColumn("dev", col("n") * col("h") - col("s"))
      .withColumn("is_anomaly",
        (col("dev") > 0 &&
          col("dev") * col("dev") > lit(9L) * (col("h") * col("s2") - col("s") * col("s")))
          .cast("int"))
      .select("event_type", "bucket", "n", "is_anomaly")
  }

  private def q41(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e.groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"))
      .agg(count(lit(1)).as("n"))
    anomalyFlags(hourly).orderBy("event_type", "bucket")
  }

  /** Sessionization via the BUILT-IN session_window operator — the same
    * merge-by-gap semantics q16 derives with lag/cumsum windows, but
    * planned as Spark's native UpdatingSessions/MergingSessions physical
    * operators (the exact operator Structured Streaming uses for session
    * state, here in batch). Boundary rule, MEASURED (the r15 boundary
    * fuzz planted two events exactly 30 min apart): session_window
    * MERGES at exactly-gap spacing — the session's end (last event +
    * gap) is inclusive for the merge test — so the oracle's split test
    * is `gap > 30 min`, the same convention as q16's hand-rolled rule.
    * (The pre-r15 oracle asserted a split at equality; nothing before
    * the fuzz ever landed on the measure-zero boundary to notice.)
    *
    * Scale shape: one hash exchange on user_id, then per-key local sort
    * + merge — identical shuffle volume to q16's window formulation; the
    * native operator fuses the gap detection and the aggregation in one
    * pass instead of lag + running-sum + groupBy.
    */
  private def q42(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), money(col("value")).as("session_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")
  }

  /** Incremental materialized-view maintenance: a per-type (count, sum)
    * aggregate is kept as BASE state (events before the cutoff, already
    * aggregated) and refreshed with a DELTA batch by merging partial
    * states — count adds, exact-decimal sum adds — instead of
    * re-scanning history. This is the algebraic-aggregate property the
    * whole engine leans on (partial aggregation, mergeable sketches),
    * surfaced as the nightly-refresh operator a 100 TB pipeline runs:
    * the base table is O(groups) no matter how much history it
    * summarizes, the delta scan is O(new events), and the merge is a
    * full-outer join of two O(groups) sides.
    *
    * The oracle states the SEMANTICS — the same aggregate over the full
    * union — which the incremental path must reproduce exactly; exact
    * decimal sums make the merge associative to the last bit (float sums
    * would drift under regrouping).
    */
  private def q43(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def agg(df: DataFrame): DataFrame =
      df.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(d2(col("value"))).as("v")) // decimal: merge-exact
    val base = agg(e.filter(col("ts_ns") < q37CutoffNs))
    val delta = agg(e.filter(col("ts_ns") >= q37CutoffNs))
    base.select(col("event_type"), col("n").as("bn"), col("v").as("bv"))
      .join(delta.select(col("event_type"), col("n").as("dn"), col("v").as("dv")),
        Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("bv"), lit(BigDecimal(0)).cast(D)) +
          coalesce(col("dv"), lit(BigDecimal(0)).cast(D)))
          .cast("double").as("v"))
      .orderBy("event_type")
  }

  /** TPC-H Q3 (shipping priority), adapted to this schema
    * (o_orderpriority for the absent o_shippriority): segment-filtered
    * customer ⋈ orders ⋈ lineitem, revenue-ranked top 10. The benchmark
    * shape this exercises: Catalyst must push both date filters to their
    * scans, join the two filtered fact sides on their keys, and take a
    * deterministic top-k (exact-decimal revenue; o_orderdate + orderkey
    * break ties totally). At 100 TB orders⋈lineitem is the real shuffle;
    * customer is the broadcast side.
    */
  private def q44(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      // factors cast to decimal BEFORE the multiply (the q01 pattern):
      // a double product cast to decimal can land on a midpoint the two
      // engines round apart (observed: one cent at sf0.1)
      .agg(sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 (local supplier volume): the six-table join — customer ⋈
    * orders ⋈ lineitem ⋈ supplier (on BOTH the line's supplier key and
    * the customer-nation = supplier-nation "local" condition) ⋈ nation ⋈
    * region — revenue per nation inside one region-year. The join-order
    * showcase: Catalyst reorders around the two tiny dimensions
    * (broadcast), the equi-join on nationkey pairs prunes the fact join,
    * and the exact-decimal revenue keeps the answer engine-identical.
    */
  private def q45(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    val l = Tables.load(spark, dir, "lineitem")
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
      .filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Distribution analytic functions — ntile / percent_rank / cume_dist
    * over each order-priority's price ranking: the quantile-bucketing and
    * relative-standing primitives (SQL:2003 window family) the ranking
    * windows (q07/q28) don't cover. The order key includes o_orderkey, so
    * every rank is unique and percent_rank = (rank−1)/(n−1) and
    * cume_dist = rank/n are single divisions of exact integers —
    * engine-portable like every ratio in this suite.
    *
    * Scale: one hash exchange on the partition key, then each partition
    * sorts locally — same cost envelope as any ranking window. ntile's
    * bucket arithmetic and both ratios are pure per-row integer math over
    * the partition's row count.
    */
  private def q46(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Ordered event funnel — signup → view → click → purchase, each stage
    * the FIRST event of its type strictly after the previous stage's
    * completion time (the product-analytics conversion funnel; strictness
    * at equal microseconds is the documented tie rule, identical on both
    * engines). Emits per-user stage timestamps (epoch µs — exact integer
    * comparisons, no timestamp formatting in the hot path) and the stage
    * count reached; later stages are null once a stage is missed, so
    * `stage_reached` counts a prefix, exactly like the funnel charts it
    * feeds.
    *
    * Scale shape: each stage is a conditional-filter partial aggregate
    * keyed by user_id, and every join is user_id ⋈ user_id — one hash
    * partitioning reused across the whole chain (stage frames are
    * O(users), far below the event count). Nothing is windowed over the
    * full event stream and nothing broadcasts beyond what AQE picks.
    */
  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
    def stage(prev: DataFrame, prevCol: String, typ: String, out: String) =
      ev.join(prev.select(col("user_id"), col(prevCol)), "user_id")
        .filter(col("event_type") === typ && col("ts_us") > col(prevCol))
        .groupBy("user_id").agg(min(col("ts_us")).as(out))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("t_signup"))
    val t2 = stage(t1, "t_signup", "view", "t_view")
    val t3 = stage(t2, "t_view", "click", "t_click")
    val t4 = stage(t3, "t_click", "purchase", "t_purchase")
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .join(t4, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1) + col("t_view").isNotNull.cast("int")
          + col("t_click").isNotNull.cast("int")
          + col("t_purchase").isNotNull.cast("int")).as("stage_reached"))
      .orderBy("user_id")
  }

  /** TPC-H Q10 (returned-item reporting) adapted to this schema: the top
    * 20 customers by revenue lost to returns in one quarter — customer ⋈
    * orders (quarter window) ⋈ lineitem (returnflag = 'R') ⋈ nation.
    * The canonical "find the problem accounts" shape: two fact filters
    * pushed to the scans, the date window pruning orders BEFORE the join,
    * nation broadcast, exact-decimal revenue (the q01 factor pattern),
    * TakeOrdered top-20.
    */
  private def q49(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val n = Tables.load(spark, dir, "nation")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Unpivot (melt) — the inverse of q24's pivot and the missing half of
    * the reshape pair: the four lineitem measures go long as (metric,
    * value) rows, the form metric stores and chart layers ingest. Uses
    * Spark's native `unpivot` (Catalyst Expand — one projection per
    * measure in a single scan pass, zero shuffle, like the rollup/cube
    * family), windowed to one ship month so the driver artifact stays
    * bounded. Values pass through untouched (no arithmetic — bit-exact by
    * construction); the oracle is the portable UNION ALL form.
    */
  private def q51(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-02-01"))
    l.unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }

  /** Pipeline-embedded data-quality metrics via `Dataset.observe`
    * (Catalyst's CollectMetrics node) — production pipelines attach
    * row-count / sum / null-count assertions to a scan and read them off
    * the SAME pass that computes the real result: the metrics cost ZERO
    * extra scans (vs a separate profiling query like q40). Here the
    * "real work" is the q01-style returnflag aggregate; the observation
    * rides on the lineitem scan and is harvested from
    * `queryExecution.observedMetrics` after the action. Exported as one
    * row (exact counts + one exact-decimal sum → double) next to the
    * downstream group count, so the oracle can replay it as plain
    * aggregates.
    */
  private def q50(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val observed = Tables.load(spark, dir, "lineitem")
      .observe("graft_metrics",
        count(lit(1)).as("n_rows"),
        sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").isNull.cast("long")).as("n_null_price"))
    // the metrics surface on the EXECUTED dataset's queryExecution — a
    // derived action (count()) builds its own plan and the parent's
    // observedMetrics stays empty (observed zeros, caught by the oracle)
    val result = observed.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    // count(DISTINCT) semantics like the oracle: a NULL-returnflag group
    // is a result row but not a distinct value
    val nGroups = result.collect().count(!_.isNullAt(0)).toLong
    val m = result.queryExecution.observedMetrics("graft_metrics")
    // boxed passthrough for the sums: on an EMPTY table observe's sum is
    // NULL and the oracle's SQL sum is NULL too — don't unbox a fake 0.0
    spark.createDataFrame(
      java.util.List.of(Row(m.get(m.fieldIndex("n_rows")),
        m.get(m.fieldIndex("sum_qty")),
        m.get(m.fieldIndex("n_null_price")), nGroups)),
      StructType(Seq(
        StructField("n_rows", LongType, nullable = false),
        StructField("sum_qty", DoubleType, nullable = true),
        StructField("n_null_price", LongType, nullable = true),
        StructField("n_groups", LongType, nullable = false))))
  }

  /** HITS hubs & authorities (Kleinberg) over the directed customer →
    * supplier trade graph — the dual of q39's PageRank: a supplier is
    * authoritative when good hubs buy from it, a customer is a good hub
    * when it buys from authoritative suppliers. Three mutual-reinforcement
    * iterations; scores are int64 fixed-point (scale 10⁶) and each half-
    * step renormalizes by the max via FLOOR DIVISION — the l∞ analogue of
    * the usual l2 normalization, chosen because it keeps every score an
    * exact integer (sqrt is not engine-portable). Scores stay ≤ 10⁶, so
    * the renormalization product is ≤ 10⁶·Σh < 2^63 up to ~10⁶-degree
    * nodes; beyond that the DECIMAL(38,0) widening is mechanical.
    *
    * Scale shape: per iteration exactly two key-partitioned joins and two
    * partial-agg groupBys over the O(edges) list (never the raw fact
    * tables — the edge derivation is checkpointed once, the q39 lesson);
    * the max is a 1-row broadcast. Nothing node- or edge-sized ever
    * reaches the driver.
    */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val edges = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
      .localCheckpoint(true)
    require(!edges.isEmpty,
      "q48_hits: the orders⋈lineitem trade graph is empty — no nodes to score")
    val scale = 1000000L
    var h = edges.select(col("c")).distinct().withColumn("h", lit(scale))
    var a: DataFrame = null
    for (_ <- 0 until 3) {
      // materialize each node-sized half-step ONCE: the max scalar and the
      // renormalization both consume it, and without the checkpoint every
      // iteration re-derives the whole prior chain for each consumer
      // (observed 6.7 s → the per-iteration cost is two small joins again)
      val aRaw = edges.join(h, "c").groupBy("s").agg(sum(col("h")).as("ar"))
        .localCheckpoint(true)
      a = aRaw.crossJoin(broadcast(aRaw.agg(max(col("ar")).as("am"))))
        .select(col("s"), expr(s"ar * $scale div am").as("a"))
      val hRaw = edges.join(a, "s").groupBy("c").agg(sum(col("a")).as("hr"))
        .localCheckpoint(true)
      h = hRaw.crossJoin(broadcast(hRaw.agg(max(col("hr")).as("hm"))))
        .select(col("c"), expr(s"hr * $scale div hm").as("h"))
    }
    h.select(lit("customer").as("node_type"), col("c").as("node_id"),
        col("h").as("score_scaled"))
      .unionByName(a.select(lit("supplier").as("node_type"),
        col("s").as("node_id"), col("a").as("score_scaled")))
      .orderBy("node_type", "node_id")
  }

  /** The q48 oracle: the three HITS iterations unrolled to chained CTEs
    * (the bpeMergeCtes pattern), each half-step the same sum + max-floor-
    * div renormalization.
    */
  private def q48Sql: String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (
             |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e)""".stripMargin
    for (i <- 1 to 3) {
      sb ++= s""",
                |a${i}r AS (SELECT s, CAST(sum(h) AS BIGINT) AS ar
                |        FROM e JOIN h${i - 1} USING (c) GROUP BY 1),
                |a$i AS (SELECT s, ar * 1000000 // (SELECT max(ar) FROM a${i}r) AS a
                |        FROM a${i}r),
                |h${i}r AS (SELECT c, CAST(sum(a) AS BIGINT) AS hr
                |        FROM e JOIN a$i USING (s) GROUP BY 1),
                |h$i AS (SELECT c, hr * 1000000 // (SELECT max(hr) FROM h${i}r) AS h
                |        FROM h${i}r)""".stripMargin
    }
    sb ++= """
             |SELECT 'customer' AS node_type, c AS node_id, h AS score_scaled FROM h3
             |UNION ALL
             |SELECT 'supplier' AS node_type, s AS node_id, a AS score_scaled FROM a3
             |ORDER BY node_type, node_id""".stripMargin
    sb.result()
  }

  private val q22Sql =
    """SELECT c_custkey, c_nationkey, c_acctbal
      |FROM customer c1
      |WHERE c_acctbal > (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** Correlated scalar subquery through the SQL interface — Catalyst
    * decorrelates it into an aggregate + join; the subquery average is
    * exact-decimal so the threshold comparison is engine-deterministic.
    */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(q22Sql)
  }

  private val q23Sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      | coalesce(l_linestatus, 'ALL') AS linestatus,
      | CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
      | CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY returnflag, linestatus""".stripMargin

  /** GROUPING SETS with grouping() indicators — the general form of
    * rollup/cube (q12/q20): exactly the requested grouping levels, nothing
    * else. Via the SQL interface (the DataFrame API exposes only
    * rollup/cube); Catalyst expands it into one Expand + one aggregate.
    */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q23Sql)
  }

  /** Pivot: order counts per priority spread over status columns. The
    * explicit value list keeps the schema static (no extra pass to discover
    * values, and a plan that scales: pivot is one partial-agg groupBy).
    * Missing combinations surface as 0, matching the oracle's FILTER form.
    */
  private def q24(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")
  }

  /** Exact percentiles (sort-based percentile_cont semantics, linear
    * interpolation) per group. Interpolated doubles are rounded to 6
    * decimals on both sides: prices carry 2 decimals and interpolation
    * fractions 2 more, so 6 decimals is exact — it only absorbs the
    * engines' last-bit FP differences.
    */
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("o_orderpriority")
  }

  private val q26Sql =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c.c_custkey < 500
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 orders per
    * customer) — Catalyst decorrelates the limit into a partitioned
    * window, so it executes as one shuffle, not a per-row probe.
    */
  private def q26(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(q26Sql)
  }

  /** Deterministic stratified Bernoulli sample: bucket rows by the
    * engine-portable hash of the key, keep a per-stratum share of buckets.
    * Unlike rand()-based sampling this is reproducible across engines,
    * retries and cluster sizes — the form a training pipeline uses to cut
    * datasets — and it's a pure scan-stage filter (no shuffle at all).
    */
  private def q27(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val bucket = pmod(portableHash60(col("o_orderkey").cast("string")), lit(100))
    val rate = when(col("o_orderstatus") === "O", 10)
      .when(col("o_orderstatus") === "F", 5)
      .otherwise(50)
    o.filter(bucket < rate)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Window frame varieties beyond q07/q08: a value-RANGE running sum
    * (peers included, so no tiebreak needed), a 3-row sliding mean
    * (decimal sum / count in double), lead and first_value over a
    * tiebroken ROWS ordering.
    */
  private def q28(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val wRange = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice")).rangeBetween(-10000L, 0L)
    val wRows = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wSlide = wRows.rowsBetween(-2, 0)
    o.select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        sum(d2(col("o_totalprice"))).over(wRange).cast("double").as("range_sum"),
        (sum(d2(col("o_totalprice"))).over(wSlide).cast("double")
          / count(lit(1)).over(wSlide)).as("mov_avg"),
        lead(col("o_totalprice"), 1).over(wRows).as("next_price"),
        first_value(col("o_orderkey")).over(wRows).as("first_key"))
      .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
  }

  /** The salted skew join as an end-to-end checked query: salting only
    * refines the shuffle partitioning (the hot key spreads over
    * [[graft.operators.Skew.saltedJoin]]'s sub-keys), so the result must
    * equal the plain join — which is exactly what the oracle runs.
    */
  private def q29(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    graft.operators.Skew.saltedJoin(o, c, "custkey", salts = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), money(col("o_totalprice")).as("sum_price"))
      .orderBy("c_nationkey")
  }

  /** Sliding event-time windows (2 h length, 1 h slide): each event lands
    * in two overlapping windows. Spark's `window()` generates the window
    * set per row before the partial aggregation, so shuffle volume is
    * O(groups), not O(events x overlap); the oracle replays the overlap
    * by unioning the k in {0,1} back-shifted hour buckets.
    */
  private def q30(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("v"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("v"))
      .orderBy("bucket", "event_type")
  }

  /** Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) — the
    * multiplicity-preserving complement of q11's distinct set ops.
    * Counts per key at the end make the multiset observable.
    */
  private def q31(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select("c_nationkey")
    val negative = c.filter(col("c_acctbal") < 0).select("c_nationkey")
    building.intersectAll(machinery).exceptAll(negative)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** Date arithmetic beyond q14's field extraction: offsets, day spans,
    * month boundaries — all exported as formatted strings (the only
    * engine-portable date representation).
    */
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
    o.select(
        col("o_orderkey"),
        date_format(col("d"), "yyyy-MM-dd").as("d_str"),
        date_format(date_add(col("d"), 30), "yyyy-MM-dd").as("plus30"),
        datediff(lit("2001-01-01").cast("date"), col("d")).as("days_to_2001"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("month_end"),
        date_format(trunc(col("d"), "month"), "yyyy-MM-dd").as("month_start"))
      .orderBy("o_orderkey")
  }

  /** Full outer join — the one join shape q03-q19 don't cover: both
    * unmatched sides survive with nulls (normalized to 0 counts so the
    * outer-ness is observable in the checked output). The high-balance
    * filters make the two grouped sides genuinely asymmetric.
    */
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer").filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
    val s = Tables.load(spark, dir, "supplier").filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
    c.join(s, col("nk_c") === col("nk_s"), "full_outer")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** Z-order (Morton) clustering key: interleave the low 10 bits of two
    * dimension keys so that sorting by the single zval co-locates rows
    * close in BOTH dimensions — the standard multi-dimensional layout for
    * min/max-stat file skipping (`repartitionByRange($"zval")` +
    * `sortWithinPartitions` before the write; [[graft.operators.Layout]]
    * holds the single-dimension variants). Pure bit arithmetic, engine
    * portable; checked output is per-bucket occupancy so the curve itself
    * is what's verified.
    */
  private def q34(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val x = (col("l_partkey") % 1024).cast("bigint")
    val y = (col("l_suppkey") % 1024).cast("bigint")
    val zv = (0 until 10).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    li.select(zv.as("zval"))
      .groupBy(shiftright(col("zval"), 14).as("zbucket"))
      .agg(count(lit(1)).as("n"), min(col("zval")).as("zmin"),
        max(col("zval")).as("zmax"))
      .orderBy("zbucket")
  }

  /** Higher-order array functions as a query surface: per-order sorted
    * price array (exact integer cents) processed with aggregate / filter /
    * exists / forall / element_at — the array side of the scalar-function
    * library. Every derived value is integer-exact, and because the array
    * is sorted the oracle can reproduce each one with plain SQL aggregates
    * (first = min, last = max) — checking that the HOF pipeline computes
    * exactly what the relational algebra says it should.
    */
  private def q35(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val cents = (d2(col("l_extendedprice")) * 100).cast("bigint")
    li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(cents)).as("cs"))
      .select(
        col("l_orderkey"),
        size(col("cs")).as("n_items"),
        aggregate(col("cs"), lit(0L), (a, x) => a + x).as("total_cents"),
        size(filter(col("cs"), x => x > 10000000L)).as("n_over_100k"),
        exists(col("cs"), x => x % 2 === 0).cast("int").as("has_even"),
        forall(col("cs"), x => x > 0).cast("int").as("all_positive"),
        (element_at(col("cs"), 1) + element_at(col("cs"), size(col("cs"))))
          .as("min_plus_max"))
      .orderBy("l_orderkey")
  }

  /** Gaps-and-islands over INTERVALS (q16/q42 sessionize over points):
    * each event holds a 5-minute lease [ts, ts+300s); overlapping or
    * touching leases per user merge into maximal islands. The island
    * boundary is `ts > running max of all PRIOR lease ends` — the running
    * max (not lag of the end, which misses an early long lease swallowing
    * later short ones) is the part plain sessionize gets wrong on true
    * interval data (maintenance windows, locks, meetings).
    *
    * Scale: one window partitioned by user_id — q16's exact shuffle
    * envelope; per-user streams are human-bounded. All arithmetic is
    * exact integer nanoseconds on µs-quantized inputs ([[Tables.events]]
    * truncates ts_ns to µs multiples — the oracle's timestamp precision —
    * so the raw ns values this query emits match the oracle).
    */
  private def q52(spark: SparkSession, dir: String): DataFrame = {
    val leaseNs = 300L * 1000000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        (col("ts_ns") + leaseNs).as("end_ns"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val prevEnd = max(col("end_ns"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = e.withColumn(
      "is_new", when(prevEnd.isNull || col("ts_ns") > prevEnd, 1).otherwise(0))
    marked
      .withColumn("island",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ns")).as("start_ns"),
        max(col("end_ns")).as("end_ns"))
      .withColumn("covered_ns", col("end_ns") - col("start_ns"))
      .orderBy("user_id", "island")
  }

  /** KMV (k-minimum-values / bottom-k) distinct-count sketch — the third
    * portable cardinality sketch next to q36's HLL and q38's CMS, and the
    * one whose sketch is also a uniform SAMPLE of the distinct values
    * (the basis of distinct-sampling joins). Estimator (Beyer et al.):
    * with h_k the k-th smallest of the distinct 60-bit hashes,
    * est = (k-1)·2^60 / h_k; if fewer than k distinct hashes exist the
    * exact count is the answer.
    *
    * Engine parity: (k-1)·2^60 = 255·2^60 is EXACTLY representable as a
    * double (8-bit mantissa · power of two), h_k→double is the same
    * round-to-nearest in both engines, and the estimate is that one IEEE
    * division — the single-division discipline of ta_bm25/q41.
    *
    * Scale: distinct-hash build is one partial-agg shuffle; the bottom-k
    * is TakeOrdered (per-partition heaps, no global sort). The exact
    * distinct count rides the SAME distinct exchange (ReuseExchange —
    * both consumers share the subtree), so truth-vs-estimate costs one
    * scan. At 100 TB you'd drop the truth column — the sketch is the
    * point — and merge per-partition bottom-k sets instead.
    */
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val two60d = lit(1152921504606846976L).cast("double")
    val dh = Tables.load(spark, dir, "lineitem")
      .select(portableHash60(col("l_orderkey").cast("string")).as("h"))
      .distinct()
    val bottom = dh.orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("n_k"), max(col("h")).as("kth_hash"))
    val truth = dh.agg(count(lit(1)).as("true_distinct"))
    bottom.crossJoin(truth)
      .select(
        lit(k).as("k"),
        col("kth_hash"),
        when(col("n_k") < k, col("true_distinct").cast("double"))
          .otherwise(lit((k - 1).toDouble) * two60d /
            col("kth_hash").cast("double"))
          .as("est_distinct"),
        col("true_distinct"))
  }

  /** Triangle counting with degree-ordered edge orientation (the
    * Schank–Wagner / Latapy discipline) on the nation-level trade
    * backbone: an undirected edge joins two nations whose cross-border
    * trade volume is at least the mean edge volume (integer
    * cross-multiplied threshold, q41's no-float-stats rule). Each
    * undirected edge is oriented from its (degree, id)-smaller endpoint,
    * so every triangle is counted exactly once and the wedge join is
    * bounded by sum of C(out-degree, 2) — out-degrees are O(sqrt(m))
    * under this orientation regardless of skew, which is what makes the
    * same plan survive an unbounded node set (user graphs, domain
    * graphs). Output is per-nation triangle participation.
    *
    * Scale: the heavy stage is the 4-table join + two-level partial
    * aggregation down to <=300 nation-pair rows; everything after runs on
    * the bounded backbone (localCheckpointed — ~300 rows — so the
    * scalar-threshold and edge branches don't re-execute the fact join).
    */
  /** q54's nation-level trade backbone (edges at ≥ mean volume) —
    * factored so the sparsity gauge measures the SAME frame the query
    * consumes; bounded by C(25, 2) nation pairs regardless of corpus.
    */
  private def q54Backbone(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val und = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(
        least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val thr = und.agg(sum(col("w")).as("sw"), count(lit(1)).as("ne"))
    und.crossJoin(thr)
      .filter(col("w") * col("ne") >= col("sw"))
      .select("a", "b")
  }

  private def q54(spark: SparkSession, dir: String): DataFrame = {
    val edges = q54Backbone(spark, dir)
    val deg = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge from the (deg, id)-smaller endpoint
    val da = deg.select(col("node").as("a"), col("deg").as("dega"))
    val db = deg.select(col("node").as("b"), col("deg").as("degb"))
    val oriented = edges.join(da, "a").join(db, "b")
      .select(
        when(col("dega") < col("degb") ||
             (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val e1 = oriented.select(col("src").as("x"), col("dst").as("y"))
    val e2 = oriented.select(col("src").as("x2"), col("dst").as("z"))
    // e1 x e2 emits BOTH orderings of each out-neighbour pair {y,z}; the
    // closer join matches only the oriented direction y->z, so each
    // triangle (x->y, x->z, y->z) surfaces exactly once.
    val wedges = e1.join(e2, col("x") === col("x2") && col("y") =!= col("z"))
      .select(col("x"), col("y"), col("z"))
    val closer = oriented.select(col("src").as("cs"), col("dst").as("cd"))
    val tri = wedges.join(closer,
      col("y") === col("cs") && col("z") === col("cd"))
      .select("x", "y", "z")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("nationkey"))
      .groupBy("nationkey").agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("nationkey"))
  }

  /** TPC-H Q18 (large-volume customer): orders whose total quantity
    * exceeds the threshold, top-100 by order value. The quantity HAVING
    * filter runs as a partial-agg groupBy BEFORE any dimension join, so
    * only qualifying orders (a few percent) ever touch orders/customer —
    * the aggregate-then-join ordering is the point of the shape; customer
    * is broadcast. Threshold 230 (the generator's line-count/quantity
    * distribution puts ~2% of orders above it at every SF).
    */
  private def q55(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(d2(col("l_quantity"))).as("sum_qty_d"))
      .filter(col("sum_qty_d") > 230)
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        d2(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("sum_qty_d").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q7 (volume shipping): revenue between a two-nation pair, both
    * directions, by ship year. The symmetric nation predicate is the
    * interesting part — a naive plan joins nation twice into the fact and
    * filters at the top; this one pushes each nation filter INTO its
    * dimension (suppliers and customers are pre-restricted to the two
    * nations before touching lineitem/orders), so the fact scan joins
    * against dimensions a broadcast can carry.
    *
    * Scale: lineitem⋈orders is the one big hash shuffle (both filtered —
    * lineitem by pushed shipdate range, orders by the semi-filtered
    * customer side); the nation-restricted supplier dim broadcasts; the
    * pair filter runs on 2×2 nation combinations post-join. Exact-decimal
    * revenue, double only at the end (q45's discipline).
    */
  private def q56(spark: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_1", "NATION_2")
    val n = Tables.load(spark, dir, "nation")
      .filter(col("n_name").isin(na, nb))
    val s = Tables.load(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.load(spark, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
    val o = Tables.load(spark, dir, "orders")
    l.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q21 (suppliers who kept orders waiting) — the double-correlated
    * EXISTS / NOT EXISTS shape, the hardest standard decorrelation test:
    * late lineitems of multi-supplier 'F' orders where the supplier is the
    * ONLY late one. Expressed through the SQL interface so CATALYST does
    * the decorrelation (RewritePredicateSubquery → one LeftSemi + one
    * LeftAnti join on l_orderkey — pinned in PlanSpec), not hand-rolled
    * joins. "Late" adapts the reference predicate to this schema's
    * columns: shipped more than 60 days after the order date (the
    * l_receiptdate/l_commitdate pair doesn't exist here).
    *
    * Scale: the `late` set is computed once per reference (CTE), the
    * semi/anti joins hash-shuffle on l_orderkey — same key, so AQE reuses
    * the exchange layout; the 10-ish-column supplier dim broadcasts into
    * the final count.
    */
  private val q57Sql =
    """WITH late AS (
      |  SELECT l.l_orderkey, l.l_suppkey
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderstatus = 'F'
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |SELECT s.s_name, count(*) AS numwait
      |FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |              WHERE l3.l_orderkey = l1.l_orderkey
      |                AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  private def q57(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "supplier")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q57Sql)
  }

  /** TPC-H Q14 (promo revenue), by ship month over a year: the
    * conditional-aggregate ratio shape — promo revenue over total revenue
    * in ONE aggregation pass (no second scan, no self-join). Both sums
    * are exact decimal; the share is one IEEE double division (the q53
    * single-division discipline).
    *
    * Scale: part broadcasts into the shipdate-pruned lineitem scan; one
    * partial-agg shuffle into 12 month keys.
    */
  private def q58(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
    val p = Tables.load(spark, dir, "part")
    val vol = d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount")))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg((sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0)))
        .cast("double") / sum(vol).cast("double")).as("promo_share"))
      .orderBy("ship_month")
  }

  /** TPC-H Q8 (national market share): NATION_1's share of PROMO-part
    * volume delivered into ASIA customers, by order year — the deepest
    * standard join tree on this schema (lineitem ⋈ part ⋈ supplier ⋈
    * orders ⋈ customer ⋈ nation×2 ⋈ region). Every dimension restriction
    * is pushed INTO its dimension before the fact join: parts filtered to
    * PROMO, customers semi-reduced to the ASIA region via nation⋈region —
    * so all dimension sides broadcast and the only shuffle is
    * lineitem ⋈ orders. The share is the q58 conditional-aggregate ratio.
    */
  private def q59(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part").filter(col("p_type") === "PROMO")
    val n1 = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val s = Tables.load(spark, dir, "supplier")
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n2 = Tables.load(spark, dir, "nation")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val c = Tables.load(spark, dir, "customer")
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select("c_custkey")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.load(spark, dir, "lineitem")
    val vol = d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount")))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_1", vol).otherwise(lit(0)))
        .cast("double") / sum(vol).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE) — the hierarchy-walk shape
    * (org chart, bill-of-materials, category tree): every document's
    * ancestor chain under the deterministic parent rule
    * `parent(n) = n div 2` down to the root, aggregated to depth, path
    * checksum, and node count per doc. The SQL text is dialect-neutral
    * (`(node - node % 2) / 2` is exact integral division in both
    * engines) and serves as the oracle verbatim, like q57.
    *
    * Scale: each iteration is one join-free projection + filter over the
    * previous frontier (every node has ONE parent, so the frontier never
    * grows — total rows = docs × O(log maxId)); recursion depth is
    * log₂(max doc_id), far under Spark's recursion limit. A cyclic or
    * multi-parent graph would instead need the bounded-frontier BFS of
    * q39/q48 — documented, not hidden.
    */
  private val q60Sql =
    """WITH RECURSIVE anc AS (
      |  SELECT doc_id, doc_id AS node, 0 AS steps FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST((node - node % 2) / 2 AS BIGINT) AS node,
      |         steps + 1
      |  FROM anc WHERE node > 0)
      |SELECT doc_id, CAST(max(steps) AS INTEGER) AS depth,
      |  CAST(sum(node) AS BIGINT) AS path_sum,
      |  CAST(count(*) AS BIGINT) AS n_nodes
      |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def q60(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    q60OverView(spark)
  }

  /** The recursive walk over whatever `documents` view is registered —
    * factored so the spec can plant a corpus that provably exceeds
    * Spark's DEFAULT recursion-row tripwire.
    *
    * Spark 4 guards recursive CTEs with a 1 M-row default
    * (spark.sql.cteRecursionRowLimit) — a runaway-recursion tripwire,
    * not a semantic bound. This recursion provably terminates (node
    * strictly halves, total rows = docs × log₂ maxId — LINEAR in the
    * corpus), but the default already fails at the 10× probe corpus
    * (50 k docs × ~24 levels > 1 M; caught by the sf1 full-roster
    * bench). Raise the tripwire to the config's Int ceiling (~2³¹
    * rows); the LEVEL limit (default 100) stays as the real runaway
    * guard for a non-terminating recursion.
    */
  private[graft] def q60OverView(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
    spark.sql(q60Sql)
  }

  // ---- TPC-H completion wave (round 9): the 13 remaining query shapes ----
  // Adapted to this reduced schema: no partsupp table (supply facts derive
  // from lineitem), no l_commitdate/l_receiptdate (lateness measured as
  // shipdate vs orderdate), no p_container/o_comment/c_phone (stand-in
  // columns noted per query). Numbering: q61=Q2, q62=Q4, q63=Q6, q64=Q9,
  // q65=Q11, q66=Q12, q67=Q13, q68=Q15, q69=Q16, q70=Q17, q71=Q19,
  // q72=Q20, q73=Q22 — with q01/q44/q45/q49/q55/q56/q57/q58/q59 this
  // covers all 22 TPC-H query shapes.

  /** TPC-H Q2 (minimum-cost supplier): the correlated-scalar-min shape.
    * The supply relation (partsupp stand-in) is each supplier's minimum
    * exact-decimal offer price per part observed in lineitem. Expressed
    * through the SQL interface so Catalyst decorrelates the per-part min
    * into an aggregate + join (the q22/q57 discipline); identical text is
    * the oracle. Scale: supply is one partial-agg groupBy of lineitem; the
    * correlated min becomes a second aggregate on the SAME (region-
    * restricted) supply — both keyed by partkey, so AQE shares the
    * exchange layout; dims broadcast. */
  private val q61Sql =
    """WITH supply AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |eu_supply AS (
      |  SELECT su.partkey, su.suppkey, su.cost
      |  FROM supply su, supplier s, nation n, region r
      |  WHERE s.s_suppkey = su.suppkey AND s.s_nationkey = n.n_nationkey
      |    AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE')
      |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
      |       CAST(su.cost AS DOUBLE) AS cost
      |FROM part p, eu_supply su, supplier s, nation n
      |WHERE p.p_partkey = su.partkey AND s.s_suppkey = su.suppkey
      |  AND p.p_size = 15 AND p.p_type = 'SMALL'
      |  AND s.s_nationkey = n.n_nationkey
      |  AND su.cost = (SELECT min(su2.cost) FROM eu_supply su2
      |                 WHERE su2.partkey = p.p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  private def q61(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part", "supplier", "nation", "region")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q61Sql)
  }

  /** TPC-H Q4 (order-priority checking): EXISTS over the fact — counts
    * orders in one quarter having ANY lineitem shipped >30 days after the
    * order date ("late" per the q57 adaptation; l_commitdate doesn't exist
    * here). Catalyst rewrites the EXISTS to a LeftSemi on l_orderkey; the
    * quarter filter is pushed to the orders scan. Identical SQL is the
    * oracle. */
  private val q62Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private def q62(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q62Sql)
  }

  /** TPC-H Q6 (forecasting-revenue change): the pure scan-side query — a
    * one-year shipdate range, a decimal discount band, a quantity cap, ONE
    * exact-decimal product sum, no join anywhere. Every predicate lands in
    * the parquet scan (shipdate/quantity as PushedFilters); the aggregate
    * is a 1-row partial agg. The roster's measure of raw scan + filter
    * throughput. */
  private def q63(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("0.03").cast(D)
    val hi = lit("0.07").cast(D)
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01") &&
        col("l_quantity") < 24 &&
        d2(col("l_discount")).between(lo, hi))
      .agg(sum(d2(col("l_extendedprice")) * d2(col("l_discount")))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q9 (product-type profit): profit per red-named part line =
    * revenue − cost, by supplier nation and order year. Cost adapts the
    * missing ps_supplycost as half the part's retail price × quantity.
    * Portability: the two terms are summed as SEPARATE exact decimals
    * (vol and retail·qty are each one decimal product; a fused
    * vol − 0.5·retail·qty chain would exceed DECIMAL(38) and round
    * differently per engine) and combined as `sum_vol − 0.5·sum_cost` in
    * doubles — ×0.5 is an exponent shift and the subtraction is one IEEE
    * op, so both engines agree bit-for-bit.
    * Scale: part (name-filtered) and supplier⋈nation broadcast;
    * lineitem⋈orders is the only shuffle; partial aggs on (nation, year). */
  private def q64(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_name").like("%red%"))
      .select("p_partkey", "p_retailprice")
    val n = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name"))
    val s = Tables.load(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("n_name"))
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    val vol = d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount")))
    val cost = d2(col("p_retailprice")) * d2(col("l_quantity"))
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg((sum(vol).cast("double") - lit(0.5) * sum(cost).cast("double"))
        .as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 (important stock): per-part traded value through ASIA-region
    * suppliers, kept where the part's share exceeds 2× the average part
    * share — the group-vs-global-scalar HAVING shape. TPC-H scales Q11's
    * fixed fraction by 1/SF because any constant threshold empties (or
    * floods) under data growth; comparing against the average share is the
    * scale-free equivalent (the measured share tail: max ≈ 2.8–3.6× and
    * p99 ≈ 2.3× average at every SF, so 2× keeps the top ~1%). The
    * compare runs in exact integer CENTS (value·n_parts > 2·total — decimal×decimal here would exceed
    * DECIMAL(38) and round differently per engine). Scale: value table is
    * one partial-agg groupBy(partkey); total and part count are a 1-row
    * aggregate broadcast back (cross join against a scalar, the q53/q54
    * convention); nothing corpus-sized moves twice. */
  private def q65(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables.load(spark, dir, "nation")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("s_nk"))
    val s = Tables.load(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey")
    val value = Tables.load(spark, dir, "lineitem")
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(d2(col("l_extendedprice"))).as("value_d"))
      .withColumn("value_c", (col("value_d") * lit(100)).cast("bigint"))
    val total = value.agg(sum(col("value_c")).as("total_c"),
      count(lit(1)).as("np"))
    value.join(broadcast(total))
      .filter(col("value_c") * col("np") > lit(2L) * col("total_c"))
      .select(col("p_partkey"), col("value_d").cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q12 (shipping modes / priority): l_shipmode doesn't exist, so
    * the mode classes are shipping-delay bands (FAST ≤15d, REGULAR ≤45d,
    * SLOW beyond — datediff is exact integer days on these midnight
    * timestamps). Per band: high- vs low-priority order counts as ONE
    * conditional aggregation (no second scan). Scale: one lineitem⋈orders
    * shuffle, 3-key partial agg. */
  private def q66(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(delay <= 15, "FAST").when(delay <= 45, "REGULAR")
        .otherwise("SLOW").as("delay_band"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("delay_band")
  }

  /** TPC-H Q13 (customer order-count distribution): customers LEFT JOIN
    * their orders (excluding '4-NOT SPECIFIED' priority — the o_comment
    * stand-in), per-customer order count, then the histogram of those
    * counts. The double-aggregation shape: customers with zero matching
    * orders MUST survive as c_count=0 (count(o_orderkey) over the null-
    * extended rows). Scale: one outer-join shuffle on custkey, then an
    * O(distinct counts) second agg. */
  private def q67(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    Tables.load(spark, dir, "customer").select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    * max — the scalar-max-subquery shape. The equality filter runs on the
    * EXACT decimal revenue (a double-rounded compare could tie-break
    * differently per engine); doubles only in the output. Scale: revenue
    * is one partial-agg groupBy(suppkey) over the pruned scan; the max is
    * a 1-row aggregate broadcast back; supplier dim broadcasts into the
    * surviving row(s). */
  private def q68(spark: SparkSession, dir: String): DataFrame = {
    val vol = d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount")))
    val rev = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(vol).as("rev_d"))
    val top = rev.agg(max(col("rev_d")).as("max_d"))
    val s = Tables.load(spark, dir, "supplier").select("s_suppkey", "s_name")
    rev.join(broadcast(top)).filter(col("rev_d") === col("max_d"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_d").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 (parts/supplier relationship): distinct suppliers per
    * (brand, type, size) over the lineitem-derived supply pairs, excluding
    * a brand and low-standing suppliers (s_acctbal < 500 stands in for the
    * complaints comment filter) via an anti join. Scale: the pair set is
    * one DISTINCT partial agg of two fact columns; the excluded-supplier
    * side is tiny and broadcast; count(DISTINCT) expands inside one
    * aggregate, no extra scan. */
  private def q69(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey").distinct()
    val bad = Tables.load(spark, dir, "supplier")
      .filter(col("s_acctbal") < 500).select("s_suppkey")
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    pairs
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q17 (small-quantity-order revenue): lines of one brand+type
    * whose quantity is below 20% of the part's average — the correlated-
    * average shape, cross-multiplied into ALL-INTEGER arithmetic
    * (5·qty·count < sum; l_quantity values are integral, so BIGINT is
    * exact — a float 0.2·avg compare is not engine-portable). The per-part
    * stats CTE is the decorrelated aggregate both engines would emit;
    * identical SQL is the oracle. The /7.0 is one IEEE division at the
    * boundary. */
  private val q70Sql =
    """WITH pq AS (
      |  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sq,
      |         count(*) AS cq
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |       / 7.0 AS avg_yearly
      |FROM lineitem, part, pq
      |WHERE p_partkey = l_partkey AND pk = p_partkey
      |  AND p_brand = 'Brand#1' AND p_type = 'ECONOMY'
      |  AND 5 * CAST(l_quantity AS BIGINT) * cq < sq""".stripMargin

  private def q70(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q70Sql)
  }

  /** TPC-H Q19 (discounted revenue, disjunctive predicates): three
    * brand/size/quantity OR-branches spanning both join sides — the
    * predicate-pushdown stress shape (p_container doesn't exist; p_size
    * bands stand in). Catalyst's CNF conversion extracts the part-only
    * disjunction (brand ∈ {1,2,3}) below the join so the broadcast build
    * side is pre-filtered; the mixed residual evaluates post-join. One
    * exact-decimal sum. */
  private def q71(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
      .select("p_partkey", "p_brand", "p_size")
    val q = col("l_quantity")
    val branch =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        q.between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
        q.between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        q.between(20, 30))
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(sum(d2(col("l_extendedprice")) * (lit(1).cast(D) - d2(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q20 (potential part promotion): suppliers in a region who moved
    * serious volume (>50 units in 1997) of any red-named part — the
    * nested-IN / HAVING shape (ps_availqty doesn't exist; the volume
    * threshold stands in for the half-of-availqty rule). Catalyst turns
    * both INs into LeftSemi joins; the inner HAVING is a partial agg on
    * (suppkey, partkey). Identical SQL is the oracle. */
  private val q72Sql =
    """SELECT s_name, s_acctbal
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part
      |                        WHERE p_name LIKE 'red%')
      |      AND l_shipdate >= TIMESTAMP '1997-01-01'
      |      AND l_shipdate < TIMESTAMP '1998-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CAST(l_quantity AS BIGINT)) > 50)
      |ORDER BY s_name""".stripMargin

  private def q72(spark: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "nation", "region", "lineitem", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q72Sql)
  }

  /** TPC-H Q22 (global sales opportunity): customers with above-average
    * positive balances and NO recent orders, grouped by nation (the phone-
    * prefix stand-in). The above-average compare is cross-multiplied exact
    * decimal (bal·count > sum — a float avg is not engine-portable); the
    * NOT EXISTS becomes a LeftAnti on o_custkey. Identical SQL is the
    * oracle. Scale: the balance stats are a 1-row scalar; the anti join is
    * the only shuffle. */
  private val q73Sql =
    """WITH stats AS (
      |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, count(*) AS c
      |  FROM customer WHERE c_acctbal > 0.0),
      |rich AS (
      |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer, stats
      |  WHERE CAST(c_acctbal AS DECIMAL(18,2)) * c > s)
      |SELECT n_name, count(*) AS numcust, CAST(sum(bal) AS DOUBLE) AS totacctbal
      |FROM rich JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private def q73(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "nation", "orders")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q73Sql)
  }

  /** Time-series resample + forward fill: each user's event stream
    * regularized onto a 1-hour grid between their first and last active
    * hour, empty hours carrying the last observed value forward — the
    * gap-filling shape every metrics/feature pipeline needs before
    * windowed models. Hour keys are exact integer µs-quantized epoch
    * divisions; the per-hour representative is the LAST event by
    * (ts_ns, event_id) — a deterministic total order, not an arbitrary
    * `first()`.
    *
    * Scale: the grid explode is bounded per user (span hours, never
    * corpus-sized); the dedup window, the span aggregate, and the fill
    * window all partition by user_id — one reused hash partitioning,
    * q16's shuffle envelope. `sequence()` ranges are span-bounded; a
    * pathological multi-year straggler user would cap the range first
    * (documented, not hidden).
    */
  private def q74(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("value"),
        expr(s"ts_ns div $hourNs").as("h"))
    val lastInHour = Window.partitionBy("user_id", "h")
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    val obs = e.withColumn("rn", row_number().over(lastInHour))
      .filter(col("rn") === 1)
      .select(col("user_id").as("ou"), col("h").as("oh"),
        col("value").as("v_obs"))
    val grid = e.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1")))
        .as("hour_idx"))
    val fill = Window.partitionBy("user_id").orderBy("hour_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(obs, col("user_id") === col("ou") && col("hour_idx") === col("oh"),
        "left_outer")
      .select(col("user_id"), col("hour_idx"),
        last(col("v_obs"), ignoreNulls = true).over(fill).as("value"),
        col("v_obs").isNotNull.cast("int").as("is_observed"))
      .orderBy("user_id", "hour_idx")
  }

  /** Cohort retention: users grouped by first-activity day, activity
    * counted per (cohort, day offset), with each row's share of its
    * cohort's day-0 size — the product-analytics retention triangle.
    * retention_pct is ONE IEEE division of two exact integer counts
    * (the q53 single-division discipline).
    *
    * Scale: first-activity is a partial-agg groupBy(user); the join back
    * reuses the user_id partitioning; the retention matrix is
    * O(cohorts × offsets) — the cohort-size window runs on that bounded
    * aggregate, never on raw events.
    */
  private def q75(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("d"))
    val first = e.groupBy("user_id").agg(min("d").as("cohort_day"))
    val matrix = e.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val perCohort = Window.partitionBy("cohort_day")
    matrix
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_users"))).over(perCohort))
      .withColumn("retention_pct",
        col("n_users").cast("double") / col("cohort_size").cast("double"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Robust (median/MAD) outlier profile per event type — the q41 3σ
    * rule's heavy-tail-safe sibling (a single extreme value drags a mean
    * and explodes a variance; the median and the median absolute
    * deviation ignore it). ALL decisions are exact integer arithmetic:
    * values quantize to cents, medians are taken over DOUBLED integers so
    * the even-count midpoint is itself an integer (every interpolation
    * product is exact in ANY formula order — engines disagree only in the
    * last ulp of inexact interpolation, so make interpolation exact), and
    * the flag rule |v−med| > 3·MAD cross-multiplies to 2·d2 > 3·mad4.
    * The friendly double columns are single divisions at the boundary.
    *
    * Scale: exact percentile() collects each GROUP's values — fine for
    * enum-sized event_type keys; a high-cardinality key switches to
    * approx_percentile with this exact form as the oracle-checked
    * baseline (the dd_ngram_jaccard convention).
    */
  private def q76(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("bigint").as("v_c"))
    val med = e.groupBy("event_type")
      .agg(expr("CAST(percentile(2 * v_c, 0.5) AS BIGINT)").as("med2"))
    val d = e.join(broadcast(med), "event_type")
      .withColumn("d2", abs(col("v_c") * 2 - col("med2")))
    val mad = d.groupBy(col("event_type").as("mt"))
      .agg(expr("CAST(percentile(2 * d2, 0.5) AS BIGINT)").as("mad4"))
    d.join(broadcast(mad), col("event_type") === col("mt"))
      .groupBy("event_type")
      .agg(
        max(col("med2")).as("med2"),
        max(col("mad4")).as("mad4"),
        sum(when(col("d2") * 2 > col("mad4") * 3, 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        (col("med2").cast("double") / 200.0).as("median_value"),
        (col("mad4").cast("double") / 400.0).as("mad"),
        col("n_outliers"), col("n"))
      .orderBy("event_type")
  }

  /** One foreign-key relationship audited to a single summary row — the
    * shared kernel of q77. The child side is reduced to per-key counts
    * FIRST (one partial-agg shuffle keyed by the FK), so the integrity
    * join carries distinct keys, never child rows; one full-outer join
    * against the distinct parent keys then yields orphans (child side
    * unmatched), null-key rows, and unreferenced parents in a single
    * pass. No broadcast hint: the key tables are what AQE sizes, and
    * dimension-sided audits broadcast on their own.
    */
  private def auditOne(label: String, child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame = {
    val kc = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("n"))
    val pks = parent.select(col(pk).as("pk")).distinct()
    kc.join(pks, col("k") === col("pk"), "full_outer")
      .agg(
        sum(coalesce(col("n"), lit(0L))).as("child_rows"),
        count(when(col("k").isNotNull && col("n").isNotNull, 1)).as("child_keys"),
        sum(when(col("k").isNull && col("n").isNotNull, col("n")).otherwise(0L))
          .as("null_keys"),
        sum(when(col("k").isNotNull && col("pk").isNull, col("n")).otherwise(0L))
          .as("orphan_rows"),
        count(when(col("k").isNotNull && col("n").isNotNull && col("pk").isNull, 1))
          .as("orphan_keys"),
        count(when(col("pk").isNotNull, 1)).as("parent_keys"),
        count(when(col("pk").isNotNull && col("n").isNull, 1))
          .as("unref_parent_keys"))
      .select(lit(label).as("relationship"),
        col("child_rows"), col("child_keys"), col("null_keys"),
        col("orphan_rows"), col("orphan_keys"),
        col("parent_keys"), col("unref_parent_keys"),
        // NULL (not NaN) on an empty child: Spark's 0.0/0.0 is NaN while
        // the oracle's CASE yields NULL — guard both sides identically
        when(col("child_rows") > 0,
          (col("child_rows") - col("null_keys") - col("orphan_rows"))
            .cast("double") / col("child_rows").cast("double"))
          .as("match_pct"))
  }

  /** Referential-integrity / coverage audit — the data-contract check a
    * pipeline runs on every new drop before joining anything: for each
    * declared FK edge of the star schema, orphaned child rows/keys,
    * NULL keys, and parents nothing references, plus the matched-row
    * share (ONE IEEE division of exact counts, q53's discipline).
    *
    * Scale: each audit reduces the child table to its distinct-FK count
    * table before any join (the exchange carries keys, not rows), so the
    * seven audits cost seven partial-agg scans + key-sized joins; the
    * seven 1-row summaries union driver-free. A healthy drop shows zero
    * orphans — the query's value is that a BROKEN drop shows exactly
    * where and how much.
    */
  private def q77(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.load(spark, dir, n)
    val audits = Seq(
      auditOne("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey",
        t("orders"), "o_orderkey"),
      auditOne("lineitem.l_partkey->part", t("lineitem"), "l_partkey",
        t("part"), "p_partkey"),
      auditOne("lineitem.l_suppkey->supplier", t("lineitem"), "l_suppkey",
        t("supplier"), "s_suppkey"),
      auditOne("orders.o_custkey->customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey"),
      auditOne("customer.c_nationkey->nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey"),
      auditOne("supplier.s_nationkey->nation", t("supplier"), "s_nationkey",
        t("nation"), "n_nationkey"),
      auditOne("nation.n_regionkey->region", t("nation"), "n_regionkey",
        t("region"), "r_regionkey"))
    audits.reduce(_.unionByName(_)).orderBy("relationship")
  }

  /** The un-materialized trade-graph PLAN — the canonical lineage key
    * (it names BOTH source tables, orders and lineitem) that
    * [[tradeEdges]] and [[memoizedWalks]] memoize on. Never executed
    * directly: consumers go through the memo so the orders⋈lineitem
    * derivation runs once per (session, dir).
    */
  private def tradeEdgesPlan(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The customer/supplier trade graph shared by the whole graph family
    * (q39/q78/q144/q156/q157/q161/q162/q163/q164/q166/q169, LPA, the
    * walk corpus): undirected bipartite edges between customers (even
    * node ids) and suppliers (odd) that traded, derived from
    * orders⋈lineitem ONCE PER SESSION per dir via the in-session memo
    * ([[graft.core.Memo]] — the walk-corpus/imageTable
    * discipline, promoted family-wide per the r12 verdict: eleven
    * consumers were each re-running the fact join + distinct). The memo
    * key is the un-executed [[tradeEdgesPlan]], so a DIFFERENT dir (or a
    * changed source table lineage) builds its own graph; in-session
    * only — no cross-run state.
    */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val plan = tradeEdgesPlan(spark, dir)
    // Partition ONCE by src at build — the Pregel discipline. Every
    // iterative consumer joins `frontier/ranks ⋈ edges ON node = src`;
    // localCheckpoint PRESERVES physical partitioning (LogicalRDD keeps
    // outputPartitioning), so each of the family's ~30 per-iteration
    // joins co-locates on the stored layout and only the O(V) rank/
    // frontier side ever moves. Without this the edge side's placement
    // is arbitrary and each iteration either reshuffles all O(E) edges
    // or flaps on an AQE broadcast decision — the sf1 probe measured the
    // SAME q161 iteration at 3.3 s or 36.5 s depending on which way it
    // fell. At 100 TB this is the difference between per-iteration
    // message passing and per-iteration graph movement.
    Memo("trade_edges", plan)(
      plan.repartition(spark.sessionState.conf.numShufflePartitions,
        col("src")))
  }

  /** The node list of an edge frame, memoized per edge lineage — three
    * centrality consumers (closeness, harmonic, Brandes seeds) each need
    * the same distinct-src shuffle.
    */
  private def graphNodes(edges: DataFrame): DataFrame =
    Memo("graph_nodes", edges)(
      edges.select(col("src").as("node")).distinct())

  /** The shared K=8-seed, 8-hop, σ-carrying multi-source BFS — ONE
    * forward pass feeding four consumers: closeness (q156) and harmonic
    * (q162) reduce the distance frame, the hop plot (q169) histograms
    * it, and seeded Brandes (q164) additionally reads σ (the
    * shortest-path count, folded on first discovery as an exact
    * DECIMAL(38,0) sum over dist-(k−1) predecessors). Memoized per edge
    * lineage: before r13 each consumer re-ran the K-seed frontier
    * expansion from scratch (~the single largest block of the named
    * bench). σ rides for free for the distance-only consumers — the
    * groupBy(seed, dst) fold produces exactly the distinct row set the
    * old distinct() produced.
    *
    * Scale: all K searches share each iteration's frontier⋈edges shuffle
    * keyed (seed, node); per-hop localCheckpoint keeps lineage flat
    * (q78's discipline); empty-frontier exit. Brandes consumes only
    * dist ≤ 6 — a prefix of this frame, identical to a 6-capped run,
    * since a row's (dist, σ) is fixed at first discovery.
    */
  private def seededBfsSigma(edges: DataFrame): DataFrame =
    Memo("seeded_bfs", edges) {
      val seeds = graphNodes(edges).orderBy("node").limit(8)
        .select(col("node").as("seed")).localCheckpoint(true)
      var visited = seeds
        .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"),
          lit(1L).cast("decimal(38,0)").as("sigma"))
        .localCheckpoint(true)
      var frontier = visited
      var step = 1
      while (step <= 8 && !frontier.isEmpty) {
        val next = frontier.join(edges, col("node") === col("src"))
          .groupBy(col("seed"), col("dst"))
          .agg(sum(col("sigma")).cast("decimal(38,0)").as("sigma"))
          .select(col("seed"), col("dst").as("node"), col("sigma"))
          .join(visited.select("seed", "node"), Seq("seed", "node"),
            "left_anti")
          .withColumn("dist", lit(step.toLong))
          .select("seed", "node", "dist", "sigma")
          .localCheckpoint(true)
        // the union stays LAZY: both operands are already checkpointed
        // (seeds at hop 0, each `next` per hop), so the accumulated
        // visited set is a flat union of ≤9 cached frames — re-
        // checkpointing it each hop re-materialized the whole growing
        // frame per iteration, O(V·hops) cache writes for O(V) rows
        // (the r15 job-level probe: one full extra job per hop)
        visited = visited.unionByName(next)
        frontier = next
        step += 1
      }
      visited
    }

  /** BFS hop distance from a deterministic source (the smallest node id)
    * over the trade graph — the iterative frontier-expansion shape behind
    * shortest paths and connected components. Each iteration expands the
    * frontier one hop (frontier ⋈ edges), dedups, and anti-joins the
    * visited set so a node's FIRST discovery fixes its distance; the
    * frontier is localCheckpointed per hop (lineage would otherwise
    * nest 8 joins deep and the anti-join side would replay everything).
    * Unreached nodes surface with NULL hops — never a numeric sentinel
    * (the st_funnel lesson).
    *
    * Scale: per-iteration work is O(frontier × avg degree) plus an
    * anti-join keyed on node id; the visited set only grows by new
    * nodes, and the loop stops on an empty frontier or at the 8-hop cap
    * (the bipartite diameter here is ~4; the cap is the documented
    * bound that makes the oracle's recursion finite too).
    */
  private def q78(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val srcRow = edges.agg(min(col("src"))).first()
    require(!srcRow.isNullAt(0),
      "q78_bfs_hops: the trade graph is empty — no source node")
    val source = srcRow.getLong(0)
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var visited = spark.range(1)
      .select(lit(source).as("node"), lit(0).cast("int").as("hops"))
      .localCheckpoint(true)
    var frontier = visited.select("node")
    var step = 1
    while (step <= 8 && !frontier.isEmpty) {
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      // lazy union of checkpointed hops — the seededBfsSigma rule: no
      // per-hop re-materialization of the growing visited set
      visited = visited
        .unionByName(next.select(col("node"), lit(step).cast("int").as("hops")))
      frontier = next
      step += 1
    }
    nodes.join(visited, Seq("node"), "left_outer")
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("node_id"),
        col("hops"))
      .orderBy("node_type", "node_id")
  }

  /** SCD Type-2 dimension build — the warehouse shape that turns an event
    * log into a slowly-changing-dimension history: per user, consecutive
    * runs of the same `event_type` collapse into one row with a validity
    * interval `[valid_from_us, valid_to_us)`, the next run's start closing
    * the previous one (lead), and the open run flagged `is_current`.
    * Change detection is lag-compare → running sum of change flags = run
    * id (the change-point twin of q52's running-max island merge; q52
    * merges overlapping INTERVALS, this collapses runs of equal VALUES).
    *
    * Scale: two windows over the same (user_id → ts, event_id) sort — the
    * per-event lag/sum pass and the per-run lead — plus one partial-agg
    * groupBy between them; everything is keyed by user_id, so one shuffle
    * envelope serves all three (q16's discipline). All times are µs (the
    * r8 q52 lesson), the window order is made total by the event_id
    * tie-break, and the output order by (user_id, run_seq).
    */
  private def q79(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTime).isNull ||
          lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_seq",
        sum(col("chg")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_seq")
      .agg(min(col("event_type")).as("state"), // constant within a run
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val byRun = Window.partitionBy("user_id").orderBy("run_seq")
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byRun))
      .withColumn("is_current", col("valid_to_us").isNull.cast("int"))
      .select("user_id", "run_seq", "state", "valid_from_us", "valid_to_us",
        "n_events", "is_current")
      .orderBy("user_id", "run_seq")
  }

  /** Zone-map data-skipping evaluation — the layout probe you run BEFORE
    * choosing a 100 TB partitioning: shard events in arrival order
    * (`event_id div 2048`, a stand-in for parquet row-groups), build the
    * per-shard (min, max, rows) zone map, then score four time-range
    * predicates (the global span quartered, exact integer boundary math)
    * against it: shards scanned vs skipped, rows the zone maps admit vs
    * rows actually matching — the false-positive gap IS the measured
    * cost of ts/event_id mis-correlation, i.e. the number this engine's
    * [[graft.operators.Layout.writeZOrdered]] exists to shrink.
    *
    * Scale: the zone map is one partial-agg scan into O(shards) rows;
    * the 4-row predicate table joins it (and the raw scan, for ground
    * truth) via broadcast, so nothing shuffles by predicate; the span
    * bounds are a 1-row aggregate. Quartering [gmin, gmax] with an
    * exclusive upper bound (gmax+1 on the last) partitions the events
    * exactly once — rows_matching sums to the table size by construction.
    */
  private def q80(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("ts_ns div 1000").as("ts_us"),
        expr("event_id div 2048").as("shard"))
    val zm = e.groupBy("shard")
      .agg(min("ts_us").as("zmin"), max("ts_us").as("zmax"),
        count(lit(1)).as("zrows"))
      .localCheckpoint(true) // reused by the overlap join AND the totals
    val preds = spark.range(4).toDF("pred_id")
      .crossJoin(broadcast(
        e.agg(min("ts_us").as("gmin"), max("ts_us").as("gmax"))))
      .select(col("pred_id"),
        (col("gmin") + expr("((gmax - gmin) * pred_id) div 4")).as("lo_us"),
        when(col("pred_id") === 3, col("gmax") + 1)
          .otherwise(col("gmin") + expr("((gmax - gmin) * (pred_id + 1)) div 4"))
          .as("hi_us"))
    val scanned = broadcast(preds)
      .join(zm, col("zmin") < col("hi_us") && col("zmax") >= col("lo_us"))
      .groupBy("pred_id")
      .agg(count(lit(1)).as("shards_scanned"), sum("zrows").as("rows_scanned"))
    val matching = e
      .join(broadcast(preds),
        col("ts_us") >= col("lo_us") && col("ts_us") < col("hi_us"))
      .groupBy("pred_id").agg(count(lit(1)).as("rows_matching"))
    preds
      .crossJoin(broadcast(zm.agg(count(lit(1)).as("shards_total"))))
      .join(scanned, Seq("pred_id"), "left_outer")
      .join(matching, Seq("pred_id"), "left_outer")
      .select(col("pred_id"), col("lo_us"), col("hi_us"), col("shards_total"),
        coalesce(col("shards_scanned"), lit(0L)).as("shards_scanned"),
        (col("shards_total") - coalesce(col("shards_scanned"), lit(0L)))
          .as("shards_skipped"),
        coalesce(col("rows_scanned"), lit(0L)).as("rows_scanned"),
        coalesce(col("rows_matching"), lit(0L)).as("rows_matching"),
        (coalesce(col("rows_scanned"), lit(0L))
          - coalesce(col("rows_matching"), lit(0L))).as("false_positive_rows"),
        ((col("shards_total") - coalesce(col("shards_scanned"), lit(0L)))
          .cast("double") / col("shards_total").cast("double")).as("skip_pct"))
      .orderBy("pred_id")
  }

  /** Heavy-hitter tokens via the sketch-filter / exact-verify two-pass —
    * the scale-correct shape for "top-k over an open domain": pass 1 runs
    * Misra–Gries per partition (capacity m, mapPartitions, zero shuffle)
    * and unions the surviving candidates; pass 2 exact-counts ONLY the
    * candidate set (broadcast semi join — the corpus never shuffles on
    * the open token domain) and keeps the top k.
    *
    * Correctness envelope: a token with global count C survives some
    * partition's summary whenever C > N/(m+1) (if it were evicted
    * everywhere, every partition charged it its local share). With
    * m = 2048 the threshold is < 0.05% of tokens — far below any
    * plausible rank-25 frequency — so candidates ⊇ true top-k and the
    * exact-verify output equals the oracle's full groupBy. Candidate
    * cardinality is bounded by m × partitions regardless of corpus size
    * (never collected to the driver; broadcast as a DataFrame).
    *
    * Scale: pass 1 is scan-stage with O(m) state/partition (amortized
    * O(1) per token — each decrement cancels an increment); pass 2
    * shuffles only candidate counts (≤ m×P rows). A plain
    * groupBy-then-top-k instead shuffles the FULL token domain —
    * this plan's exchange is capped no matter how the corpus grows.
    */
  private def q81(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 25
    val cap = 2048
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(
        graft.operators.TextAnalysis.tokens(lower(col("text")))).as("word"))
    val cands = toks.as[String].mapPartitions { it =>
      import scala.jdk.CollectionConverters._
      val m = new java.util.HashMap[String, java.lang.Long](cap * 2)
      it.foreach { w =>
        val cur = m.get(w)
        if (cur != null) m.put(w, cur + 1L)
        else if (m.size < cap) m.put(w, 1L)
        else {
          // decrement-all: the Misra–Gries eviction step
          val iter = m.entrySet.iterator
          while (iter.hasNext) {
            val e = iter.next()
            if (e.getValue == 1L) iter.remove()
            else e.setValue(e.getValue - 1L)
          }
        }
      }
      m.keySet.iterator.asScala
    }.toDF("word").distinct()
    toks.join(broadcast(cands), "word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)
  }

  /** KMV (k-minimum-values) sketch SET OPERATIONS: distinct users per
    * event class, of their union, and of their intersection (by
    * inclusion–exclusion over the three estimates) — the mergeable-
    * sketch algebra a pipeline uses to answer "how many users do these
    * two sources share" without ever shuffling raw IDs between them.
    * Everything is deterministic (portable md5-prefix hash, exact kth-min
    * threshold, one IEEE division per estimate — q53's discipline), so
    * the oracle replays it bit-for-bit. k = 64 keeps the ESTIMATING
    * branch exercised at correctness scale (150 distinct users/class at
    * sf0.01); truths ride along for the error audit.
    *
    * Scale: the (class, hash) table collapses to ≤ classes × distinct
    * users rows at the partial-agg stage and is localCheckpointed once
    * (three sketches + three truths read it); each sketch is a k-row
    * TakeOrdered, each truth a 1-row count. Merging KMVs = kth-min of
    * the hash union — no raw-ID exchange, which is the whole point of
    * the sketch at 100 TB.
    */
  private def q82(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val two60d = lit(1152921504606846976L).cast("double")
    val eh = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("et"),
        portableHash60(col("user_id").cast("string")).as("h"))
      .distinct()
      .localCheckpoint()
    def one(df: DataFrame, label: String): DataFrame = {
      val bottom = df.orderBy(col("h")).limit(k)
        .agg(count(lit(1)).as("n_k"), max(col("h")).as("kth"))
      val truth = df.agg(count(lit(1)).as("truth"))
      bottom.crossJoin(truth).select(
        when(col("n_k") < k, col("truth").cast("double"))
          .otherwise(lit((k - 1).toDouble) * two60d / col("kth").cast("double"))
          .as(s"est_$label"),
        col("truth").as(s"true_$label"))
    }
    one(eh.filter(col("et") === "click").select("h"), "a")
      .crossJoin(one(eh.filter(col("et") === "purchase").select("h"), "b"))
      .crossJoin(one(eh.select("h").distinct(), "union"))
      .select(lit(k).as("k"),
        col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"),
        col("true_a"), col("true_b"), col("true_union"),
        (col("true_a") + col("true_b") - col("true_union"))
          .as("true_intersect"))
  }

  /** Hourly OHLC bars per event class — the resample shape a market-data
    * or metrics pipeline runs constantly: open/close are the first/last
    * tick by the total (ts_ns, event_id) order (exact VALUES, no
    * arithmetic), low/high exact min/max, volume an exact-decimal sum
    * exported as double (q17's convention).
    *
    * Scale: one hash exchange on (bucket, event_type); both row_number
    * directions and the final aggregate reuse that partitioning (two
    * sorts, zero extra shuffles). Per-(hour, class) groups are bounded by
    * arrival rate, so the window state never skews unboundedly.
    */
  private def q83(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"),
        col("event_type"), col("ts_ns"), col("event_id"), col("value"))
    val part = Window.partitionBy(col("bucket"), col("event_type"))
    val wa = part.orderBy(col("ts_ns"), col("event_id"))
    val wd = part.orderBy(col("ts_ns").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy("bucket", "event_type")
      .agg(
        count(lit(1)).as("n"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        min(col("value")).as("low"),
        max(col("value")).as("high"),
        sum(d2(col("value"))).cast("double").as("volume"))
      .orderBy("bucket", "event_type")
  }

  /** Incremental view maintenance of an AGGREGATE-OVER-JOIN — the delta
    * algebra behind every materialized rollup a pipeline keeps warm:
    * V = γ(customer ⋈ orders) split at a cutoff into a base snapshot and
    * a fact-side delta, each aggregated independently, merged by the
    * group-key with sums/counts added (full outer: a nation may first
    * appear in the delta). The oracle recomputes the view from scratch —
    * equality IS the proof that the maintenance algebra loses nothing.
    *
    * Scale: this is the plan you run when the base aggregate is already
    * materialized — then only the delta (a day of orders, not years)
    * joins and shuffles, and the merge is group-key-sized. Decimal sums
    * merge exactly (addition is associative in DECIMAL, never IEEE), so
    * incremental and recomputed revenue agree bit-for-bit.
    */
  private def q84(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1999-01-01"
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    def view(orders: DataFrame): DataFrame = orders
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum(d2(col("o_totalprice"))).as("rev"))
    val base = view(o.filter(col("o_orderdate") < lit(cutoff)))
      .select(col("c_nationkey"), col("n").as("bn"), col("rev").as("brev"))
    val delta = view(o.filter(col("o_orderdate") >= lit(cutoff)))
      .select(col("c_nationkey"), col("n").as("dn"), col("rev").as("drev"))
    base.join(delta, Seq("c_nationkey"), "full_outer")
      .select(
        col("c_nationkey"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("brev"), lit(0).cast(D))
          + coalesce(col("drev"), lit(0).cast(D)))
          .cast("double").as("revenue"))
      .orderBy("c_nationkey")
  }

  /** Per-key top-k through the library's NATIVE physical operator
    * ([[graft.plans.TopKPerKey]] — logical node + strategy + two-phase
    * bounded-heap SparkPlan): each customer's 3 highest-value orders.
    * The ordering is total (totalprice desc, orderkey asc), so the
    * result equals the window row_number formulation the oracle runs —
    * while the plan's exchange carries at most 3 × partitions rows per
    * customer instead of every order (the q26 window shape sorts whole
    * partitions; PlanSpec pins this plan has NO sort before the
    * exchange and both exec phases present).
    */
  private def q85(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.plans.TopKPerKey.perKey(o,
      keys = Seq("o_custkey"),
      order = Seq("o_totalprice" -> false, "o_orderkey" -> true),
      k = 3)
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Time-weighted average per hour per class — the irregular-sampling
    * complement of q83's OHLC (a value that held for 50 minutes must
    * outweigh one that held for 2 seconds; the row-mean both engines
    * would naively compute is wrong whenever arrivals cluster). Each
    * observation is weighted by its HOLDING TIME: the exact ns gap to
    * the next event in the same (hour, class), the last one holding to
    * the bucket's end. All weights are exact integers; value·dt
    * accumulates in DECIMAL ((18,2) × a ≤3.6·10^12 ns gap stays far
    * inside DECIMAL(38,2)); the quotient is ONE exact integral division
    * to micro units (see the in-code note on why the earlier
    * cast-both-sides-to-double form was a latent 1-ulp hash hazard).
    *
    * Scale: q83's exact shuffle envelope — one hash exchange on
    * (bucket, class), the lead window and the aggregate reuse it.
    */
  private def q86(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val ev = Tables.events(spark, dir)
      .select(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"),
        (unix_micros(date_trunc("hour", col("ts"))) * lit(1000L) + lit(hourNs))
          .as("bucket_end_ns"),
        col("event_type"), col("ts_ns"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("bucket"), col("event_type"))
      .orderBy(col("ts_ns"), col("event_id"))
    ev.withColumn("dt_ns",
        coalesce(lead(col("ts_ns"), 1).over(w), col("bucket_end_ns"))
          - col("ts_ns"))
      .groupBy("bucket", "event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("dt_ns")).as("covered_ns"),
        sum(d2(col("value")) * col("dt_ns")).as("vdt"),
        sum(d2(col("value"))).as("vsum"))
      // Σ value·dt reaches ~10^16 cents·ns — PAST 2^53, where the two
      // engines' DECIMAL→DOUBLE casts can land one ulp apart (Spark goes
      // through BigDecimal's correctly-rounded conversion, DuckDB divides
      // a casted int128 by 10^scale: two roundings). So the quotient is
      // taken EXACTLY first — cents·ns cleared to DECIMAL(38,0), one
      // integral division of positive integers to micro units — and the
      // published double derives from twap_micro (≤ ~10^10: exactly
      // representable) by one correctly-rounded division. Bit-identical
      // in any IEEE engine at any corpus size.
      .select(col("bucket"), col("event_type"), col("n"), col("covered_ns"),
        expr("CAST((CAST(vdt * 100 AS DECIMAL(38,0)) * 10000)" +
          " div covered_ns AS BIGINT)").as("twap_micro"),
        expr("CAST((CAST(vsum * 100 AS DECIMAL(38,0)) * 10000)" +
          " div n AS BIGINT)").as("naive_micro"))
      .withColumn("twap", col("twap_micro").cast("double") / 1000000.0)
      .withColumn("naive_mean", col("naive_micro").cast("double") / 1000000.0)
      .orderBy("bucket", "event_type")
  }

  /** 2-D skyline (Pareto frontier) kernel: rows not dominated by any
    * other row — q dominates p iff q.x ≥ p.x AND q.y ≥ p.y with at
    * least one strict. Duplicated points survive together (neither
    * strictly dominates its twin), matching the oracle's NOT EXISTS.
    *
    * The naive formulation is an O(n²) NOT-EXISTS self-join (that IS
    * the oracle — the differential proves this plan). Here the frontier
    * is a cummax recurrence: group by distinct x, keep a group iff its
    * max-y strictly exceeds the running max-y over all HIGHER x, then
    * join back the rows at (x, ymax). The running max is two-level (the
    * ta_pack prefix-sum discipline): x is range-bucketed by an
    * order-PRESERVING width, the only partition-less window runs over
    * BUCKET MAXIMA (row count bounded by the value range over the
    * bucket width, never by the table), and the per-x pass is
    * partitioned by bucket. Dominance across buckets is exact because
    * bucketing is monotone: x' > x ⟹ bucket' ≥ bucket.
    */
  private[graft] def skyline2d(pts: DataFrame, id: String, x: String,
      y: String, bucketWidth: Long): DataFrame = {
    val g = pts.groupBy(col(x)).agg(max(col(y)).as("ymax"))
      .withColumn("bucket", floor(col(x) / bucketWidth))
    val bmax = g.groupBy("bucket").agg(max(col("ymax")).as("by"))
    val wb = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bprev = bmax.withColumn("prev_b", max(col("by")).over(wb)).drop("by")
    val wi = Window.partitionBy(col("bucket")).orderBy(col(x).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = g.join(bprev, "bucket")
      .withColumn("prev_in", max(col("ymax")).over(wi))
      .withColumn("prev", greatest(col("prev_b"), col("prev_in")))
      .filter(col("prev").isNull || col("ymax") > col("prev"))
      .select(col(x).as("f_x"), col("ymax"))
    pts.join(frontier,
        col(x) === col("f_x") && col(y) === col("ymax"))
      .select(col(id), col(x), col(y))
  }

  /** Customer skyline on (lifetime spend, account balance): the Pareto
    * frontier nobody beats on both axes — the recommendation/outlier
    * shape behind "best tradeoff" queries. Spend is the exact-decimal
    * order-value sum (customers without orders enter at 0 and can still
    * make the frontier on balance alone); both axes publish as DOUBLE
    * (exact cents). Oracle is the quadratic NOT-EXISTS dominance
    * self-join — equality proves the O(n log n) cummax plan computes
    * the identical frontier, ties and duplicates included.
    */
  private def q87(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_acctbal")
    val o = Tables.load(spark, dir, "orders")
    val spend = o.groupBy("o_custkey")
      .agg(sum(d2(col("o_totalprice"))).as("sp"))
    val pts = c.join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("sp"), lit(0).cast(D)).as("spend"),
        col("c_acctbal").as("bal"))
    skyline2d(pts, "c_custkey", "spend", "bal", bucketWidth = 10000L)
      .select(col("c_custkey"),
        col("spend").cast("double").as("spend"),
        col("bal").cast("double").as("acctbal"))
      .orderBy("c_custkey")
  }

  /** Interval-overlap self-join via MONOTONE TIME BUCKETING — the
    * scalable plan for "which pairs of intervals overlap": each interval
    * [s, e] is exploded into the calendar months it spans (transit
    * windows here span 2–3), the self-join runs on (key, month) — an EQUI
    * join Spark hash-partitions — and a pair is counted exactly once by
    * the CANONICAL-BUCKET rule: only in the month of the LATER START
    * (that month lies inside both intervals whenever they overlap, so
    * the pair is guaranteed present there and nowhere counted twice).
    * The naive formulation is a θ-join on s ≤ e' ∧ s' ≤ e — a
    * nested-loop cartesian per key that detonates at scale; that IS the
    * oracle, so equality proves the bucketed decomposition exact.
    *
    * The query: per supplier, how many pairs of its heavy shipments
    * (l_quantity ≥ 48) were simultaneously in transit, plus total and
    * max overlap days — the fleet-utilization/concurrency shape. This
    * schema carries no receipt date, so the transit window is the
    * deterministic [l_shipdate, l_shipdate + l_quantity days] (both
    * engines derive it identically). Pair identity is the
    * (orderkey, linenumber) struct order, exact integer day arithmetic.
    *
    * Scale: join fan-out is bounded by per-(supplier, month) interval
    * counts (salt the month key further if one month is hot); no
    * cross join, no global sort, aggregate output is supplier-sized.
    */
  private def q88(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 48)
      .select(col("l_suppkey").as("sk"),
        struct(col("l_orderkey"), col("l_linenumber")).as("iid"),
        to_date(col("l_shipdate")).as("s"),
        date_add(to_date(col("l_shipdate")), col("l_quantity").cast("int"))
          .as("e"))
    val bucketed = iv.withColumn("bucket",
      explode(expr("sequence(trunc(s, 'MM'), trunc(e, 'MM'), interval 1 month)")))
    val a = bucketed.select(col("sk"), col("bucket"), col("iid").as("a_iid"),
      col("s").as("a_s"), col("e").as("a_e"))
    val b = bucketed.select(col("sk"), col("bucket"), col("iid").as("b_iid"),
      col("s").as("b_s"), col("e").as("b_e"))
    a.join(b, Seq("sk", "bucket"))
      .filter(col("a_iid") < col("b_iid")
        && col("a_s") <= col("b_e") && col("b_s") <= col("a_e")
        && col("bucket") === trunc(greatest(col("a_s"), col("b_s")), "MM"))
      .select(col("sk"),
        (datediff(least(col("a_e"), col("b_e")),
          greatest(col("a_s"), col("b_s"))) + 1).as("ov"))
      .groupBy("sk")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ov")).as("total_overlap_days"),
        max(col("ov")).as("max_overlap_days"))
      .select(col("sk").as("l_suppkey"), col("n_pairs"),
        col("total_overlap_days"), col("max_overlap_days"))
      .orderBy("l_suppkey")
  }

  /** EQUI-DEPTH histogram (the quantile complement of q40's equi-width
    * buckets) with EXACT distributed quantiles and zero interpolation:
    * the quartile boundary q_p is DEFINED as the smallest value v with
    * count(x ≤ v) ≥ ⌈p·n⌉ — pure integer comparisons (cum·4 ≥ n etc.),
    * no float percentile semantics to disagree across engines. The
    * cumulative counts run over the per-group DISTINCT-VALUE
    * distribution (a per-flag window over value counts, never over raw
    * rows — the ta_tfidf vocabulary envelope), then rows bucket by ≤
    * against the three boundaries via a broadcast-sized boundary table.
    *
    * Scale: two partial-agg exchanges (value counts, totals) + one
    * groups×distinct-values window partitioned BY GROUP + one boundary
    * join (groups-sized, broadcast); the raw table never sorts
    * globally. Equi-depth is the histogram a query optimizer or drift
    * monitor actually wants — equal mass per bucket, so bucket
    * boundaries track the distribution.
    */
  private def q89(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        d2(col("l_extendedprice")).as("v"))
    val vc = t.groupBy("flag", "v").agg(count(lit(1)).as("c"))
    // totals derived FROM the value counts: no third scan of the raw
    // table, and the second aggregate rides the vc exchange
    val tot = vc.groupBy("flag").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("flag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = vc.withColumn("cum", sum(col("c")).over(w))
      .join(tot, "flag")
      .groupBy("flag")
      .agg(
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("q2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3"))
    t.join(broadcast(q), "flag")
      .withColumn("bucket",
        when(col("v") <= col("q1"), 0)
          .when(col("v") <= col("q2"), 1)
          .when(col("v") <= col("q3"), 2)
          .otherwise(3))
      .groupBy("flag", "bucket")
      .agg(count(lit(1)).as("n"),
        min(col("v")).cast("double").as("lo"),
        max(col("v")).cast("double").as("hi"))
      .orderBy("flag", "bucket")
  }

  /** MODE (most frequent value) per group with a total tie rule
    * (ties → smallest value) — the one SQL:2023 aggregate the surface
    * lacked; native `mode()` is non-deterministic under ties on BOTH
    * engines, so the query states the rule explicitly: value counts →
    * per-group max count → min value among the argmax set. Three
    * partial-agg exchanges, no windows, output group-sized.
    */
  private def q90(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"),
        col("l_linestatus").as("status"),
        col("l_quantity").cast("int").as("qty"))
      .agg(count(lit(1)).as("c"))
    val best = counts.groupBy("flag", "status").agg(max(col("c")).as("mc"))
    counts.join(best, Seq("flag", "status"))
      .filter(col("c") === col("mc"))
      .groupBy("flag", "status")
      .agg(min(col("qty")).as("mode_qty"), max(col("mc")).as("mode_count"))
      .orderBy("flag", "status")
  }

  /** JOIN-FANOUT AUDIT: exact join cardinality and skew, predicted from
    * per-key count histograms WITHOUT executing the join — the plan
    * primitive behind "can we afford this join / does it need salting".
    * For each FK edge, |A ⋈ B| = Σ_k c_A(k)·c_B(k), computed by joining
    * the two KEY-COUNT tables (each a partial-agg groupBy, key-space
    * sized — never the raw-row join whose size is being predicted).
    * Also reports the hottest key's contribution and its share of the
    * join: the number q29's salting decision actually reads. Per-key
    * products accumulate in DECIMAL (c_A·c_B can pass 2^63 at 100 TB on
    * a hot key), published modulo nothing as BIGINT at test scale.
    *
    * q77 audits REFERENTIAL integrity of the same edges; this audits
    * their CARDINALITY — complementary halves of a pre-join check.
    */
  private def q91(spark: SparkSession, dir: String): DataFrame = {
    def edge(label: String, child: DataFrame, fk: String,
             parent: DataFrame, pk: String): DataFrame = {
      val c1 = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("ca"))
      val c2 = parent.groupBy(col(pk).as("k")).agg(count(lit(1)).as("cb"))
      c1.join(c2, "k")
        .select(col("k"),
          (col("ca").cast(DecimalType(38, 0)) * col("cb")).as("prod"),
          col("ca"), col("cb"))
        .agg(
          count(lit(1)).as("matched_keys"),
          sum(col("prod")).cast("long").as("join_rows"),
          max(struct(col("prod"), col("k"))).as("hot"))
        .select(lit(label).as("relationship"), col("matched_keys"),
          col("join_rows"),
          col("hot.k").as("hottest_key"),
          col("hot.prod").cast("long").as("hottest_rows"),
          (col("hot.prod").cast("double") / col("join_rows"))
            .as("hottest_share"))
    }
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    edge("lineitem-orders", li, "l_orderkey", o, "o_orderkey")
      .unionAll(edge("lineitem-part", li, "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"))
      .unionAll(edge("lineitem-supplier", li, "l_suppkey",
        Tables.load(spark, dir, "supplier"), "s_suppkey"))
      .unionAll(edge("orders-customer", o, "o_custkey",
        Tables.load(spark, dir, "customer"), "c_custkey"))
      .orderBy("relationship")
  }

  /** WINSORIZED robust statistics per group: values clipped at the
    * [p05, p95] boundaries — q76's MAD flags outliers, this NEUTRALIZES
    * them in the aggregate, the robust-mean shape feature pipelines
    * normalize with. Boundaries use q89's integer quantile rule
    * (smallest v with cum·20 ≥ n / cum·20 ≥ 19·n — no percentile
    * function trusted cross-engine), clipping and both means are exact
    * decimal with ONE IEEE division each at the boundary.
    */
  private def q92(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        d2(col("l_extendedprice")).as("v"))
    val vc = t.groupBy("flag", "v").agg(count(lit(1)).as("c"))
    val tot = vc.groupBy("flag").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("flag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = vc.withColumn("cum", sum(col("c")).over(w))
      .join(tot, "flag")
      .groupBy("flag")
      .agg(
        min(when(col("cum") * 20 >= col("n"), col("v"))).as("p05"),
        min(when(col("cum") * 20 >= col("n") * 19, col("v"))).as("p95"))
    // clip via CASE, not greatest/least: DuckDB's variadic greatest
    // promotes DECIMAL to DOUBLE, which would make the clipped sum
    // IEEE-order-dependent; the CASE keeps both engines in exact decimal
    t.join(broadcast(q), "flag")
      .withColumn("w",
        when(col("v") < col("p05"), col("p05"))
          .when(col("v") > col("p95"), col("p95"))
          .otherwise(col("v")))
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n"),
        sum((col("v") < col("p05")).cast("long")).as("n_clipped_lo"),
        sum((col("v") > col("p95")).cast("long")).as("n_clipped_hi"),
        max(col("p05")).cast("double").as("p05"),
        max(col("p95")).cast("double").as("p95"),
        (sum(col("v")).cast("double") / count(lit(1))).as("raw_mean"),
        (sum(col("w")).cast("double") / count(lit(1))).as("wins_mean"))
      .orderBy("flag")
  }

  /** LAST-TOUCH ATTRIBUTION with a bounded lookback: each purchase is
    * credited to the user's most recent click no older than 7 days —
    * the marketing-analytics shape behind "which touch drove the
    * conversion". The carried click is a running max of click
    * timestamps over the per-user event-time order (one window in
    * q16's per-user shuffle envelope — no self-join of purchases
    * against clicks, which would re-shuffle the fact twice); the
    * horizon test and lag are exact ns integers; attributed revenue is
    * exact decimal. Day-level aggregate output; avg lag guarded NULL
    * when a day has no attributed purchases (the q77 0/0 lesson).
    */
  private def q93(spark: SparkSession, dir: String): DataFrame = {
    val horizonNs = 7L * 24 * 3600 * 1000000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("ts_ns"),
        col("event_id"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("lct",
        max(when(col("event_type") === "click", col("ts_ns"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attr",
        (col("lct").isNotNull &&
          col("ts_ns") - col("lct") <= horizonNs).cast("int"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("attr")).cast("long").as("n_attributed"),
        sum(when(col("attr") === 1, d2(col("value")))
          .otherwise(lit(0).cast(D))).cast("double").as("attributed_value"),
        when(sum(col("attr")) > 0,
          sum(when(col("attr") === 1, col("ts_ns") - col("lct")))
            .cast("double") / sum(col("attr")))
          .as("avg_lag_ns"))
      .orderBy("day")
  }

  /** POINT-IN-TIME (SCD2) dimension join: each purchase enriched with
    * the dimension version VALID AT ITS TIMESTAMP — the warehouse
    * pattern q79 builds the versions for. The dimension here is the
    * user's activity state (q79's validity runs over the NON-purchase
    * events); the fact side is the purchases; the PIT condition is
    * from ≤ ts < to (to = next version's from, so versions PARTITION
    * the timeline — each purchase matches at most one, purchases
    * before a user's first activity match none and surface as
    * 'none'). Exact µs integers; group-sized rollup output.
    *
    * Scale: the version build is one per-user window (q16's envelope);
    * the PIT join is an EQUI join on user_id with the interval filter
    * applied post-join — per-user version lists are run-length-bounded,
    * so the fan-out is per-user versions, never a θ-join.
    */
  /** q94's SCD2 dimension — runs of non-purchase activity as
    * (user, state, from_us, to_us) validity intervals — shared by the
    * range-join formulation (q94) and the native as-of formulation
    * (q133).
    */
  private def activityDim(spark: SparkSession, dir: String): DataFrame =
    dimFromEvents(Tables.events(spark, dir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type")))

  /** The SCD2 run construction over a (user_id, event_id, ts_us,
    * event_type) slice — factored so q149 can rebuild the dimension
    * AS-AT an earlier knowledge cut from an event-id prefix (the
    * event-sourced as-at reconstruction).
    */
  private def dimFromEvents(slice: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    slice
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTime).isNull ||
          lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_seq",
        sum(col("chg")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_seq")
      .agg(min(col("event_type")).as("state"),
        min(col("ts_us")).as("from_us"))
      .withColumn("to_us",
        lead(col("from_us"), 1)
          .over(Window.partitionBy("user_id").orderBy("run_seq")))
      .select("user_id", "run_seq", "state", "from_us", "to_us")
  }

  private def q94(spark: SparkSession, dir: String): DataFrame = {
    // both sides derive from events: the aliases name which user_id is
    // which, so the predicate never rests on the ambiguous-self-join rewrite
    val dim = activityDim(spark, dir).as("d")
    val fact = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ns div 1000").as("pts_us"),
        col("value")).as("f")
    fact.join(dim,
        col("f.user_id") === col("d.user_id")
          && col("pts_us") >= col("from_us")
          && (col("to_us").isNull || col("pts_us") < col("to_us")),
        "left")
      .select(col("f.user_id"),
        coalesce(col("state"), lit("none")).as("state"), col("value"))
      .groupBy("state")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        sum(d2(col("value"))).cast("double").as("revenue"))
      .orderBy("state")
  }

  /** DISTRIBUTION DRIFT between a reference and a new slice of the same
    * column — the monitoring primitive behind "did the data change
    * under the model": lineitem split at a shipdate cutoff, the
    * REFERENCE half defines q89-rule quartile boundaries, BOTH halves
    * bucket by those reference boundaries, and the drift score is the
    * TOTAL VARIATION distance Σ|p_ref − p_new|/2 — computed log-free
    * (unlike PSI/KL, which never bit-match across engines) as exact
    * cross-multiplied integers Σ|c_ref·n_new − c_new·n_ref| in DECIMAL
    * with ONE final IEEE division by 2·n_ref·n_new. Buckets empty on
    * one side still contribute (full-outer grid, zero-coalesced).
    *
    * Scale: q89's boundary machinery on the reference + two
    * partial-agg bucket counts + a buckets×groups-sized merge.
    */
  private def q95(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1996-01-01"
    val t = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        d2(col("l_extendedprice")).as("v"),
        (col("l_shipdate") < lit(cutoff)).as("is_ref"))
    val ref = t.filter(col("is_ref"))
    val vc = ref.groupBy("flag", "v").agg(count(lit(1)).as("c"))
    val tot = vc.groupBy("flag").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("flag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = vc.withColumn("cum", sum(col("c")).over(w))
      .join(tot, "flag")
      .groupBy("flag")
      .agg(
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("q2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3"))
    val bucketed = t.join(broadcast(q), "flag")
      .withColumn("bucket",
        when(col("v") <= col("q1"), 0)
          .when(col("v") <= col("q2"), 1)
          .when(col("v") <= col("q3"), 2)
          .otherwise(3))
    val cr = bucketed.filter(col("is_ref"))
      .groupBy("flag", "bucket").agg(count(lit(1)).as("cr"))
    val cn = bucketed.filter(!col("is_ref"))
      .groupBy("flag", "bucket").agg(count(lit(1)).as("cn"))
    val grid = cr.join(cn, Seq("flag", "bucket"), "full_outer")
      .select(col("flag"), col("bucket"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val totals = grid.groupBy("flag")
      .agg(sum(col("cr")).as("nr"), sum(col("cn")).as("nn"))
    grid.join(totals, "flag")
      .groupBy("flag")
      .agg(
        max(col("nr")).as("n_ref"), max(col("nn")).as("n_new"),
        when(max(col("nr")) > 0 && max(col("nn")) > 0,
          sum(abs(col("cr").cast(DecimalType(38, 0)) * col("nn")
            - col("cn").cast(DecimalType(38, 0)) * col("nr")))
            .cast("double")
            / (lit(2.0) * max(col("nr")) * max(col("nn"))))
          .as("tv_distance"))
      .orderBy("flag")
  }

  /** DECILE LIFT (gain chart) per market: customers ranked by lifetime
    * spend within their nation, cut into VALUE-rule deciles (q89's
    * integer quantile definition at tenths — value-bucketing keeps
    * ties together deterministically where rank-based ntile breaks
    * them arbitrarily and unportably), then each decile's revenue and
    * the cumulative revenue share — "the top decile holds X% of the
    * business", the concentration read behind sampling and
    * prioritization decisions. Exact decimal sums; each share is ONE
    * IEEE division of exactly-summed decimals.
    *
    * Scale: q89's machinery per nation (all windows nation-
    * partitioned, PlanAudit-clean); only customers WITH orders rank
    * (lift over purchasers, documented).
    */
  private def q96(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    val pts = o.groupBy("o_custkey")
      .agg(sum(d2(col("o_totalprice"))).as("spend"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"), col("spend").as("v"))
    val vc = pts.groupBy("nation", "v").agg(count(lit(1)).as("c"))
    val tot = vc.groupBy("nation").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("nation").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bs = (1 to 9).map(d =>
      min(when(col("cum") * 10 >= col("n") * d, col("v"))).as(s"b$d"))
    val q = vc.withColumn("cum", sum(col("c")).over(w))
      .join(tot, "nation")
      .groupBy("nation")
      .agg(bs.head, bs.tail: _*)
    val bucket = (1 to 9).foldLeft(lit(9)) { (acc, d) =>
      when(col("v") <= col(s"b${10 - d}"), 10 - d - 1).otherwise(acc)
    }
    val g = pts.join(broadcast(q), "nation")
      .withColumn("decile", bucket)
      .groupBy("nation", "decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("v")).as("rev"))
    val wc = Window.partitionBy("nation").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("nation")
    g.withColumn("cum_share",
        sum(col("rev")).over(wc).cast("double")
          / sum(col("rev")).over(wt).cast("double"))
      .select(col("nation"), col("decile"), col("n_customers"),
        col("rev").cast("double").as("revenue"), col("cum_share"))
      .orderBy("nation", "decile")
  }

  /** Exponential smoothing with EXACT dyadic weights — the recursive
    * EMA_t = α·x_t + (1−α)·EMA_{t−1} is inherently sequential and its
    * floating accumulation never bit-matches across engines, so this is
    * the 8-term truncation at α = 1/2: weights 128,64,…,1 over the
    * current row and its 7 predecessors (per event_type, event-time
    * order). Truncated tail mass is 2⁻⁸ ≈ 0.4% and the truncation is
    * made EXACT by renormalizing over the weights actually present
    * (series heads use only their available lags). All accumulation is
    * integer-weighted DECIMAL — one IEEE division at the output.
    *
    * Scale: one window per event_type partition (8 lag reads share one
    * sort — Spark collapses same-window functions into a single
    * WindowExec), no self-join; output is row-sized like any smoothing
    * signal. Partition-less only in the sense of per-type — type
    * cardinality bounds parallelism, so a single-series corpus would
    * re-key by (series, day) first.
    */
  private def q97(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_ns"), col("event_id"))
    val terms = (0 to 7).map { i =>
      val wt = 1L << (7 - i)
      val v = if (i == 0) d2(col("value")) else lag(d2(col("value")), i).over(w)
      (v, wt)
    }
    val num = terms.map { case (v, wt) =>
      coalesce(v * lit(wt.toInt), lit(0).cast(DecimalType(20, 2)))
    }.reduce(_ + _)
    val den = terms.map { case (v, wt) =>
      when(v.isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.events(spark, dir)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
        col("event_id"), col("ts_ns"), col("value"))
      .withColumn("wsum", den.cast("int"))
      .withColumn("ema", num.cast("double") / den.cast("double"))
      .select(col("event_type"), col("t"), col("event_id"),
        col("value"), col("wsum"), col("ema"))
      .orderBy("event_type", "event_id")
  }

  /** Multi-touch LINEAR attribution with EXACT cent conservation — the
    * complement of q93's last-touch rule: each purchase's revenue is
    * split across ALL of the user's clicks in the 7-day horizon
    * (click ts ∈ [purchase − 7d, purchase], inclusive both ends). The
    * split is integer cents with the LARGEST-REMAINDER rule — each click
    * gets ⌊cents/n⌋ and the `cents mod n` leftover cents go one each to
    * the MOST RECENT clicks — so Σ credits ≡ purchase revenue exactly
    * (the invariant IEEE division cannot give; the oracle equality
    * proves conservation end-to-end). Purchases with no horizon click
    * carry no credit here (q93 reports the attribution rate).
    *
    * Scale: the purchase×click pair join is EQUI on user_id with the
    * horizon filter post-join — fan-out is clicks-per-user-week, the
    * same run-length-bounded shape as q94's PIT join, never a θ-join.
    * The per-purchase index window partitions by purchase event_id
    * (pair-sized exchange), the rollup is day-sized.
    */
  private def q98(spark: SparkSession, dir: String): DataFrame = {
    val horizonNs = 7L * 24 * 3600 * 1000000000L
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("ts_ns").as("c_ts_ns"), col("event_id").as("c_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns").as("p_ts_ns"),
        col("event_id").as("p_id"),
        (d2(col("value")) * 100).cast("long").as("cents"))
    val pairs = purchases.join(clicks, "user_id")
      .filter(col("c_ts_ns") <= col("p_ts_ns")
        && col("c_ts_ns") >= col("p_ts_ns") - horizonNs)
    val wp = Window.partitionBy("p_id")
      .orderBy(col("c_ts_ns").desc, col("c_id").desc)
    pairs
      .withColumn("idx", row_number().over(wp))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("credit_cents",
        expr("cents div n")
          + when(col("idx") <= col("cents") % col("n"), 1L).otherwise(0L))
      .groupBy(date_format(col("c_ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_credits"),
        countDistinct(col("p_id")).as("n_purchases"),
        (sum(col("credit_cents")).cast("double") / 100.0)
          .as("attributed_revenue"))
      .orderBy("day")
  }

  /** q-digest quantile sketch, END-TO-END VERIFIED: per return flag, a
    * [[graft.functions.QDigest]] (L=24 over price cents, k=2000) is
    * built through Spark's partial aggregation (typed Aggregator —
    * map-side sketches, merge at the exchange), queried at 7
    * percentiles, and each estimate is then checked against the EXACT
    * ranks of the same data in one broadcast-joined pass. Published
    * facts are the order-invariant ones — the sketch contents depend on
    * Spark's nondeterministic merge order, but (a) n is conserved
    * exactly, (b) nodes ≤ 3k, and (c) every estimate's exact rank
    * window intersects target ± L·⌊n/k⌋ are THEOREMS (SenSys'04 +
    * PODS'12 mergeability), so the oracle asserts them as constants.
    * Integer rank targets ((p·n+99) div 100) on both the sketch query
    * and the acceptance check keep the boundary IEEE-free.
    *
    * Scale: the sketch is O(k) per group regardless of n; the verify
    * pass broadcasts 21 rows and re-scans once. A production pipeline
    * would ship the serialized bytes (the portable HLL/KMV convention)
    * and skip the verify scan.
    */
  private def q99(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.QDigest
    val L = 24
    val kk = 2000
    val pcts = Seq(1, 5, 25, 50, 75, 95, 99)
    val cents = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        (d2(col("l_extendedprice")) * 100).cast("long").as("cents"))
    // (r16 probe: the functions.udaf form — groupBy on the native string
    // column — measured the sketch-build job at 3.5 s vs this typed
    // path's 3.0 s; the typed groupByKey shape stays.)
    val sk = cents.as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(QDigest.aggregator(L, kk).toColumn.name("sk"))
    val est = sk.flatMap { case (flag, bytes) =>
      val qd = QDigest.deserialize(bytes)
      pcts.map { p =>
        val target = (p * qd.n + 99) / 100
        (flag, p, qd.quantileAtRank(target), qd.n, qd.nodes)
      }
    }.toDF("l_returnflag", "pct", "est", "sk_n", "sk_nodes")
    cents.join(broadcast(est), "l_returnflag")
      .groupBy("l_returnflag", "pct", "est", "sk_n", "sk_nodes")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("hi"))
      .select(col("l_returnflag"), col("pct"), col("n"),
        (col("sk_n") === col("n")).as("n_exact"),
        (col("sk_nodes") <= 3 * kk).as("compact"),
        (col("lo") <= expr("(pct * n + 99) div 100") + lit(L) * expr(s"n div $kk")
          && col("hi") >= expr("(pct * n + 99) div 100") - lit(L) * expr(s"n div $kk"))
          .as("within_eps"))
      .orderBy("l_returnflag", "pct")
  }

  /** WEIGHTED single-source shortest paths — q78's BFS upgraded to
    * Bellman–Ford: the trade graph's edges carry an exact integer weight
    * (the minimum line quantity ever shipped across that
    * customer–supplier pair), and six FULL relaxation rounds compute
    * d_i(v) = min(d_{i−1}(v), min_u d_{i−1}(u) + w(u,v)) — after round
    * i, d_i is exactly the shortest distance using ≤ i edges, which is
    * the same finite semantics the oracle's six chained relaxation CTEs
    * define (a recursive path-enumeration CTE would explode; full
    * relaxation is nodes-sized per level on both engines). Unreached
    * nodes surface as NULL (the st_funnel lesson).
    *
    * Scale: each round is one dist ⋈ edges shuffle (O(E)) plus a
    * node-sized min — the textbook distributed Bellman–Ford; dist is
    * localCheckpointed per round so lineage doesn't nest six joins.
    * Integer distances make the result engine-exact.
    */
  private def q100(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val pw = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .agg(min(col("l_quantity").cast("long")).as("wt"))
    val edges = pw.select(col("c").as("src"), col("s").as("dst"), col("wt"))
      .unionByName(pw.select(col("s").as("src"), col("c").as("dst"), col("wt")))
      .localCheckpoint(true)
    val srcRow = edges.agg(min(col("src"))).first()
    require(!srcRow.isNullAt(0),
      "q100_sssp: the trade graph is empty — no source node")
    val source = srcRow.getLong(0)
    var dist = spark.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // checkpoint every SECOND relaxation: the blocking materialization
    // (write + job launch) is the per-iteration overhead, and a 2-deep
    // lineage between cuts costs nothing — same shuffles, half the jobs.
    // At each cut, (count, decimal sum of dist) is a PROVED fixpoint
    // signature: the reached set only grows (equal count ⇒ identical
    // set) and per-node dist only shrinks (equal sum ⇒ every value
    // unchanged) — so an unchanged signature means the last TWO
    // relaxations were the identity and the remaining budget is too.
    // Decimal, not long: a 10^9-node graph with 10^9-scale weights
    // could overflow a long sum; decimal(38,0) cannot.
    var prevSig: (Long, java.math.BigDecimal) = null
    var i = 1
    var converged = false
    while (i <= 6 && !converged) {
      dist = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("wt")).as("dist"))
        .unionByName(dist.select("node", "dist"))
        .groupBy("node").agg(min(col("dist")).as("dist"))
      if (i % 2 == 0) {
        dist = dist.localCheckpoint(true)
        val row = dist.agg(count(lit(1)),
          sum(col("dist").cast(DecimalType(38, 0)))).head()
        val sig = (row.getLong(0), row.getDecimal(1))
        converged = sig == prevSig
        prevSig = sig
      }
      i += 1
    }
    edges.select(col("src").as("node")).distinct()
      .join(dist, Seq("node"), "left_outer")
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("node_id"),
        col("dist"))
      .orderBy("node_type", "node_id")
  }

  /** Benford first-digit audit — the fraud/data-quality screen: the
    * leading significant digit of every order total, its exact count and
    * share, against the Benford expectation log10(1 + 1/d). The
    * expectations are EMBEDDED LITERALS (the same nine doubles in the
    * Spark plan and the oracle SQL — log10 is libm territory and never
    * assumed to bit-match across engines; a literal parses to the
    * identical IEEE double everywhere). share and deviation are each one
    * IEEE operation on exact-integer operands.
    *
    * Scale: one partial-agg groupBy over a 9-value key; the totals join
    * is a 1-row broadcast.
    */
  private def q101(spark: SparkSession, dir: String): DataFrame =
    benfordFromCounts(Tables.load(spark, dir, "orders")
      .select(substring((d2(col("o_totalprice")) * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n")))

  /** The Benford finalization over a (digit, n) count table — shared by
    * q101 (batch rollup over order prices) and st_benford (the same
    * digit rollup folded by a stream over event values). The nine
    * expectations are literals from the SAME doubles the oracle embeds.
    */
  private[graft] def benfordFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n")).as("tot"))
    val p = (1 to 9).foldLeft(lit(0.0)) { (acc, d) =>
      when(col("digit") === d, lit(math.log10(1.0 + 1.0 / d))).otherwise(acc)
    }
    counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("tot").cast("double"))
      .withColumn("benford_p", p)
      .withColumn("deviation", col("share") - col("benford_p"))
      .select("digit", "n", "share", "benford_p", "deviation")
      .orderBy("digit")
  }

  /** First-order Markov transition matrix over user journeys — the
    * path-analysis primitive behind attribution modeling and funnel
    * simulation: per user in event-time order, each consecutive
    * (from → to) event-type pair counted, plus the row-normalized
    * transition probability (one IEEE division of exact counts). The
    * lag window is q79's exact envelope (per-user sort, event_id
    * tie-break).
    */
  private def q102(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_ns"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        col("event_type").as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(byTime))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("row_n"))
    trans.join(broadcast(totals), "from_type")
      .withColumn("p", col("n").cast("double") / col("row_n").cast("double"))
      .select("from_type", "to_type", "n", "p")
      .orderBy("from_type", "to_type")
  }

  /** AMS "tug-of-war" sketch (Alon–Matias–Szegedy STOC'96) for the second
    * frequency moment F2 = Σ_u f_u² — the self-join size — of user_id per
    * event class, VERIFIED against the exact F2 in the same result. 15
    * deterministic ±1 sign hashes (md5-parity of "ams<j>:<user>", the
    * [[portableHash60]] construction, so the oracle rebuilds identical
    * signs) accumulate as 15 plain sums in ONE scan — each counter's
    * square is an unbiased F2 estimate; median of 5 groups of 3 gives
    * the classic median-of-means concentration. All arithmetic is exact
    * integers until the single ÷3 at publish: group sums of squares stay
    * DECIMAL(38,0) (a counter is ≤ n, so c² overflows BIGINT past
    * n ≈ 3·10⁹ — a 100 TB class exceeds that), and the 5-way median is
    * an ELEMENT (odd count), never an average.
    *
    * Scale: the sketch is 15 columns of map-side partial sums — the
    * shuffle carries classes×15 numbers regardless of corpus size; the
    * exact-F2 pass (one (class,user) partial agg) is the verification
    * luxury a production run would drop, leaving a pure scan-and-fold.
    * This is the moment-sketch complement of q36/q53 (distinct) and
    * q38 (point frequency): join-size estimation before running q91's
    * exact audit.
    */
  /** q103's ±1 sign-counter exprs — 15 commutative sums, which is what
    * makes the sketch STREAMABLE bit-for-bit (st_ams folds the same
    * columns inside a streaming aggregate and shares q103's oracle).
    */
  private[graft] def amsSignCols: Seq[Column] =
    (1 to 15).map { j =>
      sum(when(portableHash60(
        concat(lit(s"ams$j:"), col("user_id").cast("string"))) % 2 === 1,
        lit(1L)).otherwise(lit(-1L))).as(s"c$j")
    }

  /** q103's counters → estimate finalization (squares in DECIMAL(38,0),
    * median-of-5-groups-of-3 as an array ELEMENT, exact-F2 verify from
    * the batch events table) — shared verbatim by batch q103 and the
    * streaming twin st_ams.
    */
  private[graft] def amsFinalize(counters: DataFrame, ev: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    def sq(j: Int): Column = col(s"c$j").cast(big) * col(s"c$j").cast(big)
    val groups = (0 until 5).map { g =>
      (sq(3 * g + 1) + sq(3 * g + 2) + sq(3 * g + 3)).as(s"g$g")
    }
    val est3 = element_at(
      array_sort(array((0 until 5).map(g => col(s"g$g")): _*)), 3)
    val exact = ev.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("f"))
      .groupBy("event_type")
      .agg(sum(col("f").cast(big) * col("f").cast(big)).as("f2"))
    counters.select(col("event_type") +: col("n") +: groups: _*)
      .withColumn("est3", est3)
      .join(broadcast(exact), "event_type")
      .select(col("event_type"), col("n"),
        col("f2").cast("double").as("exact_f2"),
        (col("est3").cast("double") / 3.0).as("ams_est"),
        (col("est3").cast("double") / 3.0 / col("f2").cast("double"))
          .as("est_ratio"))
      .orderBy("event_type")
  }

  private def q103(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    val counters = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), amsSignCols: _*)
    amsFinalize(counters, ev)
  }

  /** CUSUM changepoint detection over the per-class daily event series,
    * in EXACT cross-multiplied integers: with prefix_i = Σ_{j≤i} x_j and
    * total T over n days, the centered cumulative sum S_i = prefix_i −
    * i·T/n is scaled by n to D_i = n·prefix_i − i·T — exact BIGINTs —
    * and the changepoint is argmax |D_i| (ties → earliest day; D_n = 0
    * by construction so the argmax is interior whenever any drift
    * exists). Published means (before/after the change) are each ONE
    * IEEE division of exact integers, with the q77 0/0 guard on the
    * degenerate n = 1 series. The same cross-multiplication discipline
    * as q95's total-variation drift — a floating CUSUM recurrence would
    * never bit-match across engines.
    *
    * Scale: one (class, day) partial agg, then windows over the
    * DAY-GRAIN series (rows = classes × days — thousands at any corpus
    * size, the q74 resample envelope); the raw events never hit a
    * window.
    */
  private def q104(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val whole = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("i", row_number().over(byDay))
      .withColumn("prefix", sum(col("x")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("t", sum(col("x")).over(whole))
      .withColumn("d", col("n") * col("prefix") - col("i") * col("t"))
    val best = Window.partitionBy("event_type")
      .orderBy(abs(col("d")).desc, col("day").asc)
    scored.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"), col("t").as("total"),
        col("day").as("change_day"),
        (abs(col("d")).cast("double") / col("n").cast("double"))
          .as("max_cusum"),
        (col("prefix").cast("double") / col("i").cast("double"))
          .as("mean_before"),
        when(col("n") > col("i"),
          (col("t") - col("prefix")).cast("double")
            / (col("n") - col("i")).cast("double"))
          .as("mean_after"))
      .orderBy("event_type")
  }

  /** The q85 top-k written the way a USER writes it — the row_number
    * window idiom — and planned natively by [[graft.plans.TopKRewrite]]:
    * the optimizer rule recognizes `Filter(rn <= k)` over a sole
    * row_number Window whose rank is not published and swaps in the
    * two-phase bounded-heap [[graft.plans.TopKPerKeyPlan]], stripping
    * the redundant WindowGroupLimit. Same declarative source, the plan
    * you'd want at 100 TB: no full-table exchange, no partition sort,
    * no WindowExec (PlanSpec pins all three); the oracle gate is q85's
    * verbatim, so the rewrite is END-TO-END proven equal to the window
    * semantics, not just plan-shaped.
    */
  private def q110(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.TopKRewrite.install(spark)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Capped (floored-at-zero) running balance per user — the inventory /
    * wallet / rate-limiter recurrence b_i = max(0, b_{i−1} + δ_i) that
    * plain SQL windows CANNOT express (the clamp makes each prefix
    * depend on every earlier clamp): the extension ladder's (d) rung,
    * genuine per-group imperative logic via typed mapGroups with an
    * in-group sort on the total (ts_ns, event_id) order. Deltas are
    * exact integer cents (+purchase, −click); published facts are the
    * final balance, the running maximum, and the clamp count. The
    * oracle is a genuine RECURSIVE CTE stepping rn → rn+1 per user —
    * two different execution strategies, one recurrence, hash-equal.
    *
    * Scale: state per group is O(1); the only memory bound is one
    * user's event list in a task (the st_* sessionization envelope —
    * bounded by per-user activity, not corpus size; a pathological user
    * would call for the two-level rank + scan composition instead).
    * The shuffle is ONE hash exchange on user_id.
    */
  private def q109(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        when(col("event_type") === "purchase",
          (d2(col("value")) * 100).cast("long"))
          .when(col("event_type") === "click",
            -(d2(col("value")) * 100).cast("long"))
          .otherwise(lit(0L)).as("delta"))
      .as[(Long, Long, Long, Long)]
    ev.groupByKey(_._1).mapGroups { (u, it) =>
      val rows = it.toArray.sortBy(r => (r._2, r._3))
      var b = 0L; var mx = 0L; var hits = 0L
      rows.foreach { r =>
        val nb = b + r._4
        if (nb < 0) { hits += 1; b = 0L } else b = nb
        if (b > mx) mx = b
      }
      (u, rows.length.toLong, b, mx, hits)
    }.toDF("user_id", "n_events", "final_cents", "max_cents", "floor_hits")
      .orderBy("user_id")
  }

  /** Connected components over the trade graph — q100's Bellman–Ford
    * skeleton carrying MIN-LABEL propagation instead of distances:
    * label_v starts at v's own encoded id and six full rounds of
    * label_v := min(label_v, min_u label_u over neighbors) make every
    * label the minimum id within ≤ 6 hops — the component minimum once
    * the diameter is covered (the q100 fixed-point spec pins
    * sufficiency). The component id is therefore CANONICAL (smallest
    * encoded node id), not an arbitrary propagation artifact, and the
    * oracle's six chained relaxation CTEs share the identical finite
    * semantics. Per-node rows carry the component size via one
    * component-keyed partial agg.
    *
    * Scale: each round is one labels ⋈ edges shuffle (O(E)) + a
    * node-sized min — identical envelope to q100; the label table is
    * localCheckpointed per round so lineage stays flat. This completes
    * the graph family: reachability (q78), weighted paths (q100),
    * centrality (q39/q48), triangles (q54), components (here).
    */
  private def q107(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pw = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val edges = pw.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pw.select(col("s").as("src"), col("c").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // min-label propagation only DECREASES labels over a fixed node set,
    // so an unchanged decimal label sum is a PROVED fixpoint (per-node
    // monotone + equal sum ⇒ every label unchanged) and the remaining
    // budgeted rounds are the identity. The sum read is ~free on the
    // just-checkpointed frame; decimal because 10^9 nodes × 10^9-scale
    // ids would overflow a long sum. Converges in 3-4 of 6 here.
    def labelSum() = labels.agg(
      sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
    var prev: java.math.BigDecimal = null
    var cur = labelSum()
    var i = 0
    while (i < 6 && (prev == null || cur.compareTo(prev) != 0)) {
      prev = cur
      labels = labels.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
        .unionByName(labels.select("node", "label"))
        .groupBy("node").agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      cur = labelSum()
      i += 1
    }
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, "label")
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("node_id"),
        col("label").as("component"),
        col("comp_size"))
      .orderBy("node_type", "node_id")
  }

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer with q89's INTEGER quantile rule (boundary q_d = smallest
    * v with cum·5 ≥ n·d — no interpolation, no ntile tie-splitting), a
    * named-segment CASE in a fixed order, and cell-level rollup. All
    * three metrics reduce to exact integers first (days since epoch,
    * order count, spend cents), are unpivoted to (metric, value) rows,
    * and share ONE boundary computation partitioned by metric — the
    * same vc-exchange reuse as q89, three partitions instead of a
    * global window.
    *
    * Scale: per-customer aggregates are one partial-agg shuffle; the
    * boundary windows run over DISTINCT (metric, value) rows (≪
    * customers); scores join back via a 12-row broadcast. Cell output
    * is ≤ 5³ rows.
    */
  private def q108(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        datediff(max(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("r"),
        count(lit(1)).as("f"),
        (sum(d2(col("o_totalprice"))) * 100).cast("long").as("m"))
      .localCheckpoint(true)
    val unpiv = perCust.select(col("o_custkey"), lit("r").as("metric"),
        col("r").as("v"))
      .unionByName(perCust.select(col("o_custkey"), lit("f").as("metric"),
        col("f").as("v")))
      .unionByName(perCust.select(col("o_custkey"), lit("m").as("metric"),
        col("m").as("v")))
    val vc = unpiv.groupBy("metric", "v").agg(count(lit(1)).as("c"))
    val tot = vc.groupBy("metric").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("metric").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounds = vc.withColumn("cum", sum(col("c")).over(w))
      .join(tot, "metric")
      .groupBy("metric")
      .agg(
        min(when(col("cum") * 5 >= col("n"), col("v"))).as("b1"),
        min(when(col("cum") * 5 >= col("n") * 2, col("v"))).as("b2"),
        min(when(col("cum") * 5 >= col("n") * 3, col("v"))).as("b3"),
        min(when(col("cum") * 5 >= col("n") * 4, col("v"))).as("b4"))
    val scored = unpiv.join(broadcast(bounds), "metric")
      .withColumn("score",
        when(col("v") <= col("b1"), 1).when(col("v") <= col("b2"), 2)
          .when(col("v") <= col("b3"), 3).when(col("v") <= col("b4"), 4)
          .otherwise(5))
      .groupBy("o_custkey")
      .agg(
        max(when(col("metric") === "r", col("score"))).as("r_score"),
        max(when(col("metric") === "f", col("score"))).as("f_score"),
        max(when(col("metric") === "m", col("score"))).as("m_score"),
        max(when(col("metric") === "m", col("v"))).as("cents"))
    scored
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4
          && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
          .when(col("r_score") >= 4, "recent")
          .when(col("f_score") >= 4, "frequent_lapsed")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular"))
      .groupBy("r_score", "f_score", "m_score", "segment")
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("cents")).cast("double") / 100.0).as("total_spend"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Stratified sampling with EXACT proportional allocation — the
    * curation primitive behind "sample 1M docs preserving the source
    * mix". Allocation is the largest-remainder rule over integer
    * arithmetic only (base = ⌊m·cnt_s/N⌋; the m − Σbase leftovers go to
    * the largest exact remainders (m·cnt_s mod N), ties → stratum name
    * asc — q98's cent-conservation discipline, so Σalloc = m exactly),
    * and membership is rank-under-allocation in the portable-hash order
    * (h(key), key) — deterministic, reproducible, and joinable across
    * engines, the q27 fixed-point convention. Published facts: population
    * and sample sizes per stratum plus the exact-decimal spend sum and a
    * key-XOR checksum — the oracle matching proves the SAMPLE SET is
    * identical, not just its size.
    *
    * Scale: one partial-agg for counts, a 5-row broadcast of the
    * allocation, one per-stratum window over the data (partitioned —
    * never global), zero driver actions. The only global window runs
    * over the 5-row allocation table (bounded by the stratum alphabet,
    * q87's bucket-maxima argument).
    */
  private def q105(spark: SparkSession, dir: String): DataFrame = {
    val m = 1000L
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority").as("strat"), col("o_orderkey"),
        d2(col("o_totalprice")).as("price"),
        portableHash60(concat(lit("strat:"), col("o_orderkey").cast("string")))
          .as("h"))
    val cnts = o.groupBy("strat").agg(count(lit(1)).as("cnt"))
    val withTot = cnts.crossJoin(broadcast(cnts.agg(sum("cnt").as("n_tot"))))
      .withColumn("base", expr(s"($m * cnt) div n_tot"))
      .withColumn("frac", expr(s"($m * cnt) % n_tot"))
    val alloc = withTot
      .crossJoin(broadcast(withTot.agg(sum("base").as("sum_base"))))
      .withColumn("xr",
        row_number().over(Window.orderBy(col("frac").desc, col("strat").asc)))
      .withColumn("alloc",
        col("base") + when(col("xr") <= lit(m) - col("sum_base"), 1L)
          .otherwise(0L))
      .select("strat", "cnt", "alloc")
    val byHash = Window.partitionBy("strat").orderBy(col("h"), col("o_orderkey"))
    o.join(broadcast(alloc), "strat")
      .withColumn("rn", row_number().over(byHash))
      .filter(col("rn") <= col("alloc"))
      .groupBy("strat")
      .agg(max(col("cnt")).as("n_pop"), max(col("alloc")).as("alloc_out"),
        count(lit(1)).as("n_sampled"),
        sum(col("price")).cast("double").as("sum_price"),
        expr("bit_xor(h)").as("key_xor"))
      .select(col("strat"), col("n_pop"), col("alloc_out").as("alloc"),
        col("n_sampled"), col("sum_price"), col("key_xor"))
      .orderBy("strat")
  }

  /** Frequent-itemset / association rules over order baskets (Agrawal
    * VLDB'94's support-confidence-lift frame at the pair level): each
    * order's DISTINCT part brands form the basket, co-occurrence counts
    * come from the within-order pair join (a < b), and every published
    * ratio is ONE IEEE division of exact cross-multiplied integers —
    * lift = N·supp_ab / (supp_a·supp_b) with the product in the
    * numerator/denominator BEFORE the division, never a ratio of
    * ratios. Support threshold is absolute (≥ 10 co-orders) so the rule
    * set is deterministic at any SF.
    *
    * Scale: the pair generation is WITHIN-ORDER (baskets are bounded by
    * lines-per-order ≤ 7, so fan-out ≤ C(7,2) per order — linear in
    * orders, never brand² across the corpus); the rule aggregation
    * lands on ≤ brands² keys, a few hundred rows. The shape survives
    * 100× because basket size is a schema property, not a data-volume
    * one.
    */
  private def q106(spark: SparkSession, dir: String): DataFrame = {
    val minSupp = 10L
    val baskets = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("p_brand")).distinct()
      .localCheckpoint(true)
    val nOrders = baskets.select(countDistinct(col("ok")).as("n_orders"))
    val supp = baskets.groupBy("p_brand").agg(count(lit(1)).as("supp"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"), col("a.ok") === col("b.ok")
        && col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minSupp)
    pairs
      .join(broadcast(supp.withColumnRenamed("p_brand", "brand_a")
        .withColumnRenamed("supp", "supp_a")), "brand_a")
      .join(broadcast(supp.withColumnRenamed("p_brand", "brand_b")
        .withColumnRenamed("supp", "supp_b")), "brand_b")
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("supp_ab"),
        col("supp_a"), col("supp_b"),
        (col("supp_ab").cast("double") / col("supp_a").cast("double"))
          .as("conf_a_to_b"),
        (col("supp_ab").cast("double") / col("supp_b").cast("double"))
          .as("conf_b_to_a"),
        ((col("n_orders") * col("supp_ab")).cast("double")
          / (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  /** The q111 moment rollup over a (event_type, day, y) day-grain table —
    * shared verbatim by batch q111 and the streaming twin st_regression
    * (the day grain is computed in-stream there; this rollup is the
    * stateless classes-sized finalization).
    */
  private[graft] def olsFromDaily(daily: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    def dec(c: Column): Column = c.cast(big)
    val m = daily
      .withColumn("x",
        datediff(to_date(col("day")), lit("1970-01-01").cast("date"))
          .cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"))
      .withColumn("num", dec(col("n")) * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", dec(col("n")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny", dec(col("n")) * col("syy") - col("sy") * col("sy"))
    m.select(
      col("event_type"), col("n").as("n_days"),
      when(col("den") > 0,
        col("num").cast("double") / col("den").cast("double")).as("slope"),
      when(col("den") > 0,
        (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
          / col("den").cast("double")).as("intercept"),
      when(col("den") > 0 && col("deny") > 0,
        (col("num").cast("double") / col("den").cast("double"))
          * (col("num").cast("double") / col("deny").cast("double")))
        .as("r2"))
      .orderBy("event_type")
  }

  /** Group-wise ordinary least squares — the TREND complement of q104's
    * changepoint: per event class, the daily event count regressed on
    * the day's epoch-day index. Every moment (n, Σx, Σy, Σxy, Σx², Σy²)
    * is an exact integer accumulated in DECIMAL(38,0) — products are
    * taken AFTER the decimal widening so y² cannot overflow a BIGINT at
    * any corpus size — and sums are commutative, so the fit is
    * bit-identical in any execution/merge order (which is what makes it
    * STREAMABLE: st_regression shares this oracle verbatim). Published
    * coefficients are FIXED IEEE expressions over exact operands:
    * slope = num/den (num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)²),
    * intercept = (Σy·Σx² − Σx·Σxy)/den (the exact cross-multiplied
    * rational — one division), r² = (num/den)·(num/deny) with
    * deny = n·Σy² − (Σy)². Degenerate groups (a single day, zero x or y
    * variance) publish NULL, not NaN (the q77 0/0 lesson).
    *
    * Scale: ONE partial-agg shuffle to the bounded (class, day) grain,
    * then a classes-sized moment rollup — the sufficient-statistics
    * shape: no window, no sort, no second scan.
    */
  private def q111(spark: SparkSession, dir: String): DataFrame =
    olsFromDaily(
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("y")))

  /** k-core decomposition — the graph-density screen (community cores,
    * spam-farm detection) completing the graph family (reachability
    * q78, weighted paths q100, components q107, centrality q39/q48,
    * triangles q54): iterative peeling removes nodes whose degree among
    * SURVIVORS is < k, six rounds per k ∈ {2, 3} (the q100 finite
    * semantics — after round i both engines have applied exactly i
    * peels, and the oracle's chained CTEs define the same sequence).
    * Output per node: its initial degree and 2-core / 3-core survival.
    *
    * Scale: each round is two semi-joins (edges ⋈ survivors) plus a
    * node-sized degree count — O(E) per round, localCheckpointed so
    * lineage doesn't nest twelve joins; no windows, no collects.
    */
  private def q112(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pw = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val edges = pw.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pw.select(col("s").as("src"), col("c").as("dst")))
      .localCheckpoint(true)
    val deg0 = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    def core(k: Int): DataFrame = {
      var alive = deg0.select("node")
      // peeling only SHRINKS the alive set, so an unchanged count is a
      // proved fixpoint — every further iteration is the identity. The
      // count read is ~free (the set was just eagerly checkpointed), and
      // this graph converges in 2-3 of the 6 budgeted rounds.
      var prev = -1L
      var n = alive.count()
      var i = 0
      while (i < 6 && n != prev) {
        prev = n
        alive = edges
          .join(alive.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("node")
          .localCheckpoint(true)
        n = alive.count()
        i += 1
      }
      alive
    }
    val c2 = core(2).withColumn("in_2core", lit(true))
    val c3 = core(3).withColumn("in_3core", lit(true))
    deg0.join(c2, Seq("node"), "left_outer")
      .join(c3, Seq("node"), "left_outer")
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("node_id"),
        col("degree"),
        coalesce(col("in_2core"), lit(false)).as("in_2core"),
        coalesce(col("in_3core"), lit(false)).as("in_3core"))
      .orderBy("node_type", "node_id")
  }

  /** One candidate of the q113 functional-dependency audit: does lhs
    * determine rhs in df? Exact counts — distinct lhs, distinct
    * (lhs, rhs) pairs, lhs values with > 1 rhs — and the verdict
    * holds ⟺ max distinct-rhs per lhs is 1.
    */
  private def fdOne(label: String, df: DataFrame,
      lhs: String, rhs: String): DataFrame =
    df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("k"))
      .agg(count(lit(1)).as("n_lhs"), sum(col("k")).as("n_pairs"),
        sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"),
        (max(col("k")) === 1).as("holds"))
      .select(lit(label).as("fd"), col("n_lhs"), col("n_pairs"),
        col("n_violating"), col("holds"))

  /** Functional-dependency discovery — the schema-profiling op behind
    * normalization audits and join-key inference (the metadata
    * complement of q40's value profile and q77's referential audit):
    * for a fixed candidate list, does the left column DETERMINE the
    * right one? Exact verdict per candidate — distinct lhs count,
    * distinct (lhs, rhs) pair count, number of violating lhs values —
    * with holds ⟺ no lhs maps to two rhs values. Key-led candidates
    * prove the method (a primary key determines everything); the
    * data-led ones report genuine violations.
    *
    * Scale: each candidate is one partial-agg pass over its table's two
    * columns (countDistinct = one more exchange on the lhs grain); the
    * union is candidate-count rows. No candidate enumeration explosion —
    * the list is declared, the classic lattice search being a driver
    * concern, not a data-plane one.
    */
  private def q113(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val cust = Tables.load(spark, dir, "customer")
    val part = Tables.load(spark, dir, "part")
    val orders = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val docs = Tables.load(spark, dir, "documents")
    fdOne("nation:n_nationkey->n_regionkey", nation, "n_nationkey", "n_regionkey")
      .unionByName(fdOne("customer:c_nationkey->c_mktsegment", cust,
        "c_nationkey", "c_mktsegment"))
      .unionByName(fdOne("part:p_brand->p_type", part, "p_brand", "p_type"))
      .unionByName(fdOne("orders:o_custkey->o_orderpriority", orders,
        "o_custkey", "o_orderpriority"))
      .unionByName(fdOne("lineitem:l_partkey->l_suppkey", li,
        "l_partkey", "l_suppkey"))
      .unionByName(fdOne("documents:source->lang", docs, "source", "lang"))
      .orderBy("fd")
  }

  /** Bitmap membership summaries — the bitmap-index / Bloom-filter
    * building block with its precision MEASURED exactly: per event
    * class, a 60-slot occupancy mask (bitwise OR of 1 << user_id mod 60
    * — OR is commutative and idempotent, so the mask is order-free and
    * mergeable, the sketch-algebra property q82's KMV union relies on),
    * then every DISTINCT user tested against every class mask (the
    * masks are a classes-row broadcast) counting exact members vs mask
    * passers; the false-positive share is ONE IEEE division of exact
    * counts. This is the evaluation a filter-pushdown planner reads
    * before trusting a small-bitmap prefilter.
    *
    * Scale: mask build is one partial-agg fold (classes × 1 long); the
    * test pass is a scan-stage broadcast filter over the distinct-user
    * grain — no corpus shuffle beyond the distinct.
    */
  /** q114's per-row bitmap slot — 1 << (user_id mod 60), shared with
    * the streaming twin st_bitmap.
    */
  private[graft] def bitmapSlot: Column =
    expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 60 AS INT))")

  /** q114's masks → precision-evaluation finalization (distinct-member
    * counts, mask test over the distinct-user grain, one-division fp
    * share) — shared verbatim by batch q114 and st_bitmap (the OR fold
    * is commutative AND idempotent, so the streamed mask is
    * bit-identical to the batch one by algebra).
    */
  private[graft] def bitmapFinalize(masks: DataFrame, ev: DataFrame): DataFrame = {
    val members = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_members"))
    val tested = ev.select("user_id").distinct()
      .crossJoin(broadcast(masks))
      .filter(col("mask").bitwiseAND(bitmapSlot) =!= 0)
      .groupBy("event_type").agg(count(lit(1)).as("n_pass"))
    masks.join(broadcast(members), "event_type").join(tested, "event_type")
      .select(col("event_type"), col("mask"),
        bit_count(col("mask")).as("n_bits"),
        col("n_members"), col("n_pass"),
        ((col("n_pass") - col("n_members")).cast("double")
          / col("n_pass").cast("double")).as("fp_share"))
      .orderBy("event_type")
  }

  private def q114(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    bitmapFinalize(
      ev.groupBy("event_type").agg(bit_or(bitmapSlot).as("mask")), ev)
  }

  /** Item-item similarity from co-occurrence — the collaborative-
    * filtering primitive (Sarwar WWW'01 item-kNN / SimRank's 1-hop):
    * suppliers are similar when their CUSTOMER NEIGHBORHOODS overlap.
    * Pair generation is the shared-customer equi join (the
    * dd_ngram_jaccard kernel on graph data), with the SAME df-cap
    * discipline: customers with more than 50 distinct suppliers are
    * excluded from pair generation ON BOTH ENGINES (the cap is live at
    * sf0.01 — the gated branch, not dormant hygiene), so the join
    * fan-out is ≤ cap² per customer — linear in customers, never
    * supplier² across the corpus. Jaccard and containment are each ONE
    * IEEE division of exact integer set sizes; support floor ≥ 3 keeps
    * the pair set deterministic.
    *
    * Scale: neighborhood sizes (the denominators) come from the
    * UNCAPPED edge set — the cap bounds only who GENERATES pairs; a
    * hot customer contributes its suppliers' degrees but not its d²
    * pairs (exactly dd_ngram's df-cap trade, documented there).
    */
  /** q115's capped customer–supplier incidence and its co-supplier pair
    * frame (common ≥ 3) — factored so the sparsity gauge measures the
    * SAME frames the query consumes. The cust-degree cap (≤ 50) is the
    * density control: pair fan-out per customer is ≤ C(50, 2) by
    * pigeonhole, so the pair stage is linear in customers.
    */
  private def q115Incidence(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
      .localCheckpoint(true)
  }

  private def q115Capped(pw: DataFrame): DataFrame = {
    val keep = pw.groupBy("cust").agg(count(lit(1)).as("d"))
      .filter(col("d") <= 50L).select("cust")
    pw.join(keep, Seq("cust"), "left_semi")
  }

  private def q115Pairs(capped: DataFrame): DataFrame =
    capped.as("a")
      .join(capped.as("b"),
        col("a.cust") === col("b.cust") && col("a.supp") < col("b.supp"))
      .groupBy(col("a.supp").as("s1"), col("b.supp").as("s2"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 3)

  private def q115(spark: SparkSession, dir: String): DataFrame = {
    val pw = q115Incidence(spark, dir)
    val deg = pw.groupBy("supp").agg(count(lit(1)).as("n"))
    val pairs = q115Pairs(q115Capped(pw))
    pairs
      .join(broadcast(deg.select(col("supp").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(deg.select(col("supp").as("s2"), col("n").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("common"), col("n1"), col("n2"),
        (col("common").cast("double")
          / (col("n1") + col("n2") - col("common")).cast("double"))
          .as("jaccard"),
        (col("common").cast("double")
          / least(col("n1"), col("n2")).cast("double")).as("containment"))
      .orderBy("s1", "s2")
  }

  /** Frequent contiguous event-type trigrams — fixed-length sequence
    * mining (the SPADE/PrefixSpan family at the pattern length a funnel
    * designer actually reads): per user in the total (ts_ns, event_id)
    * order, every 3-event window becomes a pattern; support = DISTINCT
    * users containing it (the sequence-mining support definition),
    * alongside raw occurrences; floor ≥ 5 users, top-25 by
    * (support DESC, occurrences DESC, pattern).
    *
    * Scale: the lead window runs per user (q79's envelope); patterns
    * aggregate on a ≤ classes³ key space; TakeOrdered top-k.
    */
  private def q116(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(byTime))
      .withColumn("e3", lead(col("event_type"), 2).over(byTime))
      .filter(col("e3").isNotNull)
      .select(col("user_id"),
        concat_ws(">", col("event_type"), col("e2"), col("e3")).as("pattern"))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_occur"), countDistinct(col("user_id")).as("n_users"))
      .filter(col("n_users") >= 5)
      .orderBy(col("n_users").desc, col("n_occur").desc, col("pattern"))
      .limit(25)
  }

  /** 7-day moving MEDIAN of the per-class daily counts — the robust
    * trend smoother (q97's EMA follows spikes; the median ignores
    * them), computed with the EXACT integer rule: the trailing window's
    * values are collected, sorted, and the lower median (element
    * ⌈n/2⌉) published as an exact BIGINT — no interpolation, no IEEE
    * anywhere. Windows run over the bounded day grain only (the q104
    * envelope), and the collected window is ≤ 7 elements by
    * construction — a rowsBetween frame, never a corpus-sized list.
    */
  private def q117(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("win", array_sort(collect_list(col("x")).over(w)))
      .select(col("event_type"), col("day"), col("x"),
        size(col("win")).as("w_n"),
        element_at(col("win"),
          expr("CAST((size(win) + 1) div 2 AS INT)")).as("moving_median"))
      .orderBy("event_type", "day")
  }

  /** Binary segmentation (depth 2) — the standard MULTI-changepoint
    * method (Scott–Knott / binary segmentation): q104's exact-integer
    * CUSUM finds the root changepoint, the series splits there, and the
    * same argmax |n'·prefix'_i − i·T'| rule runs INSIDE each half with
    * its own local totals — every D value an exact BIGINT, ties to the
    * earliest day, one IEEE division per published row. Segments with
    * fewer than 2 days publish nothing (both engines).
    *
    * Scale: the second level is the SAME bounded day-grain window work
    * partitioned by (class, segment) — still classes × days rows.
    */
  private def q118(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    def cusum(df: DataFrame, part: Seq[String]): DataFrame = {
      val byDay = Window.partitionBy(part.map(col): _*).orderBy("day")
      val whole = Window.partitionBy(part.map(col): _*)
      val scored = df
        .withColumn("i", row_number().over(byDay))
        .withColumn("prefix", sum(col("x")).over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(whole))
        .withColumn("t", sum(col("x")).over(whole))
        .withColumn("d", col("n") * col("prefix") - col("i") * col("t"))
      val best = Window.partitionBy(part.map(col): _*)
        .orderBy(abs(col("d")).desc, col("day").asc)
      scored.withColumn("rk", row_number().over(best)).filter(col("rk") === 1)
    }
    val root = cusum(daily, Seq("event_type")).localCheckpoint(true)
    val withSeg = daily
      .join(root.select(col("event_type"), col("day").as("cday")),
        "event_type")
      .withColumn("segment",
        when(col("day") <= col("cday"), lit("left")).otherwise(lit("right")))
      .select("event_type", "segment", "day", "x")
    val halves = cusum(withSeg, Seq("event_type", "segment"))
      .filter(col("n") >= 2)
    val out = root
      .select(col("event_type"), lit("root").as("segment"),
        col("n").as("seg_days"), col("day").as("change_day"),
        (abs(col("d")).cast("double") / col("n").cast("double"))
          .as("max_cusum"))
      .unionByName(halves.select(col("event_type"), col("segment"),
        col("n").as("seg_days"), col("day").as("change_day"),
        (abs(col("d")).cast("double") / col("n").cast("double"))
          .as("max_cusum")))
    out.orderBy("event_type", "segment")
  }

  /** Linear interpolation with SELF-VALIDATED reconstruction — the
    * gap-filling complement of q74's forward fill, with the
    * interpolation branch kept LIVE at every SF by deterministic
    * decimation: every third calendar day (day_idx ≡ 0 mod 3) is
    * masked, rebuilt as the exact linear blend of its nearest KEPT
    * neighbors — (y_prev·(d_next − d) + y_next·(d − d_prev)) /
    * (d_next − d_prev), exact integer numerator, ONE IEEE division —
    * and scored against the held-out truth (|filled − raw|, the
    * reconstruction error a downsampling/outage-recovery decision
    * reads). Masked boundary days with no neighbor on one side
    * propagate NULL identically on both engines.
    *
    * Scale: the grid is classes × days (bounded); the neighbor windows
    * run over that grain with ignoreNulls running extremes — no
    * self-join, no per-gap scan.
    */
  private def q119(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val daily = Tables.events(spark, dir)
      .select(expr(s"ts_ns div $dayNs").as("d"), col("event_type"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("y"))
    interpolateDaily(daily)
  }

  /** q119's decimate-and-rebuild finalization over a (event_type, d, y)
    * day-grain table — shared verbatim by batch q119 and the streaming
    * twin st_interpolate (the day-grain reduction is the only unbounded
    * part; this grid work is classes × days).
    */
  private[graft] def interpolateDaily(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy("event_type")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("d"))
    val joined = grid.join(daily, Seq("event_type", "d"), "left_outer")
      .withColumn("kept", col("y").isNotNull && col("d") % 3 =!= 0)
      .withColumn("yk", when(col("kept"), col("y")))
    val back = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    joined
      .withColumn("py", last(col("yk"), ignoreNulls = true).over(back))
      .withColumn("pd",
        last(when(col("yk").isNotNull, col("d")), ignoreNulls = true).over(back))
      .withColumn("ny", first(col("yk"), ignoreNulls = true).over(fwd))
      .withColumn("nd",
        first(when(col("yk").isNotNull, col("d")), ignoreNulls = true).over(fwd))
      .withColumn("filled",
        when(col("kept"), col("y").cast("double"))
          .otherwise(
            (col("py") * (col("nd") - col("d"))
              + col("ny") * (col("d") - col("pd"))).cast("double")
              / (col("nd") - col("pd")).cast("double")))
      .select(col("event_type"), col("d").as("day_idx"),
        col("kept").cast("int").as("is_kept"),
        col("y").as("y_raw"), col("filled").as("y_filled"),
        when(!col("kept") && col("y").isNotNull,
          abs(col("filled") - col("y").cast("double"))).as("recon_err"))
      .orderBy("event_type", "day_idx")
  }

  /** Moving MAD bands — q117's trailing window upgraded to a robust
    * volatility screen: over the same 7-day frame, the lower-median
    * element AND the median absolute deviation (the lower-median
    * element of |x − med| over the same frame) are both EXACT integers
    * via in-row array arithmetic on the ≤ 7 collected values — the
    * anomaly flag |x − med| > 3·MAD is then an exact integer
    * comparison, no IEEE anywhere (the robust complement of q41's
    * mean/stddev z-score flags, which a single spike corrupts).
    *
    * Scale: identical to q117 — windows over the bounded day grain,
    * frames ≤ 7 elements by construction.
    */
  private def q121(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("win", array_sort(collect_list(col("x")).over(w)))
      .withColumn("med", element_at(col("win"),
        expr("CAST((size(win) + 1) div 2 AS INT)")))
      .withColumn("devs",
        array_sort(transform(col("win"), v => abs(v - col("med")))))
      .select(col("event_type"), col("day"), col("x"),
        col("med").as("moving_median"),
        element_at(col("devs"),
          expr("CAST((size(devs) + 1) div 2 AS INT)")).as("moving_mad"))
      .withColumn("is_outlier",
        abs(col("x") - col("moving_median")) > lit(3) * col("moving_mad"))
      .orderBy("event_type", "day")
  }

  /** Maximum drawdown — the peak-to-trough risk metric every
    * equity-curve / KPI-regression monitor reads: per class, the daily
    * purchase-revenue cents accumulate into a running total, the
    * running MAXIMUM of that prefix is the high-water mark, and the
    * drawdown on each day is mark − prefix — all exact BIGINT cents
    * through plain windows (the recurrence-free formulation: cummax of
    * a cumsum — where q109's clamp genuinely needed mapGroups, this
    * one provably does not). Published: the deepest drawdown, its
    * EARLIEST trough day (tie rule), the high-water mark, and the
    * final balance.
    *
    * Scale: one partial-agg to the day grain, windows over
    * classes × days rows.
    */
  private def q122(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum((d2(col("value")) * 100).cast("long")).as("cents"))
    val byDay = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("equity", sum(col("cents")).over(byDay))
      .withColumn("mark", max(col("equity")).over(byDay))
      .withColumn("dd", col("mark") - col("equity"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
    val best = Window.orderBy(col("dd").desc, col("day").asc)
    scored.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(
        col("n").as("n_days"),
        col("day").as("trough_day"),
        col("dd").as("max_drawdown_cents"),
        col("mark").as("high_water_cents"),
        col("equity").as("trough_equity_cents"))
  }

  /** Gini coefficient — the inequality/concentration screen (how
    * skewed is customer spend within each nation?) in its exact
    * rank-moment form: over per-customer spend cents sorted ascending
    * with rank i, G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) — numerator
    * and denominator exact DECIMAL(38,0), ONE IEEE division. Rank ties
    * (equal spends) cannot change Σ i·x_i (the i coefficients permute
    * over equal x), so the statistic is deterministic without a
    * tie-break — stated here because it is why the formula is
    * hash-gateable at all.
    *
    * Scale: customer-grain partial agg, rank window partitioned by
    * nation, nation-sized rollup.
    */
  private def q123(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val spend = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg((sum(d2(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    spend.withColumn("i", row_number().over(w))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents").cast(big)).as("sx"),
        sum(col("i").cast(big) * col("cents")).as("six"))
      .select(col("c_nationkey"), col("n_customers"),
        col("sx").cast("long").as("total_cents"),
        when(col("sx") > 0,
          (lit(2).cast(big) * col("six")
            - (col("n_customers") + 1).cast(big) * col("sx")).cast("double")
            / (col("n_customers").cast(big) * col("sx")).cast("double"))
          .as("gini"))
      .orderBy("c_nationkey")
  }

  /** Herfindahl–Hirschman concentration index — the antitrust /
    * source-mixing metric (is a nation's trade volume dominated by a
    * few suppliers?): HHI = Σ x_i² / (Σ x_i)² over per-supplier volume
    * cents, squares taken in DECIMAL(38,0) (x² overflows BIGINT past
    * x ≈ 3·10⁹ cents), ONE division; the hottest supplier's share
    * alongside (max/Σ, one more single division). The exact form of
    * the concentration check a data-mixing pipeline runs on source
    * shares (ta_mixture's cousin on value mass instead of doc counts).
    *
    * Scale: supplier-grain partial agg, nation-sized rollup.
    */
  private def q124(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val vol = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg((sum(d2(col("l_extendedprice"))) * 100).cast("long").as("cents"))
    vol.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("cents").cast(big)).as("sx"),
        sum(col("cents").cast(big) * col("cents")).as("sxx"),
        max(col("cents")).as("mx"))
      .select(col("s_nationkey"), col("n_suppliers"),
        col("sx").cast("long").as("total_cents"),
        when(col("sx") > 0,
          col("sxx").cast("double")
            / (col("sx") * col("sx")).cast("double")).as("hhi"),
        when(col("sx") > 0,
          col("mx").cast("double") / col("sx").cast("double"))
          .as("top_share"))
      .orderBy("s_nationkey")
  }

  /** Seasonality detection — the mm_audio_autocorr machinery on
    * business data: integer autocorrelation of each class's daily count
    * series at lags 1/2/3/7 (the weekly-period probe). Lag products
    * Σ x_i·x_{i+L} accumulate in DECIMAL(38,0) (a 100 TB class's daily
    * count squares past BIGINT), published as ratios to the lag-0
    * energy — each ONE IEEE division of exact integers. A ρ₇ peak over
    * ρ₁..ρ₃ is the weekly-cycle verdict.
    *
    * Scale: lead windows over the bounded day grain; classes-sized
    * rollup.
    */
  private def q125(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("x1", lead(col("x"), 1).over(w))
      .withColumn("x2", lead(col("x"), 2).over(w))
      .withColumn("x3", lead(col("x"), 3).over(w))
      .withColumn("x7", lead(col("x"), 7).over(w))
    def r(c: String): Column = sum(col("x").cast(big) * col(c))
    val m = lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast(big) * col("x")).as("r0"),
        r("x1").as("r1"), r("x2").as("r2"), r("x3").as("r3"),
        r("x7").as("r7"))
    def rho(c: String): Column =
      when(col("r0") > 0, col(c).cast("double") / col("r0").cast("double"))
    m.select(col("event_type"), col("n_days"),
      col("r0").cast("double").as("energy"),
      rho("r1").as("rho1"), rho("r2").as("rho2"),
      rho("r3").as("rho3"), rho("r7").as("rho7"))
      .orderBy("event_type")
  }

  /** Lag-feature materialization — the feature-engineering pass an ML
    * training pipeline runs before fitting a forecaster: per (class,
    * day), the lag-1 and lag-7 counts, the day-over-day delta (exact
    * integer), the week-over-week percent change and the trailing 7-day
    * mean (each ONE IEEE division of exact integers, NULL where the lag
    * does not exist — the q77 guard). The feature matrix q111/q125
    * would consume; materializing it once is the point (recomputing
    * lags per model is the anti-pattern).
    *
    * Scale: one partial agg to the day grain; lag windows and the
    * trailing frame over classes × days rows.
    */
  private def q126(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val trail = w.rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("lag1", lag(col("x"), 1).over(w))
      .withColumn("lag7", lag(col("x"), 7).over(w))
      .withColumn("s7", sum(col("x")).over(trail))
      .withColumn("n7", count(lit(1)).over(trail))
      .select(col("event_type"), col("day"), col("x"),
        col("lag1"), col("lag7"),
        (col("x") - col("lag1")).as("delta1"),
        when(col("lag7") > 0,
          (col("x") - col("lag7")).cast("double")
            / col("lag7").cast("double")).as("wow_change"),
        (col("s7").cast("double") / col("n7").cast("double"))
          .as("mean7"))
      .orderBy("event_type", "day")
  }

  /** Grid-banded spatial proximity join — the geospatial family's
    * entry, on deterministically derived coordinates (each customer
    * gets an integer (x, y) in a 10000² grid from the portable
    * md5-prefix hash — the synthesizeMedia convention: both engines
    * derive identical points): pairs within Euclidean distance 150 are
    * found by the 3×3 NEIGHBOR-CELL join (cell = coord div 250, so a
    * qualifying pair can never be more than one cell apart — the
    * pigeonhole argument of the banded Hamming joins in spatial form),
    * then verified with EXACT integer squared distance. Never an
    * all-pairs join: fan-out is 9 probes per point, candidates bounded
    * by cell occupancy.
    *
    * Scale: the equi join on cell keys is the standard distributed
    * spatial-bucketing shape (uniform grids ⇔ geohash prefixes); skewed
    * cells would salt exactly like any hot key.
    */
  private def q127(spark: SparkSession, dir: String): DataFrame = {
    val cell = 250
    val pts = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("id"),
        (portableHash60(concat(lit("gx:"), col("c_custkey").cast("string")))
          % 10000).as("x"),
        (portableHash60(concat(lit("gy:"), col("c_custkey").cast("string")))
          % 10000).as("y"))
      .localCheckpoint(true)
    val homed = pts
      .withColumn("cx", expr(s"x div $cell"))
      .withColumn("cy", expr(s"y div $cell"))
    val probes = homed
      .withColumn("dx", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("dy", explode(array((-1 to 1).map(lit): _*)))
      .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    probes
      .join(homed.select(col("id").as("b_id"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist_sq",
        (col("ax") - col("bx")) * (col("ax") - col("bx"))
          + (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("dist_sq") <= 150 * 150)
      .select("a_id", "b_id", "dist_sq")
      .orderBy("a_id", "b_id")
  }

  /** Active-user accounting — the DAU/WAU/new/cumulative growth panel
    * every product dashboard opens with, all EXACT: per calendar day,
    * the distinct actives (DAU), the 7-day rolling distinct actives
    * (WAU — each user-day emits its 7-day visibility window and
    * distinct (user, day) pairs are counted, the exact formulation a
    * windowed countDistinct cannot express), first-time users, and the
    * cumulative registered base (a running sum over the day grain).
    *
    * Scale: user-day dedup is one partial-agg exchange; the WAU
    * explode is a bounded ×7 fan-out of the USER-DAY grain (not raw
    * events); the panel itself is days-sized.
    */
  private def q128(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("d"))
      .distinct()
      .localCheckpoint(true)
    val span = graft.tools.Scalar.scalarRow(
      ud.agg(min("d").as("d0"), max("d").as("d1")))
    val dau = ud.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = ud
      .withColumn("k", explode(sequence(lit(0), lit(6))))
      .select(col("user_id"), (col("d") + col("k")).as("d"))
      .distinct()
      .crossJoin(broadcast(span))
      .filter(col("d") <= col("d1"))
      .groupBy("d").agg(count(lit(1)).as("wau"))
    val firstSeen = ud.groupBy("user_id").agg(min("d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_users"))
    // every calendar day in the span exists in the panel — an activity
    // gap must read as DAU=0 rows, not as missing days (the inner-join
    // cut silently dropped zero-DAU days whose WAU was still positive)
    val grid = span.select(explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(dau, Seq("d"), "left_outer")
      .join(wau, Seq("d"), "left_outer")
      .join(firstSeen, Seq("d"), "left_outer")
      .withColumn("dau", coalesce(col("dau"), lit(0L)))
      .withColumn("wau", coalesce(col("wau"), lit(0L)))
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("d").as("day_idx"), col("dau"), col("wau"),
        col("new_users"), col("cum_users"))
      .orderBy("day_idx")
  }

  /** Session-concurrency heatmap — the capacity-planning read on q16's
    * sessions: per calendar hour, how many sessions are IN FLIGHT
    * (their [start, end] span overlaps the hour), how many start, how
    * many end, and the distinct users active. Sessions explode into the
    * hours they span (the q88 interval-decomposition discipline — a
    * session is gap-bounded at 30 min, so the span is small by
    * construction), and the heatmap aggregates on the bounded hour
    * grain — no sweep-line global window, which would order ALL
    * boundaries in one partition.
    */
  private def q129(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val gapNs = 1800L * 1000000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val gapped = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"))
      .withColumn("is_new",
        when(col("ts_ns") - lag(col("ts_ns"), 1).over(w) > gapNs, 1)
          .otherwise(0))
    val bounds = gapped
      .withColumn("sid", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min(col("ts_ns")).as("s"), max(col("ts_ns")).as("e"))
    bounds
      .select(col("user_id"),
        expr(s"s div $hourNs").as("h0"), expr(s"e div $hourNs").as("h1"))
      .withColumn("h", explode(sequence(col("h0"), col("h1"))))
      .groupBy("h")
      .agg(count(lit(1)).as("active_sessions"),
        sum(when(col("h0") === col("h"), 1L).otherwise(0L)).as("starting"),
        sum(when(col("h1") === col("h"), 1L).otherwise(0L)).as("ending"),
        countDistinct(col("user_id")).as("active_users"))
      .select(col("h").as("hour_idx"), col("active_sessions"),
        col("starting"), col("ending"), col("active_users"))
      .orderBy("hour_idx")
  }

  /** Pareto (80/20) concentration count — q123's Gini made actionable:
    * per nation, the SMALLEST number of customers whose spend covers
    * 80% of revenue (rank descending, first rank where cum·5 ≥ 4·total
    * — the q89 integer rule on cumulative mass), their head-count share
    * and the exact revenue share they cover (each ONE division). The
    * number an account-management or caching decision actually reads.
    *
    * Scale: q123's customer-grain agg + per-nation rank windows;
    * nation-sized rollup.
    */
  private def q130(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val spend = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg((sum(d2(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("cents").desc, col("c_custkey"))
    val whole = Window.partitionBy("c_nationkey")
    spend
      .withColumn("i", row_number().over(w))
      .withColumn("cum", sum(col("cents"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("cents")).over(whole))
      .withColumn("n", count(lit(1)).over(whole))
      .groupBy("c_nationkey")
      .agg(max(col("n")).as("n_customers"),
        max(col("tot")).cast("long").as("total_cents"),
        min(when(col("cum").cast(big) * 5 >= col("tot").cast(big) * 4,
          col("i").cast("long"))).as("top_k"),
        min(when(col("cum").cast(big) * 5 >= col("tot").cast(big) * 4,
          col("cum"))).as("cum_at_k"))
      .select(col("c_nationkey"), col("n_customers"), col("total_cents"),
        col("top_k"),
        (col("top_k").cast("double") / col("n_customers").cast("double"))
          .as("head_share"),
        (col("cum_at_k").cast("double") / col("total_cents").cast("double"))
          .as("revenue_share"))
      .orderBy("c_nationkey")
  }

  /** Duplicate-payment audit — the fraud/ops screen for near-identical
    * transactions: order pairs from the SAME customer within 3 calendar
    * days whose amounts differ by at most 5%, with the tolerance as
    * EXACT integer cross-multiplication (|a − b|·20 ≤ max(a, b) — no
    * float ratio, no boundary drift). Pair generation is the per-key
    * self-join on customer (fan-out bounded by orders-per-customer, a
    * schema property — the q106 basket argument; a pathological key
    * would salt like any hot join key).
    */
  private def q131(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
        (d2(col("o_totalprice")) * 100).cast("long").as("cents"),
        col("o_orderdate").cast("date").as("dt"))
    o.as("a").join(o.as("b"),
        col("a.cust") === col("b.cust") && col("a.ok") < col("b.ok"))
      .withColumn("day_gap", abs(datediff(col("b.dt"), col("a.dt"))))
      .filter(col("day_gap") <= 3)
      .filter(abs(col("a.cents") - col("b.cents")) * 20
        <= greatest(col("a.cents"), col("b.cents")))
      .select(col("a.cust").as("c_custkey"), col("a.ok").as("a_orderkey"),
        col("b.ok").as("b_orderkey"), col("a.cents").as("a_cents"),
        col("b.cents").as("b_cents"), col("day_gap"))
      .orderBy("c_custkey", "a_orderkey", "b_orderkey")
  }

  /** q94's point-in-time read through the NATIVE as-of operator — the
    * composition proof that [[graft.plans.AsOfJoin]] slots into an
    * existing workload unchanged: because the SCD2 validity intervals
    * PARTITION each user's timeline (to = next from), "the version
    * whose from ≤ ts < to" is exactly "the version with the greatest
    * from at-or-before ts" — an as-of match, no range predicate, no
    * to_us column needed at all. Unmatched purchases (before any
    * activity) surface as NULL → 'none', identical to q94's left range
    * join. Shares q94's oracle verbatim.
    */
  private def q133(spark: SparkSession, dir: String): DataFrame = {
    // run_seq as the tiebreak: two versions CAN share from_us (a state
    // change within one µs makes the earlier interval zero-length), and
    // the later run supersedes — exactly what the range join's
    // from ≤ ts < to does by excluding the zero-length interval. The
    // tiebreak makes the right order total (the operator's determinism
    // contract, per its scaladoc).
    val dim = activityDim(spark, dir)
      .select(col("user_id").as("d_user"), col("run_seq").as("d_seq"),
        col("state"), col("from_us"))
    val fact = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ns div 1000").as("pts_us"),
        col("value"))
    graft.plans.AsOfJoin.asOf(fact, dim,
        leftKey = "user_id", rightKey = "d_user",
        leftTime = "pts_us", rightTime = "from_us",
        rightTiebreak = Seq("d_seq"))
      .select(col("user_id"),
        coalesce(col("state"), lit("none")).as("state"), col("value"))
      .groupBy("state")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        sum(d2(col("value"))).cast("double").as("revenue"))
      .orderBy("state")
  }

  /** q18's as-of join planned NATIVELY — the extension ladder's
    * custom-physical-operator rung for a BINARY join
    * ([[graft.plans.AsOfJoin]]): purchases and clicks each hash-cluster
    * on user and sort once, then ONE forward merge pass finds every
    * purchase's last at-or-before click — where the window formulation
    * unions both tables through a single WindowExec (full-union
    * exchange + sort + running last()). Same declarative result:
    * q132 shares q18's oracle verbatim, so the native operator is
    * proven END-TO-END equal to the window semantics (the q85/q110
    * convention); the tiebreak column makes the right order total and
    * the match unique.
    */
  private def q132(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ns"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_ns").as("c_ts"))
    graft.plans.AsOfJoin.asOf(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user",
        leftTime = "ts_ns", rightTime = "c_ts",
        rightTiebreak = Seq("click_id"))
      .select(col("purchase_id"), col("user_id"), col("click_id"))
      .orderBy("purchase_id")
  }

  /** A/B experiment read-out — the two-proportion test every product
    * experiment ends with, deterministic end to end: users are assigned
    * to arms by the portable md5 hash (both engines derive the SAME
    * split — the q127 coordinate convention; hash-based assignment is
    * also how real experiment platforms randomize, so the query IS the
    * production shape), the conversion outcome is "heavy buyer" (≥ 14
    * purchases — "made any purchase" turned out UNIVERSAL in this data,
    * a dormant statistic; the threshold splits near the median at every
    * SF, keeping the z branch live), and the panel publishes per-arm
    * counts plus the pooled z statistic.
    * Every float is a fixed IEEE expression over exact counts —
    * +, −, ×, ÷ and sqrt are all correctly rounded, so the identical
    * operation tree on both engines is bit-identical (the discipline
    * that lets a STATISTIC hash-gate, not just counts).
    *
    * Scale: one user-grain partial agg (the conversion outcome), a
    * 2-row arm rollup, a 1-row panel. Nothing here grows with events.
    */
  private def q134(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(when(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14,
        1L).otherwise(0L).as("converted"))
      .withColumn("arm",
        portableHash60(concat(lit("ab:"), col("user_id").cast("string")))
          % 2)
    def d(c: Column): Column = c.cast("double")
    val m = byUser.groupBy()
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L))
          .as("conv_control"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L))
          .as("conv_treat"))
    val p0 = d(col("conv_control")) / d(col("n_control"))
    val p1 = d(col("conv_treat")) / d(col("n_treat"))
    val pp = d(col("conv_control") + col("conv_treat")) /
      d(col("n_control") + col("n_treat"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / d(col("n_control")) + lit(1.0) / d(col("n_treat"))))
    // every ratio guarded: Spark's divide-by-zero yields NULL where
    // DuckDB's IEEE division yields inf/NaN — a degenerate one-arm
    // split must read NULL on BOTH engines (the q77 guard)
    m.select(col("n_control"), col("n_treat"),
      col("conv_control"), col("conv_treat"),
      when(col("n_control") > 0, p0).as("p_control"),
      when(col("n_treat") > 0, p1).as("p_treat"),
      when(col("n_control") > 0 && col("n_treat") > 0, p1 - p0).as("lift"),
      when(col("n_control") > 0 && col("n_treat") > 0 && se > 0,
        (p1 - p0) / se).as("z_score"))
  }

  /** Discrete-time survival panel — the retention curve in its exact
    * empirical form: a user's LIFETIME is the whole weeks between first
    * and last activity, and for each week k the panel publishes who was
    * still at risk (lifetime ≥ k), who churned exactly then
    * (lifetime = k), the hazard churned/at-risk, and the survival share
    * still-alive/N — each ratio ONE IEEE division of exact counts (the
    * Kaplan–Meier product estimator collapses to exactly this when
    * every user is observed to the end — no censoring in a bounded
    * extract, so the empirical form is the right one, not a float
    * product chain).
    *
    * Scale: one user-grain agg (first/last day), a lifetime-histogram
    * rollup, and the at-risk counts as a REVERSE cumulative sum over
    * the weeks grid — never a user × week join. Panel is weeks-sized.
    */
  private def q135(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    survivalFromSpans(Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("d"))
      .groupBy("user_id")
      .agg(min("d").as("d0"), max("d").as("d1")))
  }

  /** The survival-panel finalization over per-user (d0, d1) activity
    * spans — the single definition q135 and st_survival share (the
    * bitmapFinalize convention): lifetime histogram, REVERSE cumulative
    * at-risk over the weeks grid, hazard and survival each one
    * division.
    */
  private[graft] def survivalFromSpans(spans: DataFrame): DataFrame = {
    val hist = spans
      .select(expr("(d1 - d0) div 7").as("life_w"))
      .groupBy("life_w").agg(count(lit(1)).as("churned"))
      .localCheckpoint(true)
    val span = hist.agg(max("life_w").as("w1"),
      sum("churned").as("n_users")).localCheckpoint(true)
    val grid = span.select(col("n_users"),
      explode(sequence(lit(0L), col("w1"))).as("k"))
    // at-risk at week k = Σ churned over lifetimes ≥ k: a reverse
    // running sum over the bounded weeks grid (weeks-sized window)
    val wDesc = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(hist, col("k") === col("life_w"), "left_outer")
      .withColumn("churned", coalesce(col("churned"), lit(0L)))
      .withColumn("at_risk", sum(col("churned")).over(wDesc))
      .select(col("k").as("week"), col("at_risk"), col("churned"),
        (col("churned").cast("double") / col("at_risk").cast("double"))
          .as("hazard"),
        ((col("at_risk") - col("churned")).cast("double")
          / col("n_users").cast("double")).as("survival"))
      .orderBy("week")
  }

  /** q16's sessionization planned NATIVELY — the third custom physical
    * operator ([[graft.plans.Sessionize]]): the declarative form chains
    * a lag window (gap flags) and a running-sum window (session ids)
    * over the same (user, event_id) sort — two WindowExec passes; the
    * native operator declares the identical exchange + sort to
    * EnsureRequirements and assigns ids in ONE O(1)-state forward scan.
    * Shares q16's oracle VERBATIM (the q132 end-to-end-equality
    * convention), so the operator is proven equal to the window
    * semantics on the full dataset, not just unit fixtures.
    */
  private def q137(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("ts_ns"))
    graft.plans.Sessionize
      .assign(e, "user_id", Seq("event_id"), "ts_ns",
        gap = 1800L * 1000000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        money(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Holt linear (double) exponential smoothing — the level+trend
    * forecaster one rung above q97's EMA, with α = β = 1/2 so every
    * smoothing step is adds and EXACT halvings of IEEE doubles:
    *   f_t = l_{t−1} + b_{t−1}           (one-step-ahead forecast)
    *   l_t = 0.5·x_t + 0.5·(l_{t−1} + b_{t−1})
    *   b_t = 0.5·(l_t − l_{t−1}) + 0.5·b_{t−1}
    * (init l_0 = x_0, b_0 = 0). Every operation is correctly rounded
    * and the oracle's RECURSIVE CTE executes the identical tree in the
    * identical order, so the whole trajectory hash-gates — the q109
    * two-strategies-one-recurrence convention for FLOAT state. The
    * published |x − f| residuals are the forecast-quality read (and
    * q41's anomaly input under a trend, which a plain mean can't give).
    *
    * Scale: per-class sequential fold via typed mapGroups over the
    * bounded day grain (the q109 envelope — state O(1), one hash
    * exchange on class); a genuinely sequential recurrence, so the
    * per-group scan IS the algorithm, not a driver loop.
    */
  private def q136(spark: SparkSession, dir: String): DataFrame =
    holtFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x")))

  /** The Holt fold over a (event_type, day, x) day table — the single
    * recurrence definition q136 and st_holt share. */
  private[graft] def holtFromDaily(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily.select(col("event_type"), col("day"), col("x").cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1).flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(_._2)
        var l = 0.0; var b = 0.0
        rows.iterator.zipWithIndex.map { case ((_, day, x), i) =>
          if (i == 0) { l = x.toDouble; b = 0.0
            (k, day, x, l, b, None: Option[Double], None: Option[Double])
          } else {
            val f = l + b
            val l2 = 0.5 * x.toDouble + 0.5 * (l + b)
            val b2 = 0.5 * (l2 - l) + 0.5 * b
            l = l2; b = b2
            (k, day, x, l, b, Some(f), Some(math.abs(x.toDouble - f)))
          }
        }
      }.toDF("event_type", "day", "x", "level", "trend", "forecast",
        "abs_err")
      .orderBy("event_type", "day")
  }

  /** Windowed funnel (the ClickHouse `windowFunnel` semantics) — max
    * depth through view ≤ click ≤ purchase with the WHOLE chain inside
    * a 24 h window of its first step — composed from TWO CHAINED native
    * as-of joins: the latest view at-or-before each click, then the
    * latest click (carrying its chain-start view) at-or-before each
    * purchase. Greedy-latest is EXACT here, not a heuristic: v*(c) =
    * max view ≤ c is nondecreasing in c's time, so the latest click
    * below a purchase carries the maximal achievable chain start, and
    * a chain exists iff p − v*(c*(p)) ≤ window — the oracle states the
    * naive EXISTS triple join and equality proves the reduction. Depth
    * counts and conversion shares (one division each) in one row.
    *
    * Scale: two merge joins on user (each one exchange per side), event
    * grain throughout — where the naive formulation is a per-user
    * triple self-join (cubic in per-user activity).
    */
  private def q138(spark: SparkSession, dir: String): DataFrame = {
    val win = 86400000000000L
    val e = Tables.events(spark, dir)
    def typed(t: String, pre: String): DataFrame =
      e.filter(col("event_type") === t)
        .select(col("user_id").as(s"${pre}_user"),
          col("ts_ns").as(s"${pre}_ts"), col("event_id").as(s"${pre}_id"))
    val views = typed("view", "v")
    val clicks = typed("click", "c")
    val purchases = typed("purchase", "p")
    val vc = graft.plans.AsOfJoin.asOf(clicks, views,
      "c_user", "v_user", "c_ts", "v_ts", Seq("v_id"))
      .localCheckpoint(true) // consumed by the d2 count AND the 2nd as-of
    val vcp = graft.plans.AsOfJoin.asOf(purchases,
      vc.select(col("c_user"), col("c_ts"), col("c_id"), col("v_ts")),
      "p_user", "c_user", "p_ts", "c_ts", Seq("c_id"))
    val nUsers = e.agg(countDistinct(col("user_id")).as("n_users"))
    val nView = views.agg(countDistinct(col("v_user")).as("n_view"))
    val nVc = vc
      .filter(col("v_ts").isNotNull && col("c_ts") - col("v_ts") <= win)
      .agg(countDistinct(col("c_user")).as("n_vc"))
    val nVcp = vcp
      .filter(col("v_ts").isNotNull && col("p_ts") - col("v_ts") <= win)
      .agg(countDistinct(col("p_user")).as("n_vcp"))
    nUsers.crossJoin(nView).crossJoin(nVc).crossJoin(nVcp)
      .select(col("n_users"), col("n_view"), col("n_vc"), col("n_vcp"),
        when(col("n_users") > 0,
          col("n_view").cast("double") / col("n_users").cast("double"))
          .as("reach_view"),
        when(col("n_view") > 0,
          col("n_vc").cast("double") / col("n_view").cast("double"))
          .as("conv_click"),
        when(col("n_vc") > 0,
          col("n_vcp").cast("double") / col("n_vc").cast("double"))
          .as("conv_purchase"))
  }

  /** SAX symbolic discretization (Lin/Keogh) — each class's daily count
    * series z-normalized, PAA-averaged over 7-day segments, and mapped
    * to a 4-letter alphabet at the standard Gaussian breakpoints
    * (±0.6744897501960817, 0 — the quartiles; constants embedded as the
    * SAME doubles on both sides, the q101 lesson). The float work is
    * algebraically collapsed so it hash-gates: the segment's PAA z is
    *   (n·Σ_seg x − len·Σx) / (len · √(n·Σx² − (Σx)²))
    * — numerator and radicand EXACT integers (bounded far below 2^53
    * at any SF of this data; a corpus where counts square past 2^53
    * would take these through DECIMAL(38,0) + the q124 VARCHAR cast),
    * then ONE sqrt, ONE multiply, ONE division — instead of a per-day
    * (x−μ)/σ chain whose rounding the oracle could not replay. A
    * constant series (radicand 0) publishes NULL paa/symbol on both
    * engines (the q77 guard). SAX is the front door to whole-series
    * indexing/motif search; the symbol stream is what a downstream
    * matcher consumes.
    *
    * Scale: day-grain partial agg, classes-sized moment rollup
    * broadcast back, segment rollup over the bounded day grid.
    */
  private def q139(spark: SparkSession, dir: String): DataFrame =
    saxFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x")))

  /** The SAX finalization over a (event_type, day, x) day table — the
    * single definition q139 and st_sax share. */
  private[graft] def saxFromDaily(daily: DataFrame): DataFrame = {
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val segs = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("seg", expr("(rn - 1) div 7"))
      .groupBy("event_type", "seg")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("segx"))
      .join(broadcast(m), "event_type")
      .withColumn("num",
        col("n") * col("segx") - col("n_days") * col("sx"))
      .withColumn("rad",
        col("n") * col("sxx") - col("sx") * col("sx"))
    val paa = when(col("rad") > 0,
      col("num").cast("double")
        / (col("n_days").cast("double") * sqrt(col("rad").cast("double"))))
    segs.select(col("event_type"), col("seg"), col("n_days"),
        col("num").as("z_num"), paa.as("paa"),
        when(col("rad") > 0,
          when(paa < -0.6744897501960817, "a")
            .when(paa < 0.0, "b")
            .when(paa < 0.6744897501960817, "c")
            .otherwise("d")).as("symbol"))
      .orderBy("event_type", "seg")
  }

  /** The FORWARD native as-of — [[graft.plans.AsOfJoin]]'s second
    * direction: for each purchase, the NEXT view at-or-after it (the
    * re-engagement / next-touch lookup behind "did the buyer come
    * back, and how fast"). Same merge kernel, peeking instead of
    * carrying; the oracle is the row_number-over-candidates
    * formulation, so the direction flag is proven end-to-end like
    * q132 proved backward. Published wait_ns is an exact integer
    * difference.
    */
  private def q143(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ns"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts_ns").as("v_ts"))
    graft.plans.AsOfJoin.asOf(purchases, views,
        leftKey = "user_id", rightKey = "v_user",
        leftTime = "ts_ns", rightTime = "v_ts",
        rightTiebreak = Seq("view_id"), forward = true)
      .select(col("purchase_id"), col("user_id"),
        col("view_id").as("next_view_id"),
        (col("v_ts") - col("ts_ns")).as("wait_ns"))
      .orderBy("purchase_id")
  }

  /** Degree assortativity of the trade graph — the Newman structural
    * statistic that closes the graph family (do well-connected nodes
    * link to well-connected nodes?): Pearson correlation of endpoint
    * degrees over the symmetrized DIRECTED edge list (each undirected
    * edge counted once per direction — the standard convention) in the
    * exact cleared-fraction form
    *   r = (E·Σxy − Σx·Σy) / (√(E·Σxx − (Σx)²) · √(E·Σyy − (Σy)²))
    * — moments accumulate in DECIMAL(38,0) (degree products square
    * past BIGINT at scale) and every float op is one of the
    * correctly-rounded five, so r hash-gates; the oracle takes its
    * HUGEINT moments through the VARCHAR-mediated cast (the q124 house
    * rule). Bipartite graphs skew negative — the published number is
    * the check.
    *
    * Scale: two broadcast-sized joins of the edge list against the
    * node-degree table, a 1-row moment rollup.
    */
  private def q144(spark: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val edges = tradeEdges(spark, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val m = edges
      .join(deg.select(col("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("e"),
        sum(col("dx").cast(big)).as("sx"),
        sum(col("dy").cast(big)).as("sy"),
        sum(col("dx").cast(big) * col("dy")).as("sxy"),
        sum(col("dx").cast(big) * col("dx")).as("sxx"),
        sum(col("dy").cast(big) * col("dy")).as("syy"))
    val num = col("e").cast(big) * col("sxy") - col("sx") * col("sy")
    val d1 = col("e").cast(big) * col("sxx") - col("sx") * col("sx")
    val d2 = col("e").cast(big) * col("syy") - col("sy") * col("sy")
    m.select(col("e").as("n_edges"),
        num.cast("double").as("num"),
        d1.cast("double").as("den_x"), d2.cast("double").as("den_y"),
        when(d1 > 0 && d2 > 0,
          num.cast("double") /
            (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))))
          .as("assortativity"))
  }

  /** Forecast-baseline benchmark — which cheap forecaster earns its
    * keep on this data: per class, the naive (lag-1) and
    * seasonal-naive (lag-7) one-step errors over the daily counts,
    * with Σ|x − lag| and the comparison EXACT integers (MAE is one
    * division each; the winner flag cross-multiplies sae₇·n₁ <
    * sae₁·n₇ so no float ever decides it). The companion read to
    * q125's autocorrelation — ρ₇ says the cycle exists, this says the
    * cycle FORECASTS.
    */
  private def q145(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("l1", lag(col("x"), 1).over(w))
      .withColumn("l7", lag(col("x"), 7).over(w))
    lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        count(col("l1")).as("n1"),
        sum(abs(col("x") - col("l1"))).as("sae1"),
        count(col("l7")).as("n7"),
        sum(abs(col("x") - col("l7"))).as("sae7"))
      .select(col("event_type"), col("n_days"), col("n1"), col("sae1"),
        (col("sae1").cast("double") / col("n1").cast("double"))
          .as("mae_naive"),
        col("n7"), col("sae7"),
        (col("sae7").cast("double") / col("n7").cast("double"))
          .as("mae_seasonal"),
        (col("sae7") * col("n1") < col("sae1") * col("n7"))
          .as("seasonal_wins"))
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov–Smirnov test — the classic distribution-
    * drift statistic next to q95's binned report: click vs purchase
    * value distributions compared on the merged exact-cents grid, with
    * the supremum taken over EXACT integers — D's numerator is
    * max|cum₁·n₂ − cum₂·n₁| (BIGINT), D is that over n₁·n₂ in ONE
    * division, and the 5% critical value 1.358·√((n₁+n₂)/(n₁·n₂)) is
    * a fixed correctly-rounded tree, so even the reject verdict
    * hash-gates. The pre-deployment check a feature-drift monitor runs
    * on two cohorts.
    *
    * Scale: one value-count exchange; the cumulative window runs over
    * DISTINCT cent values (the q89 vc-exchange shape — bounded by the
    * value range, documented like q87's envelope).
    */
  private def q146(spark: SparkSession, dir: String): DataFrame =
    ksFromCounts(Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        (d2(col("value")) * 100).cast("long").as("v"))
      .groupBy("v").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c2")))

  /** The KS finalization over a (v, c1, c2) value-count table — the
    * single definition q146 and st_ks share. Totals derive from the
    * counts themselves, so any producer of the exchange works.
    */
  private[graft] def ksFromCounts(vc: DataFrame): DataFrame = {
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vc
      .withColumn("k1", sum(col("c1")).over(wv))
      .withColumn("k2", sum(col("c2")).over(wv))
    // UNGROUPED agg: one row always — an empty exchange must yield the
    // oracle's one-row-of-NULLs shape, not zero rows (n1/n2 are
    // constant across rows, so max == the value on real data).
    // scalarRow keeps that 1-row bound visible to PlanAudit.
    val tot = graft.tools.Scalar.scalarRow(vc.groupBy()
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")))
    val m = cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("k1") * col("n2") - col("k2") * col("n1")).as("dn"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("dn")).as("d_num"))
    m.select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double")
          / (col("n1") * col("n2")).cast("double")).as("d_stat"),
        (lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
          / (col("n1") * col("n2")).cast("double"))).as("crit_05"))
      .withColumn("reject", col("d_stat") > col("crit_05"))
  }

  /** FIFO lot allocation — the cost-basis / inventory-consumption
    * matcher (match each debit against the earliest unexhausted
    * credit), which LOOKS inherently sequential but is exactly the
    * cumulative-interval identity: order each side by (ts, id), give
    * every lot its running-sum interval [cum − cents, cum), and the
    * FIFO allocation of credit i to debit j is the OVERLAP of their
    * intervals — a per-user range join on exact integer cents, no
    * recursion, no mapGroups. Published per user: lot/debit counts,
    * allocation pairs, matched cents (≡ min(Σcredit, Σdebit) — the
    * conservation identity the spec pins), and both unmatched tails.
    *
    * Scale: two window passes + one per-key interval join with
    * per-user-bounded fan-out (the q131 argument); a pathological user
    * would salt like any hot key.
    */
  private def q147(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"), (d2(col("value")) * 100).cast("long").as("cents"))
      .localCheckpoint(true)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_ns", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lots = e.withColumn("hi", sum(col("cents")).over(w))
      .withColumn("lo", col("hi") - col("cents"))
    val cr = lots.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("lo").as("cp_lo"), col("hi").as("cp_hi"))
    val db = lots.filter(col("event_type") === "click")
      .select(col("user_id").as("d_user"), col("lo").as("cd_lo"),
        col("hi").as("cd_hi"))
    val pairs = cr.join(db,
        col("user_id") === col("d_user") &&
          col("cp_lo") < col("cd_hi") && col("cd_lo") < col("cp_hi"))
      .select(col("user_id"),
        (least(col("cp_hi"), col("cd_hi"))
          - greatest(col("cp_lo"), col("cd_lo"))).as("alloc"))
    val matched = pairs.groupBy("user_id")
      .agg(count(lit(1)).as("n_allocations"),
        sum(col("alloc")).as("matched_cents"))
    e.groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_credits"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("credit_cents"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_debits"),
        sum(when(col("event_type") === "click", col("cents"))
          .otherwise(0L)).as("debit_cents"))
      .join(matched, Seq("user_id"), "left_outer")
      .withColumn("n_allocations", coalesce(col("n_allocations"), lit(0L)))
      .withColumn("matched_cents", coalesce(col("matched_cents"), lit(0L)))
      .select(col("user_id"), col("n_credits"), col("credit_cents"),
        col("n_debits"), col("debit_cents"), col("n_allocations"),
        col("matched_cents"),
        (col("credit_cents") - col("matched_cents")).as("unmatched_credit"),
        (col("debit_cents") - col("matched_cents")).as("unmatched_debit"))
      .orderBy("user_id")
  }

  /** Calendarized revenue recognition — the accrual-accounting spread:
    * each order's price is recognized evenly across the calendar months
    * from order date through its LAST ship date, in EXACT cents with
    * the largest-remainder rule (the first `cents mod n` months get the
    * extra cent — q98's cent-conservation discipline on a month grid).
    * Published per month: contributing orders and recognized cents;
    * Σ recognized ≡ Σ order price over orders with lineitems (the spec's
    * conservation pin). The deferred-revenue schedule a finance close
    * actually runs.
    *
    * Scale: one order-grain agg for last-ship, a bounded ×months
    * explode of the ORDER grain (TPC-H ships within months, not
    * years), months-sized rollup.
    */
  private def q148(spark: SparkSession, dir: String): DataFrame = {
    val ship = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("last_ship"))
    Tables.load(spark, dir, "orders")
      .join(ship, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"),
        (d2(col("o_totalprice")) * 100).cast("long").as("cents"),
        (year(col("o_orderdate").cast("date")) * 12
          + month(col("o_orderdate").cast("date")) - 1).as("m0"),
        (year(col("last_ship")) * 12 + month(col("last_ship")) - 1)
          .as("m1"))
      .withColumn("mEnd", greatest(col("m1"), col("m0")))
      .withColumn("n", col("mEnd") - col("m0") + 1)
      .withColumn("k", explode(sequence(lit(0), col("n") - 1)))
      .select((col("m0") + col("k")).cast("long").as("month_id"),
        (expr("cents div n")
          + when(col("k") < col("cents") % col("n"), 1L).otherwise(0L))
          .as("recog"))
      .groupBy("month_id")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("recog")).as("recognized_cents"))
      .orderBy("month_id")
  }

  /** Bitemporal correction impact — the as-at vs as-of warehouse read:
    * the SCD2 dimension is rebuilt AS-AT an earlier KNOWLEDGE cut (the
    * event-id prefix — how an event-sourced store answers "what did we
    * believe then"), every purchase is enriched through BOTH dims via
    * the native as-of (q133's read, twice), and the panel publishes the
    * (state_then, state_now) transition matrix with revenue — the
    * restatement report a finance/compliance close runs after late
    * corrections. Cells off the diagonal are verdicts the later
    * knowledge CHANGED.
    *
    * Scale: the dim construction twice (window passes on the user
    * grain), two merge as-ofs, a cells-sized rollup.
    */
  private def q149(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val maxRow = e.agg(max(col("event_id"))).head()
    require(!maxRow.isNullAt(0), "q149_bitemporal: events table is empty")
    val cut = (maxRow.getLong(0) + 1) / 2
    val nonP = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
    val fact = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        expr("ts_ns div 1000").as("pts_us"),
        (d2(col("value")) * 100).cast("long").as("cents"))
    def pit(dim: DataFrame, outCol: String): DataFrame =
      graft.plans.AsOfJoin.asOf(fact,
          dim.select(col("user_id").as("d_user"),
            col("run_seq").as("d_seq"), col("state"), col("from_us")),
          leftKey = "user_id", rightKey = "d_user",
          leftTime = "pts_us", rightTime = "from_us",
          rightTiebreak = Seq("d_seq"))
        .select(col("purchase_id").as(s"${outCol}_pid"),
          coalesce(col("state"), lit("none")).as(outCol),
          col("cents").as(s"${outCol}_cents"))
    val now = pit(dimFromEvents(nonP), "state_now")
    val thenD = pit(dimFromEvents(nonP.filter(col("event_id") <= cut)),
      "state_then")
    thenD.join(now,
        col("state_then_pid") === col("state_now_pid"))
      .groupBy(col("state_then"), col("state_now"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("state_now_cents")).as("cents"),
        max(when(col("state_then") =!= col("state_now"), 1L)
          .otherwise(0L)).as("is_restated"))
      .orderBy("state_then", "state_now")
  }

  /** Holt–Winters additive SEASONAL smoothing — q136's level+trend
    * recurrence carrying seven weekly seasonal slots (α = β = γ = 1/2,
    * so every update is adds and EXACT halvings):
    *   slot_t = (t−1) mod 7,  sp = s[slot_t]
    *   f_t = l + b + sp
    *   l' = 0.5·(x_t − sp) + 0.5·(l + b)
    *   b' = 0.5·(l' − l) + 0.5·b
    *   s[slot_t] = 0.5·(x_t − l') + 0.5·sp
    * (init l = x₁, b = 0, s ≡ 0). The oracle's RECURSIVE CTE carries
    * the seven slots as columns and recomputes l' inline where needed —
    * identical trees, identical order, so the full float state
    * trajectory hash-gates (the q136 discipline with VECTOR state).
    * The forecaster that beats both q145 baselines when the weekly
    * cycle is real — its |x − f| residuals are the proof.
    *
    * Scale: the q136 envelope — per-class typed mapGroups over the
    * bounded day grain, O(1) state (nine doubles).
    */
  private def q150(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
      .as[(String, String, Long)]
      .groupByKey(_._1).flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(_._2)
        var l = 0.0; var b = 0.0
        val s = new Array[Double](7)
        rows.iterator.zipWithIndex.map { case ((_, day, x), i) =>
          if (i == 0) {
            l = x.toDouble; b = 0.0
            (k, day, x, l, b, 0.0, None: Option[Double],
              None: Option[Double])
          } else {
            val slot = i % 7 // rn = i + 1, so (rn - 1) mod 7 == i mod 7
            val sp = s(slot)
            val f = l + b + sp
            val l2 = 0.5 * (x.toDouble - sp) + 0.5 * (l + b)
            val b2 = 0.5 * (l2 - l) + 0.5 * b
            val s2 = 0.5 * (x.toDouble - l2) + 0.5 * sp
            l = l2; b = b2; s(slot) = s2
            (k, day, x, l, b, s2, Some(f),
              Some(math.abs(x.toDouble - f)))
          }
        }
      }.toDF("event_type", "day", "x", "level", "trend", "seasonal",
        "forecast", "abs_err")
      .orderBy("event_type", "day")
  }

  /** Dyadic-decay lifetime value — exponentially decayed revenue per
    * user (½ per week of age) computed EXACTLY: each purchase weighs
    * cents·2^(K−age) in BIGINT (K = the global maximum age, so weights
    * are integers), and ONE division by 2^K publishes the decayed
    * value — no pow(), no per-row float decay, no order-dependent sum.
    * The recency-weighted LTV a retention/marketing pipeline ranks on,
    * next to q108's unweighted RFM.
    *
    * Scale: one user-grain partial agg over a broadcast 1-row horizon.
    */
  private def q151(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    ltvFromDaily(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("d"),
        (d2(col("value")) * 100).cast("long").as("cents"))
      .groupBy("user_id", "d")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")))
  }

  // one MV build per scale dir per JVM — the build is pipeline setup
  // (like a warehouse's nightly cube refresh), not per-query work
  private val mvDaily =
    scala.collection.concurrent.TrieMap.empty[String, graft.plans.Mv.Def]

  /** Aggregate-navigator rewrite (plans/MvRewrite.scala): a daily cube of
    * lineitem at (returnflag, linestatus, shipdate) grain serves this
    * coarser filtered rollup without touching the fact table — the
    * optimizer rule swaps the fact scan for the MV scan when grouping,
    * filter and every aggregate re-roll exactly from the cube's partials
    * (sum of sums, min of mins, sum of counts). PlanSpec pins that the
    * executed plan reads the MV path and NOT lineitem, and that a stale
    * fact fingerprint vetoes the rewrite; this gate pins that the
    * MV-served values hash-match DuckDB computing from the raw rows.
    */
  private def q152(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.MvRewrite.install(spark)
    mvDaily.getOrElseUpdate(dir, graft.plans.Mv.create(
      Tables.load(spark, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Map("sum_qty" -> d2(col("l_quantity")),
        "sum_price" -> d2(col("l_extendedprice"))),
      mins = Map("min_disc" -> d2(col("l_discount"))),
      maxs = Map("max_disc" -> d2(col("l_discount"))),
      mvPath = s"${sys.props("java.io.tmpdir")}/graft-mv-" +
        f"${math.abs(dir.hashCode)}%x/lineitem_daily"))
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .groupBy("l_returnflag")
      .agg(
        money(col("l_quantity")).as("sum_qty"),
        money(col("l_extendedprice")).as("sum_price"),
        min(d2(col("l_discount"))).cast("double").as("min_disc"),
        max(d2(col("l_discount"))).cast("double").as("max_disc"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
  }

  /** Link prediction over the customer–part co-purchase graph: rank the
    * customer pairs most likely to share an edge (a "similar buyers"
    * recommendation / account-linking candidate list) by three classic
    * scores over their shared-part neighborhoods — common neighbors,
    * the Resource-Allocation index (Zhou et al. 2009: Σ 1/deg(w) over
    * shared parts w — hubs contribute less), and Jaccard. q115 is the
    * ITEM-side projection of this shape (supplier pairs via shared
    * customers, similarity semantics); this is the USER side with
    * ranking semantics and a top-k contract.
    *
    * Determinism: RA is published as `ra_pico` = Σ ⌊10¹²/deg(w)⌋ —
    * per-term INTEGER division is exact and identical in both engines
    * and the integer sum is order-independent, where a double Σ 1/deg
    * would depend on reduction order. Jaccard is one double division
    * (single-op IEEE, deterministic — q115's convention).
    *
    * Scale: pair generation is keyed BY PART (one shuffle), and the
    * part-degree cap (2..40 buyers) bounds the per-key fan-out to
    * C(40,2) — hub parts are excluded for the same reason LSH caps
    * shingle df: a part half the market buys predicts nothing and would
    * quadratically dominate the join. Degrees broadcast (O(customers));
    * top-100 is a TakeOrdered, never a global sort.
    */
  /** The part-degree-capped (part, cust, pdeg) incidence frame behind the
    * co-purchase family — q153's derivation, memoized because THREE
    * queries (q153 link-predict, q157 clustering, q174 k-truss) build the
    * identical orders⋈lineitem projection + degree cap. The 2..40 pdeg
    * cap is the family's density control: hubs predict nothing and would
    * otherwise fan out quadratically.
    */
  private def coPurchaseCapped(spark: SparkSession, dir: String): DataFrame = {
    val buyers = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_partkey").as("part"), col("o_custkey").as("cust"))
      .distinct()
    val pdeg = buyers.groupBy("part").agg(count(lit(1)).as("pdeg"))
    val plan = buyers
      .join(broadcast(pdeg.filter(col("pdeg").between(2, 40))), "part")
    Memo("copurchase_capped", plan)(plan)
  }

  /** The aggregated co-purchase pair frame (a < b, w = distinct common
    * parts, ra_pico = the Adamic–Adar-style resource-allocation sum) —
    * the ONE expensive A×A stage of the family, memoized so q153 (reads
    * both columns, top-100), q157 (w ≥ 3 tie floor) and q174 (w ≥ 4)
    * share a single pair generation. Per-key fan-out is C(40, 2) by the
    * pdeg cap; the tie floors downstream are the density controls the
    * r11 q157 postmortem made a family rule.
    */
  /** The pair-generation body over any capped (part, cust, pdeg)
    * incidence — factored so the planted-dense spec can drive the REAL
    * derivation through the sparsity gauge.
    */
  private[graft] def coPurchasePairsFromCapped(capped: DataFrame): DataFrame =
    capped.as("x")
      .join(capped.as("y"),
        col("x.part") === col("y.part") && col("x.cust") < col("y.cust"))
      .select(col("x.cust").as("a"), col("y.cust").as("b"),
        col("x.pdeg").as("pdeg"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("w"),
        sum(expr("1000000000000 DIV pdeg")).as("ra_pico"))

  private def coPurchaseScored(spark: SparkSession, dir: String): DataFrame = {
    val plan = coPurchasePairsFromCapped(coPurchaseCapped(spark, dir))
    Memo("copurchase_scored", plan)(plan)
  }

  /** The shared in-session corpora, in dependency order — Bench forces
    * each build under its own timed `_build_*` entry so per-query bench
    * figures report MARGINAL cost (the r12 verdict's attribution ask:
    * before this, the alphabetically-first consumer paid the whole memo
    * build and its per-query figure read ~4 s high).
    */
  private[graft] def memoWarmers: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      "trade_graph" -> ((s, d) => { tradeEdges(s, d).count(); () }),
      "seeded_bfs" -> ((s, d) => { seededBfsSigma(tradeEdges(s, d)).count(); () }),
      "walk_corpus" -> ((s, d) => { memoizedWalks(s, d).count(); () }),
      "copurchase" -> ((s, d) => { coPurchaseScored(s, d).count(); () }))

  /** Declared sparsity budgets for every roster operator whose cost is
    * super-linear in its DERIVED graph's edges — the mechanized form of
    * the r11 q157 postmortem rule ("every super-linear graph derivation
    * states and enforces a sparsity parameter"). Each gauge returns
    * (measured edge count, declared budget, the bound's name) at the
    * given dir; RosterBudgetSpec asserts measured ≤ budget at sf0.01, so
    * a future edit that drops a cap or a tie floor fails the suite
    * BEFORE a dense graph can hang the driver's Verify run (the r11
    * zeroing mode). Budgets are either plan pigeonholes (a per-key cap
    * makes fan-out C(cap, 2)) or measured-density ceilings with named
    * headroom — the r11 regression they exist to catch measured ~750
    * avg tie-degree at sf0.01 vs the ~76 the floor yields.
    */
  private[graft] def sparsityGauges
      : Map[String, (SparkSession, String) => (Long, Long, String)] = Map(
    "trade_graph" -> ((s, d) => {
      val e = tradeEdges(s, d).count()
      val nli = Tables.load(s, d, "lineitem").count()
      (e, 2 * nli,
        "<= one bidirectional edge pair per order line (the distinct " +
          "(cust, supp) projection of the fact join; consumers q39/q78/" +
          "q112/q144/centrality are linear in these edges)")
    }),
    "q54_backbone" -> ((s, d) =>
      (q54Backbone(s, d).count(), 300L,
        "C(25, 2) nation pairs — the node set is the fixed nation " +
          "dimension, not the corpus")),
    "q153_scored_pairs" -> ((s, d) => {
      val parts = coPurchaseCapped(s, d).select("part").distinct().count()
      (coPurchaseScored(s, d).count(), 780L * parts,
        "C(40, 2) pairs per part in the 2..40 pdeg band (cap pigeonhole)")
    }),
    "q157_tie_graph" -> ((s, d) => {
      val nodes = coPurchaseCapped(s, d).select("cust").distinct().count()
      (coPurchaseScored(s, d).filter(col("w") >= 3).count(), 128L * nodes,
        "w >= 3 tie floor: avg tie-degree <= 128 at sf0.01 (measured ~76; " +
          "the unfloored r11 graph measured ~750 and fails this gauge)")
    }),
    "q174_truss_graph" -> ((s, d) => {
      val nodes = coPurchaseCapped(s, d).select("cust").distinct().count()
      (coPurchaseScored(s, d).filter(col("w") >= 4).count(), 64L * nodes,
        "w >= 4 strong-tie floor: avg tie-degree <= 64 at sf0.01 " +
          "(measured ~10)")
    }),
    "q115_cosupplier_pairs" -> ((s, d) => {
      val capped = q115Capped(q115Incidence(s, d)).localCheckpoint(true)
      val custs = capped.select("cust").distinct().count()
      (q115Pairs(capped).count(), 1225L * custs,
        "C(50, 2) pairs per cust-degree-capped customer (cap pigeonhole)")
    }))

  private def q153(spark: SparkSession, dir: String): DataFrame = {
    val capped = coPurchaseCapped(spark, dir)
    val cdeg = capped.groupBy("cust").agg(count(lit(1)).as("cd"))
    val scored = coPurchaseScored(spark, dir)
      .select(col("a").as("cust_a"), col("b").as("cust_b"),
        col("w").as("cn"), col("ra_pico"))
    scored
      .join(broadcast(cdeg.select(col("cust").as("cust_a"),
        col("cd").as("da"))), "cust_a")
      .join(broadcast(cdeg.select(col("cust").as("cust_b"),
        col("cd").as("db"))), "cust_b")
      .select(col("cust_a"), col("cust_b"), col("cn"), col("ra_pico"),
        (col("cn").cast("double")
          / (col("da") + col("db") - col("cn")).cast("double")).as("jaccard"))
      .orderBy(desc("cn"), desc("ra_pico"), col("cust_a"), col("cust_b"))
      .limit(100)
  }

  /** Dynamic-time-warping distance between nations' monthly revenue
    * series — sequence ALIGNMENT (which national markets move alike,
    * allowing lead/lag shifts?), the time-series family member the
    * lag/corr queries (q126, q125) can't express: DTW scores the best
    * monotone alignment path, so a 2-month-shifted twin scores near 0
    * where pointwise L1 scores the shift itself. Published next to the
    * alignment-free L1 baseline (DTW ≤ L1 always — the diagonal path IS
    * the L1 alignment, and DTW minimizes over a superset).
    *
    * Determinism: series are exact cents (decimal sums), the DP is
    * all-integer (|Δ| costs, min, add), so both engines produce
    * bit-identical BIGINTs — no floating accumulation anywhere. The
    * DuckDB oracle runs the SAME DP as a recursive CTE over
    * anti-diagonals (each step carries two diagonals as lists), so the
    * gate is two independent implementations of the recurrence agreeing
    * exactly.
    *
    * Scale: the recurrence dp(i,j) = |aᵢ−bⱼ| + min(up, left, upleft) is
    * sequentially dependent — not expressible in declarative Spark — so
    * the DP runs as a typed per-pair map (the library's documented
    * last-resort rung): each series is CALENDAR-BOUNDED (one value per
    * month — ~84 for 7 years, growing with time, never with data
    * volume), each DP is O(months²) longs in-core, and the pair set
    * (≤ C(25,2) nations, plan-visible via limit(25)) parallelizes
    * embarrassingly. The data-proportional work — the revenue rollup —
    * stays declarative: one partial-agg shuffle to (nation, month).
    */
  private def q154(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") < 5)
      .groupBy(col("c_nationkey").cast("long").as("nation"),
        ((year(col("o_orderdate")) - 1992) * 12
          + month(col("o_orderdate")) - 1).as("m"))
      .agg(sum(d2(col("l_extendedprice")) * 100).cast("long").as("cents"))
    // dense month spine from the global bounds, so every nation's series
    // has one value per month (0 for quiet months) and equal length —
    // scalarRow keeps the 1-row bound visible to the plan audit
    val bounds = graft.tools.Scalar.scalarRow(
      rev.agg(min(col("m")).as("lo"), max(col("m")).as("hi")))
    val spine = rev.select("nation").distinct().limit(25)
      .crossJoin(broadcast(bounds))
      .select(col("nation"), explode(sequence(col("lo"), col("hi"))).as("m"))
    val ser = spine.join(rev, Seq("nation", "m"), "left")
      .groupBy("nation")
      .agg(expr("transform(array_sort(collect_list(struct(m, " +
        "coalesce(cents, CAST(0 AS BIGINT)) AS c))), x -> x.c)").as("a"))
      .limit(25)
    ser.as("x").join(ser.as("y"), col("x.nation") < col("y.nation"))
      .select(col("x.nation").as("na"), col("y.nation").as("nb"),
        col("x.a").as("a"), col("y.a").as("b"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (na, nb, a, b) =>
        (na, nb, dtwCents(a.toArray, b.toArray),
          a.zip(b).map(t => math.abs(t._1 - t._2)).sum)
      }
      .toDF("nation_a", "nation_b", "dtw_cents", "l1_cents")
      .orderBy("nation_a", "nation_b")
  }

  /** Precision/recall curve — the threshold-sweep companion of q155's
    * AUC (the eval pair every classifier report publishes): predict
    * "purchase" when the value score clears a threshold, and for nine
    * equal-width thresholds over the score range publish TP/FP/FN and
    * micro-scaled precision, recall and F1 — each ⌊10⁶·ratio⌋, one
    * integral division of exact counts per cell (longs suffice: 2·10⁶·N
    * only nears BIGINT past ~4×10¹² rows; the decimal widening past
    * that is mechanical).
    *
    * Scale: one partial-agg shuffle to the bounded score grid; the
    * 9-threshold sweep is a crossJoin with a PROVABLY-1-ROW bounds
    * relation (scalarRow) exploded to nine structs — no window, no
    * second pass over the corpus. The top threshold stays ≤ hi whenever
    * the score range spans ≥ 10 cents, so all nine deciles emit rows.
    */
  private def q158(spark: SparkSession, dir: String): DataFrame =
    prCurveFromGrid(Tables.load(spark, dir, "events")
      .select(
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy("cents")
      .agg(count(lit(1)).as("tot"), sum(col("y")).as("pos")))

  /** The threshold sweep over a (cents, tot, pos) score grid — shared by
    * q158 (batch rollup) and st_pr_curve (the same grid folded by a
    * stream). Bounds and the positive total re-derive exactly from the
    * grid (min/max key, Σ pos), so the stream needs ONE sink.
    */
  private[graft] def prCurveFromGrid(grid: DataFrame): DataFrame = {
    val bounds = graft.tools.Scalar.scalarRow(
      grid.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
        sum(col("pos")).as("pos_all")))
    grid.crossJoin(broadcast(bounds))
      .select(col("cents"), col("tot"), col("pos"), col("pos_all"),
        explode(expr("transform(sequence(1, 9), d -> named_struct(" +
          "'decile', CAST(d AS BIGINT), " +
          "'t', lo + (((hi - lo + 1) * CAST(d AS BIGINT)) DIV 10)))"))
          .as("th"))
      .filter(col("cents") >= col("th.t"))
      .groupBy(col("th.decile").as("decile"),
        col("th.t").as("threshold_cents"), col("pos_all"))
      .agg(sum(col("tot")).as("p_pred"), sum(col("pos")).as("tp"))
      .select(col("decile"), col("threshold_cents"), col("tp"),
        (col("p_pred") - col("tp")).as("fp"),
        (col("pos_all") - col("tp")).as("fn"),
        expr("(1000000 * tp) DIV nullif(p_pred, 0)").as("precision_micro"),
        expr("(1000000 * tp) DIV nullif(pos_all, 0)").as("recall_micro"),
        // 2TP + FP + FN telescopes to p_pred + pos_all
        expr("(2000000 * tp) DIV nullif(p_pred + pos_all, 0)")
          .as("f1_micro"))
      .orderBy("decile")
  }

  /** Spearman rank correlation per nation between a customer's total
    * spend and order count — "does buying often mean spending much
    * here": the monotone-association summary a feature audit runs
    * before trusting a proxy metric. Ranks are row_number over a TOTAL
    * order ((value, custkey) tie-break — deterministic where average
    * ranks would drag in fractional tie corrections), so
    * ρ = 1 − 6·Σd²/(n(n²−1)) is an exact rational: the signed numerator
    * n(n²−1) − 6Σd² and denominator publish as DECIMAL(38,0)-exact
    * BIGINTs (n³ overflows BIGINT past ~2M customers per nation —
    * decimal inside, longs out at any tested SF) and ρ itself is ONE
    * IEEE division (q115's convention). NO integral division anywhere:
    * ρ is signed, and Spark DIV truncates toward zero where DuckDB //
    * floors — they disagree on negatives, so the quotient ships as
    * num/den + double instead.
    *
    * Scale: one partial-agg shuffle to per-customer (spend, orders);
    * both rank windows are PARTITIONED by nation and share its
    * exchange; the final reduce is 25 rows.
    */
  private def q159(spark: SparkSession, dir: String): DataFrame =
    spearmanFromMetrics(Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(d2(col("o_totalprice"))) * 100).cast("long").as("spend"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey")))

  /** The rank-and-correlate body over per-entity (c_nationkey,
    * o_custkey, spend, n_orders) metrics — factored from [[q159]] so the
    * spec can drive planted agreement/reversal/one-swap rankings.
    */
  private[graft] def spearmanFromMetrics(per: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    val bySpend = Window.partitionBy("c_nationkey")
      .orderBy(col("spend"), col("o_custkey"))
    val byFreq = Window.partitionBy("c_nationkey")
      .orderBy(col("n_orders"), col("o_custkey"))
    per
      .withColumn("rs", row_number().over(bySpend).cast("long"))
      .withColumn("rf", row_number().over(byFreq).cast("long"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(((col("rs") - col("rf")) * (col("rs") - col("rf")))
          .cast(big)).as("sd2"))
      .select(col("nation"), col("n"),
        (col("n").cast(big) * (col("n").cast(big) * col("n") - 1)
          - lit(6).cast(big) * col("sd2")).cast("long").as("rho_num"),
        (col("n").cast(big) * (col("n").cast(big) * col("n") - 1))
          .cast("long").as("rho_den"))
      .withColumn("rho",
        when(col("rho_den") > 0,
          col("rho_num").cast("double") / col("rho_den").cast("double")))
      .orderBy("nation")
  }

  /** Local clustering coefficient over the customer co-purchase graph —
    * "how clique-like is each buyer's neighborhood" (community cores vs
    * brokers; the node-level companion of q54's global triangle count
    * and q153's pair ranking, on the same capped projection). Per node:
    * deg, triangle participation, and C(v) = 2·tri/(deg·(deg−1)) as
    * `clustering_pico` — exact integers end to end, one integral
    * division (q155's convention).
    *
    * Scale: edges come from q153's part-keyed pair generation (part-
    * degree cap 2..40 bounds per-key fan-out to C(40,2); hubs predict
    * nothing and would dominate quadratically), then a STRONG-TIE floor
    * — a pair must co-purchase ≥ 3 distinct parts (q174's convention,
    * one notch looser). The floor is semantic (clustering asks about
    * cohesive neighborhoods; weight-1 incidental pairs are noise) and
    * it is the density control: the raw co-purchase graph approaches
    * complete on a small customer base (≈8M edges on 15k nodes at
    * sf0.1), where exact per-node triangles cost O(m^1.5) no matter how
    * they're oriented. Triangles then use q54's degree-ordered
    * orientation — every edge points from its (deg, id)-smaller
    * endpoint, so each triangle counts once and wedge fan-out is
    * bounded by C(out-degree, 2) with out-degrees O(√m) REGARDLESS of
    * skew: this is the orientation's whole point on an unbounded node
    * set (q54 runs it on 25 nations; this runs it on every customer).
    * Top-100 is a TakeOrdered with a total (pico desc, cust) tie-break.
    */
  private def q157(spark: SparkSession, dir: String): DataFrame =
    clusteringFromEdges(
      coPurchaseScored(spark, dir).filter(col("w") >= 3).select("a", "b"))

  /** The orientation + wedge-close + coefficient body over any
    * canonical (a < b) undirected edge list — factored from [[q157]] so
    * the spec can drive a planted triangle-plus-pendant graph with
    * hand-computed coefficients.
    */
  private[graft] def clusteringFromEdges(rawEdges: DataFrame): DataFrame = {
    val edges = rawEdges
      .localCheckpoint(true) // reused: degrees + both oriented branches
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // reused: orientation + finalization
    val oriented = edges
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), "b")
      .select(
        when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true) // reused: wedge sides + closer
    val wedges = oriented.select(col("src").as("x"), col("dst").as("y"))
      .join(oriented.select(col("src").as("x2"), col("dst").as("z")),
        col("x") === col("x2") && col("y") =!= col("z"))
      .select("x", "y", "z")
    val tri = wedges
      .join(oriented.select(col("src").as("cs"), col("dst").as("cd")),
        col("y") === col("cs") && col("z") === col("cd"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node").as("cust"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .filter(col("deg") >= 2)
      .withColumn("clustering_pico",
        expr("(CAST(2000000000000 AS DECIMAL(38,0)) * tri) DIV " +
          "(CAST(deg AS DECIMAL(38,0)) * (deg - 1))").cast("long"))
      .orderBy(col("clustering_pico").desc, col("cust"))
      .limit(100)
  }

  /** 4-truss decomposition of the co-purchase graph — the EDGE-grain
    * cohesion member beside q112's node-grain k-core: an edge survives
    * the k-truss iff it closes ≥ k−2 triangles among surviving edges
    * (Cohen 2008), the standard "strong tie" filter that k-core can't
    * express (a high-degree node's edges die here unless they sit in
    * triangles). Peeling only REMOVES edges over a fixed edge set, so
    * an unchanged edge count is a PROVED fixpoint (the q112/q107 exit
    * discipline) — the loop stops when provably done, and the oracle's
    * fixed 6 unrolled rounds are the identity past it. Support is
    * recomputed WITHIN the surviving subgraph each round (that
    * recursive containment is what makes a truss different from a
    * one-shot triangle-count filter).
    *
    * Scale: per round one wedge join keyed on the shared endpoint plus
    * an (a,b) partial agg — the q54/q157 triangle envelope — with the
    * edge frame localCheckpointed per round; the co-purchase projection
    * reuses q157's part-degree cap (2..40) so per-part fan-out is
    * parameter-bounded.
    */
  private def q174(spark: SparkSession, dir: String): DataFrame =
    // STRONG ties only: a pair must co-purchase >= 4 distinct parts —
    // the truss question is about cohesive cores, and the weight floor
    // keeps both the graph and the oracle's unrolled wedge joins sparse
    trussFromEdges(
      coPurchaseScored(spark, dir).filter(col("w") >= 4).select("a", "b"))

  /** Deterministic DeepWalk-style random-walk corpus over the trade
    * graph — the graph→sequence operator an embedding pipeline trains
    * on (Perozzi et al. 2014): W walks per node, each taking L
    * hash-seeded uniform steps over the ranked adjacency list. The
    * "randomness" is the portable md5-prefix hash of (seed, walk_no,
    * step) mod out-degree — fully deterministic, so the emitted corpus
    * is reproducible run-to-run AND engine-identical (the oracle
    * replays the same hash and the same dst-ascending neighbor ranks).
    * A float RNG could never hash-gate; seeded-hash choice is also what
    * you actually want at 100 TB (retries and speculative tasks must
    * not fork the corpus).
    *
    * Scale: the adjacency rank window is PARTITIONED by src (per-key
    * cost O(deg), no global sort); each of the L steps is two
    * key-partitioned joins (walk-frontier⋈degree on node, then
    * ⋈adjacency on (src, idx)) — O(nodes·W) rows per step, linear in
    * the graph, no fan-out (exactly one adjacency row matches each
    * frontier row). Frontiers localCheckpoint per step so lineage
    * stays flat (the q161 loop discipline).
    */
  private def q175(spark: SparkSession, dir: String): DataFrame =
    memoizedWalks(spark, dir)

  /** The walk corpus, built once per (session, dir) and shared by q175
    * and q179 ([[graft.core.Memo]] — the imageTable discipline: the
    * expensive generation runs once, projections are free).
    */
  private def memoizedWalks(spark: SparkSession, dir: String): DataFrame =
    // keyed on the trade-graph PLAN — it names BOTH parents (orders AND
    // lineitem), so a changed lineage in either source builds a fresh
    // corpus (the r12 ADVICE fix: keying on orders alone would serve a
    // stale corpus after a same-session lineitem change)
    Memo("walks", tradeEdgesPlan(spark, dir)) {
      randomWalksFromEdges(tradeEdges(spark, dir)).localCheckpoint(true)
    }

  /** The walk generator over any directed (src, dst) edge list where
    * every frontier node has at least one out-edge (tradeEdges is
    * bidirectional, so that holds) — factored so the spec can drive a
    * planted graph and replay the hash arithmetic by hand.
    */
  private[graft] def randomWalksFromEdges(edges: DataFrame,
      walksPerNode: Int = 2, steps: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val wAdj = Window.partitionBy("src").orderBy("dst")
    val adj = edges
      .withColumn("idx", (row_number().over(wAdj) - 1).cast("long"))
      .localCheckpoint(true) // reused by every step join
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val walkNos = (0 until walksPerNode).toDF("wno")
    var cur = edges.select(col("src").as("seed")).distinct()
      .crossJoin(broadcast(walkNos)) // plan-visible bound: W rows
      .select(col("seed"), col("wno"), col("seed").as("node"))
    var out = cur.select(col("seed"), col("wno"),
      lit(0).as("step"), col("node"))
    for (k <- 0 until steps) {
      val pick = graft.functions.hashes.portableHash60(
        concat_ws(":", col("seed").cast("string"),
          col("wno").cast("string"), lit(k.toString)))
      cur = cur.join(deg, col("node") === deg("src"))
        .select(col("seed"), col("wno"), col("node"),
          pmod(pick, col("deg")).as("pick"))
        .join(adj, col("node") === adj("src") && col("pick") === adj("idx"))
        .select(col("seed"), col("wno"), col("dst").as("node"))
        .localCheckpoint(true)
      out = out.unionByName(cur.select(col("seed"), col("wno"),
        lit(k + 1).as("step"), col("node")))
    }
    out.select(
      when(col("seed") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("node_type"),
      expr("seed div 2").as("node_id"),
      col("wno"), col("step"),
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("visit_type"),
      expr("node div 2").as("visit_id"))
      .orderBy("node_type", "node_id", "wno", "step")
  }

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * channel-attribution model q98's position-based split can't express:
    * build the first-order journey chain (q102's transition extraction,
    * truncated at each user's FIRST conversion), compute the
    * probability of absorbing in CONV within T = 8 steps, then for each
    * channel recompute it with that channel KNOCKED OUT (its inbound
    * edges redirected to the NULL absorber — the standard removal); the
    * channel's credit is 1 − P_removed/P_base. A channel whose removal
    * barely moves conversions was never load-bearing, however many
    * touches it logged — exactly what touch-counting attribution gets
    * wrong.
    *
    * Determinism: the recurrence runs in exact micro integers —
    * p₀(CONV) = 10⁶, each step p' (s) = (Σ_t c(s,t)·p(t)) div c(s)
    * (sum FIRST, one floor per state per step — q164's pico-floor
    * recurrence discipline), and the published removal is one more
    * integral division. Both engines replay the identical 8 unrolled
    * steps.
    *
    * Scale: corpus-sized work is ONLY the journey extraction (per-user
    * rank window, q79's envelope) and the transition partial agg; the
    * recurrence operates on the (scenario × transition-grid) frame —
    * scenarios are the ordered-limit(12) channel cap (q170's
    * convention) plus base, the grid is class-cardinality², never
    * corpus-sized. Redirect-to-NULL needs no modified matrix: NULL's
    * p is 0, so knocking out channel r is just EXCLUDING t = r terms
    * (row sums are unchanged — redirection renames a target, it does
    * not change out-degree).
    */
  private def q176(spark: SparkSession, dir: String): DataFrame = {
    val conv = "__conv__"
    val nul = "__null__"
    val start = "__start__"
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_ns"), col("event_id"))
    val byUser = Window.partitionBy("user_id")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        when(col("event_type") === "purchase", lit(conv))
          .otherwise(col("event_type")).as("st"))
      .withColumn("rn", row_number().over(byTime))
      .withColumn("crn",
        min(when(col("st") === conv, col("rn"))).over(byUser))
      .filter(col("crn").isNull || col("rn") <= col("crn"))
      .withColumn("lrn", max(col("rn")).over(byUser))
      .localCheckpoint(true) // three transition reads + the spine
    val withNext = ev.withColumn("next_st",
      lead(col("st"), 1).over(Window.partitionBy("user_id")
        .orderBy(col("rn"))))
    val trans = withNext.filter(col("rn") === 1)
      .select(lit(start).as("f"), col("st").as("t"))
      .unionByName(withNext.filter(col("next_st").isNotNull)
        .select(col("st").as("f"), col("next_st").as("t")))
      .unionByName(withNext.filter(col("rn") === col("lrn")
          && col("st") =!= conv)
        .select(col("st").as("f"), lit(nul).as("t")))
      .groupBy("f", "t").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    removalFromTransitions(trans)
  }

  /** The scenario-expanded T-step absorption recurrence over any
    * (f, t, n) transition-count frame using the `__start__`/`__conv__`/
    * `__null__` state names — factored from [[q176]] so the spec can
    * plant a matrix with a hand-computed removal effect.
    */
  private[graft] def removalFromTransitions(trans: DataFrame): DataFrame = {
    val spark = trans.sparkSession
    val conv = "__conv__"
    val nul = "__null__"
    val start = "__start__"
    val rowsum = trans.groupBy("f").agg(sum(col("n")).as("cn"))
    val states = trans.select(col("f").as("s"))
      .unionByName(trans.select(col("t").as("s"))).distinct()
    val channels = trans.select(col("t").as("removed"))
      .filter(col("removed") =!= conv && col("removed") =!= nul)
      .distinct().orderBy("removed").limit(12)
    val scenarios = channels.unionByName(
      spark.range(1).select(lit("__none__").as("removed")))
    val spine = states.crossJoin(broadcast(scenarios))
      .join(rowsum, col("s") === col("f"), "left")
      .select(col("removed"), col("s"), col("cn"))
      .localCheckpoint(true) // reused every step
    var p = spine.select(col("removed"), col("s"),
      when(col("s") === conv, lit(1000000L)).otherwise(lit(0L)).as("p"))
    for (_ <- 1 to 8) {
      val inflow = p.select(col("removed").as("ir"), col("s").as("ts"),
          col("p").as("pt"))
        .join(trans, col("ts") === col("t"))
        .filter(col("ts") =!= col("ir")) // knocked-out inbound → NULL (p=0)
        .groupBy(col("ir"), col("f"))
        .agg(sum(col("n").cast(DecimalType(38, 0)) * col("pt")).as("acc"))
      p = spine.join(inflow,
          col("removed") === col("ir") && col("s") === col("f"), "left")
        .select(col("removed"), col("s"),
          when(col("s") === conv, lit(1000000L))
            .when(col("s") === nul || col("s") === col("removed"), lit(0L))
            .otherwise(coalesce(
              expr("CAST(acc div cn AS BIGINT)"), lit(0L))).as("p"))
        .localCheckpoint(true)
    }
    val atStart = p.filter(col("s") === start)
      .select(col("removed"), col("p"))
    val base = graft.tools.Scalar.scalarRow(
      atStart.filter(col("removed") === "__none__")
        .select(col("p").as("p_base")))
    atStart.filter(col("removed") =!= "__none__")
      .crossJoin(broadcast(base))
      .select(col("removed").as("channel"), col("p_base"),
        col("p").as("p_removed"),
        when(col("p_base") > 0,
          lit(1000000L) - expr("(p * 1000000) div p_base"))
          .as("removal_micro"))
      .orderBy("channel")
  }

  /** Skip-gram training pairs from the q175 walk corpus — the step
    * DeepWalk actually trains on (Perozzi et al. 2014 §4.2): every
    * (center, context) node pair within a ±2 window of the SAME walk,
    * weighted by co-occurrence count across the corpus. This is the
    * (walks → pairs) half of graph-embedding data prep; the q175 walks
    * are the (graph → walks) half, and the two compose end to end.
    * Published per (center, context) with the pair count and the
    * window-distance histogram (n_d1/n_d2) — a trainer consuming this
    * can reweight by distance without re-walking.
    *
    * Scale: one self-join of the walk frame keyed on (seed, walk) —
    * each walk is L+1 = 5 rows, so per-key fan-out is the WINDOW
    * parameter (≤ 4 context rows per center), never the corpus — plus
    * one (center, context) partial agg. Walks come from the factored
    * generator; the localCheckpoint keeps the two join sides off a
    * double generation.
    */
  private def q179(spark: SparkSession, dir: String): DataFrame =
    skipgramFromWalks(memoizedWalks(spark, dir))

  /** The pair extraction over any (node_type, node_id, wno, step,
    * visit_type, visit_id) walk frame — factored so the spec can plant
    * a literal walk and hand-count the pairs.
    */
  private[graft] def skipgramFromWalks(walks: DataFrame,
      window: Int = 2): DataFrame = {
    val w = walks.select(
      col("node_type"), col("node_id"), col("wno"), col("step"),
      (when(col("visit_type") === "customer", col("visit_id") * 2)
        .otherwise(col("visit_id") * 2 + 1)).as("visit"))
    val a = w.select(col("node_type"), col("node_id"), col("wno"),
      col("step").as("s1"), col("visit").as("center"))
    val b = w.select(col("node_type").as("t2"), col("node_id").as("i2"),
      col("wno").as("w2"), col("step").as("s2"), col("visit").as("context"))
    a.join(b, col("node_type") === col("t2") && col("node_id") === col("i2")
        && col("wno") === col("w2") && col("s1") =!= col("s2")
        && abs(col("s1") - col("s2")) <= window)
      .groupBy(
        when(col("center") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("center_type"),
        expr("center div 2").as("center_id"),
        when(col("context") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("context_type"),
        expr("context div 2").as("context_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(abs(col("s1") - col("s2")) === 1, 1L).otherwise(0L))
          .as("n_d1"),
        sum(when(abs(col("s1") - col("s2")) === 2, 1L).otherwise(0L))
          .as("n_d2"))
      .orderBy("center_type", "center_id", "context_type", "context_id")
  }

  /** Relative Strength Index (simple-window form) over the per-class
    * daily event-value series — the momentum oscillator missing from the
    * finance band (q122 drawdown / q137 twap / q149 ohlc cover level,
    * volume, and range; RSI covers MOMENTUM). Per (event_type, day):
    * the daily close in exact cents, the 14-day gain/loss sums over the
    * day-over-day diffs, and rsi_bp = ⌊10000·gains/(gains+losses)⌋ in
    * basis points — published only once 14 FULL diffs exist (row 15+),
    * NULL when the window is flat (gains+losses = 0, the 0/0 branch made
    * explicit per the q173 degenerate-branch lesson). All arithmetic is
    * exact int64: cents via the q155 DECIMAL(18,2) quantization, one
    * integer division at publish (both engines truncate — gains and
    * losses are non-negative, so trunc ≡ floor here).
    *
    * Scale: one partial agg to the per-(class, day) grain (bounded:
    * classes × calendar days), then lag + two framed window sums inside
    * that partition — no join, no second shuffle; the window partition
    * key is the aggregation key, so the sort rides the agg exchange.
    */
  private def q180(spark: SparkSession, dir: String): DataFrame =
    rsiFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .cast("long").as("close_c")))

  /** The RSI window chain over any (event_type, day, close_c) daily frame
    * — factored so the spec can plant a hand-computed series.
    */
  private[graft] def rsiFromDaily(daily: DataFrame): DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val win14 = byDay.rowsBetween(-13, 0)
    daily
      .withColumn("i", row_number().over(byDay))
      .withColumn("d", col("close_c") - lag("close_c", 1).over(byDay))
      .withColumn("gain14", sum(greatest(col("d"), lit(0L))).over(win14))
      .withColumn("loss14", sum(greatest(-col("d"), lit(0L))).over(win14))
      // i ≥ 15 ⇔ the 14-row frame holds 14 non-NULL diffs (row 1's diff
      // is NULL and would silently shorten the window for rows 2..14)
      .filter(col("i") >= 15)
      .select(col("event_type"), col("day"), col("close_c"),
        col("gain14"), col("loss14"),
        when(col("gain14") + col("loss14") > 0,
          expr("(10000 * gain14) div (gain14 + loss14)")).as("rsi_bp"))
      .orderBy("event_type", "day")
  }

  /** STL-lite additive decomposition of the per-class daily event-count
    * series: x = trend + seasonal + residual — the structural companion
    * to q125's autocorrelation PROBE (q125 asks "is there a weekly
    * cycle?"; this one publishes the cycle itself and what is left).
    * Classical decomposition with exact-rational arithmetic:
    *   - trend: centered 7-day moving sum t7 (trend = t7/7), published
    *     only where all 7 window rows exist — a half-window average at
    *     the series edge would masquerade as trend;
    *   - seasonal: per (class, weekday) sums of the detrended value
    *     7x − t7 (weekday = epoch-days mod 7 — pure arithmetic, no
    *     locale/week-start seam between engines), published as the
    *     rational s_num/s_den;
    *   - residual: resid7s = s_den·(7x − t7) − s_num — the residual
    *     scaled by 7·s_den, an EXACT integer (DECIMAL(38,0) through
    *     [[boundedLong]]; a 100 TB class's 7·s_den·x passes 2⁶³ only
    *     with ~10¹⁴ daily events).
    * NULL trend/residual at the edges and NULL seasonal for weekdays
    * with no full-window day are explicit branches, not accidents.
    *
    * Scale: one partial agg to the (class, day) grain, framed window
    * sums riding that exchange, then a classes×7-row aggregate
    * broadcast back — no second corpus pass.
    */
  private def q181(spark: SparkSession, dir: String): DataFrame =
    stlFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x")))

  /** The decomposition over any (event_type, day, x) daily frame —
    * factored so the spec can plant a hand-computed series.
    */
  private[graft] def stlFromDaily(daily: DataFrame): DataFrame = {
    val H = DecimalType(38, 0)
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val w7 = byDay.rowsBetween(-3, 3)
    val t = daily
      .withColumn("t7", when(count(lit(1)).over(w7) === 7,
        sum(col("x")).over(w7)))
      .withColumn("wd",
        datediff(to_date(col("day")), lit("1970-01-01").cast("date")) % 7)
    val s = t.filter(col("t7").isNotNull)
      .groupBy(col("event_type"), col("wd"))
      .agg(sum(lit(7) * col("x") - col("t7")).as("s_num"),
        count(lit(1)).as("s_den"))
    t.join(s, Seq("event_type", "wd"), "left")
      .select(col("event_type"), col("day"), col("x"), col("t7"),
        col("wd"), col("s_num"), col("s_den"),
        when(col("t7").isNotNull && col("s_den").isNotNull,
          boundedLong(
            col("s_den").cast(H)
              * (lit(7).cast(H) * col("x") - col("t7"))
              - col("s_num"), "resid7s"))
          .as("resid7s"))
      .orderBy("event_type", "day")
  }

  /** Difference-in-differences — the workhorse causal panel (Card &
    * Krueger shape): treated vs control cohorts, pre vs post periods,
    * DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre). Cohorts and
    * cutoff are deterministic derivations both engines replay: treated =
    * even-length class name (a demo assignment — a real study supplies
    * its own flag), cutoff = the calendar midpoint of the observed day
    * span (floor division of the day gap — data-derived, engine-exact).
    * Publishes the four cells as exact rationals (Σcents, n per cell)
    * and the DiD point estimate as ONE IEEE tree over those exact
    * integers (round 6), NULL if any cell is empty (the 0/0 branch made
    * explicit, q173's lesson).
    *
    * Scale: one partial agg to 4 cells (the cutoff scalar is a broadcast
    * 1-row aggregate) — nothing here is corpus-sized after the scan.
    */
  private def q182(spark: SparkSession, dir: String): DataFrame =
    didFromCents(Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c")))

  /** The DiD panel over any (event_type, d: date, c: cents) frame —
    * factored so the spec can plant hand-computed cells.
    */
  private[graft] def didFromCents(e: DataFrame): DataFrame =
    didFromDaily(e.groupBy(col("event_type"), col("d"))
      .agg(sum(col("c")).cast("long").as("s"), count(lit(1)).as("n")))

  /** The same panel over a pre-aggregated (event_type, d, s, n) daily
    * frame — the stream twin's fold grain (cell sums and event counts
    * re-aggregate exactly, so batch and stream publish identical rows).
    */
  private[graft] def didFromDaily(e: DataFrame): DataFrame = {
    val cut = e.agg(
      date_add(min(col("d")),
        (datediff(max(col("d")), min(col("d"))) / 2).cast("int"))
        .as("cutoff"))
    val cells = e.crossJoin(broadcast(cut))
      .groupBy((length(col("event_type")) % 2 === 0).as("treated"),
        (col("d") >= col("cutoff")).as("post"))
      .agg(sum(col("s")).cast("long").as("s"),
        sum(col("n")).cast("long").as("n"))
    val p = cells.groupBy().agg(
      max(when(col("treated") && col("post"), col("s"))).as("s_tp"),
      max(when(col("treated") && col("post"), col("n"))).as("n_tp"),
      max(when(col("treated") && !col("post"), col("s"))).as("s_tpre"),
      max(when(col("treated") && !col("post"), col("n"))).as("n_tpre"),
      max(when(!col("treated") && col("post"), col("s"))).as("s_cp"),
      max(when(!col("treated") && col("post"), col("n"))).as("n_cp"),
      max(when(!col("treated") && !col("post"), col("s"))).as("s_cpre"),
      max(when(!col("treated") && !col("post"), col("n"))).as("n_cpre"))
    p.select(col("s_tp"), col("n_tp"), col("s_tpre"), col("n_tpre"),
      col("s_cp"), col("n_cp"), col("s_cpre"), col("n_cpre"),
      when(col("n_tp") > 0 && col("n_tpre") > 0
          && col("n_cp") > 0 && col("n_cpre") > 0,
        round((col("s_tp") / col("n_tp").cast("double")
          - col("s_tpre") / col("n_tpre").cast("double"))
          - (col("s_cp") / col("n_cp").cast("double")
            - col("s_cpre") / col("n_cpre").cast("double")), 6))
        .as("did_cents"))
  }

  /** Split-conformal prediction intervals over a seasonal-naive daily
    * forecast — the distribution-free uncertainty panel (Vovk;
    * Angelopoulos & Bates 2023 §2) a forecasting pipeline publishes next
    * to its point forecasts: with calibration scores sᵢ = |xᵢ − x̂ᵢ| and
    * q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score (α = 0.1),
    * intervals x̂ ± q̂ cover ≥ 90% of exchangeable test points. Everything
    * is EXACT: the forecast is the lag-7 count (integer), scores are
    * integer |Δ|, q̂ is an order statistic (row_number = k — no
    * interpolation), the even/odd day-index split is deterministic, and
    * coverage publishes as (hits, n_test, basis points by integer
    * division).
    *
    * Scale: per-class lag windows on the bounded day grain + one
    * per-class order statistic — the calibration frame is classes ×
    * days, never event-sized.
    */
  private def q183(spark: SparkSession, dir: String): DataFrame =
    conformalFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x")))

  /** The conformal panel over any (event_type, day, x) daily frame —
    * factored so the spec can plant a hand-computed series.
    */
  private[graft] def conformalFromDaily(daily: DataFrame): DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val scored = daily
      .withColumn("i", row_number().over(byDay))
      .withColumn("fc", lag(col("x"), 7).over(byDay))
      .filter(col("fc").isNotNull)
      .withColumn("score", abs(col("x") - col("fc")))
      .withColumn("cal", col("i") % 2 === 0)
    val calW = Window.partitionBy("event_type")
      .orderBy(col("score"), col("day"))
    val cal = scored.filter(col("cal"))
      .withColumn("r", row_number().over(calW))
      .withColumn("n_cal",
        count(lit(1)).over(Window.partitionBy("event_type")))
      // k = ceil((n_cal + 1) * 0.9) as pure integer arithmetic, capped
      // at n_cal (the guarantee needs n_cal >= 9 at alpha = 0.1; smaller
      // classes publish their max score — documented, not hidden)
      .filter(col("r") === least(col("n_cal"),
        expr("((n_cal + 1) * 9 + 9) div 10")))
      .select(col("event_type"), col("n_cal"), col("score").as("qhat"))
    scored.filter(!col("cal"))
      .join(cal, Seq("event_type"))
      .groupBy(col("event_type"), col("n_cal"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("score") <= col("qhat"), 1L).otherwise(0L))
          .as("hits"))
      .select(col("event_type"), col("n_cal"), col("qhat"),
        col("n_test"), col("hits"),
        expr("(10000 * hits) div n_test").as("cov_bp"))
      .orderBy("event_type")
  }

  /** The per-nation monthly revenue series (q160's rollup over ALL
    * nations, sparse — observed months only) shared by the trend-test
    * duo q177/q178.
    */
  private def monthlyRevSeries(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nation"),
        ((year(col("o_orderdate")) - 1992) * 12
          + month(col("o_orderdate")) - 1).cast("long").as("m"))
      // `div` and the oracle's integer `//` both truncate toward zero
      // (r13 fuzzer measurement), so the grain is engine-identical for
      // any sign; these sums of positive prices never go negative anyway
      .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) " +
        "AS BIGINT) div 1000").as("units"))

  /** All within-nation month pairs (m1 < m2) with exact integer rise and
    * run and the single-IEEE-division slope — shared by q177/q178.
    */
  private def monthPairs(ser: DataFrame): DataFrame =
    ser.select(col("nation"), col("m").as("m1"), col("units").as("u1"))
      .join(ser.select(col("nation").as("n2"), col("m").as("m2"),
          col("units").as("u2")),
        col("nation") === col("n2") && col("m1") < col("m2"))
      .select(col("nation"), col("m1"), col("m2"),
        (col("u2") - col("u1")).as("dy"), (col("m2") - col("m1")).as("dx"))

  /** Theil–Sen robust trend slope per nation — the estimator OLS (q111)
    * is not: the MEDIAN of all pairwise slopes, with breakdown point
    * ~29% (one crazy month barely moves it where it drags a least-
    * squares fit). Median = the exact ELEMENT at rank ⌈n/2⌉ under
    * (slope, m1, m2) ordering — the q103 median-element convention, so
    * no averaging, and the published (med_dy, med_dx) are the exact
    * integers behind the chosen slope. Each slope is ONE IEEE division
    * of exact integers; the double ordering is engine-identical because
    * the doubles are.
    *
    * Scale: pairs are CALENDAR-bounded (C(84,2) per nation ≈ 3.5k);
    * nations parallelize; the rank window partitions by nation over
    * that bounded pair set. A 100× corpus grows only the rollup input.
    */
  private def q177(spark: SparkSession, dir: String): DataFrame =
    theilSenFromSeries(monthlyRevSeries(spark, dir))

  /** Factored for the spec's planted series. */
  private[graft] def theilSenFromSeries(ser: DataFrame): DataFrame = {
    val pairs = monthPairs(ser)
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val w = Window.partitionBy("nation")
      .orderBy(col("slope"), col("m1"), col("m2"))
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy("nation")))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("nation"), col("n_pairs"), col("dy").as("med_dy"),
        col("dx").as("med_dx"), col("slope"))
      .orderBy("nation")
  }

  /** Mann–Kendall trend test per nation — Theil–Sen's significance
    * companion (the standard nonparametric trend duo): S = Σ sign(Δ)
    * over all month pairs (exact integer), the tie-corrected variance
    * 18·Var = n(n−1)(2n+5) − Σ_g t(t−1)(2t+5) (exact integer; g ranges
    * over tied revenue values), and the continuity-corrected
    * z = (S∓1)/√(var18/18). The 18.0 literal and the sqrt chain are
    * identical correctly-rounded IEEE trees in both engines; an
    * all-tied series has var18 = 0 and publishes NULL z explicitly
    * (q173's degenerate-branch lesson) rather than 0/0.
    *
    * Scale: q177's calendar-bounded pair frame plus two per-nation
    * partial aggs (sign sum, tie histogram).
    */
  private def q178(spark: SparkSession, dir: String): DataFrame =
    mannKendallFromSeries(monthlyRevSeries(spark, dir))

  /** Factored for the spec's planted series. */
  private[graft] def mannKendallFromSeries(ser: DataFrame): DataFrame = {
    val s = monthPairs(ser).groupBy("nation")
      .agg(sum(when(col("dy") > 0, 1L).when(col("dy") < 0, -1L)
        .otherwise(0L)).as("s_stat"))
    val nm = ser.groupBy("nation").agg(count(lit(1)).as("n_months"))
    val ties = ser.groupBy("nation", "units")
      .agg(count(lit(1)).as("t"))
      .groupBy("nation")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    val d = sqrt(col("var18").cast("double") / lit(18.0))
    nm.join(ties, "nation").join(s, "nation")
      .withColumn("var18",
        expr("n_months * (n_months - 1) * (2 * n_months + 5) - tie_term"))
      .withColumn("z",
        when(col("var18") > 0,
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / d)
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / d)
          .otherwise(lit(0.0))))
      .select(col("nation"), col("n_months"), col("s_stat"), col("var18"),
        col("z"), (abs(col("z")) > 1.96).cast("int").as("trend"))
      .orderBy("nation")
  }

  /** The truss peel over any canonical (a < b) undirected edge list —
    * factored so the spec can drive a planted K4-plus-pendant-triangle
    * graph with hand-computed survivors.
    */
  private[graft] def trussFromEdges(rawEdges: DataFrame, k: Int = 4,
      maxRounds: Int = 6): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val d = e.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      e.join(d.select(col("src").as("xa"), col("dst").as("w1")),
          col("a") === col("xa"))
        .join(d.select(col("src").as("xb"), col("dst").as("w2")),
          col("b") === col("xb") && col("w1") === col("w2"))
        .groupBy("a", "b").agg(count(lit(1)).as("supp"))
    }
    var e = rawEdges.localCheckpoint(true)
    var n = e.count()
    var round = 0
    var changed = true
    while (round < maxRounds && changed && n > 0) {
      e = e.join(support(e), Seq("a", "b"))
        .filter(col("supp") >= k - 2)
        .select("a", "b")
        .localCheckpoint(true)
      val n2 = e.count()
      changed = n2 != n // peeling only removes: equal count == fixpoint
      n = n2
      round += 1
    }
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("supp"), lit(0L)).as("supp"))
      .orderBy("a", "b")
  }

  /** Exact ROC AUC, one-vs-rest per event class — the classifier-eval
    * staple of a training-data pipeline (which curation score actually
    * separates the classes?), here scoring `value` cents against each
    * event_type. AUC is the Mann-Whitney statistic: the probability a
    * positive outscores a negative, ties at half weight. Computed without
    * the P×N pair join: group to per-(score, class) counts, one window
    * gives each score the count of lower-scoring negatives, and
    * concordant = Σ p·cum_below, tied = Σ p·n_at_score.
    *
    * Determinism: counts are integers, concordant/tied accumulate in
    * DECIMAL(38,0) (p·cum ≤ P·N overflows BIGINT past ~3e9 rows), and
    * the published `auc_pico` = ⌊10¹²·(2·conc + tied) / (2·P·N)⌋ is ONE
    * integral division of exact integers — both engines truncate the
    * same positive quotient (Spark `DIV` ≡ DuckDB `//` on positives).
    *
    * Scale: one partial-agg shuffle to (cents, class) counts, then
    * everything runs on the SCORE GRID — cents of a bounded price range
    * (≤ ~56k rows here), not the corpus. The per-class window is
    * partitioned (by class) and its partition size is the grid, so a
    * 100× corpus grows the first aggregate's input only. Classes carry a
    * plan-visible limit(12).
    */
  private def q155(spark: SparkSession, dir: String): DataFrame =
    aucFromCounts(Tables.load(spark, dir, "events")
      .groupBy(
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        col("event_type"))
      .agg(count(lit(1)).as("n")))

  /** The AUC finalization over a per-(cents, event_type) count grid —
    * shared by q155 (batch rollup) and st_auc (the same rollup folded by
    * a stream). See [[q155]] for the semantics and scale notes.
    */
  private[graft] def aucFromCounts(counts: DataFrame): DataFrame = {
    val classes = counts.select("event_type").distinct().limit(12)
    val tot = counts.groupBy("cents").agg(sum(col("n")).as("tot"))
    // class × score grid (bounded cross: classes ≤ 12, plan-visible):
    // every class needs a row at every score so cum counts see the full
    // negative mass, even where the class itself never scored
    val grid = tot.crossJoin(broadcast(classes))
      .join(counts, Seq("cents", "event_type"), "left")
      .select(col("event_type"), col("cents"),
        coalesce(col("n"), lit(0L)).as("p"),
        (col("tot") - coalesce(col("n"), lit(0L))).as("nn"))
    val byScore = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cum_lt", sum(col("nn")).over(byScore) - col("nn"))
    cum.groupBy("event_type")
      .agg(sum(col("p")).as("pos"), sum(col("nn")).as("neg"),
        sum(col("p").cast("decimal(38,0)") * col("cum_lt")).as("conc"),
        sum(col("p").cast("decimal(38,0)") * col("nn")).as("tied"))
      .select(col("event_type"), col("pos"), col("neg"),
        expr("CAST(((2 * conc + tied) * CAST(1000000000000 AS " +
          "DECIMAL(38,0))) DIV nullif(2 * CAST(pos AS DECIMAL(38,0)) " +
          "* neg, CAST(0 AS DECIMAL(38,0))) AS BIGINT)").as("auc_pico"))
      .orderBy("event_type")
  }

  /** Closeness centrality from K deterministic seeds over the trade
    * graph — "which accounts sit nearest the whole market" — by
    * multi-source BFS: the q78 frontier loop with (seed, node) keys, so
    * all K searches share each iteration's frontier⋈edges shuffle.
    * Published per seed: reached count, hop sum, and the Wasserman–Faust
    * closeness (r/(n−1))·(r/Σd) as `closeness_pico` =
    * ⌊10¹²·r² / ((n−1)·Σd)⌋ — reached-set normalization keeps
    * disconnected-component seeds comparable. r² in DECIMAL(38,0)
    * (overflows BIGINT past ~3e9 nodes); one integral division.
    *
    * Scale: per-iteration work is O(K · frontier × degree) keyed by
    * (seed, node) — K is the parameter bound (8 here), the visited set
    * only grows, frontiers are localCheckpointed per hop (q78's lineage
    * discipline), and the loop exits on an empty frontier or the 8-hop
    * cap that makes the oracle's unrolled recursion finite (bipartite
    * diameter ~4). The node count reaches the finalizer as a
    * scalarRow 1-row local relation the plan audit can bound.
    */
  private def q156(spark: SparkSession, dir: String): DataFrame =
    closenessFromEdges(tradeEdges(spark, dir))

  /** The shared K=8-seed, 8-hop-capped multi-source BFS over any
    * (src, dst) edge list — the distance frame [[closenessFromEdges]]
    * and [[harmonicFromEdges]] both reduce. Returns (visited:
    * (seed, node, dist), nodes). All K searches share each iteration's
    * frontier⋈edges shuffle keyed (seed, node); per-hop localCheckpoint
    * keeps lineage flat (q78's discipline); empty-frontier exit.
    */
  private[graft] def multiSourceBfsForSpec(edges: DataFrame)
      : (DataFrame, DataFrame) = multiSourceBfs(edges)

  private def multiSourceBfs(edges: DataFrame): (DataFrame, DataFrame) =
    (seededBfsSigma(edges).select("seed", "node", "dist"), graphNodes(edges))

  /** The multi-source-BFS closeness body over any (src, dst) edge list —
    * factored from [[q156]] so the spec can drive a planted path graph
    * with hand-computed centralities.
    */
  private[graft] def closenessFromEdges(edges: DataFrame): DataFrame = {
    val (visited, nodes) = multiSourceBfs(edges)
    val n = graft.tools.Scalar.scalarRow(
      nodes.agg(count(lit(1)).as("n_nodes")))
    visited.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("reached"), sum(col("dist")).as("sum_dist"))
      .crossJoin(broadcast(n))
      .select(
        when(col("seed") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("seed div 2").as("node_id"),
        col("reached"), col("sum_dist"),
        expr("CAST((CAST(reached AS DECIMAL(38,0)) * reached * " +
          "CAST(1000000000000 AS DECIMAL(38,0))) DIV " +
          "nullif((n_nodes - 1) * CAST(sum_dist AS DECIMAL(38,0)), " +
          "CAST(0 AS DECIMAL(38,0))) AS BIGINT)").as("closeness_pico"))
      .orderBy("node_type", "node_id")
  }

  /** Wilson score interval for the per-class "big event" proportion —
    * the eval-family member that turns a raw rate into a defensible
    * range (a 3/4 success rate and a 3000/4000 one have the same p̂ and
    * wildly different evidence; the Wilson interval (Wilson 1927) is the
    * standard small-n-safe fix for the Wald interval's zero-width-at-
    * extremes failure). x = events at value ≥ $100, n = all events,
    * z = 1.96 (95%).
    *
    * Float discipline: this query is deliberately IEEE — the interval
    * has a sqrt, so no integral-division rescue exists — but every
    * operand is EXACT (x, n are counts < 2^53) and the expression TREE
    * is pinned identically in both engines: +, −, ×, ÷, √ are all
    * correctly rounded by IEEE 754, so identical trees over identical
    * inputs are bit-identical, engine-independent. (Contrast q86: the
    * hazard there was an INEXACT operand — a >2^53 decimal cast — not
    * the arithmetic.) The z² literal is written as the decimal string
    * "3.8416" in both engines, parsing to the same nearest double.
    */
  private def q165(spark: SparkSession, dir: String): DataFrame =
    wilsonFromCounts(Tables.events(spark, dir)
      .select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"), col("event_type"))
      .groupBy("event_type")
      .agg(sum(when(col("cents") >= 10000L, 1L).otherwise(0L)).as("x"),
        count(lit(1)).as("n")))

  /** The Wilson finalization over a (event_type, x, n) counts frame —
    * the single definition q165 and st_wilson share (the stream folds
    * only the bounded per-class counts; this finalize is classes-sized).
    * Every subexpression is parenthesized to pin one evaluation tree —
    * see q165 on why that makes the doubles engine-exact.
    */
  private[graft] def wilsonFromCounts(counts: DataFrame): DataFrame = {
    val xd = col("x").cast("double")
    val nd = col("n").cast("double")
    val z = lit(1.96)
    val z2 = lit(3.8416)
    val phat = xd / nd
    val den = lit(1.0) + z2 / nd
    val center = phat + z2 / (nd * 2.0)
    val rad = z * sqrt((phat * (lit(1.0) - phat) + z2 / (nd * 4.0)) / nd)
    counts.select(col("event_type"), col("x"), col("n"),
      phat.as("phat"),
      ((center - rad) / den).as("wilson_lo"),
      ((center + rad) / den).as("wilson_hi"))
      .orderBy("event_type")
  }

  /** Personalized PageRank (random walk with restart) from the K=8
    * deterministic seed accounts — the recommendation/expansion
    * primitive global PageRank can't express: "important NEAR these
    * seeds", the scoring behind related-item panels and seed-set
    * expansion in curation (find domains like these vetted ones).
    * Same exact integer arithmetic as q39, with the teleport mass
    * restricted to the seed set:
    * r'(v) = [v ∈ S]·⌊0.15·10⁹/|S|⌋ + ⌊0.85·Σ_{u→v} ⌊r_u/deg_u⌋⌋,
    * five fixed iterations from r₀ = [v ∈ S]·⌊10⁹/|S|⌋. Published rows
    * are the nodes with POSITIVE mass — PPR is sparse by design (the
    * 5-hop neighborhood of the seeds), which is what makes it usable
    * at graph scale.
    *
    * Scale: q39's envelope exactly — per iteration one ranks⋈edges
    * join and one partial-agg groupBy(dst); the rank frame stays
    * distributed; mass stays on the seeds' neighborhood so the join's
    * left side is the SMALL live set, not the node table.
    */
  private def q166(spark: SparkSession, dir: String): DataFrame =
    pprFromEdges(tradeEdges(spark, dir))

  /** The random-walk-with-restart body over any (src, dst) edge list —
    * factored so the spec can replay the integer recurrence in the
    * driver and compare maps.
    */
  private[graft] def pprFromEdges(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val seeds = deg.select(col("src").as("snode")).orderBy("snode").limit(8)
    val nSeeds = seeds.count() // bounded: ≤ 8 rows
    require(nSeeds > 0,
      "q166_ppr: the trade graph is empty — no seeds to personalize on")
    val base = deg.join(seeds.withColumn("is_seed", lit(1L)),
        col("src") === col("snode"), "left")
      .select(col("src").as("node"), col("deg"),
        coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .localCheckpoint(true)
    val scale = 1000000000L
    val teleport = (scale * 15L / 100L) / nSeeds
    var ranks = base.select(col("node"), col("deg"), col("is_seed"),
      (col("is_seed") * lit(scale / nSeeds)).as("rank"))
    for (_ <- 0 until 5) {
      val contrib = ranks.filter(col("rank") > 0)
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("rank div deg").as("share"))
        .groupBy("dst")
        .agg(sum(col("share")).as("inflow"))
      ranks = base.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"), col("is_seed"),
          (col("is_seed") * lit(teleport) +
            expr("(85 * coalesce(inflow, 0)) div 100")).as("rank"))
    }
    ranks.filter(col("rank") > 0)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("node_id"),
        col("rank").as("ppr_scaled"))
      .orderBy("node_type", "node_id")
  }

  /** Calibration (reliability diagram) of event value as a purchase
    * predictor — the eval-family member q155 (AUC, discrimination) and
    * q158 (PR sweep, thresholding) don't cover: per score decile, is
    * the PREDICTED level actually the OBSERVED positive rate? Ten
    * equal-width buckets over the cents range (q40's all-integer bucket
    * arithmetic — `((x−lo)·10) div (hi−lo+1)` cannot straddle a ULP);
    * per bucket the mean normalized score and the positive rate publish
    * as exact micro units (integral divisions of nonnegative integers),
    * and the gap is their exact difference. A constant corpus (hi = lo)
    * publishes NULL prediction, never a fake ratio.
    *
    * Scale: one scan to (cents, pos), a scalarRow bounds cross (1 row,
    * plan-provable), one partial agg to the 10-bucket grid.
    */
  private def q167(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    calibrationFromScored(ev)
  }

  /** The reliability-diagram finalization over a (cents, pos) scored
    * frame — factored for the spec's planted-grid cases. Reduces to the
    * per-cents counts grid FIRST (one partial agg, value-range-bounded),
    * then finalizes through [[calibrationFromCounts]] — the same grid a
    * stream folds, so st_calibration shares this code and q167's oracle
    * verbatim.
    */
  private[graft] def calibrationFromScored(ev: DataFrame): DataFrame =
    calibrationFromCounts(ev.groupBy("cents")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("positives")))

  /** The bucket finalization over a (cents, n, positives) counts grid:
    * Σ_rows (c−lo) ≡ Σ_grid (c−lo)·n, so grid-side finalization is
    * EXACT, not an approximation of the row form.
    */
  private[graft] def calibrationFromCounts(counts: DataFrame): DataFrame = {
    val bounds = graft.tools.Scalar.scalarRow(
      counts.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi")))
    counts.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr("((cents - lo) * 10) div (hi - lo + 1)"))
      .groupBy("bucket")
      .agg(sum(col("n")).as("n"), sum(col("positives")).as("positives"),
        sum((col("cents") - col("lo")) * col("n")).as("soff"),
        max(col("hi") - col("lo")).as("span"))
      .select(col("bucket"), col("n"), col("positives"),
        expr("CAST((CAST(soff AS DECIMAL(38,0)) * 1000000) div " +
          "nullif(n * span, 0L) AS BIGINT)").as("pred_micro"),
        expr("CAST((positives * 1000000) div n AS BIGINT)").as("obs_micro"))
      .withColumn("gap_micro", col("pred_micro") - col("obs_micro"))
      .orderBy("bucket")
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the trade graph, with the partition scored by exact
    * Newman modularity terms — the missing member between q107
    * (connected components: WHICH nodes touch) and the centrality panel
    * (WHO matters): which nodes form densely-traded BLOCS. Four fixed
    * synchronous rounds; each node adopts the plurality label among its
    * neighbors PLUS ITSELF (the self-vote damps the 2-cycle oscillation
    * synchronous LPA exhibits on bipartite graphs), ties broken (count
    * DESC, label ASC) — fully deterministic, so the oracle replays the
    * identical 4 rounds.
    *
    * Modularity: with m2 = directed edge count (= 2m), e_c = intra-
    * community directed edges, d_c = community degree sum, the
    * community's term is (e_c·m2 − d_c²)/m2². Numerator SIGNED → q159's
    * rule: exact BIGINT numerator + ONE IEEE division, no signed
    * integral division.
    *
    * Scale: per round one labels⋈edges shuffle + a (node,label) partial
    * agg + a node-partitioned argmin window; labels localCheckpoint per
    * round (q78's lineage discipline). The modularity tally is two more
    * label-keyed partial aggs; m2 rides a scalarRow 1-row relation.
    */
  private def q168(spark: SparkSession, dir: String): DataFrame =
    communityFromEdges(tradeEdges(spark, dir))

  private[graft] def communityFromEdges(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    for (_ <- 0 until 4) {
      val votes = labels.join(edges, col("node") === col("src"))
        .select(col("dst").as("vnode"), col("label"))
        .unionByName(labels.select(col("node").as("vnode"), col("label")))
        .groupBy(col("vnode"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("vnode")
        .orderBy(col("cnt").desc, col("label").asc)
      labels = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vnode").as("node"), col("label"))
        .localCheckpoint(true)
    }
    val m2 = graft.tools.Scalar.scalarRow(
      edges.agg(count(lit(1)).as("m2")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val dc = labels.join(deg, col("node") === col("src"))
      .groupBy("label")
      .agg(sum(col("deg")).as("d_c"), count(lit(1)).as("size"))
    val a = labels.select(col("node").as("n1"), col("label").as("lab1"))
    val b = labels.select(col("node").as("n2"), col("label").as("lab2"))
    val ic = edges.join(a, col("src") === col("n1"))
      .join(b, col("dst") === col("n2"))
      .filter(col("lab1") === col("lab2"))
      .groupBy(col("lab1").as("label"))
      .agg(count(lit(1)).as("e_c0"))
    dc.join(ic, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label").as("community"), col("size"),
        coalesce(col("e_c0"), lit(0L)).as("e_c"), col("d_c"),
        boundedLong(expr("CAST(coalesce(e_c0, 0) AS DECIMAL(38,0)) * m2 " +
          "- CAST(d_c AS DECIMAL(38,0)) * d_c"), "q_num").as("q_num"),
        boundedLong(expr("CAST(m2 AS DECIMAL(38,0)) * m2"), "q_den")
          .as("q_den"))
      .withColumn("q_term",
        col("q_num").cast("double") / col("q_den").cast("double"))
      .orderBy("community")
  }

  /** Hop plot from the K=8 seed panel — the distance-distribution view
    * (effective diameter, neighborhood growth) the closeness/harmonic
    * scalars summarize away: per seed, one row per hop with the node
    * count at that distance and the seed's eccentricity-within-horizon.
    * Reuses [[multiSourceBfs]] verbatim.
    */
  private def q169(spark: SparkSession, dir: String): DataFrame = {
    val (visited, _) = multiSourceBfs(tradeEdges(spark, dir))
    val byCnt = visited.groupBy("seed", "dist")
      .agg(count(lit(1)).as("n_at_dist"))
    val wEcc = Window.partitionBy("seed")
    byCnt.withColumn("ecc", max(col("dist")).over(wEcc))
      .select(
        when(col("seed") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("seed div 2").as("node_id"),
        col("dist"), col("n_at_dist"), col("ecc"))
      .orderBy("node_type", "node_id", "dist")
  }

  /** KMV set-operation estimates between event-type user sets — the
    * sketch algebra q53's single-set cardinality stops short of: for
    * every pair of event classes, estimate |A∪B|, Jaccard, and |A∩B|
    * from the two k=64 bottom-k sketches ALONE (Beyer et al. 2007) —
    * the "how much do these two crawls overlap" question answered
    * without ever co-shuffling the full sets. KMV merges losslessly:
    * the k smallest of (KMV(A) ∪ KMV(B)) ARE the union's KMV, so
    * J ≈ |KMV(A∪B) ∩ KMV(A) ∩ KMV(B)| / k exactly as published here
    * (matches/n_u as an exact micro integral division). Exact truth
    * columns ride the same scan for the eval story (dropped at 100 TB
    * like q53's).
    *
    * Engine parity: the portable md5-prefix hash, est = 63·2⁶⁰/h_k and
    * inter_est = (matches·est)/n_u are the q53 single-IEEE-op
    * discipline over exact operands. Under-filled sketches (n_u < k)
    * publish the exact union — both engines take the same branch.
    *
    * Scale: sketches are one distinct + per-class bottom-k (native
    * TopKPerKey heaps, no global sort); the pair stage is a
    * plan-bounded ≤12×12 class cross over k-row sketches; only the
    * TRUTH columns touch a corpus-sized h-keyed shuffle.
    */
  private def q170(spark: SparkSession, dir: String): DataFrame =
    kmvSetopsFromSets(Tables.events(spark, dir)
      .select(col("event_type"),
        graft.functions.hashes.portableHash60(col("user_id").cast("string"))
          .as("h"))
      .distinct()
      .localCheckpoint(true))

  /** The KMV set-operation body over a distinct (event_type, h) frame —
    * factored so the spec can plant literal hash sets and pin the
    * exact under-filled branch.
    */
  private[graft] def kmvSetopsFromSets(ev: DataFrame, k: Int = 64)
      : DataFrame = {
    val kmv = graft.plans.TopKPerKey.perKey(ev,
      keys = Seq("event_type"), order = Seq("h" -> true), k = k)
    // deterministic class cap: ordered before the limit (an unordered
    // limit(12) would pick an ARBITRARY subset if classes ever exceed
    // 12 and silently diverge from the oracle) — mirrored in the
    // oracle's ORDER BY event_type LIMIT 12
    val types = ev.select("event_type").distinct()
      .orderBy("event_type").limit(12)
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    val withPair = kmv.join(broadcast(pairs),
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy("ta", "tb", "h")
      .agg(max(when(col("event_type") === col("ta"), 1).otherwise(0))
          .as("ia"),
        max(when(col("event_type") === col("tb"), 1).otherwise(0))
          .as("ib"))
    val w = Window.partitionBy("ta", "tb").orderBy("h")
    val ka = withPair.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("kth"),
        sum(when(col("ia") === 1 && col("ib") === 1, 1L).otherwise(0L))
          .as("matches"))
    val sz = ev.groupBy("event_type").agg(count(lit(1)).as("sz"))
    val it = ev.select(col("event_type").as("xa"), col("h"))
      .join(ev.select(col("event_type").as("xb"), col("h")), "h")
      .filter(col("xa") < col("xb"))
      .groupBy(col("xa").as("ita"), col("xb").as("itb"))
      .agg(count(lit(1)).as("inter_true0"))
    val two60d = lit(1152921504606846976L).cast("double")
    ka.join(sz.select(col("event_type").as("ea"), col("sz").as("n_a")),
        col("ta") === col("ea"))
      .join(sz.select(col("event_type").as("eb"), col("sz").as("n_b")),
        col("tb") === col("eb"))
      .join(it, col("ta") === col("ita") && col("tb") === col("itb"),
        "left")
      .withColumn("inter_true", coalesce(col("inter_true0"), lit(0L)))
      .withColumn("union_true", col("n_a") + col("n_b") - col("inter_true"))
      .withColumn("est_union",
        when(col("n_u") < k, col("union_true").cast("double"))
          .otherwise(lit((k - 1).toDouble) * two60d
            / col("kth").cast("double")))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        col("inter_true"), col("union_true"), col("n_u"), col("kth"),
        col("est_union"), col("matches"),
        expr("CAST((matches * 1000000) div n_u AS BIGINT)")
          .as("jaccard_micro"),
        (col("matches").cast("double") * col("est_union")
          / col("n_u").cast("double")).as("inter_est"))
      .orderBy("ta", "tb")
  }

  /** Hilbert-curve clustering key on the (partkey, suppkey) grid — the
    * locality-optimal sibling of q34's Z-order: consecutive Hilbert
    * indices are ALWAYS grid-adjacent (Z-order takes a long diagonal
    * jump at every bit carry), so sorting by hval gives tighter per-file
    * min/max boxes for two-dimensional skipping at the same sort cost —
    * the OPTIMIZE ZORDER alternative lakehouses ship. Computed by the
    * native codegen'd [[graft.functions.HilbertIndex]] expression (the
    * iterative xy→d rotation walk); checked output is per-bucket
    * occupancy, q34's convention, so the curve itself is what's
    * verified — the oracle replays all 8 rotation levels in SQL.
    */
  private def q171(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val x = (col("l_partkey") % 256).cast("bigint")
    val y = (col("l_suppkey") % 256).cast("bigint")
    li.select(graft.functions.hashes.hilbertIndex(x, y).as("hval"))
      .groupBy(shiftright(col("hval"), 6).as("hbucket"))
      .agg(count(lit(1)).as("n"), min(col("hval")).as("hmin"),
        max(col("hval")).as("hmax"))
      .orderBy("hbucket")
  }

  /** Isotonic (monotone) calibration fit by the minimax closed form —
    * the PAV (pool-adjacent-violators) result computed declaratively:
    * over q167's 10-bucket reliability grid, the isotonic fit at bucket
    * i is max_{j≤i} min_{k≥i} rate(j..k) (Barlow et al. 1972: the
    * greatest convex minorant's segment-average form, which equals
    * PAV's merged pools) — the standard monotone recalibration a score
    * gets before thresholding. Rates compare at the micro grain
    * (integral division first, then min/max over exact ints), so both
    * engines walk identical comparisons — the documented quantization
    * of the fit.
    *
    * Scale: the grid is 10 rows by construction (plan-visible limit),
    * so the j≤i≤k triple cross is ≤10³ rows of driver-free arithmetic;
    * the corpus is touched once by the same scan q167 runs.
    */
  private def q172(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    isotonicFromScored(ev)
  }

  /** The minimax isotonic fit over a (cents, pos) scored frame —
    * factored for the spec's planted-violation grid.
    */
  private[graft] def isotonicFromScored(ev: DataFrame): DataFrame =
    isotonicFromCounts(ev.groupBy("cents")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("positives")))

  /** The minimax fit over a (cents, n, positives) counts grid — the
    * same grid a stream folds (st_calibration's discipline), so
    * st_isotonic shares this code and q172's oracle verbatim.
    */
  private[graft] def isotonicFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val bounds = graft.tools.Scalar.scalarRow(
      counts.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi")))
    // the corpus reduces to the ≤10-bucket grid ONCE; the grid collects
    // (parameter-bounded, the codebook convention) and re-injects as a
    // literal local relation, so the triple cross below is PLAN-PROVABLY
    // ≤10³ (a localCheckpoint here would truncate lineage and make the
    // cross indistinguishable from an unbounded cartesian — the same
    // trap tools.Scalar.scalarRow solves for 1-row aggregates)
    val g = counts.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr("((cents - lo) * 10) div (hi - lo + 1)"))
      .groupBy("bucket")
      .agg(sum(col("n")).as("n"), sum(col("positives")).as("positives"))
      .limit(10)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("bucket", "n", "positives")
    val segs = g.select(col("bucket").as("jb"))
      .crossJoin(g.select(col("bucket").as("kb")))
      .filter(col("jb") <= col("kb"))
      .join(g.select(col("bucket").as("mb"), col("n"), col("positives")),
        col("jb") <= col("mb") && col("mb") <= col("kb"))
      .groupBy("jb", "kb")
      .agg(expr("CAST((sum(positives) * 1000000) div sum(n) AS BIGINT)")
        .as("f_micro"))
    val iso = segs
      .join(g.select(col("bucket").as("ib")),
        col("jb") <= col("ib") && col("ib") <= col("kb"))
      .groupBy("ib", "jb")
      .agg(min(col("f_micro")).as("mn"))
      .groupBy("ib")
      .agg(max(col("mn")).as("iso_micro"))
    g.join(iso, col("bucket") === col("ib"))
      .select(col("bucket"), col("n"), col("positives"),
        expr("CAST((positives * 1000000) div n AS BIGINT)").as("obs_micro"),
        col("iso_micro"))
      .withColumn("pooled",
        (col("iso_micro") =!=
          expr("CAST((positives * 1000000) div n AS BIGINT)")).cast("int"))
      .orderBy("bucket")
  }

  /** Two-proportion z-test between CONSECUTIVE WEEKS' purchase rates —
    * the A/B-shaped significance readout every eval dashboard needs:
    * did conversion actually move, or is the delta noise? Pooled
    * z = (p1 − p2) / sqrt(p̂(1−p̂)(1/n1 + 1/n2)); q165's IEEE
    * discipline (exact count operands, one pinned expression tree —
    * correctly-rounded ops make identical trees bit-identical), and the
    * significance flag is an exact comparison on that deterministic
    * double. Adjacent weeks pair by a self-join on week_start + 7 days
    * — no window, no global sort.
    */
  private def q173(spark: SparkSession, dir: String): DataFrame = {
    val wk = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd")
        .as("week"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"),
        count(lit(1)).as("n"))
    val a = wk.select(col("week").as("w1"), col("x").as("x1"),
      col("n").as("n1"))
    val b = wk.select(col("week").as("w2"), col("x").as("x2"),
      col("n").as("n2"))
    val paired = a.join(b,
      expr("CAST(w2 AS DATE) = CAST(w1 AS DATE) + INTERVAL 7 DAY"))
    val p1 = col("x1").cast("double") / col("n1").cast("double")
    val p2 = col("x2").cast("double") / col("n2").cast("double")
    val pp = (col("x1") + col("x2")).cast("double") /
      (col("n1") + col("n2")).cast("double")
    // pooled variance is EXACTLY 0.0 when both weeks are all-purchase or
    // no-purchase (pp ∈ {0,1} exactly — integer/integer, then ×0); the
    // naive 0/0 = NaN is a Spark-vs-DuckDB parity seam (NaN ordering,
    // ieee_floating_point_ops), so the degenerate pair publishes NULL z
    // explicitly and both engines take the same branch
    val v = pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n1").cast("double")
        + lit(1.0) / col("n2").cast("double"))
    val z = when(v > 0.0, (p1 - p2) / sqrt(v))
    paired.select(col("w1"), col("w2"), col("x1"), col("n1"),
      col("x2"), col("n2"), z.as("z"),
      (abs(z) > 1.96).cast("int").as("significant"))
      .orderBy("w1")
  }

  /** The matrix-profile finalization over a per-(event_type, day) cents
    * rollup — st_matrix_profile's batch-side half: the stream folds the
    * corpus-sized reduction (events → daily cents, watermarked day
    * windows) and this finalizer densifies the calendar spine
    * (zero-filled), scales to the div-1000 unit grain (q160's overflow
    * discipline), and runs the same [[matrixProfile]] kernel per class —
    * the live "is this week's revenue shape a rerun of a past regime or
    * an anomaly" monitor. Bounds: days calendar-bounded, classes ≤ 12
    * (plan-visible limit).
    */
  private[graft] def matrixProfileFromDaily(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    // engine-identical grain for EITHER sign of the daily cents sum:
    // Spark's `div` truncates toward zero and so does DuckDB's integer
    // `//` (measured: -7 // 2 = -3 — it does NOT floor). The r13 seam
    // fuzzer proved this on a planted negative single-event class: a
    // pmod-flooring "fix" here made Spark -73 where the oracle
    // truncates to -72. Trunc-vs-trunc needs no guard.
    val d = daily.select(to_date(col("day")).as("day"), col("event_type"),
      expr("cents div 1000").as("units"))
    val bounds = graft.tools.Scalar.scalarRow(
      d.agg(min(col("day")).as("lo"), max(col("day")).as("hi")))
    val spine = d.select("event_type").distinct().limit(12)
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    spine.join(d, Seq("event_type", "day"), "left")
      .groupBy("event_type")
      .agg(expr("transform(array_sort(collect_list(struct(day, " +
        "coalesce(units, CAST(0 AS BIGINT)) AS c))), x -> x.c)").as("a"))
      .limit(12)
      .as[(String, Seq[Long])]
      .flatMap { case (et, s) =>
        matrixProfile(s.toArray, 6).map { case (i, ssd, j) =>
          (et, i.toLong, ssd, j.toLong)
        }
      }
      .toDF("event_type", "pos", "profile_ssd", "nn_pos")
      .orderBy("event_type", "pos")
  }

  /** Harmonic centrality from the same 8-seed, 8-hop multi-source BFS —
    * closeness's robust sibling: H(s) = Σ_{u reached} 1/d(s,u), which
    * (unlike closeness) degrades gracefully on DISCONNECTED graphs —
    * unreachable nodes contribute 0 instead of poisoning a global mean
    * distance, which is why Boldi–Vigna recommend it as the default
    * centrality for web-scale graphs. The textbook contrast is visible
    * in the output: q156's closeness divides by Σd over the REACHED set
    * only, harmonic needs no such restriction.
    *
    * Determinism: every term is ⌊10¹²/d⌋ with d ∈ 1..8 — ONE integral
    * division per (seed, node) pair of exact positive integers, then an
    * exact DECIMAL(38,0) sum (HUGEINT in the oracle; a long sum wraps
    * past ~9·10⁶ reached nodes). The normalized form divides once more
    * by (n−1). No doubles anywhere.
    *
    * Scale: the BFS is the whole cost and is SHARED CODE with q156
    * ([[multiSourceBfs]]); the reduction is one partial-agg groupBy
    * (seed) over the visited frame.
    */
  private[graft] def harmonicFromEdges(edges: DataFrame): DataFrame = {
    val (visited, nodes) = multiSourceBfs(edges)
    val n = graft.tools.Scalar.scalarRow(
      nodes.agg(count(lit(1)).as("n_nodes")))
    visited.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("reached"),
        sum(expr("CAST(1000000000000 div dist AS DECIMAL(38,0))"))
          .as("hsum"))
      .crossJoin(broadcast(n))
      .select(
        when(col("seed") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("seed div 2").as("node_id"),
        col("reached"),
        col("hsum").cast("long").as("harmonic_pico"),
        expr("CAST(hsum DIV nullif(CAST(n_nodes - 1 AS DECIMAL(38,0)), " +
          "CAST(0 AS DECIMAL(38,0))) AS BIGINT)")
          .as("harmonic_norm_pico"))
      .orderBy("node_type", "node_id")
  }

  private def q162(spark: SparkSession, dir: String): DataFrame =
    harmonicFromEdges(tradeEdges(spark, dir))

  /** The DTW finalization over a per-(event_type, day) cents rollup —
    * st_dtw's batch-side half: the stream folds the corpus-sized
    * reduction (events → daily cents) as a watermarked aggregate, and
    * this finalizer densifies the day spine (zero-filled — the DP needs
    * equal-grain series), pairs the classes, and runs the same integer
    * [[dtwCents]] recurrence q154 gates. Bounds: days are
    * calendar-bounded, classes ≤ 12 (plan-visible limit).
    */
  private[graft] def dtwFromDaily(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val d = daily.select(to_date(col("day")).as("day"),
      col("event_type"), col("cents"))
    val bounds = graft.tools.Scalar.scalarRow(
      d.agg(min(col("day")).as("lo"), max(col("day")).as("hi")))
    val spine = d.select("event_type").distinct().limit(12)
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val ser = spine.join(d, Seq("event_type", "day"), "left")
      .groupBy("event_type")
      .agg(expr("transform(array_sort(collect_list(struct(day, " +
        "coalesce(cents, CAST(0 AS BIGINT)) AS c))), x -> x.c)").as("a"))
      .limit(12)
    ser.as("x").join(ser.as("y"), col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("ta"), col("y.event_type").as("tb"),
        col("x.a").as("a"), col("y.a").as("b"))
      .as[(String, String, Seq[Long], Seq[Long])]
      .map { case (ta, tb, a, b) =>
        (ta, tb, dtwCents(a.toArray, b.toArray),
          a.zip(b).map(t => math.abs(t._1 - t._2)).sum)
      }
      .toDF("type_a", "type_b", "dtw_cents", "l1_cents")
      .orderBy("type_a", "type_b")
  }

  /** The integer DTW recurrence over two equal-grain series, two rolling
    * rows of state. Sentinel = MaxValue/4 so `cost + min` cannot wrap.
    */
  private[graft] def dtwCents(a: Array[Long], b: Array[Long]): Long = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return 0L
    val inf = Long.MaxValue / 4
    var prev = Array.fill(m)(inf)
    var cur = new Array[Long](m)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < m) {
        val c = math.abs(a(i) - b(j))
        val best =
          if (i == 0 && j == 0) 0L
          else math.min(
            math.min(if (i > 0) prev(j) else inf,
              if (j > 0) cur(j - 1) else inf),
            if (i > 0 && j > 0) prev(j - 1) else inf)
        cur(j) = c + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m - 1)
  }

  /** Matrix profile (UCR/STOMP family) over each nation's monthly revenue
    * series — motif & discord discovery, the time-series member the
    * alignment (q154) and changepoint (q104/q118) queries don't express:
    * for every length-6 window, the distance to its nearest NON-TRIVIAL
    * neighbor (|i−j| ≥ the window length, the standard exclusion zone, so
    * a window never "matches" its own overlap). A low profile value marks
    * a repeated regime (motif); the profile's maximum marks the series'
    * most anomalous stretch (discord).
    *
    * Determinism: distances are squared-sum-of-differences over integer
    * units (monthly cents div 1000 — the published value grain; at
    * ~2.4×10⁹ max monthly cents the raw-cents squares would near BIGINT,
    * and the div-1000 grain pushes overflow out to a ~10⁶× corpus — the
    * decimal widening past that is mechanical), so both engines produce
    * bit-identical BIGINTs; the z-normalized variant practitioners run is
    * order-dependent double arithmetic and can never hash-gate. Neighbor
    * ties break to the SMALLEST j on both sides.
    *
    * Scale: q154's discipline — the data-proportional revenue rollup is
    * declarative (one partial-agg shuffle to (nation, month)); each
    * series is CALENDAR-BOUNDED (~84 months), so the O(L²) profile runs
    * as a typed per-nation map (the documented last-resort rung) and
    * nations parallelize embarrassingly. A 100× corpus grows only the
    * rollup's input.
    */
  private def q160(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") < 5)
      .groupBy(col("c_nationkey").cast("long").as("nation"),
        ((year(col("o_orderdate")) - 1992) * 12
          + month(col("o_orderdate")) - 1).as("m"))
      // `div` and the oracle's integer `//` both truncate toward zero
      // (r13 fuzzer measurement), so the grain is engine-identical for
      // any sign; these sums of positive prices never go negative anyway
      .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) " +
        "AS BIGINT) div 1000").as("units"))
    val bounds = graft.tools.Scalar.scalarRow(
      rev.agg(min(col("m")).as("lo"), max(col("m")).as("hi")))
    val spine = rev.select("nation").distinct().limit(25)
      .crossJoin(broadcast(bounds))
      .select(col("nation"), explode(sequence(col("lo"), col("hi"))).as("m"))
    spine.join(rev, Seq("nation", "m"), "left")
      .groupBy("nation")
      .agg(expr("transform(array_sort(collect_list(struct(m, " +
        "coalesce(units, CAST(0 AS BIGINT)) AS c))), x -> x.c)").as("a"))
      .as[(Long, Seq[Long])]
      .flatMap { case (nation, s) =>
        matrixProfile(s.toArray, 6).map { case (i, ssd, j) =>
          (nation, i.toLong, ssd, j.toLong)
        }
      }
      .toDF("nation", "pos", "profile_ssd", "nn_pos")
      .orderBy("nation", "pos")
  }

  /** Eigenvector centrality over the undirected trade graph — the
    * centrality family member between degree (local) and PageRank
    * (teleport-damped): a node scores by the scores of its neighbors,
    * computed by POWER ITERATION with max-normalization. Completes the
    * panel q39 (PageRank), q48 (HITS), q156 (closeness) and q157
    * (clustering) built — "important because connected to the important",
    * with no damping prior.
    *
    * Determinism: r'(v) = Σ_{u∼v} r(u) accumulates in DECIMAL(38,0)
    * (mirrored by DuckDB's HUGEINT sum — a long sum overflows at degree
    * ~10⁹ × the 10⁹ scale), and the normalization r'' = (r'·10⁹) div
    * max(r') is ONE integral division of exact positive integers per
    * node — bit-identical in both engines, where the float power
    * iteration's order-dependent sums never are. Five fixed iterations,
    * matching the oracle's unrolled CTE chain (normalizing iterations
    * keep fixed counts — q39's convention — because the oracle semantics
    * pin the iteration number).
    *
    * Scale: q39's loop shape — each iteration is one ranks⋈edges join
    * (hash-partitioned on src both sides after the first) and one
    * partial-agg groupBy(dst); the per-iteration max is a scalarRow
    * (1-row, plan-visible bound); inflow localCheckpoints per iteration
    * so the eager max probe never replays prior iterations.
    */
  private def q161(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    val scale = 1000000000L
    var ranks = nodes.select(col("node"),
      lit(scale).cast("decimal(38,0)").as("rank"))
    for (_ <- 0 until 5) {
      // bidirectional edges ⇒ every node has in-edges ⇒ inflow keeps the
      // full node set (no left-join resurrection needed)
      val inflow = ranks.join(edges, col("node") === col("src"))
        .groupBy("dst")
        .agg(sum(col("rank")).as("inflow"))
        .localCheckpoint(true)
      val mx = graft.tools.Scalar.scalarRow(
        inflow.agg(max(col("inflow")).as("mx")))
      ranks = inflow.crossJoin(broadcast(mx))
        .select(col("dst").as("node"),
          expr(s"CAST((inflow * $scale) div mx AS DECIMAL(38,0))")
            .as("rank"))
    }
    ranks.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("node_type"),
      expr("node div 2").as("node_id"),
      col("rank").cast("long").as("score_scaled"))
      .orderBy("node_type", "node_id")
  }

  /** Katz centrality over the trade graph — the attenuation member of
    * the centrality panel between raw degree and eigenvector/PageRank:
    * K(v) = Σ_{k=1..T} β^k · walks_k(v), counting WALKS of length k
    * ending at v (Katz 1953). β = 1/4, T = 4, and the published score is
    * the exact integer katz_scaled = 4^T·K(v) = Σ_k walks_k(v)·4^(T−k) —
    * NO division anywhere: walk counts accumulate in DECIMAL(38,0)
    * (they grow like deg^k) and the attenuation is a power-of-4 literal
    * weight per level. The oracle replays the same 4 unrolled
    * walk-count iterations.
    *
    * Scale: each level is one frontier⋈edges shuffle keyed on node (the
    * q161 shape, localCheckpointed per level so lineage stays flat); the
    * final union+groupBy is one more partial-agg exchange; T is fixed.
    * Bidirectional edges mean every node has in-edges, so no level
    * loses nodes (q161's invariant).
    */
  private def q163(spark: SparkSession, dir: String): DataFrame =
    katzFromEdges(tradeEdges(spark, dir))

  /** The walk-count Katz body over any (src, dst) edge list — factored
    * so the spec can drive a planted path graph with hand-counted walks.
    */
  private[graft] def katzFromEdges(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
    val T = 4
    var w = nodes.select(col("node"),
      lit(1L).cast("decimal(38,0)").as("w"))
    var contrib: DataFrame = null
    for (k <- 1 to T) {
      w = w.join(edges, col("node") === col("src"))
        .groupBy("dst")
        .agg(sum(col("w")).cast("decimal(38,0)").as("w"))
        .select(col("dst").as("node"), col("w"))
        .localCheckpoint(true)
      val weight = 1L << (2 * (T - k)) // 4^(T-k): 64, 16, 4, 1
      val c = w.select(col("node"),
        (col("w") * lit(weight)).cast("decimal(38,0)").as("c"))
      contrib = if (contrib == null) c else contrib.unionByName(c)
    }
    contrib.groupBy("node")
      .agg(sum(col("c")).as("katz"))
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("node_id"),
        boundedLong(col("katz"), "katz_scaled").as("katz_scaled"))
      .orderBy("node_type", "node_id")
  }

  /** Seeded betweenness centrality (Brandes 2001) over the trade graph —
    * "which accounts BROKER the market's shortest paths", the member of
    * the centrality panel that degree/closeness/eigenvector can't
    * approximate (a low-degree node bridging two communities scores
    * high). Exact Brandes is all-sources; this is the standard K-seed
    * estimator (Brandes–Pich 2007) from the same K=8 deterministic
    * seeds and a fixed 6-hop horizon the closeness/harmonic panel uses.
    */
  private def q164(spark: SparkSession, dir: String): DataFrame =
    brandesFromEdges(tradeEdges(spark, dir))

  /** The seeded-Brandes body over any (src, dst) edge list — factored
    * so the spec can drive a planted diamond graph with hand-computed
    * dependencies.
    *
    * Forward pass: the multi-source BFS additionally carries σ (the
    * shortest-path COUNT), folded on first discovery — σ_v = Σ σ_u over
    * dist-(k−1) predecessors, an exact DECIMAL(38,0) integer.
    * Backward pass: per level from deep to shallow, the dependency
    * δ(v) = Σ_{w : succ} ⌊σ_v · (10¹² + δ(w)) / σ_w⌋ — one integral
    * division of POSITIVE integers per DAG edge (Spark DIV ≡ DuckDB //
    * there), so both engines replay the identical floor recurrence
    * level by level. Published: betweenness_pico = Σ_seeds δ(v), v not
    * a seed, zero-dependency nodes dropped.
    *
    * The oracle replays the forward pass as WALK COUNTS: a walk of
    * length dist(v) from the seed IS a shortest path, so
    * σ(v) = walks_{dist(v)}(v) — equality of the BFS-folded σ and the
    * walk-count σ is itself a differential proof of the forward pass.
    *
    * Scale: forward = the multiSourceBfs envelope with one extra sum
    * per frontier fold; backward = one (seed,node)-keyed join per level
    * (6, fixed); K bounds everything; per-hop localCheckpoint keeps
    * lineage flat (q78's discipline). σ·(10¹²+δ) stays far inside
    * DECIMAL(38,0) for any graph whose in-horizon σ ≤ ~10¹².
    */
  private[graft] def brandesFromEdges(edges: DataFrame): DataFrame = {
    val maxHops = 6
    val pico = "CAST(1000000000000 AS DECIMAL(38,0))"
    // forward: the SHARED σ-carrying seeded BFS ([[seededBfsSigma]] —
    // memoized with closeness/harmonic/hop-plot). Its 8-hop horizon is a
    // strict superset of this query's: a row's (dist, σ) is fixed at
    // first discovery, so filtering to dist ≤ 6 is identical to running
    // the forward pass with a 6-hop cap.
    val visited = seededBfsSigma(edges).filter(col("dist") <= maxHops)
    // The shortest-path DAG, built ONCE for all six backward levels:
    // (seed, v at dist k, σv, w = v's successor at dist k+1, σw, k).
    // The previous shape re-derived exactly this row set inside the
    // loop — each level joined its dist slice against the full edge
    // table and then against the dist-(k+1) slice, 3 exchanges × 6
    // levels; the r15 restructure pays the visited⋈edges⋈visited cost
    // once (same total rows shuffled — the per-level intermediates WERE
    // the DAG, sliced) and each level below is one join against the
    // previous level's δ frame plus its groupBy. Same recurrence, same
    // rows, ~half the exchanges and a third of the distinct codegen
    // stages (per-entry cold cost is JIT-dominated at bench scale).
    val dagEdges = visited
      .select(col("seed"), col("node"), col("dist"), col("sigma"))
      .join(edges, col("node") === col("src"))
      .join(visited.select(col("seed").as("wseed"), col("node").as("wnode"),
          col("dist").as("wdist"), col("sigma").as("wsigma")),
        col("seed") === col("wseed") && col("dst") === col("wnode")
          && col("wdist") === col("dist") + 1)
      .select(col("seed"), col("node"), col("dist"), col("sigma"),
        col("wnode"), col("wsigma"))
      .localCheckpoint(true)
    // backward: dependencies level by level, deepest first; nodes at
    // the horizon start at zero dependency. (r16 probe: a lazy persist()
    // instead of the per-level eager localCheckpoint leaves the job
    // count unchanged — AQE materializes each exchange as its own job
    // either way — and measured neutral warm, slightly worse cold via
    // the columnar-cache codegen; the eager shape stays.)
    var deltaNext: DataFrame = null // (seed, node, delta) at level k+1
    var acc: DataFrame = null
    for (k <- (maxHops - 1) to 0 by -1) {
      val lvl = dagEdges.filter(col("dist") === k)
      // left join: a successor w with no own successors emitted no δ row
      // at level k+1 — its dependency is zero (the old wNext coalesce)
      val withDw =
        if (deltaNext == null)
          lvl.withColumn("dw", lit(0L).cast("decimal(38,0)"))
        else lvl.join(deltaNext
            .select(col("seed").as("dseed"), col("node").as("dnode"),
              col("delta").as("dw0")),
          col("seed") === col("dseed") && col("wnode") === col("dnode"),
          "left")
          .select(col("seed"), col("node"), col("sigma"),
            col("wnode"), col("wsigma"),
            coalesce(col("dw0"), lit(0L).cast("decimal(38,0)")).as("dw"))
      val dThis = withDw
        .select(col("seed"), col("node"),
          expr(s"CAST((sigma * ($pico + dw)) div wsigma " +
            "AS DECIMAL(38,0))").as("term"))
        .groupBy("seed", "node")
        .agg(sum(col("term")).cast("decimal(38,0)").as("delta"))
        .localCheckpoint(true)
      deltaNext = dThis
      acc = if (acc == null) dThis else acc.unionByName(dThis)
    }
    acc.filter(col("node") =!= col("seed"))
      .groupBy("node")
      .agg(sum(col("delta")).as("bp"))
      .filter(col("bp") > 0)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("node_id"),
        boundedLong(col("bp"), "betweenness_pico").as("betweenness_pico"))
      .orderBy("node_type", "node_id")
  }

  /** The in-core profile kernel: for each 0-based window start, the min
    * SSD to any window at |i−j| ≥ w, tie-broken to the smallest j;
    * positions with no admissible neighbor (short series) emit nothing.
    */
  private[graft] def matrixProfile(a: Array[Long], w: Int)
      : Seq[(Int, Long, Int)] = {
    val nPos = a.length - w + 1
    (0 until nPos).flatMap { i =>
      var best = Long.MaxValue
      var bj = -1
      var j = 0
      while (j < nPos) {
        if (math.abs(i - j) >= w) {
          var s = 0L
          var k = 0
          while (k < w) { val d = a(i + k) - a(j + k); s += d * d; k += 1 }
          if (s < best) { best = s; bj = j }
        }
        j += 1
      }
      if (bj < 0) None else Some((i, best, bj))
    }
  }

  /** The decayed-LTV finalization over a per-(user, day) purchase
    * rollup — the single definition q151 and st_ltv share. Day-grain
    * pre-aggregation is EXACT here: the 2^(K−age) weight is constant
    * within a day, so Σ cents·w = Σ_day (Σ cents)·w_day.
    */
  private[graft] def ltvFromDaily(daily: DataFrame): DataFrame = {
    // scalarRow, not localCheckpoint: same eager single job, but the
    // 1-row bound stays visible to PlanAudit (see tools.Scalar)
    val horizon = graft.tools.Scalar.scalarRow(
      daily.agg(max(col("d")).as("d1"), expr("max(d) - min(d)").as("span")))
    daily.crossJoin(broadcast(horizon))
      .withColumn("age_w", expr("(d1 - d) div 7"))
      .withColumn("k", expr("span div 7"))
      .groupBy("user_id")
      .agg(sum(col("n")).as("n_purchases"),
        sum(col("cents")).as("raw_cents"),
        max(col("k")).as("kmax"),
        sum(expr("cents * shiftleft(1L, cast(k - age_w as int))"))
          .as("wsum"))
      .select(col("user_id"), col("n_purchases"), col("raw_cents"),
        (col("wsum").cast("double")
          / expr("shiftleft(1L, cast(kmax as int))").cast("double"))
          .as("decayed_cents"))
      .orderBy("user_id")
  }

  /** Autocomplete index — per word prefix (1–4 chars), the top-3
    * completions by corpus frequency, planned through the NATIVE
    * [[graft.plans.TopKPerKey]] operator (its first text-side
    * composition): vocabulary from one explode + partial agg, a ≤ 4×
    * prefix fan-out of the VOCABULARY (never the corpus), then the
    * heap-per-key top-k with (freq DESC, word) total order — no
    * WindowExec, no full sort of the prefix groups. The oracle states
    * the row_number formulation; equality re-proves the operator on a
    * skewed real distribution (every vocabulary word shares the 1-char
    * prefixes).
    */
  private def q140(spark: SparkSession, dir: String): DataFrame =
    prefixTopkFromVocab(Tables.load(spark, dir, "documents")
      .select(explode(
        graft.operators.TextAnalysis.tokens(lower(col("text"))))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq")))

  /** The prefix fan-out + native heap top-k over a (word, freq)
    * vocabulary — the single definition q140 and st_prefix_topk share
    * (the vocabulary fold is the only corpus-sized reduction; this
    * finalize is vocabulary-sized).
    */
  private[graft] def prefixTopkFromVocab(freq: DataFrame): DataFrame = {
    val pre = freq
      .withColumn("k",
        explode(sequence(lit(1), least(lit(4), length(col("word"))))))
      .select(expr("substr(word, 1, k)").as("prefix"),
        col("word"), col("freq").cast("long").as("freq"))
    graft.plans.TopKPerKey
      .perKey(pre, Seq("prefix"), Seq("freq" -> false, "word" -> true), 3)
      .select("prefix", "word", "freq")
      .orderBy(col("prefix"), col("freq").desc, col("word"))
  }

  /** Trailing 14-day OLS slope — q111's regression moments inside a
    * moving frame: per (class, day), the slope of daily counts against
    * the dense day index over the last 14 observed days, in the exact
    * cleared-fraction form (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) — every
    * moment an exact BIGINT window sum, ONE division per row, NULL for
    * single-point frames (the q77 guard). The local-trend feature a
    * forecaster consumes next to q126's lags — q136 gives the
    * recursive smoother, this gives the windowed estimator.
    *
    * Scale: day-grain partial agg, per-class windows with ≤ 14-row
    * frames over the bounded day grid.
    */
  private def q141(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val f = w.rowsBetween(-13, Window.currentRow)
    val withIdx = daily.withColumn("t", row_number().over(w).cast("long"))
    withIdx
      .withColumn("n", count(lit(1)).over(f))
      .withColumn("st", sum(col("t")).over(f))
      .withColumn("sy", sum(col("y")).over(f))
      .withColumn("sty", sum(col("t") * col("y")).over(f))
      .withColumn("stt", sum(col("t") * col("t")).over(f))
      .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
      .select(col("event_type"), col("day"), col("y"), col("n").as("n_win"),
        (col("n") * col("sty") - col("st") * col("sy")).as("slope_num"),
        col("den").as("slope_den"),
        when(col("den") > 0,
          (col("n") * col("sty") - col("st") * col("sy")).cast("double")
            / col("den").cast("double")).as("slope"))
      .orderBy("event_type", "day")
  }

  /** Time-to-convert quantiles — the funnel-latency read next to
    * q138's depth counts: per user, the span from FIRST view to FIRST
    * purchase (converters = users where the purchase comes at-or-after
    * the view), then exact p25/median/p75 of the spans by the q89
    * integer rule (smallest value with cum·4 ≥ tot / cum·2 ≥ tot /
    * cum·4 ≥ 3·tot) — BIGINT nanoseconds, no interpolation, plus the
    * conversion share as one division.
    *
    * Scale: user-grain partial agg; the quantile window runs over
    * DISTINCT span values (≤ users) — the q89 vc-exchange shape, one
    * bounded global window documented like q87's.
    */
  private def q142(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firsts = e
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_ns"))).as("v0"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("p0"))
      .localCheckpoint(true)
    val spans = firsts
      .filter(col("v0").isNotNull && col("p0").isNotNull &&
        col("p0") >= col("v0"))
      .select((col("p0") - col("v0")).as("t2c"))
    val vc = spans.groupBy("t2c").agg(count(lit(1)).as("c"))
    val byV = Window.orderBy("t2c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = vc
      .withColumn("cum", sum(col("c")).over(byV))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(lit(1))))
      .agg(
        max(col("tot")).as("n_converters"),
        min(when(col("cum") * 4 >= col("tot"), col("t2c"))).as("p25_ns"),
        min(when(col("cum") * 2 >= col("tot"), col("t2c"))).as("median_ns"),
        min(when(col("cum") * 4 >= col("tot") * 3, col("t2c"))).as("p75_ns"),
        min(col("t2c")).as("min_ns"), max(col("t2c")).as("max_ns"))
    val users = firsts.agg(count(lit(1)).as("n_users"))
    users.crossJoin(q)
      .select(col("n_users"), col("n_converters"),
        (col("n_converters").cast("double") / col("n_users").cast("double"))
          .as("conversion_share"),
        col("min_ns"), col("p25_ns"), col("median_ns"), col("p75_ns"),
        col("max_ns"))
  }

  /** Weighted median by the EXACT integer rule — per nation, the
    * customer-balance cents at which half the ORDER mass sits below
    * (smallest v with cumWeight·2 ≥ totalWeight, weight = the
    * customer's order count), next to the unweighted q89-rule median of
    * the same values. No interpolation, no IEEE anywhere — both medians
    * are exact BIGINT cents. The weighted-quantile primitive behind
    * volume-weighted pricing and sampling-design checks.
    *
    * Scale: one customer-grain partial agg, value-count windows over
    * DISTINCT (nation, cents) rows — the q89 vc-exchange shape.
    */
  private def q120(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"),
        (d2(col("c_acctbal")) * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("w"))
    val vc = perCust.groupBy("c_nationkey", "cents")
      .agg(sum(col("w")).as("wsum"), count(lit(1)).as("c"))
    val byV = Window.partitionBy("c_nationkey").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("c_nationkey")
    vc
      .withColumn("cumw", sum(col("wsum")).over(byV))
      .withColumn("cumc", sum(col("c")).over(byV))
      .withColumn("totw", sum(col("wsum")).over(whole))
      .withColumn("totc", sum(col("c")).over(whole))
      .groupBy("c_nationkey")
      .agg(
        max(col("totc")).as("n_customers"),
        max(col("totw")).as("total_orders"),
        min(when(col("cumw") * 2 >= col("totw"), col("cents")))
          .as("weighted_median_cents"),
        min(when(col("cumc") * 2 >= col("totc"), col("cents")))
          .as("median_cents"))
      .orderBy("c_nationkey")
  }

  /** One UNION-ALL block of the q91 oracle: the key-count histogram
    * join replayed in SQL, with q91's tie rule (hottest key = largest
    * key among max-product ties) spelled out.
    */
  private def fanoutOneSql(label: String, child: String, fk: String,
      parent: String, pk: String): String =
    s"""SELECT '$label' AS relationship, mk AS matched_keys,
       |  CAST(jr AS BIGINT) AS join_rows, hk AS hottest_key,
       |  CAST(mp AS BIGINT) AS hottest_rows,
       |  CAST(mp AS DOUBLE) / CAST(jr AS DOUBLE) AS hottest_share
       |FROM (
       |  SELECT count(*) AS mk, sum(prod) AS jr, max(prod) AS mp
       |  FROM (SELECT ca.k, CAST(ca.ca AS DECIMAL(38,0)) * cb.cb AS prod
       |        FROM (SELECT $fk AS k, count(*) AS ca FROM $child GROUP BY 1) ca
       |        JOIN (SELECT $pk AS k, count(*) AS cb FROM $parent GROUP BY 1) cb
       |          ON ca.k = cb.k)) s,
       |LATERAL (
       |  SELECT max(k) AS hk
       |  FROM (SELECT ca.k, CAST(ca.ca AS DECIMAL(38,0)) * cb.cb AS prod
       |        FROM (SELECT $fk AS k, count(*) AS ca FROM $child GROUP BY 1) ca
       |        JOIN (SELECT $pk AS k, count(*) AS cb FROM $parent GROUP BY 1) cb
       |          ON ca.k = cb.k)
       |  WHERE prod = s.mp) h""".stripMargin

  private val q91Sql: String =
    "SELECT * FROM (\n" + Seq(
      fanoutOneSql("lineitem-orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      fanoutOneSql("lineitem-part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      fanoutOneSql("lineitem-supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      fanoutOneSql("orders-customer", "orders", "o_custkey",
        "customer", "c_custkey"),
    ).mkString("\nUNION ALL\n") + "\n) ORDER BY relationship"

  /** One UNION-ALL block of the q77 oracle — replays [[auditOne]]'s
    * full-outer-join kernel in SQL (sums cast back to BIGINT: DuckDB
    * widens BIGINT sums to HUGEINT).
    */
  private def auditOneSql(label: String, child: String, fk: String,
      parent: String, pk: String): String =
    s"""SELECT relationship, child_rows, child_keys, null_keys, orphan_rows,
       |  orphan_keys, parent_keys, unref_parent_keys,
       |  CASE WHEN child_rows > 0 THEN
       |    CAST(child_rows - null_keys - orphan_rows AS DOUBLE)
       |      / CAST(child_rows AS DOUBLE) END AS match_pct
       |FROM (
       |  SELECT '$label' AS relationship,
       |    CAST(sum(COALESCE(n, 0)) AS BIGINT) AS child_rows,
       |    CAST(count(CASE WHEN k IS NOT NULL AND n IS NOT NULL THEN 1 END)
       |         AS BIGINT) AS child_keys,
       |    CAST(sum(CASE WHEN k IS NULL AND n IS NOT NULL THEN n ELSE 0 END)
       |         AS BIGINT) AS null_keys,
       |    CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL THEN n ELSE 0 END)
       |         AS BIGINT) AS orphan_rows,
       |    CAST(count(CASE WHEN k IS NOT NULL AND n IS NOT NULL
       |                     AND pk IS NULL THEN 1 END) AS BIGINT) AS orphan_keys,
       |    CAST(count(CASE WHEN pk IS NOT NULL THEN 1 END) AS BIGINT)
       |      AS parent_keys,
       |    CAST(count(CASE WHEN pk IS NOT NULL AND n IS NULL THEN 1 END)
       |         AS BIGINT) AS unref_parent_keys
       |  FROM (SELECT kc.k, kc.n, pks.pk
       |        FROM (SELECT $fk AS k, count(*) AS n FROM $child GROUP BY 1) kc
       |        FULL OUTER JOIN
       |             (SELECT DISTINCT $pk AS pk FROM $parent) pks
       |          ON kc.k = pks.pk))""".stripMargin

  private val q77Sql: String =
    "SELECT * FROM (\n" + Seq(
      auditOneSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      auditOneSql("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      auditOneSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      auditOneSql("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      auditOneSql("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      auditOneSql("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      auditOneSql("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"),
    ).mkString("\nUNION ALL\n") + "\n) ORDER BY relationship"

  /** q94's PIT oracle, shared verbatim by q133 (the native as-of
    * read must be invisible to results). */
  private val oracleQ16: String =
    """WITH gapped AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY event_id) > 1800000000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM gapped)
      |SELECT user_id, session_id, count(*) AS n_events,
      | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sess GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** One suffixed copy of oracle94's dim CTE chain, optionally cut to
    * an event-id prefix (the q149 as-at reconstruction). */
  private def dimChainSql(sfx: String, cutPred: String): String =
    s"""a$sfx AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events WHERE event_type <> 'purchase'$cutPred),
       |c$sfx AS (
       |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
       |                   OR lag(event_type) OVER w <> event_type
       |            THEN 1 ELSE 0 END AS chg
       |  FROM a$sfx WINDOW w AS (PARTITION BY user_id
       |    ORDER BY ts_us, event_id)),
       |r$sfx AS (
       |  SELECT *, sum(chg) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_seq
       |  FROM c$sfx),
       |g$sfx AS (SELECT user_id, run_seq, min(event_type) AS state,
       |        min(ts_us) AS from_us
       |      FROM r$sfx GROUP BY 1, 2),
       |dim$sfx AS (SELECT user_id, state, from_us,
       |          lead(from_us) OVER (PARTITION BY user_id ORDER BY run_seq)
       |            AS to_us
       |        FROM g$sfx)""".stripMargin

  private val oracle149: String =
    s"""WITH cut AS (SELECT (max(event_id) + 1) // 2 AS k FROM events),
       |${dimChainSql("n", "")},
       |${dimChainSql("t", " AND event_id <= (SELECT k FROM cut)")},
       |f AS (SELECT user_id, event_id AS pid, epoch_us(ts) AS pts_us,
       |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |      FROM events WHERE event_type = 'purchase'),
       |jn AS (SELECT f.pid, coalesce(d.state, 'none') AS state_now,
       |         f.cents
       |       FROM f LEFT JOIN dimn d ON f.user_id = d.user_id
       |         AND f.pts_us >= d.from_us
       |         AND (d.to_us IS NULL OR f.pts_us < d.to_us)),
       |jt AS (SELECT f.pid, coalesce(d.state, 'none') AS state_then
       |       FROM f LEFT JOIN dimt d ON f.user_id = d.user_id
       |         AND f.pts_us >= d.from_us
       |         AND (d.to_us IS NULL OR f.pts_us < d.to_us))
       |SELECT state_then, state_now, count(*) AS n_purchases,
       |  CAST(sum(jn.cents) AS BIGINT) AS cents,
       |  CAST(max(CASE WHEN state_then <> state_now THEN 1 ELSE 0 END)
       |    AS BIGINT) AS is_restated
       |FROM jt JOIN jn USING (pid)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val oracle94: String =
    """WITH a AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events WHERE event_type <> 'purchase'),
        |c AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w <> event_type
        |            THEN 1 ELSE 0 END AS chg
        |  FROM a WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_seq
        |  FROM c),
        |g AS (SELECT user_id, run_seq, min(event_type) AS state,
        |        min(ts_us) AS from_us
        |      FROM r GROUP BY 1, 2),
        |dim AS (SELECT user_id, state, from_us,
        |          lead(from_us) OVER (PARTITION BY user_id ORDER BY run_seq)
        |            AS to_us
        |        FROM g),
        |f AS (SELECT user_id, epoch_us(ts) AS pts_us,
        |        CAST(value AS DECIMAL(18,2)) AS value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT f.user_id, coalesce(d.state, 'none') AS state, f.value
        |      FROM f LEFT JOIN dim d
        |        ON f.user_id = d.user_id AND f.pts_us >= d.from_us
        |       AND (d.to_us IS NULL OR f.pts_us < d.to_us))
        |SELECT state, count(*) AS n_purchases,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(value) AS DOUBLE) AS revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** q18's ASOF oracle, shared verbatim by q132 (the native operator
    * must be invisible to results). */
  private val oracleQ18: String =
    """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "q79_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |c AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w <> event_type
        |            THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_seq
        |  FROM c),
        |g AS (
        |  SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq,
        |    min(event_type) AS state, min(ts_us) AS valid_from_us,
        |    count(*) AS n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, run_seq, state, valid_from_us,
        |  lead(valid_from_us) OVER w2 AS valid_to_us, n_events,
        |  CAST(lead(valid_from_us) OVER w2 IS NULL AS INTEGER) AS is_current
        |FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY run_seq)
        |ORDER BY user_id, run_seq""".stripMargin,
    "q80_zonemap_skip" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us, event_id // 2048 AS shard
        |  FROM events),
        |zm AS (SELECT shard, min(ts_us) AS zmin, max(ts_us) AS zmax,
        |         count(*) AS zrows
        |       FROM e GROUP BY 1),
        |b AS (SELECT min(ts_us) AS gmin, max(ts_us) AS gmax FROM e),
        |p AS (SELECT i AS pred_id,
        |        gmin + ((gmax - gmin) * i) // 4 AS lo_us,
        |        CASE WHEN i = 3 THEN gmax + 1
        |             ELSE gmin + ((gmax - gmin) * (i + 1)) // 4 END AS hi_us
        |      FROM b, range(4) t(i)),
        |s AS (SELECT pred_id, count(*) AS shards_scanned,
        |        CAST(sum(zrows) AS BIGINT) AS rows_scanned
        |      FROM p JOIN zm ON zm.zmin < p.hi_us AND zm.zmax >= p.lo_us
        |      GROUP BY 1),
        |m AS (SELECT pred_id, count(*) AS rows_matching
        |      FROM p JOIN e ON e.ts_us >= p.lo_us AND e.ts_us < p.hi_us
        |      GROUP BY 1),
        |t AS (SELECT count(*) AS shards_total FROM zm)
        |SELECT p.pred_id, p.lo_us, p.hi_us, t.shards_total,
        |  COALESCE(s.shards_scanned, 0) AS shards_scanned,
        |  t.shards_total - COALESCE(s.shards_scanned, 0) AS shards_skipped,
        |  COALESCE(s.rows_scanned, 0) AS rows_scanned,
        |  COALESCE(m.rows_matching, 0) AS rows_matching,
        |  COALESCE(s.rows_scanned, 0) - COALESCE(m.rows_matching, 0)
        |    AS false_positive_rows,
        |  CAST(t.shards_total - COALESCE(s.shards_scanned, 0) AS DOUBLE)
        |    / CAST(t.shards_total AS DOUBLE) AS skip_pct
        |FROM p CROSS JOIN t
        |LEFT JOIN s ON s.pred_id = p.pred_id
        |LEFT JOIN m ON m.pred_id = p.pred_id
        |ORDER BY p.pred_id""".stripMargin,
    "q77_integrity_audit" -> q77Sql,
    "q78_bfs_hops" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |walk AS (
        |  SELECT (SELECT min(src) FROM edges) AS node, 0 AS steps
        |  UNION
        |  SELECT e.dst AS node, w.steps + 1 AS steps
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.steps < 8),
        |dist AS (SELECT node, CAST(min(steps) AS INTEGER) AS hops
        |         FROM walk GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM edges)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |         AS node_type,
        |  node // 2 AS node_id, hops
        |FROM nodes LEFT JOIN dist USING (node)
        |ORDER BY node_type, node_id""".stripMargin,
    "q44_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "q45_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q46_analytic_fns" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q47_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |            FROM events),
        |t1 AS (SELECT user_id, min(ts_us) AS t_signup FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT ev.user_id, min(ts_us) AS t_view
        |       FROM ev JOIN t1 USING (user_id)
        |       WHERE event_type = 'view' AND ts_us > t_signup GROUP BY 1),
        |t3 AS (SELECT ev.user_id, min(ts_us) AS t_click
        |       FROM ev JOIN t2 USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > t_view GROUP BY 1),
        |t4 AS (SELECT ev.user_id, min(ts_us) AS t_purchase
        |       FROM ev JOIN t3 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t_click GROUP BY 1)
        |SELECT t1.user_id, t_signup, t_view, t_click, t_purchase,
        |  1 + CAST(t_view IS NOT NULL AS INTEGER)
        |    + CAST(t_click IS NOT NULL AS INTEGER)
        |    + CAST(t_purchase IS NOT NULL AS INTEGER) AS stage_reached
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |        LEFT JOIN t4 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q48_hits" -> q48Sql,
    "q49_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q50_observe_metrics" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_null_price,
        |  (SELECT count(DISTINCT l_returnflag) FROM lineitem) AS n_groups
        |FROM lineitem""".stripMargin,
    "q51_unpivot" ->
      """WITH l AS (SELECT * FROM lineitem
        |           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |             AND l_shipdate < TIMESTAMP '1997-02-01')
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS value FROM l
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |       l_extendedprice FROM l
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |       l_discount FROM l
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM l
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q52_gaps_islands" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
        |         epoch_ns(ts) + 300000000000 AS end_ns
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN max(end_ns) OVER w_prev IS NULL
        |                   OR ts_ns > max(end_ns) OVER w_prev
        |            THEN 1 ELSE 0 END AS is_new
        |  FROM e
        |  WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_ns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM m)
        |SELECT user_id, island, count(*) AS n_events,
        |  min(ts_ns) AS start_ns, max(end_ns) AS end_ns,
        |  max(end_ns) - min(ts_ns) AS covered_ns
        |FROM i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q53_kmv_distinct" ->
      """WITH dh AS (
        |  SELECT DISTINCT CAST(concat('0x',
        |    substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem),
        |bottom AS (SELECT count(*) AS n_k, max(h) AS kth_hash
        |           FROM (SELECT h FROM dh ORDER BY h LIMIT 256)),
        |truth AS (SELECT count(*) AS true_distinct FROM dh)
        |SELECT CAST(256 AS INTEGER) AS k, kth_hash,
        |  CASE WHEN n_k < 256 THEN CAST(true_distinct AS DOUBLE)
        |       ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE)
        |            / CAST(kth_hash AS DOUBLE)
        |  END AS est_distinct,
        |  true_distinct
        |FROM bottom, truth""".stripMargin,
    "q54_triangles" ->
      """WITH und AS (
        |  SELECT least(c_nationkey, s_nationkey) AS a,
        |         greatest(c_nationkey, s_nationkey) AS b, count(*) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE c_nationkey <> s_nationkey GROUP BY 1, 2),
        |thr AS (SELECT sum(w) AS sw, count(*) AS ne FROM und),
        |edges AS (SELECT a, b FROM und, thr WHERE w * ne >= sw),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM edges
        |    UNION ALL SELECT b FROM edges) GROUP BY 1),
        |oriented AS (
        |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |              THEN e.a ELSE e.b END AS src,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |              THEN e.b ELSE e.a END AS dst
        |  FROM edges e
        |  JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
        |tri AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM oriented e1
        |  JOIN oriented e2 ON e1.src = e2.src AND e1.dst <> e2.dst
        |  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |nodes AS (SELECT x AS nationkey FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri)
        |SELECT nationkey, count(*) AS n_triangles FROM nodes GROUP BY 1
        |ORDER BY n_triangles DESC, nationkey""".stripMargin,
    "q55_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 230)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |  CAST(sq AS DOUBLE) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q56_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // same text as q57Sql (Spark and DuckDB both accept it) — the whole
    // point is that BOTH engines decorrelate the same double-correlated
    // EXISTS / NOT EXISTS their own way and agree on the result
    "q57_tpch_q21" -> q57Sql,
    "q58_tpch_q14" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |       THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |            * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |       ELSE 0 END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS promo_share
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q59_tpch_q8" ->
      """SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
        |       AS DOUBLE)
        |  / CAST(sum(volume) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
        |    n1.n_name AS supp_nation
        |  FROM part, supplier, lineitem, orders, customer, nation n1,
        |       nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND s_nationkey = n1.n_nationkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND p_type = 'PROMO')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q60_recursive_cte" -> q60Sql,
    // q61/q62/q70/q72/q73: identical SQL text runs in both engines (the
    // q57 convention) — decorrelation is the behavior under test.
    "q61_tpch_q2" -> q61Sql,
    "q62_tpch_q4" -> q62Sql,
    "q63_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_quantity < 24
        |  AND CAST(l_discount AS DECIMAL(18,2))
        |      BETWEEN CAST(0.03 AS DECIMAL(18,2))
        |          AND CAST(0.07 AS DECIMAL(18,2))""".stripMargin,
    "q152_mv_rewrite" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(min(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS min_disc,
        |  CAST(max(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS max_disc,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q153: same capped co-purchase projection replayed relationally;
    // ra_pico's per-term integer division makes the sum engine-exact
    "q153_link_predict" ->
      """WITH buyers AS (
        |  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (SELECT part, count(*) AS pdeg FROM buyers GROUP BY 1),
        |capped AS (
        |  SELECT b.part, b.cust, d.pdeg
        |  FROM buyers b JOIN deg d USING (part)
        |  WHERE d.pdeg BETWEEN 2 AND 40),
        |cdeg AS (SELECT cust, count(*) AS cd FROM capped GROUP BY 1),
        |scored AS (
        |  SELECT x.cust AS cust_a, y.cust AS cust_b,
        |    count(*) AS cn, sum(1000000000000 // x.pdeg) AS ra_pico
        |  FROM capped x JOIN capped y
        |    ON x.part = y.part AND x.cust < y.cust
        |  GROUP BY 1, 2)
        |SELECT cust_a, cust_b, CAST(cn AS BIGINT) AS cn,
        |  CAST(ra_pico AS BIGINT) AS ra_pico,
        |  CAST(cn AS DOUBLE) / (da.cd + db.cd - cn) AS jaccard
        |FROM scored
        |JOIN cdeg da ON cust_a = da.cust
        |JOIN cdeg db ON cust_b = db.cust
        |ORDER BY cn DESC, ra_pico DESC, cust_a, cust_b
        |LIMIT 100""".stripMargin,
    // q154: the SAME all-integer DTW recurrence as a recursive CTE over
    // anti-diagonals — each iteration advances one diagonal, carrying the
    // previous two as lists (cur/prev); cell (i, j) on diagonal d+1 reads
    // up (i-1,j) and left (i,j-1) from cur and upleft (i-1,j-1) from
    // prev, with 1-based list indices offset by each diagonal's first
    // row max(0, d-n+1). Two independent implementations of the
    // recurrence agreeing bit-for-bit is the gate.
    "q154_dtw" ->
      """WITH RECURSIVE rev AS (
        |  SELECT c_nationkey AS nation,
        |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey < 5
        |  GROUP BY 1, 2),
        |bounds AS (SELECT min(m) AS lo, max(m) AS hi FROM rev),
        |spine AS (SELECT n.nation, s.m
        |          FROM (SELECT DISTINCT nation FROM rev) n,
        |               (SELECT unnest(range(lo, hi + 1)) AS m FROM bounds) s),
        |ser AS (
        |  SELECT sp.nation, list(coalesce(r.cents, 0) ORDER BY sp.m) AS a
        |  FROM spine sp LEFT JOIN rev r ON sp.nation = r.nation AND sp.m = r.m
        |  GROUP BY sp.nation),
        |pairs AS (
        |  SELECT x.nation AS na, y.nation AS nb, x.a AS a, y.a AS b,
        |         len(x.a) AS n
        |  FROM ser x JOIN ser y ON x.nation < y.nation),
        |dp AS (
        |  SELECT na, nb, a, b, n, 0 AS d,
        |         [abs(a[1] - b[1])] AS cur,
        |         CAST([] AS BIGINT[]) AS prev
        |  FROM pairs
        |  UNION ALL
        |  SELECT na, nb, a, b, n, d + 1,
        |    [least(
        |       CASE WHEN i >= 1 AND (d + 1 - i) <= n - 1
        |            THEN cur[i - 1 - greatest(0, d - n + 1) + 1]
        |            ELSE 9223372036854775807 END,
        |       CASE WHEN (d + 1 - i) >= 1 AND i <= d
        |            THEN cur[i - greatest(0, d - n + 1) + 1]
        |            ELSE 9223372036854775807 END,
        |       CASE WHEN i >= 1 AND (d + 1 - i) >= 1 AND d >= 1
        |            THEN prev[i - 1 - greatest(0, d - 1 - n + 1) + 1]
        |            ELSE 9223372036854775807 END)
        |     + abs(a[i + 1] - b[d + 1 - i + 1])
        |     FOR i IN range(greatest(0, d + 1 - n + 1),
        |                    least(d + 1, n - 1) + 1)] AS cur,
        |    cur AS prev
        |  FROM dp WHERE d + 1 <= 2 * n - 2)
        |SELECT d.na AS nation_a, d.nb AS nation_b,
        |  d.cur[1] AS dtw_cents,
        |  CAST(list_sum([abs(p.a[i] - p.b[i])
        |                 FOR i IN range(1, p.n + 1)]) AS BIGINT) AS l1_cents
        |FROM dp d JOIN pairs p ON d.na = p.na AND d.nb = p.nb
        |WHERE d.d = 2 * d.n - 2
        |ORDER BY 1, 2""".stripMargin,
    // q160: the same dense-spine series as q154; window pairs via a
    // self-join on position with the |i−j| ≥ 6 exclusion; SSD as a list
    // comprehension over the 6 offsets — integer units end to end, and
    // the argmin tie-break (smallest j at the min SSD) is an explicit
    // min() join-back, not an engine-specific arg_min
    "q160_matrix_profile" ->
      """WITH rev AS (
        |  SELECT c_nationkey AS nation,
        |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) // 1000 AS units
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey < 5
        |  GROUP BY 1, 2),
        |bounds AS (SELECT min(m) AS lo, max(m) AS hi FROM rev),
        |spine AS (SELECT n.nation, s.m
        |          FROM (SELECT DISTINCT nation FROM rev) n,
        |               (SELECT unnest(range(lo, hi + 1)) AS m FROM bounds) s),
        |ser AS (
        |  SELECT sp.nation, list(coalesce(r.units, 0) ORDER BY sp.m) AS a
        |  FROM spine sp LEFT JOIN rev r ON sp.nation = r.nation AND sp.m = r.m
        |  GROUP BY sp.nation),
        |pos AS (SELECT nation, a, unnest(range(1, len(a) - 4)) AS i
        |        FROM ser),
        |pairs AS (
        |  SELECT p.nation, p.i, q.i AS j,
        |    list_sum([(p.a[p.i + k] - p.a[q.i + k])
        |              * (p.a[p.i + k] - p.a[q.i + k])
        |              FOR k IN range(0, 6)]) AS ssd
        |  FROM pos p JOIN pos q
        |    ON p.nation = q.nation AND abs(p.i - q.i) >= 6),
        |best AS (SELECT nation, i, min(ssd) AS profile_ssd
        |         FROM pairs GROUP BY 1, 2)
        |SELECT CAST(b.nation AS BIGINT) AS nation,
        |  CAST(b.i - 1 AS BIGINT) AS pos,
        |  CAST(b.profile_ssd AS BIGINT) AS profile_ssd,
        |  CAST(min(p.j) - 1 AS BIGINT) AS nn_pos
        |FROM best b JOIN pairs p
        |  ON p.nation = b.nation AND p.i = b.i AND p.ssd = b.profile_ssd
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2""".stripMargin,
    // q161: unrolled power iterations; HUGEINT mirrors DECIMAL(38,0) and
    // the max-normalization is one integral division of positive integers
    "q161_eigencentrality" -> {
      def it(k: Int): String =
        s"""f$k AS (SELECT e.dst AS node, sum(r.rank) AS inflow
           |        FROM r${k - 1} r JOIN e ON r.node = e.src GROUP BY 1),
           |r$k AS (SELECT node,
           |          (inflow * 1000000000) // (SELECT max(inflow) FROM f$k)
           |            AS rank
           |        FROM f$k)""".stripMargin
      s"""WITH pe AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pe
         |      UNION ALL SELECT s AS src, c AS dst FROM pe),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, CAST(1000000000 AS HUGEINT) AS rank FROM n),
         |${(1 to 5).map(it).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  node // 2 AS node_id, CAST(rank AS BIGINT) AS score_scaled
         |FROM r5 ORDER BY 1, 2""".stripMargin
    },
    // q163: unrolled walk-count levels; katz_scaled = Σ walks_k · 4^(T−k)
    // is an exact integer — no division, HUGEINT ≡ DECIMAL(38,0)
    "q163_katz" -> {
      def lvl(k: Int): String =
        s"""w$k AS (SELECT e.dst AS node, sum(w.w) AS w
           |        FROM w${k - 1} w JOIN e ON w.node = e.src GROUP BY 1)"""
          .stripMargin
      s"""WITH pe AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pe
         |      UNION ALL SELECT s AS src, c AS dst FROM pe),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |w0 AS (SELECT node, CAST(1 AS HUGEINT) AS w FROM n),
         |${(1 to 4).map(lvl).mkString(",\n")},
         |c AS (SELECT node, w * 64 AS c FROM w1
         |      UNION ALL SELECT node, w * 16 FROM w2
         |      UNION ALL SELECT node, w * 4 FROM w3
         |      UNION ALL SELECT node, w FROM w4)
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  node // 2 AS node_id,
         |  ${boundedLongSql("sum(c)", "katz_scaled")} AS katz_scaled
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // q164: forward σ replayed as WALK COUNTS (a length-dist(v) walk IS
    // a shortest path, so σ(v) = walks_{dist(v)}(v)), backward δ as the
    // identical floor recurrence, both unrolled over the fixed 6-hop
    // horizon; HUGEINT ≡ DECIMAL(38,0), every division positive
    "q164_betweenness" -> {
      def wlvl(k: Int): String =
        s"""u$k AS (SELECT u.seed, e.dst AS node, sum(u.w) AS w
           |        FROM u${k - 1} u JOIN e ON u.node = e.src GROUP BY 1, 2)"""
          .stripMargin
      def dlvl(k: Int): String = {
        val dw =
          if (k == 5) "CAST(0 AS HUGEINT)"
          else "coalesce(dn.delta, CAST(0 AS HUGEINT))"
        val dnJoin =
          if (k == 5) ""
          else s"\n        LEFT JOIN d${k + 1} dn" +
            " ON dn.seed = w.seed AND dn.node = w.node"
        s"""d$k AS (SELECT v.seed, v.node,
           |          sum((v.sigma * (1000000000000 + $dw)) // w.sigma)
           |            AS delta
           |        FROM vis v JOIN e ON v.node = e.src
           |        JOIN vis w ON w.seed = v.seed AND w.node = e.dst
           |          AND w.dist = ${k + 1}$dnJoin
           |        WHERE v.dist = $k GROUP BY 1, 2)""".stripMargin
      }
      s"""WITH pe AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pe
         |      UNION ALL SELECT s AS src, c AS dst FROM pe),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |seeds AS (SELECT node AS seed FROM n ORDER BY node LIMIT 8),
         |u0 AS (SELECT seed, seed AS node, CAST(1 AS HUGEINT) AS w
         |       FROM seeds),
         |${(1 to 6).map(wlvl).mkString(",\n")},
         |lv AS (SELECT seed, node, 0 AS k, w FROM u0
         |${(1 to 6).map(k =>
            s"       UNION ALL SELECT seed, node, $k, w FROM u$k")
            .mkString("\n")}),
         |dist AS (SELECT seed, node, min(k) AS dist FROM lv GROUP BY 1, 2),
         |vis AS (SELECT l.seed, l.node, d.dist, l.w AS sigma
         |        FROM lv l JOIN dist d
         |          ON d.seed = l.seed AND d.node = l.node AND l.k = d.dist),
         |${(0 to 5).reverse.map(dlvl).mkString(",\n")},
         |alld AS (${(0 to 5).map(k => s"SELECT * FROM d$k")
            .mkString("\n       UNION ALL ")})
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  node // 2 AS node_id,
         |  ${boundedLongSql("sum(delta)", "betweenness_pico")}
         |    AS betweenness_pico
         |FROM alld WHERE node <> seed GROUP BY 1, 2
         |HAVING sum(delta) > 0 ORDER BY 1, 2""".stripMargin
    },
    // q165: IEEE by necessity (sqrt), engine-exact by construction —
    // exact count operands and the IDENTICAL parenthesized expression
    // tree; every IEEE op is correctly rounded, so the trees agree
    // bit-for-bit (see the q165 Scaladoc)
    "q165_wilson" ->
      """WITH c AS (
        |  SELECT event_type,
        |    sum(CASE WHEN CAST(value AS DECIMAL(18,2)) * 100 >= 10000
        |             THEN 1 ELSE 0 END) AS x,
        |    count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(x AS BIGINT) AS x, n,
        |  CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
        |  ((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 3.8416 / (CAST(n AS DOUBLE) * 2.0))
        |   - 1.96 * sqrt(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |        + 3.8416 / (CAST(n AS DOUBLE) * 4.0))
        |       / CAST(n AS DOUBLE)))
        |  / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_lo,
        |  ((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 3.8416 / (CAST(n AS DOUBLE) * 2.0))
        |   + 1.96 * sqrt(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |        + 3.8416 / (CAST(n AS DOUBLE) * 4.0))
        |       / CAST(n AS DOUBLE)))
        |  / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_hi
        |FROM c ORDER BY event_type""".stripMargin,
    // q166: q39's unrolled exact-integer iterations with the teleport
    // mass restricted to the seed rows; every division is a positive
    // floor division
    "q166_ppr" -> {
      def it(k: Int): String =
        s"""it$k AS (
           |  SELECT b.node, b.deg, b.is_seed,
           |    b.is_seed * (CAST(150000000 AS BIGINT) // (SELECT ns FROM ns))
           |      + (85 * COALESCE(f.inflow, 0)) // 100 AS rank
           |  FROM base b LEFT JOIN (
           |    SELECT e.dst, sum(r.rank // r.deg) AS inflow
           |    FROM it${k - 1} r JOIN edges e ON r.node = e.src
           |    GROUP BY 1) f ON b.node = f.dst)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM pairs
         |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |seeds AS (SELECT src AS node FROM deg ORDER BY src LIMIT 8),
         |ns AS (SELECT count(*) AS ns FROM seeds),
         |base AS (SELECT d.src AS node, d.deg,
         |           CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END
         |             AS is_seed
         |         FROM deg d LEFT JOIN seeds s ON s.node = d.src),
         |it0 AS (SELECT node, deg, is_seed,
         |          is_seed * (CAST(1000000000 AS BIGINT)
         |                     // (SELECT ns FROM ns)) AS rank
         |        FROM base),
         |${(1 to 5).map(it).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |         AS node_type,
         |  node // 2 AS node_id, CAST(rank AS BIGINT) AS ppr_scaled
         |FROM it5 WHERE rank > 0 ORDER BY node_type, node_id""".stripMargin
    },
    // q167: the q40 integer bucket arithmetic, micro rates as integral
    // divisions of nonnegative integers, NULL prediction on a constant
    // corpus
    "q167_calibration" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM ev),
        |g AS (
        |  SELECT ((cents - lo) * 10) // (hi - lo + 1) AS bucket,
        |    cents - lo AS off, pos
        |  FROM ev, b),
        |a AS (SELECT bucket, count(*) AS n, sum(pos) AS positives,
        |        CAST(sum(off) AS HUGEINT) AS soff
        |      FROM g GROUP BY 1)
        |SELECT bucket, n, CAST(positives AS BIGINT) AS positives,
        |  CAST((soff * 1000000)
        |       // nullif(n * (SELECT hi - lo FROM b), 0) AS BIGINT)
        |    AS pred_micro,
        |  CAST((positives * 1000000) // n AS BIGINT) AS obs_micro,
        |  CAST((soff * 1000000)
        |       // nullif(n * (SELECT hi - lo FROM b), 0) AS BIGINT)
        |    - CAST((positives * 1000000) // n AS BIGINT) AS gap_micro
        |FROM a ORDER BY bucket""".stripMargin,
    // q168: the identical 4 synchronous LPA rounds unrolled (self-vote
    // damps bipartite oscillation; (cnt DESC, label) tie-break), then
    // exact modularity terms — signed numerator + ONE IEEE division
    "q168_community" -> {
      def round(k: Int): String =
        s"""v$k AS (SELECT vnode, label, count(*) AS cnt FROM (
           |  SELECT e.dst AS vnode, l.label
           |  FROM l${k - 1} l JOIN e ON l.node = e.src
           |  UNION ALL SELECT node AS vnode, label FROM l${k - 1}) x
           |  GROUP BY 1, 2),
           |l$k AS (SELECT vnode AS node, label FROM (
           |  SELECT vnode, label, row_number() OVER (
           |    PARTITION BY vnode ORDER BY cnt DESC, label) AS rn
           |  FROM v$k) WHERE rn = 1)""".stripMargin
      s"""WITH pe AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pe
         |      UNION ALL SELECT s AS src, c AS dst FROM pe),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |l0 AS (SELECT node, node AS label FROM n),
         |${(1 to 4).map(round).mkString(",\n")},
         |m2 AS (SELECT count(*) AS m2 FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |dc AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_c,
         |         count(*) AS size
         |       FROM l4 l JOIN deg d ON d.src = l.node GROUP BY 1),
         |ic AS (SELECT a.label, count(*) AS e_c
         |       FROM e JOIN l4 a ON a.node = e.src
         |       JOIN l4 b ON b.node = e.dst
         |       WHERE a.label = b.label GROUP BY 1),
         |raw AS (
         |  SELECT dc.label AS community, size,
         |    coalesce(e_c, 0) AS e_c, d_c,
         |    CAST(coalesce(e_c, 0) AS HUGEINT) * (SELECT m2 FROM m2)
         |      - CAST(d_c AS HUGEINT) * d_c AS qn,
         |    CAST((SELECT m2 FROM m2) AS HUGEINT)
         |      * (SELECT m2 FROM m2) AS qd
         |  FROM dc LEFT JOIN ic ON ic.label = dc.label)
         |SELECT community, size, e_c, d_c,
         |  ${boundedLongSql("qn", "q_num")} AS q_num,
         |  ${boundedLongSql("qd", "q_den")} AS q_den,
         |  CAST(${boundedLongSql("qn", "q_num")} AS DOUBLE)
         |    / CAST(${boundedLongSql("qd", "q_den")} AS DOUBLE) AS q_term
         |FROM raw
         |ORDER BY community""".stripMargin
    },
    // q169: q156's unrolled min-dist chain, grouped to the per-hop
    // histogram with a per-seed max as the horizon eccentricity
    "q169_hopplot" ->
      ("""WITH pe AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pe
        |      UNION ALL SELECT s AS src, c AS dst FROM pe),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |seeds AS (SELECT node AS seed FROM nodes ORDER BY node LIMIT 8),
        |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
        |       FROM seeds),
        |""".stripMargin +
        (1 to 8).map(i =>
          s"""d$i AS (SELECT seed, node, min(dist) AS dist FROM (
             |  SELECT seed, node, dist FROM d${i - 1}
             |  UNION ALL
             |  SELECT d${i - 1}.seed, e.dst AS node, d${i - 1}.dist + 1
             |  FROM d${i - 1} JOIN e ON e.src = d${i - 1}.node)
             |  GROUP BY 1, 2)""".stripMargin).mkString(",\n") +
        """,
        |h AS (SELECT seed, dist, count(*) AS n_at_dist
        |      FROM d8 GROUP BY 1, 2)
        |SELECT CASE WHEN seed % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |  seed // 2 AS node_id, dist, n_at_dist,
        |  max(dist) OVER (PARTITION BY seed) AS ecc
        |FROM h ORDER BY 1, 2, dist""".stripMargin),

    // q170: the identical KMV chain — portable md5-prefix hashes,
    // per-class bottom-64 (row_number replay of the native heap),
    // merged bottom-64, est/inter_est as q53's single-IEEE-op forms,
    // jaccard as an exact micro integral division
    "q170_kmv_setops" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, CAST(concat('0x',
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |ty AS (SELECT DISTINCT event_type FROM u
        |       ORDER BY event_type LIMIT 12),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb
        |      FROM ty a, ty b WHERE a.event_type < b.event_type),
        |kmv AS (SELECT event_type, h FROM (
        |  SELECT event_type, h, row_number() OVER (
        |    PARTITION BY event_type ORDER BY h) AS rn FROM u)
        |  WHERE rn <= 64),
        |wp AS (SELECT p.ta, p.tb, k.h,
        |    max(CASE WHEN k.event_type = p.ta THEN 1 ELSE 0 END) AS ia,
        |    max(CASE WHEN k.event_type = p.tb THEN 1 ELSE 0 END) AS ib
        |  FROM p JOIN kmv k
        |    ON k.event_type = p.ta OR k.event_type = p.tb
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY ta, tb ORDER BY h) AS rn FROM wp),
        |ka AS (SELECT ta, tb, count(*) AS n_u, max(h) AS kth,
        |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS matches
        |  FROM rk WHERE rn <= 64 GROUP BY 1, 2),
        |sz AS (SELECT event_type, count(*) AS sz FROM u GROUP BY 1),
        |it AS (SELECT x.event_type AS ta, y.event_type AS tb,
        |    count(*) AS inter_true
        |  FROM u x JOIN u y ON x.h = y.h
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT ka.ta, ka.tb, sa.sz AS n_a, sb.sz AS n_b,
        |  coalesce(it.inter_true, 0) AS inter_true,
        |  sa.sz + sb.sz - coalesce(it.inter_true, 0) AS union_true,
        |  n_u, kth,
        |  CASE WHEN n_u < 64
        |    THEN CAST(sa.sz + sb.sz - coalesce(it.inter_true, 0)
        |              AS DOUBLE)
        |    ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
        |         / CAST(kth AS DOUBLE) END AS est_union,
        |  matches,
        |  CAST((matches * 1000000) // n_u AS BIGINT) AS jaccard_micro,
        |  CAST(matches AS DOUBLE)
        |    * (CASE WHEN n_u < 64
        |        THEN CAST(sa.sz + sb.sz - coalesce(it.inter_true, 0)
        |                  AS DOUBLE)
        |        ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
        |             / CAST(kth AS DOUBLE) END)
        |    / CAST(n_u AS DOUBLE) AS inter_est
        |FROM ka JOIN sz sa ON sa.event_type = ka.ta
        |JOIN sz sb ON sb.event_type = ka.tb
        |LEFT JOIN it ON it.ta = ka.ta AND it.tb = ka.tb
        |ORDER BY ka.ta, ka.tb""".stripMargin,
    // q171: all 8 Hilbert rotation levels unrolled — per level the
    // quadrant term s²·xor(3·rx, ry) and the conditional flip+swap,
    // pure integer CASE arithmetic in both engines
    "q171_hilbert" -> {
      def lvl(k: Int): String = {
        val s = 1L << (7 - k)
        s"""h${k + 1} AS (
           |  SELECT
           |    CASE WHEN yb = 0 THEN (CASE WHEN xb = 1
           |      THEN $s - 1 - y ELSE y END) ELSE x END AS x,
           |    CASE WHEN yb = 0 THEN (CASE WHEN xb = 1
           |      THEN $s - 1 - x ELSE x END) ELSE y END AS y,
           |    d + ${s * s} * xor(3 * xb, yb) AS d
           |  FROM (SELECT x, y, d,
           |          CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS xb,
           |          CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS yb
           |        FROM h$k))""".stripMargin
      }
      s"""WITH h0 AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
         |              0 AS d
         |            FROM lineitem),
         |${(0 to 7).map(lvl).mkString(",\n")}
         |SELECT CAST(d >> 6 AS BIGINT) AS hbucket, count(*) AS n,
         | CAST(min(d) AS BIGINT) AS hmin, CAST(max(d) AS BIGINT) AS hmax
         |FROM h8 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // q172: the same micro-quantized minimax — segment rates floored to
    // micro FIRST, then min/max over exact ints (identical comparisons
    // in both engines); j≤i≤k triple cross over the 10-row grid
    "q172_isotonic" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM ev),
        |g AS (
        |  SELECT ((cents - lo) * 10) // (hi - lo + 1) AS bucket,
        |    count(*) AS n, sum(pos) AS positives
        |  FROM ev, b GROUP BY 1),
        |segs AS (
        |  SELECT j.bucket AS jb, k.bucket AS kb,
        |    CAST((sum(m.positives) * 1000000) // sum(m.n) AS BIGINT)
        |      AS f_micro
        |  FROM g j, g k, g m
        |  WHERE j.bucket <= k.bucket
        |    AND m.bucket BETWEEN j.bucket AND k.bucket
        |  GROUP BY 1, 2),
        |mn AS (
        |  SELECT i.bucket AS ib, s.jb, min(s.f_micro) AS mn
        |  FROM segs s JOIN g i
        |    ON s.jb <= i.bucket AND i.bucket <= s.kb
        |  GROUP BY 1, 2),
        |iso AS (SELECT ib, max(mn) AS iso_micro FROM mn GROUP BY 1)
        |SELECT g.bucket, n, CAST(positives AS BIGINT) AS positives,
        |  CAST((positives * 1000000) // n AS BIGINT) AS obs_micro,
        |  iso_micro,
        |  CAST(iso_micro <> CAST((positives * 1000000) // n AS BIGINT)
        |       AS INTEGER) AS pooled
        |FROM g JOIN iso ON iso.ib = g.bucket
        |ORDER BY g.bucket""".stripMargin,
    // q173: q165's pinned-IEEE-tree discipline — identical
    // parenthesization, exact count operands, one sqrt
    "q173_ab_test" ->
      """WITH wk AS (
        |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS x,
        |    count(*) AS n
        |  FROM events GROUP BY 1)
        |, z0 AS (
        |  SELECT a.week AS w1, b.week AS w2,
        |    CAST(a.x AS BIGINT) AS x1, a.n AS n1,
        |    CAST(b.x AS BIGINT) AS x2, b.n AS n2,
        |    CAST(a.x AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.x AS DOUBLE) / CAST(b.n AS DOUBLE) AS dp,
        |    (CAST(a.x + b.x AS DOUBLE) / CAST(a.n + b.n AS DOUBLE))
        |      * (1.0 - CAST(a.x + b.x AS DOUBLE)
        |          / CAST(a.n + b.n AS DOUBLE))
        |      * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))
        |      AS v
        |  FROM wk a JOIN wk b
        |    ON CAST(b.week AS DATE) = CAST(a.week AS DATE)
        |       + INTERVAL 7 DAY)
        |SELECT w1, w2, x1, n1, x2, n2,
        |  CASE WHEN v > 0 THEN dp / sqrt(v) END AS z,
        |  CAST(CASE WHEN v > 0 THEN abs(dp / sqrt(v)) > 1.96 END
        |    AS INTEGER) AS significant
        |FROM z0
        |ORDER BY w1""".stripMargin,
    // q159: exact signed numerator/denominator (HUGEINT ≡ DECIMAL(38,0)),
    // ONE IEEE division — no integral division of a signed value (the
    // engines disagree on negative truncation)
    "q159_spearman" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS spend,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT c_nationkey AS nation,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY spend, o_custkey) AS rs,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY n_orders, o_custkey) AS rf
        |  FROM per JOIN customer ON o_custkey = c_custkey),
        |a AS (
        |  SELECT nation, count(*) AS n,
        |    sum(CAST((rs - rf) * (rs - rf) AS HUGEINT)) AS sd2
        |  FROM r GROUP BY 1)
        |SELECT nation, n,
        |  CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
        |       - 6 * sd2 AS BIGINT) AS rho_num,
        |  CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
        |       AS BIGINT) AS rho_den,
        |  CASE WHEN n > 1 THEN
        |    CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
        |         - 6 * sd2 AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
        |           AS DOUBLE) END AS rho
        |FROM a ORDER BY nation""".stripMargin,
    // q158: both engines floor the same positive micro quotients;
    // 2TP + FP + FN telescopes to p_pred + pos_all
    "q158_pr_curve" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi,
        |             CAST(sum(y) AS BIGINT) AS pos_all FROM ev),
        |th AS (SELECT CAST(d AS BIGINT) AS decile,
        |              lo + (((hi - lo + 1) * d) // 10) AS t, pos_all
        |       FROM b, range(1, 10) r(d)),
        |agg AS (SELECT decile, t AS threshold_cents, pos_all,
        |          CAST(count(*) AS BIGINT) AS p_pred,
        |          CAST(sum(y) AS BIGINT) AS tp
        |        FROM ev JOIN th ON ev.cents >= th.t
        |        GROUP BY 1, 2, 3)
        |SELECT decile, threshold_cents, tp,
        |  p_pred - tp AS fp, pos_all - tp AS fn,
        |  (1000000 * tp) // nullif(p_pred, 0) AS precision_micro,
        |  (1000000 * tp) // nullif(pos_all, 0) AS recall_micro,
        |  (2000000 * tp) // nullif(p_pred + pos_all, 0) AS f1_micro
        |FROM agg ORDER BY decile""".stripMargin,
    // q157: the oracle replays the capped pair generation, the
    // (deg, id) orientation, and the wedge+closer triangle join —
    // exact integers end to end, HUGEINT mirroring DECIMAL(38,0)
    // q174: q157's co-purchase chain, then 6 unrolled peel rounds (the
    // fixpoint's identity past convergence) — support recomputed within
    // each round's survivors, inner-join filter (no-triangle edges have
    // no support row and need supp >= 2 anyway)
    "q174_ktruss" -> {
      def round(r: Int): String =
        s"""d${r - 1} AS MATERIALIZED (SELECT a AS src, b AS dst FROM e${r - 1}
           |     UNION ALL SELECT b AS src, a AS dst FROM e${r - 1}),
           |s$r AS MATERIALIZED (SELECT e.a, e.b, count(*) AS supp
           |        FROM e${r - 1} e
           |        JOIN d${r - 1} x ON x.src = e.a
           |        JOIN d${r - 1} y ON y.src = e.b AND y.dst = x.dst
           |        GROUP BY 1, 2),
           |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
           |        JOIN s$r s ON s.a = e.a AND s.b = e.b
           |        WHERE s.supp >= 2)""".stripMargin
      s"""WITH buyers AS (
         |  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |pd AS (SELECT part, count(*) AS pdeg FROM buyers GROUP BY 1),
         |capped AS (SELECT b.part, b.cust FROM buyers b JOIN pd USING (part)
         |           WHERE pdeg BETWEEN 2 AND 40),
         |e0 AS MATERIALIZED (
         |  SELECT x.cust AS a, y.cust AS b
         |  FROM capped x JOIN capped y
         |    ON x.part = y.part AND x.cust < y.cust
         |  GROUP BY 1, 2 HAVING count(*) >= 4),
         |${(1 to 6).map(round).mkString(",\n")},
         |d6 AS (SELECT a AS src, b AS dst FROM e6
         |       UNION ALL SELECT b AS src, a AS dst FROM e6),
         |sf AS (SELECT e.a, e.b, count(*) AS supp
         |       FROM e6 e
         |       JOIN d6 x ON x.src = e.a
         |       JOIN d6 y ON y.src = e.b AND y.dst = x.dst
         |       GROUP BY 1, 2)
         |SELECT e.a, e.b, coalesce(s.supp, 0) AS supp
         |FROM e6 e LEFT JOIN sf s ON s.a = e.a AND s.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    },
    // q177/q178 share the sparse monthly rollup + pair frame; slope
    // ordering is over identical doubles, median is an exact ELEMENT
    "q177_theilsen" ->
      """WITH rev AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) // 1000 AS units
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.nation, a.m AS m1, b.m AS m2,
        |    b.units - a.units AS dy, b.m - a.m AS dx,
        |    CAST(b.units - a.units AS DOUBLE)
        |      / CAST(b.m - a.m AS DOUBLE) AS slope
        |  FROM rev a JOIN rev b ON a.nation = b.nation AND a.m < b.m),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY nation
        |      ORDER BY slope, m1, m2) AS rn,
        |    count(*) OVER (PARTITION BY nation) AS n_pairs
        |  FROM pairs)
        |SELECT nation, n_pairs, dy AS med_dy, dx AS med_dx, slope
        |FROM r WHERE rn = (n_pairs + 1) // 2
        |ORDER BY nation""".stripMargin,
    // q178: exact sign sum + tie-corrected integer variance; the z tree
    // (cast, /18.0, sqrt, one division) is IEEE-identical; var18 = 0
    // (all-tied) publishes NULL
    "q178_mann_kendall" ->
      """WITH rev AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) // 1000 AS units
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT a.nation,
        |    CAST(sum(CASE WHEN b.units > a.units THEN 1
        |                  WHEN b.units < a.units THEN -1
        |                  ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM rev a JOIN rev b ON a.nation = b.nation AND a.m < b.m
        |  GROUP BY 1),
        |nm AS (SELECT nation, count(*) AS n_months FROM rev GROUP BY 1),
        |ties AS (
        |  SELECT nation,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT nation, units, count(*) AS t FROM rev GROUP BY 1, 2)
        |  GROUP BY 1),
        |v AS (
        |  SELECT nm.nation, nm.n_months, s.s_stat,
        |    n_months * (n_months - 1) * (2 * n_months + 5) - tie_term
        |      AS var18
        |  FROM nm JOIN ties ON ties.nation = nm.nation
        |  JOIN s ON s.nation = nm.nation)
        |SELECT nation, n_months, s_stat, var18,
        |  CASE WHEN var18 > 0 THEN
        |    CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |         WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |         ELSE 0.0 END
        |  END AS z,
        |  CAST(abs(CASE WHEN var18 > 0 THEN
        |    CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |         WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |         ELSE 0.0 END
        |  END) > 1.96 AS INTEGER) AS trend
        |FROM v ORDER BY nation""".stripMargin,
    // q176: the identical journey truncation, 8 unrolled micro-floor
    // recurrence steps over the tiny (scenario × grid) frame, and the
    // same knocked-out-channel exclusion (p(removed) pinned 0)
    "q176_removal_effect" -> {
      def step(k: Int): String =
        s"""p$k AS (
           |  SELECT sp.removed, sp.s, sp.cn,
           |    CAST(CASE WHEN sp.s = '__conv__' THEN 1000000
           |      WHEN sp.s = '__null__' OR sp.s = sp.removed THEN 0
           |      ELSE coalesce(i.acc // sp.cn, 0) END AS BIGINT) AS p
           |  FROM sp LEFT JOIN (
           |    SELECT pp.removed, c.f,
           |      sum(CAST(c.n AS HUGEINT) * pp.p) AS acc
           |    FROM p${k - 1} pp JOIN c ON c.t = pp.s
           |    WHERE pp.s <> pp.removed
           |    GROUP BY 1, 2) i
           |    ON i.removed = sp.removed AND i.f = sp.s)""".stripMargin
      s"""WITH ev0 AS (
         |  SELECT user_id, event_id,
         |    CASE WHEN event_type = 'purchase' THEN '__conv__'
         |         ELSE event_type END AS st,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ns(ts), event_id) AS rn
         |  FROM events),
         |fc AS (SELECT user_id, min(rn) AS crn FROM ev0
         |       WHERE st = '__conv__' GROUP BY 1),
         |ev AS (
         |  SELECT e.user_id, e.st, e.rn,
         |    max(e.rn) OVER (PARTITION BY e.user_id) AS lrn,
         |    lead(e.st) OVER (PARTITION BY e.user_id ORDER BY e.rn)
         |      AS next_st
         |  FROM ev0 e LEFT JOIN fc USING (user_id)
         |  WHERE fc.crn IS NULL OR e.rn <= fc.crn),
         |tr AS (
         |  SELECT '__start__' AS f, st AS t FROM ev WHERE rn = 1
         |  UNION ALL SELECT st, next_st FROM ev WHERE next_st IS NOT NULL
         |  UNION ALL SELECT st, '__null__' FROM ev
         |    WHERE rn = lrn AND st <> '__conv__'),
         |c AS (SELECT f, t, count(*) AS n FROM tr GROUP BY 1, 2),
         |rs AS (SELECT f, CAST(sum(n) AS BIGINT) AS cn FROM c GROUP BY 1),
         |stt AS (SELECT f AS s FROM c UNION SELECT t AS s FROM c),
         |ch AS (SELECT DISTINCT t AS removed FROM c
         |       WHERE t NOT IN ('__conv__', '__null__')
         |       ORDER BY 1 LIMIT 12),
         |sc AS (SELECT removed FROM ch UNION ALL SELECT '__none__'),
         |sp AS (SELECT sc.removed, stt.s, rs.cn
         |       FROM stt CROSS JOIN sc LEFT JOIN rs ON rs.f = stt.s),
         |p0 AS (SELECT removed, s, cn,
         |         CAST(CASE WHEN s = '__conv__' THEN 1000000 ELSE 0 END
         |           AS BIGINT) AS p FROM sp),
         |${(1 to 8).map(step).mkString(",\n")}
         |SELECT pr.removed AS channel, b.p AS p_base, pr.p AS p_removed,
         |  CASE WHEN b.p > 0
         |    THEN 1000000 - (pr.p * 1000000) // b.p END AS removal_micro
         |FROM p8 pr,
         |  (SELECT p FROM p8
         |   WHERE removed = '__none__' AND s = '__start__') b
         |WHERE pr.s = '__start__' AND pr.removed <> '__none__'
         |ORDER BY channel""".stripMargin
    },
    // q175: the identical hash-seeded walk — dst-ascending neighbor
    // ranks, md5-prefix pick mod out-degree, 4 unrolled steps
    "q175_random_walks" ->
      s"""WITH $walkOracleCtes
         |SELECT CASE WHEN seed % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  seed // 2 AS node_id, wno, step,
         |  CASE WHEN node % 2 = 0 THEN 'customer'
         |       ELSE 'supplier' END AS visit_type,
         |  node // 2 AS visit_id
         |FROM walk ORDER BY 1, 2, 3, 4""".stripMargin,
    // q179: the same walk CTEs + the ±2 same-walk pair join and the
    // distance histogram
    "q179_skipgram" ->
      s"""WITH $walkOracleCtes,
         |pr AS (
         |  SELECT a.node AS center, b.node AS context,
         |    abs(a.step - b.step) AS d
         |  FROM walk a JOIN walk b
         |    ON a.seed = b.seed AND a.wno = b.wno
         |    AND a.step <> b.step AND abs(a.step - b.step) <= 2)
         |SELECT CASE WHEN center % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS center_type,
         |  center // 2 AS center_id,
         |  CASE WHEN context % 2 = 0 THEN 'customer'
         |       ELSE 'supplier' END AS context_type,
         |  context // 2 AS context_id,
         |  count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_d1,
         |  CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_d2
         |FROM pr GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    // q180: same cents quantization as q155, same day grain as q104;
    // gains/losses are non-negative so Spark `div` ≡ DuckDB `//`
    "q180_rsi" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS close_c
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, day, close_c,
        |    row_number() OVER w AS i,
        |    close_c - lag(close_c) OVER w AS d
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |g AS (
        |  SELECT event_type, day, close_c, i,
        |    sum(greatest(d, 0)) OVER w14 AS gain14,
        |    sum(greatest(-d, 0)) OVER w14 AS loss14
        |  FROM d WINDOW w14 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, close_c,
        |  CAST(gain14 AS BIGINT) AS gain14,
        |  CAST(loss14 AS BIGINT) AS loss14,
        |  CASE WHEN gain14 + loss14 > 0
        |    THEN CAST((10000 * gain14) // (gain14 + loss14) AS BIGINT)
        |  END AS rsi_bp
        |FROM g WHERE i >= 15 ORDER BY event_type, day""".stripMargin,
    // q181: same day grain as q104/q180; weekday = epoch-days mod 7 on
    // both engines (no locale week-start seam); HUGEINT mirrors
    // DECIMAL(38,0) with the mirrored bounded CASE
    "q181_stl_decompose" ->
      s"""WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day, x,
        |    CASE WHEN count(*) OVER w7 = 7
        |      THEN CAST(sum(x) OVER w7 AS BIGINT) END AS t7,
        |    CAST((CAST(day AS DATE) - DATE '1970-01-01') % 7 AS INTEGER)
        |      AS wd
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |s AS (
        |  SELECT event_type, wd,
        |    CAST(sum(7 * x - t7) AS BIGINT) AS s_num,
        |    count(*) AS s_den
        |  FROM t WHERE t7 IS NOT NULL GROUP BY 1, 2)
        |SELECT t.event_type, t.day, t.x, t.t7, t.wd, s.s_num, s.s_den,
        |  CASE WHEN t.t7 IS NOT NULL AND s.s_den IS NOT NULL THEN
        |    ${boundedLongSql(
             "CAST(s.s_den AS HUGEINT) * (7 * t.x - t.t7) - s.s_num",
             "resid7s")}
        |  END AS resid7s
        |FROM t LEFT JOIN s ON s.event_type = t.event_type
        |  AND s.wd = t.wd
        |ORDER BY t.event_type, t.day""".stripMargin,
    // q182: the same cohort/cutoff derivations (even-length class,
    // calendar-midpoint day), four exact cells, ONE mirrored IEEE tree
    "q182_did" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |cut AS (SELECT min(d) + CAST((max(d) - min(d)) // 2 AS INTEGER)
        |          AS cutoff FROM e),
        |cells AS (
        |  SELECT (length(event_type) % 2 = 0) AS treated,
        |    (d >= cutoff) AS post,
        |    CAST(sum(c) AS BIGINT) AS s, count(*) AS n
        |  FROM e, cut GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    max(CASE WHEN treated AND post THEN s END) AS s_tp,
        |    max(CASE WHEN treated AND post THEN n END) AS n_tp,
        |    max(CASE WHEN treated AND NOT post THEN s END) AS s_tpre,
        |    max(CASE WHEN treated AND NOT post THEN n END) AS n_tpre,
        |    max(CASE WHEN NOT treated AND post THEN s END) AS s_cp,
        |    max(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
        |    max(CASE WHEN NOT treated AND NOT post THEN s END) AS s_cpre,
        |    max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_cpre
        |  FROM cells)
        |SELECT s_tp, n_tp, s_tpre, n_tpre, s_cp, n_cp, s_cpre, n_cpre,
        |  CASE WHEN n_tp > 0 AND n_tpre > 0 AND n_cp > 0 AND n_cpre > 0
        |    THEN round((s_tp / CAST(n_tp AS DOUBLE)
        |                - s_tpre / CAST(n_tpre AS DOUBLE))
        |               - (s_cp / CAST(n_cp AS DOUBLE)
        |                  - s_cpre / CAST(n_cpre AS DOUBLE)), 6)
        |  END AS did_cents
        |FROM p""".stripMargin,
    // q183: lag-7 naive forecast, |Δ| scores, the exact order-statistic
    // q̂ (k = ceil((n+1)·0.9) as integer arithmetic), even/odd split
    "q183_conformal" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, day, x,
        |    row_number() OVER w AS i,
        |    lag(x, 7) OVER w AS fc
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |scored AS (
        |  SELECT event_type, day, abs(x - fc) AS score, (i % 2 = 0) AS cal
        |  FROM sc WHERE fc IS NOT NULL),
        |calr AS (
        |  SELECT event_type, day, score,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY score, day) AS r,
        |    count(*) OVER (PARTITION BY event_type) AS n_cal
        |  FROM scored WHERE cal),
        |q AS (
        |  SELECT event_type, n_cal, score AS qhat FROM calr
        |  WHERE r = least(n_cal, ((n_cal + 1) * 9 + 9) // 10)),
        |t AS (
        |  SELECT s.event_type, q.n_cal, q.qhat, s.score
        |  FROM scored s JOIN q ON q.event_type = s.event_type
        |  WHERE NOT s.cal)
        |SELECT event_type, n_cal, qhat, count(*) AS n_test,
        |  CAST(sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hits,
        |  CAST((10000 * sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END))
        |       // count(*) AS BIGINT) AS cov_bp
        |FROM t GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q157_clustering" ->
      """WITH buyers AS (
        |  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |pd AS (SELECT part, count(*) AS pdeg FROM buyers GROUP BY 1),
        |capped AS (SELECT b.part, b.cust FROM buyers b JOIN pd USING (part)
        |           WHERE pdeg BETWEEN 2 AND 40),
        |edges AS (
        |  SELECT x.cust AS a, y.cust AS b
        |  FROM capped x JOIN capped y
        |    ON x.part = y.part AND x.cust < y.cust
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM edges
        |  UNION ALL SELECT b AS node FROM edges) GROUP BY 1),
        |oriented AS (
        |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
        |              THEN a ELSE b END AS src,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
        |              THEN b ELSE a END AS dst
        |  FROM edges JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
        |tri AS (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT unnest([w.x, w.y, w.z]) AS node FROM (
        |      SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |      FROM oriented e1 JOIN oriented e2
        |        ON e1.src = e2.src AND e1.dst <> e2.dst) w
        |    JOIN oriented c ON w.y = c.src AND w.z = c.dst)
        |  GROUP BY 1)
        |SELECT d.node AS cust, d.deg, coalesce(t.tri, 0) AS tri,
        |  CAST((CAST(2000000000000 AS HUGEINT) * coalesce(t.tri, 0))
        |       // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS BIGINT)
        |    AS clustering_pico
        |FROM deg d LEFT JOIN tri t ON t.node = d.node
        |WHERE d.deg >= 2
        |ORDER BY clustering_pico DESC, cust LIMIT 100""".stripMargin,
    // q155: HUGEINT mirrors Spark's DECIMAL(38,0); both quotients are
    // one integral division of exact positive integers
    "q155_auc" ->
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         event_type, count(*) AS p
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT cents, sum(p) AS tot FROM c GROUP BY 1),
        |cls AS (SELECT DISTINCT event_type FROM c),
        |g AS (
        |  SELECT cls.event_type, t.cents, coalesce(c.p, 0) AS p,
        |         t.tot - coalesce(c.p, 0) AS nn
        |  FROM t CROSS JOIN cls
        |  LEFT JOIN c ON c.cents = t.cents
        |             AND c.event_type = cls.event_type),
        |w AS (
        |  SELECT event_type, p, nn,
        |    sum(nn) OVER (PARTITION BY event_type ORDER BY cents
        |                  ROWS UNBOUNDED PRECEDING) - nn AS cum_lt
        |  FROM g),
        |a AS (
        |  SELECT event_type, CAST(sum(p) AS BIGINT) AS pos,
        |         CAST(sum(nn) AS BIGINT) AS neg,
        |         sum(CAST(p AS HUGEINT) * cum_lt) AS conc,
        |         sum(CAST(p AS HUGEINT) * nn) AS tied
        |  FROM w GROUP BY 1)
        |SELECT event_type, pos, neg,
        |  CAST(((2 * conc + tied) * 1000000000000)
        |       // nullif(2 * CAST(pos AS HUGEINT) * neg, 0) AS BIGINT)
        |    AS auc_pico
        |FROM a ORDER BY 1""".stripMargin,
    // q162: q156's unrolled BFS chain, reduced to the harmonic sum —
    // one integral division per (seed, node) pair, HUGEINT-exact sum
    "q162_harmonic" ->
      ("""WITH pe AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pe
        |      UNION ALL SELECT s AS src, c AS dst FROM pe),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |seeds AS (SELECT node AS seed FROM nodes ORDER BY node LIMIT 8),
        |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
        |       FROM seeds),
        |""".stripMargin +
        (1 to 8).map(i =>
          s"""d$i AS (SELECT seed, node, min(dist) AS dist FROM (
             |  SELECT seed, node, dist FROM d${i - 1}
             |  UNION ALL
             |  SELECT d${i - 1}.seed, e.dst AS node, d${i - 1}.dist + 1
             |  FROM d${i - 1} JOIN e ON e.src = d${i - 1}.node)
             |  GROUP BY 1, 2)""".stripMargin).mkString(",\n") +
        """,
        |n AS (SELECT count(*) AS n_nodes FROM nodes),
        |agg AS (SELECT seed, count(*) AS reached,
        |               sum(CAST(1000000000000 // dist AS HUGEINT)) AS hsum
        |        FROM d8 WHERE dist > 0 GROUP BY 1)
        |SELECT CASE WHEN seed % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |  seed // 2 AS node_id, reached,
        |  CAST(hsum AS BIGINT) AS harmonic_pico,
        |  CAST(hsum // nullif(CAST(n_nodes - 1 AS HUGEINT), 0) AS BIGINT)
        |    AS harmonic_norm_pico
        |FROM agg CROSS JOIN n ORDER BY 1, 2""".stripMargin),
    // q156: the q100 pattern — unrolled min-dist iterations make the
    // 8-hop-capped multi-source BFS a finite closed form
    "q156_closeness" ->
      ("""WITH pe AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pe
        |      UNION ALL SELECT s AS src, c AS dst FROM pe),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |seeds AS (SELECT node AS seed FROM nodes ORDER BY node LIMIT 8),
        |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
        |       FROM seeds),
        |""".stripMargin +
        (1 to 8).map(i =>
          s"""d$i AS (SELECT seed, node, min(dist) AS dist FROM (
             |  SELECT seed, node, dist FROM d${i - 1}
             |  UNION ALL
             |  SELECT d${i - 1}.seed, e.dst AS node, d${i - 1}.dist + 1
             |  FROM d${i - 1} JOIN e ON e.src = d${i - 1}.node)
             |  GROUP BY 1, 2)""".stripMargin).mkString(",\n") +
        """,
        |n AS (SELECT count(*) AS n_nodes FROM nodes),
        |agg AS (SELECT seed, count(*) AS reached,
        |               CAST(sum(dist) AS BIGINT) AS sum_dist
        |        FROM d8 WHERE dist > 0 GROUP BY 1)
        |SELECT CASE WHEN seed % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |  seed // 2 AS node_id, reached, sum_dist,
        |  CAST((CAST(reached AS HUGEINT) * reached * 1000000000000)
        |       // nullif((n_nodes - 1) * CAST(sum_dist AS HUGEINT), 0)
        |       AS BIGINT) AS closeness_pico
        |FROM agg CROSS JOIN n ORDER BY 1, 2""".stripMargin),
    "q64_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  - 0.5 * CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))
        |    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem, part, supplier, orders, nation
        |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        |  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
        |  AND p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q65_tpch_q11" ->
      """WITH s_asia AS (
        |  SELECT s_suppkey FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'ASIA'),
        |pv AS (
        |  SELECT l_partkey AS p_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_d,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |              AS BIGINT) AS value_c
        |  FROM lineitem JOIN s_asia ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |total AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c,
        |                 count(*) AS np FROM pv)
        |SELECT p_partkey, CAST(value_d AS DOUBLE) AS value
        |FROM pv, total WHERE value_c * np > 2 * total_c
        |ORDER BY value DESC, p_partkey""".stripMargin,
    "q66_tpch_q12" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 15
        |            THEN 'FAST'
        |            WHEN date_diff('day', o_orderdate, l_shipdate) <= 45
        |            THEN 'REGULAR' ELSE 'SLOW' END AS delay_band,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_tpch_q13" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q68_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |top AS (SELECT max(rev_d) AS max_d FROM rev)
        |SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
        |FROM rev, top, supplier
        |WHERE rev_d = max_d AND l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "q69_tpch_q16" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 500)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q70_tpch_q17" -> q70Sql,
    "q71_tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q72_tpch_q20" -> q72Sql,
    "q73_tpch_q22" -> q73Sql,
    "q74_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
        |         epoch_ns(ts) // 3600000000000 AS h, value
        |  FROM events),
        |obs AS (
        |  SELECT user_id, h, value AS v_obs FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, h
        |      ORDER BY ts_ns DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(min(h), max(h))) AS hour_idx
        |  FROM e GROUP BY user_id),
        |j AS (
        |  SELECT g.user_id, g.hour_idx, o.v_obs
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.hour_idx = o.h)
        |SELECT user_id, hour_idx,
        |  last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hour_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  CAST(v_obs IS NOT NULL AS INTEGER) AS is_observed
        |FROM j ORDER BY user_id, hour_idx""".stripMargin,
    "q75_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1),
        |g AS (
        |  SELECT cohort_day, d - cohort_day AS day_offset,
        |         count(DISTINCT e.user_id) AS n_users
        |  FROM e JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_users,
        |  max(CASE WHEN day_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_day) AS cohort_size,
        |  CAST(n_users AS DOUBLE)
        |  / CAST(max(CASE WHEN day_offset = 0 THEN n_users END)
        |         OVER (PARTITION BY cohort_day) AS DOUBLE) AS retention_pct
        |FROM g ORDER BY 1, 2""".stripMargin,
    "q76_mad_outliers" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |m AS (SELECT event_type,
        |        CAST(quantile_cont(2 * v_c, 0.5) AS BIGINT) AS med2
        |      FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, v_c, med2, abs(2 * v_c - med2) AS d2
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type,
        |         CAST(quantile_cont(2 * d2, 0.5) AS BIGINT) AS mad4
        |       FROM d GROUP BY 1)
        |SELECT d.event_type,
        |  CAST(max(med2) AS DOUBLE) / 200.0 AS median_value,
        |  CAST(max(mad4) AS DOUBLE) / 400.0 AS mad,
        |  CAST(sum(CASE WHEN 2 * d2 > 3 * mad4 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_outliers,
        |  count(*) AS n
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_session_window" ->
      """WITH gapped AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sess AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM gapped)
        |SELECT user_id,
        |  strftime(to_timestamp(min(ts_us) // 1000000), '%Y-%m-%d %H:%M:%S')
        |    AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q43_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    strftime(time_bucket(INTERVAL '1 hour', ts),
        |             '%Y-%m-%d %H:%M:%S') AS bucket,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type, count(*) AS h, sum(n) AS s,
        |            sum(n * n) AS s2
        |          FROM hourly GROUP BY 1)
        |SELECT event_type, bucket, n,
        |  CAST(dev > 0 AND dev * dev > 9 * (h * s2 - s * s) AS INTEGER)
        |    AS is_anomaly
        |FROM (SELECT hourly.*, h, s, s2, n * h - s AS dev
        |      FROM hourly JOIN stats USING (event_type))
        |ORDER BY event_type, bucket""".stripMargin,
    "q40_profile" -> {
      def block(c: String): String =
        s"""SELECT '$c' AS col_name,
           |  CAST(((xc - min_cents) * 10) // (max_cents - min_cents + 1)
           |    AS INTEGER) AS bucket,
           |  count(*) AS n_bucket, n_total, n_null, min_cents, max_cents,
           |  n_distinct
           |FROM (SELECT CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
           |      FROM lineitem WHERE $c IS NOT NULL),
           |     (SELECT count(*) AS n_total,
           |        CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |          AS n_null,
           |        min(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT))
           |          AS min_cents,
           |        max(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT))
           |          AS max_cents,
           |        count(DISTINCT CAST(CAST($c AS DECIMAL(18,2)) * 100
           |          AS BIGINT)) AS n_distinct
           |      FROM lineitem)
           |GROUP BY 2, n_total, n_null, min_cents, max_cents, n_distinct""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(block).mkString("", "\nUNION ALL\n", "\nORDER BY col_name, bucket")
    },
    "q39_pagerank" -> {
      // one unrolled iteration: rank = teleport + floor(0.85 * inflow)
      def it(k: Int): String =
        s"""it$k AS (
           |  SELECT d.src AS node, d.deg,
           |    CAST(150000000 AS BIGINT) // (SELECT n FROM n)
           |      + (85 * COALESCE(f.inflow, 0)) // 100 AS rank
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst, sum(r.rank // r.deg) AS inflow
           |    FROM it${k - 1} r JOIN edges e ON r.node = e.src
           |    GROUP BY 1) f ON d.src = f.dst)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM pairs
         |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, deg,
         |          CAST(1000000000 AS BIGINT) // (SELECT n FROM n) AS rank
         |        FROM deg),
         |${(1 to 5).map(it).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |         AS node_type,
         |  node // 2 AS node_id, CAST(rank AS BIGINT) AS rank_scaled
         |FROM it5 ORDER BY node_type, node_id""".stripMargin
    },
    "q38_cms_heavy" ->
      """WITH items AS (SELECT l_partkey AS key FROM lineitem),
        |cells AS (
        |  SELECT r.r, CAST(concat('0x', substr(md5('cms:' || r.r || ':' || key),
        |    1, 15)) AS BIGINT) % 256 AS b
        |  FROM items, range(0, 4) r(r)),
        |sketch AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY 1, 2),
        |counts AS (SELECT key, count(*) AS n_true FROM items GROUP BY 1),
        |t AS (SELECT (max(n_true) * 9) // 10 AS t FROM counts),
        |heavy AS (SELECT key, n_true FROM counts, t WHERE n_true >= t.t),
        |probes AS (
        |  SELECT key, n_true, r.r,
        |    CAST(concat('0x', substr(md5('cms:' || r.r || ':' || key),
        |      1, 15)) AS BIGINT) % 256 AS b
        |  FROM heavy, range(0, 4) r(r))
        |SELECT key, n_true, CAST(min(cnt) AS BIGINT) AS cms_est
        |FROM probes JOIN sketch USING (r, b)
        |GROUP BY 1, 2 ORDER BY key""".stripMargin,
    "q37_cdc_upsert" ->
      """WITH latest AS (
        |  SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type, value AS last_value,
        |  ts_us AS last_ts_us
        |FROM latest WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q36_hll_portable" ->
      s"""WITH h AS (SELECT l_returnflag AS flag,
         |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM lineitem),
         |regs AS (SELECT flag, h % 256 AS bucket,
         |    max(CASE WHEN h // 256 = 0 THEN 53
         |             ELSE 53 - length(bin(h // 256)) END) AS r
         |  FROM h GROUP BY 1, 2),
         |rx AS (SELECT flag, max(r) AS rmax, count(*) AS nhit
         |  FROM regs GROUP BY 1),
         |sums AS (SELECT regs.flag,
         |    sum(1::BIGINT << CAST(rmax - r AS INTEGER)) +
         |      (256 - max(nhit)) * (1::BIGINT << CAST(max(rmax) AS INTEGER)) AS s,
         |    max(rmax) AS rmax, max(nhit) AS nhit
         |  FROM regs JOIN rx USING (flag) GROUP BY 1),
         |ex AS (SELECT l_returnflag AS flag, count(DISTINCT l_partkey) AS exact_parts
         |  FROM lineitem GROUP BY 1)
         |SELECT s.flag AS l_returnflag, s.nhit AS n_buckets_hit,
         |  ($q36AlphaM2 * power(2.0, CAST(s.rmax AS DOUBLE))) / CAST(s.s AS DOUBLE)
         |    AS hll_estimate,
         |  exact_parts
         |FROM sums s JOIN ex USING (flag)
         |ORDER BY l_returnflag""".stripMargin,
    "q35_array_hof" ->
      """SELECT l_orderkey, CAST(count(*) AS INTEGER) AS n_items,
        | CAST(sum(cents) AS BIGINT) AS total_cents,
        | CAST(count(*) FILTER (WHERE cents > 10000000) AS INTEGER) AS n_over_100k,
        | CAST(count(*) FILTER (WHERE cents % 2 = 0) > 0 AS INTEGER) AS has_even,
        | CAST(count(*) FILTER (WHERE cents <= 0) = 0 AS INTEGER) AS all_positive,
        | min(cents) + max(cents) AS min_plus_max
        |FROM (SELECT l_orderkey,
        |        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |      FROM lineitem)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q33_full_outer_join" ->
      """SELECT coalesce(c.nk, s.nk) AS nationkey,
        | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer
        |      WHERE c_acctbal > 9900 GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier
        |      WHERE s_acctbal > 5000 GROUP BY 1) s
        |  ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin,
    "q34_zorder" -> {
      val z = (0 until 10).map { i =>
        s"((((l_partkey % 1024) >> $i) & 1) << ${2 * i})" +
          s" + ((((l_suppkey % 1024) >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""SELECT CAST(zval >> 14 AS BIGINT) AS zbucket, count(*) AS n,
         | CAST(min(zval) AS BIGINT) AS zmin, CAST(max(zval) AS BIGINT) AS zmax
         |FROM (SELECT $z AS zval FROM lineitem)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q32_date_arith" ->
      """SELECT o_orderkey,
        | strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d_str,
        | strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-01-01') AS INTEGER)
        |   AS days_to_2001,
        | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        | strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q31_setops_all" ->
      """SELECT c_nationkey, count(*) AS n FROM (
        |  (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   INTERSECT ALL
        |   SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |  EXCEPT ALL
        |  SELECT c_nationkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM (SELECT event_type, value,
        |        time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL '1 hour' AS ws
        |      FROM events, range(0, 2) r(k))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q29_skew_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_grouping_sets" -> q23Sql,
    "q24_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_percentiles" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
        | min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_lateral_topk" -> q26Sql,
    "q27_hash_sample" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |      < (CASE WHEN o_orderstatus = 'O' THEN 10
        |              WHEN o_orderstatus = 'F' THEN 5 ELSE 50 END)
        |ORDER BY o_orderkey""".stripMargin,
    "q28_window_frames" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_orderstatus ORDER BY o_totalprice
        |   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE)
        |   / count(*) OVER w3 AS mov_avg,
        | lead(o_totalprice, 1) OVER wr AS next_price,
        | first_value(o_orderkey) OVER wr AS first_key
        |FROM orders
        |WINDOW wr AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
        |       w3 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin,
    "q22_correlated_subquery" -> q22Sql,
    // q21: the accuracy-contract gate — the oracle asserts the HLL++
    // sketch's documented 3·rsd bound HOLDS (TRUE) next to the exact
    // count; the Spark side publishes the actually-measured predicate
    "q21_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_3rsd
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_shipdate >= '1999-01-01' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_broadcast_join_agg" ->
      """SELECT r_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q04_shuffle_join_agg" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_totalprice > 450000 AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q07_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q08_window_running" ->
      """SELECT user_id, event_id, event_type,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        | lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q09_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q10_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
        | count(*) AS n_cust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_setops" ->
      """SELECT c_nationkey FROM (
        | SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION
        | SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |INTERSECT
        |SELECT c_nationkey FROM customer WHERE c_acctbal > 9000
        |EXCEPT
        |SELECT c_nationkey FROM customer WHERE c_acctbal < 0 AND c_nationkey > 20
        |ORDER BY c_nationkey""".stripMargin,
    "q12_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q13_scalar_string_math" ->
      """SELECT p_partkey, upper(p_brand) AS brand_up, substr(p_name, 1, 8) AS name_pfx,
        | length(p_name) AS name_len, concat_ws('/', p_brand, p_type) AS brand_type,
        | CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS price_bump,
        | abs(p_size - 25) AS size_dist
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q14_scalar_date" ->
      """SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        | day(o_orderdate) AS dom, strftime(o_orderdate, '%Y-%m-%d') AS d_str
        |FROM orders WHERE year(o_orderdate) = 2000 ORDER BY o_orderkey""".stripMargin,
    "q15_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
        |ORDER BY event_id""".stripMargin,
    "q16_sessionize" -> oracleQ16,
    "q17_time_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q18_asof_join" -> oracleQ18,
    "q19_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('b0_low', 0.0, 100000.0), ('b1_mid', 100000.0, 250000.0),
        |  ('b2_high', 250000.0, 400000.0), ('b3_top', 400000.0, 1000000000.0))
        |SELECT band, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q81: the oracle is the FULL exact groupBy — the two-pass
    // sketch-filter plan must reproduce it or the candidate envelope is
    // broken (see the builder's correctness argument)
    "q81_heavy_hitters" ->
      """SELECT word, cnt FROM (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '[^\p{L}]+'),
        |      x -> x <> '')) AS word
        |    FROM documents)
        |  GROUP BY 1)
        |ORDER BY cnt DESC, word LIMIT 25""".stripMargin,
    "q82_kmv_setops" ->
      """WITH eh AS (
        |  SELECT DISTINCT event_type AS et,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) AS h
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |a AS (SELECT h FROM eh WHERE et = 'click'),
        |b AS (SELECT h FROM eh WHERE et = 'purchase'),
        |u AS (SELECT DISTINCT h FROM eh),
        |sa AS (SELECT count(*) AS n_k, max(h) AS kth
        |       FROM (SELECT h FROM a ORDER BY h LIMIT 64)),
        |sb AS (SELECT count(*) AS n_k, max(h) AS kth
        |       FROM (SELECT h FROM b ORDER BY h LIMIT 64)),
        |su AS (SELECT count(*) AS n_k, max(h) AS kth
        |       FROM (SELECT h FROM u ORDER BY h LIMIT 64)),
        |ta AS (SELECT count(*) AS t FROM a),
        |tb AS (SELECT count(*) AS t FROM b),
        |tu AS (SELECT count(*) AS t FROM u)
        |SELECT k, est_a, est_b, est_union,
        |  est_a + est_b - est_union AS est_intersect,
        |  true_a, true_b, true_union,
        |  true_a + true_b - true_union AS true_intersect
        |FROM (SELECT CAST(64 AS INTEGER) AS k,
        |  CASE WHEN sa.n_k < 64 THEN CAST(ta.t AS DOUBLE)
        |       ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
        |            / CAST(sa.kth AS DOUBLE) END AS est_a,
        |  CASE WHEN sb.n_k < 64 THEN CAST(tb.t AS DOUBLE)
        |       ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
        |            / CAST(sb.kth AS DOUBLE) END AS est_b,
        |  CASE WHEN su.n_k < 64 THEN CAST(tu.t AS DOUBLE)
        |       ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
        |            / CAST(su.kth AS DOUBLE) END AS est_union,
        |  CAST(ta.t AS BIGINT) AS true_a, CAST(tb.t AS BIGINT) AS true_b,
        |  CAST(tu.t AS BIGINT) AS true_union
        |  FROM sa, sb, su, ta, tb, tu)""".stripMargin,
    "q83_ohlc_bars" ->
      """WITH r AS (
        |  SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
        |           '%Y-%m-%d %H:%M:%S') AS bucket,
        |    event_type, value,
        |    row_number() OVER (
        |      PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |      ORDER BY epoch_ns(ts), event_id) AS rn_a,
        |    row_number() OVER (
        |      PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT bucket, event_type, count(*) AS n,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  min(value) AS low, max(value) AS high,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q85: the oracle is the WINDOW formulation — equality proves the
    // native bounded-heap operator implements the same semantics
    "q85_native_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q86_twap" ->
      """WITH e AS (
        |  SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
        |           '%Y-%m-%d %H:%M:%S') AS bucket,
        |    epoch_ns(time_bucket(INTERVAL '1 hour', ts)) + 3600000000000
        |      AS bucket_end_ns,
        |    event_type, epoch_ns(ts) AS ts_ns, event_id, value
        |  FROM events),
        |d AS (
        |  SELECT bucket, event_type, value,
        |    coalesce(lead(ts_ns, 1) OVER (
        |        PARTITION BY bucket, event_type
        |        ORDER BY ts_ns, event_id), bucket_end_ns) - ts_ns AS dt_ns
        |  FROM e)
        |SELECT bucket, event_type, n, covered_ns, twap_micro, naive_micro,
        |  CAST(twap_micro AS DOUBLE) / 1000000.0 AS twap,
        |  CAST(naive_micro AS DOUBLE) / 1000000.0 AS naive_mean
        |FROM (
        |  SELECT bucket, event_type, count(*) AS n,
        |    CAST(sum(dt_ns) AS BIGINT) AS covered_ns,
        |    CAST((CAST(sum(CAST(value AS DECIMAL(18,2)) * dt_ns) * 100
        |            AS HUGEINT) * 10000)
        |         // CAST(sum(dt_ns) AS HUGEINT) AS BIGINT) AS twap_micro,
        |    CAST((CAST(sum(CAST(value AS DECIMAL(18,2))) * 100
        |            AS HUGEINT) * 10000)
        |         // count(*) AS BIGINT) AS naive_micro
        |  FROM d GROUP BY 1, 2)
        |ORDER BY 1, 2""".stripMargin,
    // q87: the oracle is the QUADRATIC dominance self-join — equality
    // proves the cummax frontier plan
    "q87_skyline" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    coalesce(s.sp, CAST(0 AS DECIMAL(18,2))) AS spend,
        |    c_acctbal AS bal
        |  FROM customer
        |  LEFT JOIN (SELECT o_custkey,
        |               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        |             FROM orders GROUP BY 1) s ON s.o_custkey = c_custkey)
        |SELECT p.c_custkey, CAST(p.spend AS DOUBLE) AS spend,
        |       CAST(p.bal AS DOUBLE) AS acctbal
        |FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.spend >= p.spend AND q.bal >= p.bal
        |    AND (q.spend > p.spend OR q.bal > p.bal))
        |ORDER BY p.c_custkey""".stripMargin,
    // q96: identical tenth-rule boundaries and CASE evaluation order
    "q96_decile_lift" ->
      ("""WITH pts AS (
        |  SELECT c_nationkey AS nation,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY 1, o_custkey),
        |vc AS (SELECT nation, v, count(*) AS c FROM pts GROUP BY 1, 2),
        |tot AS (SELECT nation, sum(c) AS n FROM vc GROUP BY 1),
        |rc AS (SELECT vc.nation, v,
        |         sum(c) OVER (PARTITION BY vc.nation ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS cum, n
        |       FROM vc JOIN tot ON vc.nation = tot.nation),
        |q AS (SELECT nation,
        |""" +
        (1 to 9).map(d =>
          s"        min(CASE WHEN cum * 10 >= n * $d THEN v END) AS b$d")
          .mkString(",\n") +
        """
        |      FROM rc GROUP BY 1),
        |g AS (SELECT pts.nation,
        |        CASE WHEN v <= b1 THEN 0 WHEN v <= b2 THEN 1
        |             WHEN v <= b3 THEN 2 WHEN v <= b4 THEN 3
        |             WHEN v <= b5 THEN 4 WHEN v <= b6 THEN 5
        |             WHEN v <= b7 THEN 6 WHEN v <= b8 THEN 7
        |             WHEN v <= b9 THEN 8 ELSE 9 END AS decile, v
        |      FROM pts JOIN q ON pts.nation = q.nation),
        |gg AS (SELECT nation, decile, count(*) AS n_customers,
        |         sum(v) AS rev
        |       FROM g GROUP BY 1, 2)
        |SELECT nation, decile, n_customers, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(rev) OVER (PARTITION BY nation ORDER BY decile
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(sum(rev) OVER (PARTITION BY nation) AS DOUBLE)
        |    AS cum_share
        |FROM gg ORDER BY 1, 2""").stripMargin,
    // q97: identical 8-term dyadic weights; lag of the DECIMAL cast so a
    // NULL source value drops out of numerator AND weight sum on both
    // engines the same way
    "q97_ema" ->
      ("""WITH e AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
        |    event_id, epoch_ns(ts) AS ts_ns, value,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |l AS (
        |  SELECT event_type, t, event_id, value, v AS v0,
        |""" +
        (1 to 7).map(i => s"        lag(v, $i) OVER w AS v$i")
          .mkString(",\n") +
        """
        |  FROM e WINDOW w AS (PARTITION BY event_type
        |                      ORDER BY ts_ns, event_id))
        |SELECT event_type, t, event_id, value,
        |  CAST(""" +
        (0 to 7).map(i =>
          s"CASE WHEN v$i IS NOT NULL THEN ${1L << (7 - i)} ELSE 0 END")
          .mkString("\n        |      + ") +
        """ AS INTEGER) AS wsum,
        |  CAST(""" +
        (0 to 7).map(i => s"coalesce(v$i * ${1L << (7 - i)}, 0)")
          .mkString("\n        |      + ") +
        """ AS DOUBLE)
        |  / CAST(""" +
        (0 to 7).map(i =>
          s"CASE WHEN v$i IS NOT NULL THEN ${1L << (7 - i)} ELSE 0 END")
          .mkString("\n        |      + ") +
        """ AS DOUBLE) AS ema
        |FROM l ORDER BY event_type, event_id""").stripMargin,
    // q98: the same pair join, recency index and largest-remainder cent
    // split — // is DuckDB integer division, div is Spark's
    "q98_linear_attribution" ->
      """WITH c AS (
        |  SELECT user_id, ts AS c_ts, epoch_ns(ts) AS c_ts_ns,
        |    event_id AS c_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_ns(ts) AS p_ts_ns, event_id AS p_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.p_id, p.cents, c.c_ts, c.c_ts_ns, c.c_id
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.c_ts_ns <= p.p_ts_ns
        |    AND c.c_ts_ns >= p.p_ts_ns - 604800000000000),
        |k AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY p_id
        |      ORDER BY c_ts_ns DESC, c_id DESC) AS idx,
        |    count(*) OVER (PARTITION BY p_id) AS n
        |  FROM j)
        |SELECT strftime(c_ts, '%Y-%m-%d') AS day,
        |  count(*) AS n_credits,
        |  count(DISTINCT p_id) AS n_purchases,
        |  CAST(sum(cents // n
        |    + CASE WHEN idx <= cents % n THEN 1 ELSE 0 END) AS DOUBLE)
        |    / 100.0 AS attributed_revenue
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // q99: the sketch's guarantees are theorems, so the oracle states
    // them as constants over the exact group counts — the Spark side
    // EARNS each boolean from real sketch estimates vs exact ranks
    "q99_qdigest" ->
      """SELECT l_returnflag, pct, n,
        |  true AS n_exact, true AS compact, true AS within_eps
        |FROM (SELECT l_returnflag, count(*) AS n
        |      FROM lineitem GROUP BY 1)
        |CROSS JOIN (VALUES (1),(5),(25),(50),(75),(95),(99)) t(pct)
        |ORDER BY 1, 2""".stripMargin,
    // q100: six chained full-relaxation CTEs — the finite Bellman-Ford
    // semantics both engines share (a recursive path CTE would explode)
    "q100_sssp" ->
      ("""WITH pe AS (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
        |         min(CAST(l_quantity AS BIGINT)) AS wt
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT c AS src, s AS dst, wt FROM pe
        |      UNION ALL SELECT s AS src, c AS dst, wt FROM pe),
        |d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM e),
        |""".stripMargin +
        (1 to 6).map(i =>
          s"""d$i AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d${i - 1}
             |  UNION ALL
             |  SELECT e.dst AS node, d${i - 1}.dist + e.wt AS dist
             |  FROM d${i - 1} JOIN e ON e.src = d${i - 1}.node) GROUP BY 1)"""
            .stripMargin).mkString(",\n") +
        """
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |       node // 2 AS node_id, dist
        |FROM (SELECT DISTINCT src AS node FROM e) n
        |LEFT JOIN d6 USING (node)
        |ORDER BY 1, 2""".stripMargin),
    // q101: the nine Benford expectations are literals printed from the
    // SAME doubles the Spark plan embeds (Double.toString round-trips)
    "q101_benford" ->
      ("""WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c),
        |p AS (
        |""".stripMargin +
        // string-quoted so DuckDB parses straight to DOUBLE — a bare
        // literal goes through DECIMAL and can land one ulp off
        (1 to 9).map(i =>
          s"  SELECT $i AS digit, " +
            s"CAST('${math.log10(1.0 + 1.0 / i)}' AS DOUBLE) AS benford_p")
          .mkString("\n  UNION ALL\n") +
        """)
        |SELECT c.digit, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  benford_p,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - benford_p AS deviation
        |FROM c CROSS JOIN t JOIN p ON p.digit = c.digit
        |ORDER BY 1""".stripMargin),
    "q102_markov" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS from_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM s
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS row_n FROM c GROUP BY 1)
        |SELECT c.from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE) AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY 1, 2""".stripMargin,
    // q103: the 15 sign hashes are the identical md5-parity construction;
    // list_sort + [3] picks the exact 5-way median element
    "q103_ams" ->
      ("""WITH s AS (
        |  SELECT event_type,
        |""".stripMargin +
        (1 to 15).map(j =>
          s"    CASE WHEN CAST(concat('0x', substr(md5('ams$j:' || user_id)," +
            s" 1, 15)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS s$j")
          .mkString(",\n") +
        """
        |  FROM events),
        |c AS (SELECT event_type, count(*) AS n,
        |""".stripMargin +
        (1 to 15).map(j => s"    sum(s$j) AS c$j").mkString(",\n") +
        """
        |  FROM s GROUP BY 1),
        |g AS (SELECT event_type, n,
        |""".stripMargin +
        (0 until 5).map { g =>
          val t = (1 to 3).map(o => s"CAST(c${3 * g + o} AS DECIMAL(38,0))" +
            s" * c${3 * g + o}").mkString(" + ")
          s"    $t AS g$g"
        }.mkString(",\n") +
        """
        |  FROM c),
        |m AS (SELECT event_type, n,
        |        list_sort([g0, g1, g2, g3, g4])[3] AS est3 FROM g),
        |f AS (SELECT event_type, sum(CAST(f AS DECIMAL(38,0)) * f) AS f2
        |      FROM (SELECT event_type, user_id, count(*) AS f
        |            FROM events GROUP BY 1, 2) GROUP BY 1)
        |SELECT event_type, n, CAST(f2 AS DOUBLE) AS exact_f2,
        |  CAST(est3 AS DOUBLE) / 3.0 AS ams_est,
        |  CAST(est3 AS DOUBLE) / 3.0 / CAST(f2 AS DOUBLE) AS est_ratio
        |FROM m JOIN f USING (event_type)
        |ORDER BY 1""".stripMargin),
    "q104_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, x,
        |    row_number() OVER w AS i,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(x) OVER (PARTITION BY event_type) AS t
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |d AS (SELECT *, n * prefix - i * t AS dd FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(dd) DESC, day ASC) AS rk FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(t AS BIGINT) AS total, day AS change_day,
        |  CAST(abs(dd) AS DOUBLE) / CAST(n AS DOUBLE) AS max_cusum,
        |  CAST(prefix AS DOUBLE) / CAST(i AS DOUBLE) AS mean_before,
        |  CASE WHEN n > i THEN
        |    CAST(t - prefix AS DOUBLE) / CAST(n - i AS DOUBLE) END
        |    AS mean_after
        |FROM r WHERE rk = 1
        |ORDER BY 1""".stripMargin,
    // q110: the rewrite must be invisible to results — q85's oracle
    // verbatim (the window form IS the semantics being planned natively)
    "q110_topk_rewrite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q109: the clamp recurrence as a true RECURSIVE CTE — a different
    // execution strategy computing the identical integer sequence
    "q109_capped_cumsum" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS rn,
        |    CASE event_type
        |      WHEN 'purchase' THEN cents
        |      WHEN 'click' THEN -cents
        |      ELSE CAST(0 AS BIGINT) END AS delta
        |  FROM (SELECT *,
        |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |        FROM events)),
        |cnt AS (SELECT user_id, count(*) AS n FROM ev GROUP BY 1),
        |bal AS (
        |  SELECT user_id, rn,
        |    greatest(CAST(0 AS BIGINT), delta) AS b,
        |    greatest(CAST(0 AS BIGINT), delta) AS mx,
        |    CASE WHEN delta < 0 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS hits
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    greatest(CAST(0 AS BIGINT), bal.b + e.delta),
        |    greatest(bal.mx, greatest(CAST(0 AS BIGINT), bal.b + e.delta)),
        |    bal.hits + CASE WHEN bal.b + e.delta < 0 THEN 1 ELSE 0 END
        |  FROM bal JOIN ev e ON e.user_id = bal.user_id
        |    AND e.rn = bal.rn + 1)
        |SELECT bal.user_id, cnt.n AS n_events, b AS final_cents,
        |  mx AS max_cents, hits AS floor_hits
        |FROM bal JOIN cnt ON cnt.user_id = bal.user_id
        |WHERE bal.rn = cnt.n
        |ORDER BY 1""".stripMargin,
    // q107: six chained min-label relaxation CTEs — the q100 finite
    // semantics with min(label) in place of min(dist + w)
    "q107_concomp" ->
      ("""WITH pe AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pe
        |      UNION ALL SELECT s AS src, c AS dst FROM pe),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |""".stripMargin +
        (1 to 6).map(i =>
          s"""l$i AS (SELECT node, min(label) AS label FROM (
             |  SELECT node, label FROM l${i - 1}
             |  UNION ALL
             |  SELECT e.dst AS node, l${i - 1}.label AS label
             |  FROM l${i - 1} JOIN e ON e.src = l${i - 1}.node) GROUP BY 1)"""
            .stripMargin).mkString(",\n") +
        """,
        |sz AS (SELECT label, count(*) AS comp_size FROM l6 GROUP BY 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |       node // 2 AS node_id, label AS component, comp_size
        |FROM l6 JOIN sz USING (label)
        |ORDER BY 1, 2""".stripMargin),
    // q108: the q89 integer quantile rule per metric, the same CASE
    // order for scores and segments
    "q108_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', DATE '1970-01-01', max(o_orderdate))
        |      AS BIGINT) AS r,
        |    count(*) AS f,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS m
        |  FROM orders GROUP BY 1),
        |up AS (
        |  SELECT o_custkey, 'r' AS metric, r AS v FROM pc
        |  UNION ALL SELECT o_custkey, 'f', f FROM pc
        |  UNION ALL SELECT o_custkey, 'm', m FROM pc),
        |vc AS (SELECT metric, v, count(*) AS c FROM up GROUP BY 1, 2),
        |tot AS (SELECT metric, sum(c) AS n FROM vc GROUP BY 1),
        |cums AS (
        |  SELECT metric, v, sum(c) OVER (PARTITION BY metric ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc),
        |b AS (
        |  SELECT cums.metric,
        |    min(CASE WHEN cum * 5 >= n THEN v END) AS b1,
        |    min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS b2,
        |    min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS b3,
        |    min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS b4
        |  FROM cums JOIN tot ON tot.metric = cums.metric GROUP BY 1),
        |sc AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN up.metric = 'r' THEN s END) AS r_score,
        |    max(CASE WHEN up.metric = 'f' THEN s END) AS f_score,
        |    max(CASE WHEN up.metric = 'm' THEN s END) AS m_score,
        |    max(CASE WHEN up.metric = 'm' THEN v END) AS cents
        |  FROM (SELECT up.*, CASE WHEN v <= b1 THEN 1 WHEN v <= b2 THEN 2
        |          WHEN v <= b3 THEN 3 WHEN v <= b4 THEN 4 ELSE 5 END AS s
        |        FROM up JOIN b ON b.metric = up.metric) up
        |  GROUP BY 1),
        |seg AS (
        |  SELECT *, CASE
        |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |      THEN 'champion'
        |    WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
        |    WHEN r_score >= 4 THEN 'recent'
        |    WHEN f_score >= 4 THEN 'frequent_lapsed'
        |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |    ELSE 'regular' END AS segment
        |  FROM sc)
        |SELECT CAST(r_score AS INTEGER) AS r_score,
        |  CAST(f_score AS INTEGER) AS f_score,
        |  CAST(m_score AS INTEGER) AS m_score, segment,
        |  count(*) AS n_customers,
        |  CAST(sum(cents) AS DOUBLE) / 100.0 AS total_spend
        |FROM seg GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2, 3""".stripMargin,
    // q105: largest-remainder allocation + hash-order rank membership,
    // replayed step for step — sample-set equality, not just size
    "q105_stratified" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS strat, o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(concat('0x', substr(md5('strat:' || o_orderkey), 1, 15))
        |      AS BIGINT) AS h
        |  FROM orders),
        |c AS (SELECT strat, count(*) AS cnt FROM o GROUP BY 1),
        |t AS (SELECT sum(cnt) AS n_tot FROM c),
        |a AS (SELECT strat, cnt, (1000 * cnt) // n_tot AS base,
        |        (1000 * cnt) % n_tot AS frac
        |      FROM c CROSS JOIN t),
        |sb AS (SELECT sum(base) AS sum_base FROM a),
        |al AS (SELECT strat, cnt,
        |         base + CASE WHEN row_number() OVER
        |             (ORDER BY frac DESC, strat ASC) <= 1000 - sum_base
        |           THEN 1 ELSE 0 END AS alloc
        |       FROM a CROSS JOIN sb),
        |r AS (SELECT o.strat, o.h, o.price, al.cnt, al.alloc,
        |        row_number() OVER (PARTITION BY o.strat
        |          ORDER BY o.h, o.o_orderkey) AS rn
        |      FROM o JOIN al USING (strat))
        |SELECT strat, CAST(max(cnt) AS BIGINT) AS n_pop,
        |  CAST(max(alloc) AS BIGINT) AS alloc, count(*) AS n_sampled,
        |  CAST(sum(price) AS DOUBLE) AS sum_price, bit_xor(h) AS key_xor
        |FROM r WHERE rn <= alloc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q106_basket_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM b),
        |s AS (SELECT p_brand, count(*) AS supp FROM b GROUP BY 1),
        |p AS (
        |  SELECT a.p_brand AS brand_a, bb.p_brand AS brand_b,
        |         count(*) AS supp_ab
        |  FROM b a JOIN b bb ON a.ok = bb.ok AND a.p_brand < bb.p_brand
        |  GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT brand_a, brand_b, supp_ab, sa.supp AS supp_a,
        |  sb.supp AS supp_b,
        |  CAST(supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE) AS conf_a_to_b,
        |  CAST(supp_ab AS DOUBLE) / CAST(sb.supp AS DOUBLE) AS conf_b_to_a,
        |  CAST(n_orders * supp_ab AS DOUBLE)
        |    / CAST(sa.supp * sb.supp AS DOUBLE) AS lift
        |FROM p JOIN s sa ON sa.p_brand = brand_a
        |       JOIN s sb ON sb.p_brand = brand_b
        |       CROSS JOIN n
        |ORDER BY 1, 2""".stripMargin,
    // q94: q79's run construction restricted to activity events, PIT
    // condition from <= ts < to replayed with the same left join
    "q94_pit_join" -> oracle94,
    // q95: reference-half boundaries, both halves bucketed by them, TV
    // distance as exact cross-multiplied integers
    "q95_drift" ->
      """WITH t AS (SELECT l_returnflag AS flag,
        |             CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |             l_shipdate < '1996-01-01' AS is_ref
        |           FROM lineitem),
        |ref AS (SELECT * FROM t WHERE is_ref),
        |vc AS (SELECT flag, v, count(*) AS c FROM ref GROUP BY 1, 2),
        |tot AS (SELECT flag, sum(c) AS n FROM vc GROUP BY 1),
        |rc AS (SELECT vc.flag, v,
        |         sum(c) OVER (PARTITION BY vc.flag ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS cum, n
        |       FROM vc JOIN tot ON vc.flag = tot.flag),
        |q AS (SELECT flag,
        |        min(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |        min(CASE WHEN cum * 2 >= n THEN v END) AS q2,
        |        min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |      FROM rc GROUP BY 1),
        |b AS (SELECT t.flag,
        |        CASE WHEN v <= q1 THEN 0 WHEN v <= q2 THEN 1
        |             WHEN v <= q3 THEN 2 ELSE 3 END AS bucket, is_ref
        |      FROM t JOIN q ON t.flag = q.flag),
        |cr AS (SELECT flag, bucket, count(*) AS cr FROM b
        |       WHERE is_ref GROUP BY 1, 2),
        |cn AS (SELECT flag, bucket, count(*) AS cn FROM b
        |       WHERE NOT is_ref GROUP BY 1, 2),
        |grid AS (SELECT coalesce(cr.flag, cn.flag) AS flag,
        |           coalesce(cr.bucket, cn.bucket) AS bucket,
        |           coalesce(cr.cr, 0) AS cr, coalesce(cn.cn, 0) AS cn
        |         FROM cr FULL OUTER JOIN cn
        |           ON cr.flag = cn.flag AND cr.bucket = cn.bucket),
        |tt AS (SELECT flag, sum(cr) AS nr, sum(cn) AS nn
        |       FROM grid GROUP BY 1)
        |SELECT g.flag, CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nn) AS BIGINT) AS n_new,
        |  CASE WHEN max(nr) > 0 AND max(nn) > 0 THEN
        |    CAST(sum(abs(CAST(cr AS DECIMAL(38,0)) * CAST(nn AS BIGINT)
        |                 - CAST(cn AS DECIMAL(38,0)) * CAST(nr AS BIGINT)))
        |         AS DOUBLE)
        |      / (2.0 * max(nr) * max(nn)) END AS tv_distance
        |FROM grid g JOIN tt ON g.flag = tt.flag
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q93: same running-max window frame replayed; avg lag NULL on days
    // with no attributed purchase on BOTH engines
    "q93_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts, epoch_ns(ts) AS ts_ns, event_id,
        |         CAST(value AS DECIMAL(18,2)) AS value
        |  FROM events),
        |c AS (
        |  SELECT *, max(CASE WHEN event_type = 'click' THEN ts_ns END)
        |    OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lct
        |  FROM e),
        |p AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    CASE WHEN lct IS NOT NULL
        |          AND ts_ns - lct <= 604800000000000 THEN 1 ELSE 0 END AS attr,
        |    value, ts_ns - lct AS lag_ns
        |  FROM c WHERE event_type = 'purchase')
        |SELECT day, count(*) AS n_purchases,
        |  CAST(sum(attr) AS BIGINT) AS n_attributed,
        |  CAST(sum(CASE WHEN attr = 1 THEN value
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS attributed_value,
        |  CASE WHEN sum(attr) > 0 THEN
        |    CAST(sum(CASE WHEN attr = 1 THEN lag_ns END) AS DOUBLE)
        |      / sum(attr) END AS avg_lag_ns
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q91: key-histogram join replay; equality proves the cardinality
    // prediction exact without ever executing the predicted join
    "q91_join_fanout" -> q91Sql,
    // q92: q89's integer quantile rule at p05/p95 + decimal clipping
    "q92_winsorize" ->
      """WITH t AS (SELECT l_returnflag AS flag,
        |             CAST(l_extendedprice AS DECIMAL(18,2)) AS v
        |           FROM lineitem),
        |vc AS (SELECT flag, v, count(*) AS c FROM t GROUP BY 1, 2),
        |tot AS (SELECT flag, sum(c) AS n FROM vc GROUP BY 1),
        |rc AS (SELECT vc.flag, v,
        |         sum(c) OVER (PARTITION BY vc.flag ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS cum, n
        |       FROM vc JOIN tot ON vc.flag = tot.flag),
        |q AS (SELECT flag,
        |        min(CASE WHEN cum * 20 >= n THEN v END) AS p05,
        |        min(CASE WHEN cum * 20 >= n * 19 THEN v END) AS p95
        |      FROM rc GROUP BY 1)
        |SELECT t.flag, count(*) AS n,
        |  CAST(sum(CASE WHEN v < p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_lo,
        |  CAST(sum(CASE WHEN v > p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_hi,
        |  CAST(max(p05) AS DOUBLE) AS p05, CAST(max(p95) AS DOUBLE) AS p95,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS raw_mean,
        |  CAST(sum(CASE WHEN v < p05 THEN p05 WHEN v > p95 THEN p95
        |                ELSE v END) AS DOUBLE) / count(*) AS wins_mean
        |FROM t JOIN q ON t.flag = q.flag
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q89: same integer quantile definition spelled out — no engine
    // percentile function is trusted across engines
    "q89_equidepth_hist" ->
      """WITH t AS (SELECT l_returnflag AS flag,
        |             CAST(l_extendedprice AS DECIMAL(18,2)) AS v
        |           FROM lineitem),
        |vc AS (SELECT flag, v, count(*) AS c FROM t GROUP BY 1, 2),
        |tot AS (SELECT flag, count(*) AS n FROM t GROUP BY 1),
        |rc AS (SELECT vc.flag, v,
        |         sum(c) OVER (PARTITION BY vc.flag ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS cum, n
        |       FROM vc JOIN tot ON vc.flag = tot.flag),
        |q AS (SELECT flag,
        |        min(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |        min(CASE WHEN cum * 2 >= n THEN v END) AS q2,
        |        min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |      FROM rc GROUP BY 1)
        |SELECT t.flag, CASE WHEN v <= q1 THEN 0 WHEN v <= q2 THEN 1
        |                    WHEN v <= q3 THEN 2 ELSE 3 END AS bucket,
        |  count(*) AS n, CAST(min(v) AS DOUBLE) AS lo,
        |  CAST(max(v) AS DOUBLE) AS hi
        |FROM t JOIN q ON t.flag = q.flag
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q90: mode with the tie rule stated explicitly on both engines
    "q90_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS status,
        |         CAST(l_quantity AS INTEGER) AS qty, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |m AS (SELECT flag, status, max(c) AS mc FROM c GROUP BY 1, 2)
        |SELECT c.flag, c.status, min(qty) AS mode_qty,
        |  CAST(max(m.mc) AS BIGINT) AS mode_count
        |FROM c JOIN m ON c.flag = m.flag AND c.status = m.status
        |WHERE c.c = m.mc
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q88: the oracle is the NAIVE θ-join per supplier — equality proves
    // the canonical-bucket decomposition counts every overlapping pair
    // exactly once
    "q88_interval_join" ->
      """WITH iv AS (
        |  SELECT l_suppkey AS sk, l_orderkey AS ok, l_linenumber AS ln,
        |         CAST(l_shipdate AS DATE) AS s,
        |         CAST(l_shipdate AS DATE) + CAST(l_quantity AS INTEGER) AS e
        |  FROM lineitem WHERE l_quantity >= 48),
        |p AS (
        |  SELECT a.sk,
        |    CAST(least(a.e, b.e) - greatest(a.s, b.s) + 1 AS INTEGER) AS ov
        |  FROM iv a JOIN iv b
        |    ON a.sk = b.sk AND (a.ok, a.ln) < (b.ok, b.ln)
        |   AND a.s <= b.e AND b.s <= a.e)
        |SELECT sk AS l_suppkey, count(*) AS n_pairs,
        |  CAST(sum(ov) AS BIGINT) AS total_overlap_days,
        |  CAST(max(ov) AS INTEGER) AS max_overlap_days
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q84: the oracle RECOMPUTES the view from scratch; the Spark side
    // maintains it incrementally (base + fact-side delta, merged) —
    // equality proves the IVM algebra
    "q84_ivm_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q111: every moment exact in HUGEINT (Spark: DECIMAL(38,0)),
    // published coefficients the SAME fixed IEEE expression trees —
    // num/den, (sy·sxx − sx·sxy)/den, (num/den)·(num/deny)
    "q111_regression" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(day AS DATE)) AS HUGEINT)) AS sx,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(day AS DATE)) AS HUGEINT) * y) AS sxy,
        |    sum(CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(day AS DATE)) AS HUGEINT)
        |        * date_diff('day', DATE '1970-01-01', CAST(day AS DATE)))
        |      AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM daily GROUP BY 1),
        |c AS (
        |  SELECT *, CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS den,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS deny
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN den > 0 THEN
        |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
        |  CASE WHEN den > 0 THEN
        |    CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(den AS DOUBLE) END
        |    AS intercept,
        |  CASE WHEN den > 0 AND deny > 0 THEN
        |    (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |      * (CAST(num AS DOUBLE) / CAST(deny AS DOUBLE)) END AS r2
        |FROM c ORDER BY 1""".stripMargin,
    // q112: six chained peel CTEs per k — the q107 finite semantics
    // with a HAVING degree >= k in place of min-label propagation
    "q112_kcore" ->
      ("""WITH pe AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pe
        |      UNION ALL SELECT s AS src, c AS dst FROM pe),
        |d0 AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY 1),
        |a20 AS (SELECT node FROM d0),
        |a30 AS (SELECT node FROM d0),
        |""".stripMargin +
        (1 to 6).flatMap(i => Seq(
          s"""a2$i AS (SELECT e.src AS node FROM e
             |  JOIN a2${i - 1} s ON e.src = s.node
             |  JOIN a2${i - 1} d ON e.dst = d.node
             |  GROUP BY 1 HAVING count(*) >= 2)""".stripMargin,
          s"""a3$i AS (SELECT e.src AS node FROM e
             |  JOIN a3${i - 1} s ON e.src = s.node
             |  JOIN a3${i - 1} d ON e.dst = d.node
             |  GROUP BY 1 HAVING count(*) >= 3)""".stripMargin))
          .mkString(",\n") +
        """
        |SELECT CASE WHEN d0.node % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |  d0.node // 2 AS node_id, CAST(degree AS BIGINT) AS degree,
        |  a26.node IS NOT NULL AS in_2core,
        |  a36.node IS NOT NULL AS in_3core
        |FROM d0 LEFT JOIN a26 ON d0.node = a26.node
        |        LEFT JOIN a36 ON d0.node = a36.node
        |ORDER BY 1, 2""".stripMargin),
    // q113: per candidate, one distinct-rhs-per-lhs aggregate; the
    // verdict is max(k) = 1 on both engines
    "q113_fd_audit" -> ("SELECT * FROM (\n" + Seq(
      ("nation:n_nationkey->n_regionkey", "nation", "n_nationkey",
        "n_regionkey"),
      ("customer:c_nationkey->c_mktsegment", "customer", "c_nationkey",
        "c_mktsegment"),
      ("part:p_brand->p_type", "part", "p_brand", "p_type"),
      ("orders:o_custkey->o_orderpriority", "orders", "o_custkey",
        "o_orderpriority"),
      ("lineitem:l_partkey->l_suppkey", "lineitem", "l_partkey",
        "l_suppkey"),
      ("documents:source->lang", "documents", "source", "lang"),
    ).map { case (label, t, lhs, rhs) =>
      s"""SELECT '$label' AS fd, count(*) AS n_lhs,
         |  CAST(sum(k) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  max(k) = 1 AS holds
         |FROM (SELECT $lhs, count(DISTINCT $rhs) AS k FROM $t GROUP BY 1)"""
        .stripMargin
    }.mkString("\nUNION ALL\n") + "\n) ORDER BY fd"),
    // q114: the same OR-fold and the same membership test on both
    // engines; fp_share one division of exact counts
    "q114_bitmap_index" ->
      """WITH m AS (
        |  SELECT event_type,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 60 AS INTEGER))
        |      AS mask,
        |    count(DISTINCT user_id) AS n_members
        |  FROM events GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events),
        |t AS (
        |  SELECT event_type, count(*) AS n_pass
        |  FROM u, m
        |  WHERE (mask & (CAST(1 AS BIGINT)
        |          << CAST(user_id % 60 AS INTEGER))) <> 0
        |  GROUP BY 1)
        |SELECT m.event_type, mask,
        |  CAST(bit_count(mask) AS INTEGER) AS n_bits, n_members, n_pass,
        |  CAST(n_pass - n_members AS DOUBLE) / CAST(n_pass AS DOUBLE)
        |    AS fp_share
        |FROM m JOIN t USING (event_type) ORDER BY 1""".stripMargin,
    // q115: the same capped shared-customer kernel and the same two
    // one-division similarities
    "q115_item_similarity" ->
      """WITH pw AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |deg AS (SELECT supp, count(*) AS n FROM pw GROUP BY 1),
        |keep AS (SELECT cust FROM pw GROUP BY cust HAVING count(*) <= 50),
        |cp AS (SELECT pw.cust, pw.supp FROM pw JOIN keep USING (cust)),
        |p AS (
        |  SELECT a.supp AS s1, b.supp AS s2, count(*) AS common
        |  FROM cp a JOIN cp b ON a.cust = b.cust AND a.supp < b.supp
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT s1, s2, common, d1.n AS n1, d2.n AS n2,
        |  CAST(common AS DOUBLE) / CAST(d1.n + d2.n - common AS DOUBLE)
        |    AS jaccard,
        |  CAST(common AS DOUBLE) / CAST(least(d1.n, d2.n) AS DOUBLE)
        |    AS containment
        |FROM p JOIN deg d1 ON d1.supp = s1 JOIN deg d2 ON d2.supp = s2
        |ORDER BY 1, 2""".stripMargin,
    // q116: leads over the q79 per-user total order; support counts
    // DISTINCT users, the sequence-mining definition
    "q116_seq_mining" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        |p AS (
        |  SELECT user_id, event_type || '>' || e2 || '>' || e3 AS pattern
        |  FROM e WHERE e3 IS NOT NULL)
        |SELECT pattern, count(*) AS n_occur,
        |  count(DISTINCT user_id) AS n_users
        |FROM p GROUP BY 1 HAVING count(DISTINCT user_id) >= 5
        |ORDER BY n_users DESC, n_occur DESC, pattern LIMIT 25""".stripMargin,
    // q118: q104's CTE chain, root pick, then the SAME windows
    // partitioned by (event_type, segment) for the second level
    "q118_binary_seg" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, x, row_number() OVER w AS i,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(x) OVER (PARTITION BY event_type) AS t
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |d AS (SELECT *, n * prefix - i * t AS dd FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(dd) DESC, day ASC) AS rk FROM d),
        |root AS (SELECT * FROM r WHERE rk = 1),
        |seg AS (
        |  SELECT daily.event_type,
        |    CASE WHEN daily.day <= root.day THEN 'left' ELSE 'right' END
        |      AS segment,
        |    daily.day, daily.x
        |  FROM daily JOIN root ON daily.event_type = root.event_type),
        |s2 AS (
        |  SELECT event_type, segment, day, x, row_number() OVER w2 AS i,
        |    sum(x) OVER (PARTITION BY event_type, segment ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    count(*) OVER (PARTITION BY event_type, segment) AS n,
        |    sum(x) OVER (PARTITION BY event_type, segment) AS t
        |  FROM seg
        |  WINDOW w2 AS (PARTITION BY event_type, segment ORDER BY day)),
        |d2 AS (SELECT *, n * prefix - i * t AS dd FROM s2),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type,
        |        segment ORDER BY abs(dd) DESC, day ASC) AS rk FROM d2),
        |halves AS (SELECT * FROM r2 WHERE rk = 1 AND n >= 2)
        |SELECT * FROM (
        |  SELECT event_type, 'root' AS segment, CAST(n AS BIGINT)
        |      AS seg_days, day AS change_day,
        |    CAST(abs(dd) AS DOUBLE) / CAST(n AS DOUBLE) AS max_cusum
        |  FROM root
        |  UNION ALL
        |  SELECT event_type, segment, CAST(n AS BIGINT), day,
        |    CAST(abs(dd) AS DOUBLE) / CAST(n AS DOUBLE)
        |  FROM halves)
        |ORDER BY 1, 2""".stripMargin,
    // q119: the same grid explode, mod-3 decimation, ignore-nulls
    // neighbor windows; the blend is an exact integer numerator over
    // one division and NULL propagates identically at masked edges
    "q119_interpolate" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
        |         count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, unnest(range(d0, d1 + 1)) AS d
        |  FROM (SELECT event_type, min(d) AS d0, max(d) AS d1
        |        FROM daily GROUP BY 1)),
        |j AS (
        |  SELECT g.event_type, g.d, daily.y,
        |    daily.y IS NOT NULL AND g.d % 3 <> 0 AS kept,
        |    CASE WHEN daily.y IS NOT NULL AND g.d % 3 <> 0
        |      THEN daily.y END AS yk
        |  FROM g LEFT JOIN daily
        |    ON daily.event_type = g.event_type AND daily.d = g.d),
        |w AS (
        |  SELECT event_type, d, y, kept, yk,
        |    last_value(yk IGNORE NULLS) OVER wb AS py,
        |    last_value(CASE WHEN yk IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER wb AS pd,
        |    first_value(yk IGNORE NULLS) OVER wf AS ny,
        |    first_value(CASE WHEN yk IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER wf AS nd
        |  FROM j WINDOW
        |    wb AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |f AS (
        |  SELECT event_type, d, y, kept,
        |    CASE WHEN kept THEN CAST(y AS DOUBLE)
        |         ELSE CAST(py * (nd - d) + ny * (d - pd) AS DOUBLE)
        |              / CAST(nd - pd AS DOUBLE) END AS filled
        |  FROM w)
        |SELECT event_type, d AS day_idx,
        |  CASE WHEN kept THEN 1 ELSE 0 END AS is_kept,
        |  y AS y_raw, filled AS y_filled,
        |  CASE WHEN NOT kept AND y IS NOT NULL
        |    THEN abs(filled - CAST(y AS DOUBLE)) END AS recon_err
        |FROM f ORDER BY 1, 2""".stripMargin,
    // q120: the q89 integer rule on cumulative WEIGHT next to
    // cumulative count — both medians exact BIGINT cents
    "q120_weighted_median" ->
      """WITH pc AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    count(*) AS w
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3),
        |vc AS (SELECT c_nationkey, cents, sum(w) AS wsum, count(*) AS c
        |       FROM pc GROUP BY 1, 2),
        |r AS (
        |  SELECT c_nationkey, cents,
        |    sum(wsum) OVER wv AS cumw, sum(c) OVER wv AS cumc,
        |    sum(wsum) OVER (PARTITION BY c_nationkey) AS totw,
        |    sum(c) OVER (PARTITION BY c_nationkey) AS totc
        |  FROM vc WINDOW wv AS (PARTITION BY c_nationkey ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT c_nationkey, CAST(max(totc) AS BIGINT) AS n_customers,
        |  CAST(max(totw) AS BIGINT) AS total_orders,
        |  min(CASE WHEN cumw * 2 >= totw THEN cents END)
        |    AS weighted_median_cents,
        |  min(CASE WHEN cumc * 2 >= totc THEN cents END) AS median_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // q123: rank-moment Gini in HUGEINT, one division; tie-invariance
    // of Σ i·x makes the rank window deterministic without a tie-break
    "q123_gini" ->
      """WITH sp AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_nationkey, cents,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents, c_custkey) AS i
        |  FROM sp),
        |m AS (
        |  SELECT c_nationkey, count(*) AS n,
        |    sum(CAST(cents AS HUGEINT)) AS sx,
        |    sum(CAST(i AS HUGEINT) * cents) AS six
        |  FROM r GROUP BY 1)
        |SELECT c_nationkey, n AS n_customers, CAST(sx AS BIGINT)
        |    AS total_cents,
        |  CASE WHEN sx > 0 THEN
        |    CAST(CAST(2 * six - (n + 1) * sx AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(n AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
        |    END AS gini
        |FROM m ORDER BY 1""".stripMargin,
    // q124: exact HUGEINT squares, two single divisions
    "q124_hhi" ->
      """WITH v AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT s_nationkey, count(*) AS n,
        |    sum(CAST(cents AS HUGEINT)) AS sx,
        |    sum(CAST(cents AS HUGEINT) * cents) AS sxx,
        |    max(cents) AS mx
        |  FROM v GROUP BY 1)
        |SELECT s_nationkey, n AS n_suppliers, CAST(sx AS BIGINT)
        |    AS total_cents,
        |  -- VARCHAR-mediated conversion: DuckDB's direct HUGEINT->DOUBLE
        |  -- double-rounds past 2^53 (reproduced: ...649801 lands one ulp
        |  -- high); the string path is correctly rounded, matching Spark's
        |  -- BigDecimal.doubleValue
        |  CASE WHEN sx > 0 THEN
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(sx * sx AS VARCHAR) AS DOUBLE) END AS hhi,
        |  CASE WHEN sx > 0 THEN
        |    CAST(mx AS DOUBLE) / CAST(sx AS DOUBLE) END AS top_share
        |FROM m ORDER BY 1""".stripMargin,
    // q125: the audio-autocorr LEAD replay on the day grain; ratios to
    // lag-0 energy, each one division
    "q125_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, x,
        |    lead(x, 1) OVER w AS x1, lead(x, 2) OVER w AS x2,
        |    lead(x, 3) OVER w AS x3, lead(x, 7) OVER w AS x7
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS HUGEINT) * x) AS r0,
        |    sum(CAST(x AS HUGEINT) * x1) AS r1,
        |    sum(CAST(x AS HUGEINT) * x2) AS r2,
        |    sum(CAST(x AS HUGEINT) * x3) AS r3,
        |    sum(CAST(x AS HUGEINT) * x7) AS r7
        |  FROM l GROUP BY 1)
        |SELECT event_type, n AS n_days, CAST(r0 AS DOUBLE) AS energy,
        |  CASE WHEN r0 > 0 THEN CAST(r1 AS DOUBLE) / CAST(r0 AS DOUBLE)
        |    END AS rho1,
        |  CASE WHEN r0 > 0 THEN CAST(r2 AS DOUBLE) / CAST(r0 AS DOUBLE)
        |    END AS rho2,
        |  CASE WHEN r0 > 0 THEN CAST(r3 AS DOUBLE) / CAST(r0 AS DOUBLE)
        |    END AS rho3,
        |  CASE WHEN r0 > 0 THEN CAST(r7 AS DOUBLE) / CAST(r0 AS DOUBLE)
        |    END AS rho7
        |FROM m ORDER BY 1""".stripMargin,
    // q127: identical hash-derived coordinates; the oracle is the
    // NAIVE all-pairs θ-join — equality proves the 3×3 cell join finds
    // every qualifying pair exactly once
    "q127_spatial_join" ->
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST(concat('0x', substr(md5('gx:' || c_custkey), 1, 15))
        |      AS BIGINT) % 10000 AS x,
        |    CAST(concat('0x', substr(md5('gy:' || c_custkey), 1, 15))
        |      AS BIGINT) % 10000 AS y
        |  FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS dist_sq
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 22500
        |ORDER BY 1, 2""".stripMargin,
    // q128: the same user-day dedup, ×7 visibility explode, and
    // first-seen construction
    "q128_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
        |  FROM events),
        |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
        |grid AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM span),
        |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
        |wau AS (
        |  SELECT d, count(*) AS wau FROM (
        |    SELECT DISTINCT user_id, d + k AS d
        |    FROM ud, range(0, 7) t(k)), span
        |  WHERE d <= d1 GROUP BY 1),
        |fs AS (
        |  SELECT d, count(*) AS new_users
        |  FROM (SELECT user_id, min(d) AS d FROM ud GROUP BY 1)
        |  GROUP BY 1)
        |SELECT grid.d AS day_idx, coalesce(dau.dau, 0) AS dau,
        |  coalesce(wau.wau, 0) AS wau,
        |  coalesce(fs.new_users, 0) AS new_users,
        |  CAST(sum(coalesce(fs.new_users, 0)) OVER (ORDER BY grid.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM grid LEFT JOIN dau ON dau.d = grid.d
        |          LEFT JOIN wau ON wau.d = grid.d
        |          LEFT JOIN fs ON fs.d = grid.d
        |ORDER BY 1""".stripMargin,
    // q132: the rewrite must be invisible to results — q18's oracle
    // verbatim (the window form IS the as-of semantics planned natively)
    "q132_native_asof" -> oracleQ18,
    // q133: the native as-of read must be invisible — q94's oracle
    "q133_native_pit" -> oracle94,
    // q131: the same per-customer self-join, exact cross-multiplied
    // 5% tolerance, 3-day calendar gap
    "q131_dup_payments" ->
      """WITH o AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(o_orderdate AS DATE) AS dt
        |  FROM orders)
        |SELECT a.cust AS c_custkey, a.ok AS a_orderkey,
        |  b.ok AS b_orderkey, a.cents AS a_cents, b.cents AS b_cents,
        |  CAST(abs(date_diff('day', a.dt, b.dt)) AS INTEGER) AS day_gap
        |FROM o a JOIN o b ON a.cust = b.cust AND a.ok < b.ok
        |WHERE abs(date_diff('day', a.dt, b.dt)) <= 3
        |  AND abs(a.cents - b.cents) * 20 <= greatest(a.cents, b.cents)
        |ORDER BY 1, 2, 3""".stripMargin,
    // q130: rank-desc cumulative mass, the integer 80% rule, two
    // single divisions
    "q130_pareto" ->
      """WITH sp AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_nationkey, cents,
        |    row_number() OVER w AS i,
        |    sum(cents) OVER (PARTITION BY c_nationkey
        |      ORDER BY cents DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cents) OVER (PARTITION BY c_nationkey) AS tot,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM sp
        |  WINDOW w AS (PARTITION BY c_nationkey
        |    ORDER BY cents DESC, c_custkey)),
        |m AS (
        |  SELECT c_nationkey, max(n) AS n_customers,
        |    CAST(max(tot) AS BIGINT) AS total_cents,
        |    min(CASE WHEN CAST(cum AS HUGEINT) * 5
        |          >= CAST(tot AS HUGEINT) * 4 THEN i END) AS top_k,
        |    CAST(min(CASE WHEN CAST(cum AS HUGEINT) * 5
        |          >= CAST(tot AS HUGEINT) * 4 THEN cum END) AS BIGINT)
        |      AS cum_at_k
        |  FROM r GROUP BY 1)
        |SELECT c_nationkey, CAST(n_customers AS BIGINT) AS n_customers,
        |  total_cents, CAST(top_k AS BIGINT) AS top_k,
        |  CAST(top_k AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    AS head_share,
        |  CAST(cum_at_k AS DOUBLE) / CAST(total_cents AS DOUBLE)
        |    AS revenue_share
        |FROM m ORDER BY 1""".stripMargin,
    // q129: the q16 gap rule on the (ts_ns, event_id) total order, then
    // the q88 hour decomposition; aggregates on the hour grain
    "q129_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ns(ts) AS ns, event_id,
        |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
        |           > 1800000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts),
        |    event_id)),
        |s AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |b AS (SELECT user_id, sid, min(ns) AS st, max(ns) AS en
        |      FROM s GROUP BY 1, 2),
        |sp AS (SELECT user_id, st // 3600000000000 AS h0,
        |         en // 3600000000000 AS h1 FROM b),
        |x AS (SELECT user_id, h0, h1, unnest(range(h0, h1 + 1)) AS h
        |      FROM sp)
        |SELECT h AS hour_idx, count(*) AS active_sessions,
        |  CAST(sum(CASE WHEN h0 = h THEN 1 ELSE 0 END) AS BIGINT)
        |    AS starting,
        |  CAST(sum(CASE WHEN h1 = h THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ending,
        |  count(DISTINCT user_id) AS active_users
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // q126: the same lag windows and trailing frame; both ratios one
    // division, NULL where the lag is absent
    "q126_lag_features" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, x,
        |    lag(x, 1) OVER w AS lag1, lag(x, 7) OVER w AS lag7,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
        |    count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, x, lag1, lag7,
        |  x - lag1 AS delta1,
        |  CASE WHEN lag7 > 0 THEN
        |    CAST(x - lag7 AS DOUBLE) / CAST(lag7 AS DOUBLE) END
        |    AS wow_change,
        |  CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS mean7
        |FROM l ORDER BY 1, 2""".stripMargin,
    // q121: q117's frame with the second sorted-element pass for MAD;
    // the outlier flag is an exact integer comparison on both engines
    "q121_moving_mad" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, x,
        |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        |  FROM daily),
        |m AS (SELECT *, win[CAST((len(win) + 1) // 2 AS INTEGER)] AS med
        |      FROM w),
        |d AS (SELECT *,
        |        list_sort(list_transform(win, v -> abs(v - med))) AS devs
        |      FROM m),
        |f AS (SELECT *, devs[CAST((len(devs) + 1) // 2 AS INTEGER)] AS mad
        |      FROM d)
        |SELECT event_type, day, x, CAST(med AS BIGINT) AS moving_median,
        |  CAST(mad AS BIGINT) AS moving_mad,
        |  abs(x - med) > 3 * mad AS is_outlier
        |FROM f ORDER BY 1, 2""".stripMargin,
    // q122: cummax of a cumsum in two CTE levels; deepest drawdown,
    // earliest trough day on ties
    "q122_drawdown" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |s AS (
        |  SELECT day, sum(cents) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
        |  FROM daily),
        |s2 AS (
        |  SELECT *, max(equity) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mark,
        |    count(*) OVER () AS n
        |  FROM s),
        |s3 AS (
        |  SELECT *, mark - equity AS dd,
        |    row_number() OVER (ORDER BY mark - equity DESC, day) AS rk
        |  FROM s2)
        |SELECT CAST(n AS BIGINT) AS n_days, day AS trough_day,
        |  CAST(dd AS BIGINT) AS max_drawdown_cents,
        |  CAST(mark AS BIGINT) AS high_water_cents,
        |  CAST(equity AS BIGINT) AS trough_equity_cents
        |FROM s3 WHERE rk = 1""".stripMargin,
    // q117: the same trailing frame, the same sorted-list lower-median
    // element rule — exact integers, no interpolation anywhere
    "q117_moving_median" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, x,
        |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        |  FROM daily)
        |SELECT event_type, day, x, CAST(len(win) AS INTEGER) AS w_n,
        |  CAST(win[CAST((len(win) + 1) // 2 AS INTEGER)] AS BIGINT)
        |    AS moving_median
        |FROM w ORDER BY 1, 2""".stripMargin,
    // q134: identical md5 arm split; the z statistic is the same fixed
    // IEEE expression tree over exact counts on both engines
    "q134_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted,
        |    CAST(concat('0x', substr(md5('ab:' || user_id),
        |      1, 15)) AS BIGINT) % 2 AS arm
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_control,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_treat,
        |    sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
        |      AS conv_control,
        |    sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
        |      AS conv_treat
        |  FROM u)
        |SELECT CAST(n_control AS BIGINT) AS n_control,
        |  CAST(n_treat AS BIGINT) AS n_treat,
        |  CAST(conv_control AS BIGINT) AS conv_control,
        |  CAST(conv_treat AS BIGINT) AS conv_treat,
        |  CASE WHEN n_control > 0 THEN
        |    CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE) END
        |    AS p_control,
        |  CASE WHEN n_treat > 0 THEN
        |    CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) END
        |    AS p_treat,
        |  CASE WHEN n_control > 0 AND n_treat > 0 THEN
        |    CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
        |    - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE)
        |    END AS lift,
        |  CASE WHEN n_control > 0 AND n_treat > 0 AND
        |    sqrt(CAST(conv_control + conv_treat AS DOUBLE)
        |        / CAST(n_control + n_treat AS DOUBLE)
        |      * (1.0 - CAST(conv_control + conv_treat AS DOUBLE)
        |          / CAST(n_control + n_treat AS DOUBLE))
        |      * (1.0 / CAST(n_control AS DOUBLE)
        |          + 1.0 / CAST(n_treat AS DOUBLE))) > 0
        |  THEN (CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
        |    - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))
        |    / sqrt(CAST(conv_control + conv_treat AS DOUBLE)
        |        / CAST(n_control + n_treat AS DOUBLE)
        |      * (1.0 - CAST(conv_control + conv_treat AS DOUBLE)
        |          / CAST(n_control + n_treat AS DOUBLE))
        |      * (1.0 / CAST(n_control AS DOUBLE)
        |          + 1.0 / CAST(n_treat AS DOUBLE))) END AS z_score
        |FROM m""".stripMargin,
    // q135: the same lifetime histogram + reverse cumulative at-risk;
    // hazard and survival each one division of exact counts
    "q135_survival" ->
      """WITH lt AS (
        |  SELECT user_id,
        |    (max(epoch_ns(ts) // 86400000000000)
        |     - min(epoch_ns(ts) // 86400000000000)) // 7 AS life_w
        |  FROM events GROUP BY user_id),
        |hist AS (SELECT life_w, count(*) AS churned FROM lt GROUP BY 1),
        |span AS (SELECT max(life_w) AS w1, count(*) AS n_users FROM lt),
        |grid AS (SELECT n_users, unnest(range(0, w1 + 1)) AS k FROM span),
        |r AS (
        |  SELECT grid.k, grid.n_users,
        |    coalesce(hist.churned, 0) AS churned
        |  FROM grid LEFT JOIN hist ON hist.life_w = grid.k),
        |c AS (
        |  SELECT *, sum(churned) OVER (ORDER BY k DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
        |  FROM r)
        |SELECT k AS week, CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(churned AS BIGINT) AS churned,
        |  CAST(churned AS DOUBLE) / CAST(at_risk AS DOUBLE) AS hazard,
        |  CAST(at_risk - churned AS DOUBLE) / CAST(n_users AS DOUBLE)
        |    AS survival
        |FROM c ORDER BY 1""".stripMargin,
    // q136: the identical Holt recurrence stepped rn -> rn+1 by a
    // RECURSIVE CTE — every float op correctly rounded, same tree,
    // same order, so the whole double trajectory hash-matches
    "q136_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) AS rn
        |  FROM daily),
        |rec AS (
        |  SELECT event_type, day, x, rn, CAST(x AS DOUBLE) AS l,
        |    CAST(0 AS DOUBLE) AS b, CAST(NULL AS DOUBLE) AS f
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.day, i.x, i.rn,
        |    0.5 * CAST(i.x AS DOUBLE) + 0.5 * (r.l + r.b),
        |    0.5 * ((0.5 * CAST(i.x AS DOUBLE) + 0.5 * (r.l + r.b)) - r.l)
        |      + 0.5 * r.b,
        |    r.l + r.b
        |  FROM rec r JOIN idx i
        |    ON i.event_type = r.event_type AND i.rn = r.rn + 1)
        |SELECT event_type, day, x, l AS level, b AS trend,
        |  f AS forecast,
        |  abs(CAST(x AS DOUBLE) - f) AS abs_err
        |FROM rec ORDER BY 1, 2""".stripMargin,
    // q137: the native operator must be invisible to results — q16's
    // window-formulation oracle verbatim
    "q137_native_sessionize" -> oracleQ16,
    // q138: the oracle is the NAIVE EXISTS triple join; equality proves
    // the greedy two-as-of reduction finds a chain iff one exists
    "q138_window_funnel" ->
      """WITH v AS (SELECT user_id, epoch_ns(ts) AS ts FROM events
        |           WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_ns(ts) AS ts FROM events
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_ns(ts) AS ts FROM events
        |      WHERE event_type = 'purchase'),
        |u AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
        |uv AS (SELECT count(DISTINCT user_id) AS n_view FROM v),
        |u2 AS (SELECT count(*) AS n_vc FROM (
        |  SELECT DISTINCT c.user_id FROM c JOIN v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |   AND c.ts - v.ts <= 86400000000000)),
        |u3 AS (SELECT count(*) AS n_vcp FROM (
        |  SELECT DISTINCT p.user_id FROM p
        |  JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        |  JOIN v ON v.user_id = p.user_id AND v.ts <= c.ts
        |   AND p.ts - v.ts <= 86400000000000))
        |SELECT n_users, n_view, n_vc, n_vcp,
        |  CASE WHEN n_users > 0 THEN
        |    CAST(n_view AS DOUBLE) / CAST(n_users AS DOUBLE) END
        |    AS reach_view,
        |  CASE WHEN n_view > 0 THEN
        |    CAST(n_vc AS DOUBLE) / CAST(n_view AS DOUBLE) END
        |    AS conv_click,
        |  CASE WHEN n_vc > 0 THEN
        |    CAST(n_vcp AS DOUBLE) / CAST(n_vc AS DOUBLE) END
        |    AS conv_purchase
        |FROM u, uv, u2, u3""".stripMargin,
    // q139: the same collapsed PAA-z algebra — exact integer numerator
    // and radicand, one sqrt, one multiply, one division; identical
    // breakpoint literals
    "q139_sax" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx,
        |         sum(x * x) AS sxx
        |  FROM daily GROUP BY 1),
        |i AS (
        |  SELECT event_type, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |s AS (
        |  SELECT event_type, (rn - 1) // 7 AS seg, count(*) AS n_days,
        |         sum(x) AS segx
        |  FROM i GROUP BY 1, 2),
        |j AS (
        |  SELECT s.event_type, s.seg, s.n_days,
        |    m.n * s.segx - s.n_days * m.sx AS num,
        |    m.n * m.sxx - m.sx * m.sx AS rad
        |  FROM s JOIN m ON m.event_type = s.event_type),
        |f AS (
        |  SELECT event_type, seg, n_days, num,
        |    CASE WHEN rad > 0 THEN CAST(num AS DOUBLE)
        |      / (CAST(n_days AS DOUBLE) * sqrt(CAST(rad AS DOUBLE)))
        |      END AS paa,
        |    rad
        |  FROM j)
        |SELECT event_type, CAST(seg AS BIGINT) AS seg,
        |  CAST(n_days AS BIGINT) AS n_days, CAST(num AS BIGINT) AS z_num,
        |  paa,
        |  CASE WHEN rad > 0 THEN
        |    CASE WHEN paa < -0.6744897501960817 THEN 'a'
        |         WHEN paa < 0.0 THEN 'b'
        |         WHEN paa < 0.6744897501960817 THEN 'c'
        |         ELSE 'd' END END AS symbol
        |FROM f ORDER BY 1, 2""".stripMargin,
    // q140: the row_number formulation of the native heap top-k —
    // equality on the real skewed prefix distribution
    "q140_prefix_topk" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^\p{L}]+'),
        |    x -> x <> '')) AS word
        |  FROM documents),
        |f AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
        |p AS (
        |  SELECT substr(word, 1, CAST(k AS INTEGER)) AS prefix, word, freq
        |  FROM f, range(1, 5) t(k) WHERE k <= length(word)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY prefix
        |    ORDER BY freq DESC, word) AS rn
        |  FROM p)
        |SELECT prefix, word, freq FROM r WHERE rn <= 3
        |ORDER BY prefix, freq DESC, word""".stripMargin,
    // q141: identical frame moments, cleared-fraction slope, one
    // division, NULL for degenerate frames
    "q141_rolling_ols" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |i AS (
        |  SELECT event_type, day, y, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS BIGINT) AS t
        |  FROM daily),
        |m AS (
        |  SELECT event_type, day, y,
        |    count(*) OVER f AS n, sum(t) OVER f AS st,
        |    sum(y) OVER f AS sy, sum(t * y) OVER f AS sty,
        |    sum(t * t) OVER f AS stt
        |  FROM i WINDOW f AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, y, CAST(n AS BIGINT) AS n_win,
        |  CAST(n * sty - st * sy AS BIGINT) AS slope_num,
        |  CAST(n * stt - st * st AS BIGINT) AS slope_den,
        |  CASE WHEN n * stt - st * st > 0 THEN
        |    CAST(n * sty - st * sy AS DOUBLE)
        |      / CAST(n * stt - st * st AS DOUBLE) END AS slope
        |FROM m ORDER BY 1, 2""".stripMargin,
    // q142: same first-view/first-purchase spans, the q89 integer
    // quantile rule on the value-count exchange
    "q142_time_to_convert" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
        |      AS v0,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
        |      AS p0
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY user_id),
        |s AS (SELECT p0 - v0 AS t2c FROM f
        |      WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 >= v0),
        |vc AS (SELECT t2c, count(*) AS c FROM s GROUP BY 1),
        |r AS (
        |  SELECT t2c, sum(c) OVER (ORDER BY t2c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS tot
        |  FROM vc),
        |q AS (
        |  SELECT CAST(max(tot) AS BIGINT) AS n_converters,
        |    min(CASE WHEN cum * 4 >= tot THEN t2c END) AS p25_ns,
        |    min(CASE WHEN cum * 2 >= tot THEN t2c END) AS median_ns,
        |    min(CASE WHEN cum * 4 >= tot * 3 THEN t2c END) AS p75_ns,
        |    min(t2c) AS min_ns, max(t2c) AS max_ns
        |  FROM r),
        |u AS (SELECT count(*) AS n_users FROM f)
        |SELECT n_users, n_converters,
        |  CAST(n_converters AS DOUBLE) / CAST(n_users AS DOUBLE)
        |    AS conversion_share,
        |  min_ns, p25_ns, median_ns, p75_ns, max_ns
        |FROM u, q""".stripMargin,
    // q143: the row_number-over-candidates formulation of the forward
    // as-of; an unmatched purchase keeps one null row (LEFT JOIN rn=1)
    "q143_native_asof_fwd" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_ns(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id AS v_user, event_id AS view_id,
        |         epoch_ns(ts) AS vts
        |  FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.purchase_id, p.user_id, v.view_id,
        |    v.vts - p.pts AS wait_ns,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY v.vts, v.view_id) AS rn
        |  FROM p LEFT JOIN v
        |    ON v.v_user = p.user_id AND v.vts >= p.pts)
        |SELECT purchase_id, user_id, view_id AS next_view_id, wait_ns
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    // q144: HUGEINT moments, VARCHAR-mediated casts (the q124 rule —
    // E·Σxy and the squares CAN pass 2^53), the same fixed float tree
    "q144_assortativity" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |j AS (
        |  SELECT dx.deg AS dx, dy.deg AS dy
        |  FROM edges e JOIN deg dx ON dx.src = e.src
        |               JOIN deg dy ON dy.src = e.dst),
        |m AS (
        |  SELECT count(*) AS e,
        |    sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
        |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
        |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
        |    sum(CAST(dy AS HUGEINT) * dy) AS syy
        |  FROM j),
        |f AS (
        |  SELECT e,
        |    CAST(e AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(e AS HUGEINT) * sxx - sx * sx AS d1,
        |    CAST(e AS HUGEINT) * syy - sy * sy AS d2
        |  FROM m)
        |SELECT CAST(e AS BIGINT) AS n_edges,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) AS num,
        |  CAST(CAST(d1 AS VARCHAR) AS DOUBLE) AS den_x,
        |  CAST(CAST(d2 AS VARCHAR) AS DOUBLE) AS den_y,
        |  CASE WHEN d1 > 0 AND d2 > 0 THEN
        |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |      / (sqrt(CAST(CAST(d1 AS VARCHAR) AS DOUBLE))
        |         * sqrt(CAST(CAST(d2 AS VARCHAR) AS DOUBLE))) END
        |    AS assortativity
        |FROM f""".stripMargin,
    // q145: the same lag windows; SAE/counts exact, MAE one division,
    // the winner decided by integer cross-multiplication
    "q145_forecast_eval" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 7) OVER w AS l7
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |m AS (
        |  SELECT event_type, count(*) AS n_days,
        |    count(l1) AS n1, sum(abs(x - l1)) AS sae1,
        |    count(l7) AS n7, sum(abs(x - l7)) AS sae7
        |  FROM l GROUP BY 1)
        |SELECT event_type, n_days, n1, CAST(sae1 AS BIGINT) AS sae1,
        |  CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mae_naive,
        |  n7, CAST(sae7 AS BIGINT) AS sae7,
        |  CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS mae_seasonal,
        |  sae7 * n1 < sae1 * n7 AS seasonal_wins
        |FROM m ORDER BY 1""".stripMargin,
    // q146: the same merged-grid exact-integer supremum, one division,
    // the same critical-value tree
    "q146_ks_test" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |vc AS (
        |  SELECT v,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
        |  FROM e GROUP BY 1),
        |c AS (
        |  SELECT v,
        |    sum(c1) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1,
        |    sum(c2) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k2
        |  FROM vc),
        |t AS (
        |  SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS n1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS n2
        |  FROM e),
        |m AS (
        |  SELECT CAST(max(t.n1) AS BIGINT) AS n1,
        |    CAST(max(t.n2) AS BIGINT) AS n2,
        |    CAST(max(abs(k1 * t.n2 - k2 * t.n1)) AS BIGINT) AS d_num
        |  FROM c, t)
        |SELECT n1, n2, d_num,
        |  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d_stat,
        |  1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
        |    / CAST(n1 * n2 AS DOUBLE)) AS crit_05,
        |  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
        |    > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
        |        / CAST(n1 * n2 AS DOUBLE)) AS reject
        |FROM m""".stripMargin,
    // q147: the identical cumulative-interval construction and overlap
    // join — every quantity an exact BIGINT cent
    "q147_fifo_allocation" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |l AS (
        |  SELECT *, sum(cents) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts_ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |  FROM e),
        |lots AS (SELECT *, hi - cents AS lo FROM l),
        |cr AS (SELECT user_id, lo AS cp_lo, hi AS cp_hi FROM lots
        |       WHERE event_type = 'purchase'),
        |db AS (SELECT user_id, lo AS cd_lo, hi AS cd_hi FROM lots
        |       WHERE event_type = 'click'),
        |p AS (
        |  SELECT cr.user_id,
        |    least(cp_hi, cd_hi) - greatest(cp_lo, cd_lo) AS alloc
        |  FROM cr JOIN db ON db.user_id = cr.user_id
        |    AND cp_lo < cd_hi AND cd_lo < cp_hi),
        |m AS (
        |  SELECT user_id, count(*) AS n_allocations,
        |    sum(alloc) AS matched_cents
        |  FROM p GROUP BY 1),
        |t AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_credits,
        |    sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
        |      AS credit_cents,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS n_debits,
        |    sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END)
        |      AS debit_cents
        |  FROM e GROUP BY 1)
        |SELECT t.user_id, CAST(n_credits AS BIGINT) AS n_credits,
        |  CAST(credit_cents AS BIGINT) AS credit_cents,
        |  CAST(n_debits AS BIGINT) AS n_debits,
        |  CAST(debit_cents AS BIGINT) AS debit_cents,
        |  CAST(coalesce(m.n_allocations, 0) AS BIGINT) AS n_allocations,
        |  CAST(coalesce(m.matched_cents, 0) AS BIGINT) AS matched_cents,
        |  CAST(credit_cents - coalesce(m.matched_cents, 0) AS BIGINT)
        |    AS unmatched_credit,
        |  CAST(debit_cents - coalesce(m.matched_cents, 0) AS BIGINT)
        |    AS unmatched_debit
        |FROM t LEFT JOIN m ON m.user_id = t.user_id
        |ORDER BY t.user_id""".stripMargin,
    // q148: the same month grid and largest-remainder split — exact
    // integer division and mod, cent-conserving by construction
    "q148_rev_recognition" ->
      """WITH ship AS (
        |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |o AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    year(CAST(o_orderdate AS DATE)) * 12
        |      + month(CAST(o_orderdate AS DATE)) - 1 AS m0,
        |    year(last_ship) * 12 + month(last_ship) - 1 AS m1
        |  FROM orders JOIN ship ON l_orderkey = o_orderkey),
        |sp AS (
        |  SELECT o_orderkey, cents, m0,
        |    greatest(m1, m0) - m0 + 1 AS n
        |  FROM o),
        |g AS (
        |  SELECT m0, cents, n, unnest(range(0, n)) AS k FROM sp),
        |x AS (
        |  SELECT m0 + k AS month_id,
        |    cents // n + CASE WHEN k < cents % n THEN 1 ELSE 0 END
        |      AS recog
        |  FROM g)
        |SELECT CAST(month_id AS BIGINT) AS month_id,
        |  count(*) AS n_orders,
        |  CAST(sum(recog) AS BIGINT) AS recognized_cents
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // q149: the dim chain twice (full + event-id prefix), two
    // point-in-time joins, the transition matrix
    "q149_bitemporal" -> oracle149,
    // q150: the identical nine-double recurrence with the seven
    // seasonal slots carried as recursive-CTE columns; l' recomputed
    // inline where the update rules need it (the q136 convention)
    "q150_holt_winters" -> {
      val sp = "CASE (i.rn - 1) % 7 " +
        (0 to 6).map(j => s"WHEN $j THEN r.s$j").mkString(" ") + " END"
      val lNew = s"0.5 * (CAST(i.x AS DOUBLE) - ($sp)) + 0.5 * (r.l + r.b)"
      def sNew(j: Int): String =
        s"    CASE WHEN (i.rn - 1) % 7 = $j THEN " +
          s"0.5 * (CAST(i.x AS DOUBLE) - ($lNew)) + 0.5 * ($sp) " +
          s"ELSE r.s$j END"
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         |         count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |idx AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY day) AS rn
         |  FROM daily),
         |rec AS (
         |  SELECT event_type, day, x, rn, CAST(x AS DOUBLE) AS l,
         |    CAST(0 AS DOUBLE) AS b,
         |    ${(0 to 6).map(j => s"CAST(0 AS DOUBLE) AS s$j").mkString(", ")},
         |    CAST(NULL AS DOUBLE) AS f
         |  FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.event_type, i.day, i.x, i.rn,
         |    $lNew,
         |    0.5 * (($lNew) - r.l) + 0.5 * r.b,
         |${(0 to 6).map(sNew).mkString(",\n")},
         |    r.l + r.b + ($sp)
         |  FROM rec r JOIN idx i
         |    ON i.event_type = r.event_type AND i.rn = r.rn + 1)
         |SELECT event_type, day, x, l AS level, b AS trend,
         |  CASE (rn - 1) % 7 ${(0 to 6)
            .map(j => s"WHEN $j THEN s$j").mkString(" ")} END AS seasonal,
         |  f AS forecast,
         |  abs(CAST(x AS DOUBLE) - f) AS abs_err
         |FROM rec ORDER BY 1, 2""".stripMargin
    },
    // q151: the same integer 2^(K-age) weights and the one division
    "q151_decayed_ltv" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT max(d) AS d1, max(d) - min(d) AS span FROM p),
        |w AS (
        |  SELECT user_id, cents, (d1 - d) // 7 AS age_w, span // 7 AS k
        |  FROM p, h)
        |SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS raw_cents,
        |  CAST(sum(cents * (CAST(1 AS BIGINT)
        |      << CAST(k - age_w AS INTEGER))) AS DOUBLE)
        |    / CAST(CAST(1 AS BIGINT) << CAST(max(k) AS INTEGER)
        |        AS DOUBLE) AS decayed_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
