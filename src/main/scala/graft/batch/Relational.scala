package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.PlcFunctions._

/** The relational operator inventory (SURVEY.md §2) as named DataFrame
  * queries over the driver testdata, each paired with a DuckDB oracle in
  * [[Relational.oracle]].
  *
  * Numeric policy for oracle parity: double sums are computed over
  * per-row `DECIMAL` casts (exact, order-independent) and converted to
  * double at the end — both engines then produce bit-identical values
  * regardless of partitioning / accumulation order. Every query ends in
  * a stable ORDER BY on key columns.
  *
  * Scale notes: dimension joins are broadcast; windowed queries shuffle
  * once on their partition keys; all scans are parquet with projection
  * pushdown (verified via `.explain("formatted")` in BenchNotes).
  */
object Relational {

  /** Exact, order-independent sum of a money-like double: decimal(18,2). */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  /** Same, 6 decimal places for products of doubles. Oracle-side
    * caveat: once the sum's UNSCALED value passes 2^53 (≈ 9e9 at 6 dp,
    * reached by the 10× rung), DuckDB's decimal→double (unscaled-int
    * to double, then divide) can land one ulp off the correctly
    * rounded value Spark's BigDecimal conversion produces — route the
    * oracle cast through VARCHAR (`CAST(CAST(sum AS VARCHAR) AS
    * DOUBLE)`, correctly-rounded strtod) as q1/q18 do. */
  private def dsum6(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  // ---------------------------------------------------------------- q1
  /** A1/A7: pricing summary — hash aggregate with partial/final split
    * (TPC-H Q1 shape; reference analog: combinar_listas group-sum,
    * Prensas.py:399-440). */
  def q1_agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------- q2
  /** W1+F7: per-(station, plan_date, shift) top producing part — the
    * reference's TOP(1) active-record lookup (Prensas.py:285-302)
    * re-expressed as a ranking window over shift-classified events. */
  def q2_top1_shift(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.events(s, d)
      .select(col("user_id").as("station"), col("event_type").as("part"),
        planDateOf(col("ts")).as("plan_date"), shiftOf(col("ts")).as("shift"),
        col("value"))
      .groupBy(col("station"), col("plan_date"), col("shift"), col("part"))
      .agg(dsum(col("value")).as("produced"), count(lit(1)).as("n_obs"))
    val w = Window.partitionBy("station", "plan_date", "shift")
      .orderBy(col("produced").desc, col("part").asc)
    agg.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .orderBy("station", "plan_date", "shift")
  }

  // ---------------------------------------------------------------- q3
  /** J1/P1: 3-way dimension join with aliased projection (the config
    * join, Prensas.py:155-169) — broadcast both dims. */
  def q3_join3(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d); val n = Tables.nation(s, d); val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(col("c_acctbal") > 1000)
      .select(col("c_custkey").as("customer_key"), col("c_name").as("customer_name"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"),
        col("c_acctbal").as("acctbal"))
      .orderBy("customer_key")
  }

  // ---------------------------------------------------------------- q4
  /** J9 semi: orders having any high-quantity lineitem (EXISTS). */
  def q4_semi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val hi = Tables.lineitem(s, d).filter(col("l_quantity") > 49).select("l_orderkey")
    o.join(hi, o("o_orderkey") === hi("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q5
  /** J9 anti: customers with no URGENT order, counted per nation (NOT
    * EXISTS; reference analog: part-not-found CSV, Prensas.py:343-353).
    * The urgent filter keeps the anti-set non-empty in the fixtures —
    * every customer has SOME order, which made the unfiltered variant a
    * vacuous 0-row check. */
  def q5_anti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_no_order"))
      .orderBy("c_nationkey")
  }

  // ---------------------------------------------------------------- q6
  /** J9 outer: nation left join customer with null-safe aggregation. */
  def q6_outer(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d); val c = Tables.customer(s, d)
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
      .groupBy(col("n_name"))
      .agg(count(col("c_custkey")).as("n_customers"),
        coalesce(sum(col("c_acctbal").cast("decimal(18,2)")), lit(0)).cast("double").as("total_bal"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q7
  /** J9 theta/range: equi key + inequality residual (l_quantity > p_size). */
  def q7_theta(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d); val p = Tables.part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey") && l("l_quantity") > p("p_size"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("p_brand")
  }

  // ---------------------------------------------------------------- q8
  /** J9 as-of join: for each purchase, the latest click of the same user
    * at or before it. Implemented the scale-friendly way — one shuffle by
    * user, a running `last(ignoreNulls)` over the unioned stream — not a
    * per-row lookup (DuckDB oracle uses native ASOF JOIN). */
  def q8_asof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("click_event_id"))
      .select(col("user_id"), col("ts").as("ets"), lit(0).as("tag"),
        col("click_event_id"), lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("ets"), lit(1).as("tag"),
        lit(null).cast("long").as("click_event_id"), col("event_id").as("purchase_id"))
    val w = Window.partitionBy("user_id").orderBy(col("ets").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_ts", last(when(col("tag") === 0, col("ets")), ignoreNulls = true).over(w))
      .withColumn("last_click_id", last(when(col("tag") === 0, col("click_event_id")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("purchase_id"), col("user_id"), col("last_click_ts"), col("last_click_id"))
      .orderBy("purchase_id")
  }

  /** J9 as-of, native tier: the same semantics as [[q8_asof]] through the
    * custom Catalyst operator ([[graft.plans.AsOfJoinPlan]] →
    * `AsOfJoinExec` co-partitioned merge) instead of union+window. The
    * post-join purchase filter is probe-side, so
    * [[graft.plans.PushProbeFilterThroughAsOfJoin]] moves it below the
    * join — i.e. before the shuffle. Both formulations are oracle-checked
    * against DuckDB's native ASOF JOIN. */
  def q29_asof_native(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("click_event_id"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("click_event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user", "p_ts", "c_ts")
      .filter(col("purchase_id") % 2 === 0)
      .select(col("purchase_id"), col("user_id"),
        col("c_ts").as("last_click_ts"), col("click_event_id").as("last_click_id"))
      .orderBy("purchase_id")
  }

  // ---------------------------------------------------------------- q9/q10
  /** A7: ROLLUP over region/nation. */
  def q9_rollup(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d); val n = Tables.nation(s, d); val r = Tables.region(s, d)
    // coalescing rollup grouping columns post-agg trips Spark's
    // ambiguous-attribute check after a join (Expand duplicates the
    // attrs), so this one goes through the SQL surface instead
    c.as("c")
      .join(broadcast(n).as("n"), col("c.c_nationkey") === col("n.n_nationkey"))
      .join(broadcast(r).as("r"), col("n.n_regionkey") === col("r.r_regionkey"))
      .select(col("r.r_name").as("rname"), col("n.n_name").as("nname"), col("c.c_acctbal").as("bal"))
      .createOrReplaceTempView("q9_base")
    s.sql(
      """SELECT COALESCE(rname,'ALL') AS region_name, COALESCE(nname,'ALL') AS nation_name,
        | COUNT(*) AS n_cust,
        | CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM q9_base GROUP BY ROLLUP(rname, nname)
        |ORDER BY region_name, nation_name""".stripMargin)
  }

  /** A7: CUBE over returnflag/linestatus. */
  def q10_cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  // ---------------------------------------------------------------- q11
  /** A6/A7: exact distinct aggregation. */
  def q11_distinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q12
  /** W3: analytic frames — running total + trailing-3 average per
    * customer. */
  def q12_window_frame(s: SparkSession, d: String): DataFrame = {
    val base = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w3 = base.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_spend", sum(col("o_totalprice").cast("decimal(18,2)")).over(run).cast("double"))
      .withColumn("last3_avg",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w3).cast("double") / count(lit(1)).over(w3))
      .select("o_custkey", "o_orderkey", "running_spend", "last3_avg")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------- q13
  /** W2/A4/P8: batch analog of the counter-delta state machine — lag per
    * (station≈user, part≈event_type), keep positive deltas, sum
    * (Prensas.py:752-792). */
  def q13_lag_delta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .filter(col("delta") > 0)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_pos"), dsum(col("delta")).as("total_delta"))
      .orderBy("user_id", "event_type")
  }

  // ---------------------------------------------------------------- q14
  /** O1: top-k with stable tiebreak (TakeOrderedAndProject). */
  def q14_topk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(10)

  /** O2/W1 native tier: group-wise top-3 through the custom
    * [[graft.plans.GroupTopKPlan]] operator — partial bounded heaps
    * before the shuffle (≤ k rows per priority per input partition
    * cross the wire), final heap merge after, no full sort anywhere.
    * The window formulation this replaces shuffles and sorts every row
    * of every group (oracle uses exactly that formulation in DuckDB). */
  def q33_group_topk(s: SparkSession, d: String): DataFrame =
    graft.plans.GroupTopK.topK(
      Tables.orders(s, d).select("o_orderpriority", "o_orderkey", "o_totalprice"),
      keys = Seq("o_orderpriority"),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)
      .orderBy("o_orderpriority", "rank")

  // ---------------------------------------------------------------- q15
  /** U1-U3: union / intersect / except over customer vs supplier
    * nations. */
  def q15_setops(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val cn = Tables.customer(s, d).join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    val sn = Tables.supplier(s, d).join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
    val any = cn.union(sn).distinct().withColumn("tag", lit("any"))
    both.unionByName(custOnly).unionByName(any)
      .select("tag", "n_name").orderBy("tag", "n_name")
  }

  // ---------------------------------------------------------------- q16
  /** F4/F5/P7: string function surface. */
  def q16_strings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_name"), 1, 12).as("name12"),
      length(col("p_name")).cast("long").as("name_len"),
      regexp_replace(col("p_type"), " ", "_").as("type_u"),
      concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
      rtrim(concat(col("p_name"), lit("   "))).as("name_rt"),
      regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"))
      .orderBy("p_partkey")

  // ---------------------------------------------------------------- q17
  /** F6: date/time functions + formatting. */
  def q17_dates(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderdate").cast("date")).as("first_day"),
        min(col("o_orderdate")).as("first_ts"),
        min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("first_fmt"),
        min(datediff(col("o_orderdate"), lit("2024-01-01")).cast("long")).as("min_dd"))
      .orderBy("yr", "mo")

  // ---------------------------------------------------------------- q18
  /** F9/F11: math surface with exact decimal folding. */
  def q18_math(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(col("l_linenumber").cast("long")).as("sum_ln"),
        sum(pmod(col("l_linenumber"), lit(3)).cast("long")).as("sum_mod"),
        floor(max(col("l_quantity"))).cast("long").as("max_qty_floor"),
        ceil(min(col("l_quantity"))).cast("long").as("min_qty_ceil"),
        abs(min(col("l_discount"))).as("min_disc_abs"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q19
  /** F13: JSON extraction from events.props. */
  def q19_json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // one typed from_json parse beats per-path get_json_object
      .select(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"))
      .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_bucket")

  // ---------------------------------------------------------------- q20
  /** F12/J7: array primitives over the embedding column. The slice +
    * higher-order aggregate is projected to a scalar (double-accumulated
    * left fold, rounded) so every output column is plainly sortable /
    * hashable by any comparison harness — raw array columns are not. */
  def q20_array_ops(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).as("first_val"),
      element_at(col("embedding"), 64).as("last_val"),
      round(expr("aggregate(slice(embedding, 1, 3), 0D, (a, x) -> a + CAST(x AS DOUBLE))"), 6)
        .as("head3_sum"))
      .orderBy("vec_id")

  // ---------------------------------------------------------------- q21
  /** F1/F3: PLC word decode round-trip + register block expansion,
    * exercised on part names (decode semantics Prensas.py:450-471). */
  def q21_plc_decode(s: SparkSession, d: String): DataFrame = {
    // build the block expansion ONCE; codegen's subexpression
    // elimination evaluates it once per row even after CollapseProject
    // inlines it into the three consumers
    val blk = expandBlock(concat(lit("D"), (pmod(col("p_partkey"), lit(100)) * 10).cast("string")),
      lit(1) + pmod(col("p_partkey"), lit(3)))
    Tables.part(s, d).select(
      col("p_partkey"),
      decodePlcWords(encodePlcWords(substring(col("p_name"), 1, 4))).as("decoded"),
      size(blk).as("n_addr"),
      element_at(blk, 1).as("first_addr"),
      element_at(blk, -1).as("last_addr"))
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------- q22
  /** F2/G1: `/`-alternative expansion as a generator (posexplode). */
  def q22_alternatives(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status")).distinct()
      .select(col("flag"), col("status"),
        posexplode(expandAlternatives(concat_ws("/", col("flag"), col("status"))))
          .as(Seq("pos", "candidate")))
      .orderBy("flag", "status", "pos")

  // ---------------------------------------------------------------- q25
  /** Scalar subquery: customers above the cheapest supplier balance —
    * expressed as a broadcast scalar cross join (distributed-safe). */
  def q25_subquery(s: SparkSession, d: String): DataFrame = {
    val minBal = Tables.supplier(s, d).agg(min(col("s_acctbal")).as("min_sbal"))
    val n = Tables.nation(s, d)
    Tables.customer(s, d).crossJoin(broadcast(minBal))
      .filter(col("c_acctbal") > col("min_sbal"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_rich"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q26
  /** §2.11 UDAF: typed Aggregator (weighted qty sum, the reference's
    * qty × multiplier math) registered via functions.udaf. */
  def q26_udaf(s: SparkSession, d: String): DataFrame = {
    val wsum = udaf(graft.functions.WeightedSum)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        (lit(1) + pmod(col("l_partkey"), lit(3))).as("w"))
      .groupBy(col("l_returnflag"))
      .agg(wsum(col("l_quantity"), col("w")).as("weighted_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q27
  /** A7 approx: HLL approx_count_distinct. Sketch estimates differ
    * across engines, so the raw estimate is not oracle-comparable;
    * instead the exact column is hash-checked and the sketch is
    * projected to its error-bound verdict (|approx−exact|/exact ≤ 5%,
    * the sketch's configured rsd — ApproxSpec asserts the same bound),
    * which IS deterministic for fixed data and oracle-expressible as a
    * constant TRUE. */
  def q27_approx_distinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") <= 0.05).as("approx_within_5pct"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q28
  /** J9 range/interval join: for each purchase, count the same user's
    * views in the preceding 5 minutes (equi key + time-range band —
    * partitions by the equi key, so the band never goes cartesian). */
  def q28_range_time(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("vts"))
    p.join(v, col("user_id") === col("v_user")
        && col("vts") >= col("pts") - expr("INTERVAL 5 MINUTES")
        && col("vts") <= col("pts"), "left")
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(col("vts")).as("n_recent_views"))
      .orderBy("purchase_id")
  }

  // ---------------------------------------------------------------- q30
  /** A7 family, sort-based exact aggregation: continuous-interpolation
    * percentiles per group (Spark `percentile` ↔ DuckDB
    * `quantile_cont`, same type-7 interpolation). The approximate
    * sketch path for 100 TB is `approx_percentile` (t-digest), shown in
    * q27's HLL pattern; this is the exact baseline. */
  def q30_percentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q31
  /** A7 family: GROUPING SETS — the general form of q9's rollup / q10's
    * cube (independent slices in one pass over the join, Expand-based
    * like rollup, so still a single shuffle). */
  def q31_grouping_sets(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    c.as("c").join(broadcast(n).as("n"), col("c.c_nationkey") === col("n.n_nationkey"))
      .select(col("n.n_name").as("nname"), col("c.c_mktsegment").as("seg"),
        col("c.c_acctbal").as("bal"))
      .createOrReplaceTempView("q31_base")
    s.sql(
      """SELECT COALESCE(nname, 'ALL') AS nation_name, COALESCE(seg, 'ALL') AS segment,
        | COUNT(*) AS n_cust,
        | CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM q31_base
        |GROUP BY GROUPING SETS ((nname), (seg), ())
        |ORDER BY nation_name, segment""".stripMargin)
  }

  // ---------------------------------------------------------------- q32
  /** W3 family: the full ranking-function set — rank/dense_rank/
    * percent_rank/cume_dist over a tied ordering, ntile over a unique
    * one (ntile is position-based, so determinism requires a total
    * order). Ranks are over a deterministic subpopulation (every 10th
    * order) — the window partitions by 3-value l_returnflag, so at
    * fixture scale the pre-filter bounds the skewed sort; at production
    * cardinality partition keys are fine-grained and no subsetting is
    * needed (same note as qst2 in PLANS.md). */
  def q32_rank_family(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).filter(pmod(col("l_orderkey"), lit(10)) === 0)
    val tied = Window.partitionBy("l_returnflag").orderBy(col("l_quantity"))
    val uniq = Window.partitionBy("l_returnflag")
      .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    l.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .withColumn("rnk", rank().over(tied).cast("long"))
      .withColumn("drnk", dense_rank().over(tied).cast("long"))
      .withColumn("prnk", round(percent_rank().over(tied), 6))
      .withColumn("cdist", round(cume_dist().over(tied), 6))
      .withColumn("quartile", ntile(4).over(uniq))
      .filter(pmod(col("l_orderkey"), lit(500)) === 0)
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q34
  /** Pivot: per-user event counts spread across fixed event-type
    * columns (explicit value list keeps the schema static — the
    * scale-safe form; Catalyst compiles it to conditional partial
    * aggregation, one shuffle). */
  def q34_pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "purchase", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  // ---------------------------------------------------------------- q35
  /** Unpivot/melt: wide lineitem measures → long (metric, value) rows,
    * re-aggregated per returnflag — the inverse reshaping (Spark
    * compiles to Expand: rows × metrics, still one shuffle for the
    * final agg). */
  def q35_unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy("l_returnflag", "metric")

  // ---------------------------------------------------------------- q36
  /** Deterministic stratified sampling — the training-data-pipeline
    * primitive for rebalancing a corpus (e.g. downsample the dominant
    * source, keep the rare ones). `sampleBy` uses an RNG, which no
    * cross-engine oracle can reproduce; here the admission test is a
    * content hash — `md5(primary key) mod 100 < rate(stratum)` — which
    * is (a) exactly reproducible on any engine, (b) stable under
    * re-partitioning and re-runs (a row's fate depends only on its key,
    * so incremental pipeline re-runs sample identically), and (c) a
    * pure map-side filter: the only shuffle is the verification agg.
    * Per-stratum rates: A→25%, N→5%, R→50%. */
  def q36_stratified_sample(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("l_returnflag") === "A", 25)
      .when(col("l_returnflag") === "N", 5).otherwise(50)
    val bucket = pmod(
      conv(substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))
        .cast("binary")), 1, 4), 16, 10).cast("long"), lit(100))
    Tables.lineitem(s, d)
      .filter(bucket < rate)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q37
  /** Spark 4 recursive CTE (engine surface the reference's per-key SQL
    * loops could never express): walk each sampled customer's order
    * chain hop by hop via a linked next-order view. The DuckDB oracle
    * computes the same result with ROW_NUMBER — two independent
    * formulations cross-validating. (Cyclic recursion — e.g. the qd6
    * connected-components closure — still needs the iterative operator:
    * Spark recursive CTEs are UNION ALL-only, which cannot terminate on
    * cycles; qd6's min-label loop is the scalable form anyway.) */
  def q37_recursive_chain(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    // Walk the per-customer order chain by POINTER DOUBLING (Graph.rank)
    // instead of Spark's WITH RECURSIVE: the recursion schedules one
    // join round per hop (depth-D chain → D driver barriers — 2.7 s
    // of pure scheduling at sf0.1), while doubling resolves the same
    // walk in ceil(log2 D)+1 rounds. The predecessor pointer is the
    // exact graph inverse of the reference chain's k_next link (one
    // window pass builds it); hop = distance to the chain head + 1,
    // identical to the recursion's hop counter.
    val state = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(50)) === 0)
      .select(col("o_custkey"), col("o_orderkey"))
      .withColumn("ptr", lag(col("o_orderkey"), 1).over(w))
      .withColumn("dist", when(col("ptr").isNull, 0L).otherwise(1L))
    val (ranked, _) = Graph.rank(state, Seq("o_custkey"),
      id = "o_orderkey", ptr = "ptr", dist = "dist")
    ranked.select(col("o_custkey").as("custkey"), col("o_orderkey"),
        (col("dist") + 1).cast("int").as("hop"))
      .orderBy("custkey", "hop")
  }

  // ---------------------------------------------------------------- q39
  /** J9 completion: FULL OUTER join — year-over-year customer spend
    * reconciliation (the snapshot-diff shape: customers active in only
    * one year survive with nulls from the other side). Both inputs
    * pre-aggregate before the join, so the join shuffle carries one row
    * per (customer, year), not one per order; at scale this is a
    * sort-merge join on custkey with map-side partial aggregation. */
  def q39_full_outer(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def spend(y: Int, sc: String, nc: String) =
      o.filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as(sc), count(lit(1)).as(nc))
    spend(1995, "spend_a", "n_a").join(spend(1996, "spend_b", "n_b"),
        Seq("o_custkey"), "full")
      .select(col("o_custkey"),
        coalesce(col("spend_a"), lit(0.0)).as("spend_a"),
        coalesce(col("spend_b"), lit(0.0)).as("spend_b"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- q40
  /** Semi-join reduction via a broadcast Bloom filter — the
    * shuffle-minimization pattern for selective fact⋈dim joins at
    * 100 TB (what Spark's own `InjectRuntimeFilter` rule builds when
    * `spark.sql.optimizer.runtimeFilter.bloomFilter.enabled` is on, and
    * what classic distributed engines call a bloom-join). A highly
    * selective predicate keeps ~2% of `orders`; instead of shuffling
    * ALL of `lineitem` into the join only to drop 98% of it, a Bloom
    * filter over the surviving order keys (bits-sized: ~1.2 MB per 10⁶
    * keys at 1% fp — broadcastable when the key set itself is not) is
    * applied map-side to the probe scan, so the big side's exchange
    * carries only matching rows plus the ~1% false-positive margin.
    * Exactness is untouched: the equi-join itself removes false
    * positives, making the Bloom pass a pure plan optimization — the
    * oracle is the plain join SQL.
    *
    * The membership test is the native codegen
    * [[graft.functions.BloomMightContainExpr]] (the same shape Spark's
    * own injected runtime filters use) — it sits over every probe-side
    * row, exactly where a Scala UDF would break whole-stage codegen.
    * BloomSpec pins the plan: the filter runs BEFORE lineitem's join
    * exchange, and the reduction is measured. */
  def q40_bloom_join(s: SparkSession, d: String): DataFrame = {
    val sel = Tables.orders(s, d)
      .filter(col("o_totalprice") > 490000.0)
      .select(col("o_orderkey"), col("o_orderdate"))
    // build over the selective side only, sized from its real
    // cardinality (count + build: two small jobs, bits-sized result)
    val bf = graft.functions.GraftFunctions.sizedBloomFilter(sel, "o_orderkey")
    Tables.lineitem(s, d)
      .filter(graft.functions.GraftFunctions.bloom_might_contain(col("l_orderkey"), bf))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q41
  /** Mergeable HLL sketch store — Spark 4's Datasketches-backed
    * `hll_sketch_agg`/`hll_union_agg`: per-day distinct-user sketches
    * built once, then a weekly rollup computed by UNIONING the day
    * sketches — the raw event stream is never re-scanned for the
    * rollup. This is the at-scale shape for distinct-count reporting
    * over an accumulating corpus: sketches are fixed-size (~KB at
    * lgConfigK=12, ~1.6% error), mergeable in any order and any
    * grouping (day→week→month→total), and streaming-compatible (a
    * micro-batch unions its sketch into the store the way EpochFold
    * folds epochs). q27 is the one-shot approx aggregate; this is the
    * persisted, re-aggregatable form.
    *
    * Oracle pattern as q27: the estimate itself is engine-specific, so
    * the exported columns are the EXACT weekly distinct count plus a
    * verdict bit that the sketch-union estimate lands within 5%
    * (≈3 sigma at this lgConfigK) — bit-stable across engines.
    * HllSpec drives the store through parquet persistence and
    * incremental appends. */
  def q41_hll_union(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    // the per-day sketch store: one partial/final mergeable agg
    val daily = ev.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    // weekly rollup touches ONLY the day sketches
    val weeklyEst = daily
      .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
    val weeklyExact = ev
      .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    weeklyExact.join(weeklyEst, "week")
      .select(col("week"), col("exact_users"),
        (abs(col("est_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.05).as("union_within_5pct"))
      .orderBy("week")
  }

  // ---------------------------------------------------------------- q38
  /** Z-order key math (see [[ZOrder]]): per-row Morton interleave of
    * two 8-bit-normalized keys, cross-checked bit-for-bit against the
    * same shift/mask/or formulation in DuckDB. The layout pass built on
    * this key ([[ZOrder.clusterTo]]) is pinned by ZOrderSpec, which
    * measures the min/max-stats skip benefit directly. */
  def q38_zorder_key(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(pmod(col("l_orderkey"), lit(997)) === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        ZOrder.zkey(Seq(pmod(col("l_partkey"), lit(256)),
                        pmod(col("l_suppkey"), lit(256))), 8).as("zkey"))
      .orderBy("l_orderkey", "l_linenumber")

  // ---------------------------------------------------------------- qst2
  /** ST7 analog: sessionization via lag + cumulative flag (30 min gap);
    * the streaming equivalent uses session_window (see stream/). */
  def qst2_sessions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"))
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(byUser) > 1800000000L, 1)
          .when(lag(col("us"), 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        floor((max(col("us")) - min(col("us"))) / 1000000L).cast("long").as("dur_s"))
      .orderBy("user_id", "session_id")
  }

  // ---------------------------------------------------------------- qst4
  /** Time-series similarity search (the streaming-motif shape from the
    * EDBT'19 distributed-similarity line of work): slide a length-4
    * window over each entity's value series, score it against a query
    * pattern by squared Euclidean distance, keep each entity's best
    * match. Distances are computed in integer space (values ×100) so
    * the oracle compare is exact. Scale shape: the sliding window and
    * the top-1 are both partition-local per entity — one shuffle by
    * user_id serves collect_list, ranking, and the final pick. */
  def qst4_pattern_match(s: SparkSession, d: String): DataFrame = {
    val pat = Seq(100L, 400L, 900L, 1600L)
    val byUser = Window.partitionBy("user_id").orderBy("us")
    val sliding = byUser.rowsBetween(-3, 0)
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("iv"))
      .withColumn("vals", collect_list(col("iv")).over(sliding))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") >= 4)
      .withColumn("dist", expr(
        s"aggregate(zip_with(vals, array(${pat.mkString("L,")}L), " +
          "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .withColumn("best",
        row_number().over(Window.partitionBy("user_id").orderBy(col("dist"), col("us"))))
      .filter(col("best") === 1)
      .select(col("user_id"), col("us").as("match_us"), col("dist"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- qst3
  /** ST7 analog: tumbling 1-hour event-time window aggregation. */
  def qst3_window_hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))
      .orderBy("ws", "event_type")

  // ================================================================
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1_agg _),
    "q2_top1_shift" -> (q2_top1_shift _),
    "q3_join3" -> (q3_join3 _),
    "q4_semi" -> (q4_semi _),
    "q5_anti" -> (q5_anti _),
    "q6_outer" -> (q6_outer _),
    "q7_theta" -> (q7_theta _),
    "q8_asof" -> (q8_asof _),
    "q29_asof_native" -> (q29_asof_native _),
    "q9_rollup" -> (q9_rollup _),
    "q10_cube" -> (q10_cube _),
    "q11_distinct" -> (q11_distinct _),
    "q12_window_frame" -> (q12_window_frame _),
    "q13_lag_delta" -> (q13_lag_delta _),
    "q14_topk" -> (q14_topk _),
    "q33_group_topk" -> (q33_group_topk _),
    "q15_setops" -> (q15_setops _),
    "q16_strings" -> (q16_strings _),
    "q17_dates" -> (q17_dates _),
    "q18_math" -> (q18_math _),
    "q19_json" -> (q19_json _),
    "q20_array_ops" -> (q20_array_ops _),
    "q21_plc_decode" -> (q21_plc_decode _),
    "q22_alternatives" -> (q22_alternatives _),
    "q25_subquery" -> (q25_subquery _),
    "q26_udaf" -> (q26_udaf _),
    "q27_approx_distinct" -> (q27_approx_distinct _),
    "q28_range_time" -> (q28_range_time _),
    "q30_percentile" -> (q30_percentile _),
    "q31_grouping_sets" -> (q31_grouping_sets _),
    "q32_rank_family" -> (q32_rank_family _),
    "q34_pivot" -> (q34_pivot _),
    "q35_unpivot" -> (q35_unpivot _),
    "q36_stratified_sample" -> (q36_stratified_sample _),
    "q37_recursive_chain" -> (q37_recursive_chain _),
    "q38_zorder_key" -> (q38_zorder_key _),
    "q39_full_outer" -> (q39_full_outer _),
    "q40_bloom_join" -> (q40_bloom_join _),
    "q41_hll_union" -> (q41_hll_union _),
    "qst2_sessions" -> (qst2_sessions _),
    "qst3_window_hourly" -> (qst3_window_hourly _),
    "qst4_pattern_match" -> (qst4_pattern_match _))

  val oracle: Map[String, String] = Map(
    "q41_hll_union" ->
      """SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS union_within_5pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q40_bloom_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 490000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_top1_shift" ->
      """WITH agg AS (
        | SELECT user_id AS station,
        |  CASE WHEN hour(ts) >= 8 THEN CAST(ts AS DATE) ELSE CAST(ts AS DATE) - 1 END AS plan_date,
        |  CASE WHEN hour(ts) BETWEEN 8 AND 15 THEN 1 ELSE 2 END AS shift,
        |  event_type AS part,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS produced,
        |  COUNT(*) AS n_obs
        | FROM events GROUP BY 1,2,3,4)
        |SELECT station, plan_date, shift, part, produced, n_obs FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY station, plan_date, shift
        |   ORDER BY produced DESC, part ASC) AS rn FROM agg) t
        |WHERE rn = 1 ORDER BY station, plan_date, shift""".stripMargin,
    "q3_join3" ->
      """SELECT c_custkey AS customer_key, c_name AS customer_name, n_name AS nation_name,
        | r_name AS region_name, c_acctbal AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE c_acctbal > 1000 ORDER BY customer_key""".stripMargin,
    "q4_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q5_anti" ->
      """SELECT c_nationkey, COUNT(*) AS n_no_order FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_outer" ->
      """SELECT n_name, COUNT(c_custkey) AS n_customers,
        | CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_bal
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_theta" ->
      """SELECT p_brand, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_event_id FROM events
        |  WHERE event_type = 'click' GROUP BY 1,2),
        |purchases AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  c.ts AS last_click_ts, c.click_event_id AS last_click_id
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,
    "q29_asof_native" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_event_id FROM events
        |  WHERE event_type = 'click' GROUP BY 1,2),
        |purchases AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  c.ts AS last_click_ts, c.click_event_id AS last_click_id
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |WHERE p.event_id % 2 = 0
        |ORDER BY purchase_id""".stripMargin,
    "q9_rollup" ->
      """SELECT COALESCE(r_name,'ALL') AS region_name, COALESCE(n_name,'ALL') AS nation_name,
        | COUNT(*) AS n_cust, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY 1,2""".stripMargin,
    "q10_cube" ->
      """SELECT COALESCE(l_returnflag,'ALL') AS flag, COALESCE(l_linestatus,'ALL') AS status,
        | COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY 1,2""".stripMargin,
    "q11_distinct" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        | CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS last3_avg
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q13_lag_delta" ->
      """WITH dd AS (
        | SELECT user_id, event_type,
        |  value - LAG(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS delta
        | FROM events)
        |SELECT user_id, event_type, COUNT(*) AS n_pos,
        | CAST(SUM(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS total_delta
        |FROM dd WHERE delta > 0 GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q14_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q15_setops" ->
      """WITH cn AS (SELECT DISTINCT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey),
        | sn AS (SELECT DISTINCT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT 'both' AS tag, n_name FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
        |UNION ALL SELECT 'cust_only' AS tag, n_name FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
        |UNION ALL SELECT 'any' AS tag, n_name FROM (SELECT n_name FROM cn UNION SELECT n_name FROM sn)
        |ORDER BY tag, n_name""".stripMargin,
    "q16_strings" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_u, SUBSTRING(p_name, 1, 12) AS name12,
        | CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        | REGEXP_REPLACE(p_type, ' ', '_', 'g') AS type_u,
        | CONCAT_WS('|', p_brand, p_type) AS bt,
        | RTRIM(CONCAT(p_name, '   ')) AS name_rt,
        | REGEXP_EXTRACT(p_name, '^([a-z]+)', 1) AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q17_dates" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        | COUNT(*) AS n, MIN(CAST(o_orderdate AS DATE)) AS first_day,
        | MIN(o_orderdate) AS first_ts,
        | MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_fmt,
        | CAST(MIN(datediff('day', DATE '2024-01-01', o_orderdate)) AS BIGINT) AS min_dd
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q18_math" ->
      """SELECT l_returnflag,
        | CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS charge,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        | CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_ln,
        | CAST(SUM(l_linenumber % 3) AS BIGINT) AS sum_mod,
        | CAST(FLOOR(MAX(l_quantity)) AS BIGINT) AS max_qty_floor,
        | CAST(CEIL(MIN(l_quantity)) AS BIGINT) AS min_qty_ceil,
        | ABS(MIN(l_discount)) AS min_disc_abs
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        | COUNT(*) AS n, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_array_ops" ->
      """SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
        | embedding[1] AS first_val, embedding[64] AS last_val,
        | round(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
        |       + CAST(embedding[3] AS DOUBLE), 6) AS head3_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q21_plc_decode" ->
      """SELECT p_partkey, SUBSTRING(p_name, 1, 4) AS decoded,
        | CAST(1 + p_partkey % 3 AS INT) AS n_addr,
        | 'D' || CAST((p_partkey % 100) * 10 AS VARCHAR) AS first_addr,
        | 'D' || CAST((p_partkey % 100) * 10 + p_partkey % 3 AS VARCHAR) AS last_addr
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q22_alternatives" ->
      """SELECT flag, status, CAST(t.i AS INT) AS pos,
        | CASE WHEN t.i = 0 THEN flag ELSE status END AS candidate
        |FROM (SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status FROM lineitem),
        | range(2) t(i)
        |ORDER BY flag, status, pos""".stripMargin,
    "q25_subquery" ->
      """SELECT n_name, COUNT(*) AS n_rich
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT MIN(s_acctbal) FROM supplier)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_udaf" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT) * (1 + l_partkey % 3)) AS DOUBLE) / 100
        |  AS weighted_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_range_time" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS pts FROM events
        |           WHERE event_type = 'purchase'),
        | v AS (SELECT user_id AS v_user, ts AS vts FROM events WHERE event_type = 'view')
        |SELECT purchase_id, user_id, COUNT(vts) AS n_recent_views
        |FROM p LEFT JOIN v ON user_id = v_user
        |  AND vts >= pts - INTERVAL 5 MINUTE AND vts <= pts
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q34_pivot" ->
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q35_unpivot" ->
      """WITH long AS (
        | SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        | UNION ALL
        | SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        | UNION ALL
        | SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM long GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q36_stratified_sample" ->
      """SELECT l_returnflag, COUNT(*) AS n_sampled,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 4))::BIGINT % 100
        |      < CASE l_returnflag WHEN 'A' THEN 25 WHEN 'N' THEN 5 ELSE 50 END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q37_recursive_chain" ->
      """SELECT o_custkey AS custkey, o_orderkey, CAST(rn AS INT) AS hop FROM (
        | SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        | FROM orders WHERE o_custkey % 50 = 0) t
        |ORDER BY custkey, hop""".stripMargin,
    "q38_zorder_key" -> {
      // same interleave as ZOrder.zkey(bits=8, n=2), generated so the
      // two engines share one definition of the bit layout
      val terms = (0 until 8).flatMap(i => Seq(
        s"((((l_partkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey % 256) >> $i) & 1) << ${2 * i + 1})"))
      s"""SELECT l_orderkey, l_linenumber,
         | CAST(${terms.mkString(" | ")} AS BIGINT) AS zkey
         |FROM lineitem WHERE l_orderkey % 997 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "q39_full_outer" ->
      """WITH a AS (
        | SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend_a,
        |  COUNT(*) AS n_a
        | FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |b AS (
        | SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend_b,
        |  COUNT(*) AS n_b
        | FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        | CAST(COALESCE(spend_a, 0) AS DOUBLE) AS spend_a,
        | CAST(COALESCE(spend_b, 0) AS DOUBLE) AS spend_b,
        | CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
        | CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q33_group_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q30_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        | round(quantile_cont(l_quantity, 0.99), 6) AS p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_grouping_sets" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation_name, COALESCE(c_mktsegment, 'ALL') AS segment,
        | COUNT(*) AS n_cust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |ORDER BY nation_name, segment""".stripMargin,
    "q32_rank_family" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        | CAST(RANK() OVER w AS BIGINT) AS rnk,
        | CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        | round(PERCENT_RANK() OVER w, 6) AS prnk,
        | round(CUME_DIST() OVER w, 6) AS cdist,
        | CAST(NTILE(4) OVER (PARTITION BY l_returnflag
        |   ORDER BY l_quantity, l_orderkey, l_linenumber) AS INT) AS quartile
        |FROM lineitem WHERE l_orderkey % 10 = 0
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        |QUALIFY l_orderkey % 500 = 0
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,
    "qst4_pattern_match" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS iv FROM events),
        |w AS (SELECT user_id, us,
        |  list(iv) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS vals,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us) AS rn FROM e),
        |d AS (SELECT user_id, us,
        |  (vals[1]-100)*(vals[1]-100) + (vals[2]-400)*(vals[2]-400)
        |  + (vals[3]-900)*(vals[3]-900) + (vals[4]-1600)*(vals[4]-1600) AS dist
        | FROM w WHERE rn >= 4),
        |b AS (SELECT user_id, us AS match_us, dist,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dist, us) AS best FROM d)
        |SELECT user_id, match_us, dist FROM b WHERE best = 1
        |ORDER BY user_id""".stripMargin,
    "qst2_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        | m AS (SELECT user_id, us,
        |   CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL THEN 1
        |        WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000 THEN 1
        |        ELSE 0 END AS new_s FROM e),
        | s AS (SELECT user_id, us, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |   ROWS UNBOUNDED PRECEDING) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        | CAST(FLOOR((MAX(us) - MIN(us)) / 1000000) AS BIGINT) AS dur_s
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "qst3_window_hourly" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)
}
