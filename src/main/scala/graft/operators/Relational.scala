package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColumnFns._

/** Core relational operators, expressed declaratively so Catalyst gets the
  * whole plan: filters sit directly on scans (pushdown), small dimensions
  * are broadcast explicitly, aggregates are partial-agg friendly.
  *
  * Scale posture (100 TB): every query here shuffles at most once on its
  * natural key after pushed-down filters; dims (`region`, `nation`,
  * `customer` at star proportions, `part`, `supplier`) are `broadcast()`
  * so the fact table never shuffles for them.
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** Pricing summary: wide grouped aggregation with filter pushdown. */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    lineitem
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decProdSum(col("l_extendedprice"), lit(1) - col("l_discount")).as("sum_disc_price"),
        decProdSum(col("l_extendedprice"), lit(1) - col("l_discount"), lit(1) + col("l_tax")).as("sum_charge"),
        decAvg(col("l_quantity")).as("avg_qty"),
        decAvg(col("l_extendedprice")).as("avg_price"),
        decAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Selective scan: both predicates and the 4-column projection must
    * reach the parquet reader (asserted in ExplainSpec). */
  def filterProject(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))

  /** Top unshipped-revenue orders: broadcast the filtered customer dim,
    * shuffle lineitem once on orderkey. */
  def topRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") > ts("1998-06-01 00:00:00"))
      .join(orders.filter(col("o_orderdate") < ts("1998-06-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(decProdSum(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
      .select(col("o_orderkey"), fmtDate(col("o_orderdate")).as("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  /** EXISTS → left-semi join with a non-equi conjunct. */
  def existsSemi(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem,
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  /** Revenue by customer nation inside one region-year: 5-way star join;
    * region/nation/customer broadcast, single shuffle on orderkey. */
  def nationRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
                    orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders.filter(
          col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decProdSum(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))

  /** Highly selective scalar aggregate (all predicates pushed). */
  def selectiveAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(decProdSum(col("l_extendedprice"), col("l_discount")).as("revenue"))

  /** ROLLUP hierarchy: Catalyst expands to grouping sets w/ partial aggs. */
  def rollupAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(decSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("count_order"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("count_order"))

  /** CUBE over order status × priority. */
  def cubeAgg(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(decSum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("sum_price"), col("n_orders"))

  /** Pivot events wide by type (compiles to conditional aggregation). */
  def pivotEvents(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = events.groupBy(col("user_id")).pivot("event_type", types).agg(count(lit(1)))
    p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** Top-N per group via rank window. */
  def topNPerGroup(part: DataFrame, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    part
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
  }

  /** Running sum / lag / moving average per user. Window sums go through
    * decimal so segment-tree vs sequential accumulation can't differ. */
  def windowRunning(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = ord.rowsBetween(-2, Window.currentRow)
    val decVal = col("value").cast("decimal(18,2)")
    events.select(
        col("event_id"), col("user_id"),
        sum(decVal).over(run).cast("double").as("run_sum"),
        lag(col("value"), 1).over(ord).as("prev_value"),
        decRound(sum(decVal).over(mov).cast("double") / count(lit(1)).over(mov), 4).as("mov_avg"))
  }

  /** Exact distinct count per group (shuffles once on the group key;
    * Spark expands distinct into a two-phase partial agg). */
  def distinctUsers(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))

  /** HLL++ approximate distinct — sketch-mergeable, one narrow shuffle.
    * rsd 2% = 4k registers/group: the sketch-size/precision point where
    * the per-row update stays cheap at fact-table row counts. (rows-only
    * oracle: sketch estimates are engine-specific.) */
  def approxDistinct(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))

  /** Exact interpolated percentiles per group. Memory posture: exact
    * `percentile` buffers a per-group map of value→count in the
    * aggregation buffer — bounded by the DISTINCT value count per group,
    * fine for the bounded-domain oracle gate, a quiet OOM risk when the
    * value domain grows with the data (raw doubles at 100×).
    * [[percentilesApprox]] is the bounded-memory scale twin. */
  def percentiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        decRound(expr("percentile(value, 0.5)"), 4).as("p50"),
        decRound(expr("percentile(value, 0.9)"), 4).as("p90"))

  /** Approximate percentiles per group — the 100 TB twin of
    * [[percentiles]] (same output shape). `approx_percentile` keeps a
    * Greenwald-Khanna sketch of O(accuracy) size per group regardless of
    * the value domain, and sketches merge associatively, so the partial
    * aggregation stays map-side and the per-group state is bounded.
    * Error is rank-based: ≤ n/accuracy positions off the exact rank
    * (rows-only gate: sketch contents are engine-specific;
    * RelationalSpec bounds |approx − exact| on the test data). */
  def percentilesApprox(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        decRound(expr(s"approx_percentile(value, 0.5, $accuracy)"), 4).as("p50"),
        decRound(expr(s"approx_percentile(value, 0.9, $accuracy)"), 4).as("p90"))

  /** Full-oracle error report over STAGED [[approxDistinct]] estimates
    * (the r13 staged-artifact conversion of the old rows-only gate): the
    * HLL++ estimate itself is engine-specific and stages as a parquet
    * the oracle reads verbatim; everything downstream — the exact
    * per-type distinct count and the relative error — is engine-
    * independent relational algebra both engines replay identically.
    * The exact side shuffles once on the (low-cardinality) type key;
    * at 100 TB the exact count exists only at gate scale — production
    * reads the estimate alone. */
  def approxDistinctEval(est: DataFrame, events: DataFrame): DataFrame = {
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("approx_users"), col("exact_users"),
        decRound(abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users"), 6).as("rel_err"))
      .orderBy(col("event_type"))
  }

  /** Full-oracle RANK-error report over STAGED [[percentilesApprox]]
    * estimates: GK sketch output is engine-specific (staged); the
    * empirical rank of each estimate — |{v ≤ est}| / n — is exact
    * integer counting both engines replay, and the reported error is
    * the distance of that rank from the target quantile (the metric GK
    * actually bounds: ≤ 1/accuracy). Broadcast of the per-type estimate
    * row keeps the probe a map-side scan; one shuffle on the type key. */
  def percentilesApproxEval(est: DataFrame, events: DataFrame): DataFrame =
    events.join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"), col("p50"), col("p90"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("le90"))
      .select(col("event_type"), col("p50"), col("p90"),
        decRound(abs(col("le50").cast("double") / col("n") - 0.5), 6).as("rank_err50"),
        decRound(abs(col("le90").cast("double") / col("n") - 0.9), 6).as("rank_err90"))
      .orderBy(col("event_type"))

  /** UNION / INTERSECT / EXCEPT composition on nation keys. */
  def setOps(customer: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val a = customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").cast("int").as("nationkey"))
    val b = supplier.select(col("s_nationkey").cast("int").as("nationkey"))
    val c = nation.filter(col("n_regionkey").isin(0, 1))
      .select(col("n_nationkey").cast("int").as("nationkey"))
    a.intersect(b).union(a.except(c)).distinct().orderBy(col("nationkey"))
  }

  /** JSON field extraction from the events props column. */
  def jsonExtract(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 50)

  /** Nested document-style analytics — the denormalization pattern every
    * document/feature-store export runs: fold a child table into a
    * SORTED array-of-structs per parent key (one shuffle, bounded
    * per-key arrays — lineitems per order are ≤7 by construction, the
    * contract this shape needs), then compute over the nested form with
    * HIGHER-ORDER functions only — `aggregate` folds (exact integer
    * cents, so fold order is irrelevant anyway, though the sorted array
    * fixes it), `filter` + `size` for conditional counts, positional
    * `element_at` over the sort — never re-flattening, never re-joining.
    * This is the capability class behind "compute on the nested export
    * without exploding 100 TB back out": one wide scan, map-only after
    * the single groupBy. */
  def nestedOrderStats(lineitem: DataFrame): DataFrame = {
    val nested = lineitem
      .select(col("l_orderkey"),
        struct(col("l_linenumber").as("ln"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .as("item"))
      .groupBy(col("l_orderkey"))
      // array_sort on array<struct> orders by fields in declaration
      // order — (ln, qty, cents) as a whole: ln alone is NOT unique in
      // this data, but equal full structs are interchangeable, so the
      // sorted array is value-deterministic
      .agg(array_sort(collect_list(col("item"))).as("items"))
    nested.select(
      col("l_orderkey").as("o_orderkey"),
      size(col("items")).as("n_items"),
      aggregate(col("items"), lit(0L),
        (acc, it) => acc + it.getField("qty")).as("total_qty"),
      aggregate(col("items"), lit(0L),
        (acc, it) => acc + it.getField("cents")).as("total_cents"),
      aggregate(col("items"), lit(0L),
        (acc, it) => greatest(acc, it.getField("cents"))).as("max_cents"),
      size(filter(col("items"),
        it => it.getField("qty") >= 25)).as("n_big"),
      element_at(col("items"), 1).getField("qty").as("first_line_qty"))
  }

  /** String transform battery over part. */
  def stringFuncs(part: DataFrame): DataFrame =
    part.select(
        col("p_partkey"),
        upperCase(col("p_name")).as("name_u"),
        expr("split_part(p_type, ' ', 1)").as("type_head"),
        regexp_replace(col("p_brand"), "[0-9]+", "#").as("brand_n"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pre"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))

  /** Monthly revenue time series (date truncation + exact-sum agg). */
  def dateSeries(orders: DataFrame): DataFrame =
    orders
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(decSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))

  /** NOT EXISTS → left-anti join. */
  def antiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Skew-safe equi join: the hot-key side gets a deterministic salt
    * (hash of the whole row mod `saltFactor`), the other side is
    * replicated `saltFactor`× — a shuffled join on (key, salt) where no
    * reducer sees more than ~1/saltFactor of any hot key. Use when AQE
    * skew-split isn't available (e.g. the skewed side feeds an
    * aggregation that must stay co-partitioned). Result is identical to
    * the plain join (spec-asserted). */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 saltFactor: Int = 8): DataFrame = {
    val salted = skewed.withColumn("_salt",
      pmod(xxhash64(skewed.columns.map(col): _*), lit(saltFactor)))
    val replicated = other
      .withColumn("_salt", explode(sequence(lit(0L), lit(saltFactor - 1L))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Correlated-scalar-subquery pattern (TPC-H Q17): lineitems whose
    * quantity is below half their part's average quantity. Decorrelated
    * into a per-part aggregate joined back on partkey — both sides
    * shuffle once on partkey (the aggregate is one row per part, too big
    * to broadcast at scale). The average goes through the exact decimal
    * sum so the comparison threshold is engine-identical. */
  def smallQuantityRevenue(lineitem: DataFrame): DataFrame = {
    val partAvg = lineitem.groupBy(col("l_partkey").as("pk"))
      .agg(decAvg(col("l_quantity")).as("avg_qty"))
    lineitem
      .join(partAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(decSum(col("l_extendedprice")).as("total_price"),
        count(lit(1)).as("n_items"))
  }

  /** Per-group price deciles via NTILE. The window is PARTITIONED (by
    * order priority) deliberately: a global ntile would force every row
    * into one partition — the partition-parallel form is the only shape
    * that survives 100 TB (for global quantiles use `percentiles`'
    * aggregate instead). */
  def priceDeciles(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("o_orderpriority"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** Cumulative distinct-user growth curve WITHOUT a cumulative distinct:
    * each user contributes on their first active day (one agg on
    * user_id), the per-day new-user counts are tiny, and the running sum
    * windows over days only — the classic incremental-distinct rewrite.
    * (The final window is a single partition of per-DAY rows — thousands
    * of rows even at 100 TB, not fact-table-sized.) */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(fmtDate(date_trunc("day", col("ts")))).as("day"))
    val perDay = firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("cume_users", sum(col("new_users")).over(w))
  }

  /** Fixed-bound numeric histogram, width_bucket semantics (0 below the
    * range, nBuckets+1 above) spelled as explicit floor arithmetic —
    * bit-identical in any IEEE engine, and portable to engines without
    * width_bucket (DuckDB 1.0). */
  def priceHistogram(orders: DataFrame, lo: Double = 0.0, hi: Double = 600000.0,
                     nBuckets: Int = 12): DataFrame = {
    val width = (hi - lo) / nBuckets
    val x = col("o_totalprice")
    val bucket = when(x < lo, 0).when(x >= hi, nBuckets + 1)
      .otherwise(floor((x - lo) / width).cast("int") + 1)
    orders
      .select(bucket.as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** Event-type transition counts (the Markov transition matrix of user
    * behaviour): one shuffle on user_id, a linear lead() pass, then a
    * tiny type×type aggregate — no self-join on the event stream. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("se"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), epochSec(col("ts")).as("se"),
        col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sliding-window distinct-user curve (WAU): distinct users per 7-day
    * window, one row per window start. NO windowed distinct over raw
    * events — the (user, day) activity set is reduced FIRST (tiny: users
    * × active days), then each activity day fans out to the 7 windows it
    * serves and the distinct runs on the reduced set. At 100 TB the raw
    * scan reduces in one map-side-combined aggregate; everything after
    * is proportional to user-days, not events. */
  def slidingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val userDays = events
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    userDays
      .select(col("user_id"), explode(sequence(lit(0), lit(windowDays - 1))).as("k"),
        col("day"))
      .select(col("user_id"), date_format(date_sub(col("day"), col("k").cast("int")), "yyyy-MM-dd")
        .as("window_start"))
      .groupBy(col("window_start"))
      .agg(countDistinct(col("user_id")).as("wau"))
  }

  /** Cohort retention matrix: users grouped by first-active week, counted
    * per week offset — the standard retention triangle. Two aggregates
    * (first week per user; distinct user-weeks) joined on user_id: no
    * per-cohort scans, no self-join of the event log. Both engines
    * truncate weeks to ISO Monday, so offsets are exact multiples of 7
    * days and the integer division is engine-exact. */
  /** Market-basket affinity with lift — the retail co-occurrence
    * question (which brands sell TOGETHER beyond what their individual
    * popularity predicts): per order the DISTINCT brand set, per brand
    * pair the co-order count, and
    * `lift = n_both · N / (n_a · n_b)` (>1 ⇒ genuinely associated,
    * <1 ⇒ substitutes). Brand level, not part level: a 2000-part
    * catalog over 15k orders leaves part pairs at support ~1, while 25
    * brands give dense, meaningful counts — the aggregation-level
    * choice every real basket analysis makes. Plan: one snowflake join
    * to part for the brand, a distinct (order, brand) table (combinable),
    * the per-order self-join bounded by brands-per-order², and two
    * broadcast 25-row count tables; integer products stay exact longs,
    * one IEEE division decimal-6-rounded. */
  def basketLift(lineitem: DataFrame, part: DataFrame,
                 minSupport: Long = 20): DataFrame = {
    val ob = lineitem
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .distinct()
    val tot = ob.agg(countDistinct(col("okey")).as("n_orders"))
    val per = ob.groupBy(col("brand")).agg(count(lit(1)).as("n_brand"))
    val pairs = ob.select(col("okey"), col("brand").as("brand_a"))
      .join(ob.select(col("okey").as("o2"), col("brand").as("brand_b")),
        col("okey") === col("o2") && col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b")).agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    pairs
      .join(broadcast(per.select(col("brand").as("brand_a"),
        col("n_brand").as("n_a"))), "brand_a")
      .join(broadcast(per.select(col("brand").as("brand_b"),
        col("n_brand").as("n_b"))), "brand_b")
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        col("n_a"), col("n_b"),
        decRound((col("n_both") * col("n_orders")).cast("double")
          / (col("n_a") * col("n_b")), 6).as("lift"))
  }

  /** Daily growth accounting — the product-analytics decomposition of
    * every day's active users into `new` (first day ever), `retained`
    * (also active the previous day) and `resurrected` (returning after
    * a gap), plus `churned` (active the previous day, absent today) —
    * the four numbers DAU movement is actually explained with. Churn is
    * attributed to the day AFTER the user's last activity in a streak,
    * capped at the corpus's final day (the open edge has no observation
    * to churn against). One distinct (user, day) table, one per-user
    * window for prev/next day, one day-keyed combinable aggregate. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val marked = daily
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    val active = marked.select(col("day"),
      when(col("prev_day").isNull, "new")
        .when(datediff(col("day"), col("prev_day")) === 1, "retained")
        .otherwise("resurrected").as("cls"))
    val churned = marked.crossJoin(broadcast(maxDay))
      .filter(col("next_day").isNull || datediff(col("next_day"), col("day")) > 1)
      .withColumn("cday", date_add(col("day"), 1))
      .filter(col("cday") <= col("max_day"))
      .select(col("cday").as("day"), lit("churned").as("cls"))
    active.union(churned)
      .groupBy(col("day"))
      .agg(count(when(col("cls") === "new", 1)).as("n_new"),
        count(when(col("cls") === "retained", 1)).as("n_retained"),
        count(when(col("cls") === "resurrected", 1)).as("n_resurrected"),
        count(when(col("cls") === "churned", 1)).as("n_churned"))
      .select(fmtDate(col("day")).as("day"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
  }

  def cohortRetention(events: DataFrame): DataFrame = {
    val userWeeks = events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohorts = userWeeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    userWeeks.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .groupBy(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Latest-state extraction: the most recent event per user (the batch
    * form of streaming keyed state; see StreamOps.latestState for the
    * twin). One shuffle on user_id. Ordering is (second-truncated ts,
    * event_id) — deterministic across engines and timestamp precisions. */
  def latestEvent(events: DataFrame): DataFrame = {
    val sec = epochSec(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(sec.desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), sec.as("last_sec"),
        col("value").as("last_value"))
  }

  /** Snowflake join: brand revenue for supplier-region-filtered
    * lineitems — exercises part ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region
    * with every dimension broadcast. */
  def brandRevenue(region: DataFrame, nation: DataFrame, supplier: DataFrame,
                   part: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("p_brand"))
      .agg(decProdSum(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Flagship: region × year revenue cube over the full star.
    *
    * n_orders is a DISTINCT order count per cell. Instead of a two-phase
    * distinct aggregate over the full lineitem⋈orders join output (a
    * per-cell distinct-key exchange of every joined row — the widest
    * shuffle in the query at 100 TB), aggregate per ORDER first: the
    * grouping contains the join key, so the partial reuses the join's
    * hash partitioning shuffle-free, and the final aggregate only
    * exchanges one row per order. Revenue partials stay exact decimal
    * and are rounded ONCE at the end — bit-identical to the single-level
    * decProdSum. */
  /** Deterministic group concatenation (LISTAGG): the distinct values
    * per key, sorted, joined into one string. collect_set's order is
    * nondeterministic, so the sort happens AFTER aggregation on the
    * (small) distinct set — values are deterministic, order is imposed,
    * and the aggregate keeps map-side partials. Groups are per-key value
    * DOMAINS (bounded), not per-key rows — the shape under which listagg
    * is safe at corpus scale. */
  def typeConcat(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))

  /** Per-key modal value (most frequent event type) with a deterministic
    * tie-break (smallest type). Two-level shape: the count aggregate
    * shuffles on (key, value) — partials combine map-side — and the
    * argmax window runs over the tiny counts table, partitioned by key. */
  def modalType(events: DataFrame): DataFrame = {
    val counts = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("modal_type"), col("n"))
  }

  /** Unpivot (melt): the wide per-user event-type counts back to long
    * (user_id, event_type, n) rows — the inverse of [[pivotEvents]],
    * via the native `unpivot` operator (an Expand node: no join, no
    * shuffle — each wide row emits its 5 long rows map-side). Zero
    * counts survive, which is the semantic difference from a groupBy
    * of the raw events (a melt preserves the cell grid). */
  def unpivotCounts(events: DataFrame): DataFrame =
    pivotEvents(events).unpivot(
      Array(col("user_id")),
      Array("click", "error", "purchase", "signup", "view").map(col),
      "event_type", "n")

  /** SCD2 dimension build from an event change-log: per-user runs of
    * consecutive identical `event_type` collapse into validity intervals
    * `[valid_from, valid_to)` with a version counter and an is_current
    * flag — the standard slowly-changing-dimension type-2 load, computed
    * from the full log in one pass.
    *
    * Shape: both windows share one `(user_id)` partitioning with one
    * `(ts, event_id)` sort, so the whole build is a single shuffle +
    * single sort of the change log — the run-start filter preserves the
    * sort order, and Catalyst reuses the exchange for the second window.
    * No self-join, no per-version scans. Ordering ties on `ts` break on
    * `event_id`, so versions are deterministic across engines. */
  def scd2(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_to", lead(fmtTs(col("ts")), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        fmtTs(col("ts")).as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).cast("int").as("is_current"))
  }

  /** Point-in-time (bitemporal) lookup against the [[scd2]] dimension —
    * the query SCD2 exists to answer: join each fact row to the
    * dimension version that was valid WHEN THE FACT HAPPENED, not the
    * current one (rating an old purchase against the customer's current
    * segment is the classic silent warehouse bug). Facts are the
    * purchase events; the dimension is [[scd2]] over the NON-purchase
    * activity, so each purchase picks up the activity regime the user
    * was in at purchase time via `valid_from ≤ ts < valid_to`
    * (open-ended current version matches everything after its start).
    * Intervals are half-open on second-formatted strings, so a version
    * whose start and end fall in the same second is zero-length and
    * can never double-match — the lookup is unique by construction.
    * Purchases before a user's first version have no valid state and
    * drop (inner join). Plan: the user-keyed equi-join carries the
    * range predicate as a post-join filter — both sides shuffle once on
    * user_id, the dimension side is versions-per-user-sized. */
  def pitJoin(events: DataFrame): DataFrame = {
    val dim = scd2(events.filter(col("event_type") =!= "purchase"))
      .select(col("user_id"), col("version").as("state_version"),
        col("event_type").as("state_type"),
        col("valid_from"), col("valid_to"))
    events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"))
      .join(dim, Seq("user_id"))
      .filter(col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("state_type"), col("state_version"))
  }

  /** Robust per-group outlier detection: median/MAD gate (|x − med| >
    * k·MAD), the rank-based outlier test that a long-tailed `value`
    * domain needs — mean/stddev would let the outliers drag their own
    * threshold.
    *
    * Shape: two exact-percentile aggregates (5-row results) broadcast
    * back onto the events — the flag itself is a pure map-side
    * comparison, so the only shuffles are the two tiny per-type
    * aggregations. At 100 TB swap the exact `percentile` for
    * [[percentilesApprox]]'s GK sketch (same gate shape, bounded
    * per-group state); the exact form is what the oracle can replay.
    *
    * Cross-engine determinism: med and MAD are decimal-rounded to 4
    * decimals BEFORE the deviation/threshold comparisons (the c14
    * decimal-domain-gate discipline) — interpolated percentiles can
    * differ at one ulp between engines, and a raw `dev > 3·mad` at the
    * boundary would flip; after rounding, both sides compare identical
    * doubles. */
  def robustOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(decRound(expr("percentile(value, 0.5)"), 4).as("med"))
    val dev = events.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(decRound(expr("percentile(dev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n_total"),
        count(when(col("dev") > col("mad") * k, 1)).as("n_outliers"))
  }

  /** Interval-island coalescing (gaps-and-islands over TRUE intervals):
    * each event carries an activity interval [ts, ts + floor(value)
    * minutes]; overlapping or touching intervals per user merge into
    * islands. Unlike gap-based sessionization (q15 — distances between
    * POINTS), island detection needs the running MAX of interval ends:
    * an interval can start inside an island whose farthest end came from
    * an earlier, longer interval, which a lag-based gap test would
    * wrongly split.
    *
    * One shuffle on `user_id`, one (ts, event_id) sort shared by the
    * running-max and island-id windows, and the per-island aggregate
    * groups on (user_id, island) — a superset of the window partitioning,
    * so no further exchange. Seconds-domain integer arithmetic
    * (`floor` before the cast — ANSI double→int truncates toward zero in
    * Spark but rounds in other engines). */
  def intervalIslands(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevMax = max(col("end_sec")).over(ord.rowsBetween(Window.unboundedPreceding, -1))
    events
      .withColumn("start_sec", epochSec(col("ts")))
      .withColumn("end_sec",
        col("start_sec") + floor(col("value")).cast("long") * 60)
      .withColumn("new_island",
        when(prevMax.isNull || col("start_sec") > prevMax, 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(ord.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("start_sec")).as("island_start"),
        max(col("end_sec")).as("island_end"),
        count(lit(1)).as("n_events"))
  }

  /** RFM customer segmentation — the classic marketing partition of a
    * customer base by Recency (days from last order to the corpus's
    * final order date), Frequency (order count) and Monetary (exact
    * decimal-summed lifetime spend), each scored 1-5 by corpus-wide
    * quintile. Scores come from QUANTILE BOUNDARIES, not a rank window:
    * `ntile(5)` over all customers is a single global sort landing on
    * one task (the d16 straggler shape), while the partial-aggregating
    * `percentile` reduces map-side, broadcasts 12 doubles, and scoring
    * is a pure map — the c14/c37 calibration posture. Boundary
    * comparisons happen in the decimal-6 domain (c14's ulp discipline);
    * ties score LOW (strict `>` against each boundary), so a customer
    * sitting exactly on a quintile edge lands in the lower bucket in
    * both engines. Recency is inverted (recent = 5). */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_day"),
        count(lit(1)).as("frequency"),
        decSum(col("o_totalprice")).as("monetary"))
    val maxDay = orders.agg(max(col("o_orderdate").cast("date")).as("max_day"))
    val base = perCust.crossJoin(broadcast(maxDay))
      .select(col("o_custkey"),
        datediff(col("max_day"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex
    val boundCols =
      qs.map { case (q, i) => expr(s"percentile(recency_days, $q)").as(s"r_$i") } ++
      qs.map { case (q, i) => expr(s"percentile(frequency, $q)").as(s"f_$i") } ++
      qs.map { case (q, i) => expr(s"percentile(monetary, $q)").as(s"m_$i") }
    val bounds = base.agg(boundCols.head, boundCols.tail: _*)
    def scoreAsc(v: Column, pfx: String): Column =
      qs.map { case (_, i) => when(v > decRound(col(s"$pfx$i"), 6), 1).otherwise(0) }
        .reduce(_ + _) + 1
    base.crossJoin(broadcast(bounds))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        (lit(6) - scoreAsc(col("recency_days"), "r_")).cast("int").as("r_score"),
        scoreAsc(col("frequency"), "f_").cast("int").as("f_score"),
        scoreAsc(col("monetary"), "m_").cast("int").as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Top event-type PATHS: the order-3 behavioral n-grams product
    * analytics mines for "what do users actually do in sequence".
    * Per-user event streams ordered by (ts, event_id) — the total order
    * every windowed op in this repo uses, so concurrent events cannot
    * flip between engines — sliding trigrams via two leads, counted
    * corpus-wide with distinct-user support. Plan: one user-keyed
    * window (bounded per user, no global sort), then a combinable
    * count; at 100 TB the window partitions by user across executors
    * and the trigram count map-side-combines — no single hot reducer
    * unless one PATH dominates, and that is a 20-row output key, not a
    * per-event one. */
  def pathTrigrams(events: DataFrame, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tri = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e3").isNotNull)
    tri.groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(topK)
  }

  /** Rolling z-score anomaly detection over the daily event-count
    * series — the ops-dashboard question "which days were abnormal
    * against their own trailing baseline". Daily counts (one combinable
    * aggregate collapses the event log to ~hundreds of rows), then a
    * trailing `windowDays`-row mean/stddev EXCLUDING the current day
    * (an anomaly must not suppress its own detection), z = (count −
    * mean)/stddev in the decimal-6 domain. The window runs over the
    * post-aggregate day series — thousands of rows at ANY corpus scale,
    * so the unpartitioned ordered window is bounded by the calendar,
    * not the data (the one case where a global window is the right
    * plan). Days with fewer than `windowDays` predecessors emit a null
    * z (no baseline), never a fabricated one. */
  def dailyAnomaly(events: DataFrame, windowDays: Int = 7,
                   zThreshold: Double = 2.0): DataFrame = {
    val daily = events
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day")).rowsBetween(-windowDays, -1)
    // mean/stddev from EXACT integer window sums (s1, s2 are long sums of
    // longs), then a fixed IEEE op order both engines share — the built-in
    // stddev aggregates are Welford loops whose accumulation order is an
    // engine implementation detail, while cast→multiply→subtract→sqrt on
    // exact integers is bit-deterministic everywhere
    daily
      .withColumn("n_base", count(col("n_events")).over(w))
      .withColumn("s1", sum(col("n_events")).over(w))
      .withColumn("s2", sum(col("n_events") * col("n_events")).over(w))
      // divisions sit INSIDE the n_base guard: ANSI mode errors on any
      // zero divisor (n_base = 0 on day one, n_base − 1 = 0 on day two),
      // and CASE WHEN short-circuits in both engines
      .withColumn("mu", when(col("n_base") >= windowDays,
        col("s1").cast("double") / col("n_base")))
      .withColumn("sd", when(col("n_base") >= windowDays, sqrt(
        (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("n_base"))
          / (col("n_base") - 1))))
      .select(fmtDate(col("day")).as("day"), col("n_events"),
        when(col("n_base") >= windowDays, decRound(col("mu"), 6)).as("mean_base"),
        when(col("n_base") >= windowDays && col("sd") > 0,
          decRound((col("n_events") - col("mu")) / col("sd"), 6)).as("z"))
      .withColumn("is_anomaly",
        (col("z").isNotNull && abs(col("z")) > lit(zThreshold)).cast("int"))
  }

  /** Date-spine gap filling + last-observation-carried-forward — the
    * time-series repair every dashboard/feature pipeline runs before
    * any rolling computation (q51's windows silently mis-shift on a
    * series with holes): the full (day × event_type) spine is generated
    * from the corpus's own min/max day, missing cells join in as
    * n_events = 0, and the per-type average value forward-fills with
    * `last(ignoreNulls)` in day order (null until a type's first
    * observation — never a fabricated leading value). The spine is
    * calendar × type-dimension sized — bounded regardless of corpus
    * scale, so the cross join and the per-type ordered windows run on a
    * frame the planner can keep tiny while the event log itself only
    * ever passes through one combinable aggregate. */
  def gapFill(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // the average is ratRound on the exact scale-4 integer numerator —
    // the double-quotient decAvg hit a true decimal half on this corpus
    // (1/500 cells) and split the engines
    val daily = events
      .groupBy(col("ts").cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(DecimalType(18, 4))) * 10000)
          .cast(DecimalType(38, 0)).as("_k4"))
      // _k4 is already in 1e-4 units, so the rational is _k4/(n·10⁴)
      .withColumn("avg_value", ratRound("_k4", "n_events * 10000", 4))
      .drop("_k4")
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = daily.select(col("event_type")).distinct()
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(broadcast(types))
    spine.join(daily, Seq("day", "event_type"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("avg_value_filled",
        last(col("avg_value"), ignoreNulls = true).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .select(fmtDate(col("day")).as("day"), col("event_type"),
        col("n_events"), col("avg_value"), col("avg_value_filled"))
  }

  /** Linear interpolation over a gapped daily series — [[gapFill]]'s
    * (LOCF) sibling, the other production resampling policy: a missing
    * day takes `prev + (next − prev) · (d − d_prev)/(d_next − d_prev)`
    * between its nearest OBSERVED neighbours (edge days extend the
    * nearest known value). `withhold` marks observed days to TREAT as
    * missing — the default withholds nothing (real data comes with its
    * own gaps); the GATE passes the day-of-month %3 plant because the
    * synthetic series is dense (the t15/c24 plant idiom, kept in the
    * driver layer per the r14 review — the operator itself must never
    * discard real observations). All inputs are exact integer cents;
    * the interpolation is the identical IEEE expression on both
    * engines (integer-valued doubles, one division, one multiply, one
    * add), so the oracle hashes bit-equal without any rounding step.
    * Plan shape: one combinable daily aggregate; the neighbour windows
    * run over the CALENDAR × event-type frame — a dimension-bounded
    * post-aggregate window, the sanctioned class (q51/q52). */
  def interpolate(events: DataFrame,
                  withhold: Column => Column = _ => lit(false)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // exact scale-4 integer units (the q52 idiom): value*100 rounding
    // on arbitrary doubles could split engines; the decimal sum cannot
    val daily = events
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg((sum(col("value").cast(DecimalType(18, 4))) * 10000)
        .cast("long").as("cents"))
    val known = daily.filter(!withhold(col("day")))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = daily.select(col("event_type")).distinct()
    val spine = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(broadcast(types))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val nb = spine.join(known, Seq("day", "event_type"), "left")
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(w))
      .withColumn("pd", last(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(w))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(fwd))
      .withColumn("nd", first(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(fwd))
    nb.select(
      fmtDate(col("day")).as("day"), col("event_type"),
      when(col("cents").isNotNull, col("cents").cast("double"))
        .when(col("pv").isNotNull && col("nv").isNotNull,
          col("pv").cast("double") + (col("nv") - col("pv")).cast("double") *
            (datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")).cast("double")))
        .otherwise(coalesce(col("pv"), col("nv")).cast("double"))
        .as("value_interp"),
      col("cents").isNull.cast("int").as("is_interpolated"))
  }

  /** ABC / Pareto classification of parts by revenue — the inventory
    * 80/15/5 cut: per-part revenue (exact decimal), descending
    * cumulative share, class A while the running share is ≤ 80%, B to
    * 95%, C beyond. Class boundaries are CROSS-MULTIPLIED INTEGER
    * comparisons in the decimal domain (`5·cum ≤ 4·total`,
    * `20·cum ≤ 19·total`) — no float share ever exists, so a part
    * sitting exactly on 80.000% classifies identically everywhere.
    * The corpus-wide work is one combinable part-keyed aggregate; the
    * ordered cumulative window then runs over the PART CATALOG, whose
    * size is a dimension bound (thousands), not a fact-table bound —
    * the same post-aggregate justification as q51's calendar window.
    * `cum_share` is emitted decimal-6 for reporting; classification
    * never reads it. */
  def abcPareto(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val rev = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(decProd(col("l_extendedprice"), lit(1) - col("l_discount")))
        .cast(DecimalType(38, 2)).as("rev"))
    val total = rev.agg(sum(col("rev")).cast(DecimalType(38, 2)).as("total"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum", sum(col("rev")).over(w).cast(DecimalType(38, 2)))
      .crossJoin(broadcast(total))
      // cum/total is a true rational of cents that CAN land on an exact
      // 1e-6 half — t19's integer-rational rounding, not a double divide
      .withColumn("_k", (col("cum") * 100).cast(DecimalType(38, 0)))
      .withColumn("_m", (col("total") * 100).cast(DecimalType(38, 0)))
      .select(col("l_partkey"),
        col("rev").cast("double").as("revenue"),
        col("cum").cast("double").as("cum_revenue"),
        (expr("CAST((_k * 2000000 + _m) div (2 * _m) AS BIGINT)").cast("double")
          / lit(1000000.0)).as("cum_share"),
        when(col("cum") * 5 <= col("total") * 4, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise("C").as("abc_class"))
  }

  def revenueCube(region: DataFrame, nation: DataFrame, customer: DataFrame,
                  orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val custGeo = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val o = orders
      .join(broadcast(custGeo), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("r_name"), year(col("o_orderdate")).as("o_year"))
    val perOrder = lineitem
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("o_year"), col("o_orderkey"))
      .agg(sum(decProd(col("l_extendedprice"), lit(1) - col("l_discount"))).as("orev"))
    perOrder
      .groupBy(col("r_name"), col("o_year"))
      .agg(sum(col("orev")).cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Recursive hierarchy traversal (root + depth per node) — the
    * org-chart / BOM-explosion / category-tree query class SQL answers
    * with `WITH RECURSIVE` and Spark has no native operator for. The
    * forest is derived deterministically from the supplier catalog
    * (parent(k) = k div 10, root when k < 10 — a digits-deep decimal
    * trie, so depth grows with log10 of the key space and the shape is
    * reproducible in any engine from the keys alone).
    *
    * Spark-first: POINTER JUMPING, not row-at-a-time recursion — each
    * round joins the frame to itself on the current ancestor pointer,
    * doubling the ancestor distance covered: (anc, dist) ← (anc(anc),
    * dist + dist(anc)), with roots as fixed points (anc = self,
    * dist = 0). After r rounds every node ≤ 2^r deep has resolved its
    * root and exact depth, so `rounds = 6` covers depth 64 — far past
    * any 64-bit decimal trie (max depth 19) and, unlike a
    * parent-at-a-time loop, the shuffle count is O(log depth), never
    * O(depth). At 100 TB this is the difference between 6 key-hashed
    * self-joins (AQE-sizeable, combinable) and a 19-stage sequential
    * chain. The per-root tree size is the two-phase groupBy + join-back
    * (house rule: no corpus-keyed count window). Oracle: DuckDB replays
    * the same forest with a real `WITH RECURSIVE` walk — one engine
    * recursing and one pointer-jumping agreeing bit-for-bit IS the
    * correctness argument for the jump algebra. */
  def hierarchy(supplier: DataFrame, rounds: Int = 6): DataFrame = {
    val base = supplier.select(
      col("s_suppkey"),
      when(col("s_suppkey") < 10, col("s_suppkey"))
        .otherwise(expr("s_suppkey div 10")).as("parent_key"))
    val init = base.select(
      col("s_suppkey"),
      col("parent_key").as("anc"),
      when(col("s_suppkey") === col("parent_key"), lit(0L))
        .otherwise(lit(1L)).as("dist"))
    // Per-round materialization is load-bearing, not a tweak: a lazy
    // self-join doubles the UNRESOLVED plan every round (cur ⋈ cur
    // inlines cur twice → 2^rounds join nodes; the ExplainSourcesSpec
    // caught 34 joins in the executed plan), so each round re-executes
    // all prior rounds twice. localCheckpoint cuts the lineage — the
    // per-iteration posture the CC/PageRank/LPA family already uses —
    // and the executed plan carries ONE join per round, spec-pinned.
    val resolved = (1 to rounds).foldLeft(init.localCheckpoint()) { (cur, _) =>
      val hop = cur.select(col("s_suppkey").as("_j_key"),
        col("anc").as("_j_anc"), col("dist").as("_j_dist"))
      cur.join(hop, col("anc") === col("_j_key"))
        .select(col("s_suppkey"), col("_j_anc").as("anc"),
          (col("dist") + col("_j_dist")).as("dist"))
        .localCheckpoint()
    }
    val sizes = resolved.groupBy(col("anc")).agg(count(lit(1)).as("tree_size"))
    resolved
      .join(base, Seq("s_suppkey"))
      .join(sizes, Seq("anc"))
      .select(col("s_suppkey"), col("parent_key"),
        col("anc").as("root_key"), col("dist").cast("int").as("depth"),
        col("tree_size"))
  }

  /** Time-valued RANGE window frame — the moving aggregate that stays
    * correct over a day series WITH HOLES: `ROWS BETWEEN 6 PRECEDING`
    * silently widens its time span across gaps (the q51 family's
    * standing caveat), while `RANGE BETWEEN 6 PRECEDING AND CURRENT
    * ROW` over an integer day number keys the frame on calendar
    * distance, so a day following a 3-day gap averages only the days
    * actually inside its week. Per-priority daily revenue is the one
    * corpus-scale aggregate (combinable, key-hashed); the RANGE window
    * then runs over the calendar × priority frame — dimension-bounded,
    * the q51/q53 post-aggregate justification. Sums are exact decimal;
    * the moving average is ratRound on the exact cent numerator (cents
    * over day counts can land on true decimal halves — the q52
    * lesson). Day numbers are epoch-day integers in both engines
    * (`datediff` here, `day - DATE '1970-01-01'` in DuckDB). */
  def rangeFrame(orders: DataFrame, spanDays: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("day"),
        col("o_orderpriority").as("priority"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4)))
        .cast(DecimalType(38, 2)).as("rev"))
      .withColumn("day_num", datediff(col("day"), to_date(lit("1970-01-01"))))
    val w = Window.partitionBy(col("priority")).orderBy(col("day_num"))
      .rangeBetween(-spanDays, 0)
    daily
      .withColumn("mv_rev", sum(col("rev")).over(w).cast(DecimalType(38, 2)))
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("_cents", (col("mv_rev") * 100).cast(DecimalType(38, 0)))
      .select(fmtDate(col("day")).as("day"), col("priority"),
        col("rev").cast("double").as("day_revenue"),
        col("mv_rev").cast("double").as("mv_revenue"),
        col("n_days"),
        ratRound("_cents", "n_days * 100", 2).as("mv_avg_revenue"))
  }

  /** Period-over-period growth — the month-over-month revenue delta
    * every BI layer reports: exact decimal monthly revenue, the prior
    * month's value by lag over the CALENDAR frame (dimension-bounded —
    * the q51/q53 post-aggregate window argument), the absolute delta
    * in exact decimal, and growth in per-mille as the exact cent
    * rational (delta·1000 / prev — HUGEINT form, NULL for the first
    * month and after a zero month: a growth rate off a zero base is
    * undefined, not infinite). Months are (year·12+month) integers so
    * "prior month" is an integer predecessor, immune to calendar
    * types. One map-side-combinable aggregate; the window runs over
    * months. */
  /** SEQUENCE-GAP detection — the data-quality scan behind "did the
    * loader drop a chunk": every maximal run of MISSING ids in a key
    * sequence, reported as (gap_start, gap_end, width). The naive form
    * is one unpartitioned lag over the corpus — the forbidden global
    * window. This is the scale-safe decomposition: keys bucket by
    * `k div B`, INTRA-bucket gaps come from bucket-partitioned lags
    * (parallel), INTER-bucket gaps from adjacent present-bucket
    * (max, next min) summaries — and the summary table (n/B rows) gets
    * the SAME treatment one level up (b div B partitions), so the only
    * unpartitioned window runs over the n/B² level-2 summary: at B=4096
    * that is n/1.7·10⁷ rows — ~60k at 10¹² keys, a single executor's
    * trivial sort (a corpus past ~10¹⁴ keys would add a third summary
    * level to keep the top window constant-size; the decomposition
    * recurses unchanged). Wholly-missing buckets are inter-bucket
    * gaps by construction (absent summaries never break adjacency).
    * Distinct-then-bucket = two key-partitioned shuffles total. */
  def sequenceGaps(orders: DataFrame, bucketSize: Long = 4096): DataFrame = {
    val ks = orders.select(col("o_orderkey").as("k")).distinct()
      .withColumn("b", expr(s"k div $bucketSize"))
      .withColumn("b2", expr(s"k div ($bucketSize * $bucketSize)"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("k"))
    val intra = ks
      .withColumn("p", lag(col("k"), 1).over(wIn))
      .filter(col("p").isNotNull && col("k") - col("p") > 1)
      .select((col("p") + 1).as("gap_start"), (col("k") - 1).as("gap_end"))
    val lvl1 = ks.groupBy(col("b2"), col("b"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val w1 = Window.partitionBy(col("b2")).orderBy(col("b"))
    val inter1 = lvl1
      .withColumn("pmx", lag(col("mx"), 1).over(w1))
      .filter(col("pmx").isNotNull && col("mn") - col("pmx") > 1)
      .select((col("pmx") + 1).as("gap_start"), (col("mn") - 1).as("gap_end"))
    val lvl2 = lvl1.groupBy(col("b2"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
    val w2 = Window.orderBy(col("b2")) // n/B² rows — bounded, see scaladoc
    val inter2 = lvl2
      .withColumn("pmx", lag(col("mx"), 1).over(w2))
      .filter(col("pmx").isNotNull && col("mn") - col("pmx") > 1)
      .select((col("pmx") + 1).as("gap_start"), (col("mn") - 1).as("gap_end"))
    intra.union(inter1).union(inter2)
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("width"))
  }

  /** Deterministic POISSON-BOOTSTRAP confidence intervals — the
    * distribution-free uncertainty a metrics warehouse attaches to a
    * mean before anyone compares two segments (the online-experiment /
    * dashboard-error-bar workhorse; public idiom: the Poisson bootstrap
    * of Chamandy et al. 2012, the streaming-friendly form of Efron's
    * resampling, because each row's resample multiplicity is an
    * independent Poisson(1) draw — no global n needed, so it
    * distributes trivially).
    *
    * Everything is engine-exact: the "draw" for (row, replicate b) is
    * the project's integer hash mixed with b, reduced mod 1e6 and cut
    * at the 1e6-scaled Poisson(1) CDF (367879 / 735759 / 919699 /
    * 981012, multiplicities 0–4, the ≥5 tail's 0.37% mass truncated —
    * documented, identical on both engines); replicate means use the
    * davg decimal discipline. CI = the 2nd / (B−1)th order statistics
    * of the B=32 replicate means (≈ the 3rd/97th percentile envelope).
    *
    * Scale shape: the explode is a bounded ×B map-side fan-out feeding
    * ONE (segment, b)-keyed partial aggregation; the order-statistic
    * window runs over B rows per segment — dimension-bounded. */
  def bootstrapCi(orders: DataFrame, b: Int = 32): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // b mixes into the MULTIPLICAND (row-residue + b·1000003) before the
    // Knuth multiply — an additive post-multiply b-offset (the first
    // cut's b·97) shifts u by a near-constant and leaves each row's
    // multiplicity almost IDENTICAL across replicates: the bootstrap
    // distribution collapses to a point off the sample mean (measured:
    // 2 of 5 segments missed their own mean). Multiplicand mixing
    // decorrelates replicates; max operand ≈ 3.3e7·2.65e9 ≪ Long.Max.
    val u = pmod((pmod(col("o_orderkey"), lit(1000003L)) + col("b") * 1000003L)
      * 2654435761L + 104729L, lit(1000000L))
    val mult = when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L).otherwise(4L)
    val rep = orders
      .select(col("o_orderkey"), col("o_orderpriority").as("seg"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("price"))
      .withColumn("b", explode(sequence(lit(0L), lit((b - 1).toLong))))
      .withColumn("m", mult)
      .groupBy(col("seg"), col("b"))
      .agg(sum(col("price") * col("m")).as("_s"), sum(col("m")).as("_n"))
      .withColumn("mean_b",
        (col("_s").cast("double") / col("_n")).cast(DecimalType(38, 4))
          .cast("double"))
    val w = Window.partitionBy(col("seg")).orderBy(col("mean_b"))
    val stats = rep.withColumn("rk", row_number().over(w))
      .groupBy(col("seg"))
      .agg(max(when(col("rk") === 2, col("mean_b"))).as("boot_lo"),
        max(when(col("rk") === b - 1, col("mean_b"))).as("boot_hi"))
    val full = orders.groupBy(col("o_orderpriority").as("seg"))
      .agg(count(lit(1)).as("n"),
        (sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double")
          / count(lit(1))).cast(DecimalType(38, 4)).cast("double")
          .as("mean_full"))
    full.join(stats, Seq("seg"))
      .select(col("seg"), col("n"), col("mean_full"),
        col("boot_lo"), col("boot_hi"))
  }

  /** Interval CALENDARIZATION — the revenue-recognition / billing
    * proration every finance warehouse runs: a service interval
    * [start, end] with an invoice amount is split across the calendar
    * months it spans, each month receiving its day-weighted share.
    * Intervals derive deterministically from orders (duration =
    * 30 + o_orderkey % 120 days).
    *
    * The allocation is EXACT by construction — the cumulative-floor
    * trick: month m's share = ⌊units·cumdays_m/total⌋ −
    * ⌊units·cumdays_{m−1}⌋/total⌋, all integer arithmetic on scale-4
    * currency units, so the per-month pieces telescope to the invoice
    * amount EXACTLY (no penny drift, no largest-remainder pass, no
    * float anywhere — spec-pinned per order). Cross-engine safe because
    * every step is integer div on exact decimal-derived units.
    *
    * Scale shape: explode is bounded (≤ ~5 months per interval), the
    * running window partitions BY ORDER (a handful of rows each), and
    * the only corpus-wide operation is the final month-keyed partial
    * aggregation. */
  def calendarize(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val iv = orders.select(
      col("o_orderkey"),
      col("o_orderdate").as("s"),
      date_add(col("o_orderdate"),
        (lit(30) + pmod(col("o_orderkey"), lit(120))).cast("int")).as("e"),
      (col("o_totalprice").cast(DecimalType(12, 4)) * 10000)
        .cast("long").as("units"))
    val byMonth = iv
      .withColumn("mo", explode(sequence(trunc(col("s"), "MM"),
        trunc(col("e"), "MM"), expr("interval 1 month"))))
      .withColumn("ov",
        datediff(least(col("e"), last_day(col("mo"))),
          greatest(col("s"), col("mo"))) + 1)
      .withColumn("total", datediff(col("e"), col("s")) + 1)
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("mo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byMonth
      .withColumn("cum", sum(col("ov")).over(w))
      .withColumn("alloc",
        expr("(units * cum) div total - (units * (cum - ov)) div total"))
      .groupBy(date_format(col("mo"), "yyyy-MM").as("month"))
      .agg((sum(col("alloc")).cast("double") / 10000)
          .cast(DecimalType(38, 4)).cast("double").as("revenue"),
        count(lit(1)).as("n_active"))
  }

  def growthRate(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val monthly = orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("ym"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4)))
        .cast(DecimalType(38, 2)).as("rev"))
    val w = Window.orderBy(col("ym"))
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .withColumn("_dc", ((col("rev") - col("prev")) * 100)
        .cast(DecimalType(38, 0)))
      .withColumn("_pc", (col("prev") * 100).cast(DecimalType(38, 0)))
      .select(
        format_string("%04d-%02d", expr("(ym - 1) div 12"),
          pmod(col("ym") - 1, lit(12)) + 1).as("month"),
        col("rev").cast("double").as("revenue"),
        col("prev").cast("double").as("prev_revenue"),
        (col("rev") - col("prev")).cast("double").as("delta"),
        when(col("prev").isNotNull && col("prev") > 0,
          ratRound("_dc * 1000", "_pc", 2)).as("growth_pm"))
  }

  /** Cohort LTV (lifetime-value) curve — q34's retention matrix with
    * MONEY in the cells: customers cohort by first-order month, and
    * each (cohort, month-offset) cell reports that month's exact
    * decimal revenue, the running cumulative revenue, and cumulative
    * value PER COHORT MEMBER (the LTV number payback/CAC decisions
    * read). Months are (year·12 + month) integers — offset arithmetic
    * is exact and engine-identical, the cohort label rebuilt by
    * integer div/mod. The corpus-scale work is one customer-keyed
    * first-order aggregate + one (cohort, offset) revenue aggregate
    * (both map-side-combinable); the cumulative window runs over the
    * calendar² cohort×offset frame (q51's post-aggregate argument).
    * LTV is ratRound on exact cents over the cohort headcount. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val om = orders.select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"),
      col("o_totalprice"))
    val first = om.groupBy(col("o_custkey")).agg(min(col("ym")).as("cym"))
    val sizes = first.groupBy(col("cym")).agg(count(lit(1)).as("n_custs"))
    val rev = om.join(first, Seq("o_custkey"))
      .groupBy(col("cym"), (col("ym") - col("cym")).cast("int").as("offset"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4)))
        .cast(DecimalType(38, 2)).as("rev"))
    val w = Window.partitionBy(col("cym")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum", sum(col("rev")).over(w).cast(DecimalType(38, 2)))
      .join(sizes, Seq("cym"))
      .withColumn("_cents", (col("cum") * 100).cast(DecimalType(38, 0)))
      .select(
        format_string("%04d-%02d", expr("(cym - 1) div 12"),
          pmod(col("cym") - 1, lit(12)) + 1).as("cohort"),
        col("offset"), col("n_custs"),
        col("rev").cast("double").as("revenue"),
        col("cum").cast("double").as("cum_revenue"),
        ratRound("_cents", "n_custs * 100", 2).as("ltv"))
  }

  /** Join-key skew profiler — the diagnostic every Spark engineer runs
    * BEFORE reaching for q27's salting or AQE skew hints: which keys
    * are hot, how hot, and whether the heat justifies a mitigation.
    * Per top-k key (by count desc, key — a deterministic TakeOrdered,
    * never a global sort): its row count, exact per-mille share, the
    * running cumulative share, and `skew_x` = count·n_keys/total — how
    * many times the MEAN key this key weighs (the number a salting
    * decision actually reads; >10× is the classic straggler bar,
    * surfaced as `is_hot` via integer cross-multiplication). Global
    * key count and total ride along on every row.
    *
    * Scale shape: ONE map-side-combinable key count over the fact
    * table; the key-count table collapses to scalars + a top-k
    * TakeOrdered; the cumulative window runs over k rows. Nothing
    * about the diagnosis costs more than the aggregation the join
    * itself would pay. */
  def skewProfile(events: DataFrame, topK: Int = 20,
                  hotX: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("n").desc, col("user_id")).limit(topK)
    val w = Window.orderBy(col("n").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("user_id"))))
      .withColumn("cum_n", sum(col("n")).over(w))
      .crossJoin(broadcast(totals))
      .select(col("rank"), col("user_id"), col("n").as("n_rows"),
        col("n_keys"), col("total"),
        ratRound("n * 1000", "total", 4).as("share_pm"),
        ratRound("cum_n * 1000", "total", 4).as("cum_pm"),
        ratRound("n * n_keys", "total", 2).as("skew_x"),
        (col("n").cast(DecimalType(38, 0)) * col("n_keys") >
          lit(hotX).cast(DecimalType(38, 0)) * col("total"))
          .cast("int").as("is_hot"))
  }

  /** Column profiler — the data-quality pass every ingest runs BEFORE
    * trusting a new batch (null spikes, cardinality collapse, and
    * range drift are the three classic upstream-broke-something
    * signals): per profiled column, row count, null count, exact
    * distinct count, and min/max rendered as strings (one uniform
    * long-format schema regardless of column types; callers profile
    * integer/date/string columns — float formatting is
    * engine-ambiguous and belongs behind a decimal cast if needed).
    * ONE aggregate pass over the data computes every statistic
    * (count/min/max partial-aggregate map-side; each countDistinct
    * expands to its own distinct aggregate — cost scales with the
    * PROFILED column list, a caller choice, never with row count
    * beyond the shared scan), then a dimension-sized explode unpivots
    * the single result row to long format. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"_cnt_$c"),
      countDistinct(col(c)).as(s"_dst_$c"),
      min(col(c)).cast("string").as(s"_min_$c"),
      max(col(c)).cast("string").as(s"_max_$c")))
    df.agg(count(lit(1)).as("_n"), aggs: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("_n").as("n_rows"),
        (col("_n") - col(s"_cnt_$c")).as("n_nulls"),
        col(s"_dst_$c").as("n_distinct"),
        col(s"_min_$c").as("min_val"),
        col(s"_max_$c").as("max_val"))): _*)).as("p"))
      .select(col("p.col_name"), col("p.n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min_val"), col("p.max_val"))
  }

  /** One relation's audit row for [[fkAudit]]: parent collapses to
    * DISTINCT keys (projection + partial agg; dims broadcast under AQE),
    * one left join, one conditional aggregate — n_child / n_orphan /
    * distinct orphan keys all partial-aggregate map-side, and the
    * orphan rate is an exact integer ppm (ratRound — no doubles on the
    * decision path). */
  private def fkRelation(rel: String, child: DataFrame, childKey: Column,
                         parent: DataFrame, parentKey: String): DataFrame = {
    val pk = parent.select(col(parentKey).as("_pk")).distinct()
    child.select(childKey.as("_ck"))
      .join(pk, col("_ck") === col("_pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        count(when(col("_pk").isNull, lit(1))).as("n_orphan"),
        countDistinct(when(col("_pk").isNull, col("_ck"))).as("n_orphan_keys"))
      .select(lit(rel).as("relation"), col("n_child"), col("n_orphan"),
        col("n_orphan_keys"),
        ratRound("n_orphan * 1000000", "n_child", 0)
          .cast("bigint").as("orphan_ppm"))
  }

  /** EXACT audience overlap via bit-packed user bitmaps — the precise
    * counterpart of the HLL inclusion–exclusion estimate (c64), and
    * the warehouse bitmap-index idiom (roaring's dense case): each
    * segment's user set becomes ⌈|universe|/64⌉ packed words
    * (user_id div 64 → word index, a single set bit inside), built by
    * ONE map-side-combinable bit_or aggregate; pairwise intersections
    * then join on the 8-byte word index and sum popcounts — work
    * ∝ segments² × words, never a user-level self-join, and the word
    * table is a 64× compression of the distinct-membership table. The
    * oracle is INDEPENDENT machinery: plain distinct sets and a
    * user-keyed join — so a packing, popcount or join bug hash-fails
    * against relational ground truth. Sign bit is safe: packing,
    * bit_or, AND and bit_count all act on the raw two's-complement
    * pattern. */
  def bitmapOverlap(events: DataFrame): DataFrame = {
    val words = events.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        expr("user_id div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("b"))
      .groupBy(col("event_type"), col("w"))
      .agg(expr("bit_or(b)").as("bits"))
      .localCheckpoint()
    val totals = words.groupBy(col("event_type"))
      .agg(sum(bit_count(col("bits")).cast("long")).as("n"))
    val a = words.select(col("event_type").as("type_a"), col("w"),
      col("bits").as("ba"))
    val b = words.select(col("event_type").as("type_b"), col("w"),
      col("bits").as("bb"))
    val ov = a.join(b, Seq("w")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(bit_count(col("ba").bitwiseAND(col("bb"))).cast("long"))
        .as("n_ov"))
    // the pair spine comes from the (tiny) totals cross — a pair whose
    // segments never share a word block still reports overlap 0
    totals.select(col("event_type").as("type_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("event_type").as("type_b"),
        col("n").as("n_b")))
      .filter(col("type_a") < col("type_b"))
      .join(ov, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        coalesce(col("n_ov"), lit(0L)).as("n_overlap"))
  }

  /** Distribution-moment profile per group — the monitoring layer
    * q56's min/max/distinct profile lacks: exact mean/stddev plus the
    * SHAPE moments (skewness, excess kurtosis) that tell a pipeline a
    * value column went fat-tailed or lopsided before any fixed
    * threshold fires. Cross-engine determinism the q52 way: values
    * become exact scale-4 integer units; the per-group mean rounds to
    * that grid (ratRound — a well-defined statistic, and the 1e-4-unit
    * shift is statistically irrelevant); the CENTERED power sums are
    * exact DECIMAL(38,0) integers (order-independent, map-side
    * combinable; bound: |u|⁴·n ≤ 10³⁸ holds through ~10¹⁰ rows/group at
    * |value| ≤ 10³ — past that, pre-aggregate per sub-key and re-sum);
    * only the FINAL skew/kurt formulas run in IEEE doubles, computed
    * from identical exact integers with identical expression shapes in
    * both engines. Two corpus passes (stats, centered sums) + one
    * broadcast join of the group-stats row set. */
  def moments(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val u = (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
      * 10000).cast(dec)
    val base = events.select(col("event_type"), u.as("u"))
    val stats = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("s"))
      .withColumn("mean_u", ratRound("s", "n", 0).cast("long"))
      .select(col("event_type"), col("n"), col("mean_u"))
    val m = base.join(broadcast(stats), Seq("event_type"))
      .withColumn("c", col("u") - col("mean_u").cast(dec))
      .groupBy(col("event_type"), col("n"), col("mean_u"))
      .agg(sum((col("c") * col("c")).cast(dec)).as("sc2"),
        sum((col("c") * col("c") * col("c")).cast(dec)).as("sc3"),
        sum((col("c") * col("c") * col("c") * col("c")).cast(dec)).as("sc4"))
    val a2 = col("sc2").cast("double") / col("n").cast("double")
    val a3 = col("sc3").cast("double") / col("n").cast("double")
    val a4 = col("sc4").cast("double") / col("n").cast("double")
    m.select(col("event_type"), col("n"),
      (col("mean_u").cast("double") / 10000.0).as("mean"),
      (sqrt(a2) / 10000.0).as("stddev"),
      when(col("sc2") > 0, a3 / (a2 * sqrt(a2))).otherwise(0.0).as("skewness"),
      when(col("sc2") > 0, a4 / (a2 * a2) - 3.0).otherwise(0.0)
        .as("kurtosis_excess"))
  }

  /** Benford first-digit expectations in exact ppm (log10(1 + 1/d)
    * rounded to a millionth — they sum to exactly 1,000,000). Entered
    * as LITERALS on both engines: the law's constants are data, so no
    * cross-engine transcendental ever runs on the decision path. */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** SQL CASE over the literal table — shared text between the Spark
    * expression and the DuckDB oracle so the two can never diverge. */
  private[graft] def benfordCaseSql(digitCol: String): String =
    s"CASE $digitCol " +
      BenfordPpm.map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ") +
      " END"

  /** Benford first-digit audit — the classic fraud / data-quality
    * screen over a monetary column: naturally-grown amounts follow
    * log10(1 + 1/d) first-digit frequencies, while fabricated or
    * template-generated values don't. Output per leading digit:
    * observed count, exact integer-ppm share (ratRound — no division
    * on the decision path), the literal Benford expectation, and the
    * signed deviation. Digit extraction goes through the exact cent
    * integer's DECIMAL STRING (first char), never log10 of a double —
    * bit-identical in any engine. Plan: one map + one 9-group
    * aggregate; the 1-row total broadcasts back. */
  def benford(orders: DataFrame): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val counts = orders.filter(col("o_totalprice") > 0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    counts.join(broadcast(tot))
      .withColumn("share_ppm",
        ratRound("n * 1000000", "total", 0).cast("bigint"))
      .withColumn("expected_ppm",
        expr(benfordCaseSql("digit")).cast("bigint"))
      .select(col("digit"), col("n"), col("share_ppm"), col("expected_ppm"),
        (col("share_ppm") - col("expected_ppm")).as("delta_ppm"))
  }

  /** Referential-integrity audit — the data-quality gate a warehouse
    * runs at every ingest: for each FK relation of the star, how many
    * child rows point at a MISSING parent (orphans), over how many
    * distinct missing keys, at what rate. A broken upstream extract
    * shows up here before it silently drops rows from every inner join
    * downstream. The synthetic star is referentially clean by
    * construction, so violations are PLANTED deterministically (the
    * c24/t15 plant idiom): a keyed slice of each child's FK column is
    * remapped out of the parent's key space, and the oracle replays the
    * same remap — a wrong join, a dropped relation or a miscounted
    * distinct all hash-fail.
    *
    * Plan shape: five independent join+aggregate pipelines (one per
    * relation) unioned — no corpus-wide sort, no window; each relation
    * is one shuffle on its key (or a broadcast for the dim-sized
    * parents). At 100 TB the audit reads each fact table once per
    * relation it anchors; orphan rate lands as exact integer ppm via
    * the DECIMAL(38)-safe [[graft.functions.ColumnFns.ratRound]]. */
  def fkAudit(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
              supplier: DataFrame, nation: DataFrame,
              part: DataFrame): DataFrame = {
    val plantedLo = when(pmod(col("l_orderkey"), lit(97)) === 0,
      col("l_orderkey") + 1000000000L).otherwise(col("l_orderkey"))
    val plantedLp = when(pmod(col("l_orderkey") * 7 + col("l_linenumber"),
      lit(83)) === 0, col("l_partkey") + 1000000000L).otherwise(col("l_partkey"))
    val plantedOc = when(pmod(col("o_orderkey"), lit(89)) === 0,
      col("o_custkey") + 1000000000L).otherwise(col("o_custkey"))
    val plantedCn = when(pmod(col("c_custkey"), lit(71)) === 0,
      col("c_nationkey") + 100L).otherwise(col("c_nationkey"))
    val plantedSn = when(pmod(col("s_suppkey"), lit(19)) === 0,
      col("s_nationkey") + 100L).otherwise(col("s_nationkey"))
    fkRelation("lineitem_orders", lineitem, plantedLo, orders, "o_orderkey")
      .unionAll(fkRelation("lineitem_part", lineitem, plantedLp,
        part, "p_partkey"))
      .unionAll(fkRelation("orders_customer", orders, plantedOc,
        customer, "c_custkey"))
      .unionAll(fkRelation("customer_nation", customer, plantedCn,
        nation, "n_nationkey"))
      .unionAll(fkRelation("supplier_nation", supplier, plantedSn,
        nation, "n_nationkey"))
  }
}
