package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational demos over the harness star schema (SURVEY §2.9) — the
  * group-by / join / window / rollup / JSON / event-window surface the
  * reference lacks but an LLM-data pipeline at 100 TB needs daily.
  *
  * Plan-shape notes (verified via `.explain("formatted")`):
  *  - filters + column selection push into the parquet scans
  *    (`PushedFilters`, pruned `ReadSchema`);
  *  - dimension sides of joins are `broadcast()` — no shuffle of the fact
  *    table for dim joins; only genuine aggregations shuffle, with
  *    map-side partial aggregation;
  *  - top-n per group uses `row_number` ≤ n → `WindowGroupLimit`
  *    (map-side partial top-k);
  *  - every query ends in a total order + rounding so the DuckDB oracle
  *    hash-matches (SURVEY §7.4 determinism).
  */
object Relational {

  /** TPC-H Q1-style pricing summary: one scan, map-side partial agg. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-style: broadcast dims, aggregate revenue, top-10. */
  def topRevenueOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    li.join(broadcast(ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey").asc)
      .limit(10)
  }

  /** Top-3 orders per customer by totalprice — WindowGroupLimit path. */
  def topOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    Knn.rankTopK(Tables.orders(spark, sfDir), Seq(col("o_custkey")),
        Seq(desc("o_totalprice"), col("o_orderkey").asc), lit(3), "rn")
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Revenue rollup over region→nation (grouping-set aggregation).
    * NULL group keys are coalesced to 'ALL' so sort keys stay non-null
    * (Spark and DuckDB disagree on default NULL ordering).
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val dims = cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    ord
      .join(broadcast(dims), ord("o_custkey") === dims("c_custkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_revenue"), count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("total_revenue"),
        col("n_orders"))
      .orderBy(col("region"), col("nation"))
  }

  /** Tumbling 1-hour event windows — batch analog of the streaming agg
    * (graft.streaming.EventStream runs the same plan incrementally).
    */
  def eventsHourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** JSON scalar extraction from the `props` payload column. */
  def eventsJson(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      // try_cast, not cast: crawl-shaped props carry malformed/nested/
      // overflowing JSON, and under ANSI mode (Spark 4 default) a plain
      // cast ABORTS the whole scan on the first bad row — ingest
      // analytics must degrade per-row to NULL instead
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Gap-based sessionization (30-min inactivity) via lag + running sum —
    * the batch analog of stateful stream sessionization.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    // microsecond precision, matching the oracle's epoch_us comparison:
    // cast-to-long truncates to SECONDS, so a true gap of 1800.4 s
    // compares as 1800 and silently joins two sessions the oracle splits
    val newSession = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser) > 1800000000L,
      lit(1L)).otherwise(lit(0L))
    Tables.events(spark, sfDir)
      // CONTRACT (shared with the streaming sessionizer): session
      // identity requires a non-null user key AND a non-null event
      // time — a null-key event belongs to no user's timeline and a
      // null-time event has no position on one. Excluded explicitly
      // on both the batch and stream sides so the stream≡batch
      // guarantee holds on crawl-shaped input too.
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("session_id", sum(newSession).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Set operations (union / intersect / except) over customer key sets —
    * the relational surface the reference lacks entirely (SURVEY §2.9).
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val highValue = ord.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
    val urgent = ord.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val u = highValue.union(urgent).distinct().withColumn("set_op", lit("union"))
    val i = highValue.intersect(urgent).withColumn("set_op", lit("intersect"))
    val e = highValue.except(urgent).withColumn("set_op", lit("except"))
    u.unionByName(i).unionByName(e)
      .groupBy(col("set_op"))
      .agg(count(lit(1)).as("n_customers"), min(col("o_custkey")).as("min_key"),
        max(col("o_custkey")).as("max_key"))
      .orderBy(col("set_op"))
  }

  /** Date / math scalar-function gallery over orders — year/month/dow
    * extraction, datediff, math funcs — grouped so output stays small.
    */
  def dateMathFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        datediff(to_date(lit("2002-01-01")), col("o_orderdate")).cast("long").as("age_days"),
        col("o_totalprice"))
      .groupBy(col("yr"), col("mo"))
      .agg(
        count(lit(1)).as("n"),
        min(col("dow")).as("min_dow"),
        max(col("age_days")).as("max_age_days"),
        // domain guards: a warehouse accumulates refund/correction rows
        // with negative totals, and sqrt(neg) is NaN (which POISONS the
        // whole sum — one bad row NaNs the group) while DuckDB's
        // ln(neg) ERRORS; out-of-domain inputs degrade to NULL per row
        // on both engines instead
        round(sum(when(col("o_totalprice") >= 0, sqrt(col("o_totalprice")))), 4)
          .as("sum_sqrt_price"),
        round(avg(pow(col("o_totalprice"), 2) / 1e9), 4).as("avg_sq_price_b"),
        round(sum(when(col("o_totalprice") > 0, log(col("o_totalprice")))), 4)
          .as("sum_ln_price"),
        round(max(abs(col("o_totalprice") - 100000.0)), 2).as("max_abs_dev"))
      .orderBy(col("yr"), col("mo"))

  /** As-of join: for each purchase event, the most recent prior-or-equal
    * 'view' event of the same user. Spark has no ASOF JOIN operator —
    * composed from built-ins per the preference ladder (SURVEY §7.3):
    * union the two tagged streams, carry the last view timestamp forward
    * with a running `max` window, filter to purchases. One shuffle
    * (user_id), no pairwise join at all — at 100 TB this beats a range
    * join by never materializing candidate pairs. Oracle: DuckDB's
    * native ASOF JOIN.
    */
  def asofViewBeforePurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("last_view_us",
        max(when(col("event_type") === "view", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .filter(col("last_view_us").isNotNull)
      .select(
        col("user_id"), col("event_id"),
        col("ts").as("purchase_ts"),
        timestamp_micros(col("last_view_us")).as("view_ts"),
        (unix_micros(col("ts")) - col("last_view_us")).as("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Non-equi (range) join: classify event values against a small tier
    * table of [lo, hi) bands. The tier side is broadcast → a
    * BroadcastNestedLoopJoin whose inner loop is 4 comparisons — the
    * right shape when one side is tiny; banded/bucketed pre-join is the
    * alternative when both sides are large.
    */
  def rangeJoinTiers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq(
      ("bronze", 0.0, 50.0), ("silver", 50.0, 120.0),
      ("gold", 120.0, 180.0), ("platinum", 180.0, 1e9))
      .toDF("tier", "lo", "hi")
    Tables.events(spark, sfDir)
      .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
        round(min(col("value")), 2).as("min_v"), round(max(col("value")), 2).as("max_v"))
      .orderBy(col("tier"))
  }

  /** Pivot: per-user event-type counts as columns (conditional
    * aggregation under the hood — the oracle mirrors it with CASE).
    */
  def pivotEventTypes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Ranking / navigation window-function gallery per customer. */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"), col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") < 20)
      .select(
        col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(lead(col("o_totalprice"), 1, 0.0).over(w), 2).as("next_price"),
        round(lag(col("o_totalprice"), 1, 0.0).over(w), 2).as("prev_price"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  /** String scalar-function gallery over documents. */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 50)
      .select(
        col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head_upper"),
        reverse(substring(col("text"), 1, 8)).as("head_rev"),
        regexp_replace(substring(col("text"), 1, 20), " ", "_").as("head_snake"),
        lpad(col("doc_id").cast("string"), 6, "0").as("id_padded"),
        instr(col("text"), "data").cast("long").as("data_pos"),
        levenshtein(substring(col("text"), 1, 10), lit("the fast k")).cast("long").as("lev"),
        length(trim(col("text"))).cast("long").as("trimmed_len"),
        concat_ws("|", col("lang"), col("source")).as("tag"))
      .orderBy(col("doc_id"))

  /** Salted two-phase aggregation (Skew.saltedSumCount) — answer equals
    * the plain group-by (that is the oracle), plan survives a hot key.
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Skew.saltedSumCount(Tables.events(spark, sfDir), "user_id", "value", "event_id", 8)
      .orderBy(col("user_id"))

  /** CUBE over (region, priority): all 4 grouping combinations in one
    * pass (grouping-set expansion happens map-side before the shuffle).
    */
  def revenueCube(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    val dims = cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    Tables.orders(spark, sfDir)
      .join(broadcast(dims), col("o_custkey") === dims("c_custkey"))
      .cube(col("r_name"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"), count(lit(1)).as("n"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total"), col("n"))
      .orderBy(col("region"), col("priority"))
  }

  /** SQL front-end surface: temp views + `spark.sql` with GROUPING SETS
    * (identical text runs on the DuckDB oracle).
    */
  def groupingSetsSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  /** HLL sketch vs exact distinct (engine-specific sketch — driver does
    * a rows-only check; no cross-engine oracle for sketch internals).
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** KMV (k-minimum-values) distinct-count sketch — unlike HLL
    * (engine-specific registers, rows-only checkable), KMV over the
    * portable md5-based hash is DETERMINISTIC and reproducible across
    * engines, so the sketch VALUES hash-match the DuckDB oracle.
    * Estimator: with fewer than k distinct hashes the set is exact;
    * otherwise n̂ = (k−1)·2³² / h₍ₖ₎ where h₍ₖ₎ is the k-th smallest
    * hash. Mergeable the same way HLL is (union of min-sets → re-take k
    * smallest). The k-min set comes from [[graft.functions.KmvMinsAgg]],
    * a TypedImperativeAggregate whose buffer holds AT MOST k longs per
    * group regardless of cardinality (the declarative
    * `slice(sort_array(collect_set), 1, k)` is value-identical but its
    * state is O(cardinality) — it collects everything before slicing).
    * The exact countDistinct column is kept for comparison; it is the
    * thing the sketch replaces at scale.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame =
    // no pre-aggregation .distinct(): both consumers dedup already
    // (countDistinct by contract, the KMV TreeSet by construction), and
    // a distinct here would be an extra O(cardinality)-state shuffle —
    // exactly what the sketch exists to avoid
    Tables.events(spark, sfDir)
      .select(col("event_type"), Dedup.h32(col("user_id").cast("string")).as("h"))
      .groupBy(col("event_type"))
      .agg(
        graft.functions.KmvMinsAgg.kmvMins(col("h"), k).as("mins"),
        countDistinct(col("h")).as("nd"))
      .select(
        col("event_type"),
        col("nd").as("exact_distinct_hashes"),
        round(
          when(col("nd") < k, col("nd").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
              element_at(col("mins"), k).cast("double")), 4).as("kmv_estimate"))
      .orderBy(col("event_type"))

  /** Production-shaped KMV: sketch ONLY — no exact `countDistinct`
    * companion. [[kmvDistinct]] keeps the exact column so the demo can
    * show estimate-vs-truth, but that companion reintroduces the
    * O(cardinality) aggregation state the sketch exists to avoid; THIS
    * is the shape a 100 TB job runs. "Fewer than k hashes seen" is read
    * off the sketch itself (`size(mins) < k` — the buffer holds every
    * distinct hash until it saturates), so the estimator needs no
    * second aggregate at all.
    */
  def kmvDistinctSketchOnly(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), Dedup.h32(col("user_id").cast("string")).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvMinsAgg.kmvMins(col("h"), k).as("mins"))
      .select(
        col("event_type"),
        size(col("mins")).cast("long").as("sketch_size"),
        round(
          when(size(col("mins")) < k, size(col("mins")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
              element_at(col("mins"), k).cast("double")), 4).as("kmv_estimate"))
      .orderBy(col("event_type"))

  /** Multi-aggregate stats (stddev / exact distinct / approx median)
    * per order-priority — the "wide agg" shape.
    *
    * The median is `approx_percentile` (Greenwald-Khanna sketch, bounded
    * aggregation state) rather than exact `percentile`, which buffers
    * EVERY group value in one reducer's buffer — unbounded per-group
    * state at 100 TB, the same failure class as an unpartitioned
    * window. The sketch value is engine-specific, so the CHECKED output
    * carries `median_within_bound` instead of the raw estimate (the
    * `q_approx_distinct` pattern): a second bounded-state pass counts
    * per group how many values sit at or below the estimate, and that
    * rank must land within 1% of n/2. The GK rank guarantee at
    * accuracy=10000 is n/10000 — the check is 100x looser, so duplicate
    * values can never flake it, while a broken sketch still fails it.
    * The oracle emits the same exact columns and literal TRUE.
    */
  def orderStats(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val base = orders
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"),
        round(stddev_samp(col("o_totalprice")), 4).as("sd_price"),
        countDistinct(col("o_custkey")).as("n_customers"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("__amed"))
    // rank check: one more scan, but every aggregate in it is a plain
    // conditional sum against the broadcast (5-row) medians table
    val rank = orders
      .join(broadcast(base.select(col("o_orderpriority"), col("__amed"))),
        Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(col("o_totalprice") <= col("__amed"), 1L).otherwise(0L)).as("__le"))
    base.join(rank, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"), col("sum_price"), col("sd_price"),
        col("n_customers"),
        (abs(col("__le").cast("double") - col("n").cast("double") / 2) <=
          greatest(col("n").cast("double") * 0.01, lit(2.0))).as("median_within_bound"))
      .orderBy(col("o_orderpriority"))
  }

  /** Histogram-sketch quantiles: per-group equi-width histogram of
    * `valCol` (`bins` buckets over the group's own [min, max]), then
    * quantile estimates by linear interpolation inside the bucket
    * holding the target rank — the mergeable bounded-state quantile
    * the sketch family (KMV / Misra-Gries / Bloom / CMS) lacked.
    * Unlike `approx_percentile` (engine-specific sketch internals —
    * rows-only checkable) or exact `percentile` (O(distinct values)
    * state), the histogram estimate is a pure arithmetic function of
    * the bucket counts, so BOTH the state and the estimates are
    * deterministic and oracle-hashable, and the error is bounded by
    * the bucket width by construction. Two passes: per-group range
    * (one shuffle of `groups` rows), then bucket counts (one shuffle
    * of `groups x bins` rows, map-side combined) — at 100 TB both
    * shuffle volumes are index-sized, never data-sized, which is the
    * point of histogramming instead of sorting.
    *
    * CARDINALITY CONTRACT: the per-group stats table is BROADCAST back
    * onto the data (the explicit hint below), which is what keeps the
    * data side unshuffled — so `groupCol`'s distinct count must fit
    * the broadcast budget (collected to the driver once; Spark fails
    * loudly past `spark.sql.autoBroadcastJoinThreshold`-class limits,
    * it does not spill). That is the right trade for the dashboard
    * shape this implements (few groups, huge data). For
    * data-sized group cardinality, drop the hint so the planner picks
    * a shuffled join — at that point the groupCol exchange IS
    * data-sized and histogramming's shuffle advantage is gone anyway.
    * Output: `(group, q, n, est)` — one row per requested quantile.
    */
  def histogramQuantiles(df0: DataFrame, groupCol: String, valCol: String,
      bins: Int, qs: Seq[Double]): DataFrame = {
    require(bins >= 2, s"bins ($bins) must be >= 2")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1]: $qs")
    val v = col(valCol).cast("double")
    // standard quantile semantics: NULL measures are ignored (they
    // would otherwise count toward n while falling into a NULL bucket
    // that Spark's window sorts first and DuckDB's sorts last — a
    // silent cross-engine divergence); groups that are all-NULL vanish
    val df = df0.filter(v.isNotNull)
    val stats = df.groupBy(col(groupCol))
      .agg(min(v).as("__lo"), max(v).as("__hi"), count(lit(1)).as("n"))
      .withColumn("__w", (col("__hi") - col("__lo")) / bins)
    val bucket = when(col("__w") > 0.0,
      least(floor((v - col("__lo")) / col("__w")), lit(bins - 1)).cast("long"))
      .otherwise(lit(0L))
    // group stats ride the count aggregation as per-group-constant mins
    // (no second scan/join of `df` for the range pass-through)
    val counts = df
      .join(broadcast(stats), Seq(groupCol))
      .withColumn("__b", bucket)
      .groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"),
        min(col("__lo")).as("__lo"), min(col("__w")).as("__w"), min(col("n")).as("n"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum(col("__c")).over(wCum))
    // explode the quantile list against every bucket; the target bucket
    // for q is the FIRST whose cumulative count reaches rank = q*n
    val wFirst = Window.partitionBy(col(groupCol), col("q")).orderBy(col("__b"))
    cum
      .withColumn("q", explode(lit(qs.toArray)))
      .withColumn("__rank", col("q") * col("n"))
      .filter(col("__cum") >= col("__rank"))
      .withColumn("__rn", row_number().over(wFirst))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col("q"), col("n"),
        round(when(col("__w") > 0.0,
            col("__lo") + col("__w") * (col("__b") +
              (col("__rank") - (col("__cum") - col("__c"))) / col("__c")))
          .otherwise(col("__lo")), 6).as("est"))
      .orderBy(col(groupCol), col("q"))
  }

  /** Key-skew diagnostics: the one-row profile a pipeline reads BEFORE
    * choosing a skew mitigation (salting / AQE skew-join / isolating
    * hot keys) — per-key exact counts reduced to the ratios that
    * matter: how hot is the hottest key vs the mean, and what share of
    * all rows do the top keys hold. One count aggregation (map-side
    * combined, shuffle volume = distinct keys) + one tiny reduction
    * over the per-key counts; nothing here is data-sized after the
    * first combine, at any corpus size. `p50_cnt`/`p99_cnt` are exact
    * percentiles over the (distinct-key-sized) count table.
    */
  def skewDiagnostics(df: DataFrame, keyCol: String): DataFrame = {
    // lineage cut: the count table feeds two reductions (summary +
    // top-10) — without it each branch re-aggregates the full input
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val summary = counts.agg(
      sum(col("__c")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("__c")).as("max_cnt"),
      avg(col("__c")).as("__mean_raw"),
      round(expr("percentile(__c, 0.5)"), 6).as("p50_cnt"),
      round(expr("percentile(__c, 0.99)"), 6).as("p99_cnt"))
    // top-10 via orderBy+limit → TakeOrderedAndProject (distributed
    // partial top-k) — NOT an unpartitioned rank window
    val top10 = counts.orderBy(desc("__c"), col(keyCol).asc).limit(10)
      .agg(sum(col("__c")).as("__top10"))
    summary.crossJoin(top10)
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        round(col("__mean_raw"), 6).as("mean_cnt"),
        col("p50_cnt"), col("p99_cnt"),
        round(col("max_cnt") / col("__mean_raw"), 6).as("max_over_mean"),
        round(col("max_cnt").cast("double") / col("n_rows"), 6).as("top1_share"),
        round(col("__top10").cast("double") / col("n_rows"), 6).as("top10_share"))
  }
}
