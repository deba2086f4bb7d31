package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group B — relational core (SURVEY.md §2.3 Group B): the general query
  * surface, expressed declaratively so Catalyst owns pushdown, join
  * selection, partial aggregation, and AQE.
  *
  * Determinism contract (SURVEY.md §2.3): every query ends with a total
  * ORDER BY on a unique key; double aggregates are ROUND-wrapped; integer
  * aggregates are cast to BIGINT on both sides (DuckDB SUM(BIGINT) would
  * otherwise widen to HUGEINT); ORDER BY over nullable keys pins NULLS
  * FIRST in the oracle (DuckDB defaults to NULLS LAST, Spark to FIRST).
  */
object GroupB {
  type Q = (SparkSession, String) => DataFrame

  /** Run SQL against per-call-unique temp view names (round-3 verdict #7:
    * `createOrReplaceTempView` on shared names like "orders" races when two
    * callers share one session). Templates reference tables as explicit
    * `{name}` placeholders (round-4 ADVICE: a word-boundary regex over the
    * raw SQL would also rewrite a table name appearing as a column alias
    * or inside a string literal), which are substituted with
    * `<name>_<uuid>` views and dropped again before returning — safe
    * because `spark.sql` analyzes eagerly, so the returned DataFrame's
    * plan is already bound to the resolved relations and never re-resolves
    * the view name at execution time.
    */
  private def sqlScoped(spark: SparkSession, sql: String,
                        tables: (String, DataFrame)*): DataFrame = {
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val bound = tables.map { case (name, df) =>
      require(sql.contains(s"{$name}"),
        s"sqlScoped template is missing a {$name} placeholder")
      val unique = s"${name}_$suffix"
      df.createOrReplaceTempView(unique)
      name -> unique
    }
    val rewritten = bound.foldLeft(sql) { case (s, (name, unique)) =>
      s.replace(s"{$name}", unique)
    }
    try spark.sql(rewritten)
    finally bound.foreach { case (_, unique) => spark.catalog.dropTempView(unique) }
  }

  /** b1: three-way equi inner join. orders⋈customer is the big pair and
    * shuffles on the join key; nation is tiny and broadcast by Catalyst
    * (it's under the autoBroadcast threshold at any SF — nation is fixed
    * at 25 rows even at 100 TB).
    */
  def b1InnerJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val orders   = Tables(spark, sfDir, "orders")
    val nation   = Tables(spark, sfDir, "nation")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .select(
        col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("n_name"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** b2: left outer join + null handling. Customers without orders keep a
    * null order side; oracle pins NULLS FIRST to match Spark's sort.
    */
  def b2OuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val orders   = Tables(spark, sfDir, "orders")
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left")
      .select(
        col("c_custkey"), col("o_orderkey"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price_or_zero"))
      .orderBy(col("c_custkey"), col("o_orderkey"))
  }

  /** b3: left semi + left anti, tagged and unioned into one result.
    * Semi/anti avoid materializing the right side's columns — at scale
    * this is a broadcast-able existence check, not a full join.
    */
  def b3SemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val orders   = Tables(spark, sfDir, "orders")
    val cust = customer.select("c_custkey", "c_name")
    val withOrders = cust
      .join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
    val noOrders = cust
      .join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    withOrders.union(noOrders).orderBy("c_custkey")
  }

  /** b4: explicit broadcast join of the small dims (region→nation), then a
    * per-nation rollup of customer balances. The broadcast hint removes the
    * shuffle on the dim side entirely — the only shuffle is the final
    * 25-group aggregation.
    */
  def b4BroadcastJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val nation   = Tables(spark, sfDir, "nation")
    val region   = Tables(spark, sfDir, "region")
    val dims = broadcast(
      nation.join(broadcast(region),
        nation("n_regionkey") === region("r_regionkey")))
    customer
      .join(dims, customer("c_nationkey") === dims("n_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("sum_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** b5: hash aggregate, TPC-H Q1 shape on lineitem. Partial (map-side)
    * aggregation + single shuffle on the group keys; at 100 TB the group
    * cardinality is tiny (RF×LS ≤ 9) so the shuffle is negligible.
    */
  def b5HashAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"),
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** b6: distinct aggregates. count(distinct) expands to a two-phase
    * aggregate in Spark (partial distinct then merge) — no driver-side
    * dedup.
    */
  def b6DistinctAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        round(sum_distinct(col("l_quantity")), 2).as("sum_dist_qty"))
      .orderBy("l_returnflag")
  }

  /** b7: rollup with GROUPING() disambiguation. Spark expands rollup into
    * a single expand+aggregate — one shuffle regardless of level count.
    */
  def b7RollupCube(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy("gid", "rf", "ls")
  }

  /** b26: cube — all 2ⁿ grouping combinations (round-3 verdict #2: b7 only
    * exercised rollup's hierarchical prefix sets). Same single
    * expand+aggregate physical shape as rollup: the Expand node emits one
    * copy of each input row per grouping set, then one shuffle on the
    * (keys, gid) — grouping-set count multiplies map-side rows, not
    * shuffles, so a 2-column cube costs 4× expand at any scale.
    * gid disambiguates real NULL keys from subtotal rows.
    */
  def b26Cube(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("gid"), col("sum_qty"), col("sum_price"), col("n"))
      .orderBy("gid", "rf", "ls")
  }

  /** b31: distribution window functions — ntile / percent_rank /
    * cume_dist (b8 covers the ranking trio). The order-by tiebreaks on the
    * unique o_orderkey, so every rank is distinct and percent_rank =
    * (rank−1)/(n−1), cume_dist = rank/n are exact small-integer divisions
    * — bit-identical IEEE results in both engines — emitted as
    * FLOOR(x·10⁶) fixed-point (d6's rule; ROUND's half-way behavior is
    * engine-specific, floor of an identical double is not).
    *
    * Scale note: o_orderpriority has only 5 values, so this window
    * shuffles everything into 5 partitions — fine for a reporting query,
    * but a 100 TB percentile-per-key job should partition on a
    * high-cardinality key (b8's shape) or use d12's quantile sketches;
    * documented rather than hidden.
    */
  def b31WindowExtras(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders.select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("quartile"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("pct_rank_e6"),
        floor(cume_dist().over(w) * 1000000).cast("long").as("cume_e6"))
      .orderBy("o_orderkey")
  }

  /** b8: ranking window functions with a deterministic tiebreak. The
    * window shuffles once on the partition key; at scale o_custkey is
    * high-cardinality so partitions stay small and balanced.
    */
  def b8WindowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      row_number().over(w).as("rn"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"))
      .orderBy("o_orderkey")
  }

  /** b9: running/moving window frames (rowsBetween). Frame order is pinned
    * by the unique o_orderkey. The frame sums run over DECIMAL(18,2) so the
    * accumulation is exact in both engines (a double sum differs by an ulp
    * between DuckDB's segment-tree and Spark's frame recompute); the exact
    * decimal is then cast to double, which is a deterministic conversion.
    */
  def b9WindowFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val priceDec = col("o_totalprice").cast("decimal(18,2)")
    orders.select(
      col("o_orderkey"), col("o_custkey"),
      sum(priceDec).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").as("running_sum"),
      // round at 3dp, not 2: a 2-row average of 2dp cents lands EXACTLY on
      // a .xx5 half-way point whenever the sum is odd in cents, and the two
      // engines' half-way rules disagree on doubles. At 3dp the n=2 average
      // is exact (no rounding happens) and the n=3 average never falls
      // within an ulp of a half-way point.
      round(sum(priceDec).over(w.rowsBetween(-2, 0)).cast("double") /
        count(lit(1)).over(w.rowsBetween(-2, 0)), 3).as("moving_avg3"))
      .orderBy("o_orderkey")
  }

  /** b10: top-k per group via row_number ≤ k — Spark turns the rank filter
    * into a per-partition top-k (WindowGroupLimit) instead of ranking
    * everything then filtering.
    */
  def b10TopkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** b11: global sort + limit. Spark plans this as TakeOrderedAndProject —
    * per-partition top-N then a single driver merge of N×partitions rows,
    * never a full global sort.
    */
  def b11SortLimit(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** b12: set operations with Spark/ANSI distinct semantics, tagged into
    * one result. intersect/except plan as aggregates/semi-joins — fully
    * distributed.
    */
  def b12SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val building  = customer.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val richKeys  = customer.filter(col("c_acctbal") > 5000)
      .select("c_custkey")
    val unionAll  = building.union(richKeys).withColumn("tag", lit("union_all"))
    val inter     = building.intersect(richKeys).withColumn("tag", lit("intersect"))
    val minus     = building.except(richKeys).withColumn("tag", lit("except"))
    unionAll.union(inter).union(minus).orderBy("tag", "c_custkey")
  }

  /** b28: set operations with BAG (ALL) semantics — b12 covers the
    * distinct variants; intersectAll/exceptAll preserve multiplicities
    * (min(cA,cB) / cA−cB copies). Spark plans both as a single aggregate
    * counting per-side occurrences then a generate — no join, one shuffle.
    * The post-op group-by makes the duplicated rows hash-deterministic
    * (counts, not repeated identical rows).
    */
  def b28SetOpsAll(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val building = customer.filter(col("c_mktsegment") === "BUILDING")
      .select("c_nationkey")
    val rich = customer.filter(col("c_acctbal") > 5000)
      .select("c_nationkey")
    val inter = building.intersectAll(rich).withColumn("tag", lit("intersect_all"))
    val minus = building.exceptAll(rich).withColumn("tag", lit("except_all"))
    inter.union(minus)
      .groupBy("tag", "c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("tag", "c_nationkey")
  }

  /** b29: correlated LATERAL subquery — a per-row subquery in FROM that
    * references the outer row. Catalyst decorrelates it into a plain
    * aggregate + join (DecorrelateInnerQuery), so the per-nation scan the
    * SQL reads as runs exactly once over customer — never a nested loop.
    * The average is SUM(DECIMAL)/COUNT, not AVG(double): the decimal sum
    * is exact and order-independent, so the rounded result can't flip on
    * an engine's summation order (b9's rule).
    */
  def b29Lateral(spark: SparkSession, sfDir: String): DataFrame = {
    // the average is carried in integer CENTS with an explicit half-up
    // ((2s + n) div 2n): a ROUND(double, 2) straddles engine-specific
    // behavior exactly at representational halfway points (4201.315 at
    // one SF hit it), while the integer form is bit-identical by
    // construction and the final /100.0 is one shared IEEE op. Sign note:
    // Spark's `div` and DuckDB's `//` BOTH truncate toward zero (checked:
    // -7//2 = -3 in DuckDB), so even a negative cent-sum — possible only
    // if the generator's balance range changes — stays engine-identical;
    // the half-up reading is exact for the non-negative sums here
    sqlScoped(spark, """
      SELECT n.n_nationkey, n.n_name, s.n_customers, s.avg_bal
      FROM {nation} n,
      LATERAL (
        SELECT COUNT(*) AS n_customers,
               CAST((2 * SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                     + COUNT(*)) div (2 * COUNT(*)) AS DOUBLE) / 100
                 AS avg_bal
        FROM {customer} WHERE c_nationkey = n.n_nationkey) s
      ORDER BY n.n_nationkey
    """,
      "nation"   -> Tables(spark, sfDir, "nation"),
      "customer" -> Tables(spark, sfDir, "customer"))
  }

  /** b30: TPC-H Q5 shape — the multi-join workhorse: lineitem⋈orders⋈
    * customer⋈supplier with two broadcast dims (nation⋈region), a selective
    * date + region filter, and a small aggregation. What Catalyst must get
    * right at 100 TB, and does: the date filter pushes to the orders scan,
    * the region filter prunes the dim BEFORE broadcast, the two fact-fact
    * joins shuffle on their keys, and the co-nation condition
    * (c_nationkey = s_nationkey) is applied as a post-join filter rather
    * than exploding the join graph.
    */
  def b30TpchQ5(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val orders = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
    val customer = Tables(spark, sfDir, "customer")
    val supplier = Tables(spark, sfDir, "supplier")
    val dims = broadcast(
      Tables(spark, sfDir, "nation").join(
        broadcast(Tables(spark, sfDir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey")))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(supplier, li("l_suppkey") === supplier("s_suppkey") &&
        customer("c_nationkey") === supplier("s_nationkey"))
      .join(dims, supplier("s_nationkey") === dims("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** b13: scalar function sweep — string, date, math, conditional — all
    * codegen'd builtins (functions._), zero UDFs.
    */
  def b13ScalarFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    orders.select(
      col("o_orderkey"),
      upper(col("o_orderpriority")).as("prio_upper"),
      substring(col("o_orderpriority"), 1, 1).as("prio_code"),
      concat(col("o_orderstatus"), lit("/"), col("o_orderpriority")).as("status_prio"),
      col("o_orderpriority").like("%URGENT%").as("is_urgent"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      date_trunc("month", col("o_orderdate")).cast("date").as("o_month"),
      datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
        .cast("long").as("days_to_eoy"),
      round(abs(col("o_totalprice") - 1000.0), 2).as("abs_diff"),
      (col("o_orderkey") % 7).as("key_mod7"),
      when(col("o_totalprice") > 100000, "big")
        .when(col("o_totalprice") > 10000, "mid")
        .otherwise("small").as("size_class"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or_open"))
      .orderBy("o_orderkey")
  }

  /** b14: scalar + IN subqueries via SQL — Catalyst decorrelates both into
    * joins (the scalar subquery becomes a broadcast of one row).
    */
  def b14Subquery(spark: SparkSession, sfDir: String): DataFrame = {
    sqlScoped(spark, """
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
      FROM {customer}
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {customer})
        AND c_custkey IN (SELECT o_custkey FROM {orders} WHERE o_orderstatus = 'F')
      ORDER BY c_custkey
    """,
      "customer" -> Tables(spark, sfDir, "customer"),
      "orders"   -> Tables(spark, sfDir, "orders"))
  }

  /** b15: explicit GROUPING SETS via SQL — same expand+aggregate physical
    * shape as rollup/cube.
    */
  def b15GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    sqlScoped(spark, """
      SELECT COALESCE(l_returnflag, 'ALL') AS rf,
             COALESCE(l_linestatus, 'ALL') AS ls,
             CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
             ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM {lineitem}
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY g_rf, g_ls, rf, ls
    """,
      "lineitem" -> Tables(spark, sfDir, "lineitem"))
  }

  /** b16: tumbling 1-hour event-time window (batch). window() compiles to
    * a plain group-by on the bucketed timestamp — the streaming-compatible
    * shape (same code works under readStream + watermark).
    */
  def b16TimeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    events
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** b17: pivot — rows to columns on a small, known key domain. Spark
    * plans pivot as a single aggregate with one output column per pivot
    * value (no extra shuffle vs the plain group-by); the value list is
    * explicit, so no driver-side distinct-collection pass runs.
    */
  def b17Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    orders.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .orderBy("o_orderpriority")
  }

  /** b18: unpivot (melt) — columns to rows. Pure per-row expansion
    * (Expand node), scan-parallel, no shuffle before the sort.
    */
  def b18Unpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    customer
      .select(col("c_custkey"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("c_nationkey").cast("double").as("c_nationkey"))
      .unpivot(Array(col("c_custkey")),
        Array(col("c_acctbal"), col("c_nationkey")), "metric", "value")
      .orderBy("c_custkey", "metric")
  }

  /** b19: array aggregation — per-group ordered list. The deterministic
    * form: collect_list is partition-order dependent, so the sort_array
    * wrapper is what makes the result stable. The sorted list is emitted as
    * a canonical comma-joined STRING (sorted numerically first, then cast),
    * so the result is hash-comparable end-to-end — the driver's comparator
    * cannot sort an array column.
    */
  def b19ArrayAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_orderkey"))
      .agg(
        array_join(
          transform(sort_array(collect_list(col("l_linenumber"))), _.cast("string")),
          ",").as("lines"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_orderkey")
  }

  /** b20: filtered aggregation (SQL FILTER clause) — per-aggregate
    * predicates without a self-join or CASE scaffolding; rides the same
    * partial-agg + single-shuffle shape as b5.
    */
  def b20FilteredAgg(spark: SparkSession, sfDir: String): DataFrame = {
    sqlScoped(spark, """
      SELECT l_returnflag,
        ROUND(SUM(l_quantity) FILTER (WHERE l_discount > 0.05), 2) AS qty_disc,
        COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_notax,
        ROUND(SUM(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2) AS price_bulk
      FROM {lineitem}
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """,
      "lineitem" -> Tables(spark, sfDir, "lineitem"))
  }

  /** b21: exact percentiles/median. Restricted to an integer-valued
    * measure (l_quantity): linear interpolation at quarter fractions over
    * integers is exact in binary floating point, so Spark's `percentile`
    * and DuckDB's `quantile_cont` agree bit-for-bit regardless of their
    * internal formula variant — over arbitrary doubles they differ by
    * ulps. Exact percentile sorts within groups only (no global sort).
    */
  def b21Percentile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.25)").as("q1_qty"),
        expr("percentile(l_quantity, 0.75)").as("q3_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** b22: AS-OF JOIN — for every click, the most recent view by the same
    * user at or before the click's event time. Spark has no asof operator;
    * the prompt-preferred formulation COMPOSES existing ops (no custom
    * plan node needed): tag view/click rows, union them, and take a
    * running `last(view_struct, ignoreNulls)` over a window partitioned by
    * user and ordered by (ts, side) — views sort before clicks at equal
    * timestamps, giving the `<=` bound. ONE shuffle on user_id, no range
    * join, no per-row probe: the shape that survives 100 TB of events
    * (a range-join formulation explodes on hot users; this is linear).
    * Oracle: DuckDB's native ASOF LEFT JOIN.
    *
    * Tie robustness (round-3 ADVICE): DuckDB's ASOF tie selection among
    * views sharing (user_id, ts) is unspecified, so views are pre-aggregated
    * to ONE row per (user_id, ts) — largest event_id, that event's value via
    * max_by — on BOTH sides. This makes the tie-break explicit instead of
    * relying on this corpus having unique per-user view timestamps.
    */
  def b22AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val viewInfo = struct(col("event_id").as("view_id"), col("ts").as("view_ts"),
      col("value").as("view_value"))
    val views = events.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("event_id"),
        max_by(col("value"), col("event_id")).as("value"))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("side", lit(0))
      .withColumn("view_info", viewInfo)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("side", lit(1))
      .withColumn("view_info", when(lit(false), viewInfo))
    val tagged = views.unionByName(clicks)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("last_view", last(col("view_info"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(
        col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"),
        col("last_view.view_id").as("view_id"),
        col("last_view.view_ts").as("view_ts"),
        round(col("last_view.view_value"), 2).as("view_value"))
      .orderBy("click_id")
  }

  /** b24: RANGE JOIN, bucketed — per purchase, the count and value of the
    * same user's views in the preceding hour. The naive formulation is a
    * non-equi join (user equal + ts in a range): Spark plans that as a
    * nested-loop per user that explodes on hot users. The scale shape
    * BUCKETS time into window-sized (1 h) cells: each view lands in
    * exactly one (user, hour) cell, each purchase probes its own cell and
    * the previous one (a 1-hour look-back can only span two cells), the
    * join runs on the (user, bucket) equi-key, and the exact range
    * predicate filters the two-cell candidates. One shuffle, candidates
    * bounded by two cells per probe — the canonical distributed
    * interval-join plan.
    */
  def b24RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("value").as("v_val"))
      .withColumn("bucket", floor(unix_timestamp(col("v_ts")) / 3600))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withColumn("pb", floor(unix_timestamp(col("p_ts")) / 3600))
      .withColumn("bucket", explode(array(col("pb"), col("pb") - 1)))
    purchases
      .join(views, Seq("user_id", "bucket"), "left")
      .withColumn("in_range",
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") && col("v_ts") < col("p_ts"))
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(
        count(when(col("in_range"), 1)).as("n_views_1h"),
        round(coalesce(sum(when(col("in_range"), col("v_val"))), lit(0.0)), 2)
          .as("sum_view_value"))
      .orderBy("purchase_id")
  }

  /** b23: offset window functions — lag/lead with defaults, first_value,
    * and nth_value over per-customer order sequences. All builtins with
    * identical semantics in DuckDB (nth_value counts from the frame start;
    * the frame is pinned explicitly so both engines see the same rows).
    */
  def b23LeadLag(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val wFull = w.rowsBetween(Window.unboundedPreceding, 0)
    orders.select(
      col("o_orderkey"), col("o_custkey"),
      round(lag("o_totalprice", 1, 0.0).over(w), 2).as("prev_price"),
      round(lead("o_totalprice", 1, 0.0).over(w), 2).as("next_price"),
      round(first_value(col("o_totalprice")).over(wFull), 2).as("first_price"),
      round(nth_value(col("o_totalprice"), 2).over(wFull), 2).as("second_price"))
      .orderBy("o_orderkey")
  }

  /** b25: array + map function sweep over per-order collections. Arrays
    * are compared as canonical strings (b19's rule — the driver comparator
    * can't sort array cells); the map side is exercised through
    * `map_from_entries` + `element_at` lookups, cross-checked by an oracle
    * that computes the same scalars from the rows directly — an
    * independent formulation, not a mirrored one.
    */
  def b25ArrayMapFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        col("l_quantity").cast("long").as("q"))
    // map keys must be unique: this data repeats l_linenumber within an
    // order, so the map is built from the per-line MAX sub-aggregate
    val perLine = li.groupBy("l_orderkey", "ln").agg(max("q").as("lq"))
    val maps = perLine.groupBy("l_orderkey")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("ln"), col("lq"))))).as("line_qty"))
    val arrays = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("q"))).as("qtys"))
    arrays.join(maps, "l_orderkey")
      .select(
        col("l_orderkey"),
        array_join(transform(col("qtys"), _.cast("string")), ",").as("qty_list"),
        array_join(transform(slice(col("qtys"), 1, 2), _.cast("string")), ",")
          .as("qty_low2"),
        array_max(col("qtys")).as("qty_max"),
        array_contains(col("qtys"), 25L).as("has_qty25"),
        size(filter(col("qtys"), _ >= 30L)).cast("long").as("n_bulk"),
        element_at(col("line_qty"), 1L).as("qty_line1"),
        size(map_keys(col("line_qty"))).cast("long").as("n_lines"))
      .orderBy("l_orderkey")
  }

  /** b27: typed-Aggregator UDAF (round-3 verdict #3) — exact lower weighted
    * median of l_quantity, weighted by l_extendedprice in exact cents.
    * `graft.functions.WeightedMedian` is registered through
    * `functions.udaf`, so it plans as a regular ObjectHashAggregate with
    * partial aggregation — histogram buffers combine map-side, one small
    * shuffle row per group. Weights are ROUND(price·100) as BIGINT on both
    * sides: the double product is IEEE-identical in both engines and the
    * Long sums are order-independent, so the oracle (a cumulative-weight
    * window reformulation, not a mirror) matches exactly.
    */
  def b27UdafWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val wmedian = udaf(graft.functions.WeightedMedian)
    val li = Tables(spark, sfDir, "lineitem")
    li.select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice") * 100).cast("long").as("w"))
      .groupBy("l_returnflag")
      .agg(
        wmedian(col("q"), col("w")).as("wmedian_qty"),
        wmedian(col("q"), lit(1L)).as("lower_median_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** b32: batch sessionization (gaps-and-islands) over the event stream —
    * the batch twin of `graft.streaming.Sessionize`. A new session starts
    * when a user is silent for more than 30 minutes. Both window passes
    * (the lag that detects gaps and the running sum that numbers sessions)
    * share one partitioning + ordering, so Spark plans a SINGLE shuffle on
    * `user_id` and a single sort feeding both Window operators; the final
    * per-session aggregate reuses the same user_id clustering. Session
    * ordinals come from a cumulative sum of new-session flags — a
    * per-partition running total, never a global sequence, so the plan is
    * embarrassingly parallel across users at any scale.
    */
  /** The b32 core on any (user_id, ts, event_id, value) frame — shared by
    * the batch query and the stream-parity spec (SessionizeSpec pins that
    * this produces the same sessions as the stateful streaming
    * `graft.streaming.Sessionize` on identical input: two formulations of
    * one contract, diff ≤ 30 min ⇒ same session).
    */
  def sessionize(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        round(sum("value"), 2).as("sum_value"))
  }

  def b32Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionize(Tables.events(spark, sfDir))
      .orderBy("user_id", "session_seq")

  /** b33: moment statistics per group — sample stddev/variance and the
    * bivariate covariance/correlation aggregates. All four ride Spark's
    * partial aggregation as constant-size moment buffers (n, mean, M2,
    * co-moment) merged associatively — one fixed-size shuffle row per
    * (group, partition) regardless of corpus size. Doubles are ROUNDed
    * (determinism contract above): the merge order perturbs only the
    * trailing ulps and the oracle computes the same moments serially.
    */
  def b33StatsCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    events
      .withColumn("uid_d", col("user_id").cast("double"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("value"), 4).as("avg_value"),
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(var_samp(col("value")), 4).as("var_value"),
        round(covar_samp(col("value"), col("uid_d")), 4).as("cov_value_uid"),
        round(corr(col("value"), col("uid_d")), 4).as("corr_value_uid"))
      .orderBy("event_type")
  }

  /** b34: recursive CTE (Spark 4's `WITH RECURSIVE`) — a data-dependent
    * calendar spine: every month between the first and last order date,
    * LEFT-joined to per-month order counts so empty months still appear
    * (the gap-revealing report a plain GROUP BY cannot produce). The
    * recursion is DEPTH-BOUNDED BY THE CALENDAR (~80 levels at any SF —
    * TPC-H's date range is fixed), each level one row, while the
    * data-sized work stays in ordinary aggregates; that is the recursion
    * shape that scales — row-per-level chains over data-sized inputs
    * (e.g. a 2,400-level day spine) belong in the iterative-operator
    * form (graft.operators.ConnectedComponents) where each round is
    * checkpointed, not in an engine-materialized recursion.
    *
    * The upper bound rides INSIDE the recursion rows (`spine(m, mx)`)
    * rather than as a joined `bounds` relation: a per-level join against a
    * CTE re-evaluates that CTE's orders scan at every level (measured
    * 12.5 s for ~80 levels at sf0.01 → 0.3 s carried as a column).
    */
  def b34RecursiveSpine(spark: SparkSession, sfDir: String): DataFrame =
    sqlScoped(spark,
      """WITH RECURSIVE spine(m, mx) MAX RECURSION LEVEL 200 AS (
        |  SELECT CAST(DATE_TRUNC('MONTH', MIN(o_orderdate)) AS DATE),
        |         CAST(DATE_TRUNC('MONTH', MAX(o_orderdate)) AS DATE)
        |  FROM {orders}
        |  UNION ALL
        |  SELECT ADD_MONTHS(m, 1), mx FROM spine WHERE m < mx),
        |per AS (
        |  SELECT CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE) AS m,
        |         COUNT(*) AS n_orders,
        |         ROUND(SUM(o_totalprice), 2) AS revenue
        |  FROM {orders} GROUP BY 1)
        |SELECT CAST(spine.m AS TIMESTAMP) AS bucket_month,
        |       COALESCE(per.n_orders, 0) AS n_orders,
        |       COALESCE(per.revenue, CAST(0 AS DOUBLE)) AS revenue
        |FROM spine LEFT JOIN per ON spine.m = per.m
        |ORDER BY bucket_month""".stripMargin,
      "orders" -> Tables(spark, sfDir, "orders"))

  /** b35: skew-salted join, oracle-checked against the PLAIN join — the
    * point is result transparency: `Salting.saltedJoin` splits every
    * big-side key across 8 (key, salt) sub-keys (deterministic row-hash
    * salt, small side replicated ×8) and must be indistinguishable from
    * the unsalted join to any observer. customer⋈nation is the textbook
    * salting shape: 25 nation keys means every key is hot (1/25 of the
    * fact table hashes to ONE task without salting at any SF), and the
    * replicated side is 25 rows — ×8 is 200, honoring the operator's
    * genuinely-small contract. The aggregate keeps the compared output
    * small; the oracle knows nothing about salt.
    */
  def b35SaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_nationkey"), col("c_acctbal"))
    val nation = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    graft.operators.Salting.saltedJoin(cust, nation, "c_nationkey", salt = 8)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("sum_acctbal"))
      .orderBy("n_name")
  }

  /** b36: upsert / SCD merge — the MERGE-INTO semantics the reference's
    * data-integration framework implies (its providers feed destination
    * writers that update-or-insert; `/root/reference/src/CSVProvider.cs:554`
    * runs one mapping per destination table). Base = each customer's
    * latest pre-1997 order; delta = latest 1997+ order. The merged
    * current view takes the delta when present (UPDATE), keeps the base
    * otherwise (UNCHANGED), and surfaces delta-only keys as INSERT — the
    * three MERGE actions as a typed change column. Both per-side windows
    * and the full-outer join hash on the same key, so the whole merge is
    * one shuffle family; at 100 TB this is the standard CDC-compaction
    * plan (latest-wins per key, then merge).
    */
  def b36MergeScd(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val cutoff = lit("1997-01-01").cast("timestamp")
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    }
    val base = latest(orders.filter(col("o_orderdate") < cutoff))
      .select(col("o_custkey"), col("o_orderkey").as("b_key"),
        col("o_totalprice").as("b_price"), col("o_orderdate").as("b_date"))
    val delta = latest(orders.filter(col("o_orderdate") >= cutoff))
      .select(col("o_custkey"), col("o_orderkey").as("d_key"),
        col("o_totalprice").as("d_price"), col("o_orderdate").as("d_date"))
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("d_key"), col("b_key")).as("cur_orderkey"),
        round(coalesce(col("d_price"), col("b_price")), 2).as("cur_totalprice"),
        to_date(coalesce(col("d_date"), col("b_date"))).as("cur_orderdate"),
        when(col("b_key").isNull, "INSERT")
          .when(col("d_key").isNull, "UNCHANGED")
          .otherwise("UPDATE").as("change_type"))
      .orderBy("o_custkey")
  }

  /** b37: b10's top-k-per-group via the CUSTOM heap operator
    * ([[org.apache.spark.sql.graft.TopKPerGroup]] — logical node +
    * planner strategy + partial/final physical heaps, SURVEY §2.2 ladder
    * step (c)). Semantics identical to the window-rank formulation; the
    * physical plan replaces the two per-partition SORTS + Window machinery
    * with O(n log k) bounded heaps, and the exchange carries at most k
    * rows per (group, upstream-partition) by construction — skew-proof
    * map-side limiting, the same contract as partial aggregation.
    * TopKPerGroupSpec pins result-equality vs b10's window plan, the
    * partial/final node pair around one exchange, and the absence of
    * Sort/Window below the operator.
    */
  def b37TopkNative(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    org.apache.spark.sql.graft.TopKPerGroup(orders, Seq("o_custkey"),
      Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** b38: time-RANGE window frame — the sliding-interval aggregate b9's
    * ROWS frame can't express (a ROWS frame counts rows; a RANGE frame
    * bounds by VALUE distance, here "all of this user's events in the
    * trailing hour"). Spark's `rangeBetween` takes numeric offsets, so
    * the order key is epoch seconds and the frame is [-3600, 0]; peers
    * (equal timestamps) are in-frame together, making the result
    * peer-order independent. The summed value rides `decimal(18,2)`
    * (d25's rule) so the trailing-hour sum is exact and summation-order
    * independent — a double sum's last ulp would wobble with frame
    * evaluation order. One hash shuffle on user_id + one per-partition
    * sort: b8's window family.
    */
  def b38RangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_sec"),
        col("value").cast("decimal(18,2)").as("v"))
    val w = Window.partitionBy("user_id").orderBy("ts_sec")
      .rangeBetween(-3600, 0)
    events
      .select(col("event_id"), col("user_id"), col("ts_sec"),
        sum(col("v")).over(w).cast("double").as("sum_trailing_1h"),
        count(lit(1)).over(w).cast("long").as("n_trailing_1h"))
      .orderBy("event_id")
  }

  /** b39: ordered event-funnel analysis — the product-analytics staple a
    * sessionized event store answers: per user, the GREEDY completion
    * times of the signup → view → click → purchase sequence (each stage's
    * time is the earliest event of that type STRICTLY AFTER the previous
    * stage's time — the standard strict-order funnel, not mere presence),
    * plus the deepest stage reached. Expressed as a chain of four
    * stage-min aggregations, each an equi-join on user_id against the
    * previous stage's frame — so every step is a partial-agg shuffle on
    * the user key and the event stream is scanned once per stage with
    * the stage's type filter pushed to the scan. No windows, no per-user
    * sort: at 100 TB the per-stage frames are user-bounded (one row per
    * user that reached the stage) and join small-side against the next
    * filtered scan.
    */
  /** The funnel's ordered stage list — shared by the batch plan, the
    * streaming twin ([[graft.streaming.StreamEventFunnel]]) and the pure
    * rule below, so the three cannot drift on what the funnel IS.
    */
  val FunnelStages: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** The strict-after stage rule on ONE user's per-stage event times
    * (epoch millis): stage k completes at the earliest time of stage k
    * strictly after stage k−1's completion; a missing stage ends the
    * chain. This is the same rule b39's chained stage-min joins express
    * relationally (StreamEventFunnelSpec pins their equality on shared
    * events) — the streaming twin evaluates it per closed window.
    */
  def funnelTimes(byStage: Seq[Seq[Long]]): Seq[Option[Long]] = {
    var prev: Option[Long] = Some(Long.MinValue)
    byStage.map { times =>
      val t = prev.flatMap(p => times.filter(_ > p).sorted.headOption)
      prev = t
      t
    }
  }

  def b39EventFunnel(spark: SparkSession, sfDir: String): DataFrame =
    eventFunnelOf(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts")))

  /** b39's body on an arbitrary (user_id, event_type, ts) frame — the
    * chained stage-min joins DERIVED from [[FunnelStages]]; reusable in
    * specs against the streaming twin.
    */
  def eventFunnelOf(ev: DataFrame): DataFrame = {
    val frames = FunnelStages.foldLeft(List.empty[(String, DataFrame)]) {
      case (acc, stage) =>
        val filtered = ev.filter(col("event_type") === stage)
        val chained = acc.headOption match {
          case None => filtered
          case Some((prevStage, prevDf)) =>
            filtered.join(prevDf, "user_id")
              .filter(col("ts") > col(s"t_$prevStage"))
        }
        (stage, chained.groupBy("user_id")
          .agg(min("ts").as(s"t_$stage"))) :: acc
    } // head = deepest stage
    val spine = ev.select("user_id").distinct()
    val joined = frames.reverse.foldLeft(spine) {
      case (df, (_, f)) => df.join(f, Seq("user_id"), "left")
    }
    val stageReached = frames.zipWithIndex.foldLeft(
      when(lit(false), 0L)) { case (acc, ((stage, _), iFromDeepest)) =>
        acc.when(col(s"t_$stage").isNotNull,
          (FunnelStages.length - iFromDeepest).toLong)
    }.otherwise(0L)
    joined
      .withColumn("stage_reached", stageReached)
      .orderBy("user_id")
  }

  /** b40: TPC-H Q3 (shipping priority) re-expressed on this schema — the
    * classic three-way join + top-k the reference's framework could never
    * answer: BUILDING-segment customers' orders placed before the cutoff
    * with lineitems shipped after it, top 10 open orders by outstanding
    * revenue. Revenue rides EXACT INTEGER fixed point (price cents ×
    * (100 − discount cents) — b29's integer-cents discipline), which is
    * what makes the TOP-10 CUT deterministic: a double-sum revenue would
    * make the rank-10/11 boundary an ulp lottery between engines.
    * Plan: two hash joins shuffled on the order key family, partial-agg
    * group on (orderkey, date, priority), and the top-10 is
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def b40TpchQ3(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")
    val cust = Tables(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val orders = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum("rev_fp").as("revenue_fp"))
      .orderBy(col("revenue_fp").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue_fp")
      // re-assert presentation order on the 10-row result: a projection
      // after CollectLimit carries no ordering guarantee in the contract
      .orderBy(col("revenue_fp").desc, col("o_orderdate"), col("l_orderkey"))
  }

  /** b41: TPC-H Q10 (returned-item reporting) on this schema — the
    * customer-facing twin of b40's Q3: which 20 customers generated the
    * most RETURNED revenue in a quarter (their problem orders), joined
    * out to the nation dimension. Same integer-cents determinism as b40
    * (the top-20 cut must not be an ulp lottery); the nation dim
    * broadcasts (25 rows at any scale), the fact joins shuffle on their
    * keys, and the cut is TakeOrderedAndProject.
    */
  def b41TpchQ10(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-07-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-10-01 00:00:00")
    val li = Tables(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
    val orders = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .select("o_orderkey", "o_custkey")
    val cust = Tables(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val nation = broadcast(Tables(spark, sfDir, "nation")
      .select("n_nationkey", "n_name"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
      .agg(sum("rev_fp").as("revenue_fp"))
      .orderBy(col("revenue_fp").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue_fp")
      .orderBy(col("revenue_fp").desc, col("c_custkey"))
  }

  /** b42: TPC-H Q18 (large-volume customers) on this schema — which
    * customers placed orders whose combined line quantity exceeds a
    * threshold: the classic HAVING-subquery "find the whales" pattern.
    * The qualifying-order set is ONE partial-agg groupBy over lineitem
    * (quantities are integral doubles, so the sums are IEEE-754-exact
    * and the > 250 gate is deterministic); it then joins orders on the
    * SAME key it was grouped by, so the aggregate's shuffle partitioning
    * is reused for the join — no second exchange of the qualifying set.
    * No broadcast hint on purpose: qualifying orders are a fixed
    * FRACTION of all orders (~1.4%), which at 100 TB is far beyond any
    * broadcast budget — AQE upgrades the join to broadcast at small sf
    * on its own. The top-100 cut is TakeOrderedAndProject (per-partition
    * heaps), ordered by the stored price with the order key as the
    * deterministic tiebreak.
    */
  def b42TpchQ18(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val big = li.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables(spark, sfDir, "customer")
      .select("c_custkey", "c_name")
    big.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      // re-assert presentation order after CollectLimit (b40's rule)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** b43: TPC-H Q1 (pricing summary report) on this schema — the
    * canonical full-scan aggregate, here with the EXACT arithmetic Q1
    * deserves: quantities/prices/discounts/taxes become integer units
    * (cents) at the scan, the two product measures accumulate as
    * decimal(38,0) — at 100 TB the charge sum passes 10¹⁸ and a long
    * would wrap silently (d29's overflow rule) while a double-sum would
    * make every figure an ulp lottery — and the averages are integer
    * fixed-point divisions of exact sums. Plan shape: one pushed-filter
    * scan, partial+final hash aggregate on a 4-group key, no exchange
    * beyond the group-by's — the classic map-side-combine showcase.
    *
    * The two 128-bit sums are RENDERED as canonical decimal strings
    * (round-14 reconciliation): r13's driver flagged hash_match=false on
    * exactly this query while rows/schema matched and independent
    * re-runs showed value-exact agreement — the only declared query
    * whose hash rode decimal128 canonicalization. Emitting the digits
    * as text on BOTH engine and oracle sides removes the hasher's
    * int128 representation from the contract without touching the
    * exact-arithmetic semantics (the string IS the exact value).
    */
  def b43TpchQ1(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1998-09-02 00:00:00")
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit(cutoff))
      .select(col("l_returnflag"), col("l_linestatus"),
        expr("cast(round(l_quantity) as bigint)").as("qty"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("price_c"),
        expr("cast(round(l_discount * 100) as bigint)").as("disc_c"),
        expr("cast(round(l_tax * 100) as bigint)").as("tax_c"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sum_qty"),
        sum("price_c").as("sum_base_fp"),
        sum(expr("cast(price_c as decimal(38,0)) * (100 - disc_c)"))
          .as("disc_price"),
        sum(expr("cast(price_c as decimal(38,0)) * (100 - disc_c) " +
          "* (100 + tax_c)")).as("charge"),
        sum("disc_c").as("sum_disc_c"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base_fp"),
        col("disc_price").cast("decimal(38,0)").cast("string")
          .as("sum_disc_price_fp"),
        col("charge").cast("decimal(38,0)").cast("string")
          .as("sum_charge_fp"),
        expr("sum_qty * 100 div n_rows").as("avg_qty_fp"),
        expr("sum_base_fp div n_rows").as("avg_price_fp"),
        expr("sum_disc_c * 100 div n_rows").as("avg_disc_fp"),
        col("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** b44: TPC-H Q6 (revenue-change forecast) — the canonical
    * scan-dominated query: one year of shipments in a discount/quantity
    * band, a single global revenue sum. EVERY predicate pushes into the
    * parquet scan (shipdate range prunes row groups by min/max stats;
    * at 100 TB with date partitioning it prunes whole directories), the
    * aggregate is one partial-sum per task + a 1-row final — the query
    * IS the scan, which is the point: Q6 measures nothing but I/O and
    * predicate evaluation. Revenue rides exact integer cents × discount
    * points (b40's discipline; the discount band compares ROUNDED
    * integer points, not raw doubles — 0.07 is not exactly
    * representable and a raw `<= 0.07` is an ulp lottery at the band
    * edge).
    */
  def b44TpchQ6(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi) &&
        expr("cast(round(l_discount * 100) as bigint)").between(5L, 7L) &&
        col("l_quantity") < 24.0)
      .select((expr("cast(round(l_extendedprice * 100) as bigint)") *
        expr("cast(round(l_discount * 100) as bigint)")).as("rev_fp"))
      .agg(sum("rev_fp").as("revenue_fp"),
        count(lit(1)).as("n_rows"))
  }

  /** b45: TPC-H Q14 (promotion effect) re-expressed on this schema — the
    * conditional-aggregate-over-join pattern: one month of shipments
    * joined to the part dim, promo revenue as a share of total. The dim
    * side BROADCASTS (part is corpus-bounded; at 100 TB it is still a
    * dim), the date band pushes to the lineitem scan, and both sums ride
    * one partial agg — the join never shuffles the fact side beyond the
    * scan. Revenue is exact integer cents × discount points (b40's
    * discipline); the share is basis points by integer division, so the
    * headline number no engine can render differently. At 100 TB the
    * bigint product sums sit ~10³ under overflow for this one-month
    * band; a full-history variant swaps decimal(38,0) (b43's move).
    */
  def b45TpchQ14(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .join(broadcast(Tables(spark, sfDir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("p_partkey") === col("l_partkey"))
      .select((expr("cast(round(l_extendedprice * 100) as bigint)") *
        (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
        .as("rev_fp"),
        (col("p_type") === "PROMO").as("promo"))
      .agg(sum(when(col("promo"), col("rev_fp")).otherwise(0L))
        .as("promo_rev_fp"),
        sum("rev_fp").as("total_rev_fp"))
      .select(col("promo_rev_fp"), col("total_rev_fp"),
        expr("promo_rev_fp * 10000 div total_rev_fp").as("promo_share_bp"))
  }

  /** b46: TPC-H Q4 (order priority checking) re-expressed on this
    * schema — the EXISTS-semi-join census: one quarter of orders, count
    * per priority of those with at least one LATE line (shipped more
    * than 30 days after the order date; the reference schema's
    * commit/receipt pair is re-expressed on the columns this corpus
    * carries). Plan: date band pushes to the orders scan, the semi-join
    * carries the non-equi lateness predicate INSIDE the join (no
    * post-join dedup — semi-join semantics give per-order existence for
    * free), the census is a 5-row partial agg.
    */
  def b46TpchQ4(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-07-01 00:00:00")
    val orders = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
    val lines = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders.join(lines,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  /** b47: TPC-H Q19 (discounted revenue) re-expressed on this schema —
    * the DISJUNCTIVE-predicate showcase: revenue over three OR'd
    * (brand, size-band, quantity-band) arms. The classic Q19 trap is a
    * plan that evaluates the OR only after a full fact×dim join; the
    * HOISTED common implications (brand ∈ the three, size ≤ the widest
    * band, quantity ≤ the widest band) are applied as conjunctive
    * pre-filters — the part side prunes BEFORE broadcast and the
    * quantity bound pushes into the lineitem scan — then the exact
    * disjunction runs post-join on the surviving sliver. Catalyst does
    * not derive these from an OR across branches; hoisting them by hand
    * is the documented, semantics-preserving rewrite (each arm implies
    * its hoisted bound).
    */
  def b47TpchQ19(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .filter(col("p_brand").isin("Brand#4", "Brand#19", "Brand#25") &&
        col("p_size").between(1, 15))
    val lines = Tables(spark, sfDir, "lineitem")
      .filter(col("l_quantity").between(1.0, 30.0))
      .select(col("l_partkey"), col("l_quantity"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
    lines.join(broadcast(parts), col("p_partkey") === col("l_partkey"))
      .filter(
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#25" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20.0, 30.0)))
      .agg(sum("rev_fp").as("revenue_fp"), count(lit(1)).as("n_rows"))
  }

  /** b48: TPC-H Q17 (small-quantity-order revenue) re-expressed — the
    * CORRELATED-per-group-average pattern: revenue locked in lines whose
    * quantity is under 20% of their part's average. The correlated
    * subquery runs as ONE partial-agg per part (sum, count) joined back
    * on the part key — each side shuffles once on l_partkey. The 20%
    * comparison is EXACT integer cross-multiplication
    * (5·qty·n < Σqty — a double `< 0.2·avg` is an ulp lottery at the
    * band edge, b44's discount-band discipline), and the headline
    * revenue/7 is integer fixed point.
    */
  def b48TpchQ17(spark: SparkSession, sfDir: String): DataFrame = {
    val brandParts = Tables(spark, sfDir, "part")
      .filter(col("p_brand") === "Brand#4" && col("p_type") === "MEDIUM")
      .select("p_partkey")
    // The brand/type dim prunes BELOW the per-part pre-aggregate (r19 —
    // the b55 discipline): the per-part average is only ever consumed for
    // brand parts, so the broadcast SEMI join restricts the lineitem frame
    // BEFORE its l_partkey exchange. Catalyst does not push joins through
    // aggregates on its own; without this the full part key space crosses
    // the shuffle and ~selectivity× of it is discarded one operator later.
    val brandLines = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"),
        expr("cast(round(l_quantity) as bigint)").as("qty_i"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("price_c"))
      .join(broadcast(brandParts), col("p_partkey") === col("l_partkey"),
        "left_semi")
    val perPart = brandLines.groupBy("l_partkey")
      .agg(sum("qty_i").as("sum_qty"), count(lit(1)).as("n_lines"))
    brandLines
      .join(perPart, "l_partkey")
      .filter(col("qty_i") * 5L * col("n_lines") < col("sum_qty"))
      .agg(sum("price_c").as("sum_price_c"), count(lit(1)).as("n_rows"))
      .select(expr("sum_price_c div 7").as("avg_yearly_fp"),
        col("sum_price_c"), col("n_rows"))
  }

  /** b49: TPC-H Q22 (global-customer-relationship) re-expressed — the
    * scalar-subquery + ANTI-join pattern: positive-balance customers
    * above the GLOBAL positive average who never placed an order,
    * censused per nation. The global average is a 1-row broadcast
    * (sum, count) and the comparison is exact cross-multiplication
    * (bal·n > Σbal in integer cents); the absence test is a left-anti
    * join on the customer key — no NOT IN null-trap, no distinct. The
    * absent relation is URGENT orders (this corpus gives every customer
    * SOME order, so Q22's literal "never ordered" would census an empty
    * set and prove nothing — the anti-join pattern is the point, and the
    * priority filter pushes to the orders scan).
    */
  def b49TpchQ22(spark: SparkSession, sfDir: String): DataFrame = {
    val custs = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("bal_c"))
      .filter(col("bal_c") > 0L)
    val globalAvg = custs.agg(
      sum("bal_c").as("sum_bal"), count(lit(1)).as("n_bal"))
    custs.crossJoin(broadcast(globalAvg))
      .filter(col("bal_c") * col("n_bal") > col("sum_bal"))
      .join(Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_custs"), sum("bal_c").as("total_bal_c"))
      .orderBy("c_nationkey")
  }

  /** b50: TPC-H Q15 (top supplier) re-expressed — the ARGMAX-over-
    * aggregate pattern: per-supplier revenue for one quarter, then the
    * supplier(s) achieving the maximum. Two passes over the SAME
    * aggregate frame (Catalyst reuses the exchange): a 1-row max
    * broadcast cross-joined back — no window over the whole frame, no
    * self-join on revenue. Exact integer cents make the max boundary
    * deterministic (a double-sum argmax can disagree between engines on
    * the last ulp — the whole reason Q15 is in the exactness family).
    */
  def b50TpchQ15(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    val rev = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_suppkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
      .groupBy("l_suppkey").agg(sum("rev_fp").as("total_rev_fp"))
    val top = rev.agg(max("total_rev_fp").as("max_rev_fp"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_rev_fp") === col("max_rev_fp"))
      .join(Tables(spark, sfDir, "supplier")
        .select(col("s_suppkey"), col("s_name")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_fp"))
      .orderBy("s_suppkey")
  }

  /** b51: TPC-H Q7 (volume shipping) re-expressed — the two-sided
    * dim-filter pattern: bilateral trade volume between two nations by
    * ship year. The nation filter is HOISTED to both dim sides before
    * their joins (each side keeps only the two nations — b47's
    * disjunction-hoist discipline), the exact pair disjunction runs
    * post-join on the sliver, and the two fact-fact joins shuffle on
    * their keys while the nation-annotated supplier/customer dims ride
    * broadcasts. Revenue is exact integer cents; the year comes from the
    * shipdate (both engines extract on the same ms timestamps).
    */
  def b51TpchQ7(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val (na, nb) = ("NATION_1", "NATION_2")
    val nations = Tables(spark, sfDir, "nation")
      .filter(col("n_name").isin(na, nb))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nations.withColumnRenamed("n_name", "supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nations.withColumnRenamed("n_name", "cust_nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum("rev_fp").as("revenue_fp"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** b52: TPC-H Q8 (national market share) re-expressed — the
    * share-of-conditional-sum pattern over the widest join graph in the
    * set (fact ⋈ part ⋈ supplier ⋈ orders ⋈ customer ⋈ nation ⋈
    * region): of all PROMO-type volume sold to EUROPE customers over two
    * years, the share supplied by NATION_5, per order year. Dims prune
    * BEFORE their broadcasts (type filter on part, region filter walks
    * nation→customer); both sums ride one partial agg; the share is
    * integer basis points of exact cents.
    */
  def b52TpchQ8(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val promoParts = Tables(spark, sfDir, "part")
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val euroNations = Tables(spark, sfDir, "nation")
      .join(broadcast(Tables(spark, sfDir, "region")
        .filter(col("r_name") === "EUROPE").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val euroCust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(euroNations),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supp = Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
      .join(broadcast(promoParts), col("p_partkey") === col("l_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sfDir, "orders")
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(euroCust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_year")
      .agg(sum(when(col("s_nationkey") === 5, col("rev_fp")).otherwise(0L))
        .as("nation_rev_fp"),
        sum("rev_fp").as("total_rev_fp"))
      .select(col("o_year"), col("nation_rev_fp"), col("total_rev_fp"),
        expr("nation_rev_fp * 10000 div total_rev_fp").as("mkt_share_bp"))
      .orderBy("o_year")
  }

  /** b53: TPC-H Q13 (customer order-count distribution) re-expressed —
    * the LEFT-join double-grouping pattern: orders per customer
    * (zero-order customers INCLUDED via the left join + null-skipping
    * count), then the distribution of those counts. The first grouping
    * shuffles on the customer key, the second on the count — both
    * partial-agg'd; no window, no distinct.
    */
  def b53TpchQ13(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer").select(col("c_custkey"))
      .join(Tables(spark, sfDir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("c_count")) // count() skips nulls
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  /** b54: TPC-H Q21 (suppliers who kept orders waiting) re-expressed on
    * this schema — the suite's hardest join-planning shape, and the one
    * composition Group B didn't exercise: a SEMI and an ANTI existence
    * test against the SAME fact. A supplier "kept an order waiting" when
    * its line shipped late (30+ days after the order date — b46's
    * lateness rule on the columns this corpus carries, standing in for
    * the reference schema's commit/receipt pair) on a FINALIZED
    * multi-supplier order where NO other supplier was late: semi-join
    * (another supplier's line exists) + anti-join (no OTHER supplier's
    * LATE line exists), both as joins carrying the supplier-inequality
    * predicate INSIDE the join — never a count-distinct dedup.
    *
    * Plan shape: the annotated line frame (orderkey, suppkey, late)
    * derives once from one lineitem⋈orders shuffle on the order key and
    * all three consumers (the late probe, the semi side, the anti side)
    * reuse that partitioning — the two existence joins are co-located,
    * zero extra fact shuffles. The supplier dim broadcasts; the census
    * is a 100-supplier agg under a TakeOrdered cut.
    */
  def b54TpchQ21(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("late"))
    val waiting = lo.filter(col("late"))
      .select(col("l_orderkey").as("w_orderkey"),
        col("l_suppkey").as("w_suppkey"))
    waiting
      // another supplier has SOME line on the order: existence via semi
      .join(lo.select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("w_orderkey") &&
          col("l_suppkey") =!= col("w_suppkey"), "left_semi")
      // ... and no OTHER supplier's line was late: absence via anti
      .join(lo.filter(col("late")).select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("w_orderkey") &&
          col("l_suppkey") =!= col("w_suppkey"), "left_anti")
      .join(broadcast(Tables(spark, sfDir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("w_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(100)
  }

  /** b55: TPC-H Q20 (potential part promotion) re-expressed on this
    * schema — the nested-IN-chain shape: suppliers (of one nation) who
    * DOMINATED a filtered part's shipments for a year, where "dominated"
    * compares the supplier's per-part shipped quantity against the
    * part's total by exact integer cross-multiplication (4·sq > total ⇒
    * the supplier moved more than a quarter of the year's volume; the
    * reference's availability-vs-half-of-shipped test re-expressed on
    * the columns this corpus carries). The IN chain (parts by name
    * prefix → their heavy suppliers → the supplier dim) runs innermost-
    * out: the name-filtered part keys BROADCAST-prune the lineitem scan,
    * the per-(supplier, part) agg is one partial agg whose per-part
    * total joins back on the part key (b48's correlated-agg pattern,
    * reusing the same shuffle side), and the outer IN is a SEMI join
    * from the nation-filtered supplier dim — no distinct, no dedup agg.
    */
  def b55TpchQ20(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val namedParts = Tables(spark, sfDir, "part")
      .filter(col("p_name").like("small%")).select("p_partkey")
    val shipped = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .join(broadcast(namedParts), col("p_partkey") === col("l_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(expr("cast(round(l_quantity) as bigint)")).as("sq"))
    val totals = shipped.groupBy("l_partkey").agg(sum("sq").as("tq"))
    val heavy = shipped.join(totals, "l_partkey")
      .filter(col("sq") * 4L > col("tq"))
      .select("l_suppkey")
    Tables(spark, sfDir, "supplier")
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"), col("s_name"))
      .join(heavy, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .orderBy("s_name")
  }

  /** b56: TPC-H Q12 (shipping modes and order priority) re-expressed on
    * this schema — the two-priority conditional census: among lines
    * shipped LATE (b46's 30-day rule) in one year, per return flag (the
    * small categorical this corpus carries where the reference has ship
    * modes), how many belong to high-priority orders (1-URGENT/2-HIGH)
    * vs the rest. One fact-fact join on the order key with the date band
    * pushed to the lineitem scan and the lateness predicate inside the
    * join; both counts ride ONE partial agg over a 3-row group space.
    */
  def b56TpchQ12(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
      .join(Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** b57: TPC-H Q9 (product-type profit) re-expressed on this schema —
    * the largest-intermediate join/agg shape in the suite: profit per
    * (supplier nation, order year) over lineitem ⋈ part ⋈ supplier ⋈
    * orders ⋈ nation with a LIKE-filtered part side. This corpus has no
    * partsupp, so the per-unit supply cost is the part's retail price
    * (the same stand-in discipline as b55's availability rule): profit
    * = revenue − retail·quantity, all EXACT integer fixed point — the
    * subtraction is the classic Q9 ulp trap, so both terms live in the
    * same cents×100 unit (rev_fp = price_c·(100−disc); cost_fp =
    * retail_c·qty·100) and no double ever appears.
    *
    * Plan shape: the LIKE filter prunes part BEFORE its broadcast
    * (plan-pinned), supplier and nation broadcast, and the only
    * fact-fact shuffle is lineitem ⋈ orders on the order key; the
    * (nation, year) agg is partial-agg'd over a 25·7-row group space.
    */
  def b57TpchQ9(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = Tables(spark, sfDir, "part")
      .filter(col("p_name").like("%red%"))
      .select(col("p_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("retail_c"))
    val suppNation = Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables(spark, sfDir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        expr("cast(round(l_quantity) as bigint)").as("qty_i"),
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          (lit(100L) - expr("cast(round(l_discount * 100) as bigint)")))
          .as("rev_fp"))
      .join(broadcast(redParts), col("p_partkey") === col("l_partkey"))
      .join(broadcast(suppNation), col("s_suppkey") === col("l_suppkey"))
      .join(Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("nation", "o_year")
      .agg(sum(col("rev_fp") - col("retail_c") * col("qty_i") * 100L)
        .as("sum_profit_fp"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** b58: TPC-H Q2 (minimum-cost supplier) re-expressed on this schema —
    * the correlated-min-over-a-relationship shape: for each size-15
    * part, the EUROPE suppliers offering the part's minimum cost, with
    * supplier details, ordered by account balance. This corpus has no
    * partsupp, so the (part, supplier) relationship derives from
    * lineitem: the offer cost is the supplier's cheapest observed line
    * charge for the part (min of exact cents — deterministic where the
    * reference's ps_supplycost is a column). The correlated min runs as
    * b48's agg-join-back: the per-part minimum is ONE partial agg over
    * the candidate frame joined back on the part key, reusing the same
    * shuffle side — never a sort or a window over the whole frame.
    *
    * Plan shape: the size-filtered part side and the region-walked
    * supplier dim broadcast-SEMI-prune the lineitem scan BELOW the offer
    * aggregate (r19 — so only ~1/50 × the EUROPE fraction of the
    * part×supplier key space ever crosses the composite-key exchange);
    * the offer agg shuffles that pruned frame once; the attribute joins
    * above it reuse the same broadcast exchanges; the presentation cut
    * is a deterministic full-key sort under a LIMIT (TakeOrdered — the
    * balance/nation/name/part tiebreak chain makes the boundary exact
    * at any scale).
    */
  def b58TpchQ2(spark: SparkSession, sfDir: String): DataFrame = {
    val sizedParts = Tables(spark, sfDir, "part")
      .filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"))
    val euroSupp = Tables(spark, sfDir, "supplier")
      .join(broadcast(Tables(spark, sfDir, "nation")
        .join(broadcast(Tables(spark, sfDir, "region")
          .filter(col("r_name") === "EUROPE").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        expr("cast(round(s_acctbal * 100) as bigint)").as("acctbal_c"))
    // Both dims prune BELOW the offer pre-aggregate (r19 — the b55
    // discipline): the per-(part, supplier) min is only ever consumed for
    // size-15 parts × EUROPE suppliers, so the broadcast SEMI joins
    // restrict the lineitem frame BEFORE its composite-key exchange.
    // Catalyst does not push joins through aggregates on its own; without
    // this the FULL part×supplier key space crosses the shuffle and ~98%
    // is discarded one operator later. The semi joins broadcast the same
    // frames the attribute joins below broadcast, so the exchanges reuse.
    val offers = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("price_c"))
      .join(broadcast(sizedParts), col("p_partkey") === col("l_partkey"),
        "left_semi")
      .join(broadcast(euroSupp), col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("price_c").as("cost_c"))
    val cand = offers
      .join(broadcast(sizedParts), col("p_partkey") === col("l_partkey"))
      .join(broadcast(euroSupp), col("s_suppkey") === col("l_suppkey"))
      .select(col("acctbal_c"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("cost_c"))
    val minCost = cand.groupBy("p_partkey").agg(min("cost_c").as("min_cost_c"))
    cand.join(minCost, "p_partkey")
      .filter(col("cost_c") === col("min_cost_c"))
      .select("acctbal_c", "s_name", "n_name", "p_partkey", "p_name", "cost_c")
      .orderBy(col("acctbal_c").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** b59: TPC-H Q11 (important stock identification) re-expressed on
    * this schema — the global-threshold HAVING shape: per-part value
    * held by one nation's suppliers, keeping parts whose value exceeds
    * a fixed fraction (0.1%) of the nation's total. This corpus has no
    * partsupp, so "value" is the exact-cents line revenue the nation's
    * suppliers shipped per part. The global threshold is b49's 1-row
    * broadcast cross-join, and the fraction compare is exact integer
    * cross-multiplication (value·1000 > total) — no division, no
    * double, so the boundary part cannot flip between engines.
    *
    * Plan shape: the nation filter walks supplier → broadcast-prunes
    * the lineitem scan (1/25 of lines survive); ONE partial agg on the
    * part key; the scalar total reuses that aggregate's exchange; the
    * value-desc presentation sort carries the part-key tiebreak so ties
    * order deterministically.
    */
  def b59TpchQ11(spark: SparkSession, sfDir: String): DataFrame = {
    val nationSupp = Tables(spark, sfDir, "supplier")
      .filter(col("s_nationkey") === 3).select("s_suppkey")
    val values = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("price_c"))
      .join(broadcast(nationSupp), col("s_suppkey") === col("l_suppkey"))
      .groupBy("l_partkey")
      .agg(sum("price_c").as("value_c"))
    val total = values.agg(sum("value_c").as("total_c"))
    values.crossJoin(broadcast(total))
      .filter(col("value_c") * 1000L > col("total_c"))
      .select("l_partkey", "value_c")
      .orderBy(col("value_c").desc, col("l_partkey"))
  }

  /** b60: TPC-H Q16 (parts/supplier relationship census) re-expressed
    * on this schema — the NOT-IN + count-distinct census: how many
    * distinct suppliers serve each (brand, type, size) cell of a
    * filtered part family, excluding flagged suppliers. The (part,
    * supplier) relationship derives from lineitem (no partsupp), the
    * flagged set is negative-balance suppliers (the reference flags by
    * a comment pattern this corpus doesn't carry), and the exclusion is
    * a left-ANTI join — b3/b49's discipline, never a NOT IN null trap.
    *
    * Plan shape: the brand/type/size filter prunes part BEFORE its
    * broadcast into the lineitem scan, so the distinct-relationship
    * shuffle carries only surviving (partkey, suppkey) pairs; the tiny
    * flagged-supplier set anti-joins broadcast; the count-distinct
    * rides the same grouping exchange (expand + two-phase agg).
    */
  def b60TpchQ16(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables(spark, sfDir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 14, 23, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val flagged = Tables(spark, sfDir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val queries: Map[String, Q] = Map(
    "b57_tpch_q9"      -> (b57TpchQ9 _),
    "b58_tpch_q2"      -> (b58TpchQ2 _),
    "b59_tpch_q11"     -> (b59TpchQ11 _),
    "b60_tpch_q16"     -> (b60TpchQ16 _),
    "b54_tpch_q21"     -> (b54TpchQ21 _),
    "b55_tpch_q20"     -> (b55TpchQ20 _),
    "b56_tpch_q12"     -> (b56TpchQ12 _),
    "b51_tpch_q7"      -> (b51TpchQ7 _),
    "b52_tpch_q8"      -> (b52TpchQ8 _),
    "b53_tpch_q13"     -> (b53TpchQ13 _),
    "b48_tpch_q17"     -> (b48TpchQ17 _),
    "b49_tpch_q22"     -> (b49TpchQ22 _),
    "b50_tpch_q15"     -> (b50TpchQ15 _),
    "b45_tpch_q14"     -> (b45TpchQ14 _),
    "b46_tpch_q4"      -> (b46TpchQ4 _),
    "b47_tpch_q19"     -> (b47TpchQ19 _),
    "b44_tpch_q6"      -> (b44TpchQ6 _),
    "b43_tpch_q1"      -> (b43TpchQ1 _),
    "b39_event_funnel" -> (b39EventFunnel _),
    "b40_tpch_q3"      -> (b40TpchQ3 _),
    "b41_tpch_q10"     -> (b41TpchQ10 _),
    "b42_tpch_q18"     -> (b42TpchQ18 _),
    "b36_merge_scd"     -> (b36MergeScd _),
    "b37_topk_native"   -> (b37TopkNative _),
    "b38_range_frame"   -> (b38RangeFrame _),
    "b27_udaf_wmedian"  -> (b27UdafWeightedMedian _),
    "b32_sessionize"    -> (b32Sessionize _),
    "b33_stats_corr"    -> (b33StatsCorr _),
    "b34_recursive_spine" -> (b34RecursiveSpine _),
    "b35_salted_join"   -> (b35SaltedJoin _),
    "b28_set_ops_all"   -> (b28SetOpsAll _),
    "b29_lateral"       -> (b29Lateral _),
    "b30_tpch_q5"       -> (b30TpchQ5 _),
    "b25_array_map"     -> (b25ArrayMapFuncs _),
    "b22_asof_join"     -> (b22AsofJoin _),
    "b23_lead_lag"      -> (b23LeadLag _),
    "b24_range_join"    -> (b24RangeJoin _),
    "b21_percentile"    -> (b21Percentile _),
    "b17_pivot"         -> (b17Pivot _),
    "b18_unpivot"       -> (b18Unpivot _),
    "b19_array_agg"     -> (b19ArrayAgg _),
    "b20_filtered_agg"  -> (b20FilteredAgg _),
    "b1_inner_join"     -> (b1InnerJoin _),
    "b2_outer_join"     -> (b2OuterJoin _),
    "b3_semi_anti"      -> (b3SemiAnti _),
    "b4_broadcast_join" -> (b4BroadcastJoin _),
    "b5_hash_agg"       -> (b5HashAgg _),
    "b6_distinct_agg"   -> (b6DistinctAgg _),
    "b7_rollup_cube"    -> (b7RollupCube _),
    "b26_cube"          -> (b26Cube _),
    "b8_window_rank"    -> (b8WindowRank _),
    "b31_window_extras" -> (b31WindowExtras _),
    "b9_window_frame"   -> (b9WindowFrame _),
    "b10_topk_per_group" -> (b10TopkPerGroup _),
    "b11_sort_limit"    -> (b11SortLimit _),
    "b12_set_ops"       -> (b12SetOps _),
    "b13_scalar_funcs"  -> (b13ScalarFuncs _),
    "b14_subquery"      -> (b14Subquery _),
    "b15_grouping_sets" -> (b15GroupingSets _),
    "b16_time_window"   -> (b16TimeWindow _),
  )

  val oracleSql: Map[String, String] = Map(
    "b57_tpch_q9" ->
      """SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
        |    - CAST(ROUND(p_retailprice * 100) AS BIGINT)
        |      * CAST(ROUND(l_quantity) AS BIGINT) * 100) AS BIGINT)
        |    AS sum_profit_fp
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "b58_tpch_q2" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_c
        |  FROM lineitem GROUP BY 1, 2),
        |esupp AS (
        |  SELECT s_suppkey, s_name,
        |    CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_c, n_name
        |  FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cand AS (
        |  SELECT o.l_partkey AS p_partkey, p.p_name, o.cost_c,
        |         e.s_name, e.acctbal_c, e.n_name
        |  FROM offers o
        |  JOIN part p ON p.p_partkey = o.l_partkey
        |  JOIN esupp e ON e.s_suppkey = o.l_suppkey
        |  WHERE p.p_size = 15),
        |minc AS (
        |  SELECT p_partkey, MIN(cost_c) AS min_cost_c FROM cand GROUP BY 1)
        |SELECT c.acctbal_c, c.s_name, c.n_name, c.p_partkey, c.p_name,
        |  c.cost_c
        |FROM cand c
        |JOIN minc m ON m.p_partkey = c.p_partkey AND c.cost_c = m.min_cost_c
        |ORDER BY c.acctbal_c DESC, c.n_name, c.s_name, c.p_partkey
        |LIMIT 100""".stripMargin,
    "b59_tpch_q11" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS value_c
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE s_nationkey = 3
        |  GROUP BY 1),
        |tot AS (SELECT SUM(value_c) AS total_c FROM v)
        |SELECT l_partkey, value_c FROM v, tot
        |WHERE value_c * 1000 > total_c
        |ORDER BY value_c DESC, l_partkey""".stripMargin,
    "b60_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) rel
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 14, 23, 45)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "b54_tpch_q21" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 30 DAY) AS late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, COUNT(*)::BIGINT AS numwait
        |FROM lo l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.late
        |  AND EXISTS (
        |    SELECT 1 FROM lo l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lo l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    "b55_tpch_q20" ->
      """WITH fp AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |shipped AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM fp)
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, SUM(sq) AS tq FROM shipped GROUP BY 1),
        |heavy AS (
        |  SELECT DISTINCT s.l_suppkey
        |  FROM shipped s JOIN tot t USING (l_partkey)
        |  WHERE 4 * s.sq > t.tq)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
        |  AND s_nationkey = 3
        |ORDER BY s_name""".stripMargin,
    "b56_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "b51_tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  EXTRACT(YEAR FROM l_shipdate) AS l_year,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_fp
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "b52_tpch_q8" ->
      """WITH j AS (
        |  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_fp,
        |    s_nationkey
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN s_nationkey = 5 THEN rev_fp ELSE 0 END)
        |    AS BIGINT) AS nation_rev_fp,
        |  CAST(SUM(rev_fp) AS BIGINT) AS total_rev_fp,
        |  CAST(SUM(CASE WHEN s_nationkey = 5 THEN rev_fp ELSE 0 END)
        |    * 10000 // SUM(rev_fp) AS BIGINT) AS mkt_share_bp
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin,
    "b53_tpch_q13" ->
      """SELECT c_count, COUNT(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_custkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "b48_tpch_q17" ->
      """WITH l AS (
        |  SELECT l_partkey, CAST(ROUND(l_quantity) AS BIGINT) AS qty_i,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem),
        |per_part AS (
        |  SELECT l_partkey, SUM(qty_i) AS sum_qty, COUNT(*) AS n_lines
        |  FROM l GROUP BY l_partkey),
        |sel AS (
        |  SELECT price_c
        |  FROM l
        |  JOIN part ON p_partkey = l.l_partkey
        |  JOIN per_part p ON p.l_partkey = l.l_partkey
        |  WHERE p_brand = 'Brand#4' AND p_type = 'MEDIUM'
        |    AND qty_i * 5 * n_lines < sum_qty)
        |SELECT CAST(SUM(price_c) // 7 AS BIGINT) AS avg_yearly_fp,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
        |  COUNT(*)::BIGINT AS n_rows
        |FROM sel""".stripMargin,
    "b49_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer
        |  WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > 0),
        |g AS (SELECT SUM(bal_c) AS sum_bal, COUNT(*) AS n_bal FROM c)
        |SELECT c_nationkey, COUNT(*)::BIGINT AS n_custs,
        |  CAST(SUM(bal_c) AS BIGINT) AS total_bal_c
        |FROM c, g
        |WHERE bal_c * n_bal > sum_bal
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "b50_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
        |      AS total_rev_fp
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev_fp
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev_fp = (SELECT MAX(total_rev_fp) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "b45_tpch_q14" ->
      """WITH j AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_fp,
        |    (p_type = 'PROMO') AS promo
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT
        |  CAST(SUM(CASE WHEN promo THEN rev_fp ELSE 0 END) AS BIGINT)
        |    AS promo_rev_fp,
        |  CAST(SUM(rev_fp) AS BIGINT) AS total_rev_fp,
        |  CAST(SUM(CASE WHEN promo THEN rev_fp ELSE 0 END) * 10000
        |    // SUM(rev_fp) AS BIGINT) AS promo_share_bp
        |FROM j""".stripMargin,
    "b46_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*)::BIGINT AS n_late_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "b47_tpch_q19" ->
      """SELECT
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_fp,
        |  COUNT(*)::BIGINT AS n_rows
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "b44_tpch_q6" ->
      """SELECT
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_fp,
        |  COUNT(*)::BIGINT AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,
    "b43_tpch_q1" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(ROUND(l_quantity) AS BIGINT) AS qty,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c,
        |    CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_c
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |  CAST(SUM(price_c) AS BIGINT) AS sum_base_fp,
        |  CAST(SUM(CAST(price_c AS HUGEINT) * (100 - disc_c))
        |    AS VARCHAR) AS sum_disc_price_fp,
        |  CAST(SUM(CAST(price_c AS HUGEINT) * (100 - disc_c) * (100 + tax_c))
        |    AS VARCHAR) AS sum_charge_fp,
        |  CAST(SUM(qty) AS BIGINT) * 100 // COUNT(*) AS avg_qty_fp,
        |  CAST(SUM(price_c) AS BIGINT) // COUNT(*) AS avg_price_fp,
        |  CAST(SUM(disc_c) AS BIGINT) * 100 // COUNT(*) AS avg_disc_fp,
        |  COUNT(*)::BIGINT AS n_rows
        |FROM c
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b42_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |  FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(l_quantity) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "b41_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_fp
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue_fp DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "b40_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_fp
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_fp DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "b39_event_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |t1 AS (
        |  SELECT user_id, min(ts) AS t_signup FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_view FROM ev e
        |  JOIN t1 ON t1.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > t1.t_signup
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM ev e
        |  JOIN t2 ON t2.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t2.t_view
        |  GROUP BY e.user_id),
        |t4 AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM ev e
        |  JOIN t3 ON t3.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t3.t_click
        |  GROUP BY e.user_id)
        |SELECT u.user_id, t1.t_signup, t2.t_view, t3.t_click, t4.t_purchase,
        |  CAST(CASE WHEN t4.user_id IS NOT NULL THEN 4
        |       WHEN t3.user_id IS NOT NULL THEN 3
        |       WHEN t2.user_id IS NOT NULL THEN 2
        |       WHEN t1.user_id IS NOT NULL THEN 1
        |       ELSE 0 END AS BIGINT) AS stage_reached
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN t1 ON t1.user_id = u.user_id
        |LEFT JOIN t2 ON t2.user_id = u.user_id
        |LEFT JOIN t3 ON t3.user_id = u.user_id
        |LEFT JOIN t4 ON t4.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin,
    "b22_asof_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts,
        |  v.event_id AS view_id,
        |  CAST(v.ts AS TIMESTAMP) AS view_ts,
        |  ROUND(v.value, 2) AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, MAX(event_id) AS event_id,
        |         MAX_BY(value, event_id) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY click_id""".stripMargin,
    "b23_lead_lag" ->
      """SELECT o_orderkey, o_custkey,
        |  ROUND(LAG(o_totalprice, 1, 0.0) OVER w, 2) AS prev_price,
        |  ROUND(LEAD(o_totalprice, 1, 0.0) OVER w, 2) AS next_price,
        |  ROUND(FIRST_VALUE(o_totalprice) OVER wf, 2) AS first_price,
        |  ROUND(NTH_VALUE(o_totalprice, 2) OVER wf, 2) AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "b31_window_extras" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(floor((percent_rank() OVER w) * 1000000) AS BIGINT) AS pct_rank_e6,
        |  CAST(floor((cume_dist() OVER w) * 1000000) AS BIGINT) AS cume_e6
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "b25_array_map" ->
      """SELECT l_orderkey,
        |  array_to_string(list(CAST(l_quantity AS BIGINT) ORDER BY l_quantity), ',') AS qty_list,
        |  array_to_string(list(CAST(l_quantity AS BIGINT) ORDER BY l_quantity)[1:2], ',') AS qty_low2,
        |  MAX(CAST(l_quantity AS BIGINT)) AS qty_max,
        |  bool_or(CAST(l_quantity AS BIGINT) = 25) AS has_qty25,
        |  COUNT(*) FILTER (WHERE l_quantity >= 30) AS n_bulk,
        |  MAX(CASE WHEN l_linenumber = 1 THEN CAST(l_quantity AS BIGINT) END) AS qty_line1,
        |  COUNT(DISTINCT l_linenumber) AS n_lines
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "b24_range_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  COUNT(v.ts)::BIGINT AS n_views_1h,
        |  ROUND(COALESCE(SUM(v.value), 0.0), 2) AS sum_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |GROUP BY 1, 2
        |ORDER BY purchase_id""".stripMargin,
    "b21_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  quantile_cont(l_quantity, 0.75) AS q3_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "b17_pivot" ->
      """SELECT o_orderpriority,
        |  ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
        |  ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
        |  ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "b18_unpivot" ->
      """SELECT c_custkey, 'c_acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, 'c_nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
        |FROM customer
        |ORDER BY c_custkey, metric""".stripMargin,
    "b19_array_agg" ->
      """SELECT l_orderkey,
        |  array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS lines,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "b20_filtered_agg" ->
      """SELECT l_returnflag,
        |  ROUND(SUM(l_quantity) FILTER (WHERE l_discount > 0.05), 2) AS qty_disc,
        |  COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_notax,
        |  ROUND(SUM(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2) AS price_bulk
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "b1_inner_join" ->
      """SELECT o_orderkey, c_custkey, c_name, n_name, o_totalprice
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin,
    "b2_outer_join" ->
      """SELECT c_custkey, o_orderkey,
        |  COALESCE(o_totalprice, 0.0) AS price_or_zero
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,
    "b3_semi_anti" ->
      """SELECT c_custkey, c_name, 'has_orders' AS tag
        |FROM customer WHERE EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_orders' AS tag
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "b4_broadcast_join" ->
      """SELECT r_name, n_name,
        |  COUNT(*) AS n_customers,
        |  ROUND(SUM(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "b5_hash_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 2) AS avg_qty,
        |  ROUND(AVG(l_discount), 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b6_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  ROUND(SUM(DISTINCT l_quantity), 2) AS sum_dist_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "b7_rollup_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    "b30_tpch_q5" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "b28_set_ops_all" ->
      """WITH building AS (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |rich AS (
        |  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000),
        |u AS (
        |  SELECT c_nationkey, 'intersect_all' AS tag FROM (
        |    SELECT c_nationkey FROM building INTERSECT ALL SELECT c_nationkey FROM rich)
        |  UNION ALL
        |  SELECT c_nationkey, 'except_all' AS tag FROM (
        |    SELECT c_nationkey FROM building EXCEPT ALL SELECT c_nationkey FROM rich))
        |SELECT tag, c_nationkey, COUNT(*) AS n
        |FROM u
        |GROUP BY tag, c_nationkey
        |ORDER BY tag, c_nationkey""".stripMargin,
    "b29_lateral" ->
      """SELECT n.n_nationkey, n.n_name, s.n_customers, s.avg_bal
        |FROM nation n,
        |LATERAL (
        |  SELECT COUNT(*) AS n_customers,
        |         CAST((2 * SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
        |               + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 100
        |           AS avg_bal
        |  FROM customer WHERE c_nationkey = n.n_nationkey) s
        |ORDER BY n.n_nationkey""".stripMargin,
    "b27_udaf_wmedian" ->
      """WITH wts AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS w,
        |         COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, q,
        |         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY q) AS cw,
        |         SUM(w) OVER (PARTITION BY l_returnflag) AS tw,
        |         SUM(c) OVER (PARTITION BY l_returnflag ORDER BY q) AS cc,
        |         SUM(c) OVER (PARTITION BY l_returnflag) AS tc
        |  FROM wts)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN cw >= (tw + 1) // 2 THEN q END) AS wmedian_qty,
        |  MIN(CASE WHEN cc >= (tc + 1) // 2 THEN q END) AS lower_median_qty,
        |  CAST(MAX(tc) AS BIGINT) AS n
        |FROM cum
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "b26_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    "b8_window_rank" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |  RANK() OVER w AS rnk,
        |  DENSE_RANK() OVER w AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "b9_window_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS moving_avg3
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "b10_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "b11_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "b12_set_ops" ->
      """WITH building AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |rich AS (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT * FROM (
        |  SELECT c_custkey, 'union_all' AS tag FROM (
        |    SELECT c_custkey FROM building UNION ALL SELECT c_custkey FROM rich)
        |  UNION ALL
        |  SELECT c_custkey, 'intersect' AS tag FROM (
        |    SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
        |  UNION ALL
        |  SELECT c_custkey, 'except' AS tag FROM (
        |    SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich))
        |ORDER BY tag, c_custkey""".stripMargin,
    "b13_scalar_funcs" ->
      """SELECT o_orderkey,
        |  UPPER(o_orderpriority) AS prio_upper,
        |  SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
        |  o_orderstatus || '/' || o_orderpriority AS status_prio,
        |  o_orderpriority LIKE '%URGENT%' AS is_urgent,
        |  YEAR(o_orderdate) AS o_year,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS o_month,
        |  DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
        |  ROUND(ABS(o_totalprice - 1000.0), 2) AS abs_diff,
        |  o_orderkey % 7 AS key_mod7,
        |  CASE WHEN o_totalprice > 100000 THEN 'big'
        |       WHEN o_totalprice > 10000 THEN 'mid'
        |       ELSE 'small' END AS size_class,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "b14_subquery" ->
      """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        |  AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "b15_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,
    "b16_time_window" ->
      """SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket, event_type,
        |  COUNT(*) AS n_events,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin,
    "b32_sessionize" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    LAG(CAST(ts AS TIMESTAMP)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS f
        |  FROM ordered),
        |sess AS (
        |  SELECT *, CAST(SUM(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM sess
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "b38_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "b37_topk_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "b36_merge_scd" ->
      """WITH ranked_base AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        |ranked_delta AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
        |b AS (SELECT * FROM ranked_base WHERE rn = 1),
        |d AS (SELECT * FROM ranked_delta WHERE rn = 1)
        |SELECT COALESCE(d.o_custkey, b.o_custkey) AS o_custkey,
        |  COALESCE(d.o_orderkey, b.o_orderkey) AS cur_orderkey,
        |  ROUND(COALESCE(d.o_totalprice, b.o_totalprice), 2) AS cur_totalprice,
        |  CAST(COALESCE(d.o_orderdate, b.o_orderdate) AS DATE) AS cur_orderdate,
        |  CASE WHEN b.o_custkey IS NULL THEN 'INSERT'
        |       WHEN d.o_custkey IS NULL THEN 'UNCHANGED'
        |       ELSE 'UPDATE' END AS change_type
        |FROM b FULL OUTER JOIN d ON b.o_custkey = d.o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "b35_salted_join" ->
      """SELECT n_name, COUNT(*) AS n_customers,
        |  ROUND(SUM(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "b34_recursive_spine" ->
      """WITH RECURSIVE spine(m, mx) AS (
        |  SELECT CAST(DATE_TRUNC('MONTH', MIN(o_orderdate)) AS DATE),
        |         CAST(DATE_TRUNC('MONTH', MAX(o_orderdate)) AS DATE)
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM spine WHERE m < mx),
        |per AS (
        |  SELECT CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE) AS m,
        |         COUNT(*) AS n_orders,
        |         ROUND(SUM(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT CAST(spine.m AS TIMESTAMP) AS bucket_month,
        |       COALESCE(per.n_orders, 0) AS n_orders,
        |       COALESCE(per.revenue, 0.0) AS revenue
        |FROM spine LEFT JOIN per ON spine.m = per.m
        |ORDER BY bucket_month""".stripMargin,
    "b33_stats_corr" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(AVG(value), 4) AS avg_value,
        |  ROUND(STDDEV_SAMP(value), 4) AS sd_value,
        |  ROUND(VAR_SAMP(value), 4) AS var_value,
        |  ROUND(COVAR_SAMP(value, CAST(user_id AS DOUBLE)), 4) AS cov_value_uid,
        |  ROUND(CORR(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_uid
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}
