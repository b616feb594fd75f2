package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** The reference's SQL execution surface (SQL_DATA_INTEGRATION_TOOL.py
  * keyword list at 387-393/941-947: SELECT/WHERE/JOINs/GROUP BY/ORDER BY/
  * HAVING/DISTINCT/LIMIT/OFFSET/COUNT/AVG/YEAR/MONTH/IN/CASE...) expressed
  * as declarative DataFrame plans. Each query is written so Catalyst gets
  * the whole plan: filters sit directly over scans (pushdown), projections
  * are minimal (column pruning), small dimensions are broadcast, and
  * aggregates are decimal-exact (deterministic + partial-aggregatable).
  */
object RelationalQueries {

  /** Exact decimal view of a 2-dp money/quantity column. */
  private def dec(c: Column): Column = c.cast("decimal(18,4)")
  private val one = lit(1).cast("decimal(18,4)")
  /** Exact sum surfaced as double — order-insensitive, engine-portable. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** The undirected trade-graph pair set (supplier node 2k ↔ customer
    * node 2k+1, one row per distinct relationship), memoized per
    * (dir, content fingerprint) and persisted — the q30 pair-set
    * discipline applied to the GRAPH eight fixpoint queries share
    * (q100/q104/q122/q130/q144/q151/q159/q179). Production lands this
    * once as a table (the q100 write-once rule); in-process the memo is
    * that materialization. The weighted variants (q142 min-quantity,
    * q175 multiplicity) aggregate their own weights from the raw join
    * — different tables, not derivable from this one. */
  private def tradePairs(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "lineitem")) +
      "+" + graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "orders"))
    // memoVersioned, not plain memo: when the data under dir is rewritten
    // the superseded fingerprint's persisted blocks are unpersisted on
    // supersession instead of stranding MEMORY_AND_DISK for the session.
    graft.dedup.DedupCache.memoVersioned(s"$dir#tradePairs", fp) {
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("a"), (col("o_custkey") * 2 + 1).as("b"))
        .distinct()
    }
  }

  // Shared oracle fragments
  private val SUM_DISC = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
  private def dsql(col: String) = s"CAST(SUM(CAST($col AS DECIMAL(18,4))) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q1_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double").as("sum_disc_price"),
          (dsum($"l_quantity") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsql("l_quantity")} AS sum_qty,
             ${dsql("l_extendedprice")} AS sum_base_price,
             $SUM_DISC AS sum_disc_price,
             ${dsql("l_quantity")} / COUNT(*) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("q2_filter_project", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount".between(0.03, 0.07) && $"l_quantity" < 25)
        .select($"l_orderkey", $"l_linenumber",
          (dec($"l_extendedprice") * dec($"l_discount")).cast("double").as("revenue"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25
      ORDER BY l_orderkey, l_linenumber""")),

    QueryDef("q3_join", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"c_mktsegment")
    }, Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n_orders, ${dsql("o_totalprice")} AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef("q4_outer_join", (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"),
          coalesce(dsum($"o_totalprice"), lit(0.0)).as("total_spend"))
        .orderBy($"c_custkey")
    }, Some(s"""
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
             COALESCE(${dsql("o_totalprice")}, 0.0) AS total_spend
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""")),

    QueryDef("q5_semi_join", (s, dir) => {
      import s.implicits._
      val f = t(s, dir, "orders").filter($"o_orderstatus" === "F").select($"o_custkey")
      t(s, dir, "customer")
        .join(f, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef("q6_anti_join", (s, dir) => {
      import s.implicits._
      val urgent = t(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
      t(s, dir, "customer")
        .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey").agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_nationkey")
    }, Some("""
      SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey ORDER BY c_nationkey""")),

    QueryDef("q7_distinct", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").select($"l_returnflag", $"l_linestatus")
        .distinct().orderBy($"l_returnflag", $"l_linestatus")
    }, Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("q8_topk", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey").offset(10).limit(20)
    }, Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10""")),

    QueryDef("q9_having", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_partkey").agg(dsum($"l_quantity").as("sum_qty"))
        .filter($"sum_qty" > 770).orderBy($"l_partkey")
    }, Some(s"""
      SELECT l_partkey, ${dsql("l_quantity")} AS sum_qty FROM lineitem
      GROUP BY l_partkey HAVING ${dsql("l_quantity")} > 770 ORDER BY l_partkey""")),

    QueryDef("q10_date_parts", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy(year($"o_orderdate").as("o_year"), month($"o_orderdate").as("o_month"))
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_year", $"o_month")
    }, Some(s"""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(month(o_orderdate) AS INTEGER) AS o_month,
             COUNT(*) AS n_orders, ${dsql("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q11_multi_join", (s, dir) => {
      import s.implicits._
      t(s, dir, "region")
        .join(broadcast(t(s, dir, "nation")), $"r_regionkey" === $"n_regionkey")
        .join(t(s, dir, "customer"), $"n_nationkey" === $"c_nationkey")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"n_name")
    }, Some(s"""
      SELECT r_name, n_name, $SUM_DISC AS revenue, COUNT(*) AS n_items
      FROM region
        JOIN nation ON r_regionkey = n_regionkey
        JOIN customer ON n_nationkey = c_nationkey
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    QueryDef("q12_window", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"rk", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"rk")
    }, Some("""
      SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""")),

    QueryDef("q13_pivot", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          count(when($"o_orderstatus" === "F", 1)).as("n_f"),
          count(when($"o_orderstatus" === "O", 1)).as("n_o"),
          count(when($"o_orderstatus" === "P", 1)).as("n_p"))
        .orderBy($"o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
             COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
             COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
             COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    QueryDef("q14_case_expr", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(
          when($"o_totalprice" > 300000, "big")
            .when($"o_totalprice" > 100000, "mid")
            .otherwise("small").as("bucket"),
          $"o_totalprice")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"), (dsum($"o_totalprice") / count(lit(1))).as("avg_price"))
        .orderBy($"bucket")
    }, Some(s"""
      SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
                  WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket,
             COUNT(*) AS n, ${dsql("o_totalprice")} / COUNT(*) AS avg_price
      FROM orders GROUP BY 1 ORDER BY 1""")),

    QueryDef("q15_union", (s, dir) => {
      import s.implicits._
      val a = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey".as("key"), lit("bld").as("src"))
      val b = t(s, dir, "orders").filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("key"), lit("ord").as("src"))
      a.unionByName(b).groupBy($"key")
        .agg(count(lit(1)).as("n"), count_distinct($"src").as("n_src"))
        .orderBy($"key")
    }, Some("""
      SELECT key, COUNT(*) AS n, COUNT(DISTINCT src) AS n_src FROM (
        SELECT c_custkey AS key, 'bld' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT o_custkey AS key, 'ord' AS src FROM orders WHERE o_orderstatus = 'F')
      GROUP BY key ORDER BY key""")),

    QueryDef("q42_set_ops", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
      val open = o.filter($"o_orderstatus" === "O").select($"o_custkey")
      val both = urgent.intersect(open).select($"o_custkey".as("key"), lit("both").as("tag"))
      val urgentOnly = urgent.except(open).select($"o_custkey".as("key"), lit("urgent_only").as("tag"))
      both.unionByName(urgentOnly).orderBy($"key", $"tag")
    }, Some("""
      SELECT key, tag FROM (
        SELECT o_custkey AS key, 'both' AS tag FROM (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        UNION ALL
        SELECT o_custkey AS key, 'urgent_only' AS tag FROM (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
      ORDER BY key, tag""")),

    QueryDef("q43_like", (s, dir) => {
      import s.implicits._
      t(s, dir, "part")
        .filter($"p_name".like("%a%") && !$"p_type".like("STANDARD%"))
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), dsum($"p_retailprice").as("sum_price"))
        .orderBy($"p_brand")
    }, Some(s"""
      SELECT p_brand, COUNT(*) AS n, ${dsql("p_retailprice")} AS sum_price
      FROM part WHERE p_name LIKE '%a%' AND p_type NOT LIKE 'STANDARD%'
      GROUP BY p_brand ORDER BY p_brand""")),

    QueryDef("q16_scalar_subquery", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val avgP = o.agg((dsum($"o_totalprice") / count(lit(1))).as("avg_price"))
      o.join(broadcast(avgP))
        .filter($"o_totalprice" > $"avg_price")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n FROM orders
      WHERE o_totalprice > (SELECT ${dsql("o_totalprice")} / COUNT(*) FROM orders)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // RIGHT OUTER + FULL OUTER (reference keyword list
    // SQL_DATA_INTEGRATION_TOOL.py:388 "RIGHT"/"FULL"/"OUTER"): open orders
    // right-joined to overdrawn customers (c_acctbal < -500) (null order rows preserved),
    // reconciled FULL OUTER against low-balance suppliers (s_acctbal < 2000) per nation.
    // Both sides are deliberately sparse (~1% of customers, ~9% of
    // suppliers) so the full-outer emits null rows in BOTH directions; the
    // USING-style join key coalesces identically in Spark and DuckDB.
    QueryDef("q45_right_full_outer", (s, dir) => {
      import s.implicits._
      val open = t(s, dir, "orders").filter($"o_orderstatus" === "O")
        .select($"o_custkey", $"o_orderkey")
      val overdrawn = t(s, dir, "customer").filter($"c_acctbal" < -500)
        .select($"c_custkey", $"c_nationkey")
      val custSide = open
        .join(overdrawn, $"o_custkey" === $"c_custkey", "right_outer")
        .groupBy($"c_nationkey".as("nationkey"))
        .agg(countDistinct($"c_custkey").as("n_customers"),
          count($"o_orderkey").as("n_open_orders"))
      val suppSide = t(s, dir, "supplier").filter($"s_acctbal" < 2000)
        .groupBy($"s_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_debt_suppliers"))
      custSide.join(suppSide, Seq("nationkey"), "full_outer")
        .orderBy($"nationkey")
    }, Some("""
      WITH cust AS (
        SELECT c_nationkey AS nationkey,
               COUNT(DISTINCT c_custkey) AS n_customers,
               COUNT(o_orderkey) AS n_open_orders
        FROM (SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'O') o
        RIGHT OUTER JOIN (SELECT c_custkey, c_nationkey FROM customer
                          WHERE c_acctbal < -500) c
          ON o.o_custkey = c.c_custkey
        GROUP BY 1),
      supp AS (
        SELECT s_nationkey AS nationkey, COUNT(*) AS n_debt_suppliers
        FROM supplier WHERE s_acctbal < 2000 GROUP BY 1)
      SELECT COALESCE(cust.nationkey, supp.nationkey) AS nationkey,
             n_customers, n_open_orders, n_debt_suppliers
      FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
      ORDER BY nationkey""")),

    // Exact discrete percentiles (percentile_disc picks an ACTUAL data
    // value — engine-portable, unlike interpolated quantiles whose float
    // arithmetic can differ in the last ulp). Distribution stats are the
    // reporting surface one step past the reference's COUNT/AVG.
    QueryDef("q53_percentiles", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("p75"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)").as("p95"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.25) AS p25,
             quantile_disc(o_totalprice, 0.5) AS p50,
             quantile_disc(o_totalprice, 0.75) AS p75,
             quantile_disc(o_totalprice, 0.95) AS p95,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // UNPIVOT (melt): wide per-priority counts back to long (priority,
    // status, n) rows via the stack() generator - the inverse of q13's
    // conditional-aggregation pivot; DuckDB mirrors with UNION ALL.
    QueryDef("q63_unpivot", (s, dir) => {
      import s.implicits._
      val wide = t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          count(when($"o_orderstatus" === "F", 1)).as("n_f"),
          count(when($"o_orderstatus" === "O", 1)).as("n_o"),
          count(when($"o_orderstatus" === "P", 1)).as("n_p"))
      wide.select($"o_orderpriority",
          expr("stack(3, 'F', n_f, 'O', n_o, 'P', n_p) AS (status, n)"))
        .filter($"n" > 0)
        .orderBy($"o_orderpriority", $"status")
    }, Some("""
      WITH wide AS (
        SELECT o_orderpriority,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, status, n FROM (
        SELECT o_orderpriority, 'F' AS status, n_f AS n FROM wide
        UNION ALL SELECT o_orderpriority, 'O', n_o FROM wide
        UNION ALL SELECT o_orderpriority, 'P', n_p FROM wide)
      WHERE n > 0
      ORDER BY o_orderpriority, status""")),

    // lead/lag + running totals: month-over-month revenue with delta vs
    // the previous month and a cumulative sum - the analytic trio q12's
    // ranking window doesn't cover. Decimal-exact sums (see SS5).
    QueryDef("q64_lead_lag", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val monthly = t(s, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
        .agg(sum($"o_totalprice".cast("decimal(18,4)")).as("rev_d"))
      val w = Window.orderBy($"month")
      monthly
        .withColumn("prev_rev", lag($"rev_d", 1).over(w))
        .withColumn("cum_rev_d", sum($"rev_d").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"month", $"rev_d".cast("double").as("rev"),
          ($"rev_d" - coalesce($"prev_rev", lit(0))).cast("double").as("delta"),
          $"cum_rev_d".cast("double").as("cum_rev"))
        .orderBy($"month")
    }, Some("""
      WITH m AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_d
        FROM orders GROUP BY 1)
      SELECT month, CAST(rev_d AS DOUBLE) AS rev,
             CAST(rev_d - COALESCE(lag(rev_d) OVER (ORDER BY month), 0) AS DOUBLE) AS delta,
             CAST(SUM(rev_d) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev
      FROM m ORDER BY month""")),

    // LIMIT/OFFSET pagination (both in the reference editor's keyword
    // list): page 3 of customers by descending balance, through the SQL
    // path. A determinism note that matters in any engine: the ORDER BY
    // adds a unique tie-break column, because paginating on a non-unique
    // sort is undefined ordering across engines.
    QueryDef("q65_pagination", (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 20 OFFSET 40""")
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 20 OFFSET 40""")),

    // GROUPING SETS — the multi-granularity report q41's ROLLUP doesn't
    // cover (independent groupings, not a prefix hierarchy): revenue by
    // (status, priority), by status alone, and by priority alone in ONE
    // pass (Spark Expand: one scan, one shuffle — vs three scans + union).
    // grouping() disambiguates real NULLs from subtotal rows portably.
    QueryDef("q67_grouping_sets", (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        ORDER BY g_status, g_priority, status, priority""")
    }, Some("""
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(grouping(o_orderstatus) AS INT) AS g_status,
             CAST(grouping(o_orderpriority) AS INT) AS g_priority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderstatus), (o_orderpriority))
      ORDER BY g_status, g_priority, status, priority""")),

    // Sliding-frame window: 7-day moving average over the daily event
    // value series (RANGE frame over a day index — rows vs range matters:
    // days can be missing, so the frame is time-based, not row-based).
    // One shuffle for the daily agg; the window is a single global-ordered
    // frame over ~30 pre-aggregated rows (answer-sized by construction).
    QueryDef("q68_moving_avg", (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "events")
        .groupBy(to_date($"ts").as("day"))
        .agg(sum(dec($"value")).as("day_val_d"), count(lit(1)).as("n"))
      val w = Window.orderBy(datediff($"day", lit("2024-01-01").cast("date")))
        .rangeBetween(-6, 0)
      daily
        .select($"day".cast("string").as("day"),
          $"day_val_d".cast("double").as("day_val"),
          ($"day_val_d" * lit(100)).cast("long").as("cents"), $"n")
        // exact integer window sums; ma7 = two IEEE divisions in a fixed
        // order over exact operands — bit-identical cross-engine (§5)
        .withColumn("ma7",
          sum($"cents").over(w).cast("double") / lit(100.0) / sum($"n").over(w))
        .select($"day", $"day_val", $"ma7")
        .orderBy($"day")
    }, Some("""
      WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS di,
               SUM(CAST(value AS DECIMAL(18,4))) AS day_val_d,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT day, CAST(day_val_d AS DOUBLE) AS day_val,
             CAST(SUM(CAST(day_val_d * 100 AS BIGINT))
                    OVER (ORDER BY di RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / 100.0 /
             CAST(SUM(n) OVER (ORDER BY di RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma7
      FROM daily ORDER BY day""")),

    // Array-aggregation surface (collect_list / sort_array / array_join /
    // element_at): per sampled order, the sorted quantity multiset of its
    // line items. The sort happens INSIDE each row (sort_array over an
    // order-sized list), never as a global orderBy; one partial-aggregated
    // groupBy shuffle on the key. Quantities are integral in TPC-H — cast
    // to int so the string rendering is engine-identical.
    QueryDef("q71_array_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_orderkey" % 200 === 0)
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_list($"l_quantity".cast("int"))).as("qtys"))
        .select($"l_orderkey", size($"qtys").as("n_items"),
          array_join(transform($"qtys", q => q.cast("string")), ",").as("qty_list"),
          element_at($"qtys", -1).as("qty_max"))
        .orderBy($"l_orderkey")
    }, Some("""
      SELECT l_orderkey,
             CAST(len(qtys) AS INTEGER) AS n_items,
             array_to_string(qtys, ',') AS qty_list,
             qtys[len(qtys)] AS qty_max
      FROM (SELECT l_orderkey,
                   list_sort(list(CAST(l_quantity AS INTEGER))) AS qtys
            FROM lineitem WHERE l_orderkey % 200 = 0
            GROUP BY l_orderkey)
      ORDER BY l_orderkey""")),

    // Fixed-width histogram of order values — the numeric-distribution
    // report prep behind the reference's charts. Bucketing is a pure
    // projection (floor of one IEEE division — identical both engines,
    // same input bits); the aggregation shuffles ≤ 20 groups after
    // map-side partial counts. The top bucket is open-ended via least().
    QueryDef("q73_histogram", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(least(floor($"o_totalprice" / 25000.0), lit(19)).cast("int").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .select($"bucket", ($"bucket" * 25000.0).as("lo"), $"n")
        .orderBy($"bucket")
    }, Some("""
      SELECT bucket, bucket * 25000.0 AS lo, n
      FROM (SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS INTEGER) AS bucket,
                   COUNT(*) AS n
            FROM orders GROUP BY 1)
      ORDER BY bucket""")),

    // CUBE through the DataFrame API (q67 covers GROUPING SETS through the
    // SQL path): all four (status, year) granularities in ONE pass — one
    // scan + one Expand + one shuffle vs four scans + union. grouping()
    // flags disambiguate subtotal rows from genuine NULL keys portably.
    QueryDef("q74_cube", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderstatus".as("status"), year($"o_orderdate").as("yr"),
          $"o_totalprice")
        .cube($"status", $"yr")
        .agg(grouping($"status").cast("int").as("g_status"),
          grouping($"yr").cast("int").as("g_yr"),
          count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(18,4)")).cast("double").as("revenue"))
        .select($"status", $"yr", $"g_status", $"g_yr", $"n", $"revenue")
        .orderBy($"g_status", $"g_yr", $"status", $"yr")
    }, Some("""
      SELECT o_orderstatus AS status,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
             CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
             CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate)) AS INTEGER) AS g_yr,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY CUBE (o_orderstatus, EXTRACT(YEAR FROM o_orderdate))
      ORDER BY g_status, g_yr, status, yr""")),

    // Global quantile bucketing WITHOUT a global sort: NTILE(4) over a
    // corpus needs one total order — a scale-killer — but the same buckets
    // fall out of computing the three quartile boundaries once (answer-
    // sized aggregate) and broadcasting them back over the scan as a
    // comparison projection. percentile_disc picks actual data values, so
    // both engines agree bit-for-bit (no interpolation arithmetic).
    QueryDef("q80_quantile_bucket", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val bounds = docs.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("q1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").as("q2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("q3"))
      docs.join(broadcast(bounds))
        .select($"doc_id", $"n_chars",
          when($"n_chars" <= $"q1", 1).when($"n_chars" <= $"q2", 2)
            .when($"n_chars" <= $"q3", 3).otherwise(4).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"),
          min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
        .orderBy($"bucket")
    }, Some("""
      WITH b AS (SELECT quantile_disc(n_chars, 0.25) AS q1,
                        quantile_disc(n_chars, 0.5)  AS q2,
                        quantile_disc(n_chars, 0.75) AS q3
                 FROM documents)
      SELECT CASE WHEN n_chars <= q1 THEN 1 WHEN n_chars <= q2 THEN 2
                  WHEN n_chars <= q3 THEN 3 ELSE 4 END AS bucket,
             COUNT(*) AS n, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM documents, b
      GROUP BY 1 ORDER BY 1""")),

    // Pearson correlation per group, engine-portable by construction:
    // corr()'s streaming double sums are shuffle-order-dependent, so the
    // five moments accumulate as EXACT decimal sums (one partial-agg
    // shuffle) and only the final closed-form — a fixed-order chain of
    // IEEE mult/sub/sqrt/div, each correctly rounded — runs in floating
    // point. Same trick as q1's decimal revenue sums, extended to second
    // moments.
    QueryDef("q82_correlation", (s, dir) => {
      import s.implicits._
      // asymmetric (19,4)x(18,4) casts: the product is DECIMAL(38,8) in
      // Spark (19+18+1) and DECIMAL(37,8) in DuckDB (19+18) — exact in
      // both, while (18,4)x(18,4) would hit DuckDB's int64 fast path
      // (overflows at 1e9 operands) and (19,4)x(19,4) would exceed
      // Spark's 38-digit cap (lossy scale adjustment)
      val li = t(s, dir, "lineitem").select($"l_returnflag",
        $"l_quantity".cast("decimal(19,4)").as("xa"),
        $"l_quantity".cast("decimal(18,4)").as("xb"),
        $"l_extendedprice".cast("decimal(19,4)").as("ya"),
        $"l_extendedprice".cast("decimal(18,4)").as("yb"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      li.groupBy($"l_returnflag").agg(
          count(lit(1)).as("n"),
          sum($"xa").as("sx"), sum($"ya").as("sy"),
          sum($"xa" * $"xb").as("sxx"), sum($"ya" * $"yb").as("syy"),
          sum($"xa" * $"yb").as("sxy"))
        .select($"l_returnflag", $"n",
          // micro-units floor: DuckDB's decimal->double cast double-rounds
          // (int128->double, then /1e8) while Spark's BigDecimal cast
          // rounds once — a ~1e-12 relative drift that floor(corr*1e6)
          // absorbs (same cross-engine float discipline as q81's score_u)
          floor(((d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
            (sqrt(d($"n") * d($"sxx") - d($"sx") * d($"sx")) *
             sqrt(d($"n") * d($"syy") - d($"sy") * d($"sy")))) * 1e6)
            .cast("long").as("corr_u"))
        .orderBy($"l_returnflag")
    }, Some("""
      WITH a AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS sxx,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS syy,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS sxy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n,
             CAST(floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1e6) AS BIGINT) AS corr_u
      FROM a ORDER BY l_returnflag""")),

    // Bloom semi-join reduction (BloomPrune): the fact side is pre-filtered
    // by a distributed-built sketch of the selective dim subset's keys, so
    // ~99% of lineitem never reaches the join shuffle; the exact join then
    // clears the ~fpp false positives. The oracle sees a plain join — the
    // sketch is correctness-transparent by construction — while the plan
    // audit pins might_contain into the scan stage ahead of the exchange.
    QueryDef("q88_bloom_join", (s, dir) => {
      import s.implicits._
      val hot = t(s, dir, "orders").filter($"o_totalprice" > 450000)
      val pruned = BloomPrune.semiPrune(t(s, dir, "lineitem"), $"l_orderkey",
        hot.select($"o_orderkey"), $"o_orderkey",
        expectedKeys = math.max(hot.count(), 1L), fpp = 0.001)
      pruned.join(hot, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_items, ${dsql("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 450000
      GROUP BY 1 ORDER BY 1""")),

    // Salted replicate join (Skew.saltedJoin) under the same
    // optimization-transparency protocol as q88: the oracle is the plain
    // join — salting must be invisible to the answer by construction
    // (build side replicated per salt, probe salted uniformly, join on
    // (key, salt)) — while the plan audit pins the salted plan shape (the
    // __salt join key + the Generate replication). The declarative tool
    // for a hot probe key against a small-but-not-broadcastable build
    // side, where AQE's skew splitting can't reach.
    QueryDef("q93_salted_join", (s, dir) => {
      import s.implicits._
      val probe = t(s, dir, "lineitem").select($"l_orderkey", $"l_extendedprice")
      val build = t(s, dir, "orders").filter($"o_totalprice" > 400000)
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
      Skew.saltedJoin(probe, build, "l_orderkey", saltBuckets = 8)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_items, ${dsql("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 400000
      GROUP BY 1 ORDER BY 1""")),

    // Bucketed co-located join (Bucketing) — the fourth join strategy
    // under the transparency oracle (broadcast q3, bloom-pruned q88,
    // salted q93): both sides written bucketed+sorted on the join key
    // ONCE (memoized per corpus dir via tableExists — the write-once
    // shuffle that every later join amortizes), then the equi-join runs
    // as a sort-merge join with NO exchange on either side. The plan audit
    // pins SortMergeJoin + the absence of a join-key hash exchange; the
    // answer-sized report aggregation after the join still shuffles, as
    // it should.
    QueryDef("q94_bucketed_join", (s, dir) => {
      import s.implicits._
      // the table tag carries the source CONTENT fingerprints: an
      // in-process overwrite of lineitem/orders must re-bucket, never
      // join stale bucketed copies behind the tableExists guard
      val fp = graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "lineitem")).take(8) +
        graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "orders")).take(8)
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + fp
      val lt = s"bkt_li_$tag"; val ot = s"bkt_ord_$tag"
      if (!s.catalog.tableExists(lt))
        Bucketing.writeBucketed(t(s, dir, "lineitem")
          .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice"),
          lt, "o_orderkey", buckets = 16)
      if (!s.catalog.tableExists(ot))
        Bucketing.writeBucketed(t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice"),
          ot, "o_orderkey", buckets = 16)
      Bucketing.bucketedJoin(s, lt, ot, "o_orderkey", forceSortMerge = true)
        .filter($"o_totalprice" > 300000)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_items, ${dsql("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 300000
      GROUP BY 1 ORDER BY 1""")),

    // Manifest-pruned scan (Layout.prunedFiles/readPrunedByRange) under
    // the transparency oracle (the q94 shape for the scan-planning
    // family): lineitem is written range-clustered on l_orderkey ONCE
    // per corpus (memoized by content fingerprint — the write-once
    // layout pass every later key-range query amortizes), then the
    // range query reads ONLY the file subset the footer zonemap
    // manifest admits, plus the residual row filter. The oracle is the
    // plain full-table filter — hash equality proves the pruned scan
    // loses no rows; the plan audit pins that the scan's file set
    // strictly shrinks AND equals the manifest's prediction. At 100 TB the
    // manifest turns a million-file listing into the covering dozen.
    QueryDef("q98_pruned_scan", (s, dir) => {
      import s.implicits._
      val cdir = clusteredLineitem(s, dir)
      graft.sources.Layout.readPrunedByRange(s, cdir, "l_orderkey", 1000, 2000)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          dsum($"l_extendedprice").as("sum_price"),
          dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag")
    }, Some(s"""
      SELECT l_returnflag, COUNT(*) AS n_rows,
             ${dsql("l_extendedprice")} AS sum_price,
             ${dsql("l_quantity")} AS sum_qty
      FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
      GROUP BY 1 ORDER BY 1""")),

    // Integer-exact PageRank (ops/PageRank.scala) over the supplier↔
    // customer trade graph — iterative join-based message passing, the
    // graph-analytics class beyond connected components. Both edge
    // directions are added so the bipartite graph is strongly connected
    // (no dangling sinks) and three rounds produce genuinely mixed
    // ranks. The all-integer micro-unit recurrence (truncating div at
    // the edge split and the damping step) is what makes an ITERATIVE
    // fixpoint hash-comparable across engines — the oracle unrolls the
    // same three rounds as chained CTEs.
    QueryDef("q100_pagerank", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      // fixpoint variant with tolMu = 0: a round whose L1 delta is zero
      // reproduces itself bit-for-bit, so early stop is ANSWER-INVARIANT
      // and the unrolled 3-round oracle stays exact — while a converged
      // graph skips the dead rounds (the bench then measures the win).
      // PageRank notes its rounds run in the query log
      // (`pagerank.roundsRun`).
      val (ranks, _) = PageRank.runToFixpoint(edges, maxIters = 3)
      ranks.orderBy(desc("rank_mu"), $"node")
        .limit(20)
    }, Some("""
      WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      r1 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM(p.r // d.outdeg) AS s
               FROM edges e JOIN deg d ON e.src = d.src JOIN r0 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node),
      r2 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM(p.r // d.outdeg) AS s
               FROM edges e JOIN deg d ON e.src = d.src JOIN r1 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node),
      r3 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM(p.r // d.outdeg) AS s
               FROM edges e JOIN deg d ON e.src = d.src JOIN r2 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node)
      SELECT node, r AS rank_mu FROM r3
      ORDER BY rank_mu DESC, node LIMIT 20""")),

    // HITS hubs & authorities (ops/Hits.scala — Kleinberg, JACM 1999)
    // over the DIRECTED trade graph, where the two-sidedness is
    // literal: suppliers (only out-edges) can only be hubs, customers
    // (only in-edges) only authorities — so the row surfaces the top
    // 10 of EACH side with a side tag. All-integer max-normalization
    // (scores in micro-units of the round's best; ranking order equals
    // the classic L2 variant's — both divide by one positive round
    // constant), truncating div, NO float anywhere. Two shuffles per
    // half-round (edges⋈scores + map-side-combined receive), the round
    // max a 1-row broadcast — never a window; the oracle unrolls the
    // same two full rounds as chained CTEs.
    QueryDef("q214_hits", (s, dir) => {
      import s.implicits._
      val edges = tradePairs(s, dir)
        .select($"a".as("src"), $"b".as("dst"))
      val scores = Hits.run(edges, nIters = 2)
      scores.orderBy(desc("auth_u"), $"node").limit(10)
        .select(lit("authority").as("side"), $"node", $"auth_u".as("score_u"))
        .unionByName(
          scores.orderBy(desc("hub_u"), $"node").limit(10)
            .select(lit("hub").as("side"), $"node", $"hub_u".as("score_u")))
        .orderBy($"side", desc("score_u"), $"node")
    }, Some("""
      WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
      a1r AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS ar
              FROM edges e JOIN h0 h ON h.node = e.src GROUP BY 1),
      a1m AS (SELECT MAX(ar) AS m FROM a1r),
      a1 AS (SELECT n.node, CAST(COALESCE(r.ar, 0) * 1000000 // m.m AS BIGINT) AS a
             FROM nodes n LEFT JOIN a1r r ON r.node = n.node CROSS JOIN a1m m),
      h1r AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS hr
              FROM edges e JOIN a1 a ON a.node = e.dst GROUP BY 1),
      h1m AS (SELECT MAX(hr) AS m FROM h1r),
      h1 AS (SELECT n.node, CAST(COALESCE(r.hr, 0) * 1000000 // m.m AS BIGINT) AS h
             FROM nodes n LEFT JOIN h1r r ON r.node = n.node CROSS JOIN h1m m),
      a2r AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS ar
              FROM edges e JOIN h1 h ON h.node = e.src GROUP BY 1),
      a2m AS (SELECT MAX(ar) AS m FROM a2r),
      a2 AS (SELECT n.node, CAST(COALESCE(r.ar, 0) * 1000000 // m.m AS BIGINT) AS a
             FROM nodes n LEFT JOIN a2r r ON r.node = n.node CROSS JOIN a2m m),
      h2r AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS hr
              FROM edges e JOIN a2 a ON a.node = e.dst GROUP BY 1),
      h2m AS (SELECT MAX(hr) AS m FROM h2r),
      h2 AS (SELECT n.node, CAST(COALESCE(r.hr, 0) * 1000000 // m.m AS BIGINT) AS h
             FROM nodes n LEFT JOIN h2r r ON r.node = n.node CROSS JOIN h2m m),
      sc AS (SELECT a2.node, a2.a AS auth_u, h2.h AS hub_u
             FROM a2 JOIN h2 ON a2.node = h2.node)
      SELECT * FROM (
        SELECT 'authority' AS side, node, auth_u AS score_u FROM sc
        ORDER BY auth_u DESC, node LIMIT 10)
      UNION ALL
      SELECT * FROM (
        SELECT 'hub' AS side, node, hub_u AS score_u FROM sc
        ORDER BY hub_u DESC, node LIMIT 10)
      ORDER BY side, score_u DESC, node""")),

    // Multi-source BFS (ops/Bfs.scala) over the q100 trade graph:
    // exact minimum hop distance from nation 0's suppliers, bounded at
    // 3 hops — the reachability class of graph analytics (blast radius
    // through a link graph). The frontier algorithm expands each node
    // once (per-round frontier⋈edges equi-join + anti-join against
    // visited), while the oracle's recursive CTE may revisit — MIN(d)
    // collapses it to the same answer because hop counts are integers
    // and BFS min-distance is engine-order-free.
    QueryDef("q104_bfs", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      // seed by key, not nation: every SF has suppkeys 1..n, while a
      // given nationkey can be absent from a tiny sample entirely
      val seeds = t(s, dir, "supplier").filter($"s_suppkey" <= 3)
        .select(($"s_suppkey" * 2).as("node"))
      Bfs.run(edges, seeds, maxHops = 3)
        .orderBy($"dist", $"node")
    }, Some("""
      WITH RECURSIVE pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      walk(node, d) AS (
        SELECT s_suppkey * 2, 0
        FROM supplier WHERE s_suppkey <= 3
        UNION
        SELECT e.dst, w.d + 1
        FROM walk w JOIN edges e ON e.src = w.node WHERE w.d < 3)
      SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk
      GROUP BY node ORDER BY dist, node""")),

    // Triangle counting (ops/Triangles.scala) over the co-purchase
    // graph — parts appearing in the same order are linked; a triangle
    // is three parts pairwise co-ordered (the clique/cohesion signal;
    // on a link graph this is the local-clustering numerator). The
    // degree-ordered orientation makes each triangle appear exactly
    // once as two joined DAG paths plus a closing edge; the oracle runs
    // the identical orientation in SQL. Part keys stay BIGINT in both
    // engines (integral ids halve shuffle bytes vs strings; the numeric
    // id tie-break is engine-identical).
    QueryDef("q107_triangles", (s, dir) => {
      import s.implicits._
      // deterministic 10% order sample: the co-purchase graph's triangle
      // structure is what's under test, not the full graph's density —
      // wedge work scales ~quadratically in edge density, so the sample
      // keeps the bench answer-shaped while the operator stays identical
      val li = t(s, dir, "lineitem")
        .filter($"l_orderkey" % 10 === 0)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
        .distinct()
      val pairs = li.select($"ok", $"pk".as("a"))
        .join(li.select($"ok", $"pk".as("b")), "ok")
        .filter($"a" =!= $"b").select("a", "b")
      Triangles.countPerNode(pairs).orderBy($"node")
    }, Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem WHERE l_orderkey % 10 = 0),
      canon AS (
        SELECT DISTINCT LEAST(x.pk, y.pk) AS a, GREATEST(x.pk, y.pk) AS b
        FROM li x JOIN li y ON x.ok = y.ok AND x.pk <> y.pk),
      deg AS (
        SELECT n, COUNT(*) AS d FROM (
          SELECT a AS n FROM canon UNION ALL SELECT b FROM canon)
        GROUP BY n),
      o AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND c.a < c.b)
                    THEN c.a ELSE c.b END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND c.a < c.b)
                    THEN c.b ELSE c.a END AS dst
        FROM canon c JOIN deg da ON da.n = c.a JOIN deg db ON db.n = c.b),
      tri AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM o e1 JOIN o e2 ON e1.dst = e2.src
                  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst)
      SELECT node, COUNT(*) AS n_tri FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
      GROUP BY node ORDER BY node""")),

    // Incremental triangle counting (Triangles.deltaPerNode) — the
    // q147/q192/q197 delta discipline applied to the GRAPH family: a
    // new order batch's co-purchase edges are adjudicated against the
    // standing graph by enumerating only the triangles that contain a
    // delta edge (case-split on the first delta edge's position in the
    // oriented triple — disjoint, exhaustive, every wedge-generating
    // join delta-anchored with the delta broadcast; the standing table
    // is only scanned). The oracle checks the defining identity the
    // operator never computes: per-node counts of the full UNION
    // recount minus the full STANDING recount (both via q107's
    // orientation CTEs) — one missed case, double-counted clique, or
    // stale-edge leak breaks the diff.
    QueryDef("q221_delta_triangles", (s, dir) => {
      import s.implicits._
      def copurchase(pred: org.apache.spark.sql.Column) = {
        val li = t(s, dir, "lineitem").filter(pred)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
          .distinct()
        li.select($"ok", $"pk".as("a"))
          .join(li.select($"ok", $"pk".as("b")), "ok")
          .filter($"a" =!= $"b").select("a", "b")
      }
      Triangles.deltaPerNode(
        standing = copurchase($"l_orderkey" % 10 === 0),
        delta = copurchase($"l_orderkey" % 100 === 15))
        .orderBy($"node")
    }, Some("""
      WITH lis AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem WHERE l_orderkey % 10 = 0),
      lid AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem WHERE l_orderkey % 100 = 15),
      cans AS (
        SELECT DISTINCT LEAST(x.pk, y.pk) AS a, GREATEST(x.pk, y.pk) AS b
        FROM lis x JOIN lis y ON x.ok = y.ok AND x.pk <> y.pk),
      cana AS (
        SELECT a, b FROM cans
        UNION
        SELECT DISTINCT LEAST(x.pk, y.pk), GREATEST(x.pk, y.pk)
        FROM lid x JOIN lid y ON x.ok = y.ok AND x.pk <> y.pk),
      degs AS (SELECT n, COUNT(*) AS d FROM (
          SELECT a AS n FROM cans UNION ALL SELECT b FROM cans) GROUP BY n),
      os AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND c.a < c.b)
                    THEN c.a ELSE c.b END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND c.a < c.b)
                    THEN c.b ELSE c.a END AS dst
        FROM cans c JOIN degs da ON da.n = c.a JOIN degs db ON db.n = c.b),
      tris AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM os e1 JOIN os e2 ON e1.dst = e2.src
                   JOIN os e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      ns AS (SELECT node, COUNT(*) AS n FROM (
          SELECT u AS node FROM tris
          UNION ALL SELECT v FROM tris
          UNION ALL SELECT w FROM tris) GROUP BY node),
      dega AS (SELECT n, COUNT(*) AS d FROM (
          SELECT a AS n FROM cana UNION ALL SELECT b FROM cana) GROUP BY n),
      oa AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND c.a < c.b)
                    THEN c.a ELSE c.b END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND c.a < c.b)
                    THEN c.b ELSE c.a END AS dst
        FROM cana c JOIN dega da ON da.n = c.a JOIN dega db ON db.n = c.b),
      tria AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM oa e1 JOIN oa e2 ON e1.dst = e2.src
                   JOIN oa e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      na AS (SELECT node, COUNT(*) AS n FROM (
          SELECT u AS node FROM tria
          UNION ALL SELECT v FROM tria
          UNION ALL SELECT w FROM tria) GROUP BY node)
      SELECT a.node, CAST(a.n - COALESCE(s.n, 0) AS BIGINT) AS n_new
      FROM na a LEFT JOIN ns s ON a.node = s.node
      WHERE a.n - COALESCE(s.n, 0) > 0
      ORDER BY a.node""")),

    // Exact group-wise IQR outlier screen (ops/Outliers.scala): Tukey
    // fences from ORDER-STATISTIC quartiles — rank ⌊(n−1)q⌋ picks an
    // actual data value by integer arithmetic (interpolated percentiles
    // disagree across engines in the last ulp), fences are DECIMAL
    // expressions, so both engines flag the identical rows.
    QueryDef("q109_outliers", (s, dir) => {
      import s.implicits._
      Outliers.iqrByGroup(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice", "o_orderkey")
        .orderBy($"o_orderpriority")
    }, Some("""
      WITH r AS (
        SELECT o_orderpriority AS g, CAST(o_totalprice AS DECIMAL(18,4)) AS v,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                   ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders),
      q AS (
        SELECT g, MAX(n) AS n,
               MAX(CASE WHEN rn = CAST(FLOOR((n-1)*0.25) AS BIGINT) + 1 THEN v END) AS q1,
               MAX(CASE WHEN rn = CAST(FLOOR((n-1)*0.75) AS BIGINT) + 1 THEN v END) AS q3
        FROM r GROUP BY g),
      f AS (
        SELECT g, n, q1, q3,
               q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM q)
      SELECT r.g AS o_orderpriority, f.n,
             CAST(f.q1 AS DOUBLE) AS q1, CAST(f.q3 AS DOUBLE) AS q3,
             CAST(SUM(CASE WHEN r.v < f.lo OR r.v > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             CAST(COALESCE(SUM(CASE WHEN r.v < f.lo OR r.v > f.hi THEN r.v END), 0) AS DOUBLE) AS sum_outliers
      FROM r JOIN f ON r.g = f.g
      GROUP BY 1, 2, 3, 4 ORDER BY 1""")),

    // Per-group least-squares trend (ops/Trend.scala): the slope of
    // daily order volume per market segment — the report-analytics step
    // behind every "is this segment growing?" chart the reference's
    // report tab draws. Exact long moment sums in ONE partial-aggregated
    // shuffle (the q82 moment discipline applied to regression), then
    // slope AND intercept are each a single IEEE division of exact
    // operands — closed forms, no chaining, bit-identical cross-engine.
    QueryDef("q120_trend", (s, dir) => {
      import s.implicits._
      val dim = t(s, dir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
      val daily = t(s, dir, "orders")
        .select($"o_custkey", $"o_orderdate")
        .join(broadcast(dim), "o_custkey")
        .groupBy($"c_mktsegment",
          datediff(to_date($"o_orderdate"), lit("1992-01-01").cast("date")).as("x"))
        .agg(count(lit(1)).as("y"))
      Trend.linearTrend(daily, "c_mktsegment", "x", "y")
        .orderBy($"c_mktsegment")
    }, Some("""
      WITH daily AS (
        SELECT c.c_mktsegment,
               CAST(CAST(o.o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS x,
               COUNT(*) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      m AS (
        SELECT c_mktsegment, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
        FROM daily GROUP BY 1)
      SELECT c_mktsegment, n AS n_pts,
             CASE WHEN n*sxx - sx*sx <> 0
                  THEN CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             END AS slope,
             CASE WHEN n*sxx - sx*sx <> 0
                  THEN CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             END AS intercept
      FROM m ORDER BY c_mktsegment""")),

    // Personalized PageRank (PageRank.runPersonalized) over the q100
    // trade graph: relevance TO a seed set (suppliers 1–3) instead of
    // global authority — crawl-seed expansion ("which customers matter
    // from these trusted suppliers?"). Same all-integer recurrence
    // with a seed-indicator teleport, so the oracle unrolls the same
    // three rounds; seeds derive from the supplier table in BOTH
    // engines. Seeds absent from the graph are ignored identically
    // (the spine is built from edges on both sides).
    QueryDef("q122_ppr", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      val seeds = t(s, dir, "supplier").filter($"s_suppkey" <= 3)
        .select(($"s_suppkey" * 2).as("node"))
      PageRank.runPersonalized(edges, seeds, nIters = 3)
        .orderBy(desc("rank_mu"), $"node")
        .limit(20)
    }, Some("""
      WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      seeds AS (SELECT s_suppkey * 2 AS node FROM supplier WHERE s_suppkey <= 3),
      r0 AS (SELECT node,
               CAST(CASE WHEN node IN (SELECT node FROM seeds)
                         THEN 1000000 ELSE 0 END AS BIGINT) AS r
             FROM nodes),
      r1 AS (SELECT n.node,
               CAST(CASE WHEN n.node IN (SELECT node FROM seeds)
                         THEN 150000 ELSE 0 END
                    + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM(p.r // d.outdeg) AS s
               FROM edges e JOIN deg d ON e.src = d.src JOIN r0 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node),
      r2 AS (SELECT n.node,
               CAST(CASE WHEN n.node IN (SELECT node FROM seeds)
                         THEN 150000 ELSE 0 END
                    + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM(p.r // d.outdeg) AS s
               FROM edges e JOIN deg d ON e.src = d.src JOIN r1 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node),
      r3 AS (SELECT n.node,
               CAST(CASE WHEN n.node IN (SELECT node FROM seeds)
                         THEN 150000 ELSE 0 END
                    + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM(p.r // d.outdeg) AS s
               FROM edges e JOIN deg d ON e.src = d.src JOIN r2 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node)
      SELECT node, r AS rank_mu FROM r3
      ORDER BY rank_mu DESC, node LIMIT 20""")),

    // HyperLogLog distinct counting under the oracle (ops/Sketches.scala
    // — Flajolet et al. AofA'07): per-priority distinct-customer
    // sketches over orders, plus the '__all' row — the register-wise MAX
    // merge of the five group sketches, i.e. the sketch of their UNION,
    // driver-checked alongside them. This is the incremental
    // COUNT(DISTINCT) story: register tables are 2^p rows, persist like
    // any table, and any period/partition rolls up by merge instead of
    // re-scanning the corpus (the one aggregate IncrementalAgg cannot
    // refresh differentially). Engine-portable BY CONSTRUCTION, not by
    // float protocol: registers derive from the md5-prefix hash and
    // length(bin(q)) (identical no-leading-zero semantics both engines,
    // q=0 guarded), the sufficient statistic s_u = Σ 2^(R−M_j) is an
    // EXACT long (every term a power of two), and the estimate is one
    // fixed-order double chain over exact operands — the oracle rebuilds
    // every register, the dense CSV, v_zero, s_u AND the estimate
    // bit-for-bit. p=4 keeps the raw-estimator regime honest at the
    // gate sf (distinct ≫ 5/2·m, so no linear-counting branch — whose
    // ln the engines round differently — is ever needed; v_zero ships
    // for callers that want it).
    QueryDef("q128_hll_distinct", (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
        .select($"o_orderpriority".as("grp"), $"o_custkey")
      val regs = graft.ops.Sketches.hllRegisters(orders, "grp", $"o_custkey", p = 4)
      val all = graft.ops.Sketches.hllCollapse(regs, "grp", "__all")
      graft.ops.Sketches.hllSummary(regs.unionByName(all), "grp", p = 4)
        .orderBy($"grp")
    }, Some("""
      WITH h AS (
        SELECT o_orderpriority AS grp,
               CAST(('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM orders),
      r0 AS (
        SELECT grp, h % 16 AS j,
               CASE WHEN h // 16 = 0 THEN 57
                    ELSE 57 - length(bin(h // 16)) END AS rank
        FROM h),
      reg AS (SELECT grp, j, MAX(rank) AS m_j FROM r0 GROUP BY 1, 2),
      regall AS (SELECT '__all' AS grp, j, MAX(m_j) AS m_j FROM reg GROUP BY j),
      allreg AS (SELECT * FROM reg UNION ALL SELECT * FROM regall),
      spine AS (SELECT g.grp, s.j
                FROM (SELECT DISTINCT grp FROM allreg) g
                CROSS JOIN (SELECT unnest(range(16)) AS j) s),
      dense AS (SELECT sp.grp, sp.j, COALESCE(r.m_j, 0) AS m_j
                FROM spine sp LEFT JOIN allreg r ON sp.grp = r.grp AND sp.j = r.j),
      summ AS (SELECT grp,
                      string_agg(CAST(m_j AS VARCHAR), ',' ORDER BY j) AS regs,
                      CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS INTEGER) AS v_zero,
                      CAST(SUM((CAST(1 AS BIGINT) << 57) // (CAST(1 AS BIGINT) << m_j)) AS BIGINT) AS s_u
               FROM dense GROUP BY 1)
      SELECT grp, regs, v_zero, s_u,
             0.673 * 256.0 * 144115188075855872.0 / s_u AS est
      FROM summ ORDER BY grp""")),

    // Community detection by synchronous label propagation
    // (ops/LabelProp.scala — Raghavan PRE'07), completing the graph
    // family: CC = grouping, PageRank = ranking, BFS = reachability,
    // triangles = cohesion, LPA = community. Determinism by
    // construction: the synchronized variant with a (count DESC, label
    // ASC) total-order vote + one self-vote per node — all-integer, so
    // the oracle unrolls the same 3 rounds as chained CTEs (the q100
    // protocol) and matches bit-for-bit; the argmax is an order-free
    // max(struct(n, -label)) aggregate, never a per-node window over
    // corpus-sized vote rows. Same supplier↔customer trade graph as
    // q100/q122.
    QueryDef("q130_label_prop", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      // broadcastLabels: the node set here is suppliers+customers — a
      // dimension-sized table at every SF (the label side must never
      // broadcast on a corpus-sized node set; LabelProp's default stays
      // shuffled for that case)
      graft.ops.LabelProp.run(edges, "src", "dst", nIters = 3,
        broadcastLabels = true)
        .withColumn("comm_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"label")))
        .orderBy($"node")
    }, Some(labelPropOracleSql(3))),

    // KMV (bottom-k) distinct sketch + pairwise overlap estimation
    // (ops/Sketches.scala — Bar-Yossef RANDOM'02 / Beyer SIGMOD'07): the
    // third mergeable sketch next to q128's HLL and q129's count-min, and
    // the one that answers what HLL cannot — "how much do these two key
    // sets OVERLAP?" without co-shuffling them (the theta-sketch trick:
    // a bottom-k set is a uniform sample of the distinct keys, so the
    // merged sketch's both-sides fraction estimates Jaccard, scaled by
    // the union estimate it becomes intersection cardinality). Customer
    // sets per order priority: 5 single-group estimates + all 10 pair
    // overlap estimates, every value either exact integer arithmetic or
    // a fixed-order chain of exact-operand IEEE divisions — the oracle
    // rebuilds every hash, rank, and estimate bit-for-bit.
    QueryDef("q134_kmv", (s, dir) => {
      import s.implicits._
      val k = 64
      val orders = t(s, dir, "orders")
        .select($"o_orderpriority".as("grp"), $"o_custkey")
      val sk = graft.ops.Sketches.kmvSketch(orders, "grp", $"o_custkey", k = k)
      val singles = graft.ops.Sketches.kmvEstimate(sk, "grp", k)
        .select($"grp".as("grp_a"), lit("").as("grp_b"),
          $"sz".as("n_common"), lit(0.0).as("jacc_est"), $"est".as("inter_est"))
      val pairs = graft.ops.Sketches.kmvPairStats(sk, "grp", k)
      singles.unionByName(pairs).orderBy($"grp_a", $"grp_b")
    }, Some("""
      WITH h AS (
        SELECT DISTINCT o_orderpriority AS grp,
               CAST(('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM orders),
      rk AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS r FROM h),
      sk AS (SELECT grp, h, r FROM rk WHERE r <= 64),
      singles AS (
        SELECT grp AS grp_a, '' AS grp_b, CAST(COUNT(*) AS INTEGER) AS n_common,
               0.0 AS jacc_est,
               CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0 / MAX(h) END AS inter_est
        FROM sk GROUP BY 1),
      gp AS (SELECT DISTINCT a.grp AS ga, b.grp AS gb
             FROM sk a, sk b WHERE a.grp < b.grp),
      uh AS (SELECT DISTINCT p.ga, p.gb, s.h
             FROM gp p JOIN sk s ON s.grp = p.ga OR s.grp = p.gb),
      ur AS (SELECT ga, gb, h,
                    ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS r
             FROM uh),
      ub AS (SELECT ga, gb, h, r FROM ur WHERE r <= 64),
      common AS (SELECT u.ga, u.gb, COUNT(*) AS c
                 FROM ub u
                 JOIN sk a ON a.grp = u.ga AND a.h = u.h
                 JOIN sk b ON b.grp = u.gb AND b.h = u.h
                 GROUP BY 1, 2),
      hku AS (SELECT ga, gb, MAX(h) AS hk_u FROM ub GROUP BY 1, 2),
      pairs AS (
        SELECT p.ga AS grp_a, p.gb AS grp_b,
               CAST(COALESCE(c.c, 0) AS INTEGER) AS n_common,
               CAST(COALESCE(c.c, 0) AS DOUBLE) / 64.0 AS jacc_est,
               (CAST(COALESCE(c.c, 0) AS DOUBLE) / 64.0) *
                 (63.0 * 1152921504606846976.0 / k.hk_u) AS inter_est
        FROM gp p
        LEFT JOIN common c ON c.ga = p.ga AND c.gb = p.gb
        JOIN hku k ON k.ga = p.ga AND k.gb = p.gb)
      SELECT * FROM singles
      UNION ALL SELECT * FROM pairs
      ORDER BY grp_a, grp_b""")),

    // Bloom-index point-lookup scan (sources/BloomIndex.scala) — the
    // membership complement of q98's zonemap range pruning: the orders
    // copy is HASH-distributed across 16 files (every file spans the
    // whole key range — range stats prune NOTHING here), and a per-file
    // Bloom manifest routes a 5-key equality probe to just the files
    // that may hold those keys. Manifest + copy are written once per
    // (corpus, content-fingerprint) — the q98 amortization discipline.
    // The oracle is the plain full-table IN-filter: hash equality proves
    // membership pruning loses no rows (a wrongly-dropped file = missing
    // rows = mismatch); the plan audit pins that the scan's file set
    // strictly shrinks. At 100 TB this is the difference between a point lookup
    // reading ~1 file and reading the corpus.
    QueryDef("q136_bloom_scan", (s, dir) => {
      import s.implicits._
      val (bdir, manifest) = bloomOrders(s, dir)
      val keys = Seq(7L, 1007L, 2007L, 3007L, 4007L)
      graft.sources.BloomIndex.readPruned(s, bdir,
          s.read.parquet(manifest), "o_orderkey", keys)
        .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        .orderBy($"o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderpriority
      FROM orders WHERE o_orderkey IN (7, 1007, 2007, 3007, 4007)
      ORDER BY o_orderkey""")),

    // Common-neighbor similarity (ops/CommonNeighbors.scala): top-20
    // supplier pairs by shared customers over the trade relation — the
    // link-prediction primitive completing the graph family's pairwise
    // view (CC groups, PageRank ranks, BFS reaches, triangles close,
    // LPA partitions; this SCORES pairs). One wedge equi-join on the
    // shared-customer key with map-side-combined pair counts (the q107
    // discipline, Σ d_c² exact-cost honesty in the scaladoc), top-k via
    // global TakeOrdered under the (common DESC, a, b) total order.
    // Neighborhood Jaccard = one IEEE division of exact integers.
    QueryDef("q137_common_neighbors", (s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
        .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("s"), $"o_custkey".as("c"))
      graft.ops.CommonNeighbors.topK(edges, "s", "c", k = 20)
    }, Some("""
      WITH e AS (
        SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      deg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY 1),
      p AS (SELECT a.s AS n_a, b.s AS n_b, COUNT(*) AS common
            FROM e a JOIN e b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2)
      SELECT p.n_a, p.n_b, p.common, da.d AS deg_a, db.d AS deg_b,
             CAST(p.common AS DOUBLE) / (da.d + db.d - p.common) AS jaccard
      FROM p JOIN deg da ON da.s = p.n_a JOIN deg db ON db.s = p.n_b
      ORDER BY p.common DESC, p.n_a, p.n_b LIMIT 20""")),

    // Frequent itemsets, pairwise level (ops/Itemsets.scala — Agrawal &
    // Srikant VLDB'94): brands co-purchased within an order above 2.2%
    // relative support. Distinct from q137 (scores a pair list by
    // shared neighbors) and q119 (ADJACENT token bigrams): unordered
    // co-membership at basket granularity with the relative-support /
    // lift semantics rule mining expects. Support is RELATIVE (n·10000
    // ≥ 220·nBaskets — all-integer, same meaning at every sf; the
    // basket total rides a broadcast 1-row join, never a collected
    // literal); lift = nBaskets·n_ab/(n_a·n_b), exact long operands,
    // one IEEE division. The brand vocabulary is dense, so the
    // a-priori item prune passes everything here — the threshold bites
    // at the PAIR level (a proper nonempty subset at every sf).
    QueryDef("q141_itemsets", (s, dir) => {
      import s.implicits._
      val baskets = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
        .join(t(s, dir, "part").select($"p_partkey", $"p_brand"),
          $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"p_brand")
      graft.ops.Itemsets.frequentPairs(baskets, "l_orderkey", "p_brand",
        minSupPerMyriad = 220)
    }, Some("""
      WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, p_brand AS item
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      nb AS (SELECT COUNT(DISTINCT bk) AS n FROM b),
      ic AS (SELECT item, COUNT(*) AS n_i FROM b GROUP BY 1),
      fi AS (SELECT item, n_i FROM ic
             WHERE n_i * 10000 >= 220 * (SELECT n FROM nb)),
      fb AS (SELECT b.bk, b.item FROM b JOIN fi USING (item)),
      p AS (SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS n_ab
            FROM fb a JOIN fb c ON a.bk = c.bk AND a.item < c.item
            GROUP BY 1, 2),
      fp AS (SELECT * FROM p WHERE n_ab * 10000 >= 220 * (SELECT n FROM nb))
      SELECT fp.item_a, fp.item_b, fp.n_ab, fa.n_i AS n_a, fc.n_i AS n_b,
             CAST((SELECT n FROM nb) * fp.n_ab AS DOUBLE) / (fa.n_i * fc.n_i) AS lift
      FROM fp JOIN fi fa ON fa.item = fp.item_a
              JOIN fi fc ON fc.item = fp.item_b
      ORDER BY fp.item_a, fp.item_b""")),

    // Weighted single-source shortest paths (ops/Sssp.scala — Bellman-
    // Ford relaxation): the WEIGHTED distance q104's BFS lacks, over
    // the trade graph with w = min lineitem quantity per (supplier,
    // customer) relation (integral doubles — the cast is exact in both
    // engines). After r rounds every label is the exact shortest path
    // among ≤ r-edge paths — the Bellman-Ford invariant — so 3 rounds
    // unroll as chained CTEs (the q100/q130 protocol); all arithmetic
    // is long (min over exact sums, order-free, no float protocol).
    // Source = the minimum supplier node, a scalar subquery in both
    // engines. A settled node CAN improve in a later round (longer-hop
    // but lighter path) — the semantic difference from BFS, exercised
    // by the component test.
    QueryDef("q142_sssp", (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val pairs = li.select($"l_orderkey", $"l_suppkey", $"l_quantity")
        .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy(($"l_suppkey" * 2).as("a"), ($"o_custkey" * 2 + 1).as("b"))
        .agg(min($"l_quantity").cast("long").as("w"))
      val edges = pairs.select($"a".as("src"), $"b".as("dst"), $"w")
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst"), $"w"))
      val source = li.agg(min($"l_suppkey")).head().getLong(0) * 2
      graft.ops.Sssp.runRounds(edges, source, rounds = 3)
    }, Some("""
      WITH p AS (
        SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b,
               CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      edges AS (SELECT a AS src, b AS dst, w FROM p
                UNION ALL SELECT b, a, w FROM p),
      d0 AS (SELECT (SELECT MIN(l_suppkey) * 2 FROM lineitem) AS node,
                    CAST(0 AS BIGINT) AS dist),
      d1 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d0
               UNION ALL
               SELECT e.dst, q.dist + e.w FROM edges e JOIN d0 q ON q.node = e.src) t
             GROUP BY 1),
      d2 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d1
               UNION ALL
               SELECT e.dst, q.dist + e.w FROM edges e JOIN d1 q ON q.node = e.src) t
             GROUP BY 1),
      d3 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d2
               UNION ALL
               SELECT e.dst, q.dist + e.w FROM edges e JOIN d2 q ON q.node = e.src) t
             GROUP BY 1)
      SELECT node, dist FROM d3 ORDER BY node""")),

    // 2-D skyline / Pareto frontier (ops/Skyline.scala — Borzsonyi
    // ICDE'01): orders no other order beats on BOTH price (minimize)
    // and recency (maximize). The 2-D structure collapses dominance to
    // a prefix max, computed HIERARCHICALLY — equal-width x-bands (the
    // banding floats are internal: any self-consistent banding gives
    // the same answer, so no cross-engine float agreement is needed),
    // per-band ordered windows over (band, x) groups, and an
    // answer-sized band summary — never a global one-partition sort.
    // Axis values are only ever COMPARED (no arithmetic), so doubles
    // and timestamps hash-match against the all-pairs NOT EXISTS
    // dominance oracle.
    QueryDef("q143_skyline", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
      graft.ops.Skyline.skyline2d(o, "o_totalprice", "o_orderdate")
        .orderBy($"o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_totalprice, o_orderdate
      FROM orders r
      WHERE NOT EXISTS (
        SELECT 1 FROM orders s
        WHERE s.o_totalprice <= r.o_totalprice
          AND s.o_orderdate >= r.o_orderdate
          AND (s.o_totalprice < r.o_totalprice
               OR s.o_orderdate > r.o_orderdate))
      ORDER BY o_orderkey""")),

    // Deterministic truncated random walks (ops/RandomWalk.scala —
    // DeepWalk, Perozzi KDD'14): the corpus generator for graph-
    // embedding training, one 3-step walk per node of the trade graph.
    // "Random" is md5-derived (md5_60("walk:" w ":" t) mod outdeg under
    // the dst-ASC neighbor order — the q47/q138 sampling convention), so
    // reruns, repartitionings and the oracle produce IDENTICAL walks;
    // the oracle replays adjacency indexing, outdeg and all three
    // choice joins verbatim. The doubled graph is symmetric (outdeg ≥ 1
    // everywhere), so no walk dangles here; the operator's NULL-stop
    // path for dangling nodes is component-tested.
    QueryDef("q144_random_walks", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      graft.ops.RandomWalk.walks(edges, "src", "dst", steps = 3)
        .orderBy($"walk_id")
    }, Some("""
      WITH p AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (SELECT DISTINCT src, dst FROM (
               SELECT a AS src, b AS dst FROM p
               UNION ALL SELECT b, a FROM p) t),
      adj AS (SELECT src,
                     ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS pos,
                     dst
              FROM ed),
      od AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY 1),
      s0 AS (SELECT src AS walk_id, src AS cur FROM od),
      s1 AS (SELECT s.walk_id, a.dst AS step_1, a.dst AS cur
             FROM s0 s JOIN od o ON o.src = s.cur
             JOIN adj a ON a.src = s.cur AND a.pos =
               CAST(('0x' || substr(md5('walk:' || CAST(s.walk_id AS VARCHAR) || ':1'), 1, 15)) AS BIGINT) % o.outdeg),
      s2 AS (SELECT s.walk_id, s.step_1, a.dst AS step_2, a.dst AS cur
             FROM s1 s JOIN od o ON o.src = s.cur
             JOIN adj a ON a.src = s.cur AND a.pos =
               CAST(('0x' || substr(md5('walk:' || CAST(s.walk_id AS VARCHAR) || ':2'), 1, 15)) AS BIGINT) % o.outdeg),
      s3 AS (SELECT s.walk_id, s.step_1, s.step_2, a.dst AS step_3
             FROM s2 s JOIN od o ON o.src = s.cur
             JOIN adj a ON a.src = s.cur AND a.pos =
               CAST(('0x' || substr(md5('walk:' || CAST(s.walk_id AS VARCHAR) || ':3'), 1, 15)) AS BIGINT) % o.outdeg)
      SELECT walk_id, step_1, step_2, step_3 FROM s3 ORDER BY walk_id""")),

    // Mergeable QUANTILE sketch (ops/Sketches.ddBuckets — the DDSketch
    // idea, Masson VLDB'19, with base-2 INTEGER-EXACT bucketing):
    // completes the sketch family (distinct=HLL q128, frequency=CMS
    // q129, overlap=KMV q134, membership=Bloom q88/q136 — ranks were
    // missing). A positive integer floors to its top 4 significant
    // binary digits — pure integer arithmetic both engines share
    // bit-for-bit (shift from length(bin(v)), floor by subtracting an
    // exact mod; no log(), no floats, no engine quantile aggregate),
    // giving every estimate a <= 2^-3 relative-error lower bound. The
    // histogram is answer-sized at any corpus size and merges by
    // bucket-wise SUM — the '__all' row IS that merge (q128
    // discipline); p50/p90/p99 extraction is an all-integer
    // cum*1000 >= q*n threshold over the bucket table. Prices
    // integerize to cents through the §5 decimal discipline.
    QueryDef("q149_quantile_sketch", (s, dir) => {
      import s.implicits._
      val cents = t(s, dir, "lineitem")
        .select($"l_returnflag".as("grp"),
          (dec($"l_extendedprice") * 100).cast("long").as("v"))
      val bk = graft.ops.Sketches.ddBuckets(cents, "grp", $"v", sig = 4)
      val all = graft.ops.Sketches.ddCollapse(bk, "grp", "__all")
      graft.ops.Sketches.ddQuantiles(bk.unionByName(all), "grp",
          Seq(500, 900, 990))
        .orderBy($"grp", $"q")
    }, Some("""
      WITH v AS (
        SELECT l_returnflag AS grp,
               CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS v
        FROM lineitem),
      b0 AS (
        SELECT grp, v,
               CASE WHEN length(bin(v)) - 4 > 0 THEN length(bin(v)) - 4 ELSE 0 END AS sh
        FROM v),
      bk AS (
        SELECT grp, v - (v % (CAST(1 AS BIGINT) << sh)) AS lo,
               v - (v % (CAST(1 AS BIGINT) << sh)) + (CAST(1 AS BIGINT) << sh) AS hi,
               COUNT(*) AS cnt
        FROM b0 GROUP BY 1, 2, 3),
      ball AS (
        SELECT grp, lo, hi, cnt FROM bk
        UNION ALL
        SELECT '__all', lo, hi, SUM(cnt) FROM bk GROUP BY 2, 3),
      n AS (SELECT grp, SUM(cnt) AS n FROM ball GROUP BY 1),
      cum AS (SELECT grp, lo, cnt,
                     SUM(cnt) OVER (PARTITION BY grp ORDER BY lo) AS cum
              FROM ball),
      qs AS (SELECT CAST(unnest([500, 900, 990]) AS INTEGER) AS q)
      SELECT c.grp, q.q, CAST(n.n AS BIGINT) AS n, MIN(c.lo) AS est
      FROM cum c JOIN n ON n.grp = c.grp CROSS JOIN qs q
      WHERE c.cum * 1000 >= q.q * n.n
      GROUP BY 1, 2, 3
      ORDER BY c.grp, q.q""")),

    // k-core decomposition (ops/KCore.scala — Seidman 1983): the
    // maximal subgraph where EVERY node keeps degree >= k, the
    // link-graph curation filter a one-shot degree threshold cannot
    // compute because removals CASCADE. The planted specimen proves
    // exactly that: a detached 12-node pendant PATH (ids 9000000+)
    // peels one node from each end per round — its interior nodes all
    // have degree 2 and would survive a naive filter, yet the true
    // 2-core drops the whole path over 6 cascading rounds while the
    // dense trade graph converges in one. Fixpoint detected by exact
    // edge-count equality (peeling only removes; every peeled node
    // owned >= 1 edge); the oracle unrolls 8 peel rounds — more than
    // either component needs, and extra rounds past the fixpoint are
    // identity, so fixed-round SQL == fixpoint operator.
    QueryDef("q151_kcore", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val path = s.range(11)
        .select(($"id" + 9000000L).as("a"), ($"id" + 9000001L).as("b"))
      val both = pairs.unionByName(path)
      val edges = both.select($"a".as("src"), $"b".as("dst"))
        .unionByName(both.select($"b".as("src"), $"a".as("dst")))
      graft.ops.KCore.kcore(edges, "src", "dst", k = 2)
        .orderBy($"node")
    }, Some(kcoreOracleSql(rounds = 8, k = 2))),

    // Strongly connected components (ops/Scc.scala — FW-BW min-label
    // coloring) over a genuinely DIRECTED graph: within each order,
    // supplier of line i → supplier of line i+1 (the successor relation
    // — dense enough at every sf that the suppliers form one giant SCC,
    // the web-bowtie core of Broder WWW'00). The planted specimens pin
    // the structure the giant core can't show: an IN-tendril →
    // 3-cycle → OUT-tendril bowtie in miniature (the cycle is an SCC of
    // 3; both tendrils are singletons that resolve only AFTER their
    // neighbor peels — outer-round cascade) and a 4-node directed path
    // (resolves ONE node per round: the q151-style cascade proof that a
    // one-shot label pass cannot compute this). Labels are exact min
    // node ids, sizes exact counts — the DuckDB oracle rebuilds the
    // answer from a full recursive-CTE transitive closure + mutual-
    // reachability (tractable at oracle sf; the Spark side never
    // materializes a closure — min-label propagation is linear in edges
    // per step). Output (node, scc, n_scc) is node-sized.
    QueryDef("q155_scc", (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_orderkey").orderBy($"l_linenumber")
      val nat = t(s, dir, "lineitem")
        .select($"l_suppkey".as("src"), lead($"l_suppkey", 1).over(w).as("dst"))
        .filter($"dst".isNotNull && $"src" =!= $"dst")
        .distinct()
      val planted = Seq(
        (9000001L, 9000011L),                                          // IN-tendril
        (9000011L, 9000012L), (9000012L, 9000013L), (9000013L, 9000011L), // 3-cycle
        (9000013L, 9000021L),                                          // OUT-tendril
        (9000031L, 9000032L), (9000032L, 9000033L), (9000033L, 9000034L)) // path
        .toDF("src", "dst")
      val lab = graft.ops.Scc.scc(nat.unionByName(planted), "src", "dst")
      val sz = lab.groupBy($"scc").agg(count(lit(1)).as("n_scc"))
      lab.join(sz, "scc").select($"node", $"scc", $"n_scc")
        .orderBy($"node")
    }, Some("""
      WITH RECURSIVE succ AS (
        SELECT l_suppkey AS s1,
               LEAD(l_suppkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS s2
        FROM lineitem),
      nat AS (SELECT DISTINCT s1 AS src, s2 AS dst
              FROM succ WHERE s2 IS NOT NULL AND s1 <> s2),
      planted(src, dst) AS (
        SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          (9000001, 9000011),
          (9000011, 9000012), (9000012, 9000013), (9000013, 9000011),
          (9000013, 9000021),
          (9000031, 9000032), (9000032, 9000033), (9000033, 9000034)) v(a, b)),
      edges AS (SELECT src, dst FROM nat UNION SELECT src, dst FROM planted),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      mut AS (SELECT a.src AS v, a.dst AS w
              FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src),
      lab AS (SELECT n.node,
                     LEAST(n.node, COALESCE(MIN(m.w), n.node)) AS scc
              FROM nodes n LEFT JOIN mut m ON m.v = n.node
              GROUP BY n.node),
      sz AS (SELECT scc, COUNT(*) AS n_scc FROM lab GROUP BY 1)
      SELECT l.node, l.scc, CAST(sz.n_scc AS BIGINT) AS n_scc
      FROM lab l JOIN sz USING (scc)
      ORDER BY l.node""")),

    // HyperANF neighborhood function (ops/HyperAnf.scala — Boldi WWW'11):
    // per-node HLL ball sketches over the q100 trade graph, 3 rounds.
    // Surface: probe nodes (node % 41 == 0) pin their registers
    // bit-for-bit (the q128 discipline); the '__global' row per round
    // carries the register-wise-max union sketch, the exact DECIMAL
    // Σ_v s_u, and the node count. est = the q128 single-division chain
    // (n_nodes·α·m²·2^R / s_u) — for probes the true HyperANF ball
    // estimate, for '__global' the mean-ball normalization of the exact
    // sum (a float SUM of per-node estimates would be order-dependent
    // and is out of protocol, stated in the scaladoc). s_u SURFACES as
    // a string: the internal arithmetic stays decimal(38,0) — per-node
    // s_u < 2^61 sums overflow long at 4 nodes — but wide decimals in a
    // query's FINAL output hash differently across engines in the
    // driver's canonicalization (§5 surface rule, r12); digits are
    // digits in every engine.
    QueryDef("q159_hyperanf", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      val balls = HyperAnf.ballRegisters(edges, rounds = 3, p = 4)
      val su = HyperAnf.suOf($"regs", p = 4)
      val csv = concat_ws(",", transform($"regs", _.cast("string")))
      val probe = balls.filter($"node" % 41 === 0)
        .select($"r", $"node".cast("string").as("grp"),
          lit(1L).as("n_nodes"), su.cast("decimal(38,0)").as("s_u"), csv.as("regs"))
      // register union = ONE reg_max aggregate (constant-size plan at
      // any p — the r11 verdict's 16-separate-max shape, retired)
      val global = balls
        .select($"r", su.cast("decimal(38,0)").as("su1"), $"regs")
        .groupBy($"r")
        .agg(count(lit(1)).as("n_nodes"), sum($"su1").as("s_u"),
          graft.functions.AggFunctions.regMax($"regs").as("gregs"))
        .select($"r", lit("__global").as("grp"), $"n_nodes",
          $"s_u".cast("decimal(38,0)").as("s_u"),
          concat_ws(",", transform($"gregs", _.cast("string"))).as("regs"))
      probe.unionByName(global)
        .select($"r", $"grp", $"n_nodes", $"s_u".cast("string").as("s_u"), $"regs",
          (lit(0.673) * lit(256.0) * lit(144115188075855872.0)
            * $"n_nodes".cast("double") / $"s_u".cast("double")).as("est"))
        .orderBy($"r", $"grp")
    }, Some("""
      WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      h AS (SELECT node,
                   CAST(('0x' || substr(md5('anf:' || CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM nodes),
      b0 AS (SELECT node, h % 16 AS j,
                    CASE WHEN h // 16 = 0 THEN 57
                         ELSE 57 - length(bin(h // 16)) END AS m
             FROM h),
      b1 AS (SELECT node, j, MAX(m) AS m FROM (
               SELECT node, j, m FROM b0
               UNION ALL
               SELECT e.src AS node, b.j, b.m FROM edges e JOIN b0 b ON b.node = e.dst)
             GROUP BY 1, 2),
      b2 AS (SELECT node, j, MAX(m) AS m FROM (
               SELECT node, j, m FROM b1
               UNION ALL
               SELECT e.src AS node, b.j, b.m FROM edges e JOIN b1 b ON b.node = e.dst)
             GROUP BY 1, 2),
      b3 AS (SELECT node, j, MAX(m) AS m FROM (
               SELECT node, j, m FROM b2
               UNION ALL
               SELECT e.src AS node, b.j, b.m FROM edges e JOIN b2 b ON b.node = e.dst)
             GROUP BY 1, 2),
      allb AS (
        SELECT 0 AS r, node, j, m FROM b0
        UNION ALL SELECT 1, node, j, m FROM b1
        UNION ALL SELECT 2, node, j, m FROM b2
        UNION ALL SELECT 3, node, j, m FROM b3),
      dense AS (
        SELECT a.r, a.node, s.j, COALESCE(x.m, 0) AS m
        FROM (SELECT DISTINCT r, node FROM allb) a
        CROSS JOIN (SELECT unnest(range(16)) AS j) s
        LEFT JOIN allb x ON x.r = a.r AND x.node = a.node AND x.j = s.j),
      su AS (
        SELECT r, node,
               CAST(SUM((CAST(1 AS BIGINT) << 57) // (CAST(1 AS BIGINT) << m)) AS BIGINT) AS s_u,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS regs
        FROM dense GROUP BY 1, 2),
      probe AS (
        SELECT r, CAST(node AS VARCHAR) AS grp, CAST(1 AS BIGINT) AS n_nodes,
               CAST(s_u AS DECIMAL(38,0)) AS s_u, regs
        FROM su WHERE node % 41 = 0),
      gmax AS (SELECT r, j, MAX(m) AS m FROM dense GROUP BY 1, 2),
      gregs AS (SELECT r, string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS regs
                FROM gmax GROUP BY r),
      gl AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(s_u) AS DECIMAL(38,0)) AS s_u
             FROM su GROUP BY r),
      uni AS (
        SELECT * FROM probe
        UNION ALL
        SELECT gl.r, '__global' AS grp, gl.n_nodes, gl.s_u, gregs.regs
        FROM gl JOIN gregs ON gregs.r = gl.r)
      SELECT r, grp, n_nodes, CAST(s_u AS VARCHAR) AS s_u, regs,
             0.673 * 256.0 * 144115188075855872.0 * CAST(n_nodes AS DOUBLE)
               / CAST(s_u AS DOUBLE) AS est
      FROM uni ORDER BY r, grp""")),

    // ε-band join — the numeric-distance join the equi/interval family
    // lacks: pairs with |price_a − price_b| ≤ ε within a brand (price-
    // collision screening, fuzzy numeric matching). Never a cross
    // product: bucket = floor(price/ε), one side probes {b−1, b, b+1}
    // (a ≤ε pair differs by ≤1 bucket — pigeonhole-complete), the join
    // is a plain equi-join on (brand, bucket) + an exact residual
    // filter; each unordered pair matches EXACTLY once (the probe hits
    // the other side's single home bucket). floor(x/ε) and |a−b| are
    // single identical double op chains in both engines (no reorderable
    // accumulation → portable); the closest-pair argmin is an order-free
    // min(struct) with (diff, id, id) tie-break. Oracle = the quadratic
    // theta join this operator replaces.
    QueryDef("q169_band_join", (s, dir) => {
      import s.implicits._
      BandJoin.summary(t(s, dir, "part"), "p_partkey", "p_brand",
          "p_retailprice", eps = 0.5)
        .withColumnRenamed("grp", "brand")
        .orderBy($"brand")
    }, Some("""
      WITH pr AS (
        SELECT a.p_brand AS brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
               abs(a.p_retailprice - b.p_retailprice) AS d
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         AND abs(a.p_retailprice - b.p_retailprice) <= 0.5),
      r AS (SELECT brand, id_a, id_b, d,
                   ROW_NUMBER() OVER (PARTITION BY brand ORDER BY d, id_a, id_b) AS rn
            FROM pr)
      SELECT p.brand, p.n_pairs, r.d AS min_diff, r.id_a AS pair_a, r.id_b AS pair_b
      FROM (SELECT brand, COUNT(*) AS n_pairs FROM pr GROUP BY 1) p
      JOIN r ON r.brand = p.brand AND r.rn = 1
      ORDER BY p.brand""")),

    // Neyman-allocated stratified sampling (Sampling.neymanSample —
    // Neyman 1934): a fixed audit budget split ∝ N_h·σ_h over account
    // balances per market segment — the survey-sampling optimum q154's
    // size-only weights cannot express. Exact integer moments in
    // micro-units; ONE IEEE sqrt per stratum; byte-identical selection.
    QueryDef("q176_neyman_sample", (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
      Sampling.neymanSample(cust, "c_mktsegment", "c_custkey",
          ($"c_acctbal".cast("decimal(18,4)") * 10000).cast("long"),
          budget = lit(300L))
        .orderBy($"c_mktsegment", $"c_custkey")
    }, Some("""
      WITH v AS (
        SELECT c_mktsegment AS g, c_custkey AS id,
               CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
        FROM customer),
      mo AS (
        SELECT g, COUNT(*) AS n_grp,
               SUM(CAST(m AS HUGEINT)) AS s,
               SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS q
        FROM v GROUP BY 1),
      w AS (
        SELECT g, n_grp,
               GREATEST(1, CAST(floor(sqrt(CAST(n_grp * q - s * s AS DOUBLE))) AS BIGINT)) AS w_l
        FROM mo),
      tot AS (SELECT SUM(w_l) AS sw FROM w),
      t AS (SELECT g, n_grp,
                   CAST(LEAST(n_grp, (300 * w_l) // tot.sw) AS BIGINT) AS t_grp
            FROM w CROSS JOIN tot),
      rk AS (
        SELECT g, id,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY
                 CAST(('0x' || substr(md5('neyman:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)) AS r
        FROM v)
      SELECT rk.g AS c_mktsegment, rk.id AS c_custkey, t.n_grp, t.t_grp
      FROM rk JOIN t ON t.g = rk.g
      WHERE rk.r <= t.t_grp
      ORDER BY c_mktsegment, c_custkey""")),

    // Weighted PageRank (PageRank.runWeighted): rank mass distributes
    // proportionally to edge weight — the weight IS the trade
    // multiplicity q100's .distinct() throws away (a supplier that
    // ships a customer 40 lineitems matters more than one that ships
    // 1). Same all-integer recurrence; the oracle unrolls 3 weighted
    // rounds as chained CTEs.
    QueryDef("q175_weighted_pagerank", (s, dir) => {
      import s.implicits._
      val pairs = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
        .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select(($"l_suppkey" * 2).as("a"), ($"o_custkey" * 2 + 1).as("b"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
      val edges = pairs.select($"a".as("src"), $"b".as("dst"), $"w")
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst"), $"w"))
      PageRank.runWeighted(edges, nIters = 3)
        .orderBy(desc("rank_mu"), $"node")
        .limit(20)
    }, Some("""
      WITH pairs AS (
        SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b, COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      edges AS (SELECT a AS src, b AS dst, w FROM pairs
                UNION ALL SELECT b, a, w FROM pairs),
      wt AS (SELECT src, SUM(w) AS wtot FROM edges GROUP BY 1),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      r1 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM((p.r * e.w) // d.wtot) AS s
               FROM edges e JOIN wt d ON e.src = d.src JOIN r0 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node),
      r2 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM((p.r * e.w) // d.wtot) AS s
               FROM edges e JOIN wt d ON e.src = d.src JOIN r1 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node),
      r3 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst, SUM((p.r * e.w) // d.wtot) AS s
               FROM edges e JOIN wt d ON e.src = d.src JOIN r2 p ON p.node = e.src
               GROUP BY e.dst) c ON c.dst = n.node)
      SELECT node, r AS rank_mu FROM r3
      ORDER BY rank_mu DESC, node LIMIT 20""")),

    // Join-size estimation without joining (Sketches.cmsJoinSizeByDepth
    // — Cormode's count-min inner product): "how big would the
    // lineitem⋈lineitem self-join on part be under this predicate?"
    // answered from two depth×width counter tables — the query-planner
    // composition the mergeable-sketch family exists for at 100 TB.
    // Surface: per-depth estimates, their min (the estimator, always ≥
    // true), and the exact ground truth Σ_k f_A·f_B (computed here so
    // the overestimate property is oracle-VISIBLE; production keeps
    // only the sketch side, stated). All integer/decimal exact; est
    // SURFACES as a string (§5 surface rule, r12: wide decimals in a
    // final output trip the driver's cross-engine hash — internal
    // products stay decimal(38,0), they genuinely overflow long).
    QueryDef("q170_join_size", (s, dir) => {
      import s.implicits._
      // r12 shape: both sides' counters from ONE scan (cmsCountersPair
      // — B is A under a predicate, so the conditional weight replaces
      // the second scan) and the inner product reads (ca, cb) from one
      // row — the r11 formulation's second lineitem scan AND the
      // counter equi-join both gone; bit-identical estimates (a bucket
      // absent from the filtered side carries cb = 0, contributing 0
      // exactly as the join's absent row did). Ground truth fused the
      // same way: one groupBy(k) with a conditional count, fb = 0 rows
      // contributing 0 to Σ fa·fb.
      val src = t(s, dir, "lineitem").select($"l_partkey".as("k"),
        when($"l_quantity" > 25, 1L).otherwise(0L).as("inb"))
      val fused = graft.ops.Sketches.cmsCountersPair(src, $"k", lit(1L),
        $"inb", depth = 4, width = 8192)
      val perDepth = fused.groupBy($"i")
        .agg(sum($"ca".cast("decimal(19,0)") * $"cb".cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("est"))
      val est = perDepth.select(
        concat(lit("depth_"), $"i".cast("string")).as("stat"), $"est")
      val mn = perDepth.agg(min($"est").cast("decimal(38,0)").as("est"))
        .select(lit("__min").as("stat"), $"est")
      val tru = src.groupBy($"k")
        .agg(count(lit(1)).cast("decimal(19,0)").as("fa"),
          sum($"inb").cast("decimal(18,0)").as("fb"))
        .agg(sum($"fa" * $"fb").cast("decimal(38,0)").as("est"))
        .select(lit("__true").as("stat"), $"est")
      est.unionByName(mn).unionByName(tru)
        .select($"stat", $"est".cast("string").as("est"))
        .orderBy($"stat")
    }, Some("""
      WITH a0 AS (SELECT l_partkey AS k FROM lineitem),
      b0 AS (SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 25),
      ca AS (
        SELECT i.i AS i,
               CAST(('0x' || substr(md5('cms:' || CAST(i.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192 AS bucket,
               COUNT(*) AS c
        FROM a0, range(4) i(i) GROUP BY 1, 2),
      cb AS (
        SELECT i.i AS i,
               CAST(('0x' || substr(md5('cms:' || CAST(i.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192 AS bucket,
               COUNT(*) AS c
        FROM b0, range(4) i(i) GROUP BY 1, 2),
      prod AS (
        SELECT ca.i,
               CAST(SUM(CAST(ca.c AS DECIMAL(19,0)) * CAST(cb.c AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS est
        FROM ca JOIN cb ON cb.i = ca.i AND cb.bucket = ca.bucket
        GROUP BY 1),
      tru AS (
        SELECT CAST(SUM(CAST(fa.n AS DECIMAL(19,0)) * CAST(fb.n AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS est
        FROM (SELECT k, COUNT(*) AS n FROM a0 GROUP BY 1) fa
        JOIN (SELECT k, COUNT(*) AS n FROM b0 GROUP BY 1) fb ON fb.k = fa.k)
      SELECT stat, CAST(est AS VARCHAR) AS est FROM (
        SELECT 'depth_' || CAST(i AS VARCHAR) AS stat, est FROM prod
        UNION ALL SELECT '__min', CAST(MIN(est) AS DECIMAL(38,0)) FROM prod
        UNION ALL SELECT '__true', est FROM tru)
      ORDER BY stat""")),

    // Harmonic centrality from the q159 ball sketches (Boldi & Vigna,
    // "Axioms for Centrality" — THE application HyperANF exists for):
    // H(v) = Σ_{u≠v} 1/d(u,v) ≈ Σ_r (|B(v,r)| − |B(v,r−1)|)/r, i.e.
    // nodes first reached at distance r contribute 1/r. Exact harmonic
    // centrality needs all-pairs distances (|V| BFS traversals); the
    // sketch answers it per node from 2^p ints of state. Surface: the
    // EXACT per-radius sufficient statistics s_0..s_3 (longs — a single
    // node's s_u < 2^61) and the harmonic score as ONE fixed-order
    // double chain over them (each |B| is the q128 single-division
    // estimate; the chain is written identically in both engines, the
    // q159 'est' precedent — no reorderable accumulation). Top-20 via
    // bounded TakeOrdered, ties to the smaller node id. Estimates are
    // raw-HLL (no low-range correction) on BOTH sides — consistent,
    // stated; ball growth is monotone so every term is ≥ 0.
    QueryDef("q179_harmonic_centrality", (s, dir) => {
      import s.implicits._
      val pairs = tradePairs(s, dir)
      val edges = pairs.select($"a".as("src"), $"b".as("dst"))
        .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      HyperAnf.harmonicCentrality(edges, rounds = 3, p = 4)
        .orderBy(desc("harmonic"), $"node").limit(20)
    }, Some("""
      WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      h AS (SELECT node,
                   CAST(('0x' || substr(md5('anf:' || CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM nodes),
      b0 AS (SELECT node, h % 16 AS j,
                    CASE WHEN h // 16 = 0 THEN 57
                         ELSE 57 - length(bin(h // 16)) END AS m
             FROM h),
      b1 AS (SELECT node, j, MAX(m) AS m FROM (
               SELECT node, j, m FROM b0
               UNION ALL
               SELECT e.src AS node, b.j, b.m FROM edges e JOIN b0 b ON b.node = e.dst)
             GROUP BY 1, 2),
      b2 AS (SELECT node, j, MAX(m) AS m FROM (
               SELECT node, j, m FROM b1
               UNION ALL
               SELECT e.src AS node, b.j, b.m FROM edges e JOIN b1 b ON b.node = e.dst)
             GROUP BY 1, 2),
      b3 AS (SELECT node, j, MAX(m) AS m FROM (
               SELECT node, j, m FROM b2
               UNION ALL
               SELECT e.src AS node, b.j, b.m FROM edges e JOIN b2 b ON b.node = e.dst)
             GROUP BY 1, 2),
      allb AS (
        SELECT 0 AS r, node, j, m FROM b0
        UNION ALL SELECT 1, node, j, m FROM b1
        UNION ALL SELECT 2, node, j, m FROM b2
        UNION ALL SELECT 3, node, j, m FROM b3),
      dense AS (
        SELECT a.r, a.node, s.j, COALESCE(x.m, 0) AS m
        FROM (SELECT DISTINCT r, node FROM allb) a
        CROSS JOIN (SELECT unnest(range(16)) AS j) s
        LEFT JOIN allb x ON x.r = a.r AND x.node = a.node AND x.j = s.j),
      su AS (
        SELECT r, node,
               CAST(SUM((CAST(1 AS BIGINT) << 57) // (CAST(1 AS BIGINT) << m)) AS BIGINT) AS s_u
        FROM dense GROUP BY 1, 2),
      per AS (
        SELECT node,
               MAX(CASE WHEN r = 0 THEN s_u END) AS s0,
               MAX(CASE WHEN r = 1 THEN s_u END) AS s1,
               MAX(CASE WHEN r = 2 THEN s_u END) AS s2,
               MAX(CASE WHEN r = 3 THEN s_u END) AS s3
        FROM su GROUP BY 1)
      SELECT node, s0, s1, s2, s3,
             ((0.673 * 256.0 * 144115188075855872.0 / CAST(s1 AS DOUBLE)
                 - 0.673 * 256.0 * 144115188075855872.0 / CAST(s0 AS DOUBLE))
               + (0.673 * 256.0 * 144115188075855872.0 / CAST(s2 AS DOUBLE)
                 - 0.673 * 256.0 * 144115188075855872.0 / CAST(s1 AS DOUBLE)) / 2.0
               + (0.673 * 256.0 * 144115188075855872.0 / CAST(s3 AS DOUBLE)
                 - 0.673 * 256.0 * 144115188075855872.0 / CAST(s2 AS DOUBLE)) / 3.0) AS harmonic
      FROM per
      ORDER BY harmonic DESC, node LIMIT 20"""))
  )

  /** The q151 oracle: `rounds` unrolled peel rounds over the trade
    * graph + the planted pendant path; each round keeps nodes of
    * current degree ≥ k and restricts edges to surviving endpoints. */
  private def kcoreOracleSql(rounds: Int, k: Int): String = {
    // MATERIALIZED: each round references its predecessor three times
    // (degree agg + both join sides); inlined CTEs would re-expand the
    // base scan 3^rounds times
    val peels = (1 to rounds).map { r =>
      s"""
      k$r AS MATERIALIZED (SELECT src AS node FROM e${r - 1} GROUP BY 1 HAVING COUNT(*) >= $k),
      e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
              JOIN k$r a ON a.node = e.src JOIN k$r b ON b.node = e.dst)"""
    }.mkString(",")
    s"""
      WITH p AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        UNION
        SELECT 9000000 + i, 9000001 + i FROM range(11) t(i)),
      e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
             UNION ALL SELECT b, a FROM p),$peels
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM e$rounds GROUP BY 1 ORDER BY node"""
  }

  /** The q130 oracle: `nIters` unrolled synchronous LPA rounds over the
    * trade graph — neighbor labels + the self-vote, ROW_NUMBER argmax
    * with the (n DESC, label ASC) total order (≡ the operator's
    * max(struct(n, −label))). */
  private def labelPropOracleSql(nIters: Int): String = {
    val rounds = (1 to nIters).map { r =>
      s"""
      c$r AS (SELECT v.node, v.label, COUNT(*) AS n FROM (
                SELECT e.dst AS node, p.label
                FROM edges e JOIN l${r - 1} p ON p.node = e.src
                UNION ALL SELECT node, label FROM l${r - 1}) v
              GROUP BY 1, 2),
      l$r AS (SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                         ORDER BY n DESC, label) AS rk
                FROM c$r) WHERE rk = 1)"""
    }.mkString(",")
    s"""
      WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
      l0 AS (SELECT node, node AS label FROM nodes),$rounds
      SELECT node, label,
             COUNT(*) OVER (PARTITION BY label) AS comm_size
      FROM l$nIters ORDER BY node"""
  }

  /** The range-clustered lineitem copy behind q98 — written once per
    * (corpus, content-fingerprint) per process, the stand-in for the
    * clustered table a nightly OPTIMIZE pass maintains durably. */
  def clusteredLineitem(s: SparkSession, dir: String): String = {
    import s.implicits._
    val fp = graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "lineitem"))
    clustered.getOrElseUpdate(s"$dir@$fp", {
      val path = graft.Scratch.dir("graft_clustered").toString
      graft.sources.Layout.writeClustered(
        t(s, dir, "lineitem").select($"l_orderkey", $"l_returnflag",
          $"l_extendedprice", $"l_quantity"),
        path, 16, $"l_orderkey")
      path
    })
  }
  private val clustered = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The hash-distributed 16-file orders copy + its Bloom manifest behind
    * q136 — written once per (corpus, content-fingerprint) per process,
    * the stand-in for the bloom-indexed table a nightly layout pass
    * maintains durably. Returns (dataDir, manifestDir). */
  def bloomOrders(s: SparkSession, dir: String): (String, String) = {
    import s.implicits._
    val fp = graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "orders"))
    bloomed.getOrElseUpdate(s"$dir@$fp", {
      val base = graft.Scratch.dir("graft_bloom").toString
      val data = s"$base/data"
      val manifest = s"$base/manifest"
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        .repartition(16, $"o_orderkey") // hash layout: zonemaps useless by design
        .write.parquet(data)
      graft.sources.BloomIndex.build(s, data, "o_orderkey")
        .write.parquet(manifest)
      (data, manifest)
    })
  }
  private val bloomed = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
}
