package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Decodes
import graft.operators.Joins

/** Remaining §2 operator bindings: global row_number (W2/O1), ratio-of-sums
  * (A10/F9), count-distinct scalar + cross join (A11), correlated-subquery
  * decorrelation (J10), and the SQL entry surface (spark.sql over views).
  */
object MiscQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W2/O1: global synthetic entry number. The reference's
    // `ROW_NUMBER() OVER (ORDER BY (SELECT NULL))` is nondeterministic; we
    // bind it to the stable cursor order (ssg_erp_op.py:296 + O1's ORDER BY).
    // Single-partition window — documented cost; q92 is the scalable twin
    // (Windows.globalRowNumberComposed).
    "q33_global_rownum" -> { (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("entry_no", row_number().over(Window.orderBy(col("o_orderkey"))))
        .select(col("entry_no"), col("o_orderkey"), col("o_orderstatus"))
        .orderBy("entry_no")
    },

    // W2 at scale: the same entry-number contract as q33 WITHOUT its
    // single-partition sort — deterministic bucket + offset composition
    // (Windows.globalRowNumberComposed), one bounded B-way shuffle.
    // Shares q33's oracle: both forms must agree bit-for-bit.
    "q92_global_rownum_composed" -> { (s, dir) =>
      graft.operators.Windows.globalRowNumberComposed(
          Tables.orders(s, dir), "o_orderkey")
        .select(col("entry_no"), col("o_orderkey"), col("o_orderstatus"))
        .orderBy("entry_no")
    },

    // A10 + F9: sum + guarded ratio-of-sums per group
    // (`item_valuation_update.py:361-397`).
    "q34_ratio_of_sums" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .withColumn("avg_rate",
          Decodes.safeDiv(col("sum_price"), col("sum_qty")))
        .orderBy("l_returnflag")
    },

    // A11: count-distinct scalar denominator cross-joined into a grouped
    // share (`new_v_return_plus_retention_rate.sql:29-33`).
    "q35_segment_share" -> { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val total = cust.agg(countDistinct(col("c_custkey")).as("total_customers"))
      cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .crossJoin(total)
        .withColumn("share",
          graft.functions.Rounding.roundLikeC(col("n_customers").cast("double") / col("total_customers"), 4))
        .select("c_mktsegment", "n_customers", "share")
        .orderBy("c_mktsegment")
    },

    // J10: correlated scalar subquery, decorrelated by hand into
    // pre-aggregate + join (`item_valuation_update.py:488-493`); the oracle
    // keeps the correlated form — same result, Catalyst-friendly plan.
    "q36_above_brand_avg" -> { (s, dir) =>
      val part = Tables.part(s, dir)
      val brandAvg = part.groupBy("p_brand")
        .agg(avg(col("p_retailprice")).as("brand_avg"))
      part.join(broadcast(brandAvg), "p_brand")
        .filter(col("p_retailprice") > col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
    },

    // J9 generalized: two-table as-of join — each purchase picks the user's
    // latest click at-or-before it (union-window formulation, one shuffle);
    // oracle = DuckDB's native ASOF JOIN.
    "q41_asof_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      Joins.asOf(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .orderBy("event_id")
    },

    // q41's twin through the PLANNER-LEVEL as-of operator (custom logical
    // plan + strategy + one-pass merge exec, SparkSessionExtensions-
    // registered) — same oracle, so the driver's hash gate proves the
    // physical operator end-to-end.
    "q46_asof_native" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      Joins.asOfNative(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .orderBy("event_id")
    },

    // Bucketed range join (interval containment): orders landing inside the
    // 30-day window opened by ANOTHER order of the same customer, counted
    // per customer. Equi-join on (custkey, time-bucket) + exact filter —
    // never a per-key nested loop.
    "q47_range_join" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val pts = o.select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("ts"))
      val iv = o.select(col("o_custkey"),
        col("o_orderkey").as("prior_orderkey"),
        col("o_orderdate").cast("timestamp").as("win_start"),
        (col("o_orderdate").cast("timestamp") + expr("INTERVAL 30 DAYS")).as("win_end"))
      Joins.rangeJoin(pts, iv, Seq("o_custkey"), "ts", "win_start", "win_end",
          java.time.Duration.ofDays(30))
        .filter(col("o_orderkey") =!= col("prior_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("o_custkey")
    },

    // Exact percentiles (interpolated, the ordered-statistic the reference
    // computes pandas-side): per-status median and p95 of order value.
    // Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    // rank = p*(n-1) linear-interpolation definition; 4dp rounding on both
    // sides absorbs last-ulp interpolation differences.
    "q48_percentiles" -> { (s, dir) =>
      import graft.functions.Rounding.roundLikeC
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, array(0.5D, 0.95D))").as("__p"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderstatus"),
          roundLikeC(element_at(col("__p"), 1), 4).as("p50"),
          roundLikeC(element_at(col("__p"), 2), 4).as("p95"),
          col("n_orders"))
        .orderBy("o_orderstatus")
    },

    // F11/F12/F19: date parse + reformat round-trip and interval arithmetic
    // (`item_valuation_update.py:104` STR_TO_DATE(CONCAT(date,' ',time));
    // DATEADD `hanger_lanes_to_pg_etl.py:117`; strftime `replicate_table.py:63`).
    "q40_date_arithmetic" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("d_str"),
        date_format(col("ts"), "HH:mm:ss").as("t_str"),
        col("ts"))
      ev.select(
          col("event_id"),
          to_timestamp(concat_ws(" ", col("d_str"), col("t_str"))).as("reparsed_ts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("ts_plus_10m"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("legacy_str"))
        .orderBy("event_id")
    },

    // SQL entry surface: the same engine through spark.sql over temp views —
    // proves the catalog + SQL parser path works end-to-end.
    "q37_sql_surface" -> { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      s.sql(
        """SELECT o_orderpriority, c_mktsegment, COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM v_orders JOIN v_customer ON o_custkey = c_custkey
          |WHERE o_orderstatus = 'F'
          |GROUP BY o_orderpriority, c_mktsegment
          |ORDER BY o_orderpriority, c_mktsegment""".stripMargin)
    },

    // A6/J3 extension: market-basket LIFT (pair support over independence)
    // for product pairs co-bought in an order — integer-ratio form, see
    // Joins.basketLift on why not log-PMI.
    "q67_basket_lift" -> { (s, dir) =>
      graft.operators.Joins.basketLift(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        Seq("l_orderkey"), "l_partkey", minPairCount = 3, topK = 20)
    }
  )

  def oracleSql: Map[String, String] = Map(

    "q67_basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
        |ic AS (SELECT l_partkey, count(*) AS n_i FROM items GROUP BY 1),
        |pc AS (
        |  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS n_ab
        |  FROM items a
        |  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab,
        |       round((n_ab * n_baskets)::DOUBLE / (ia.n_i * ib.n_i), 6) AS lift
        |FROM pc
        |CROSS JOIN n
        |JOIN ic ia ON ia.l_partkey = item_a
        |JOIN ic ib ON ib.l_partkey = item_b
        |WHERE n_ab >= 3
        |ORDER BY lift DESC, item_a, item_b
        |LIMIT 20""".stripMargin,

    "q33_global_rownum" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS entry_no,
        |       o_orderkey, o_orderstatus
        |FROM orders
        |ORDER BY entry_no""".stripMargin,

    // identical oracle to q33: the composed form must reproduce the
    // single-partition window's answer exactly
    "q92_global_rownum_composed" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS entry_no,
        |       o_orderkey, o_orderstatus
        |FROM orders
        |ORDER BY entry_no""".stripMargin,

    "q34_ratio_of_sums" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE)
        |             / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE), 4) AS avg_rate
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q35_segment_share" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |       ROUND(CAST(COUNT(*) AS DOUBLE) /
        |             (SELECT COUNT(DISTINCT c_custkey) FROM customer), 4) AS share
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q36_above_brand_avg" ->
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM part p
        |WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part b
        |                       WHERE b.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin,

    "q41_asof_join" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
        |         value AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
        |       c.click_ts, c.click_value
        |FROM purchases p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
        |ORDER BY p.event_id""".stripMargin,

    // identical oracle: the native exec must reproduce the union-window
    // (and DuckDB ASOF) answer bit-for-bit
    "q46_asof_native" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
        |         value AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
        |       c.click_ts, c.click_value
        |FROM purchases p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
        |ORDER BY p.event_id""".stripMargin,

    "q48_percentiles" ->
      """SELECT o_orderstatus,
        |       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q47_range_join" ->
      """WITH pts AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts
        |  FROM orders)
        |SELECT p.o_custkey, COUNT(*) AS n_pairs
        |FROM pts p JOIN pts q
        |  ON p.o_custkey = q.o_custkey AND p.o_orderkey <> q.o_orderkey
        | AND p.ts >= q.ts AND p.ts < q.ts + INTERVAL 30 DAY
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q40_date_arithmetic" ->
      """SELECT event_id,
        |       strptime(concat(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d'), ' ',
        |                       strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S')),
        |                '%Y-%m-%d %H:%M:%S') AS reparsed_ts,
        |       CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS ts_plus_10m,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS legacy_str
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q37_sql_surface" ->
      """SELECT o_orderpriority, c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority, c_mktsegment
        |ORDER BY o_orderpriority, c_mktsegment""".stripMargin
  )
}
