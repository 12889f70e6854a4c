package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics over the star schema. These are the headline
  * shuffle-heavy queries the 100 TB design cares about:
  *
  *  - TRUE dimensions (region/nation/supplier — bounded, tiny at any
  *    scale) are `broadcast()` so fact scans never shuffle for them.
  *    `customer` is NOT hinted: at TPC-H ratios it is lineitem/40, which
  *    at the 100 TB design point is terabytes — the customer joins
  *    shuffle on their key and AQE still picks broadcast on its own at
  *    scales where customer actually fits;
  *  - aggregates run partial (map-side combine) before the single
  *    shuffle on the group key;
  *  - top-k is `orderBy().limit(k)` which Spark executes as
  *    TakeOrderedAndProject — per-partition heap + driver merge of k
  *    rows, never a global sort of the fact table.
  *
  * Doubles are rounded at fixed scale so the DuckDB oracle hashes match
  * despite summation-order differences. */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetSource.read(spark, s"$dir/$name.parquet")

  /** TPC-H Q1-style pricing summary over lineitem. */
  /** TPC-H Q1 in EXACT integer units (r20 third-scale lesson — see
    * [[partRevenueTopK]]): quantities, prices, discounts and taxes are
    * exact integral/centile values, so floor(x·scale + 0.5) is
    * lossless per row and every aggregate becomes an order-independent
    * integer sum — round(sum(double)) drew a one-cent divergence at
    * the 2×-inflated run, and Q1's groups span the WHOLE fact table
    * (4–6 groups), the worst possible addend count. Sums carry
    * DECIMAL(38,0) (the charge chain is ~1.2·10¹¹ per row at max
    * price: BIGINT would wrap near 7.6·10⁷ rows per group — real at
    * the 100 TB design point); displays are one integral half-up `div`
    * + one double division each, IEEE-identical in any engine. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val qty = floor(col("l_quantity") + lit(0.5))
    val cents = floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
    val dp = floor(col("l_discount") * lit(100.0) + lit(0.5))
    val tp = floor(col("l_tax") * lit(100.0) + lit(0.5))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty.cast("decimal(38,0)")).as("qty_s"),
        sum(cents.cast("decimal(38,0)")).as("cents_s"),
        sum((cents * (lit(100L) - dp)).cast("decimal(38,0)")).as("cp_s"),
        sum((cents * (lit(100L) - dp) * (lit(100L) + tp))
          .cast("decimal(38,0)")).as("cpp_s"),
        sum(dp.cast("decimal(38,0)")).as("dp_s"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("qty_s").cast("double").as("sum_qty"),
        (col("cents_s").cast("double") / lit(100.0)).as("sum_base_price"),
        (expr("CAST((cp_s + 50) div 100 AS DOUBLE)") / lit(100.0))
          .as("sum_disc_price"),
        (expr("CAST((cpp_s + 5000) div 10000 AS DOUBLE)") / lit(100.0))
          .as("sum_charge"),
        (expr("CAST((2 * qty_s * 1000000 + count_order) div " +
          "(2 * count_order) AS DOUBLE)") / lit(1000000.0)).as("avg_qty"),
        (expr("CAST((2 * cents_s * 10000 + count_order) div " +
          "(2 * count_order) AS DOUBLE)") / lit(1000000.0)).as("avg_price"),
        (expr("CAST((2 * dp_s * 10000 + count_order) div " +
          "(2 * count_order) AS DOUBLE)") / lit(1000000.0)).as("avg_disc"),
        col("count_order"))
  }

  /** TPC-H Q3-style shipping priority: deterministic top-10 unshipped
    * orders by revenue. */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    // orders and customer are fact-sized: no broadcast hints (at 100 TB
    // either would OOM); both joins shuffle on their keys and AQE may
    // still pick broadcast at test scale.
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      // exact cent-percent revenue (the q1Pricing posture). The
      // explicit DECIMAL(38,0) cast is the point, not decoration:
      // exactness must not hinge on floor()'s inferred result type,
      // and the DuckDB oracle sums HUGEINT on its side.
      .agg(sum((floor(col("l_extendedprice") * lit(100.0) + lit(0.5)) *
          (lit(100L) - floor(col("l_discount") * lit(100.0) + lit(0.5))))
          .cast("decimal(38,0)"))
        .as("rev_cp"))
      .withColumn("revenue",
        expr("CAST((rev_cp + 50) div 100 AS DOUBLE)") / lit(100.0))
      .drop("rev_cp")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Top parts by lifetime revenue, with the JOIN-AFTER-CUT plan shape
    * that survives scale: revenue aggregates over lineitem alone (one
    * map-side-combinable hash agg on l_partkey), the top-k cut is a
    * TakeOrdered on the ROUNDED revenue with a partkey tie-break (the
    * es_top_movers total-order discipline — never a global sort, and
    * the cut can't flip on an engine FP ulp), and only the k SURVIVING
    * ids join `part` for their names — a broadcast of k rows against
    * the part scan, where joining part BEFORE the cut would shuffle
    * the whole dimension for rows that are about to be discarded. */
  def partRevenueTopK(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    // EXACT integer revenue, not round(sum(double)): cents(price) ×
    // (100 − pct(discount)) summed as BIGINT cent-percent units —
    // order-independent, so the displayed cents AND the top-k order
    // reproduce bit-exactly at any scale. The round(sum(double))
    // formulation passed both gate scales and landed one cent off at
    // the 2×-inflated third-scale run (r20) — the BM25 half-boundary
    // lesson drawn on the fact table: more addends, more chances the
    // true sum sits within an ulp of a half-cent. Prices and discounts
    // are exact centiles, so floor(x·100 + 0.5) is lossless.
    val revCp = (floor(col("l_extendedprice") * lit(100.0) + lit(0.5)) *
      (lit(100L) - floor(col("l_discount") * lit(100.0) + lit(0.5))))
      .cast("decimal(38,0)")
    val top = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      // DECIMAL(38,0) sum (q1Pricing posture): per-part lifetime
      // cent-percent revenue grows with the corpus; exactness — the
      // whole reason this is integer units — must hold past 2^63 too.
      .agg(sum(revCp).as("rev_cp"), count(lit(1)).as("n_lines"))
      .withColumn("revenue",
        expr("(rev_cp + 50) div 100").cast("double") / lit(100.0))
      .orderBy(col("revenue").desc, col("l_partkey"))
      .limit(k)
    t(spark, dir, "part")
      .join(broadcast(top), col("p_partkey") === col("l_partkey"))
      .select(col("p_partkey").as("partkey"), col("p_name"),
        col("revenue"), col("n_lines"))
  }

  /** TPC-H Q5-style local-supplier revenue per nation within one region. */
  def q5Region(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "AMERICA")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = t(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      // exact cent-percent revenue in DECIMAL(38,0) (the q1Pricing
      // posture: nation-level groups grow with the corpus, so both the
      // FP-summation draw and the BIGINT wrap are real at 100 TB)
      .agg(sum((floor(col("l_extendedprice") * lit(100.0) + lit(0.5)) *
          (lit(100L) - floor(col("l_discount") * lit(100.0) + lit(0.5))))
        .cast("decimal(38,0)")).as("rev_cp"))
      .select(col("n_name"),
        (expr("CAST((rev_cp + 50) div 100 AS DOUBLE)") / lit(100.0))
          .as("revenue"))
  }

  /** Semi/anti join: BUILDING customers who placed at least one order
    * (left_semi = EXISTS) but never a 1-URGENT one (left_anti = NOT
    * EXISTS). Both run as broadcast existence joins — no row
    * multiplication, which is the point of semi/anti at scale. */
  def semiAntiCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    val orders = t(spark, dir, "orders").select("o_custkey", "o_orderpriority")
    cust
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
  }

  /** Conditional-aggregation pivot: events per day × space matrix. */
  def eventPivot(named: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{date_format, timestamp_micros}
    val spaces = Seq("click", "error", "purchase", "signup", "view")
    named
      .groupBy(date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd")
        .as("day"))
      .agg(
        count(lit(1)).as("total"),
        spaces.map(sp =>
          sum(when(col("space") === sp, 1L).otherwise(0L)).as(s"n_$sp")): _*)
  }

  /** Event-log enrichment: entries joined to the customer table (user →
    * customer) and rolled up by a customer attribute — the batch shape of
    * a stream-static enrichment join. No broadcast hint: customer is
    * fact-sized at the 100 TB design point; the join shuffles on the key
    * and AQE broadcasts when it actually fits. */
  def enrichEvents(named: DataFrame, spark: SparkSession,
      dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    named
      .join(cust,
        col("segment").cast("long") === col("c_custkey"))
      .groupBy(col("space"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        graft.sources.EventLog.sumValueExact.as("sum_value"))
  }

  /** TPC-H Q13-style customer distribution: LEFT OUTER join customers to
    * their (filtered) orders, then the histogram of order counts —
    * including the zero-order bucket only an outer join can produce.
    * The double aggregation collapses immediately: the first groupBy is
    * per-customer (map-side combinable after the join), the second runs
    * on at most #distinct-counts rows. No broadcast hints — both sides
    * are fact-sized at the design point. */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select("c_custkey")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Top-3 customers by total order value within each nation. */
  def topCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey")
    val nation = t(spark, dir, "nation").select("n_nationkey", "n_name")
    val ord = t(spark, dir, "orders").select("o_custkey", "o_totalprice")
    val spend = ord
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"), col("c_name"))
      // exact cents (the q1Pricing posture): a lifetime customer spend
      // accumulates unboundedly many orders — summed in DECIMAL(38,0)
      // so exactness never hinges on the inferred integer width
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
            .cast("decimal(38,0)"))
          .as("spend_c"),
        count(lit(1)).as("n_orders"))
      .withColumn("total_spend",
        col("spend_c").cast("double") / lit(100.0))
      .drop("spend_c")
    val w = Window.partitionBy("n_name")
      .orderBy(col("total_spend").desc, col("c_custkey"))
    spend
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }
}
