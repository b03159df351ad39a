package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational operator inventory of SURVEY.md §2.6 — absent by design in
  * the reference (ziggurat is a stateless stream router), declared here as
  * first-class Spark operators and oracle-checked against DuckDB.
  *
  * Every query: deterministic ORDER BY, floats rounded, computed integers
  * cast to long (DuckDB returns BIGINT for row_number/year/etc.), aliases
  * identical between the DataFrame plan and the oracle SQL.
  *
  * Scale notes per query are in each Scaladoc: what shuffles, what broadcasts,
  * what pushes down. Verified with .explain("formatted") — see PlanSpec.
  */
object Relational {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Filter + projection, both pushed into the parquet scan (PushedFilters +
    * ReadSchema prune to 5 of 11 columns). At 100 TB this is the difference
    * between reading ~45% of the table and all of it. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp")
        && col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q01Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** TPC-H Q1-style pricing summary: hash aggregate with map-side partial
    * aggregation (6 groups → tiny shuffle regardless of input size). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q02Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping priority: 3-way join. customer is the small
    * side (1% of lineitem) → explicit broadcast; orders⋈lineitem shuffles on
    * the order key. Top-10 via TakeOrderedAndProject (no full sort). */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    val c = tb.customer.filter(col("c_mktsegment") === "BUILDING")
    val o = tb.orders
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val l = tb.lineitem
      .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      // exact decimal sum, then round: a double sum can land just below a
      // half cent and round down where the exact value rounds up
      .agg(round(sum(col("l_extendedprice").cast("decimal(15,2)")
          * (lit(1) - col("l_discount").cast("decimal(15,2)"))), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q03Sql =
    """SELECT o_orderkey, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |  * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Star-schema rollup: nation and region are tiny dims → broadcast both;
    * zero shuffles on the fact side until the 25-group aggregate. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    tb.customer
      .join(broadcast(tb.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tb.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q04Sql =
    """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join (EXISTS): customers with at least one big order. The
    * semi-join only ships the join key of the right side. */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    val big = tb.orders.filter(col("o_totalprice") > 400000.0)
    tb.customer
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val q05Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no open ('O') order. */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    val open = tb.orders.filter(col("o_orderstatus") === "O")
    tb.customer
      .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val q06Sql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** Ranking window: top-3 orders per customer. One shuffle on the partition
    * key; rank filter is applied before any further stage (Spark pushes
    * row_number limits into the sort via WindowGroupLimit). */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir).orders
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rk"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  private val q07Sql =
    """SELECT o_custkey, o_orderkey, rk, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) ranked
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** Analytic window: running quantity per supplier over ship date. The frame
    * is rows-based with a total order (shipdate, orderkey, linenumber) so the
    * running sum is deterministic. */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir).lineitem
      .filter(col("l_suppkey") <= 5)
      .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 2))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  private val q08Sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
      |FROM lineitem
      |WHERE l_suppkey <= 5
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** Top-k: orderBy+limit compiles to TakeOrderedAndProject — each partition
    * keeps only its local top-25, the driver merges 25×partitions rows. No
    * global sort at any scale. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir).orders
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)

  private val q09Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 25""".stripMargin

  /** Exact relational dedup: DISTINCT = hash aggregate on all columns with
    * map-side partial dedup before the shuffle. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .select(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("ship_year"))

  private val q10Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus,
      |  CAST(year(l_shipdate) AS BIGINT) AS ship_year
      |FROM lineitem
      |ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin

  /** Set operations: INTERSECT + EXCEPT (both compile to aggregate/join
    * pairs; Spark plans them as hash-based semi/anti joins). */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    val withOrders = tb.orders.select(col("o_custkey").as("custkey")).distinct()
    val positive = tb.customer.filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("custkey"))
    val auto = tb.customer.filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("custkey"))
    withOrders.intersect(positive).except(auto).orderBy(col("custkey"))
  }

  private val q11Sql =
    """SELECT custkey FROM (
      |  (SELECT DISTINCT o_custkey AS custkey FROM orders
      |   INTERSECT
      |   SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0)
      |  EXCEPT
      |  SELECT c_custkey AS custkey FROM customer
      |  WHERE c_mktsegment = 'AUTOMOBILE') t
      |ORDER BY custkey""".stripMargin

  /** ROLLUP hierarchy totals (region → nation → grand total). NULL group
    * keys coalesced to 'ALL' so ordering is engine-independent. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    tb.customer
      .join(broadcast(tb.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tb.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("nation"))
  }

  private val q12Sql =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** CUBE over return flag × line status. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("rflag"), col("lstatus"))

  private val q13Sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |  coalesce(l_linestatus, 'ALL') AS lstatus,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY rflag, lstatus""".stripMargin

  /** Exact COUNT(DISTINCT) — expands to a two-phase aggregate. The approx
    * (HLL) variant is in the library (approx_count_distinct) but is not
    * oracle-comparable bit-for-bit, so the declared query uses the exact op. */
  private def q14(s: SparkSession, dir: String): DataFrame =
    t(s, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  private val q14Sql =
    """SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      |  CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Scalar function library: string/math/date functions — all codegen'd
    * built-ins, no UDFs (SURVEY §2.6: the reference has no function library;
    * users write Clojure in handlers — here they are engine primitives). */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir).part
      .select(
        col("p_partkey"),
        upper(col("p_type")).as("type_u"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        length(col("p_name")).cast("long").as("name_len"),
        (col("p_size") % 7).cast("long").as("size_mod"),
        round(col("p_retailprice") * 1.1, 2).as("price_adj"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        abs(col("p_size") - 25).cast("long").as("size_dist"))
      .orderBy(col("p_partkey"))

  private val q15Sql =
    """SELECT p_partkey, upper(p_type) AS type_u, substr(p_name, 1, 8) AS name_pfx,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  CAST(p_size % 7 AS BIGINT) AS size_mod,
      |  round(p_retailprice * 1.1, 2) AS price_adj,
      |  concat_ws('-', p_brand, p_type) AS brand_type,
      |  CAST(abs(p_size - 25) AS BIGINT) AS size_dist
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Conditional aggregation (CASE inside agg) per order year. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir).orders
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        round(sum(when(col("o_totalprice") > 300000.0, col("o_totalprice"))
          .otherwise(0.0)), 2).as("rev_high"),
        sum(when(col("o_totalprice") > 300000.0, 1L).otherwise(0L)).as("n_high"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_filled"))
      .orderBy(col("order_year"))

  private val q16Sql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  round(sum(CASE WHEN o_totalprice > 300000.0 THEN o_totalprice ELSE 0.0 END), 2) AS rev_high,
      |  CAST(sum(CASE WHEN o_totalprice > 300000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
      |FROM orders
      |GROUP BY year(o_orderdate)
      |ORDER BY order_year""".stripMargin

  /** GROUP BY ... HAVING (filter over aggregate). */
  private def q17(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("total"))
      .filter(col("n_items") > 550)
      .orderBy(col("l_suppkey"))

  private val q17Sql =
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem
      |GROUP BY l_suppkey
      |HAVING count(*) > 550
      |ORDER BY l_suppkey""".stripMargin

  /** TPC-H Q17-style correlated aggregate subquery, decorrelated into an
    * aggregate + join (what Catalyst does to the SQL form). Quantities are
    * integral doubles so avg() is bit-exact in both engines. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir).lineitem
    val avgq = li.groupBy(col("l_partkey").as("ap"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(avgq, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  private val q18Sql =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      |FROM lineitem l
      |JOIN (SELECT l_partkey AS ap, avg(l_quantity) AS avg_qty
      |      FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.ap
      |WHERE l.l_quantity < a.avg_qty * 0.5""".stripMargin

  /** Array function library over the embedding vectors: size, min/max,
    * element access, and an in-order fold — the array half of §2.6's scalar
    * inventory (the string/date/math half is q15). */
  private def q19(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        round(array_max(col("embedding")).cast("double"), 4).as("vmax"),
        round(array_min(col("embedding")).cast("double"), 4).as("vmin"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_v"),
        round(expr(
          "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v * v)"),
          4).as("sq_norm"))
      .orderBy(col("vec_id"))

  private val q19Sql =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  round(list_max(embedding)::DOUBLE, 4) AS vmax,
      |  round(list_min(embedding)::DOUBLE, 4) AS vmin,
      |  round(embedding[1]::DOUBLE, 4) AS first_v,
      |  round(list_sum(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE)), 4)
      |    AS sq_norm
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** UNION ALL + deduplicating UNION over heterogeneous key sources. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val tb = Tables(s, dir)
    val a = tb.customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val b = tb.orders.filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey").as("custkey"))
    a.unionAll(b)
      .groupBy(col("custkey")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("custkey"))
  }

  private val q34Sql =
    """SELECT custkey, CAST(count(*) AS BIGINT) AS n_occurrences FROM (
      |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0) u
      |GROUP BY custkey
      |ORDER BY custkey""".stripMargin

  /** Date/time function library over orders (year/month/day, trunc,
    * datediff, date_add, last_day, day-of-week). */
  private def q35(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .filter(col("o_orderkey") <= 500)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        unix_millis(date_trunc("month", col("o_orderdate")).cast("timestamp"))
          .as("month_start_ms"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"),
        unix_millis((col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .cast("timestamp")).as("plus_30d_ms"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .orderBy(col("o_orderkey"))

  private val q35Sql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS d,
      |  epoch_ms(date_trunc('month', o_orderdate)::TIMESTAMP) AS month_start_ms,
      |  CAST(date_diff('day', o_orderdate::DATE, DATE '2002-01-01') AS BIGINT)
      |    AS days_to_2002,
      |  epoch_ms(o_orderdate + INTERVAL 30 DAY) AS plus_30d_ms,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  /** Pattern matching: LIKE, regexp match/extract/replace/count over the
    * events JSON payloads (simple character-class patterns — identical
    * semantics in Java regex and DuckDB's RE2). */
  private def q36(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .select(
        col("event_id"),
        col("props").like("%9%").as("has_nine"),
        col("props").rlike("[0-9]{2}").as("two_digits"),
        regexp_extract(col("props"), "[0-9]+", 0).as("first_number"),
        regexp_replace(col("props"), "[0-9]", "#").as("masked"),
        size(expr("regexp_extract_all(props, '[0-9]', 0)")).cast("long")
          .as("n_digits"))
      .orderBy(col("event_id"))

  private val q36Sql =
    """SELECT event_id,
      |  props LIKE '%9%' AS has_nine,
      |  regexp_matches(props, '[0-9]{2}') AS two_digits,
      |  coalesce(regexp_extract(props, '[0-9]+'), '') AS first_number,
      |  regexp_replace(props, '[0-9]', '#', 'g') AS masked,
      |  CAST(len(regexp_extract_all(props, '[0-9]')) AS BIGINT) AS n_digits
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Map-type columns: construction, key/value access, cardinality — the
    * map half of the §2.6 type surface (array half is q19). */
  private def q37(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).part
      .withColumn("m", map(lit("brand"), col("p_brand"),
        lit("type"), col("p_type")))
      .select(
        col("p_partkey"),
        element_at(col("m"), "brand").as("brand_v"),
        element_at(col("m"), "type").as("type_v"),
        size(col("m")).cast("long").as("m_size"),
        array_join(map_keys(col("m")), ",").as("keys_joined"))
      .orderBy(col("p_partkey"))

  private val q37Sql =
    """SELECT p_partkey,
      |  (m['brand'])[1] AS brand_v,
      |  (m['type'])[1] AS type_v,
      |  CAST(cardinality(m) AS BIGINT) AS m_size,
      |  array_to_string(map_keys(m), ',') AS keys_joined
      |FROM (SELECT p_partkey,
      |    MAP {'brand': p_brand, 'type': p_type} AS m
      |  FROM part) t
      |ORDER BY p_partkey""".stripMargin

  /** TPC-H Q4-style correlated EXISTS with aggregation: orders having at
    * least one late-shipped line (l_shipdate > o_orderdate + 90 days),
    * counted per priority. Catalyst decorrelates the EXISTS into a
    * left-semi join on the order key — here declared directly as the
    * semi-join + aggregate it becomes. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    val late = tb.lineitem.select(col("l_orderkey"), col("l_shipdate"))
    tb.orders
      .join(late,
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  private val q38Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Scalar subquery in the projection (global average joined to every
    * row), exercised through the SQL API so Catalyst's scalar-subquery
    * planning (ReuseSubquery + broadcast of the 1-row aggregate) is what
    * runs — no hand decorrelation. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    // per-call unique view name: the query definition stays re-entrant —
    // concurrent/interleaved runs in one session never see each other's
    // registration (a fixed global name would cross-contaminate them)
    val v = s"sq_orders_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    t(s, dir).orders.createOrReplaceTempView(v)
    // drop after the eager sql() analysis — the resolved plan no longer
    // needs the catalog entry, and a per-call UUID view would otherwise
    // leak one entry per run
    try s.sql(
      s"""SELECT o_orderkey, o_totalprice,
         |  round(o_totalprice - (SELECT avg(o_totalprice) FROM $v), 2)
         |    AS delta_from_avg
         |FROM $v
         |WHERE o_orderkey <= 200
         |ORDER BY o_orderkey""".stripMargin)
    finally s.catalog.dropTempView(v)
  }

  private val q39Sql =
    """SELECT o_orderkey, o_totalprice,
      |  round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 2)
      |    AS delta_from_avg
      |FROM orders
      |WHERE o_orderkey <= 200
      |ORDER BY o_orderkey""".stripMargin

  /** Null-aware anti join: NOT IN over a subquery — semantically distinct
    * from NOT EXISTS (one NULL in the subquery empties the result), planned
    * by Spark as BroadcastHashJoin with isNullAwareAntiJoin (the
    * single-column null-aware path). Declared through the SQL API so the
    * null-aware planning itself is what runs. The probe list here is
    * null-free (keys are PKs), so both engines return the plain anti set —
    * exercising the operator without the degenerate empty-result case. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    // per-call unique view names — same re-entrancy rule as q39
    val sfx = java.util.UUID.randomUUID.toString.replace("-", "")
    val (vc, vo) = (s"na_customer_$sfx", s"na_orders_$sfx")
    tb.customer.createOrReplaceTempView(vc)
    tb.orders.createOrReplaceTempView(vo)
    try s.sql(
      s"""SELECT c_custkey, c_name FROM $vc
         |WHERE c_custkey NOT IN
         |  (SELECT o_custkey FROM $vo WHERE o_totalprice > 450000.0)
         |ORDER BY c_custkey""".stripMargin)
    finally {
      s.catalog.dropTempView(vc)
      s.catalog.dropTempView(vo)
    }
  }

  private val q40Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Unpivot / melt — the wide→long reshape (Dataset.unpivot, the inverse
    * of a05's pivot): per-brand part metrics melt into (brand, metric,
    * value) rows. Compiles to a single Expand over the aggregate output —
    * one pass, rows × #metrics, no join and no extra shuffle beyond the
    * aggregate itself; at 100 TB the reshape adds zero exchanges. Metrics
    * are cast to one type (double, rounded) as the long format requires. */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir).part
      .groupBy(col("p_brand"))
      .agg(round(count(lit(1)).cast("double"), 4).as("n_parts"),
        round(avg(col("p_size")), 4).as("avg_size"),
        round(avg(col("p_retailprice")), 4).as("avg_retail"))
    agg.unpivot(
        Array(col("p_brand")),
        Array(col("n_parts"), col("avg_size"), col("avg_retail")),
        "metric", "value")
      .orderBy(col("p_brand"), col("metric"))
  }

  private val q42Sql =
    """WITH a AS (
      |  SELECT p_brand,
      |    round(CAST(count(*) AS DOUBLE), 4) AS n_parts,
      |    round(avg(p_size), 4) AS avg_size,
      |    round(avg(p_retailprice), 4) AS avg_retail
      |  FROM part GROUP BY p_brand)
      |SELECT p_brand, metric, value FROM (
      |  SELECT p_brand, 'n_parts' AS metric, n_parts AS value FROM a
      |  UNION ALL
      |  SELECT p_brand, 'avg_size' AS metric, avg_size AS value FROM a
      |  UNION ALL
      |  SELECT p_brand, 'avg_retail' AS metric, avg_retail AS value FROM a) u
      |ORDER BY p_brand, metric""".stripMargin

  /** MERGE / SCD-2 dimension upsert expressed as a relational plan — the
    * warehouse maintenance pattern (Delta/Iceberg `MERGE INTO`) on plain
    * DataFrames: a change batch (here: a deterministic slice of customers
    * with a re-derived segment) merged into the current dimension, emitting
    * the new dimension version where every row is tagged `kept` /
    * `updated` / `inserted` and updated rows carry a bumped version.
    *
    * Scale design: one keyed equi-join (full outer on the business key)
    * between the dimension and the (usually far smaller — broadcastable)
    * change batch; row-status is row-local CASE logic. No global
    * structure; at 100 TB this is the same one-shuffle (or
    * broadcast-free) shape MERGE compiles to under Delta, minus the
    * transactional file rewrite, which is the table format's job, not the
    * plan's. The streaming twin (UpsertSinkSpec) applies the same
    * per-batch merge idempotently from `foreachBatch`. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"), lit(1L).as("version"))
    // change batch: every 7th customer moves to a recomputed segment, and
    // synthetic new business keys arrive above the current key space
    val updates = t(s, dir).customer
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        concat(lit("SEG_"), (col("c_custkey") % 3).cast("string"))
          .as("new_segment"))
      .unionByName(
        t(s, dir).customer.filter(col("c_custkey") % 997 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("SEG_NEW").as("new_segment")))
    dim.join(updates, Seq("c_custkey"), "full_outer")
      .select(
        col("c_custkey"),
        coalesce(col("new_segment"), col("c_mktsegment")).as("segment"),
        when(col("new_segment").isNull, lit("kept"))
          .when(col("c_mktsegment").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("row_status"),
        when(col("new_segment").isNull, col("version"))
          .when(col("c_mktsegment").isNull, lit(1L))
          .otherwise(col("version") + 1L).as("version"))
      .orderBy(col("c_custkey"))
  }

  private val q46Sql =
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment, CAST(1 AS BIGINT) AS version
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey, concat('SEG_', CAST(c_custkey % 3 AS VARCHAR))
      |    AS new_segment
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000 AS c_custkey, 'SEG_NEW' AS new_segment
      |  FROM customer WHERE c_custkey % 997 = 0)
      |SELECT coalesce(dim.c_custkey, upd.c_custkey) AS c_custkey,
      |  coalesce(upd.new_segment, dim.c_mktsegment) AS segment,
      |  CASE WHEN upd.new_segment IS NULL THEN 'kept'
      |    WHEN dim.c_mktsegment IS NULL THEN 'inserted'
      |    ELSE 'updated' END AS row_status,
      |  CAST(CASE WHEN upd.new_segment IS NULL THEN dim.version
      |    WHEN dim.c_mktsegment IS NULL THEN 1
      |    ELSE dim.version + 1 END AS BIGINT) AS version
      |FROM dim FULL OUTER JOIN upd ON dim.c_custkey = upd.c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** LISTAGG / string_agg — ordered string concatenation per group, the
    * BI staple (labels, breadcrumbs, error rollups). Determinism demands
    * an explicit element order: collect_set gathers partition-order-free,
    * array_sort fixes the order, array_join renders — so the same string
    * materializes on any partitioning (the DuckDB twin orders inside
    * string_agg).
    *
    * Scale note: group payload is the DISTINCT value set (here ≤5 segment
    * names per nation) — listagg over high-cardinality payloads belongs
    * behind a top-k cut (q09's TakeOrdered shape) or it re-creates the
    * group-blowup problem no engine can save you from. */
  private def q47(s: SparkSession, dir: String): DataFrame =
    t(s, dir).customer
      .groupBy(col("c_nationkey"))
      .agg(
        array_join(array_sort(collect_set(col("c_mktsegment"))), ",")
          .as("segments"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))

  private val q47Sql =
    """SELECT c_nationkey,
      |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
      |    AS segments,
      |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
      |  CAST(count(*) AS BIGINT) AS n_customers
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Relational division ("for all"): users who performed EVERY event type
    * — the textbook ÷ operator (suppliers-who-supply-all-parts), absent
    * from SQL as a primitive and routinely mis-written as nested NOT
    * EXISTS pairs that plan two correlated anti-joins.
    *
    * Scale form: one distinct (user, type) reduction, one count aggregate
    * per user, compared against the global type count (a 1-row broadcast)
    * — two keyed shuffles, no correlated subquery, no anti-join at all.
    * Also reports each user's event total so the row is more than a bare
    * id list. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    // period-scoped (pushed into the scan): over the full month every user
    // hits every type, making the division vacuous; the first three days
    // leave a real divide at every SF (3/15 users at sf0.001, 38/150 at
    // sf0.01, 316/1500 at sf0.1)
    val ev = t(s, dir).events
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
    val nTypes = ev.agg(countDistinct(col("event_type")).as("n_types"))
    ev.groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("types_hit"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(nTypes))
      .filter(col("types_hit") === col("n_types"))
      .select(col("user_id"), col("types_hit"), col("n_events"))
      .orderBy(col("user_id"))
  }

  private val q49Sql =
    """WITH e AS (
      |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-04'),
      |nt AS (
      |  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      |  FROM e)
      |SELECT user_id,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS types_hit,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM e, nt
      |GROUP BY user_id, nt.n_types
      |HAVING count(DISTINCT event_type) = nt.n_types
      |ORDER BY user_id""".stripMargin

  /** Join-key skew profile — the audit a 100 TB deployment runs BEFORE a
    * fact-fact join to pick its strategy: the multiplicity distribution of
    * the join key, as a floor-log2 histogram (bucket b holds keys matched
    * by [2^b, 2^(b+1)) fact rows) plus each bucket's row mass and worst
    * key. Read it as: all mass in buckets 0-3 → plain shuffle join; a
    * long tail → AQE skew split; a few catastrophic keys → salt exactly
    * those ([[SkewTools.saltedJoin]]) or route them to a broadcast
    * side-channel. The profile itself is two keyed aggregates — per-key
    * count with map-side partials, then the constant-size bucket rollup —
    * O(corpus) with one shuffle, so it is cheap enough to run as a
    * pre-flight on every large join.
    *
    * floor-log2 via `length(bin(c)) - 1` — exact in both engines (the
    * same discipline as t10/t11's surprisal bits). */
  private def q51(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("c"))
      .withColumn("bucket", (length(expr("bin(c)")) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_multiplicity"))
      .orderBy(col("bucket"))

  private val q51Sql =
    """WITH k AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT CAST(len(bin(c)) - 1 AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(max(c) AS BIGINT) AS max_multiplicity
      |FROM k GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Join-cardinality pre-flight — q51's companion: the EXACT output size
    * a key-equi-join would produce, computed WITHOUT running the join.
    * |A ⋈ B| = Σ_k cA(k)·cB(k), so two per-key count aggregates plus a
    * count-table join (rows = distinct keys, not fact rows) price the
    * join at a fraction of its cost — the "will this explode" check a
    * 100 TB deployment runs before committing a fact-fact join, with the
    * worst key named (the salting target if its share is pathological).
    * All counts exact integers; deterministic worst key via the
    * (contribution, key) total order. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir).lineitem
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val o = t(s, dir).orders
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    l.join(o, "k")
      .select(col("k"), (col("ca") * col("cb")).as("contrib"))
      .agg(count(lit(1)).as("n_common_keys"),
        sum(col("contrib")).as("est_join_rows"),
        max(col("contrib")).as("max_key_rows"),
        max_by(col("k"), struct(col("contrib"), col("k"))).as("worst_key"))
  }

  private val q52Sql =
    """WITH a AS (
      |  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT a.k, ca * cb AS contrib FROM a JOIN b ON b.k = a.k)
      |SELECT CAST(count(*) AS BIGINT) AS n_common_keys,
      |  CAST(sum(contrib) AS BIGINT) AS est_join_rows,
      |  CAST(max(contrib) AS BIGINT) AS max_key_rows,
      |  (SELECT k FROM c ORDER BY contrib DESC, k DESC LIMIT 1)
      |    AS worst_key
      |FROM c""".stripMargin

  /** Referential-integrity audit — p17's contract discipline applied to
    * the JOIN GRAPH: for every foreign-key edge of the star schema, the
    * count of child rows whose key has no parent (orphans) plus the
    * child's row count — the pre-join health check that explains
    * downstream row-count drops before anyone debugs a 20-way join at
    * 100 TB. Each edge is one left-anti-style aggregate: the child
    * aggregates to its DISTINCT key set first where keys repeat heavily
    * (lineitem), so the anti probe joins |keys| rows, not |child| rows;
    * parents broadcast (dimension-sized). Orphan rows (not just keys)
    * come from weighting each missing key by its multiplicity. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val keyCounts = child.groupBy(col(childKey).as("k"))
        .agg(count(lit(1)).as("n"))
      val orphans = keyCounts
        .join(broadcast(parent.select(col(parentKey).as("pk")).distinct()),
          col("k") === col("pk"), "left_anti")
      val totals = keyCounts.agg(sum(col("n")).as("n_child"))
      orphans.agg(coalesce(sum(col("n")), lit(0L)).as("orphan_rows"),
          count(lit(1)).as("orphan_keys"))
        .crossJoin(broadcast(totals))
        .select(lit(name).as("fk_edge"), col("n_child"),
          col("orphan_keys"), col("orphan_rows"),
          (col("orphan_rows") === 0L).as("intact"))
    }
    edge("customer->nation", tb.customer, "c_nationkey", tb.nation,
        "n_nationkey")
      .unionAll(edge("lineitem->orders", tb.lineitem, "l_orderkey",
        tb.orders, "o_orderkey"))
      .unionAll(edge("lineitem->part", tb.lineitem, "l_partkey",
        tb.part, "p_partkey"))
      .unionAll(edge("nation->region", tb.nation, "n_regionkey",
        tb.region, "r_regionkey"))
      .unionAll(edge("orders->customer", tb.orders, "o_custkey",
        tb.customer, "c_custkey"))
      .unionAll(edge("supplier->nation", tb.supplier, "s_nationkey",
        tb.nation, "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  private val q53Sql = {
    def edge(name: String, child: String, ck: String,
        parent: String, pk: String): String =
      s"""SELECT '$name' AS fk_edge,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
         |  CAST(count(*) AS BIGINT) AS orphan_keys,
         |  CAST(coalesce(sum(n), 0) AS BIGINT) AS orphan_rows,
         |  coalesce(sum(n), 0) = 0 AS intact
         |FROM (
         |  SELECT $ck AS k, count(*) AS n FROM $child GROUP BY $ck) kc
         |WHERE k NOT IN (SELECT $pk FROM $parent)""".stripMargin
    Seq(
      edge("customer->nation", "customer", "c_nationkey", "nation",
        "n_nationkey"),
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders",
        "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("nation->region", "nation", "n_regionkey", "region",
        "r_regionkey"),
      edge("orders->customer", "orders", "o_custkey", "customer",
        "c_custkey"),
      edge("supplier->nation", "supplier", "s_nationkey", "nation",
        "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q01_filter_project" -> QueryDef(q01, Some(q01Sql)),
    "q02_agg_pricing" -> QueryDef(q02, Some(q02Sql), headline = true),
    "q03_join_revenue" -> QueryDef(q03, Some(q03Sql), headline = true),
    "q04_broadcast_star" -> QueryDef(q04, Some(q04Sql)),
    "q05_semi_join" -> QueryDef(q05, Some(q05Sql)),
    "q06_anti_join" -> QueryDef(q06, Some(q06Sql)),
    "q07_window_rank" -> QueryDef(q07, Some(q07Sql), headline = true),
    "q08_window_running" -> QueryDef(q08, Some(q08Sql)),
    "q09_topk" -> QueryDef(q09, Some(q09Sql), headline = true),
    "q10_distinct" -> QueryDef(q10, Some(q10Sql)),
    "q11_set_ops" -> QueryDef(q11, Some(q11Sql)),
    "q12_rollup" -> QueryDef(q12, Some(q12Sql)),
    "q13_cube" -> QueryDef(q13, Some(q13Sql)),
    "q14_count_distinct" -> QueryDef(q14, Some(q14Sql)),
    "q15_scalar_funcs" -> QueryDef(q15, Some(q15Sql)),
    "q16_conditional_agg" -> QueryDef(q16, Some(q16Sql)),
    "q17_having" -> QueryDef(q17, Some(q17Sql)),
    "q18_avg_subquery" -> QueryDef(q18, Some(q18Sql), headline = true),
    "q19_array_funcs" -> QueryDef(q19, Some(q19Sql)),
    "q34_union_all" -> QueryDef(q34, Some(q34Sql)),
    "q35_date_funcs" -> QueryDef(q35, Some(q35Sql)),
    "q36_string_match" -> QueryDef(q36, Some(q36Sql)),
    "q37_map_funcs" -> QueryDef(q37, Some(q37Sql)),
    "q38_exists_agg" -> QueryDef(q38, Some(q38Sql)),
    "q39_scalar_subquery" -> QueryDef(q39, Some(q39Sql)),
    "q40_not_in_null_aware" -> QueryDef(q40, Some(q40Sql)),
    "q42_unpivot" -> QueryDef(q42, Some(q42Sql)),
    "q46_scd2_upsert" -> QueryDef(q46, Some(q46Sql)),
    "q47_listagg" -> QueryDef(q47, Some(q47Sql)),
    "q49_relational_division" -> QueryDef(q49, Some(q49Sql)),
    "q51_join_skew_profile" -> QueryDef(q51, Some(q51Sql)),
    "q52_join_cardinality_preflight" -> QueryDef(q52, Some(q52Sql), headline = true),
    "q53_fk_orphans" -> QueryDef(q53, Some(q53Sql)),
  )
}
