package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational operator surface — SURVEY.md §2.1/§2.2 parity, Spark-first.
  *
  * Each entry is one logical operator (or operator combination) from the
  * reference's PrePOp set (`fpdb-plan/include/fpdb/plan/prephysical/
  * PrePOpType.h:10-21`), expressed as a declarative DataFrame plan so
  * Catalyst supplies pushdown, pruning, partial aggregation, and join
  * strategy selection (SURVEY.md §4). Queries are TPC-H-derived
  * (`resources/query/tpch/original/NN.sql`) adapted to the TESTDATA.md schema.
  *
  * Conventions:
  *  - every computed column is aliased identically in the DataFrame plan and
  *    in the DuckDB oracle SQL (driver hash-compares by column name);
  *  - every query ends in a total ORDER BY so row order is deterministic;
  *  - dimension tables that stay small at any scale factor (region, nation)
  *    are broadcast explicitly; everything else is left to AQE so the plan
  *    survives a 100x scale-up.
  */
object Relational {

  /** TPC-H Q1: group-by aggregation with partial/final phases and AVG
    * decomposition (reference: GroupPOp + Sum/Avg partials,
    * `transform/PrePToPTransformerUtil.cpp:62-124`). */
  private def q01GroupAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread by hand: graft.plans.SpreadScans refuses this site by (b), the
    // double sum and avgs above the scan (this exchange predates the rule and
    // q01's oracle rows are pinned with it); r17 measured 0.92 → 0.81 s
    // spread, r20 q01 1.14 s with the call, 1.01 s without.
    Tables.spread(Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        Tables.exactSum($"l_extendedprice").as("sum_base_price"),
        Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        avg($"l_quantity").as("avg_qty"),
        avg($"l_extendedprice").as("avg_price"),
        avg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
      |  avg(l_quantity) AS avg_qty,
      |  avg(l_extendedprice) AS avg_price,
      |  avg(l_discount) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6: scalar aggregation, no group keys (reference: AggregatePOp
    * partial -> Reduce final, `transform/PrePToPTransformer.cpp:222-305`).
    * The range + equality predicates reach the parquet scan as PushedFilters.
    */
  private def q02ScalarAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter(
        $"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24.0)
      .agg(
        Tables.exactSum($"l_extendedprice" * $"l_discount").as("revenue"),
        count(lit(1)).as("n_rows"),
        min($"l_quantity").as("min_qty"),
        max($"l_extendedprice").as("max_price"))
  }

  private val q02Sql =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      |  count(*) AS n_rows,
      |  min(l_quantity) AS min_qty,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""".stripMargin

  /** Filter + project with computed expression (FilterableScanPrePOp +
    * ProjectPrePOp): predicate and column pruning must reach the scan. */
  private def q03FilterProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_quantity" > 45.0 && $"l_returnflag" === "R")
      .select(
        $"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("net_price"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val q03Sql =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS net_price
      |FROM lineitem
      |WHERE l_quantity > 45.0 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** TPC-H Q3 (adapted): multi-way equi hash join + group + top-K
    * (HashJoinPrePOp, GroupPrePOp, LimitSortPrePOp). customer/orders join is
    * shuffle/broadcast per AQE stats; the final sort+limit fuses into
    * TakeOrderedAndProject. */
  private def q04JoinTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter($"l_shipdate" > lit("1998-03-15").cast("timestamp"))
    cust.join(ord, $"c_custkey" === $"o_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
      .limit(10)
  }

  private val q04Sql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style star join: region -> nation -> customer -> orders ->
    * lineitem, with broadcast of the always-small dims. Exercises the
    * SSB-style co-located star-join shape the reference pushes storage-side
    * (`SeparableTraits.cpp:19-27`). */
  private def q05StarJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val region = Tables.region(s, dir).filter($"r_name" === "ASIA")
    val nation = Tables.nation(s, dir)
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir).filter(
      $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
      $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  private val q05Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** LEFT OUTER join (HashJoinPrePOp type LEFT + OuterJoinHelper):
    * customers with their order counts, keeping order-less customers. */
  private def q06LeftJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir).filter($"o_totalprice" > 100000.0)
    cust.join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_name")
      .agg(count($"o_orderkey").as("n_big_orders"))
      .orderBy($"c_custkey")
  }

  private val q06Sql =
    """SELECT c_custkey, c_name, count(o_orderkey) AS n_big_orders
      |FROM customer LEFT JOIN orders
      |  ON c_custkey = o_custkey AND o_totalprice > 100000.0
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin

  /** RIGHT OUTER join (reference JoinType RIGHT, `JoinType.h:13-20`). */
  private def q07RightJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
    val cust = Tables.customer(s, dir)
    ord.join(cust, $"o_custkey" === $"c_custkey", "right")
      .groupBy($"c_nationkey")
      .agg(
        count($"o_orderkey").as("n_f_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy($"c_nationkey")
  }

  private val q07Sql =
    """SELECT c_nationkey, count(o_orderkey) AS n_f_orders, count(*) AS n_rows
      |FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
      |  RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** FULL OUTER join on disjoint-ish key ranges (reference JoinType FULL). */
  private def q08FullJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hi = Tables.orders(s, dir).filter($"o_totalprice" > 250000.0)
      .select($"o_orderkey".as("hi_key"), $"o_totalprice".as("hi_price"))
    val pri = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey".as("pri_key"), $"o_totalprice".as("pri_price"))
    hi.join(pri, $"hi_key" === $"pri_key", "full")
      .select(
        coalesce($"hi_key", $"pri_key").as("okey"),
        $"hi_price", $"pri_price")
      .orderBy($"okey")
  }

  private val q08Sql =
    """SELECT coalesce(hi_key, pri_key) AS okey, hi_price, pri_price
      |FROM (SELECT o_orderkey AS hi_key, o_totalprice AS hi_price
      |      FROM orders WHERE o_totalprice > 250000.0) hi
      |FULL JOIN (SELECT o_orderkey AS pri_key, o_totalprice AS pri_price
      |           FROM orders WHERE o_orderpriority = '1-URGENT') pri
      |  ON hi_key = pri_key
      |ORDER BY okey""".stripMargin

  /** LEFT SEMI join (HashSemiJoinProbeKernel): customers having at least one
    * urgent order — EXISTS semantics without row duplication. */
  private def q09SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
    cust.join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  private val q09Sql =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** LEFT ANTI join (NOT EXISTS) — negative space in the reference (it has
    * no ANTI type) but free in Spark; included for pipeline completeness. */
  private def q10AntiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir).filter($"o_totalprice" > 450000.0)
    cust.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  private val q10Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Nested-loop theta join (NestedLoopJoinPOp): non-equi predicate, planned
    * as BroadcastNestedLoopJoin with the tiny side broadcast. Kept
    * deliberately small-output: parts priced above every part in their own
    * brand's top size class. */
  private def q11ThetaJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, dir)
    val brandMax = p.groupBy($"p_brand".as("b_brand"))
      .agg(max($"p_size").as("b_max_size"))
    p.join(broadcast(brandMax),
        $"p_brand" === $"b_brand" && $"p_size" < $"b_max_size" - lit(40))
      .select($"p_partkey", $"p_brand", $"p_size", $"b_max_size")
      .orderBy($"p_partkey")
  }

  private val q11Sql =
    """SELECT p_partkey, p_brand, p_size, b_max_size
      |FROM part JOIN (SELECT p_brand AS b_brand, max(p_size) AS b_max_size
      |                FROM part GROUP BY p_brand) b
      |  ON p_brand = b_brand AND p_size < b_max_size - 40
      |ORDER BY p_partkey""".stripMargin

  /** Cross join (EnumerableNestedLoopJoin with TRUE predicate) on two tiny
    * dims — the only safe cardinality for a cartesian product at any scale. */
  private def q12CrossJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Tables.region(s, dir).select($"r_regionkey", $"r_name")
    val n = Tables.nation(s, dir).select($"n_nationkey", $"n_name")
    r.crossJoin(n)
      .select($"r_regionkey", $"r_name", $"n_nationkey", $"n_name")
      .orderBy($"r_regionkey", $"n_nationkey")
  }

  private val q12Sql =
    """SELECT r_regionkey, r_name, n_nationkey, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  /** Multi-key sort, mixed ASC/DESC (SortPrePOp `:518-542`) — distributed
    * range-partitioned SortExec replaces the reference's buffer-all sort. */
  private def q13SortMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, dir)
      .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
      .orderBy($"s_nationkey".asc, $"s_acctbal".desc, $"s_suppkey".asc)
  }

  private val q13Sql =
    """SELECT s_suppkey, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_nationkey ASC, s_acctbal DESC, s_suppkey ASC""".stripMargin

  /** Top-K (LimitSortPrePOp -> TakeOrderedAndProjectExec — verify in the
    * physical plan, SURVEY.md §4.2). */
  private def q14TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(25)
  }

  private val q14Sql =
    """SELECT o_orderkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin

  /** Scalar expression surface (SURVEY.md §2.3): IN, LIKE, SUBSTR, CASE,
    * date EXTRACT + arithmetic, CAST, IS NULL — all Catalyst built-ins. */
  private def q15Expressions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_brand".isin("Brand#1", "Brand#11", "Brand#22") &&
        $"p_type".like("S%"))
      .select(
        $"p_partkey",
        substring($"p_name", 1, 8).as("name_prefix"),
        when($"p_size" >= 25, "LARGE").otherwise("SMALL").as("size_class"),
        $"p_size".cast("double").as("size_d"),
        $"p_retailprice".isNull.as("price_is_null"))
      .orderBy($"p_partkey")
  }

  private val q15Sql =
    """SELECT p_partkey,
      |  substring(p_name, 1, 8) AS name_prefix,
      |  CASE WHEN p_size >= 25 THEN 'LARGE' ELSE 'SMALL' END AS size_class,
      |  CAST(p_size AS DOUBLE) AS size_d,
      |  p_retailprice IS NULL AS price_is_null
      |FROM part
      |WHERE p_brand IN ('Brand#1','Brand#11','Brand#22')
      |  AND p_type LIKE 'S%'
      |ORDER BY p_partkey""".stripMargin

  /** Date arithmetic + EXTRACT (DateAdd/DateExtract,
    * `fpdb-expression-gandiva/include/fpdb/expression/gandiva/DateAdd.h`):
    * ship-year revenue with an interval-shifted cutoff. */
  private def q16DateOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= add_months(lit("1995-06-01").cast("date"), -17).cast("timestamp"))
      .groupBy(year($"l_shipdate").as("ship_year"), month($"l_shipdate").as("ship_month"))
      .agg(Tables.exactSum($"l_extendedprice").as("gross"), count(lit(1)).as("n"))
      .orderBy($"ship_year", $"ship_month")
  }

  private val q16Sql =
    """SELECT EXTRACT(year FROM l_shipdate) AS ship_year,
      |  EXTRACT(month FROM l_shipdate) AS ship_month,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS gross, count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= CAST(DATE '1995-06-01' - INTERVAL 17 MONTH AS TIMESTAMP)
      |GROUP BY 1, 2
      |ORDER BY ship_year, ship_month""".stripMargin

  /** DISTINCT (negative space in the reference — no DISTINCT aggregates —
    * but table stakes for a pipeline engine). Includes count(distinct). */
  private def q17Distinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_orderpriority").as("n_priorities"),
        countDistinct($"o_custkey").as("n_custs"))
      .orderBy($"o_orderstatus")
  }

  private val q17Sql =
    """SELECT o_orderstatus,
      |  count(DISTINCT o_orderpriority) AS n_priorities,
      |  count(DISTINCT o_custkey) AS n_custs
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** UNION ALL + dedup union (set ops — negative space in the reference,
    * `SURVEY.md §2.1`, free in Spark). */
  private def q18Union(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, dir).filter($"o_totalprice" > 300000.0)
      .select($"o_custkey")
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    big.union(urgent).distinct()
      .orderBy($"o_custkey")
  }

  private val q18Sql =
    """SELECT DISTINCT o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
      |  UNION ALL
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') u
      |ORDER BY o_custkey""".stripMargin

  /** Window functions (negative space in the reference; core for pipelines):
    * rank orders per customer by price, keep top-2 (row_number) plus a
    * running sum. */
  private def q19Window(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("run_sum", sum($"o_totalprice")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn", $"run_sum")
      .orderBy($"o_custkey", $"rn")
  }

  private val q19Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn, run_sum FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER w AS rn,
      |    sum(o_totalprice) OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) t WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  /** q48 — the rest of the window-function family in one plan: lag/lead
    * (neighbor access), ntile (equi-depth bucketing), percent_rank and
    * cume_dist (relative standing) over the per-customer order history —
    * q19 covers row_number + running frames; together the two span the
    * ranking/offset/distribution classes. One shuffle on the partition
    * key serves all five functions (same window spec → one Window node);
    * at scale this is the canonical "per-entity history" pass, skew =
    * hottest customer. Bounded to custkey < 100 to keep the oracle diff
    * readable. */
  private def q48WindowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, dir)
      .filter($"o_custkey" < 100)
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_price", lead($"o_totalprice", 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        $"prev_price", $"next_price", $"quartile", $"pr", $"cd")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q48Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q49 — PIVOT: long-to-wide reshaping with EXPLICIT pivot values
    * (groupBy.pivot(col, values)) — with the value list given, Spark
    * plans ONE aggregate pass with no discovery pre-query, the form that
    * scales (value-discovery pivot runs a distinct scan first and breaks
    * at high cardinality). The oracle states the same reshape as
    * conditional aggregation — what PIVOT desugars to in both engines. */
  private def q49Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum($"l_quantity"))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
      .orderBy($"l_linestatus")
  }

  private val q49Sql =
    """SELECT l_linestatus,
      |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
      |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
      |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q12-style: join + conditional aggregation (CASE inside SUM —
    * agg over arbitrary expression, deserializer `:618-641`). */
  private def q20CondAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).filter(
      $"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
      $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!$"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  private val q20Sql =
    """SELECT l_returnflag,
      |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
      |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q13-style: left join + double aggregation (group on the grouped
    * result) — two shuffle stages, the second tiny. */
  private def q21DoubleAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir)
    cust.join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  private val q21Sql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15-style: agg subquery joined back on its own max (scalar
    * subquery via join — the reference gets this through Calcite
    * decorrelation, `Optimizer.java:129-141`). */
  private def q22SubqueryMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_revenue"))
    val maxRev = rev.agg(max($"total_revenue").as("max_revenue"))
    val sup = Tables.supplier(s, dir)
    sup.join(rev, $"s_suppkey" === $"l_suppkey")
      .join(broadcast(maxRev), $"total_revenue" === $"max_revenue")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  private val q22Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey, CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q14-style: promo revenue percentage — join part + conditional
    * agg ratio (Avg-style sum/sum division, two-phase). */
  private def q23PromoRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).filter(
      $"l_shipdate" >= lit("1995-09-01").cast("timestamp") &&
      $"l_shipdate" < lit("1995-10-01").cast("timestamp"))
    val p = Tables.part(s, dir)
    li.join(p, $"l_partkey" === $"p_partkey")
      .agg((lit(100.0) *
        Tables.exactSum(when($"p_type".like("PROMO%"), $"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .otherwise(0.0)) /
        Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("promo_revenue"))
  }

  private val q23Sql =
    """SELECT 100.0 * CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE) /
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin

  /** TPC-H Q17-style: correlated scalar-average subquery (decorrelated to a
    * join): revenue of small-quantity orders vs per-part average. */
  private def q24CorrelatedAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val partAvg = li.groupBy($"l_partkey".as("ap_partkey"))
      .agg((avg($"l_quantity") * 0.5).as("half_avg_qty"))
    val brand = Tables.part(s, dir).filter($"p_brand" === "Brand#23")
    li.join(broadcast(brand), $"l_partkey" === $"p_partkey")
      .join(partAvg, $"l_partkey" === $"ap_partkey")
      .filter($"l_quantity" < $"half_avg_qty")
      .agg((Tables.exactSum($"l_extendedprice") / 7.0).as("avg_yearly"))
  }

  private val q24Sql =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin

  /** Grouping sets / rollup (negative space in reference; Spark built-in). */
  private def q25Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  private val q25Sql =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** INTERSECT (set op — negative space in the reference, SURVEY.md §2.1;
    * Spark plans it as a left-semi aggregate). Customers that are both big
    * spenders and urgent-order placers. */
  private def q26Intersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, dir).filter($"o_totalprice" > 300000.0)
      .select($"o_custkey")
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    big.intersect(urgent).orderBy($"o_custkey")
  }

  private val q26Sql =
    """SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  /** EXCEPT (set op). Big spenders that never placed an urgent order. */
  private def q27Except(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, dir).filter($"o_totalprice" > 300000.0)
      .select($"o_custkey")
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    big.except(urgent).orderBy($"o_custkey")
  }

  private val q27Sql =
    """SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  /** TPC-H Q18-style: HAVING over a grouped aggregate, joined back to the
    * wide tables — post-aggregation filter (Calcite plans HAVING as Filter
    * over Aggregate; same shape here). */
  private def q28Having(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigOrders = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey".as("bo_orderkey"))
      .agg(sum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 150.0)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    ord.join(bigOrders, $"o_orderkey" === $"bo_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
      .limit(100)
  }

  private val q28Sql =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey AS bo_orderkey, sum(l_quantity) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0) b
      |  ON o_orderkey = bo_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q19-style: disjunctive multi-clause predicate (OR of ANDed
    * ranges) over a join — exercises predicate normalization; Catalyst
    * extracts the common `l_partkey = p_partkey` conjunct so the join stays
    * a hash join with the OR as a post-join filter. */
  private def q29Disjunctive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    li.join(p, $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1.0, 30.0)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
          $"l_quantity".between(10.0, 40.0)) ||
        ($"p_brand" === "Brand#34" && $"p_size".between(1, 35) &&
          $"l_quantity".between(20.0, 50.0)))
      .agg(Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n"))
  }

  private val q29Sql =
    """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue, count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1.0 AND 30.0)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity BETWEEN 10.0 AND 40.0)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity BETWEEN 20.0 AND 50.0)""".stripMargin

  /** TPC-H Q21-style: stacked EXISTS + NOT EXISTS on the same table
    * (decorrelated to semi + anti joins): lines returned by one supplier in
    * multi-supplier orders where no other supplier's line was returned.
    * (Q21's receipt/commit lateness predicate becomes a returnflag
    * predicate — the testdata lineitem has no receipt/commit dates.) */
  private def q30MultiExists(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // One shuffle instead of three self-joins: aggregate to (order,
    // supplier) grain, then per-order window counts decide the EXISTS /
    // NOT-EXISTS conditions (suppliers-in-order > 1, exactly one supplier
    // with a returned line) — same decorrelated semantics, 3x less data
    // movement than the semi+anti join formulation.
    // ONE exchange for both keyed steps (guide §2.4; r17): hash-cluster
    // by l_orderkey up front — HashPartitioning(l_orderkey) satisfies the
    // (l_orderkey, l_suppkey) aggregation's clustering (subset rule) AND
    // the per-order window's, so neither re-shuffles. The previous form
    // paid a second full exchange between the aggregate and the window
    // (plan: 3 Exchange → 2; measured 1.07 → 0.70 s at sf0.1).
    val perSupp = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_returnflag")
      .repartition($"l_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("r_cnt"))
    val byOrder = Window.partitionBy($"l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_supp_r", sum(when($"r_cnt" > 0, 1L).otherwise(0L)).over(byOrder))
      .filter($"r_cnt" > 0 && $"n_supp" > 1 && $"n_supp_r" === 1)
      .groupBy($"l_suppkey".as("suppkey"))
      .agg(sum($"r_cnt").as("numwait"))
      .orderBy($"numwait".desc, $"suppkey")
      .limit(20)
  }

  private val q30Sql =
    """SELECT l1.l_suppkey AS suppkey, count(*) AS numwait
      |FROM lineitem l1
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY l1.l_suppkey
      |ORDER BY numwait DESC, suppkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q22-style: SUBSTRING-keyed grouping + scalar-average subquery +
    * anti join: "rich customers with no orders", by phone prefix. */
  private def q31SubstrAvgSub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // testdata customer has no c_phone; the last-2-digits of c_name plays
    // the country-code role (same SUBSTRING-keyed grouping shape).
    val cust = Tables.customer(s, dir)
      .withColumn("cntrycode", substring($"c_name", 17, 2))
    val avgBal = cust.filter($"c_acctbal" > 0.0)
      .agg(avg($"c_acctbal").as("avg_bal"))
    val ord = Tables.orders(s, dir)
    cust
      .join(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"cntrycode")
      .agg(count(lit(1)).as("numcust"), Tables.exactSum($"c_acctbal").as("totacctbal"))
      .orderBy($"cntrycode")
  }

  private val q31Sql =
    """SELECT substring(c_name, 17, 2) AS cntrycode, count(*) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1
      |ORDER BY cntrycode""".stripMargin

  /** SQL-text surface: the same query class submitted as ANSI SQL through
    * `Engine.executeQuery` (reference entry point 1, `Client.cpp:94-111`) —
    * proves a reference user can submit their SQL unchanged. */
  private def q32SqlText(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir,
      """SELECT n_name, count(*) AS n_cust, CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 0.0
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)

  private val q32Sql =
    """SELECT n_name, count(*) AS n_cust, CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > 0.0
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** TPC-H Q7-style volume shipping: two-role nation dimension (supplier
    * nation × customer nation), symmetric disjunctive pair filter, yearly
    * revenue — the two broadcast joins against the same tiny dim under
    * different aliases.
    *
    * Catalyst cannot push the two-sided disjunction below the joins, but
    * its one-sided implication CAN be transferred by hand: every surviving
    * row has BOTH nations in the relevant pair, so supplier and customer
    * are semi-join-reduced to 2 of 25 nations BEFORE the fact joins
    * (the engine's own predicate-transfer utility — reference
    * `pred-trans/SmallToLargePredTransOrder.cpp`). The exact pair
    * disjunction still runs at the top, on ~(2/25)² of the pre-transfer
    * join input. */
  private def q33VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val n1 = Tables.nation(s, dir).select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(s, dir).select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
    val pairNations = broadcast(Tables.nation(s, dir)
      .filter($"n_name".isin("NATION_1", "NATION_2")))
    val sup = graft.plans.PredicateTransfer.reduce(
      Tables.supplier(s, dir),
      Seq((pairNations, $"s_nationkey" === $"n_nationkey")))
    val cust = graft.plans.PredicateTransfer.reduce(
      Tables.customer(s, dir),
      Seq((pairNations, $"c_nationkey" === $"n_nationkey")))
    val ordReduced = graft.plans.PredicateTransfer.reduce(
      ord, Seq((cust, $"o_custkey" === $"c_custkey")))
    li.join(sup, $"l_suppkey" === $"s_suppkey") // reduced sup cuts li first
      .join(ordReduced, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"sk")
      .join(broadcast(n2), $"c_nationkey" === $"ck")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(Tables.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  private val q33Sql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  EXTRACT(year FROM l_shipdate) AS l_year,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8-style market share: one supplier nation's fraction of yearly
    * revenue to one region's customers — conditional-sum ratio over a
    * 6-table star. */
  private def q34MarketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val ord = Tables.orders(s, dir)
    val n1 = Tables.nation(s, dir).select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(s, dir).select($"n_nationkey".as("ck"), $"n_regionkey".as("crk"))
    val reg = Tables.region(s, dir).filter($"r_name" === "ASIA")
    // predicate transfer: the region filter reaches customer only through
    // nation — walk region→nation into customer, then customer into
    // orders, so the fact join starts from the ~1/5 of orders that can
    // survive (supplier is NOT reducible: the denominator sums all nations)
    val asiaNations = broadcast(n2.join(broadcast(reg), $"crk" === $"r_regionkey"))
    val cust = graft.plans.PredicateTransfer.reduce(
      Tables.customer(s, dir),
      Seq((asiaNations, $"c_nationkey" === $"ck")))
    val ordReduced = graft.plans.PredicateTransfer.reduce(
      ord, Seq((cust, $"o_custkey" === $"c_custkey")))
    val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    li.join(ordReduced, $"l_orderkey" === $"o_orderkey") // reduced orders cut li first
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"sk")
      .join(broadcast(n2), $"c_nationkey" === $"ck")
      .join(broadcast(reg), $"crk" === $"r_regionkey")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg((Tables.exactSum(when($"supp_nation" === "NATION_5", vol).otherwise(0.0)) / Tables.exactSum(vol))
        .as("mkt_share"))
      .orderBy($"o_year")
  }

  private val q34Sql =
    """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(sum(CAST(CASE WHEN n1.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE)
      |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS mkt_share
      |FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  JOIN region ON n2.n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1
      |ORDER BY o_year""".stripMargin

  /** Exact interpolated percentiles per group (negative space in the
    * reference; a pipeline staple). Exact percentile sorts within each
    * group — the 100 TB path swaps in approx_percentile (t-digest) with
    * identical plan shape. */
  private def q35Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread by hand: exact-percentile partials buffer value arrays, so the
    // single-split scan would otherwise aggregate on one core. SpreadScans
    // refuses by (b) (percentile is not in its order- insensitive set) and (c)
    // (no per-row work before the aggregate); r20 q35 2.59 s with the call,
    // 3.05 s without
    Tables.spread(Tables.lineitem(s, dir)
        .select($"l_returnflag", $"l_extendedprice", $"l_quantity"))
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("median_price"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
        expr("percentile(l_quantity, 0.25)").as("p25_qty"))
      .orderBy($"l_returnflag")
  }

  private val q35Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS median_price,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  quantile_cont(l_quantity, 0.25) AS p25_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q37 — the 100 TB twin of q35: `percentile_approx` (a mergeable
    * quantile sketch with bounded memory per group) replaces exact
    * `percentile`, whose partial buffers hold every group value in one
    * task. Approx outputs are engine-specific, so the oracle-checkable
    * contract is RANK tolerance, not values: the sketch's quantile is
    * joined back (broadcast — 3 rows) and each group's fraction of rows at
    * or below it must land inside a ±0.02 rank window, emitted as booleans
    * the oracle expects to be uniformly true. Every stage is
    * scale-shaped: sketch agg, broadcast join, conditional count. */
  private def q37PercentilesApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice")
    // spread by hand: SpreadScans refuses by (b), percentile_approx's sketch
    // is not in its order-insensitive set; r20 q37 1.28 s with the call, 1.24
    // s without
    val sketched = Tables.spread(li)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("am"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("a90"))
    li.join(broadcast(sketched), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(
        (sum(when($"l_extendedprice" <= $"am", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("mr"),
        (sum(when($"l_extendedprice" <= $"a90", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("r90"))
      .select($"l_returnflag",
        ($"mr" >= 0.48 && $"mr" <= 0.52).as("median_rank_ok"),
        ($"r90" >= 0.88 && $"r90" <= 0.92).as("p90_rank_ok"))
      .orderBy($"l_returnflag")
  }

  private val q37Sql =
    """SELECT l_returnflag, true AS median_rank_ok, true AS p90_rank_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q38–q40 — the reference's primary workflow at realistic complexity:
    * its users arrive with SQL files run through `Client::executeQuery`
    * (`fpdb-main/src/Client.cpp:94-111`), so these entries feed the SAME
    * ANSI text to `Engine.executeQuery` (Catalyst) and the DuckDB oracle —
    * a 5-table star (q05's shape), a HAVING subquery join (q28's), and a
    * double-EXISTS decorrelation (q30's). One string, two engines, one
    * hash. */
  private def q38SqlStar(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q05Sql)

  private def q39SqlHaving(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q28Sql)

  private def q40SqlExists(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q30Sql)

  /** q44 — NULL-aware anti join: `NOT IN (subquery)` has different
    * semantics from plain anti join when the subquery can yield NULL
    * (one NULL voids every row), so Spark plans it as a special
    * null-aware anti join rather than q10's left_anti. Run as SQL text
    * (how the semantics arrive in practice); same ANSI string in both
    * engines. */
  private val q44Sql =
    """SELECT o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private def q44NotIn(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q44Sql)

  /** q45 — GROUPING SETS, the general form behind q42's CUBE / q25's
    * ROLLUP: three arbitrary grouping lattices (per-flag, per-status,
    * grand total) in ONE aggregate pass — Spark expands the sets into a
    * single Expand + shuffle, not an N-pass union. Run as SQL text
    * through the engine; the SAME string is the oracle (NULLS FIRST is
    * explicit because ASC null placement is the one ORDER BY default the
    * two engines disagree on). */
  private val q45Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
      |  CAST(grouping(l_returnflag) AS TINYINT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS TINYINT) AS g_ls
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  private def q45GroupingSets(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q45Sql)

  /** q42 — CUBE: all four grouping combinations of (returnflag,
    * linestatus) in one pass (q25 covers ROLLUP's prefix lattice; CUBE is
    * the full powerset — Spark expands both into a single expanded
    * aggregate, one shuffle). `grouping()` flags distinguish NULL-as-total
    * from NULL data, matching DuckDB's GROUPING. */
  private def q42Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum_qty"),
        grouping($"l_returnflag").as("g_rf"), grouping($"l_linestatus").as("g_ls"))
      .orderBy($"g_rf", $"g_ls", $"l_returnflag", $"l_linestatus")
  }

  private val q42Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
      |  grouping(l_returnflag)::TINYINT AS g_rf, grouping(l_linestatus)::TINYINT AS g_ls
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin

  /** q46 — mergeable distinct-count sketches: per-(flag, month) partial
    * HLL sketches union-merged into per-flag totals, then checked against
    * the exact distinct count computed in the same query. THE pattern for
    * distinct counts at 100 TB: partial sketches build map-side per
    * partition/day/shard, the merge is a tiny shuffle of fixed-size
    * binary sketches (vs q41's one-shot approx_count_distinct, and vs an
    * exact countDistinct whose shuffle carries every distinct value), and
    * sketches persist as incremental daily artifacts. Datasketches HLL at
    * the default lgConfigK=12 holds ~1.6% relative error, so the ±5%
    * contract is a real bound, not jitter tolerance; the oracle
    * hash-checks the exact counts and the boolean every round
    * (the boolean-contract pattern of q37/q41/s06). */
  private def q46HllMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val partials = li
      .groupBy($"l_returnflag", month($"l_shipdate").as("m"))
      .agg(hll_sketch_agg($"l_partkey").as("sk"))
    val merged = partials
      .groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_parts"))
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    merged.join(exact, "l_returnflag")
      .select($"l_returnflag", $"exact_parts",
        (abs($"approx_parts" - $"exact_parts") <=
          $"exact_parts".cast("double") * 0.05).as("within_tol"))
      .orderBy($"l_returnflag")
  }

  private val q46Sql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |  true AS within_tol
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q47 — mergeable heavy-hitters sketch (q46's counterpart for
    * frequency, not cardinality): per-month partial `approx_top_k
    * _accumulate` states over l_partkey, `approx_top_k_combine`d into one
    * corpus sketch, `approx_top_k_estimate`d to the top-5 hot keys. Same
    * 100 TB shape as q46 — partials build map-side per partition/day,
    * the merge shuffles fixed-size sketch states, never per-key counts,
    * and daily states persist as incremental artifacts.
    *
    * Contract: with maxItemsTracked ≥ the distinct-key count the sketch
    * counts are EXACT, so the in-query check compares the sketch's top-5
    * count MULTISET (ties at the rank boundary make the picked keys
    * arbitrary — counts are the well-defined part) against the exact
    * group-by top-5, plus the top-1 count the oracle recomputes. At
    * corpus scale beyond the tracked capacity the counts turn
    * approximate and the equality gate would relax to a tolerance —
    * capacity is the documented knob. */
  private def q47HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val sketchTop = li
      .groupBy(month($"l_shipdate").as("m"))
      .agg(expr("approx_top_k_accumulate(l_partkey, 100000)").as("st"))
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(st, 100000), 5)").as("top"))
      .select(sort_array(expr("transform(top, x -> bigint(x.count))"), asc = false)
        .as("sketch_counts"))
    val exactTop = li.groupBy($"l_partkey").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc).limit(5)
      .agg(sort_array(collect_list($"c"), asc = false).as("exact_counts"))
    sketchTop.crossJoin(exactTop)
      .select(element_at($"exact_counts", 1).as("top1_count"),
        ($"sketch_counts" === $"exact_counts").as("top5_counts_match"))
  }

  private val q47Sql =
    """SELECT max(c) AS top1_count, true AS top5_counts_match
      |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)""".stripMargin

  /** MERGE/upsert semantics, Spark-first: rows of `updates` replace
    * same-key rows of `base`, new keys append — i.e. `updates ∪ (base
    * ANTI-JOIN updates)`. The anti join probes only the updates' KEY
    * projection (broadcastable for a typical CDC batch against a huge
    * base, so the base is never shuffled), and the union is narrow. The
    * output is a DataFrame: sink-agnostic merge, the engine analog of
    * MERGE INTO for plain parquet tables (no transactional table format
    * required — pair with [[graft.sources.Sink]] to rewrite). */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(key), Seq(key), "left_anti"))

  /** q50 — the upsert verified end to end: a deterministic CDC batch
    * (every 10th order re-priced and re-prioritized, plus brand-new
    * synthetic keys) merged into orders, then rolled up per priority so
    * the oracle hash proves rows were replaced (not duplicated), new
    * rows landed, and untouched rows survived bit-exact. Arithmetic is
    * `+ 100.0` — IEEE-identical across engines (a multiply-and-round
    * would hang the hash on rounding-mode differences). */
  private def q50Upsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val upd = base.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 100.0).as("o_totalprice"),
        lit("0-MERGED").as("o_orderpriority"))
    val ins = base.filter($"o_orderkey" % 7 === 3)
      .select(($"o_orderkey" + 100000000L).as("o_orderkey"),
        $"o_totalprice", lit("6-INSERTED").as("o_orderpriority"))
    upsert(base, upd.unionByName(ins), "o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Tables.exactSum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  private val q50Sql =
    """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
      |upd AS (SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
      |               '0-MERGED' AS o_orderpriority
      |        FROM base WHERE o_orderkey % 10 = 0),
      |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_totalprice,
      |               '6-INSERTED' AS o_orderpriority
      |        FROM base WHERE o_orderkey % 7 = 3),
      |merged AS (
      |  SELECT * FROM upd UNION ALL SELECT * FROM ins
      |  UNION ALL
      |  SELECT * FROM base
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |    AND o_orderkey NOT IN (SELECT o_orderkey FROM ins))
      |SELECT o_orderpriority, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** q51 — regression/correlation aggregates: per-group least-squares
    * slope/intercept/R², plus Pearson correlation — the built-in
    * statistical aggregate family (each is a single-pass partial-merged
    * moment computation: sums of x, y, x², y², xy — exactly the shape
    * that scales, no per-group buffering). */
  private def q51Regression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        regr_slope($"l_extendedprice", $"l_quantity").as("slope"),
        regr_intercept($"l_extendedprice", $"l_quantity").as("intercept"),
        regr_r2($"l_extendedprice", $"l_quantity").as("r2"),
        corr($"l_quantity", $"l_extendedprice").as("qty_price_corr"))
      .orderBy($"l_returnflag")
  }

  private val q51Sql =
    """SELECT l_returnflag,
      |  regr_slope(l_extendedprice, l_quantity) AS slope,
      |  regr_intercept(l_extendedprice, l_quantity) AS intercept,
      |  regr_r2(l_extendedprice, l_quantity) AS r2,
      |  corr(l_quantity, l_extendedprice) AS qty_price_corr
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q52 — ordered string aggregation: `LISTAGG ... WITHIN GROUP (ORDER
    * BY ...)` (ANSI; Spark 4's listagg) — within-group ordering makes the
    * concatenation deterministic, which is what lets the oracle
    * hash-check it at all (an unordered collect+join varies by partition
    * arrival). Run as SQL text through the engine. */
  private val q52Sql =
    """SELECT r_name, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  private def q52Listagg(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q52Sql)

  /** DuckDB's ordered string aggregate spells the same thing string_agg. */
  private val q52OracleSql =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** q53 — RECURSIVE CTE (Spark 4's UnionLoop): generate the 1995 month
    * calendar by recursion and LEFT-join order counts onto it — the
    * gap-filling report shape where empty buckets must appear as zeros
    * (a plain GROUP BY silently drops them). Spark executes the
    * recursion as iterated micro-plans, so the step count is the cost
    * knob — bounded here to 12 by the literal range (an unbounded
    * data-derived range would run one tiny job per step). One string,
    * both engines: run as SQL text through the engine, oracle-identical. */
  private val q53Sql =
    """WITH RECURSIVE months(m) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
      |  WHERE m < DATE '1995-12-01'
      |)
      |SELECT m, count(o_orderkey) AS n_orders
      |FROM months LEFT JOIN orders
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
      |GROUP BY m ORDER BY m""".stripMargin

  private def q53RecursiveCte(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q53Sql)

  /** q54 — declarative data-quality constraint checking (the
    * deequ/expectations pattern a training-data pipeline gates ingest
    * on): each constraint is an aggregate over the SAME single scan —
    * count_if violations for nullness/range/set-membership, a
    * count-vs-distinct comparison for key uniqueness — unpivoted to one
    * (constraint, n_violations) row each so the gate is data, not code.
    * One pass over the table regardless of constraint count; every
    * check is map-side-combinable. A real deployment compares
    * n_violations against thresholds; the entry ships the counts so the
    * oracle pins every constraint's exact violation arithmetic.
    *
    * The date_in_range bounds [1995-01-01, 2001-12-31] are THIS
    * testdata's o_orderdate domain (min 1995-01-01, max 2001-08-01 —
    * the driver generator does not use stock TPC-H's 1992–1998 dates),
    * so the constraint models a plausible ingest gate: ~0 violations on
    * clean data, counting anything outside the generator's domain. */
  private def q54QualityChecks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      count_distinct($"o_orderkey").as("n_keys"),
      count(when($"o_custkey".isNull, 1)).as("null_custkey"),
      count(when($"o_totalprice" <= 0.0, 1)).as("nonpos_price"),
      count(when(!$"o_orderstatus".isin("O", "F", "P"), 1)).as("bad_status"),
      count(when($"o_orderdate" < to_date(lit("1995-01-01"))
        || $"o_orderdate" > to_date(lit("2001-12-31")), 1)).as("bad_date"))
    agg.select(
      struct(lit("unique_orderkey").as("check_name"),
        ($"n_rows" - $"n_keys").as("n_violations")).as("c1"),
      struct(lit("custkey_not_null").as("check_name"),
        $"null_custkey".as("n_violations")).as("c2"),
      struct(lit("price_positive").as("check_name"),
        $"nonpos_price".as("n_violations")).as("c3"),
      struct(lit("status_in_set").as("check_name"),
        $"bad_status".as("n_violations")).as("c4"),
      struct(lit("date_in_range").as("check_name"),
        $"bad_date".as("n_violations")).as("c5"))
      .select(explode(array($"c1", $"c2", $"c3", $"c4", $"c5")).as("c"))
      .select($"c.check_name".as("check_name"), $"c.n_violations".as("n_violations"))
      .orderBy($"check_name")
  }

  private val q54Sql =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |         count(DISTINCT o_orderkey) AS n_keys,
      |         count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
      |         count(CASE WHEN o_totalprice <= 0.0 THEN 1 END) AS nonpos_price,
      |         count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS bad_status,
      |         count(CASE WHEN o_orderdate < DATE '1995-01-01'
      |                      OR o_orderdate > DATE '2001-12-31' THEN 1 END) AS bad_date
      |  FROM orders)
      |SELECT c.check_name, c.n_violations FROM a,
      |  LATERAL (VALUES ('unique_orderkey', n_rows - n_keys),
      |                  ('custkey_not_null', null_custkey),
      |                  ('price_positive', nonpos_price),
      |                  ('status_in_set', bad_status),
      |                  ('date_in_range', bad_date)) AS c(check_name, n_violations)
      |ORDER BY c.check_name""".stripMargin

  /** q56 — LATERAL correlated table subquery (SQL:2016; Spark 3.4+ and
    * DuckDB both plan it): top-3 orders PER CUSTOMER by a per-outer-row
    * ORDER BY ... LIMIT inside the lateral — the greatest-n-per-group
    * shape as its standard SQL spelling (the window formulation is q14/
    * q19's). One SQL string runs in both engines through the text entry;
    * Catalyst decorrelates the lateral into a ranked window join rather
    * than executing it row-at-a-time, so the plan scales like any
    * windowed top-k. */
  private val q56Sql =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
      |WHERE c.c_custkey < 100
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  private def q56Lateral(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q56Sql)

  /** q57 — UNPIVOT (wide → long), the inverse of q49's PIVOT: per-status
    * totals computed as three conditional aggregates in ONE pass (a wide
    * row), then unpivoted to (flag, status_label, total) rows via
    * `stack` — Spark's codegen'd UNPIVOT primitive (the SQL UNPIVOT
    * clause plans to the same Expand). The oracle spells it UNION ALL,
    * the engine-portable long form. */
  private def q57Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag".as("flag"))
      .agg(
        sum(when($"l_linestatus" === "O", $"l_quantity").otherwise(0.0)).as("qty_o"),
        sum(when($"l_linestatus" === "F", $"l_quantity").otherwise(0.0)).as("qty_f"))
      .select($"flag", expr(
        "stack(2, 'O', qty_o, 'F', qty_f) AS (status_label, total)"))
      .orderBy($"flag", $"status_label")
  }

  private val q57Sql =
    """WITH wide AS (
      |  SELECT l_returnflag AS flag,
      |    sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END) AS qty_o,
      |    sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END) AS qty_f
      |  FROM lineitem GROUP BY 1)
      |SELECT flag, 'O' AS status_label, qty_o AS total FROM wide
      |UNION ALL
      |SELECT flag, 'F' AS status_label, qty_f AS total FROM wide
      |ORDER BY flag, status_label""".stripMargin

  /** q58 — heavy hitters via a Count-Min sketch (Cormode-Muthukrishnan),
    * the mergeable-sketch answer to "which keys exceed a support
    * threshold" at 100 TB. Three stages, none of which shuffles raw keys:
    * (1) ONE fixed-size sketch aggregated over the fact table —
    * partitions combine ~150 KB counter arrays, not keys; the finished
    * sketch is fetched driver-side (bounded by construction, the PQ-
    * codebook convention) and re-enters the plan as a literal;
    * (2) a distributed probe of the distinct keys through the native
    * [[graft.functions.CmsEstimate]] expression keeps keys whose ESTIMATE
    * meets the threshold — CMS never underestimates, so no true heavy key
    * is lost, and the eps·N overcount only admits a few extra candidates;
    * (3) exact counting runs ONLY over rows of candidate keys (broadcast
    * semi-join — at scale the exact pass touches a sliver of the table)
    * and re-applies the threshold, discarding the false positives.
    * The no-false-negative property makes the result EXACTLY the true
    * heavy-hitter set — hash-checked against a plain GROUP BY/HAVING
    * oracle, unlike the tolerance-style sketch gates (q37, q41). The
    * reference's aggregate surface stops at Sum/Count/MinMax/Avg
    * (`fpdb-plan/src/prephysical/AggregatePrePOp.cpp`); sketches are
    * pipeline-engine green-field alongside q41/q46's HLL. */
  private def q58HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val threshold = 600L
    val li = Tables.lineitem(s, dir)
    val sk = li.select(
      expr("count_min_sketch(l_suppkey, 0.001d, 0.999d, 42)").as("sk"))
      .head.getAs[Array[Byte]](0)
    val candidates = li.select($"l_suppkey").distinct()
      .filter(graft.functions.CmsEstimate.column(lit(sk), $"l_suppkey") >= threshold)
    li.join(broadcast(candidates), Seq("l_suppkey"), "left_semi")
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_items"))
      .filter($"n_items" >= threshold)
      .orderBy($"l_suppkey")
  }

  private val q58Sql =
    """SELECT l_suppkey, count(*) AS n_items
      |FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 600
      |ORDER BY l_suppkey""".stripMargin

  /** q59 — recursive CTE (`WITH RECURSIVE`, new SQL surface in Spark 4):
    * per-document ancestor-path aggregation over a tree derived from
    * doc_id (parent = floor((id-1)/2), the implicit-heap encoding — the
    * testdata has no parent column, so the hierarchy is derived
    * identically in both engines). The recursion walks each document's
    * ancestor chain to the root, accumulating path length and char sum —
    * the bill-of-materials / org-rollup query shape that window functions
    * cannot express (unbounded, data-dependent depth).
    *
    * Scale shape: Spark executes the recursion as iterated hash joins
    * with a per-step union — iteration count is the TREE DEPTH (log n for
    * this balanced derivation: ~9 at 500 docs, ~24 at 10M), not the row
    * count, and each step shuffles only the frontier (rows still above
    * the root), which shrinks as chains complete. Same primitive family
    * as d08's star-contraction connected components; the engine-level
    * iteration-limit guard (`spark.sql.cteRecursionLevelLimit`, default
    * 100) bounds runaway recursion the way d08's fixpoint throw does.
    * Integer division is spelled CAST(FLOOR(x / 2.0) AS BIGINT) because
    * bare `/` on integers is double division in Spark's ANSI mode and
    * HUGEINT division in DuckDB — the one portability trap in the text.
    *
    * The recursive member carries a BROADCAST hint on the dimension side
    * (`documents`, 2 pruned columns): each iteration is then a broadcast
    * hash join and the frontier never shuffles. At shipped SFs size-based
    * planning already picks the broadcast (the measured win is marginal —
    * per-iteration cost is stage scheduling, which is the price of the
    * operator's iterated-join execution, ~depth × per-stage constant);
    * the hint makes the choice CONFIG-INDEPENDENT — a deployment with a
    * lowered or disabled autoBroadcastJoinThreshold would otherwise
    * two-side-shuffle every round. At 100 TB the hinted side is the
    * joined-to node table; if it outgrows broadcast, dropping the hint
    * restores the shuffle join with no other change. DuckDB reads the
    * hint as a plain block comment, so the oracle text is unchanged. */
  private val q59Sql =
    """WITH RECURSIVE anc AS (
      |  SELECT doc_id, doc_id AS node, n_chars AS path_chars, 0 AS depth
      |  FROM documents
      |  UNION ALL
      |  SELECT /*+ BROADCAST(d) */
      |         a.doc_id, CAST(FLOOR((a.node - 1) / 2.0) AS BIGINT) AS node,
      |         a.path_chars + d.n_chars, a.depth + 1
      |  FROM anc a JOIN documents d
      |    ON d.doc_id = CAST(FLOOR((a.node - 1) / 2.0) AS BIGINT)
      |  WHERE a.node > 0
      |)
      |SELECT doc_id, max(depth) AS depth, max(path_chars) AS root_path_chars
      |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def q59Recursive(s: SparkSession, dir: String): DataFrame =
    graft.Engine.executeQuery(s, dir, q59Sql)

  /** q55 — incremental (algebraic) aggregate maintenance: the
    * materialized-view pattern that avoids rescanning history at 100 TB.
    * The "materialized" per-(month, priority) counts/sums over orders
    * before the cutoff are combined with an aggregate over only the
    * post-cutoff delta by RE-AGGREGATING THE PARTIALS (sum of sums, sum
    * of counts — every algebraic aggregate decomposes this way; AVG is
    * derived at read time, never maintained directly). The oracle
    * aggregates the whole table from scratch — any partial the
    * combination loses or double-counts breaks the hash. */
  private def q55IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = to_date(lit("1999-01-01"))
    // cast to DATE: Spark's date_trunc returns timestamp, DuckDB's
    // returns DATE — the driver's hash compare is representation-
    // sensitive (q53 sets the convention)
    def partial(df: DataFrame): DataFrame = df
      .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"),
        $"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice".cast("decimal(25,6)")).as("total"))
    val orders = Tables.orders(s, dir)
    val matView = partial(orders.filter($"o_orderdate" < cutoff)) // "stored"
    val delta = partial(orders.filter($"o_orderdate" >= cutoff))  // new data only
    matView.unionByName(delta)
      .groupBy($"month", $"o_orderpriority")
      .agg(sum($"n").as("n"), sum($"total").cast("double").as("total"),
        (sum($"total").cast("double") / sum($"n")).as("avg_price"))
      .orderBy($"month", $"o_orderpriority")
  }

  private val q55Sql =
    """SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
      |       count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_price
      |FROM orders
      |GROUP BY 1, 2 ORDER BY month, o_orderpriority""".stripMargin

  /** q43 — salted skew join (`plans.SkewJoin`): lineitem ⋈ orders with
    * the key salted 8 ways and orders replicated — the manual weapon for
    * a hot key no AQE split can fix. Salting is a pure plan rewrite, so
    * the oracle is the UNSALTED join SQL: any lost or duplicated row
    * breaks the hash. */
  private def q43SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.SkewJoin.salted(
      // project to the join/salt/agg columns (guide §2.3/§2.6). r17's A/B
      // measured 2.08 → 1.34 s with a spread here; r20 measured the reverse
      // (2.29 s spread, 1.72 s not), and graft.plans.SpreadScans refuses the
      // site (the salt hash is not per-row work it counts), so the scan is not
      // spread.
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice"),
      Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority"),
      $"l_orderkey", $"o_orderkey",
      // varies WITHIN a join key — salting by the key itself would keep
      // the hot key in one bucket
      concat($"l_orderkey", lit(":"), $"l_linenumber"),
      salts = 8)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Tables.exactSum($"l_extendedprice").as("gross"))
      .orderBy($"o_orderpriority")
  }

  private val q43Sql =
    """SELECT o_orderpriority, count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS gross
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q41 — the 100 TB twin of q17's DISTINCT aggregates: HyperLogLog++
    * (`approx_count_distinct`, a mergeable fixed-size sketch) replaces the
    * exact distinct, whose de-dup shuffle carries every distinct key. Same
    * oracle pattern as q37: the sketch estimate must land within ±10% of
    * the exact count (HLL++ default rsd is 5%), emitted as booleans the
    * oracle expects to be uniformly true. */
  private def q41ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey").as("ad"),
        countDistinct($"l_orderkey").as("ed"))
      .select($"l_returnflag",
        (abs($"ad" - $"ed").cast("double") / $"ed" <= 0.1).as("distinct_ok"))
      .orderBy($"l_returnflag")
  }

  private val q41Sql =
    """SELECT l_returnflag, true AS distinct_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q4-style: EXISTS-correlated aggregation — orders in a quarter
    * having at least one line shipped after a cutoff, counted by priority
    * (semi join feeding a group-by; Catalyst decorrelates the EXISTS). */
  private def q36ExistsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir).filter(
      $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
      $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
    val late = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-06-01").cast("timestamp"))
      .select($"l_orderkey")
    ord.join(late, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  private val q36Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate >= TIMESTAMP '1996-06-01 00:00:00')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_group_agg"      -> q01GroupAgg _,
    "q02_scalar_agg"     -> q02ScalarAgg _,
    "q03_filter_project" -> q03FilterProject _,
    "q04_join_topk"      -> q04JoinTopK _,
    "q05_star_join"      -> q05StarJoin _,
    "q06_left_join"      -> q06LeftJoin _,
    "q07_right_join"     -> q07RightJoin _,
    "q08_full_join"      -> q08FullJoin _,
    "q09_semi_join"      -> q09SemiJoin _,
    "q10_anti_join"      -> q10AntiJoin _,
    "q11_theta_join"     -> q11ThetaJoin _,
    "q12_cross_join"     -> q12CrossJoin _,
    "q13_sort_multi"     -> q13SortMulti _,
    "q14_topk"           -> q14TopK _,
    "q15_expressions"    -> q15Expressions _,
    "q16_date_ops"       -> q16DateOps _,
    "q17_distinct"       -> q17Distinct _,
    "q18_union"          -> q18Union _,
    "q19_window"         -> q19Window _,
    "q20_cond_agg"       -> q20CondAgg _,
    "q21_double_agg"     -> q21DoubleAgg _,
    "q22_subquery_max"   -> q22SubqueryMax _,
    "q23_promo_ratio"    -> q23PromoRatio _,
    "q24_correlated_avg" -> q24CorrelatedAvg _,
    "q25_rollup"         -> q25Rollup _,
    "q26_intersect"      -> q26Intersect _,
    "q27_except"         -> q27Except _,
    "q28_having"         -> q28Having _,
    "q29_disjunctive"    -> q29Disjunctive _,
    "q30_multi_exists"   -> q30MultiExists _,
    "q31_substr_avg_sub" -> q31SubstrAvgSub _,
    "q32_sql_text"       -> q32SqlText _,
    "q33_volume_shipping" -> q33VolumeShipping _,
    "q34_market_share"   -> q34MarketShare _,
    "q35_percentiles"    -> q35Percentiles _,
    "q36_exists_agg"     -> q36ExistsAgg _,
    "q37_percentiles_approx" -> q37PercentilesApprox _,
    "q38_sql_star"       -> q38SqlStar _,
    "q39_sql_having"     -> q39SqlHaving _,
    "q40_sql_exists"     -> q40SqlExists _,
    "q41_approx_distinct" -> q41ApproxDistinct _,
    "q42_cube"           -> q42Cube _,
    "q43_salted_join"    -> q43SaltedJoin _,
    "q44_not_in"         -> q44NotIn _,
    "q45_grouping_sets"  -> q45GroupingSets _,
    "q46_hll_merge"      -> q46HllMerge _,
    "q47_heavy_hitters"  -> q47HeavyHitters _,
    "q48_window_suite"   -> q48WindowSuite _,
    "q49_pivot"          -> q49Pivot _,
    "q50_upsert"         -> q50Upsert _,
    "q51_regression"     -> q51Regression _,
    "q52_listagg"        -> q52Listagg _,
    "q53_recursive_cte"  -> q53RecursiveCte _,
    "q54_quality_checks" -> q54QualityChecks _,
    "q55_incremental_agg" -> q55IncrementalAgg _,
    "q56_lateral"        -> q56Lateral _,
    "q57_unpivot"        -> q57Unpivot _,
    "q58_heavy_hitters"  -> q58HeavyHitters _,
    "q59_recursive"      -> q59Recursive _,
  )

  val oracleSql: Map[String, String] = Map(
    "q01_group_agg"      -> q01Sql,
    "q02_scalar_agg"     -> q02Sql,
    "q03_filter_project" -> q03Sql,
    "q04_join_topk"      -> q04Sql,
    "q05_star_join"      -> q05Sql,
    "q06_left_join"      -> q06Sql,
    "q07_right_join"     -> q07Sql,
    "q08_full_join"      -> q08Sql,
    "q09_semi_join"      -> q09Sql,
    "q10_anti_join"      -> q10Sql,
    "q11_theta_join"     -> q11Sql,
    "q12_cross_join"     -> q12Sql,
    "q13_sort_multi"     -> q13Sql,
    "q14_topk"           -> q14Sql,
    "q15_expressions"    -> q15Sql,
    "q16_date_ops"       -> q16Sql,
    "q17_distinct"       -> q17Sql,
    "q18_union"          -> q18Sql,
    "q19_window"         -> q19Sql,
    "q20_cond_agg"       -> q20Sql,
    "q21_double_agg"     -> q21Sql,
    "q22_subquery_max"   -> q22Sql,
    "q23_promo_ratio"    -> q23Sql,
    "q24_correlated_avg" -> q24Sql,
    "q25_rollup"         -> q25Sql,
    "q26_intersect"      -> q26Sql,
    "q27_except"         -> q27Sql,
    "q28_having"         -> q28Sql,
    "q29_disjunctive"    -> q29Sql,
    "q30_multi_exists"   -> q30Sql,
    "q31_substr_avg_sub" -> q31Sql,
    "q32_sql_text"       -> q32Sql,
    "q33_volume_shipping" -> q33Sql,
    "q34_market_share"   -> q34Sql,
    "q35_percentiles"    -> q35Sql,
    "q36_exists_agg"     -> q36Sql,
    "q37_percentiles_approx" -> q37Sql,
    "q38_sql_star"       -> q05Sql,
    "q39_sql_having"     -> q28Sql,
    "q40_sql_exists"     -> q30Sql,
    "q41_approx_distinct" -> q41Sql,
    "q42_cube"           -> q42Sql,
    "q43_salted_join"    -> q43Sql,
    "q44_not_in"         -> q44Sql,
    "q45_grouping_sets"  -> q45Sql,
    "q46_hll_merge"      -> q46Sql,
    "q47_heavy_hitters"  -> q47Sql,
    "q48_window_suite"   -> q48Sql,
    "q49_pivot"          -> q49Sql,
    "q50_upsert"         -> q50Sql,
    "q51_regression"     -> q51Sql,
    "q52_listagg"        -> q52OracleSql,
    "q53_recursive_cte"  -> q53Sql,
    "q54_quality_checks" -> q54Sql,
    "q55_incremental_agg" -> q55Sql,
    "q56_lateral"        -> q56Sql,
    "q57_unpivot"        -> q57Sql,
    "q58_heavy_hitters"  -> q58Sql,
    "q59_recursive"      -> q59Sql,
  )
}
