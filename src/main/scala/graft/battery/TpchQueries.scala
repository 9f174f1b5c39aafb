package graft
package battery

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.api.QueryOps
import graft.operators._
import Helpers._

/** TPC-H relational battery: scans, predicates, set algebra, joins
  * and the TPC-H query shapes. */
object TpchQueries {

  private def fuzzyInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val l = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("id"),
        (col("o_totalprice") / 1000000.0).as("distance"))
    val r = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("id"))
      .agg((sum("l_quantity") / 100.0).as("distance"))
      .filter(col("distance") > 1.0)
    (l, r)
  }

  private def fuzzyOracle(mergeFn: String): String =
    s"""WITH l AS (SELECT o_orderkey AS id, o_totalprice / 1000000.0 AS d
       |           FROM orders WHERE o_orderstatus = 'F'),
       |     r AS (SELECT l_orderkey AS id, sum(l_quantity) / 100.0 AS d
       |           FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) / 100.0 > 1.0)
       |SELECT COALESCE(l.id, r.id) AS id,
       |  round($mergeFn(COALESCE(l.d, 0.0), COALESCE(r.d, 0.0)), 6) AS distance
       |FROM l FULL JOIN r ON l.id = r.id ORDER BY id""".stripMargin

  val queries: Seq[Q] = Seq(
    // --- relational operators (SURVEY §2.1, §2.2, §2.5) ---
    Q("q1_agg", (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base, round(avg(l_discount),6) AS avg_disc,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      Gate.marker("partial aggregation before shuffle", "partial_sum", "HashAggregate")),

    Q("projection_filter", (s, d) => Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,
      Gate.marker("PushedFilters reach parquet", "PushedFilters: [", "GreaterThan(l_quantity")),

    Q("count_lineitem", (s, d) => Projections.countRows(Tables.lineitem(s, d)),
      "SELECT count(*) AS n FROM lineitem"),

    Q("exists_highvalue", (s, d) => Projections.existsRows(
      Tables.orders(s, d).filter(col("o_totalprice") > 400000)),
      """SELECT count(*) > 0 AS "exists" FROM
        | (SELECT 1 FROM orders WHERE o_totalprice > 400000 LIMIT 1)""".stripMargin),

    Q("distinct_flags", (s, d) => Projections.distinctRows(
      Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"))
      .orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Q("empty_relation", (s, d) =>
      // the empty-relation operator: a contradiction filter must plan
      // and aggregate to a zero count, not error
      Projections.countRows(Tables.lineitem(s, d).filter(lit(false))),
      "SELECT CAST(0 AS BIGINT) AS n"),

    Q("cached_query", (s, d) => {
      // result-cache node: both evaluations resolve through the cache;
      // the returned frame must still equal the uncached computation
      def compute() = Tables.orders(s, d).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
      QueryOps.cached(s"battery-agg-$d")(compute())
      QueryOps.cached(s"battery-agg-$d")(compute())
    },
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Q("predicate_in_lt", (s, d) => Tables.lineitem(s, d)
      .filter(BooleanPredicates.conjunction(Seq(
        BooleanPredicates.Predicate("l_returnflag", "in", Seq("A", "N")),
        BooleanPredicates.Predicate("l_quantity", "<", Seq(5.0)))))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
        |WHERE l_returnflag IN ('A','N') AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      Gate.marker("IN-filter pushed", "PushedFilters: [", "In(l_returnflag")),

    Q("predicate_like", (s, d) => Tables.orders(s, d)
      .filter(BooleanPredicates.toColumn(
        BooleanPredicates.Predicate("o_orderpriority", "like", Seq("1%"))))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |WHERE o_orderpriority LIKE '1%'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Q("predicate_daterange", (s, d) => Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .orderBy("o_orderkey"),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin),

    Q("topk_orders", (s, d) => Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price")),
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    Q("q3_shipping", (s, d) => {
      // TPC-H Q3 shape: small dims broadcast into the fact scan
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(100)
    },
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 100""".stripMargin,
      Gate.marker("small dimension broadcast into fact join", "BroadcastHashJoin")),

    // --- set algebra (SURVEY §2.4) ---
    Q("set_union", (s, d) => {
      val o = Tables.orders(s, d)
      SetAlgebra.union(
        o.filter(col("o_totalprice") > 450000).select(col("o_orderkey").as("id")),
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey").as("id")),
        "id").orderBy("id")
    },
      """SELECT id, CAST(0.0 AS DOUBLE) AS distance FROM (
        | SELECT o_orderkey AS id FROM orders WHERE o_totalprice > 450000
        | UNION ALL
        | SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |) ORDER BY id""".stripMargin),

    Q("set_intersect", (s, d) => {
      val o = Tables.orders(s, d)
      SetAlgebra.intersect(
        o.filter(col("o_totalprice") > 450000).select(col("o_orderkey").as("id")),
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey").as("id")),
        "id").orderBy("id")
    },
      """SELECT id, CAST(0.0 AS DOUBLE) AS distance FROM (
        | SELECT o_orderkey AS id FROM orders WHERE o_totalprice > 450000
        | INTERSECT
        | SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |) ORDER BY id""".stripMargin,
      Gate.marker("semi join (broadcast-able)", "LeftSemi")),

    Q("set_except", (s, d) => {
      val o = Tables.orders(s, d)
      SetAlgebra.except(
        o.filter(col("o_totalprice") > 450000).select(col("o_orderkey").as("id")),
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey").as("id")),
        "id").orderBy("id")
    },
      """SELECT id, CAST(0.0 AS DOUBLE) AS distance FROM (
        | SELECT o_orderkey AS id FROM orders WHERE o_totalprice > 450000
        | EXCEPT
        | SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |) ORDER BY id""".stripMargin),

    Q("fuzzy_union", (s, d) => fuzzyInputs(s, d) match {
      case (l, r) => SetAlgebra.fuzzyUnion(l, r, "id")
        .select(col("id"), round(col("distance"), 6).as("distance")).orderBy("id")
    },
      fuzzyOracle("least")),

    Q("fuzzy_intersect", (s, d) => fuzzyInputs(s, d) match {
      case (l, r) => SetAlgebra.fuzzyIntersect(l, r, "id")
        .select(col("id"), round(col("distance"), 6).as("distance")).orderBy("id")
    },
      fuzzyOracle("greatest")),

    Q("compound_setalgebra", (s, d) => {
      // recursive compound query tree — the reference's nested
      // AggregationExpression shape (((A ∪ B) ∩ C) \ D) evaluated as one
      // declarative plan; previously only the gRPC glue exercised it
      val o = Tables.orders(s, d)
      def ids(c: Column) = o.filter(c).select(col("o_orderkey").as("id"))
      val u = SetAlgebra.union(
        ids(col("o_totalprice") > 400000),
        ids(col("o_orderpriority") === "1-URGENT"), "id")
      val i = SetAlgebra.intersect(u, ids(col("o_orderstatus") === "F"), "id")
      SetAlgebra.except(i, ids(col("o_orderdate") < lit("1995-01-01")), "id")
        .orderBy("id")
    },
      """SELECT id, CAST(0.0 AS DOUBLE) AS distance FROM (
        | SELECT id FROM (
        |  SELECT id FROM (
        |   SELECT o_orderkey AS id FROM orders WHERE o_totalprice > 400000
        |   UNION ALL
        |   SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |  INTERSECT
        |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        | EXCEPT
        | SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
        |) ORDER BY id""".stripMargin,
      Gate.marker("recursive tree plans as chained semi/anti joins", "LeftSemi", "LeftAnti")),

    Q("vote_topk", (s, d) => {
      val o = Tables.orders(s, d)
      SetAlgebra.vote(Seq(
        o.filter(col("o_totalprice") > 450000).select(col("o_orderkey").as("id")),
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey").as("id")),
        o.filter(col("o_orderstatus") === "F").select(col("o_orderkey").as("id"))),
        "id", 500)
        .select(col("id"), round(col("distance"), 6).as("distance"))
    },
      """SELECT id, round(1.0 - count(*) / 3.0, 6) AS distance FROM (
        | SELECT o_orderkey AS id FROM orders WHERE o_totalprice > 450000
        | UNION ALL SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | UNION ALL SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY id ORDER BY 1.0 - count(*) / 3.0, id LIMIT 500""".stripMargin),

    Q("table_profile", (s, d) =>
      // ANALYZE-style column statistics in ONE aggregation pass
      Projections.profile(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("column"),
      """SELECT * FROM (
        |  SELECT 'l_quantity' AS "column", count(*) AS n_rows,
        |    count(*) - count(l_quantity) AS n_nulls,
        |    CAST(min(l_quantity) AS DOUBLE) AS min_v, CAST(max(l_quantity) AS DOUBLE) AS max_v,
        |    round(avg(l_quantity), 4) AS mean_v, round(stddev_samp(l_quantity), 4) AS stddev_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
        |    CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
        |    round(avg(l_extendedprice), 4), round(stddev_samp(l_extendedprice), 4)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(*), count(*) - count(l_discount),
        |    CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE),
        |    round(avg(l_discount), 4), round(stddev_samp(l_discount), 4)
        |  FROM lineitem
        |) ORDER BY "column"""".stripMargin),

    Q("range_join_price_bands", (s, d) => {
      // pure range-predicate join (no equi key) — Catalyst alone would
      // plan BroadcastNestedLoopJoin; the binned form is a hash join on
      // floor(value/width) with exactly-once match semantics
      val bands = Tables.part(s, d).select(col("p_partkey"),
        (col("p_retailprice") - 5).as("lo"), (col("p_retailprice") + 5).as("hi"))
      val pts = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      RangeJoin.pointsInIntervals(pts, "l_extendedprice", bands, "lo", "hi",
          binWidth = 10.0)
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n_in_band"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, count(*) AS n_in_band,
        |  round(sum(l_extendedprice), 4) AS sum_price
        |FROM part JOIN lineitem
        |  ON l_extendedprice BETWEEN p_retailprice - 5 AND p_retailprice + 5
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,
      Gate.noNlj("binned hash equi-join")),

    // --- multi-join analytics breadth (r17) ---
    Q("q5_region_revenue", (s, d) => {
      // TPC-H Q5 shape — the 6-way star join. region⋈nation collapses
      // to a 5-row broadcast; supplier picks up n_name through it and
      // stays broadcast-able (SF×10k rows). The only at-scale shuffles
      // are lineitem⋈orders on orderkey and the custkey exchange; the
      // c_nationkey = s_nationkey local-supplier predicate rides the
      // supplier join, never a separate exchange.
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1996-01-01"))
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      Gate.marker("region→nation→supplier dims broadcast into the fact pipeline",
        "BroadcastHashJoin")),

    Q("q18_large_orders", (s, d) => {
      // TPC-H Q18 shape — aggregation-filtered join-back: the HAVING
      // side is the one big orderkey shuffle; the surviving "large"
      // orders are rare (p99 of sum_qty), so the join back to orders/
      // customer is a small-side join and the final cut is a bounded
      // TakeOrdered, never a global sort.
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("totalprice"), col("sum_qty"))
        .orderBy(col("totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """SELECT c_name, o_orderkey, round(o_totalprice, 2) AS totalprice, sum_qty
        |FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 2) > 250)
        |JOIN orders   ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey  = o_custkey
        |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
      Gate.marker("agg-filtered join-back cut by bounded TakeOrdered, partial sums map-side",
        "TakeOrderedAndProject", "partial_sum")),

    Q("q7_nation_volume", (s, d) => {
      // TPC-H Q7 shape: the two nation dims broadcast onto the
      // supplier/customer legs, the directional pair filter rides the
      // join output, and the only at-scale exchanges are the
      // lineitem⋈orders orderkey shuffle + the custkey/suppkey joins
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(s, d).join(broadcast(n1),
        col("s_nationkey") === col("s_nk"))
      val cust = Tables.customer(s, d).join(broadcast(n2),
        col("c_nationkey") === col("c_nk"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") <= lit("1996-12-31"))
      val o = Tables.orders(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year,
        |         l_extendedprice * (1 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey  = l_suppkey
        |  JOIN customer ON c_custkey  = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate <= TIMESTAMP '1996-12-31')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    Q("q10_returned_items", (s, d) => {
      // TPC-H Q10 shape: quarter-filtered orders join the R-flagged
      // lineitems; the customer dim joins AFTER aggregation is not
      // possible (revenue groups by customer), so customer rides the
      // custkey exchange and nation broadcasts; final cut is a bounded
      // TakeOrdered
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-10-01") &&
          col("o_orderdate") < lit("1996-01-01"))
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(c_acctbal, 2) AS acctbal, n_name
        |FROM lineitem
        |JOIN orders   ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey  = o_custkey
        |JOIN nation   ON n_nationkey = c_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-10-01'
        |  AND o_orderdate <  TIMESTAMP '1996-01-01'
        |GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    Q("q4_order_priority", (s, d) => {
      // TPC-H Q4 shape: EXISTS decorrelates to a LEFT SEMI join — each
      // order survives once no matter how many lineitems match, and the
      // only exchange is the orderkey shuffle (the correlated
      // l_shipdate > o_orderdate predicate rides the join condition, so
      // no second pass re-filters). The grouped count is 5 rows.
      // Adapted predicate: the fixture lineitem has no
      // commit/receipt dates, so "late" = shipped after the order date.
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-04-01") &&
          col("o_orderdate") < lit("1995-07-01"))
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01'
        |  AND o_orderdate <  TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      Gate.marker("EXISTS decorrelates to a left semi join", "LeftSemi")),

    Q("q12_late_shipment", (s, d) => {
      // TPC-H Q12 shape (shipmode → lateness bands: the fixture has no
      // l_shipmode/commitdate): one orderkey join, then a two-way CASE
      // split aggregated per band — the classic "pivot a priority flag
      // under a group" plan. High = 1-URGENT/2-HIGH.
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val lag = datediff(col("l_shipdate"), col("o_orderdate"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .withColumn("ship_band",
          when(lag <= 30, "0-30d").when(lag <= 90, "31-90d").otherwise("90d+"))
        .groupBy("ship_band")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("ship_band")
    },
      """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30d'
        |            WHEN datediff('day', o_orderdate, l_shipdate) <= 90 THEN '31-90d'
        |            ELSE '90d+' END AS ship_band,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q14_promo_revenue", (s, d) => {
      // TPC-H Q14 shape: month-filtered lineitem joins the broadcast
      // part dim; promo share is one conditional aggregate over the
      // joined scan — a single-row answer with zero wide exchange
      // (partial aggregation collapses before the final gather).
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-09-01") &&
          col("l_shipdate") < lit("1995-10-01"))
      val p = Tables.part(s, d).select("p_partkey", "p_type")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) /
            sum(rev), 4).as("promo_pct"))
    },
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
        |  sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate <  TIMESTAMP '1995-10-01'""".stripMargin,
      Gate.marker("part dim broadcast; single-row conditional agg",
        "BroadcastHashJoin", "partial_sum")),

    Q("q19_disjunctive_revenue", (s, d) => {
      // TPC-H Q19 shape: three disjunctive brand×quantity×size arms.
      // The per-table halves of the disjunction (brand/size on part,
      // quantity on lineitem) are pushed as an OR-of-ranges into each
      // scan; the cross-table residual evaluates on the broadcast-join
      // output. One row out.
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val j = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val arm1 = col("p_brand") === "Brand#11" &&
        col("l_quantity").between(1, 11) && col("p_size").between(1, 5)
      val arm2 = col("p_brand") === "Brand#12" &&
        col("l_quantity").between(10, 20) && col("p_size").between(1, 10)
      val arm3 = col("p_brand") === "Brand#13" &&
        col("l_quantity").between(20, 30) && col("p_size").between(1, 15)
      j.filter(arm1 || arm2 || arm3)
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    },
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#12' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin),

    Q("q22_idle_balance", (s, d) => {
      // TPC-H Q22 shape: scalar-subquery average broadcast onto the
      // customer scan, then a LEFT ANTI join drops customers with a
      // matching order — the "has money, hasn't converted" cohort per
      // segment. Segments stand in for the fixture's missing phone
      // prefixes; the anti side is urgent-1995 orders because every
      // fixture customer has SOME order (all-orders would be empty).
      val segs = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")
      val c = Tables.customer(s, d).filter(col("c_mktsegment").isin(segs: _*))
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("__avg_bal"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1996-01-01"))
        .select("o_custkey")
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY')
        |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0
        |                     AND c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY'))
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT'
        |                  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |                  AND o_orderdate <  TIMESTAMP '1996-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      Gate.marker("scalar-avg broadcast; NOT EXISTS is a left anti join",
        "LeftAnti", "BroadcastHashJoin")),

    // --- TPC-H completion (r18): every remaining query shape the fixture
    //     schema can express (no partsupp table, no commit/receipt dates
    //     or containers — Q2/Q11/Q16 are inexpressible; Q9/Q13/Q20/Q21
    //     adapt their predicates, keeping the reference join shape).
    Q("q6_forecast_revenue", (s, d) => {
      // TPC-H Q6: the pure scan-aggregate. Every predicate pushes to the
      // parquet scan (plan-gated); partial sums collapse map-side, so the
      // only exchange carries ONE row per task.
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))
    },
      // --- TPC-H completion oracles (r18) ---
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
      // the PushedFilters list renders truncated ("GreaterThanOrEqual(l_shipda…")
      // so markers stop at the visible prefix
      Gate.marker("all predicates pushed to the scan; map-side partial sum",
        "PushedFilters: [IsNotNull(l_shipdate)", "GreaterThanOrEqual(l_shipda", "partial_sum")),

    Q("q8_market_share", (s, d) => {
      // TPC-H Q8: national market share inside a region's customers.
      // part (type-filtered), supplier, and both nation legs broadcast;
      // the two at-scale exchanges are lineitem⋈orders (orderkey) and
      // orders⋈customer (custkey). The share is a conditional-sum ratio
      // per year — 2 rows out.
      val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val n1 = Tables.nation(s, d).filter(col("n_regionkey") === 1)
        .select(col("n_nationkey").as("c_nkey"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val c = Tables.customer(s, d)
        .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
        .select("c_custkey")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") <= lit("1996-12-31"))
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(year(col("o_orderdate")).as("o_year"), vol, col("supp_nation"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", col("volume")).otherwise(0.0)) /
            sum(col("volume")), 4).as("mkt_share"))
        .orderBy("o_year")
    },
      """SELECT o_year,
        |  round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
        |        / sum(volume), 4) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part      ON p_partkey = l_partkey
        |  JOIN supplier  ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN orders    ON l_orderkey = o_orderkey
        |  JOIN customer  ON o_custkey  = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  WHERE p_type = 'ECONOMY' AND n1.n_regionkey = 1
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate <= TIMESTAMP '1996-12-31')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
      Gate.marker("part/supplier/nation dims broadcast into the fact pipeline",
        "BroadcastHashJoin", "partial_sum")),

    Q("q9_product_profit", (s, d) => {
      // TPC-H Q9 shape (profit = revenue; the fixture has no partsupp /
      // supplycost): name-matched parts and supplier→nation broadcast
      // into the lineitem scan, orders joined on the one orderkey
      // exchange, grouped by (nation, year).
      val p = Tables.part(s, d).filter(col("p_name").like("%red%"))
        .select("p_partkey")
      val sn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val o = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
      Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS amount
        |  FROM lineitem
        |  JOIN part     ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  WHERE p_name LIKE '%red%')
        |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin,
      Gate.marker("name-matched part broadcast; name filter pushed to the part scan",
        "BroadcastHashJoin", "StringContains(p_name,red)", "partial_sum")),

    Q("q13_order_distribution", (s, d) => {
      // TPC-H Q13: the histogram-of-counts double aggregation. LEFT
      // OUTER join keeps zero-order customers; the join predicate's
      // order filter (priority stands in for the fixture's missing
      // o_comment pattern) rides the join so non-matching orders count
      // as absent, not as zero rows dropped. One custkey exchange; the
      // second aggregate is |distinct counts| rows.
      val c = Tables.customer(s, d).select("c_custkey")
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "3-MEDIUM")
        .select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
      Gate.marker("LEFT OUTER keeps zero-order customers; double aggregation",
        "LeftOuter", "partial_count")),

    Q("q15_top_supplier", (s, d) => {
      // TPC-H Q15: the revenue view + scalar-max subquery. Revenue
      // aggregates to |suppliers| rows on one suppkey exchange; the max
      // broadcasts back as a 1-row build (BroadcastNestedLoopJoin is the
      // right plan for a scalar); the surviving ~1 row broadcasts into
      // the supplier dim. Revenue rounds BEFORE the max so tie
      // semantics are exact 2-dp arithmetic in both engines.
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("__mx"))
      val top = rev.join(broadcast(mx), col("total_revenue") === col("__mx"))
      Tables.supplier(s, d)
        .join(broadcast(top), col("s_suppkey") === col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
      Gate.marker("scalar max equi-joins back as a 1-row broadcast; winner broadcast into supplier",
        "BroadcastHashJoin", "partial_max")),

    Q("q17_small_quantity_revenue", (s, d) => {
      // TPC-H Q17: the correlated per-part average. Brand-filtered parts
      // broadcast into the lineitem scan; the per-part (sum, count)
      // aggregate — |parts-in-brand| rows — broadcasts back onto the
      // same joined relation. The threshold l_quantity < 0.2·avg is
      // evaluated as qty·cnt·5 < sum: quantities are integral doubles,
      // so both sides are EXACT integer arithmetic — no avg-rounding
      // ulp can flip a row (0.2·avg itself is inexact in binary).
      val p = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#11" && col("p_size") <= 5)
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy(col("p_partkey").as("ap_pk"))
        .agg(sum(col("l_quantity")).as("ap_sum"), count(lit(1)).as("ap_cnt"))
      li.join(broadcast(perPart), col("p_partkey") === col("ap_pk"))
        .filter(col("l_quantity") * col("ap_cnt") * 5.0 < col("ap_sum"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN (SELECT l_partkey AS ap_pk, sum(l_quantity) AS ap_sum,
        |             count(*) AS ap_cnt
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      WHERE p_brand = 'Brand#11' AND p_size <= 5
        |      GROUP BY l_partkey) ON p_partkey = ap_pk
        |WHERE p_brand = 'Brand#11' AND p_size <= 5
        |  AND l_quantity * ap_cnt * 5.0 < ap_sum""".stripMargin,
      Gate.marker("brand parts + per-part (sum,cnt) both broadcast back",
        "BroadcastHashJoin", "partial_sum")),

    Q("q20_excess_suppliers", (s, d) => {
      // TPC-H Q20 shape (availqty lives in the missing partsupp; the
      // aggregate-then-semi-join nesting is the point): suppliers who
      // shipped > 40 units of any single PROMO part in 1995. The inner
      // aggregate shuffles once on (suppkey, partkey); its distinct
      // suppkeys broadcast as a LEFT SEMI into the supplier dim.
      val p = Tables.part(s, d).filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val heavy = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity")).as("sq"))
        .filter(col("sq") > 40.0)
        .select("l_suppkey")
      Tables.supplier(s, d)
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'
        |    AND l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(l_quantity) > 40.0)
        |ORDER BY s_suppkey""".stripMargin,
      Gate.marker("aggregate-then-semi-join nesting plans as a LEFT SEMI",
        "LeftSemi", "partial_sum")),

    Q("q21_waiting_suppliers", (s, d) => {
      // TPC-H Q21 shape: the EXISTS / NOT EXISTS pair over same-order
      // lines. Instead of the textbook three lineitem self-joins (three
      // orderkey shuffles), both existence tests fold into ONE orderkey
      // window: distinct suppliers on the order, and distinct LATE
      // suppliers (late = shipped >90 days after the order date — the
      // fixture has no receipt/commit dates). A line waits alone iff it
      // is late, others supplied the order, and no OTHER supplier was
      // late. Supplier and nation broadcast; numwait counts l1 lines,
      // as in the reference query.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val j = Tables.lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          datediff(col("l_shipdate"), col("o_orderdate")) > 90)
      val w = Window.partitionBy("l_orderkey")
      val flagged = j
        .withColumn("n_supps", size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("n_late", size(collect_set(
          when(col("late"), col("l_suppkey"))).over(w)))
        .filter(col("late") && col("n_supps") > 1 && col("n_late") === 1)
      val sn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_1")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      flagged.join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey  = l1.l_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
        |WHERE datediff('day', o_orderdate, l1.l_shipdate) > 90
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND datediff('day', o_orderdate, l3.l_shipdate) > 90)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
      // both existence tests fold into ONE orderkey-keyed window — at
      // most one orderkey exchange (zero when the orders join already
      // partitioned the stream), never the textbook three self-joins
      Gate("reuse", p => {
        val keyExchanges = "hashpartitioning\\(l_orderkey".r.findAllIn(p).length
        (keyExchanges <= 1 && p.contains("Window"),
          if (keyExchanges <= 1) "one window, no lineitem self-joins"
          else s"expected <=1 orderkey exchange, got $keyExchanges\n$p")
      })),

    Q("skew_salted_join", (s, d) => {
      // Salted join demo with an exactness oracle: result ==
      // plain probe⋈build regardless of salt count. lineitem probes,
      // orders replicates 8×; the hot-key risk this mitigates at 100 TB
      // (one viral orderkey) is absent in the fixture, so the oracle is
      // simply the unsalted join — which is the operator's contract.
      val probe = Tables.lineitem(s, d).select(
        col("l_orderkey").as("okey"), col("l_quantity"))
      val build = Tables.orders(s, d).select(
        col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(probe, build, "okey", 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
