package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.uts._
import graft.ops.Materialize.NarrowSyntax
import Shared._

/** TPC-H-style relational gates (q1 to q22) and the sketch gates over
  * them: KMV distinct counts, count-min sketches and histogram quantiles.
  */
private[graft] object RelationalGates extends GateFamily {
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  gate("q1_agg", q1Agg,
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)

  private def q3TopkRevenue(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1995-03-15").cast("timestamp")
    T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(T(s, dir, "orders").filter(col("o_orderdate") < cut),
        col("c_custkey") === col("o_custkey"))
      .join(T(s, dir, "lineitem").filter(col("l_shipdate") > cut),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }
  gate("q3_topk_revenue", q3TopkRevenue,
    """SELECT l_orderkey, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_date
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)

  private def q5NationRevenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  gate("q5_nation_revenue", q5NationRevenue,
    """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)

  /** TPC-H Q6 shape: a pure filter-aggregate whose four predicates must all
    * reach the parquet scan (`PushedFilters`) — the canonical
    * full-table-scan-avoidance row, PlanSpec-pinned.
    */
  private def q6Revenue(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n"))
  gate("q6_revenue", q6Revenue,
    """SELECT round(sum(l_extendedprice*l_discount), 2) AS revenue, count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)

  /** TPC-H Q4 shape: orders in a window with at least one LATE line item —
    * a semi-join whose condition is equi (order key) PLUS a correlated
    * non-equi bound (`l_shipdate > o_orderdate + 60 days`; this corpus has
    * no commit/receipt dates, so lateness is ship-lag). Catalyst keeps the
    * equi part as the shuffle key and evaluates the date bound as a join
    * residual — the EXISTS shape that stays a hash semi-join at 100 TB
    * (never a nested loop), with both scans pruned by their filters.
    */
  private def q4LateOrders(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      // Derived bound, stated explicitly because Catalyst cannot infer it
      // across the correlated residual: any match has l_shipdate >
      // o_orderdate + 60d >= window-start + 60d, so the fact scan prunes to
      // that bound BEFORE the shuffle — the difference between shuffling a
      // year of lineitem and shuffling all of it at 100 TB. Redundant with
      // the join condition; cannot change the answer.
      .join(T(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1996-03-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  // Q4 shape: EXISTS with a correlated non-equi lateness bound.
  gate("q4_late_orders", q4LateOrders,
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** TPC-H Q18 shape: large-volume orders — a semi-join against an
    * AGGREGATED subquery (orders whose total line quantity clears a
    * threshold), then the order-level rollup and a top-k. The qualifying-key
    * set is itself an aggregation, so the plan is two partial-aggregated
    * shuffles on the same key plus `TakeOrderedAndProject` — no global sort,
    * and the heavy lineitem scan feeds both aggregations column-pruned to
    * (l_orderkey, l_quantity).
    */
  private def q18BigOrders(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("__q"))
      .filter(col("__q") > 150)
      .select(col("l_orderkey").as("__k"))
    T(s, dir, "orders")
      .join(big, col("o_orderkey") === col("__k"), "left_semi")
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total_price"), col("total_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(20)
  }
  // Q18 shape: the qualifying-key set is itself an aggregation (HAVING),
  // consumed as IN; the order-key tiebreak makes the top-20 deterministic.
  gate("q18_big_orders", q18BigOrders,
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
      |       round(sum(l_quantity), 2) AS total_qty
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY 1 HAVING sum(l_quantity) > 150)
      |GROUP BY o_orderkey, o_custkey, o_totalprice
      |ORDER BY total_price DESC, o_orderkey LIMIT 20""".stripMargin)

  /** TPC-H Q14 shape: promo share of one ship-month's revenue — conditional
    * aggregation over a BROADCAST dimension join (part is the dim; the fact
    * scan is pruned to the month before the join). Revenue sums stay exact
    * decimals on the 2-decimal lattice ([[joinBucketedColocated]]'s
    * determinism discipline) and the share is left to the reader — a
    * rounded quotient would sit on the Spark/DuckDB ….5 boundary.
    */
  private def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
      .cast("decimal(30,10)")
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(broadcast(T(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(30,10)"))).cast("double"), 2)
          .as("promo_revenue"),
        round(sum(rev).cast("double"), 2).as("total_revenue"),
        count(lit(1)).as("n_items"))
  }
  // Q14 shape: promo share's two sums as exact decimals on the 2-decimal
  // lattice; the quotient is left unrounded by design.
  gate("q14_promo_share", q14PromoShare,
    """SELECT
      |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(round(l_extendedprice * (1 - l_discount), 10) AS DECIMAL(30,10))
      |        ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE), 2) AS promo_revenue,
      |  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
      |        AS DECIMAL(30,10))) AS DOUBLE), 2) AS total_revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)

  /** TPC-H Q10 shape: returned-item losses per customer — the fact scan
    * prunes to flag `R` and one order quarter before any join, orders and
    * customer shuffle on their keys (customer is NOT broadcast: it scales
    * with the fact table at 100 TB, unlike nation, which rides broadcast),
    * and the result is a top-20 on aggregated revenue —
    * `TakeOrderedAndProject`, never a global sort. Revenue follows q14's
    * exact decimal-lattice discipline.
    */
  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
      .cast("decimal(30,10)")
    T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(T(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      // Round IN DECIMAL SPACE before the double cast: one sf0.01 group
      // sums to exactly ….595, where double-then-round disagrees across
      // engines but decimal HALF_UP does not.
      .agg(round(sum(rev), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }
  gate("q10_returned_items", q10ReturnedItems,
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |       CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
      |             AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |     JOIN customer ON o_custkey = c_custkey
      |     JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** TPC-H Q19 shape: an OR-of-ANDs over mixed fact/dim predicates. The
    * per-side SUPERSET bounds are stated explicitly (q4's derived-bound
    * discipline — Catalyst does not factor disjunctions across a join):
    * the dim pre-filter (brand ∈ set, size ≤ 15) shrinks the broadcast and
    * the quantity band `[1, 30]` prunes the fact scan before the join;
    * both are redundant with the join residual and cannot change rows.
    */
  private def q19BrandRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
      .cast("decimal(30,10)")
    val disj =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    T(s, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(broadcast(T(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
          .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
            col("p_size").between(1, 15))),
        col("l_partkey") === col("p_partkey") && disj)
      .agg(round(sum(rev).cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }
  gate("q19_brand_revenue", q19BrandRevenue,
    """SELECT round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
      |             AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)

  /** TPC-H Q13 shape: the customer/order-count DISTRIBUTION — a left OUTER
    * join (customers with no orders must survive as count 0, so no semi-join
    * rewrite applies), then two aggregations: orders per customer, then
    * customers per order-count. The join filter lives in the JOIN CONDITION,
    * not a WHERE (a post-join filter would delete the NULL rows the outer
    * join exists to keep — the classic outer-join-filter trap). At 100 TB
    * both sides scale together: the join shuffles on the customer key, and
    * the second aggregate's domain (distinct order counts) is tiny, so its
    * shuffle carries one row per count.
    */
  private def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    T(s, dir, "customer").select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
  gate("q13_custdist", q13CustDist,
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  /** TPC-H Q17 shape: small-quantity-order revenue — the correlated scalar
    * subquery (`l_quantity < 0.2 * avg(l_quantity) over the same part`)
    * decorrelated into ONE per-key aggregate joined back to the fact: the
    * per-part threshold is computed once per key on the pruned fact (never
    * per row), and both the aggregate and the join share the `l_partkey`
    * shuffle. The brand dim filter broadcasts and prunes the fact FIRST
    * (partkey determines brand, so the threshold over the pruned set equals
    * the threshold over the full table — the pruning is semantics-free).
    * The threshold itself follows the decimal discipline: the per-part sum
    * is EXACT (decimal), so `0.2 * (sum / n)` is one deterministic double
    * expression on both engines — no accumulation-order low bits to flip a
    * boundary row.
    */
  private def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    // Materialized once (optimization r21): `pruned` feeds the threshold
    // aggregate AND the join-back — un-cut, the fact scan + broadcast
    // semi-join executed twice (no exchange reuse across the two shapes).
    val pruned = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(T(s, dir, "part")
          .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .narrowCheckpointIfSmall() // brand-pruned fact subset — size-gated (r22)
    val th = pruned.groupBy(col("l_partkey").as("__pk"))
      .agg((lit(0.2) *
        (sum(col("l_quantity").cast("decimal(20,10)")).cast("double") /
          count(lit(1)))).as("__threshold"))
    pruned.join(th, col("l_partkey") === col("__pk"))
      .filter(col("l_quantity") < col("__threshold"))
      .agg(round(sum(round(col("l_extendedprice"), 10).cast("decimal(30,10)"))
          .cast("double"), 2).as("avg_yearly_rev"),
        count(lit(1)).as("n_small"))
  }
  // The per-part threshold uses the EXACT decimal sum (one double divide,
  // no accumulation-order low bits), so the `<` boundary matches Spark's.
  gate("q17_small_qty_revenue", q17SmallQtyRevenue,
    """WITH pruned AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')),
      |th AS (
      |  SELECT l_partkey AS pk,
      |         0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(20,10))) AS DOUBLE)
      |                / count(*)) AS threshold
      |  FROM pruned GROUP BY l_partkey)
      |SELECT round(CAST(sum(CAST(round(l_extendedprice, 10) AS DECIMAL(30,10)))
      |             AS DOUBLE), 2) AS avg_yearly_rev,
      |       count(*) AS n_small
      |FROM pruned JOIN th ON l_partkey = pk
      |WHERE l_quantity < threshold""".stripMargin)

  /** TPC-H Q21 shape: EXISTS and NOT EXISTS against the SAME fact table —
    * suppliers whose returned line was the only return in a multi-supplier
    * order. Both subqueries become non-equi-residual joins on the order key
    * (`left_semi` for the EXISTS, `left_anti` for the NOT EXISTS — never a
    * per-row subquery), sharing one shuffle key, and the `l_suppkey <>`
    * inequality rides as a join residual. Status prune on orders broadcasts
    * nothing: orders scales with the fact, so it shuffles too; only the
    * supplier dim (bounded) broadcasts for the name lookup. Top-k by wait
    * count is `TakeOrderedAndProject` with the supplier key tiebreak.
    */
  private def q21WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      col("l_returnflag"))
    // The RETURNED subset is consumed twice (the driving side and the
    // NOT-EXISTS side l3) — materialized once; the full projection l2 stays
    // a plain pruned scan, since checkpointing a full-fact copy would cost
    // more write than the scan it saves (optimization r21).
    val l1 = li.filter(col("l_returnflag") === "R")
      .narrowCheckpointIfSmall() // ~25% of the fact — size-gated (r22)
    val l2 = li.select(col("l_orderkey").as("__ok2"), col("l_suppkey").as("__sk2"))
    val l3 = l1.select(col("l_orderkey").as("__ok3"), col("l_suppkey").as("__sk3"))
    l1.join(T(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(l2, col("__ok2") === col("l_orderkey") &&
        col("__sk2") =!= col("l_suppkey"), "left_semi")
      .join(l3, col("__ok3") === col("l_orderkey") &&
        col("__sk3") =!= col("l_suppkey"), "left_anti")
      .join(broadcast(T(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }
  gate("q21_waiting_supplier", q21WaitingSupplier,
    """SELECT s_suppkey, s_name, count(*) AS numwait
      |FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_suppkey, s_name
      |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin)

  /** TPC-H Q22 shape: a GLOBAL scalar subquery (mean positive balance)
    * consumed as a one-row broadcast, plus NOT EXISTS as an anti-join —
    * customers in the target segments with above-average balance and no
    * orders, rolled up per segment. The scalar aggregate follows the
    * decimal discipline (exact sum / count, one double division), so the
    * `>` boundary is bit-identical on both engines; the anti-join shuffles
    * on the customer key (orders scales with the fact — no broadcast).
    */
  private def q22GlobalBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE"))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(round(col("c_acctbal"), 10).cast("decimal(30,10)")).cast("double") /
        count(lit(1))).as("__avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      // The anti side is FILTERED orders (urgent only) — on this corpus every
      // customer has some order, so the unfiltered Q22 anti-join is vacuously
      // empty and would gate nothing; the filter keeps the anti-join shape
      // with a non-trivial surviving set, and it reaches the orders scan.
      .join(T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(round(col("c_acctbal"), 10).cast("decimal(30,10)"))
          .cast("double"), 2).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }
  gate("q22_global_balance", q22GlobalBalance,
    """SELECT c_mktsegment, count(*) AS numcust,
      |       round(CAST(sum(CAST(round(c_acctbal, 10) AS DECIMAL(30,10)))
      |             AS DOUBLE), 2) AS totacctbal
      |FROM customer
      |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
      |  AND c_acctbal > (
      |    SELECT CAST(sum(CAST(round(c_acctbal, 10) AS DECIMAL(30,10))) AS DOUBLE)
      |           / count(*)
      |    FROM customer
      |    WHERE c_acctbal > 0.0
      |      AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE'))
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** TPC-H Q7 shape: two-nation shipping volume — the SAME dimension table
    * (nation) joined twice under different roles (supplier's vs customer's),
    * each a filtered BROADCAST that acts as a pruning semi-join before the
    * symmetric pair residual. The fact scan prunes to the ship window; the
    * two bounded dims (supplier, nation) broadcast; orders/customer shuffle
    * on their keys — at 100 TB only the two fact-scaled joins shuffle.
    */
  private def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
      .cast("decimal(30,10)")
    val pair = Seq("NATION_1", "NATION_2")
    val suppNat = broadcast(T(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(T(s, dir, "nation").filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey")))
    val custNat = broadcast(T(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("__cnk"), col("n_name").as("cust_nation")))
    T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .join(custNat, col("c_nationkey") === col("__cnk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }
  // Q7: the pair residual repeated verbatim; revenue on q10's decimal path.
  gate("q7_nation_volume", q7NationVolume,
    """WITH sn AS (SELECT s_suppkey, n_name AS supp_nation
      |            FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |            WHERE n_name IN ('NATION_1', 'NATION_2')),
      |cn AS (SELECT c_custkey, n_name AS cust_nation
      |       FROM customer JOIN nation ON c_nationkey = n_nationkey
      |       WHERE n_name IN ('NATION_1', 'NATION_2'))
      |SELECT supp_nation, cust_nation, year(l_shipdate) AS l_year,
      |       CAST(round(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 10)
      |            AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |     JOIN cn ON o_custkey = c_custkey
      |     JOIN sn ON l_suppkey = s_suppkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
      |    OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  /** TPC-H Q8 shape: market share — one nation's slice of a region's promo
    * volume per order year, as a CONDITIONAL sum beside the total (the
    * quotient is left to the reader per q14's boundary discipline). The part
    * filter prunes the fact via a broadcast semi-join before any shuffle;
    * the region membership rides a second broadcast semi-join on the
    * customer's nation; both sums share one aggregation.
    */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
      .cast("decimal(30,10)")
    val asiaNations = broadcast(T(s, dir, "nation")
      .join(broadcast(T(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("__ank")))
    val suppNat = broadcast(T(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey")))
    T(s, dir, "lineitem")
      .join(broadcast(T(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(T(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(asiaNations, col("c_nationkey") === col("__ank"), "left_semi")
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_5", rev)
          .otherwise(lit(0).cast("decimal(30,10)"))), 2).cast("double")
          .as("nation_volume"),
        round(sum(rev), 2).cast("double").as("total_volume"),
        count(lit(1)).as("n"))
      .orderBy(col("o_year"))
  }
  // Q8: conditional + total sums side by side (the share quotient is the
  // reader's, q14's discipline).
  gate("q8_market_share", q8MarketShare,
    """SELECT year(o_orderdate) AS o_year,
      |  CAST(round(sum(CASE WHEN sn.n_name = 'NATION_5'
      |       THEN CAST(round(l_extendedprice * (1.0 - l_discount), 10) AS DECIMAL(30,10))
      |       ELSE CAST(0 AS DECIMAL(30,10)) END), 2) AS DOUBLE) AS nation_volume,
      |  CAST(round(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 10)
      |       AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_volume,
      |  count(*) AS n
      |FROM lineitem
      |     JOIN orders ON l_orderkey = o_orderkey
      |     JOIN customer ON o_custkey = c_custkey
      |     JOIN supplier ON l_suppkey = s_suppkey
      |     JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      |  AND c_nationkey IN (SELECT n_nationkey FROM nation JOIN region
      |                      ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY o_year ORDER BY o_year""".stripMargin)

  /** TPC-H Q9 shape: product-line profit by supplier nation and year. The
    * corpus has no partsupp, so supply cost is a DETERMINISTIC proxy
    * (`p_retailprice × quantity × 0.1` — same literal expression on both
    * engines); what the shape gates is the plan: a name-pattern dim filter
    * broadcast against the fact, two more key joins, and a two-key rollup.
    * Profit rounds on the 1e-10 lattice BEFORE the decimal sum, q10's
    * discipline.
    */
  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val amount = round(
      col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.1), 10)
      .cast("decimal(30,10)")
    val suppNat = broadcast(T(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey")))
    T(s, dir, "lineitem")
      .join(broadcast(T(s, dir, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(sum(amount), 2).cast("double").as("sum_profit"),
        count(lit(1)).as("n"))
      .orderBy(col("nation"), col("o_year").desc)
  }
  // Q9: the supply-cost proxy is the SAME literal expression, left-assoc,
  // so the 1e-10 rounding lattice matches bitwise before the decimal sum.
  gate("q9_product_profit", q9ProductProfit,
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(round(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
      |       - p_retailprice * l_quantity * 0.1, 10) AS DECIMAL(30,10))), 2)
      |       AS DOUBLE) AS sum_profit,
      |  count(*) AS n
      |FROM lineitem
      |     JOIN part ON l_partkey = p_partkey
      |     JOIN orders ON l_orderkey = o_orderkey
      |     JOIN supplier ON l_suppkey = s_suppkey
      |     JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""".stripMargin)

  /** TPC-H Q12 shape: priority-class line counts over a lateness join — the
    * two-way CASE rollup (urgent/high vs the rest) on lines shipped > 60
    * days after their order, q4's correlated-residual join with q4's derived
    * scan bound stated explicitly. Group key adapts to `l_linestatus` (the
    * corpus has no ship mode); the CASE pair and the residual are the shape.
    */
  private def q12PriorityClass(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus"))
          .filter(col("l_shipdate") > lit("1996-03-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  // Q12: q4's lateness residual with the two-way priority CASE rollup.
  gate("q12_priority_class", q12PriorityClass,
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem
      |  ON l_orderkey = o_orderkey
      | AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)

  /** TPC-H Q15 shape: top supplier by quarterly revenue — an aggregate VIEW
    * consumed twice: once to find its scalar max (a one-row broadcast, q22's
    * discipline) and once equality-joined against that max. The revenue
    * rounds to the 2-decimal lattice in decimal space first, so the
    * max-equality compares identical doubles on both engines. Spark computes
    * the view once per consumer; at 100 TB both consumers are one shuffle
    * each on the supplier key.
    */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
      .cast("decimal(30,10)")
    // Materialized once (optimization r21): `revenue` feeds the max AND the
    // equality join-back (the scaladoc's "once per consumer" admission,
    // now one pass).
    val revenue = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(rev), 2).cast("double").as("total_rev"))
      .narrowCheckpointIfSmall() // per-supplier agg — size-gated (r22)
    val mx = revenue.agg(max(col("total_rev")).as("__mx"))
    revenue.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("__mx"))
      .join(broadcast(T(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }
  // Q15: revenue rounds to the 2-decimal lattice in decimal space, so the
  // max-equality join compares identical doubles.
  gate("q15_top_supplier", q15TopSupplier,
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |         CAST(round(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 10)
      |              AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_rev
      |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin)

  /** TPC-H Q16 shape: supplier COUNT DISTINCT per part attribute triple,
    * minus excluded suppliers — the supplier-part pair relation derives from
    * lineitem (the corpus's partsupp analogue: who actually shipped the
    * part), the exclusion (negative balance, the complaints proxy) rides a
    * `left_anti` against a bounded set, and the distinct-count shuffles on
    * the attribute triple after the broadcast part join.
    */
  private def q16PartSupplierCount(s: SparkSession, dir: String): DataFrame = {
    // Broadcast-prune the fact BEFORE the pair-distinct's exchange
    // (optimization r21, guide §2.3): the previous shape shuffled EVERY
    // distinct (part, supplier) pair and only then dropped non-qualifying
    // parts and excluded suppliers — the part filter keeps ~1/8 of sizes,
    // so the distinct now shuffles a fraction of the pairs for the same
    // result (semi-join and anti-join commute with the pair distinct).
    val partsF = T(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 14, 20, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    T(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(partsF.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(T(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
          .select(col("s_suppkey").as("__excl")),
        col("l_suppkey") === col("__excl"), "left_anti")
      .distinct()
      .join(broadcast(partsF), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }
  // Q16: the partsupp analogue is DISTINCT shipped pairs; the exclusion is
  // the bounded negative-balance supplier set.
  gate("q16_part_supplier_count", q16PartSupplierCount,
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM ps JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 9, 14, 20, 25, 36, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  /** TPC-H Q20 shape: suppliers holding a DOMINANT share of a part's annual
    * flow — the correlated half-sum (`> 0.5 × total`) decorrelated into two
    * aggregates over the same pruned fact sharing the part-key shuffle, the
    * threshold compared in EXACT integer-scaled decimal (`2×supp > total`),
    * and the surviving supplier keys consumed as a semi-join. The part
    * name-pattern filter broadcasts and prunes the fact first, q17's
    * semantics-free pruning argument.
    */
  private def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val pruned = T(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(T(s, dir, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(20,2)").as("__q"))
      // Materialized once (optimization r21): feeds both the per-supplier
      // and per-part aggregates (q17 note). Size-gated (r22): a name-pruned
      // fact subset scales with the fact.
      .narrowCheckpointIfSmall()
    val bySupp = pruned.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("__q")).as("__sq"))
    val byPart = pruned.groupBy(col("l_partkey").as("__pk"))
      .agg(sum(col("__q")).as("__tq"))
    val dominant = bySupp.join(byPart, col("l_partkey") === col("__pk"))
      .filter(col("__sq") * 2 > col("__tq"))
      .select(col("l_suppkey")).distinct()
    T(s, dir, "supplier")
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }
  // Q20: the half-share threshold in exact integer-scaled decimal.
  gate("q20_excess_suppliers", q20ExcessSuppliers,
    """WITH pruned AS (
      |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(20,2)) AS q
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')),
      |by_supp AS (SELECT l_partkey, l_suppkey, sum(q) AS sq
      |            FROM pruned GROUP BY l_partkey, l_suppkey),
      |by_part AS (SELECT l_partkey, sum(q) AS tq FROM pruned GROUP BY l_partkey)
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (SELECT l_suppkey FROM by_supp
      |                    JOIN by_part USING (l_partkey)
      |                    WHERE sq * 2 > tq)
      |ORDER BY s_suppkey""".stripMargin)

  /** TPC-H Q2 shape: the minimum-cost supplier per part — the correlated
    * `= min(cost over this part)` subquery decorrelated into a per-part min
    * joined back on (part, cost) equality. Supply cost derives from lineitem
    * (min unit price a supplier ever shipped the part at — the partsupp
    * analogue); each unit price is ONE double division evaluated identically
    * on both engines, so the min-equality join is exact. Region membership
    * prunes via a broadcast semi-join on the supplier side BEFORE the min:
    * the min is over eligible suppliers only, as in the spec.
    */
  private def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val euSupp = broadcast(T(s, dir, "supplier")
      .join(broadcast(T(s, dir, "nation")
          .join(broadcast(T(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey")))
    // Materialized once (optimization r21): `ps` feeds the per-part min
    // AND the equality join-back (the decorrelated-subquery pattern) —
    // un-cut, the whole fact scan + two semi-joins + aggregate ran twice
    // (the audit plan carried 26 parquet scans).
    val ps = T(s, dir, "lineitem")
      .join(broadcast(T(s, dir, "part").filter(col("p_size") === 15)
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(euSupp.select(col("s_suppkey").as("__eu")),
        col("l_suppkey") === col("__eu"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"))
      .narrowCheckpointIfSmall() // per-(part,supp) agg — size-gated (r22)
    val minCost = ps.groupBy(col("l_partkey").as("__pk"))
      .agg(min(col("ps_supplycost")).as("__minc"))
    ps.join(minCost,
        col("l_partkey") === col("__pk") && col("ps_supplycost") === col("__minc"))
      .join(euSupp, col("l_suppkey") === col("s_suppkey"))
      // supplycost stays a RAW double: it is one division evaluated
      // identically on both engines, so it hash-matches bitwise — a rounded
      // copy could sit on a ….5 boundary where the engines' double-rounding
      // disagrees (q14's discipline, inverted).
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
  }
  // Q2: per-(part,supplier) min unit price as the supply cost; the
  // decorrelated per-part min joined back on exact double equality.
  gate("q2_min_cost_supplier", q2MinCostSupplier,
    """WITH eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
      |            FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |            JOIN region ON n_regionkey = r_regionkey
      |            WHERE r_name = 'EUROPE'),
      |ps AS (SELECT l_partkey, l_suppkey,
      |              min(l_extendedprice / l_quantity) AS ps_supplycost
      |       FROM lineitem
      |       WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15)
      |         AND l_suppkey IN (SELECT s_suppkey FROM eu)
      |       GROUP BY l_partkey, l_suppkey),
      |mc AS (SELECT l_partkey AS pk, min(ps_supplycost) AS minc
      |       FROM ps GROUP BY l_partkey)
      |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, ps_supplycost
      |FROM ps JOIN mc ON l_partkey = pk AND ps_supplycost = minc
      |     JOIN eu ON l_suppkey = s_suppkey
      |ORDER BY s_acctbal DESC, s_name, p_partkey""".stripMargin)

  /** TPC-H Q11 shape: parts carrying an outsized share of one nation's
    * inventory value — a per-part aggregate against a GLOBAL scalar total
    * (one-row broadcast), thresholded in EXACT integer-scaled decimal
    * (`1000 × value > total`, q20's discipline — never a decimal division
    * whose scale rules differ across engines). Value derives from lineitem
    * (shipped extended price, the partsupp analogue); the nation filter
    * prunes via a bounded broadcast semi-join before either aggregate.
    */
  private def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val natSupp = broadcast(T(s, dir, "supplier")
      .join(broadcast(T(s, dir, "nation").filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")))
    // Materialized once (optimization r21): `perPart` feeds the global
    // total AND the share filter — the q17 decorrelation note applies.
    val perPart = T(s, dir, "lineitem")
      .join(natSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice"), 10).cast("decimal(30,10)")).as("__value"))
      .narrowCheckpointIfSmall() // per-part agg — size-gated (r22)
    val total = perPart.agg(sum(col("__value")).as("__tot"))
    perPart.crossJoin(broadcast(total))
      .filter(col("__value") * 1000 > col("__tot"))
      .select(col("l_partkey").as("p_partkey"),
        round(col("__value"), 2).cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }
  // Q11: the outsized-share threshold in exact integer-scaled decimal
  // (1000×value > total), never a cross-engine decimal division.
  gate("q11_important_parts", q11ImportantParts,
    """WITH per_part AS (
      |  SELECT l_partkey,
      |         sum(CAST(round(l_extendedprice, 10) AS DECIMAL(30,10))) AS value
      |  FROM lineitem
      |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
      |                      ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7')
      |  GROUP BY l_partkey)
      |SELECT l_partkey AS p_partkey,
      |       CAST(round(value, 2) AS DOUBLE) AS value
      |FROM per_part
      |WHERE value * 1000 > (SELECT sum(value) FROM per_part)
      |ORDER BY value DESC, p_partkey""".stripMargin)

  /** KMV distinct sketch beside the exact count ([[graft.ops.Sketches
    * .kmvDistinct]]): the sketch's aggregation shuffle carries ≤ k hashes
    * per group where the exact `count_distinct` carries the full key set —
    * the 100 TB trade this gate makes auditable by printing both. KMV
    * (unlike HLL) is a deterministic function of the key set, so the DuckDB
    * oracle replicates the murmur-finalizer hash in HUGEINT arithmetic and
    * hash-matches the estimate bit for bit.
    */
  private def kmvDistinctCust(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val sk = graft.ops.Sketches.kmvDistinct(o, Seq("o_orderpriority"), "o_custkey", 64)
    val exact = o.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    sk.join(exact, "o_orderpriority")
      .select(col("o_orderpriority"), col("est").as("est_distinct"),
        col("kth"), col("n_buf").cast("long").as("n_buf"), col("exact_distinct"))
      .orderBy(col("o_orderpriority"))
  }
  // The murmur3 32-bit finalizer re-derived in HUGEINT arithmetic (mod 2³²
  // at each step ≡ the Spark side's pmod-after-wrap), then the KMV order
  // statistics: k smallest distinct hashes, estimate (k-1)·2³²/kth.
  gate("kmv_distinct_cust", kmvDistinctCust,
    """WITH h1 AS (SELECT DISTINCT o_orderpriority,
      |                   CAST(o_custkey AS HUGEINT) % 4294967296 AS z1 FROM orders),
      |h2 AS (SELECT o_orderpriority,
      |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM h1),
      |h3 AS (SELECT o_orderpriority,
      |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM h2),
      |hashed AS (SELECT DISTINCT o_orderpriority,
      |                  CAST(xor(z3, z3 // 65536) AS BIGINT) AS hv FROM h3),
      |ranked AS (SELECT o_orderpriority, hv,
      |                  row_number() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS r
      |           FROM hashed),
      |sk AS (SELECT o_orderpriority,
      |              max(CASE WHEN r <= 64 THEN hv END) AS kth,
      |              least(64, count(*)) AS n_buf
      |       FROM ranked GROUP BY o_orderpriority),
      |ex AS (SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_distinct
      |       FROM orders GROUP BY o_orderpriority)
      |SELECT sk.o_orderpriority,
      |       CASE WHEN sk.n_buf < 64 THEN CAST(sk.n_buf AS DOUBLE)
      |            ELSE 63 * 4294967296.0 / sk.kth END AS est_distinct,
      |       sk.kth, sk.n_buf, ex.exact_distinct
      |FROM sk JOIN ex USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin)

  /** Histogram quantile sketch ([[graft.ops.Sketches.histQuantiles]]):
    * per-priority price percentiles from fixed-width integer buckets — the
    * bounded-state path whose shuffle carries one count per occupied bucket
    * where the exact rank statistic sorts every value; both are in the
    * output, so the ≤ width estimate error is auditable per row. Integer
    * bucketing keeps the sketch a deterministic function of the data, so
    * the oracle re-derives estimate AND exact twin bit for bit.
    */
  private def histQuantilesPrice(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.histQuantiles(
      T(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice",
      width = 8192L, qs = Seq(0.5, 0.9, 0.99))
      .orderBy(col("o_orderpriority"))
  // The histogram-estimate and rank-statistic twins, both re-derived: same
  // integer buckets, same ceil(q·n) target, same k-th-smallest audit.
  gate("hist_quantiles_price", histQuantilesPrice,
    """WITH b AS (SELECT o_orderpriority,
      |                  CAST(floor(o_totalprice) AS BIGINT) // 8192 AS bk,
      |                  count(*) AS c
      |           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT o_orderpriority, bk, c,
      |               CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY bk)
      |                    AS BIGINT) AS cum,
      |               CAST(sum(c) OVER (PARTITION BY o_orderpriority)
      |                    AS BIGINT) AS n
      |        FROM b),
      |est AS (SELECT o_orderpriority, max(n) AS n,
      |          min(CASE WHEN cum >= ceil(0.5 * n) THEN bk * 8192 END) AS est_p50,
      |          min(CASE WHEN cum >= ceil(0.9 * n) THEN bk * 8192 END) AS est_p90,
      |          min(CASE WHEN cum >= ceil(0.99 * n) THEN bk * 8192 END) AS est_p99
      |        FROM cum GROUP BY o_orderpriority),
      |rk AS (SELECT o_orderpriority, o_totalprice,
      |              row_number() OVER (PARTITION BY o_orderpriority
      |                                 ORDER BY o_totalprice) AS r,
      |              count(*) OVER (PARTITION BY o_orderpriority) AS n2
      |       FROM orders WHERE o_totalprice IS NOT NULL),
      |ex AS (SELECT o_orderpriority,
      |         min(CASE WHEN r = ceil(0.5 * n2) THEN o_totalprice END) AS exact_p50,
      |         min(CASE WHEN r = ceil(0.9 * n2) THEN o_totalprice END) AS exact_p90,
      |         min(CASE WHEN r = ceil(0.99 * n2) THEN o_totalprice END) AS exact_p99
      |       FROM rk GROUP BY o_orderpriority)
      |SELECT est.o_orderpriority, n, est_p50, est_p90, est_p99,
      |       exact_p50, exact_p90, exact_p99
      |FROM est JOIN ex USING (o_orderpriority)
      |ORDER BY est.o_orderpriority""".stripMargin)

  /** Log2-bucket histogram quantiles ([[graft.ops.Sketches
    * .histQuantilesLog2]]): the relative-error sketch over the wide-range
    * event values — bucket = exact integer bit-length (never float `log`,
    * whose last ulp differs across engines exactly at the power-of-two
    * boundaries), estimate = the containing bucket's 2^b lower bound,
    * audited by the exact rank statistic beside it.
    */
  private def histQuantilesLog2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.histQuantilesLog2(
      T(s, dir, "events").select(col("event_type"), col("value")),
      Seq("event_type"), "value", qs = Seq(0.5, 0.99))
      .orderBy(col("event_type"))
  // Same twins over power-of-two buckets: bit-length bucketing
  // (length(bin(v))-1 ≡ floor(log2 v) exactly), 1::BIGINT << b bounds.
  gate("hist_quantiles_log2", histQuantilesLog2,
    """WITH b AS (SELECT event_type,
      |                  CASE WHEN value < 1 THEN -1
      |                       ELSE length(bin(CAST(floor(value) AS BIGINT))) - 1
      |                  END AS bk,
      |                  count(*) AS c
      |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT event_type, bk, c,
      |               CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bk)
      |                    AS BIGINT) AS cum,
      |               CAST(sum(c) OVER (PARTITION BY event_type)
      |                    AS BIGINT) AS n
      |        FROM b),
      |est AS (SELECT event_type, max(n) AS n,
      |          min(CASE WHEN cum >= ceil(0.5 * n) THEN
      |                (CASE WHEN bk < 0 THEN 0 ELSE (1::BIGINT << bk) END)
      |              END) AS est_p50,
      |          min(CASE WHEN cum >= ceil(0.99 * n) THEN
      |                (CASE WHEN bk < 0 THEN 0 ELSE (1::BIGINT << bk) END)
      |              END) AS est_p99
      |        FROM cum GROUP BY event_type),
      |rk AS (SELECT event_type, value,
      |              row_number() OVER (PARTITION BY event_type
      |                                 ORDER BY value) AS r,
      |              count(*) OVER (PARTITION BY event_type) AS n2
      |       FROM events WHERE value IS NOT NULL),
      |ex AS (SELECT event_type,
      |         min(CASE WHEN r = ceil(0.5 * n2) THEN value END) AS exact_p50,
      |         min(CASE WHEN r = ceil(0.99 * n2) THEN value END) AS exact_p99
      |       FROM rk GROUP BY event_type)
      |SELECT est.event_type, n, est_p50, est_p99, exact_p50, exact_p99
      |FROM est JOIN ex USING (event_type)
      |ORDER BY est.event_type""".stripMargin)

  /** Count-Min sketch gate ([[graft.ops.Sketches.cmsCounts]]): per-user
    * event-count estimates for a 10-key probe set from a 4×64 counter
    * sketch, next to their exact counts — est ≥ exact by construction
    * (collisions only add), and the overcount is the measured price of
    * depth·width counters vs a full distinct-key shuffle. Salted murmur
    * finalizers make the sketch a deterministic function of the data, so
    * the oracle re-derives every counter in HUGEINT bit for bit.
    */
  private def cmsUserCounts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.cmsCounts(
      T(s, dir, "events").select(col("user_id")),
      "user_id", probeKeys = (0L until 10L).toSeq, depth = 4, width = 64L)
  // The CMS counters re-derived: the same murmur finalizer lattice as
  // kmv_distinct_cust in HUGEINT, salted per depth row (key + r·7919),
  // bucket = hash mod width; est = min over the 4 rows of the probe
  // key's bucket count (absent bucket ⇒ 0).
  gate("cms_user_counts", cmsUserCounts,
    """WITH base AS (SELECT user_id, r FROM events, unnest([0,1,2,3]) AS t(r)),
      |h1 AS (SELECT user_id, r,
      |              CAST(user_id + r * 7919 AS HUGEINT) % 4294967296 AS z1 FROM base),
      |h2 AS (SELECT user_id, r,
      |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM h1),
      |h3 AS (SELECT user_id, r,
      |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM h2),
      |hb AS (SELECT user_id, r,
      |              CAST(xor(z3, z3 // 65536) % 64 AS BIGINT) AS bucket FROM h3),
      |sk AS (SELECT r, bucket, count(*) AS cnt FROM hb GROUP BY 1, 2),
      |pr AS (SELECT unnest(range(0, 10)) AS user_id),
      |pb AS (SELECT user_id, r FROM pr, unnest([0,1,2,3]) AS t(r)),
      |q1 AS (SELECT user_id, r,
      |              CAST(user_id + r * 7919 AS HUGEINT) % 4294967296 AS z1 FROM pb),
      |q2 AS (SELECT user_id, r,
      |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM q1),
      |q3 AS (SELECT user_id, r,
      |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM q2),
      |probes AS (SELECT user_id, r,
      |                  CAST(xor(z3, z3 // 65536) % 64 AS BIGINT) AS bucket FROM q3),
      |est AS (SELECT p.user_id, min(coalesce(sk.cnt, 0)) AS est
      |        FROM probes p LEFT JOIN sk ON p.r = sk.r AND p.bucket = sk.bucket
      |        GROUP BY p.user_id),
      |ex AS (SELECT user_id, count(*) AS exact FROM events
      |       WHERE user_id BETWEEN 0 AND 9 GROUP BY user_id)
      |SELECT est.user_id, est.est, coalesce(ex.exact, 0) AS exact
      |FROM est LEFT JOIN ex ON est.user_id = ex.user_id
      |ORDER BY est.user_id""".stripMargin)

  /** Theta-style KMV set algebra ([[graft.ops.Sketches.kmvSetOps]]): union
    * and intersection cardinality of user sets between every event-type
    * pair, from one ≤ k-hash sketch per type — the audience-overlap query
    * that at 100 TB must NOT re-scan raw keys per pair. The sketch is a
    * deterministic function of the key sets, so the oracle re-derives the
    * whole algebra (hash lattice, per-group minima, pair thresholds) in SQL
    * and hash-matches the estimates bit for bit.
    */
  private def kmvSetopsUsers(s: SparkSession, dir: String): DataFrame =
    // Raw table read: the algebra touches only (event_type, user_id), so the
    // scan prunes to two columns — no time derivation on this path.
    graft.ops.Sketches.kmvSetOps(T(s, dir, "events"), "event_type", "user_id", 64)
      .orderBy(col("part_a"), col("part_b"))
  // The whole theta algebra re-derived: same hash lattice as
  // kmv_distinct_cust, per-type ≤64-minima buffers, pair threshold
  // θ∧ = min over saturated sides (kth+1; 2³² while unsaturated), union =
  // distinct sub-θ hashes from either buffer, intersection = common ones;
  // the estimate arithmetic repeats the Spark side's exact double ops.
  gate("kmv_setops_users", kmvSetopsUsers,
    """WITH h1 AS (SELECT DISTINCT event_type,
      |                   CAST(user_id AS HUGEINT) % 4294967296 AS z1 FROM events),
      |h2 AS (SELECT event_type,
      |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM h1),
      |h3 AS (SELECT event_type,
      |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM h2),
      |hashed AS (SELECT DISTINCT event_type,
      |                  CAST(xor(z3, z3 // 65536) AS BIGINT) AS hv FROM h3),
      |ranked AS (SELECT event_type, hv,
      |                  row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
      |           FROM hashed),
      |buf AS (SELECT event_type, hv FROM ranked WHERE r <= 64),
      |meta AS (SELECT event_type, max(hv) AS kth, count(*) AS nb
      |         FROM buf GROUP BY event_type),
      |pairs AS (SELECT a.event_type AS part_a, b.event_type AS part_b,
      |                 least(CASE WHEN a.nb < 64 THEN 4294967296 ELSE a.kth + 1 END,
      |                       CASE WHEN b.nb < 64 THEN 4294967296 ELSE b.kth + 1 END)
      |                   AS theta
      |          FROM meta a JOIN meta b ON a.event_type < b.event_type),
      |uni AS (SELECT p.part_a, p.part_b, p.theta, count(DISTINCT x.hv) AS nu
      |        FROM pairs p JOIN buf x
      |          ON (x.event_type = p.part_a OR x.event_type = p.part_b)
      |         AND x.hv < p.theta
      |        GROUP BY 1, 2, 3),
      |com AS (SELECT p.part_a, p.part_b, count(*) AS nc
      |        FROM pairs p
      |             JOIN buf xa ON xa.event_type = p.part_a AND xa.hv < p.theta
      |             JOIN buf xb ON xb.event_type = p.part_b AND xb.hv = xa.hv
      |        GROUP BY 1, 2)
      |SELECT u.part_a, u.part_b,
      |       CAST(u.nu AS DOUBLE) * 4294967296.0 / CAST(u.theta AS DOUBLE)
      |         AS est_union,
      |       CAST(coalesce(c.nc, 0) AS DOUBLE) * 4294967296.0
      |         / CAST(u.theta AS DOUBLE) AS est_intersect,
      |       coalesce(c.nc, 0) AS n_common, u.theta AS theta_kth
      |FROM uni u LEFT JOIN com c ON u.part_a = c.part_a AND u.part_b = c.part_b
      |ORDER BY u.part_a, u.part_b""".stripMargin)
}
