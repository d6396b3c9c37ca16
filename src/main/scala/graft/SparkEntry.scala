package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.uts._
import graft.ops.{AsofJoin, Dedup, Funnel, Joins, Layout, Multimodal, Similarity, Text}
import graft.ops.Materialize.NarrowSyntax

/** Driver contract — one `queries` entry (+ `oracleSql` ANSI SQL when
  * expressible) per operator from SURVEY.md §2 and the extended-mandate ops.
  *
  * Determinism rules shared by every Spark/oracle pair:
  *  - every computed column aliased identically on both sides;
  *  - floating aggregates rounded (2 decimals for money-scale sums whose
  *    fp-error exceeds 1e-5, 4 for means/ratios/scores);
  *  - explicit total ORDER BY with a unique tiebreak;
  *  - counts surfaced as BIGINT on both sides.
  */
object SparkEntry {
  private val Hour = 3600L * 1000
  private val Day = 24 * Hour

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tsdb.table(s, dir, name)

  private def ev(s: SparkSession, dir: String): UtsSeries = Tsdb.events(s, dir)

  /** `now` for time-relative queries = newest event, so queries are
    * deterministic per scale factor (the reference's `Date.now()` is a test
    * parameter for us, SURVEY.md §2.4 time-shifted queries). Cached per data
    * directory (the corpora are immutable): the max-scan job runs once per
    * JVM instead of once per time-relative query.
    */
  /** Collision-free identifier token for a corpus path: sanitized basename +
    * md5 prefix of the full path. `hashCode`-derived names can collide
    * across distinct dirs (and `math.abs(Int.MinValue)` is negative), which
    * would silently alias one corpus's temp resources to another's.
    */
  private def pathToken(dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val base = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(24)
    s"${base}_$digest"
  }

  private val nowCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def nowOf(series: UtsSeries, dir: String): Long =
    nowCache.getOrElseUpdate(dir, series.df.agg(max(col("time"))).head().getLong(0))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    utsIntervalMean(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- uts core

  private def utsIntervalMean(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val now = nowOf(e, dir)
    e.query(UtsQuery(
      Seq("mean_value" -> Mean("value"), "n" -> CountM()),
      where = Seq(Pred.gt("time", now - 7 * Day)),
      group = IntervalGroup(Hour, fill = true, now)))
      .select(col("bin_start"), col("bin_width"),
        round(col("mean_value"), 4).as("mean_value"), col("n"))
      .orderBy(col("bin_start").desc)
  }

  private def utsGlobalMetrics(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).query(UtsQuery(Seq(
      "mean_value" -> Mean("value"), "sum_value" -> SumM("value"),
      "n_all" -> CountM(), "n_value" -> CountM(Some("value")),
      "max_value" -> MaxM("value"), "min_value" -> MinM("value"),
      "last_value" -> Last("value"))))
      .select(
        round(col("mean_value"), 4).as("mean_value"),
        round(col("sum_value"), 4).as("sum_value"),
        col("n_all"), col("n_value"), col("max_value"), col("min_value"),
        col("last_value"))

  private def utsCountByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).query(UtsQuery(
      Seq("n" -> CountM(), "n_value" -> CountM(Some("value")),
        "sum_value" -> SumM("value"), "mean_value" -> Mean("value")),
      group = ColumnGroup(Seq("event_type"))))
      .select(col("event_type"), col("n"), col("n_value"),
        round(col("sum_value"), 4).as("sum_value"),
        round(col("mean_value"), 4).as("mean_value"))
      .orderBy(col("event_type"))

  private def utsWhereFilter(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .filter(Pred.conj(Seq(Pred.gt("value", 150.0), Pred.eq("event_type", "purchase"))))
      .select(col("event_id"), col("time"), col("value"))
      .orderBy(col("event_id"))

  /** Disjunction surface gate: a [[graft.uts.Or]] node inside the query
    * conjunction — `(value > 180 OR event_type = 'signup') AND
    * event_type < 'v'` compiled to one filter. Pins the reference-absent
    * OR extension AND its NULL semantics: a NULL-value signup row is kept
    * (`NULL OR TRUE = TRUE`, the eval-each-then-OR result), identical
    * three-valued logic in the oracle.
    */
  private def utsWhereDisj(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .filter(Pred.conj(Seq(
        Pred.disj(Pred.gt("value", 180.0), Pred.eq("event_type", "signup")),
        Pred.lt("event_type", "v"))))
      .select(col("event_id"), col("time"), col("value"), col("event_type"))
      .orderBy(col("event_id"))

  private def utsLastInterval(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val now = nowOf(e, dir)
    e.query(UtsQuery(
      Seq("last_value" -> Last("value")),
      where = Seq(Pred.gt("time", now - 3 * Day)),
      group = IntervalGroup(6 * Hour, fill = false, now)))
      .orderBy(col("bin_start").desc)
  }

  private def utsMapSeries(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      ev(s, dir).df.filter(col("user_id") === 7)
        .select(col("event_id"), col("time"), col("value")),
      "time", "event_id")

  // Derivative.apply already emits (partitionCols, der_time) order; the
  // narrow projection preserves it — no second sort.
  private def utsDerivative(s: SparkSession, dir: String): DataFrame =
    graft.uts.Derivative(
      ev(s, dir).df.filter(col("user_id") === 1),
      "value", 6 * Hour, "time", Nil, Some("event_id"))
      .select(col("der_time"), round(col("der_value"), 4).as("der_value"))

  /** [[utsDerivative]] over ALL users with `partitionCols = user_id` — the
    * parallel path ([[graft.uts.Derivative]] windows/aggregates/spines per
    * key): the shape the operator takes at scale, pinned by a PARTITION BY
    * oracle.
    */
  private def utsDerivativeByUser(s: SparkSession, dir: String): DataFrame =
    graft.uts.Derivative(
      ev(s, dir).df, "value", 6 * Hour, "time", Seq("user_id"), Some("event_id"))
      .select(col("user_id"), col("der_time"),
        round(col("der_value"), 4).as("der_value"))

  private def utsRemove(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).remove(Seq(Pred.eq("event_type", "purchase")))
      .query(UtsQuery(Seq("n" -> CountM()), group = ColumnGroup(Seq("event_type"))))
      .orderBy(col("event_type"))

  private def utsRetentionDaily(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val now = nowOf(e, dir)
    e.retain(10 * Day, now)
      .query(UtsQuery(Seq("n" -> CountM()), group = IntervalGroup(Day, fill = true, now)))
      .orderBy(col("bin_start").desc)
  }

  // ------------------------------------------------------- relational (TPC-H-ish)

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

  /** One-pass column profiler ([[graft.ops.Profile.columns]]): counts,
    * exact distincts, and typed min/max for four documents columns from a
    * SINGLE scan + aggregate — the corpus-drop sanity report. The oracle is
    * the naive per-column UNION ALL; the engine's point is folding it into
    * one pass.
    */
  private def profileColumns(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.columns(T(s, dir, "documents"),
      Seq("doc_id", "n_chars", "lang", "source"))
      .orderBy(col("column"))

  /** Snapshot reconciliation ([[graft.ops.Diff.snapshots]]): the orders
    * table against a derived next snapshot with planted removals (every
    * 97th key), edits (+1.0 total price on every 13th), and additions
    * (copies of every 101st under shifted keys) — the COW-lifecycle audit
    * that reports exactly the delta. Full-outer value compare, oracle as a
    * FULL JOIN with `IS NOT DISTINCT FROM` per column.
    */
  /** Time-travel gate ([[graft.ops.Versioned]]): version 1 = every third
    * event; version 2 = a MERGE of every fourth event with boosted values
    * (replaces the %12 overlap, inserts the rest), copy-on-write at file
    * granularity. The gate reads BOTH snapshots after both writes — the
    * oracle re-derives each version's row set relationally, so a v1 read
    * polluted by the upsert (the property in-place COW cannot offer), a
    * dropped carry, or a duplicate merge row all turn it red.
    */
  /** The shared versioned-table fixture for `table_time_travel` and
    * `table_version_diff` — ONE builder under the shared cache token (the
    * [[wdistStreamDir]] first-caller-wins discipline). */
  private def vtabPath(s: SparkSession, dir: String): String =
    builtIndexPath("vtab", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") + lit(1000.0)),
        s"$p/t", Seq("event_id")): Unit
    }

  private def tableTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = vtabPath(s, dir)
    def stats(v: Int) = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(v).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
    stats(1).unionByName(stats(2)).orderBy(col("version"))
  }

  /** Temporal audit gate: [[graft.ops.Versioned.diffVersions]] over the
    * shared fixture — "what did the v2 ingest actually do", summarized per
    * change type. The oracle derives both snapshots relationally and
    * replays the null-safe value compare (a NULL-valued %12 row is
    * UNCHANGED: NULL+1000 is NULL on both sides). */
  private def tableVersionDiff(s: SparkSession, dir: String): DataFrame = {
    val path = vtabPath(s, dir)
    graft.ops.Versioned.diffVersions(s, s"$path/t", 1L, 2L, Seq("event_id"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("change"))
  }

  /** Schema-evolution gate ([[graft.ops.Versioned]]): version 1 = every
    * third event under the original (event_id, event_type, value) schema;
    * version 2 = a MERGE whose batch ADDS a `src` column (event_id % 7).
    * The gate reads both snapshots and reports each version's column
    * ARITY alongside row/src statistics: v1 must still read with 3 columns
    * (old snapshots keep their schema), v2 with 4 — where carried rows
    * (files that physically predate `src`) read as NULL and only batch
    * rows carry values. The oracle re-derives both snapshots relationally
    * with the batch-only src; a carried row leaking a src value, a dropped
    * NULL backfill, or a v1 read polluted by the evolved schema turns it
    * red.
    */
  private def vtabSePath(s: SparkSession, dir: String): String =
    builtIndexPath("vtab-se", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") + lit(1000.0))
          .withColumn("src", (col("event_id") % 7).cast("long")),
        s"$p/t", Seq("event_id")): Unit
    }

  /** RESTORE gate ([[graft.ops.Versioned.restore]]): the bad-ingest
    * roll-back — v1, a boosted-MERGE v2, then restore(1) as v3 carrying
    * v1's files BY REFERENCE (no rewrite; v2 stays readable for the
    * post-mortem). The gate reads v1 and the restored v3: both must carry
    * IDENTICAL stats, which the oracle pins by deriving the base slice
    * once and emitting it under both version numbers — a restore that
    * rewrote, dropped, or leaked v2 rows turns it red.
    */
  private def tableRestore(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("vtab-restore", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") + lit(1000.0)),
        s"$p/t", Seq("event_id")): Unit
      require(graft.ops.Versioned.restore(s, s"$p/t", 1L) == 3L,
        "restore must mint version 3")
    }
    def stats(v: Int) = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(v).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
    stats(1).unionByName(stats(3)).orderBy(col("version"))
  }

  /** VACUUM gate ([[graft.ops.Versioned.vacuum]]) — the retention verb
    * exercised end to end with STRUCTURALLY FORCED file accounting:
    * v1 = every-third events in four hash files; v2 = a disjoint-key
    * MERGE (touches nothing, all four v1 files carried by reference);
    * v3 = a MERGE over every v1 key (all four original files rewritten,
    * v2's files carried). `vacuum(keepLast = 1)` must then delete exactly
    * the four v1 data files (in no kept manifest) while v2's carried
    * files SURVIVE their own manifest's deletion (v3 references them) —
    * the gate reads v3 (its %3=1 rows physically live in v2-era files, so
    * a wrongly-deleted carry breaks the stats), reports the reclaimed
    * count, and counts the now-unresolvable v1/v2 reads. A vacuum that
    * deletes a live file, keeps an orphan, or leaves dropped manifests
    * readable turns the gate red.
    */
  private def tableVacuum(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("vtab-vac", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 3 === 1)
          .withColumn("value", col("value") + lit(1000.0))
          .repartition(2, col("event_id")),
        s"$p/t", Seq("event_id")): Unit
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 3 === 0)
          .withColumn("value", col("value") + lit(2000.0)),
        s"$p/t", Seq("event_id")): Unit
      val removed = graft.ops.Versioned.vacuum(s, s"$p/t", keepLast = 1)
      import s.implicits._
      Seq(removed.toLong).toDF("n_removed").coalesce(1)
        .write.parquet(s"$p/report")
    }
    val nDropped = Seq(1L, 2L).count { v =>
      try { graft.ops.Versioned.readVersion(s, s"$path/t", v); false }
      catch { case _: IllegalArgumentException => true }
    }
    graft.ops.Versioned.readVersion(s, s"$path/t", 3L)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(3).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
      .crossJoin(s.read.parquet(s"$path/report"))
      .withColumn("n_dropped_reads", lit(nDropped.toLong))
  }

  private def tableSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = vtabSePath(s, dir)
    def stats(v: Int) = {
      val d = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      val src = if (d.columns.contains("src")) col("src") else lit(null).cast("long")
      d.agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        count(src).as("n_src"),
        coalesce(sum(src), lit(0L)).as("sum_src"))
        .select(lit(v).as("version"), lit(d.columns.length).as("n_cols"),
          col("n"), col("n_value"), col("sum_value"), col("n_src"), col("sum_src"))
    }
    stats(1).unionByName(stats(2)).orderBy(col("version"))
  }

  /** The documents relation with a planted ESCAPE-HAZARD column — quotes,
    * backslash, tab, comma, non-ASCII — so the text-format round-trip
    * gates exercise real escaping (the corpus text itself is
    * whitespace-clean words, which would make any serializer look
    * correct). */
  private def hazardDocs(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      .withColumn("note",
        concat(lit("p\\q\t\"r\", é; "), substring(col("text"), 1, 16)))

  /** Shared round-trip compare for the text-source gates: per source, the
    * read-back row/char mass plus the count of rows that came back
    * DIFFERENT (full-outer by doc_id — a lost or duplicated row counts as
    * a mismatch, not just a changed field). The oracle derives the masses
    * from the parquet source and pins `n_mismatch` at ZERO, so an escaping
    * defect in EITHER direction (writer or reader) turns the gate red.
    */
  private def roundTripReport(orig: DataFrame, back: DataFrame): DataFrame = {
    val a = orig.select(col("doc_id"), col("source"), col("text"), col("note"))
    val b = back.select(col("doc_id").as("b_id"), col("source").as("b_source"),
      col("text").as("b_text"), col("note").as("b_note"))
    val cmp = a.join(b, col("doc_id") === col("b_id"), "full_outer")
      .select(
        coalesce(col("source"), col("b_source")).as("src"),
        when(col("doc_id").isNull || col("b_id").isNull ||
          col("source") =!= col("b_source") || col("text") =!= col("b_text") ||
          col("note") =!= col("b_note"), lit(1)).otherwise(lit(0)).as("bad"),
        coalesce(length(col("b_text")), lit(0)).cast("long").as("chars"))
    graft.ops.Ordered.smallResult(
      cmp.groupBy(col("src").as("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("sum_chars"),
          sum(col("bad")).as("n_mismatch")),
      "source")
  }

  /** JSONL source/sink round-trip gate: the hazard relation written as
    * JSON-lines once per JVM, read back under an EXPLICIT schema
    * (schema-on-read, the landing-zone discipline — inference would cost a
    * full extra pass and can mistype empty partitions), row-compared
    * against the source. JSONL is THE interchange format of web-corpus
    * pipelines; this gate is the library's claim that documents survive
    * the trip bit-exactly, escaping included.
    */
  private def sourceJsonl(s: SparkSession, dir: String): DataFrame = {
    val docs = hazardDocs(s, dir)
    val path = builtIndexPath("jsonl", dir)(p => docs.write.json(s"$p/docs"))
    val back = s.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
      .json(s"$path/docs")
    roundTripReport(docs, back)
  }

  /** CSV round-trip gate: same discipline over the quoted-CSV
    * writer/reader (header, explicit schema on read). The hazard column
    * carries commas and quotes — the fields the quoting machinery exists
    * for. BOTH sides pin RFC-4180 double-quote escaping (`escape="`):
    * Spark's DEFAULT is backslash-escaping, which this gate measured
    * round-tripping asymmetrically on quote+backslash content (rows came
    * back altered — the first red run is kept in the scaladoc as the
    * reason the option is not optional). Embedded NEWLINES are
    * deliberately absent: they would force `multiLine=true`, which makes
    * the read non-splittable (one task per file) — at 100 TB that is the
    * wrong trade, so the library's CSV contract is RFC-quoted,
    * single-line records, stated rather than silently assumed.
    */
  private def sourceCsv(s: SparkSession, dir: String): DataFrame = {
    val docs = hazardDocs(s, dir)
    val path = builtIndexPath("csvsrc", dir)(p =>
      docs.write.option("header", "true").option("escape", "\"")
        // The WRITER defaults ignore*WhiteSpace to TRUE — it silently
        // TRIMS field-edge whitespace (measured: every note ending in a
        // space came back shortened). Data pipelines cannot accept a
        // serializer that edits values; both trims are pinned off.
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(s"$p/docs"))
    val back = s.read.option("header", "true").option("escape", "\"").schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
      .csv(s"$path/docs")
    roundTripReport(docs, back)
  }

  /** ORC round-trip gate: the [[sourceJsonl]] discipline over Spark's
    * built-in ORC columnar source — the second major lake format next to
    * parquet, so a user landing or exporting ORC never leaves the
    * library. Binary format ⇒ escaping is moot; what the gate pins is the
    * writer/reader pair itself: string fidelity through the hazard column
    * (backslash, tab, quotes, non-ASCII é survive the ORC string codec
    * bit-exactly) and schema fidelity under an EXPLICIT read schema (ORC
    * self-describes, but a landing zone still declares its expectations —
    * same rationale as the text gates).
    */
  private def sourceOrc(s: SparkSession, dir: String): DataFrame = {
    val docs = hazardDocs(s, dir)
    val path = builtIndexPath("orcsrc", dir)(p => docs.write.orc(s"$p/docs"))
    val back = s.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
      .orc(s"$path/docs")
    roundTripReport(docs, back)
  }

  private def tableDiffSnapshots(s: SparkSession, dir: String): DataFrame = {
    val old = T(s, dir, "orders")
    val base = old.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val added = old.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
    graft.ops.Diff.snapshots(old, base.unionByName(added), Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  /** Corpus-drop drift report: [[graft.ops.Profile.columns]] over two
    * snapshots (the same planted next-snapshot as [[tableDiffSnapshots]])
    * joined per column — the "what moved between drops" summary a pipeline
    * checks before retraining: row/distinct counts and numeric bounds side
    * by side. Two one-pass profiles + a column-cardinality join (bounded by
    * the schema, not the data).
    */
  private def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val old = T(s, dir, "orders")
    val base = old.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val added = old.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
    val neu = base.unionByName(added)
    val cols = Seq("o_orderkey", "o_totalprice")
    def prof(df: DataFrame, tag: String) =
      graft.ops.Profile.columns(df, cols).select(
        col("column"),
        col("n_rows").as(s"n_rows_$tag"),
        col("n_distinct").as(s"n_distinct_$tag"),
        col("min_num").as(s"min_$tag"),
        col("max_num").as(s"max_$tag"))
    prof(old, "old").join(prof(neu, "new"), "column")
      .orderBy(col("column"))
  }

  /** Bloom-pruned semi-join under the plain `WHERE EXISTS` oracle: the
    * in-plan Bloom bitmap ([[graft.ops.Joins.bloomSemiJoin]]) may pass false
    * positives into the exact semi-join but never drops a match, so the
    * result must be row-identical to the unpruned join.
    */
  private def joinBloomPruned(s: SparkSession, dir: String): DataFrame =
    Joins.bloomSemiJoin(
      T(s, dir, "lineitem"),
      T(s, dir, "orders").filter(col("o_totalprice") > 450000),
      "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("l_returnflag"))

  /** Salted replicated join under the plain join oracle: the skew-spreading
    * salt ([[graft.ops.Joins.saltedRepJoin]]) only changes row routing, so
    * the aggregate over the joined output must equal the direct join's.
    */
  private def joinSkewSalted(s: SparkSession, dir: String): DataFrame =
    Joins.saltedRepJoin(
      T(s, dir, "lineitem"), T(s, dir, "supplier"),
      "l_suppkey", "s_suppkey", replicate = 4)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("s_nationkey"))

  /** Range join over the grid decomposition
    * ([[graft.ops.Joins.rangeJoin]]): every event inside its user's
    * first-3-days onboarding window `[first_event, first_event + 3d]` —
    * points are the events, intervals one row per user, matched on
    * user_id + containment. The oracle is the plain theta join (the shape
    * Spark would plan as a nested loop); equality-only shuffle and
    * row-identical output are JoinsLayoutSpec's claims.
    */
  private def rangeJoinEvents(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).df.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("time").cast("long").as("time"))
    val win = e.groupBy(col("user_id"))
      .agg(min(col("time")).as("lo"))
      .withColumn("hi", col("lo") + lit(3 * Day))
    Joins.rangeJoin(e, win, "time", "lo", "hi", bucketWidth = Day, keys = Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("time"))
      .orderBy(col("event_id"))
  }

  private def ngramTopCounts(s: SparkSession, dir: String): DataFrame =
    Text.ngramCounts(T(s, dir, "documents"), n = 2, k = 20)

  /** Exact heavy hitters at φ = 1/1000 of the corpus token stream — the
    * two-pass Misra-Gries plan ([[graft.ops.Text.heavyHitters]]) whose
    * answer must equal the oracle's one-shuffle exact formulation.
    */
  private def heavyHittersTerms(s: SparkSession, dir: String): DataFrame =
    Text.heavyHitters(T(s, dir, "documents"), phiDen = 1000)

  /** The mixture-gate recipe: three named sources get big budget shares,
    * the long tail gets 2% each, against a 50k-char budget.
    */
  private val MixWeights = Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.1)
  private val MixDefault = 0.02

  private def mixturePlanOf(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixturePlan(T(s, dir, "documents"),
      "source", "n_chars", MixWeights, defaultWeight = MixDefault, budget = 50000L)

  private def mixturePlanQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(mixturePlanOf(s, dir), "source")

  private def mixtureApplyQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.applyMixturePlan(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        mixturePlanOf(s, dir), "source", "doc_id"),
      "doc_id")

  /** Per-label mean embedding (pooling), exploded to (label, pos, m) rows —
    * arrays stay out of the hash compare.
    */
  private def embMeanByLabel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Similarity.meanVectors(T(s, dir, "embeddings"), "label")
        .select(col("label"), posexplode(col("mvec")).as(Seq("pos", "m")))
        .select(col("label"), col("pos").cast("long").as("pos"), col("m")),
      "label", "pos")

  /** Canonicalization gate over PLANTED messy whitespace/casing (the corpus
    * itself is single-spaced lowercase words).
    */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val messy = T(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") < 50,
        concat(lit("  "), col("text"), lit("\t\tmixed   CASE\n")))
        .otherwise(col("text")).as("text"))
    graft.ops.Ordered.smallResult(Text.normalize(messy), "doc_id")
  }

  /** Per-event session sequence per user (30-minute gap) — the composable
    * row-level twin of the `session_counts_by_type` aggregate
    * ([[graft.ops.Windowed.sessionIds]]).
    */
  private def sessionIdsByUser(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Windowed.sessionIds(
        ev(s, dir).df.select(col("event_id"), col("user_id"), col("time")),
        "user_id", "time", gapMs = 1800000L),
      "event_id")

  /** Quality-band survivors: keep the middle [p10, p90] of the corpus's own
    * quality distribution ([[graft.ops.Text.filterByQualityBand]]).
    */
  private def qualityBand(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.filterByQualityBand(T(s, dir, "documents"), 0.1, 0.9), "doc_id")

  /** The ingest pipeline COMPOSED under one oracle: normalize → exact dedup
    * → corpus-relative quality band → per-source survivor counts. Planted
    * messy re-crawls ('  ' + UPPER(text) for 20 docs) make every stage
    * load-bearing: only normalization folds them onto their originals, only
    * dedup then drops them (min-id keeps the original), and the band is
    * computed over the survivors — a regression in ANY stage moves the
    * final counts.
    */
  private def pipelineCleanMix(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
    val planted = base.filter(col("doc_id") < 20).select(
      (col("doc_id") + 9000L).as("doc_id"),
      concat(lit("  "), upper(col("text"))).as("text"), col("source"))
    val corpus = base.unionByName(planted)
    // canon feeds the dedup, the band scoring, and the final join-back —
    // checkpointed so the regex normalization scan runs once, not thrice.
    val canon = Text.normalize(corpus)
      .narrowCheckpointIfSmall() // corpus text — size-gated (r22)
    val survivors = Dedup.exact(canon, "norm_text")
    val kept = Text.filterByQualityBand(
      canon.join(survivors.select(col("doc_id")), "doc_id"),
      0.05, 0.95, textCol = "norm_text")
    graft.ops.Ordered.smallResult(
      kept.join(corpus.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
      "source")
  }

  /** Incremental ingest dedup: a new batch of 60 docs — 50 re-crawled
    * copies and 10 genuinely edited ones — admitted against the existing
    * corpus; only the edits survive ([[graft.ops.Dedup.exactAgainst]]).
    */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") < 60).select(
      (col("doc_id") + 10000L).as("doc_id"),
      when(col("doc_id") < 50, col("text"))
        .otherwise(concat(col("text"), lit(" v2"))).as("text"))
    graft.ops.Ordered.smallResult(
      Dedup.exactAgainst(incoming, docs, "text", "text").select(col("doc_id")),
      "doc_id")
  }

  /** Persisted MinHash index per corpus dir, a [[fixture]]. */
  private def minhashIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("minhash-idx", dir)(p => Dedup.minhashIndexBuild(
      T(s, dir, "documents").select(col("doc_id"), col("text")), p, n = 3))

  /** Incremental NEAR-dup ingest: re-crawled-but-EDITED snapshots (every
    * 50th long doc, re-id'd and suffixed — different md5, so
    * [[dedupIncremental]]'s exact path admits them all) probed against the
    * persisted MinHash signature index ([[minhashIndexPath]]); verified
    * matches at J ≥ 0.6 are the output. The oracle recomputes exact
    * shingle Jaccard between the same planted batch and the whole corpus —
    * at the planted docs' J (≈ 0.9: a 3-word suffix on a > 200-char doc)
    * the 8×4 banding's candidate recall is ≈ 1, so LSH-with-verification
    * equals the exact computation, the same adjudication as
    * `dedup_minhash_lsh`.
    */
  private def dedupNeardupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val incoming = docs
      .filter(col("doc_id") % 50 === 0 && length(col("text")) > 200)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" updated crawl snapshot")).as("text"))
    Dedup.nearDupAgainst(incoming, minhashIndexPath(s, dir), n = 3, threshold = 0.6)
  }

  /** MinHash index for the APPEND lifecycle gate, one per corpus dir (a
    * [[fixture]]). Separate from [[minhashIndexPath]]'s index
    * because this one is MUTATED: built over the even-id half of the
    * corpus, then [[graft.ops.Dedup.minhashIndexAppend]] ingests the odd
    * half — so any probe match against an odd document is a row that can
    * ONLY come from appended files.
    */
  private def appendMinhashIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("minhash-apx", dir) { p =>
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.minhashIndexBuild(docs.filter(col("doc_id") % 2 === 0), p, n = 3)
      Dedup.minhashIndexAppend(docs.filter(col("doc_id") % 2 === 1), p)
    }

  /** Persisted-index APPEND lifecycle: the index is built over only the
    * even-id half of the corpus, the odd half arrives later as an ingest
    * batch ([[graft.ops.Dedup.minhashIndexAppend]] — one sorted delta file
    * per batch partition beside the partitioned base, no rebuild), and a
    * probe batch of edited re-crawls drawn from BOTH halves (doc_id % 25 = 0
    * covers even %50 = 0 and odd %50 = 25 sources) runs against the
    * result. Every match whose ref_id is odd is evidence the probe read
    * appended files —
    * a silently-dropped append would return only the even matches, and the
    * oracle (exact Jaccard against the full corpus, which IS even∪odd)
    * would turn the gate red. Same candidate-recall adjudication as
    * `dedup_neardup_incremental` (J ≈ 0.9 planted pairs; banding recall
    * ≈ 1 there).
    */
  private def dedupIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val incoming = docs
      .filter(col("doc_id") % 25 === 0 && length(col("text")) > 200)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" appended crawl snapshot")).as("text"))
    Dedup.nearDupAgainst(incoming, appendMinhashIndexPath(s, dir), n = 3, threshold = 0.6)
  }

  /** Persisted inverted index per corpus dir, a [[fixture]]. Built over
    * the even-id half, then the odd half ingests via
    * [[graft.ops.Inverted.append]] — so any
    * search hit on an odd document is a row that can ONLY come from
    * appended posting files, and the build+append lifecycle sits inside
    * both search gates.
    */
  private def invertedIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("inv-idx", dir) { p =>
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.Inverted.build(docs.filter(col("doc_id") % 2 === 0), p)
      graft.ops.Inverted.append(docs.filter(col("doc_id") % 2 === 1), p)
    }

  /** Conjunctive keyword search off the persisted inverted index
    * ([[invertedIndexPath]]): docs containing ALL of (spark, join,
    * window), top-10 by summed term frequency. The probe reads only the
    * three bucket partitions the terms hash to; the oracle recomputes the
    * conjunction by scanning the corpus — index-vs-scan equivalence is
    * the gate.
    */
  private def invertedSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Inverted.search(s, invertedIndexPath(s, dir),
      Seq("spark", "join", "window"), 10)

  /** Per-term df / total-tf statistics straight off the inverted index —
    * the idf-style planning numbers — including one absent term (`zebra`)
    * pinning that absence yields NO row, not a zero row.
    */
  private def invertedTermStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Inverted.termStats(s, invertedIndexPath(s, dir),
      Seq("join", "query", "spark", "window", "zebra"))

  /** PII scrub over the corpus with PLANTED addresses/numbers (the corpus
    * itself is clean words — the `contamination_check` planting pattern):
    * docs < 50 get an email + a long digit run appended in-query, so the
    * gate exercises both replacement passes and the count columns.
    */
  private def textRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = T(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") < 50,
        concat(col("text"), lit(" reach me at user"), col("doc_id").cast("string"),
          lit("@mail.example.org or 555123456"), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))
    graft.ops.Ordered.smallResult(Text.redact(planted), "doc_id")
  }

  /** Substring-level repeated-span detection: every bigram position whose
    * gram recurs in ≥ 35 distinct documents (the scrub list, not a document
    * verdict — [[graft.ops.Text.repeatedNgramSpans]]).
    */
  private def repeatedNgramSpans(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.repeatedNgramSpans(T(s, dir, "documents"), n = 2, minDf = 35L),
      "doc_id", "pos")

  /** N-gram-level train/eval contamination over the standard split: for
    * every train document, its trigram overlap against the eval split's
    * distinct trigrams ([[graft.ops.Text.ngramContamination]]).
    */
  private def ngramContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val split = graft.ops.Sampling.assignSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    graft.ops.Ordered.smallResult(
      Text.ngramContamination(
        split.filter(col("split") === "train").select(col("doc_id"), col("text")),
        split.filter(col("split") =!= "train").select(col("doc_id"), col("text")),
        n = 3),
      "doc_id")
  }

  /** Train/eval contamination check — the eval-integrity gate of a training
    * pipeline: after splitting, does any eval document's content fingerprint
    * appear in the train split? The corpus has no duplicate texts, so the
    * query plants re-crawled copies (50 docs re-inserted under new ids, the
    * `dedup_srp_pairs` pattern); split membership hashes the NEW id, so
    * copies legitimately land in different splits and the semi-join surfaces
    * exactly the eval docs whose text also trains.
    */
  private def contaminationCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    // Materialized once, COLUMN-PRUNED (optimization r22, VERDICT r21 #7):
    // the split assignment feeds the train-fingerprint side AND the eval
    // probe side — un-cut, the text scan + md5 ran once per consumer. The
    // checkpointed frame is (doc_id, split, fp) only — text never enters
    // executor storage; size-gated like every fact-cardinality transient.
    val split = graft.ops.Sampling.assignSplit(docs.unionByName(planted), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .withColumn("fp", md5(lower(trim(col("text")))))
      .select(col("doc_id"), col("split"), col("fp"))
      .narrowCheckpointIfSmall()
    val trainFp = split.filter(col("split") === "train").select(col("fp")).distinct()
    // Membership via the Bloom-pruned semi-join — at 100 TB the train
    // fingerprint set outgrows a broadcast hash relation long before its
    // bitmap does, and false positives are absorbed by the exact join, so
    // this is the same result as a plain semi-join (the oracle computes
    // exactly that) with the probe pruned before the shuffle. Also gates
    // the bloom path on a STRING key.
    graft.ops.Ordered.smallResult(
      Joins.bloomSemiJoin(
        split.filter(col("split") =!= "train"), trainFp, "fp", "fp")
        .select(col("doc_id"), col("split"), col("fp")),
      "doc_id")
  }

  /** Deterministic corpus split (train/val/test + implicit holdout) — the
    * eval-leakage defense: membership is a pure function of doc_id, stable
    * across runs/engines, so re-processing the corpus can never move a
    * document between splits ([[graft.ops.Sampling.assignSplit]]).
    */
  /** Leakage-safe split gate ([[graft.ops.Sampling.leakageSafeSplit]]):
    * near-dup clusters (the `dedup_cluster_rep` pipeline) assigned to
    * train/val/test by their REPRESENTATIVE's hash — every cluster on one
    * side by construction, the prevention twin of `contamination_check`'s
    * detection. Oracle: the recursive-CTE closure composed with the
    * cumulative-hash bands, per document.
    */
  private def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05))
        .select(col("doc_id"), col("rep").as("rep_id"),
          coalesce(col("split"), lit("holdout")).as("split")),
      "doc_id")
  }

  /** Shard-export manifest gate ([[graft.ops.Sampling.shardManifest]]):
    * 8 hash-bucketed training shards over the corpus with per-shard
    * doc/char mass AND the deterministic loading order's endpoints
    * (first/last id under (idHash, id)) — membership and SEQUENCE both
    * pinned by the oracle's re-derivation.
    */
  private def exportShards(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.shardManifest(T(s, dir, "documents"),
      nShards = 8, idCol = "doc_id", weightCol = "n_chars")

  /** Per-epoch loading-order gate
    * ([[graft.ops.Sampling.epochShardManifest]]): three epochs over the
    * same 8 shards — membership/mass identical per shard across epochs,
    * ENDPOINTS differ per epoch (the pair-mix reshuffle), all re-derived
    * by the oracle under the same integer hash lattice.
    */
  private def exportEpochOrder(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.epochShardManifest(T(s, dir, "documents"),
      nShards = 8, epochs = Seq(0, 1, 2), idCol = "doc_id",
      weightCol = "n_chars")

  /** Cross-document verbatim-span gate
    * ([[graft.ops.Dedup.sharedSpanPairs]]): pairs sharing ≥ 3 exact
    * 8-token runs with the shared-span count — the span-level signal set
    * similarity dilutes (Lee et al. 2022's dedup axis), re-derived by the
    * oracle as an 8-gram string self-join.
    */
  private def dedupSpanPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpanPairs(T(s, dir, "documents"),
      spanTokens = 8, minShared = 3)

  /** Capstone composition gate: the TRAINING EXPORT — leakage-safe split
    * (near-dup clusters assigned whole, [[graft.ops.Sampling
    * .leakageSafeSplit]]) feeding the deterministic shard manifest
    * ([[graft.ops.Sampling.shardManifest]]) over the TRAIN side only: the
    * last two steps a corpus actually takes on its way to a trainer,
    * composed under ONE oracle (the recursive near-dup closure → rep-hash
    * split bands → hash-mod shards → loading-order endpoints, re-derived
    * end to end). A near-dup leaking out of train, a split flip, or a
    * shard-order wobble anywhere in the chain turns the single gate red.
    */
  private def trainingExport(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    val train = graft.ops.Sampling.leakageSafeSplit(
        docs.select(col("doc_id"), col("n_chars")), pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05))
      .filter(col("split") === "train")
    graft.ops.Sampling.shardManifest(train, nShards = 8,
      idCol = "doc_id", weightCol = "n_chars")
  }

  private def sampleSplitCounts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.assignSplit(T(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05))
      .withColumn("split", coalesce(col("split"), lit("holdout")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))

  private def funnelSteps(s: SparkSession, dir: String): DataFrame =
    Funnel.steps(ev(s, dir).df, Seq("signup", "click", "purchase"), 3 * Day)

  /** The single-scan funnel (greedy per-user state machine over one
    * type-filtered event scan) under the same oracle as the join-chain
    * `funnel_steps` — first-touch over time order is the same function
    * computed two ways, so one oracle gates both plans.
    */
  private def funnelStepsOneScan(s: SparkSession, dir: String): DataFrame =
    Funnel.stepsOneScan(ev(s, dir).df, Seq("signup", "click", "purchase"), 3 * Day)

  private def funnelConversion(s: SparkSession, dir: String): DataFrame =
    Funnel.conversion(ev(s, dir).df, "signup", "purchase", 3 * Day)

  /** Weekly retention cohorts: users grouped by the week of their first
    * event; `n_users` = distinct users from that cohort active again
    * `week_offset` weeks later — the classic product-analytics retention
    * triangle. Two aggregations and an equality join, all on `user_id`:
    * one shuffle lineage at scale, no window, no self-cartesian.
    */
  private def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).df
    val firstWeek = e.groupBy(col("user_id"))
      .agg(expr("CAST(min(time) DIV 604800000 AS BIGINT)").as("cohort_week"))
    val weekly = e.select(col("user_id"), expr("time div 604800000").as("week"))
      .distinct()
    graft.ops.Ordered.smallResult(
      firstWeek.join(weekly, Seq("user_id"))
        .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users")),
      "cohort_week", "week_offset")
  }

  /** Daily counts pivoted wide by event type — the pivot operator family.
    * Pivot values are passed EXPLICITLY: without them Spark runs an eager
    * distinct job at plan-construction time to discover columns, the same
    * anti-pattern as an eager count (and nondeterministic output schema if
    * a type appears late at 100 TB).
    */
  private def pivotEventDaily(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      ev(s, dir).df
        .select(expr("time div 86400000").as("day"), col("event_type"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
      "day")

  /** Statistical-moment aggregates (sample stddev/variance, correlation,
    * covariance) — all algebraic (mergeable partials), so they salt and
    * partial-aggregate like sums. Rounded to 4 decimals: both engines use
    * numerically stable one-pass updates whose results agree well past the
    * rounding point at these magnitudes.
    */
  private def statsMomentsByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .groupBy(col("event_type"))
      .agg(
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(var_samp(col("value")), 4).as("var_value"),
        round(corr(col("value"), col("user_id").cast("double")), 4).as("corr_vu"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("covar_vu"))
      .orderBy(col("event_type"))

  /** Per-series linear TREND (OLS slope/intercept of value over time) — the
    * drift detector beside [[statsMomentsByType]]'s correlation: "is this
    * metric rising, and how fast per day". All five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) are EXACT decimals — x is the epoch-base-shifted
    * time (a fixed literal shift keeps x to 10 digits, so every product
    * stays inside decimal(38) exactly on both engines; an uncentered epoch
    * ms would overflow the cap and round differently per engine), y rides
    * the 1e-6 lattice. The doubles appear only in the FINAL formula, with
    * the same parenthesization on both engines — bitwise-identical inputs,
    * bitwise-identical slope. Sums merge associatively, so the one
    * aggregation salts/partial-merges like any sum at 100 TB.
    */
  private def utsTrendByType(s: SparkSession, dir: String): DataFrame = {
    val base = 1704067200000L // 2024-01-01 UTC: the corpus epoch base
    // Operand widths thread BOTH engines' decimal rules: DuckDB computes a
    // product in 64-bit (and overflows here) unless an operand is wider
    // than 18 digits — so x is decimal(19,0) — while Spark silently CUTS
    // SCALE when a product's precision would pass 38 — so y sits on a
    // 1e-6 lattice (scale 6), keeping x*y at (36,6) and x*x at (38,0):
    // every product and sum exact on both engines.
    val e = ev(s, dir).df.filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("time") - base).cast("decimal(19,0)").as("x"),
        round(col("value"), 6).cast("decimal(16,6)").as("y"))
    e.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      .withColumn("slope",
        (col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))) /
          (col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))))
      .select(col("event_type"), col("n"),
        round(col("slope") * 86400000.0, 6).as("slope_per_day"),
        round(col("sy") / col("n") - col("slope") * (col("sx") / col("n")), 4)
          .as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Exact grouped percentiles (Spark `percentile` ≡ ANSI interpolated
    * `quantile_cont`): the holistic-aggregate coverage row. At 100 TB a
    * holistic percentile per group is the one aggregate that canNOT salt
    * (no merge) — the sketch twin is `token_count_quantiles`' GK path.
    */
  private def valueQuantilesByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .groupBy(col("event_type"))
      .agg(percentile(col("value"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
      .select(col("event_type"),
        round(element_at(col("qs"), 1), 4).as("p25"),
        round(element_at(col("qs"), 2), 4).as("p50"),
        round(element_at(col("qs"), 3), 4).as("p75"),
        round(element_at(col("qs"), 4), 4).as("p95"))
      .orderBy(col("event_type"))

  /** Robust (median/MAD) outlier report per series —
    * [[graft.ops.Profile.robustOutliers]] beside [[statsMomentsByType]]'s
    * classical moments: rank-statistic medians, Iglewicz–Hoaglin 3.5
    * cutoff.
    */
  private def robustOutliersValue(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Profile.robustOutliers(
        ev(s, dir).df.select(col("event_type"), col("value")),
        "event_type", "value", cutoff = 3.5),
      "event_type")

  /** Winsorized per-type stats ([[graft.ops.Profile.winsorize]]): values
    * clipped into their type's own [p5, p95] rank-statistic band; the gate
    * reports the bounds, clip counts, and the exact-decimal mean of the
    * clipped values — outlier TREATMENT beside `robust_outliers_value`'s
    * detection.
    */
  private def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val wdf = graft.ops.Profile.winsorize(
      ev(s, dir).df.select(col("event_type"), col("value")),
      "event_type", "value", loQ = 0.05, hiQ = 0.95)
    graft.ops.Ordered.smallResult(
      wdf.filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          // Bounds are selected raw corpus values — emitted unrounded (the
          // robustOutliers med/mad rationale).
          max(col("__wlo")).as("lo_bound"),
          max(col("__whi")).as("hi_bound"),
          count(when(col("value") < col("__wlo"), lit(1))).as("n_clip_lo"),
          count(when(col("value") > col("__whi"), lit(1))).as("n_clip_hi"),
          round(
            sum(round(col("value_w"), 10).cast("decimal(30,10)")).cast("double") /
              count(lit(1)), 4).as("mean_w")),
      "event_type")
  }

  /** Sweep-line session concurrency per event type
    * ([[graft.ops.Windowed.concurrencySweep]]): per-(type, user) sessions
    * from the shared 30-minute-gap rule ([[graft.ops.Windowed.sessionIds]]),
    * each active over `[first event, last event + gap)`, swept for peak
    * simultaneous sessions and total busy (union) time.
    */
  /** Per-(type, user) session intervals `[first event, last event + gap)`
    * from the shared 30-minute rule — input to both concurrency gates.
    */
  private def sessionIntervals(s: SparkSession, dir: String): DataFrame = {
    val gap = 1800000L
    val e = ev(s, dir).df.select(col("event_type"), col("user_id"), col("time"))
      .withColumn("__k", concat_ws(":", col("event_type"), col("user_id")))
    graft.ops.Windowed.sessionIds(e, "__k", "time", gapMs = gap)
      .groupBy(col("event_type"), col("user_id"), col("session_seq"))
      .agg(min(col("time")).as("s_start"), (max(col("time")) + gap).as("s_end"))
  }

  private def concurrencySweepSessions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Windowed.concurrencySweep(
        sessionIntervals(s, dir), "event_type", "s_start", "s_end"),
      "event_type")

  /** The GLOBAL sweep twin ([[graft.ops.Windowed.concurrencySweepGlobal]]):
    * one service-wide timeline over the same session intervals — running
    * concurrency on the stitched prefix sum, busy segments on the stitched
    * lag, no single-partition window.
    */
  private def concurrencyGlobal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windowed.concurrencySweepGlobal(
      sessionIntervals(s, dir), "s_start", "s_end")

  /** Temperature-scaled (α = 0.5) mixture plan over per-source character
    * mass ([[graft.ops.Sampling.mixturePlanTemperature]]): shares ∝
    * √available, budget 100 000 — the data-derived companion of the
    * hand-weighted `mixture_plan`.
    */
  private def mixtureTemperature(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.mixturePlanTemperature(
        T(s, dir, "documents"), "source", "n_chars", budget = 100000L),
      "source")

  /** The temperature plan APPLIED ([[graft.ops.Sampling.applyMixturePlan]]
    * over [[mixtureTemperature]]'s plan): the kept-row set under
    * data-derived hash thresholds — plan and application gated end to end,
    * mirroring the `mixture_plan`/`mixture_apply` pair.
    */
  private def mixtureTemperatureApply(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.applyMixturePlan(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        graft.ops.Sampling.mixturePlanTemperature(
          T(s, dir, "documents"), "source", "n_chars", budget = 100000L),
        "source", "doc_id"),
      "doc_id")

  /** Containment-pair gate ([[graft.ops.Dedup.containmentPairs]]) over the
    * corpus PLUS planted anthologies (doc i < 15 concatenated with doc
    * i+100): each anthology CONTAINS both parts (containment ≈ 1) while its
    * Jaccard to either is ≈ ½ — below the near-dup threshold — so the
    * quotation case only this measure catches is load-bearing in the gate.
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val partner = base.select((col("doc_id") - 100L).as("doc_id"), col("text").as("__t2"))
    val planted = base.join(partner, "doc_id").filter(col("doc_id") < 15)
      .select((col("doc_id") + 9100L).as("doc_id"),
        concat(col("text"), lit(" "), col("__t2")).as("text"))
    graft.ops.Dedup.containmentPairs(
      base.unionByName(planted), n = 3, threshold = 0.8)
  }

  /** Z-order bucket stats — pins the Morton-interleave kernel
    * ([[graft.ops.Layout.zvalue]]) against an arithmetic re-derivation, and
    * the min/max spread per bucket IS the layout claim: a bucket of z-width
    * 4^6 spans ≤ 2^6 distinct values per coordinate, so row-group min/max
    * stats stay tight on BOTH join keys.
    */
  private def zorderBucketStats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(
        pmod(col("l_partkey"), lit(1024L)).as("x"),
        pmod(col("l_suppkey"), lit(1024L)).as("y"))
      .withColumn("z_bucket", shiftrightunsigned(Layout.zvalue(col("x"), col("y"), 10), 12))
      .groupBy(col("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("z_bucket"))

  /** Bucketed lineitem/orders pair, written once per JVM per corpus:
    * both sides `bucketBy(8, orderkey)` + `sortBy` into external parquet
    * under tmp ([[graft.ops.Layout.bucketedWrite]]), registered in the
    * session catalog. The cached value is the two table names.
    */
  private def bucketedTablesFor(s: SparkSession, dir: String): (String, String) =
    fixture("bkt", dir) { base =>
      val tok = pathToken(dir)
      val (lt, ot) = (s"graft_li_bkt_$tok", s"graft_ord_bkt_$tok")
      Layout.bucketedWrite(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        lt, s"$base/li", "l_orderkey", nBuckets = 8)
      Layout.bucketedWrite(
        T(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        ot, s"$base/ord", "o_orderkey", nBuckets = 8)
      (lt, ot)
    }

  /** Co-located big-to-big join over the bucketed layout: lineitem ⋈ orders
    * on the order key with NO join-time exchange on either side (both scans
    * start hash-partitioned by bucket; JoinsLayoutSpec asserts the join
    * subtree is exchange-free) — the write-once/join-many shape for a 100 TB fact-to-
    * fact join. Revenue summed as pre-rounded decimals so the partial-merge
    * order can't wobble the last ulp (the [[graft.ops.Similarity.meanVectors]]
    * determinism discipline).
    */
  private def joinBucketedColocated(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedTablesFor(s, dir)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
          .cast("decimal(30,10)")).cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Zone-mapped events table, built once per JVM per corpus: events
    * range-clustered into 8 files by `time` (`repartitionByRange` — each
    * file covers a tight time slice, the layout that makes zone maps
    * selective) + a [[graft.ops.Layout.statsManifest]] over `time`.
    * Returns (tablePath, minTime).
    */
  private def zonedTableFor(s: SparkSession, dir: String): (String, Long) =
    fixture("zone", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"), col("event_type"), col("value"))
      e.repartitionByRange(8, col("time"))
        .write.mode("overwrite").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("time"))
      val minT = e.agg(min(col("time"))).head().getLong(0)
      (s"$base/t", minT)
    }

  /** User-clustered events table with a per-file BLOOM bitmap on
    * `event_id` in its zone-map manifest, built once per JVM per corpus:
    * the layout serves per-user analytics (range-clustered on user_id),
    * so every file's [min_event_id, max_event_id] zone spans nearly the
    * whole id domain — a point lookup by event id can only prune through
    * the bitmap ([[graft.ops.Layout.statsManifest]] `bloomCols`). The
    * secondary-key needle-in-haystack read at 100 TB, without a second
    * sort order.
    */
  private def bloomTableFor(s: SparkSession, dir: String): String =
    fixture("bloomt", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      e.repartitionByRange(8, col("user_id"), col("time"))
        .write.mode("overwrite").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("user_id"),
        bloomCols = Seq("event_id"), bloomBits = 1 << 17)
      s"$base/t"
    }

  /** Bloom point-lookup gate: three event-id probes through
    * [[graft.ops.Layout.prunedParquetPoint]] against the user-clustered
    * table ([[bloomTableFor]]) — each opens only the file(s) whose bitmap
    * claims the id. The oracle filters the full events table; pruning
    * must not change the answer.
    */
  private def bloomPointScan(s: SparkSession, dir: String): DataFrame = {
    val path = bloomTableFor(s, dir)
    Seq(123L, 456L, 789L)
      .map(id => Layout.prunedParquetPoint(s, path, "event_id", lit(id)))
      .reduce(_ unionByName _)
      .select(col("event_id"), col("time"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Zone-map pruned scan gate: a 2-day band five days into the corpus,
    * answered from ONLY the files whose [min_time, max_time] zone overlaps
    * the band ([[graft.ops.Layout.prunedParquet]]; StorageLayoutSpec pins
    * that fewer files are read and that staleness fails loud). The oracle
    * filters the full table — pruning must not change the answer.
    */
  private def prunedTimeScan(s: SparkSession, dir: String): DataFrame = {
    val (path, minT) = zonedTableFor(s, dir)
    Layout.prunedParquet(s, path, "time", minT + 5 * Day, minT + 7 * Day)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Incrementally-maintained rollup ([[graft.ops.Ivm]]), built once per
    * JVM per corpus: events split deterministically into a base corpus
    * (event_id % 5 ≠ 0) and two trickle batches (% 10 = 0, % 10 = 5) that
    * together cover every event exactly once; the rollup is materialized
    * from the base partitioned by day, then each batch folds in via
    * [[graft.ops.Ivm.applyDelta]] — its own tiny aggregation, a read of
    * ONLY the touched day partitions, and the COW partition swap. The gate
    * reads the final rollup; the oracle aggregates ALL events directly, so
    * a delta that double-counts, drops a group, or misses a partition skews
    * the hash.
    */
  private def ivmRollupFor(s: SparkSession, dir: String): String =
    fixture("ivm", dir) { base =>
      val e = ev(s, dir).df.select(
        col("event_id").cast("long").as("event_id"),
        floor(col("time") / lit(86400000L)).cast("long").as("day"),
        col("event_type"), col("value"))
      val baseRows = e.filter(col("event_id") % 5 =!= 0)
      val batch1 = e.filter(col("event_id") % 10 === 0)
      val batch2 = e.filter(col("event_id") % 10 === 5)
      graft.ops.Ivm.buildRollup(s, baseRows, s"$base/r",
        partitionCol = "day", groupCols = Seq("event_type"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch1,
        partitionCol = "day", groupCols = Seq("event_type"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch2,
        partitionCol = "day", groupCols = Seq("event_type"), valueCol = "value")
      s"$base/r"
    }

  private def ivmRollupAgg(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivm.readAgg(s, ivmRollupFor(s, dir), "day", Seq("event_type"))
      .orderBy(col("event_type"))

  /** Streaming-maintained rollup gate: the SAME rollup contract as
    * [[ivmRollupAgg]], but the trickle arrives as a STREAM — the corpus's
    * odd-id half is written as three parquet files and replayed one file
    * per micro-batch (`AvailableNow` + `maxFilesPerTrigger=1`), each batch
    * folding in through the ledger-guarded `foreachBatch` maintainer
    * ([[graft.ops.Ivm.maintainStream]]). The oracle aggregates ALL events
    * directly, so a dropped micro-batch, a double-applied replay, or any
    * batch-boundary dependence in the merge skews the hash.
    */
  private def ivmStreamRollupFor(s: SparkSession, dir: String): String =
    fixture("ivms", dir) { base =>
      val e = ev(s, dir).df.select(
        col("event_id").cast("long").as("event_id"),
        floor(col("time") / lit(86400000L)).cast("long").as("day"),
        col("event_type"), col("value"))
      graft.ops.Ivm.buildRollup(s, e.filter(col("event_id") % 2 === 0),
        s"$base/r", partitionCol = "day", groupCols = Seq("event_type"),
        valueCol = "value")
      e.filter(col("event_id") % 2 === 1).repartition(3)
        .write.parquet(s"$base/src")
      val schema = e.schema
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        val q = graft.ops.Ivm.maintainStream(src, s"$base/r", s"$base/ckpt",
          partitionCol = "day", groupCols = Seq("event_type"),
          valueCol = "value")
        q.awaitTermination()
      }
      s"$base/r"
    }

  private def streamIvmRollup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivm.readAgg(s, ivmStreamRollupFor(s, dir), "day", Seq("event_type"))
      .orderBy(col("event_type"))

  /** INCREMENTALLY-MAINTAINED quantile sketch — [[graft.ops.Ivm]] composed
    * with the histogram family, zero new operator code: the rollup's group
    * key is `(event_type, log2 bucket)`, so the maintained `n` partials ARE
    * the per-day bucket counts (counts are a commutative monoid — exactly
    * what delta maintenance keeps exact), and
    * [[graft.ops.Sketches.quantilesFromBuckets]] extracts per-day quantile
    * lower bounds from the rollup at read time — the non-mergeable step,
    * deliberately outside the maintained state, same split as the streaming
    * histogram. At 100 TB this is the "p99 dashboard over a year of events"
    * shape: a daily batch folds into its day's partitions only; no query
    * ever re-scans the base table. The corpus splits base/batch1/batch2
    * exactly like [[ivmRollupFor]], and the oracle aggregates ALL events
    * one-shot — a merge error in any delta skews the hash.
    */
  private def ivmHistRollupFor(s: SparkSession, dir: String): String =
    fixture("ivmh", dir) { base =>
      val e = ev(s, dir).df.filter(col("value").isNotNull).select(
        col("event_id").cast("long").as("event_id"),
        floor(col("time") / lit(86400000L)).cast("long").as("day"),
        col("event_type"),
        graft.ops.Sketches.log2Bucket(col("value")).as("bucket"),
        col("value"))
      val baseRows = e.filter(col("event_id") % 5 =!= 0)
      val batch1 = e.filter(col("event_id") % 10 === 0)
      val batch2 = e.filter(col("event_id") % 10 === 5)
      graft.ops.Ivm.buildRollup(s, baseRows, s"$base/r",
        partitionCol = "day", groupCols = Seq("event_type", "bucket"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch1,
        partitionCol = "day", groupCols = Seq("event_type", "bucket"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch2,
        partitionCol = "day", groupCols = Seq("event_type", "bucket"), valueCol = "value")
      s"$base/r"
    }

  private def ivmHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val partials = s.read.parquet(ivmHistRollupFor(s, dir))
      .select((col("day") * 86400000L).as("win_start"), col("event_type"),
        col("bucket"), col("n"))
    graft.ops.Sketches.quantilesFromBuckets(
      partials, Seq("win_start", "event_type"), "bucket", "n",
      Seq(0.5, 0.99), graft.ops.Sketches.log2Lower)
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Z-ordered + zone-mapped events table, built once per JVM per corpus:
    * [[graft.ops.Layout.clusterByZ]] interleaves (user_id, day-index) into
    * one Morton key and range-partitions into 16 files, so every file is a
    * tight RECTANGLE in (user, day) space; [[graft.ops.Layout
    * .statsManifest]] then records both columns' per-file zones. `minT` (a
    * one-row scalar, build-time only) anchors the day index. Returns
    * (tablePath, minTime).
    */
  private def zorderTableFor(s: SparkSession, dir: String): (String, Long) =
    fixture("zord", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      val minT = e.agg(min(col("time"))).head().getLong(0)
      Layout.clusterByZ(
        e.withColumn("day_idx", ((col("time") - lit(minT)) / lit(Day)).cast("long")),
        "user_id", "day_idx", bits = 11, numPartitions = 16)
        .drop("day_idx")
        .write.mode("overwrite").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("time", "user_id"))
      (s"$base/t", minT)
    }

  /** Z-order × zone-map gate: a (time band ∧ user band) probe answered via
    * [[graft.ops.Layout.prunedParquetBounds]] — the CONJUNCTION prunes on
    * both interleaved keys at once (each z-file is a rectangle, so the
    * bounds multiply their selectivities; a one-key sort would prune on one
    * and scan for the other — the multi-key scan-heavy-table layout at
    * 100 TB, SURVEY §2.11). StorageLayoutSpec pins that the 2-D zone filter
    * keeps strictly fewer files than either 1-D bound; the oracle filters
    * the full table, so pruning must not change the answer.
    */
  private def zorderPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val (path, minT) = zorderTableFor(s, dir)
    Layout.prunedParquetBounds(s, path, Seq(
      "time" -> (minT + 5 * Day, minT + 7 * Day),
      "user_id" -> (100L, 300L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Upserted documents table, built once per JVM per corpus: documents
    * written partitioned by `source`, then one
    * [[graft.ops.Layout.upsertPartitioned]] batch — edited re-crawls of
    * src0/src1 docs (same doc_id, `UPDATED: `-prefixed text) plus brand-new
    * docs landing in a NEW `srcnew` partition. Three partition directories
    * of twenty-one are touched; StorageLayoutSpec pins that the other
    * eighteen keep their exact files.
    */
  private def upsertTableFor(s: SparkSession, dir: String): String =
    fixture("ups", dir) { base =>
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      docs.write.mode("overwrite").partitionBy("source").parquet(base)
      val edits = docs
        .filter(col("source").isin("src0", "src1") && col("doc_id") % 7 === 3)
        .select(col("doc_id"), concat(lit("UPDATED: "), col("text")).as("text"),
          col("lang"), col("source"),
          length(concat(lit("UPDATED: "), col("text"))).cast("long").as("n_chars"))
      val news = docs
        .filter(col("source") === "src2" && col("doc_id") % 7 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          lit("en").as("lang"), lit("srcnew").as("source"),
          length(concat(lit("new doc "), col("doc_id").cast("string")))
            .cast("long").as("n_chars"))
      Layout.upsertPartitioned(s, base, edits.unionByName(news),
        keyCols = Seq("doc_id"), partitionCol = "source")
      base
    }

  /** Upserted + zone-mapped events table, built once per JVM per corpus —
    * the full manifest LIFECYCLE the storage layer promises at 100 TB in
    * one artifact: partitioned write, [[graft.ops.Layout.statsManifest]]
    * over `time`, then ONE [[graft.ops.Layout.upsertPartitioned]] batch
    * (value edits across the existing partitions + a brand-new `synthetic`
    * partition) whose writer-side manifest patch keeps the zone maps fresh
    * with NO manifest rebuild, then [[graft.ops.Layout.compactInPlace]]
    * folding the upsert's files one-per-partition (which must REBUILD the
    * manifest — per-file stats cannot survive a rewrite), with
    * [[graft.ops.Layout.verifyManifest]] — the full-listing fsck — auditing
    * after each step. A broken epoch/patch protocol makes the gate ERROR,
    * not skew. Returns (tablePath, minTime of the original corpus).
    */
  private def upsertZonedTableFor(s: SparkSession, dir: String): (String, Long) =
    fixture("upz", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"), col("event_type"), col("value"))
      e.write.mode("overwrite").partitionBy("event_type").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("time"))
      val edits = e.filter(col("event_id") % 11 === 5)
        .withColumn("value", col("value") + 1000)
      val news = e.filter(col("event_id") % 11 === 7)
        .select((col("event_id") + 10000000L).as("event_id"), col("time"),
          lit("synthetic").as("event_type"), col("value"))
      Layout.upsertPartitioned(s, s"$base/t", edits.unionByName(news),
        keyCols = Seq("event_id"), partitionCol = "event_type")
      Layout.verifyManifest(s, s"$base/t")
      // The post-trickle step of the same lifecycle: fold the upsert's
      // accumulated files to one per partition; compaction rewrites every
      // file, so it must REBUILD the manifest (per-file stats can't survive
      // a rewrite) — the second fsck audits that too.
      Layout.compactInPlace(s, s"$base/t", Seq("event_type"))
      Layout.verifyManifest(s, s"$base/t")
      val minT = e.agg(min(col("time"))).head().getLong(0)
      (s"$base/t", minT)
    }

  /** Manifest-lifecycle gate: zone-map-pruned time-band rollup of the table
    * AFTER a partition-scoped upsert — the pruned read only answers
    * correctly if the writer's incremental manifest patch covered both the
    * edited partitions and the new one (edited rows moved +1000, so a scan
    * of pre-upsert files shows in `sum_value`; a silently stale manifest
    * shows as missing rows). The oracle re-derives the post-upsert state
    * relationally and filters the same band over the FULL table.
    */
  private def tableUpsertPruned(s: SparkSession, dir: String): DataFrame = {
    val (path, minT) = upsertZonedTableFor(s, dir)
    Layout.prunedParquet(s, path, "time", minT + 5 * Day, minT + 7 * Day)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** COW-upsert gate: per-source rollup of the table AFTER the upsert —
    * replaced rows show as `UPDATED:` prefixes (old copies must be gone:
    * n_docs unchanged for edited partitions), new rows as the `srcnew`
    * partition. The oracle re-derives the final state relationally
    * (NOT EXISTS batch keys + union batch).
    */
  private def tableUpsert(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(upsertTableFor(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("text").startsWith("UPDATED:"), 1)).as("n_updated"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))

  /** Anti-join family: customers with no high-value order, rolled up by
    * segment. `left_anti` is the relational NOT EXISTS — same hash shuffle
    * as a semi-join, and the build side is pre-filtered at its scan.
    */
  private def antiJoinCustomers(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(T(s, dir, "orders").filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))

  /** Set-operation family (EXCEPT / INTERSECT) over per-type high-value
    * user sets: both compile to aggregate + join shapes (no sort-based
    * distinct), tagged and unioned into one result.
    */
  private def setopActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).df
    def users(tpe: String) = e
      .filter(col("event_type") === tpe && col("value") > 250)
      .select(col("user_id")).distinct()
    graft.ops.Ordered.smallResult(
      users("view").except(users("purchase"))
        .select(lit("view_only").as("set_op"), col("user_id"))
        .unionByName(
          users("view").intersect(users("purchase"))
            .select(lit("both").as("set_op"), col("user_id"))),
      "set_op", "user_id")
  }

  private def windowTopOrders(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("o_custkey"), col("rk"))

  private def rollupLineitem(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      // Subtotal rows carry NULL group keys; coalesce to a marker so both
      // engines order them identically.
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  private def cubeLineitem(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  /** Daily event volume with a 7-day trailing moving average — the window
    * frame-spec (`rowsBetween`) coverage row. The frame runs over the daily
    * pre-aggregate through [[graft.ops.Windowed.trailingStitched]]: bucketed
    * windows with cross-bucket carry rows, bit-identical to a global ordered
    * window but never on WindowExec's single-partition fallback path — the
    * shape a global sliding window takes at 100 TB.
    */
  private def movingAvgDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir).df
      .groupBy(expr("time div 86400000").as("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("mean_value"))
    graft.ops.Ordered.smallResult(
      graft.ops.Windowed.trailingStitched(
        daily, "day", "n", frameRows = 6, c => avg(c), "ma7_n")
        .select(col("day"), col("n"), col("mean_value"),
          round(col("ma7_n"), 4).as("ma7_n")),
      "day")
  }

  /** Salted two-phase aggregation under the plain GROUP BY oracle: the
    * hot-key skew defense ([[graft.ops.Skew.saltedAgg]]) must compute exactly
    * what the direct aggregation computes — the salt only changes WHERE the
    * partials run.
    */
  private def saltedAggByType(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedAgg(
      ev(s, dir).df.select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), salt = 8,
      Seq(
        "n" -> ((count(lit(1)), (c: Column) => sum(c))),
        "sum_value" -> ((sum(col("value")), (c: Column) => sum(c)))),
      // events carry a unique id — salt by its hash: retry-safe by
      // construction, no row-order precondition.
      saltBy = Some(col("event_id")))
      .select(col("event_type"), col("n"),
        round(coalesce(col("sum_value"), lit(0.0)), 4).as("sum_value"))
      .orderBy(col("event_type"))

  private def distinctUsersByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** HLL++ approx-distinct, surfaced as a HARD oracle row: the sketch value
    * itself is engine-specific, so the query emits the exact count plus a
    * boolean asserting `|approx − exact| ≤ 3·rsd·exact` — the oracle pins the
    * exact count and expects the bound to hold (`within_bound = 1`). A sketch
    * drifting outside its error contract turns this row red. HLL++ is
    * deterministic for fixed input, so the row is stable run-to-run.
    */
  private def approxDistinctUsers(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.05).as("approx_users"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"), col("n_users"),
        (abs(col("approx_users") - col("n_users")) <=
          ceil(col("n_users") * lit(3 * 0.05))).cast("long").as("within_bound"))
      .orderBy(col("event_type"))

  private def asofJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val left = ev(s, dir).df.select(col("event_id"), col("user_id"), col("time"))
    val right = T(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        // o_orderdate is parquet TIMESTAMP_NTZ; cast to LTZ (identity under
        // the UTC session TZ) so unix_millis applies.
        unix_millis(col("o_orderdate").cast("timestamp")).as("ot"), col("o_orderkey"))
    graft.ops.Ordered.smallResult(
      AsofJoin(left, right, Seq("user_id"), "time", "ot",
        rightPayload = Seq("o_orderkey"), rightTieCol = "o_orderkey")
        .select(col("event_id"), col("user_id"), col("o_orderkey")),
      "event_id")
  }

  /** Forward as-of with a 7-day tolerance: each event's NEXT order by the
    * same user within a week — the attribution-window shape.
    */
  private def asofJoinForward(s: SparkSession, dir: String): DataFrame = {
    val left = ev(s, dir).df.select(col("event_id"), col("user_id"), col("time"))
    val right = T(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ot"), col("o_orderkey"))
    graft.ops.Ordered.smallResult(
      AsofJoin(left, right, Seq("user_id"), "time", "ot",
        rightPayload = Seq("o_orderkey"), rightTieCol = "o_orderkey",
        direction = "forward", tolerance = Some(604800000L))
        .select(col("event_id"), col("user_id"), col("o_orderkey")),
      "event_id")
  }

  // ------------------------------------------------------------ dedup family

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Dedup.exact(T(s, dir, "documents"), "text"), "doc_id")

  private def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(T(s, dir, "documents"), n = 3, threshold = 0.6)

  /** The ppjoin-style prefix-filtered plan under the same exact-Jaccard
    * oracle as `dedup_jaccard_pairs`: prefix filtering is lossless for
    * J ≥ threshold (two sets over a common total order must share a prefix
    * shingle), so the output is identical — the gate turns any divergence
    * between the prefix plan and the count-bound plan red.
    */
  private def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefixFiltered(T(s, dir, "documents"), n = 3, threshold = 0.6)

  /** SemDeDup over the embeddings corpus at the DEFAULT auto-k schedule
    * (`nClusters = None` ⇒ [[graft.ops.Similarity.autoClusters]] k ∝ √n,
    * 2 Lloyd rounds) scoping the cosine-0.8 near-dup pass to
    * within-cluster pairs — the gate exercises the no-thought path a
    * production caller gets, and the oracle re-derives the same
    * data-dependent k from its own count.
    */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, threshold = 0.8)

  /** Cluster-scoped kNN-graph gate ([[graft.ops.Similarity.knnGraph]]):
    * each vector's 3 nearest in-cluster neighbors over the shared
    * KMeans8 pipeline — the graph-analysis primitive gated end to end
    * (seeding, Lloyd rounds, assignment, pair scope, (cosine, id) rank
    * order all re-derived by the oracle).
    */
  private def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, kNeighbors = 3)

  /** Integer-exact PageRank gate ([[graft.ops.Graph.pageRankInt]]) over
    * the cluster-scoped kNN edge set: 5 synchronous power steps with
    * damping as the exact rational 17/20 and all mass in scaled-long
    * units, so every rank is a deterministic integer both engines derive
    * bit-identically — the oracle unrolls the same 5 iterations as
    * chained CTEs over the shared KMeans8 + kNN derivation. High-rank
    * vectors are the corpus's similarity hubs (dense near-dup regions) —
    * the graph-centrality signal dedup-priority and sampling pipelines
    * weight by.
    */
  /** Contrastive negative-sampling gate
    * ([[graft.ops.Similarity.negativeSample]]): per vector, 4 pool
    * negatives excluding its kNN positives — the (anchor, positives,
    * negatives) triple builder's third leg, deterministic end-to-end
    * (hash-bottom pool, pair-mix draw order), so the oracle re-derives
    * pool, exclusions and ranks exactly.
    */
  private def negSampleQ(s: SparkSession, dir: String): DataFrame =
    Similarity.negativeSample(T(s, dir, "embeddings"),
      knnIndexEdges(s, dir), poolSize = 64, kNeg = 4)

  /** The persisted kNN graph shared by the graph-family consumers
    * (`graph_pagerank`, `contrastive_negatives`): built once per JVM
    * ([[graft.ops.Similarity.knnGraphBuild]] — the build-once artifact
    * real systems materialize), every consumer reads the edge parquet
    * instead of re-paying the Σ|cluster|² candidate scan. `knn_graph`
    * stays the in-plan teaching twin under the same oracle derivation.
    */
  private def knnIndexEdges(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("knn-idx", dir)(p =>
      Similarity.knnGraphBuild(T(s, dir, "embeddings"), p,
        nClusters = None, rounds = 2, kNeighbors = 3))
    Similarity.knnGraphEdges(s, path, nClusters = None, rounds = 2,
      kNeighbors = 3)
  }

  /** Persisted-kNN-graph APPEND gate
    * ([[graft.ops.Similarity.knnGraphAppend]]): build over the base
    * corpus, then ingest a planted batch (every 10th vector, id+100000,
    * dimensions rotated by one — oracle-expressible, norm-preserving) that
    * routes to the FROZEN build centroids; only the touched clusters'
    * edge partitions rewrite, and the oracle re-derives the whole
    * post-append relation as the union corpus assigned under the BASE
    * corpus's centroids — a re-trained routing, a missed board merge, or
    * an unmerged existing board all turn it red.
    */
  private def knnGraphAppendQ(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("knn-append", dir) { p =>
      val base = T(s, dir, "embeddings")
      Similarity.knnGraphBuild(base, p, nClusters = None, rounds = 2,
        kNeighbors = 3)
      val e = col("embedding")
      val batch = base.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000L).as("vec_id"),
        concat(slice(e, lit(2), size(e) - lit(1)), slice(e, lit(1), lit(1)))
          .as("embedding"))
      Similarity.knnGraphAppend(batch, p)
    }
    graft.ops.Ordered.smallResult(
      Similarity.knnGraphEdges(s, path, None, 2, 3), "vec_id", "nbr_rank")
  }

  /** §2.9 streaming GRAPH ingest: the knn_graph_append batch replayed as
    * TWO micro-batches through `foreachBatch` →
    * [[graft.ops.Similarity.knnGraphAppend]], with a
    * [[graft.ops.Similarity.knnGraphCompact]] after the replay (the
    * vectors table folds back to one file per cluster; the graph must
    * read identically through the fold). Because append ≡ frozen-centroid
    * union rebuild, the final graph is BATCH-SPLIT INVARIANT — the second
    * batch's candidates include the first batch's appended vectors, and
    * the oracle is the same one-shot union derivation as
    * `knn_graph_append`.
    */
  private def streamKnnIngest(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("knn-stream", dir) { p =>
      val base = T(s, dir, "embeddings")
      Similarity.knnGraphBuild(base, s"$p/g", nClusters = None, rounds = 2,
        kNeighbors = 3)
      val e = col("embedding")
      val batchAll = base.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000L).as("vec_id"),
        concat(slice(e, lit(2), size(e) - lit(1)), slice(e, lit(1), lit(1)))
          .as("embedding"))
      for (k <- 0 to 1)
        batchAll.filter(pmod((col("vec_id") / lit(10)).cast("long"), lit(2)) === k)
          .coalesce(1).write.mode("append").parquet(s"$p/src")
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(batchAll.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$p/src")
        val q = src.writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            if (!b.isEmpty) Similarity.knnGraphAppend(b.toDF(), s"$p/g"))
          .option("checkpointLocation", s"$p/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Similarity.knnGraphCompact(s, s"$p/g")
    }
    graft.ops.Ordered.smallResult(
      Similarity.knnGraphEdges(s, s"$path/g", None, 2, 3),
      "vec_id", "nbr_rank")
  }

  /** kNN-graph recall audit gate
    * ([[graft.ops.Similarity.knnGraphRecall]]): the cluster-boundary miss
    * priced as a measured number (3-query sample, global brute-force top-3
    * vs the scoped board) — the approximation-as-a-number discipline every
    * approximate family in the registry carries.
    */
  private def knnGraphRecallQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphRecall(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, kNeighbors = 3, queryIds = Seq(0L, 1L, 2L))

  /** The multi-probe REMEDY, measured: the same recall audit at
    * `nProbe = 2` — each vector joins its two nearest clusters' candidate
    * spaces ([[graft.ops.Similarity.knnEdges]]' graph-axis nprobe), so
    * boundary neighbors the single-assign scope structurally misses become
    * reachable. Audit → remedy → re-measured number, the same loop as
    * `ann_ivf_recall_stale` → `ann_ivf_recluster`.
    */
  private def knnGraphRecallMpQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphRecall(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, kNeighbors = 3, queryIds = Seq(0L, 1L, 2L),
      nProbe = 2)

  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.ops.Ordered.smallResult(
      graft.ops.Graph.pageRankInt(
        emb.select(col("vec_id")),
        knnIndexEdges(s, dir)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
        iterations = 5, idCol = "vec_id")
        .select(col("id").as("vec_id"), col("pr")),
      "vec_id")
  }

  /** Cluster-balanced coverage sample over the same k-means pipeline as
    * `dedup_semantic`: ≤ 5 vectors per cluster by hash rank.
    */
  private def sampleDiversity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Similarity.diversitySample(T(s, dir, "embeddings"),
        nClusters = None, rounds = 2, nPer = 5),
      "cluster", "vec_id")

  /** The `maxShingleDf` skew-cap plan (hot-shingle anti-join → candidate
    * join → exact verify) under the exact-Jaccard oracle: the corpus's max
    * shingle df is ~25 at sf0.1, so a cap of 200 never prunes a pair here —
    * the gate pins that the capped PLAN computes exact results; the cap
    * itself bites only on stopword-grade shingles at real scale.
    */
  private def dedupJaccardCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(T(s, dir, "documents"), n = 3, threshold = 0.6,
      maxShingleDf = Some(200L))

  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    // 32 bands × 2 rows: candidate recall ≥ 1 − (1−J²)³² ≈ 1 − 6e-7 at
    // J = 0.6, and candidates are exact-verified — so the output EQUALS exact
    // Jaccard (modulo 64-bit shingle-hash collisions) and shares its oracle.
    // r = 2 keeps false candidates rare (r = 1 tripled the query's cost on
    // band-join volume); r = 4 (the 8×4 default) would cost real recall.
    Dedup.minhashLshPairs(T(s, dir, "documents"), n = 3, threshold = 0.6,
      numHashes = 64, bands = 32)

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(T(s, dir, "documents"), maxDist = 3)

  /** Keep-BEST dedup gate ([[graft.ops.Dedup.exactKeepBest]]): messy
    * re-crawl copies are planted (the `pipeline_clean_mix` recipe —
    * leading whitespace + uppercasing, ids +9000), groups keyed by the
    * md5 of the NORMALIZED text, and each group's survivor is the FULLEST
    * raw copy (longest raw text — the keep-the-copy-whose-extraction-kept-
    * most heuristic; ties to the smaller id). The planted copies are the
    * longer ones, so every planted group's survivor is the +9000 id — the
    * opposite of `dedup_exact`'s min-id rule, which is exactly what makes
    * the survivor RULE (not just the grouping) the thing this gate pins.
    * The oracle re-derives planting, normalization, and the (length desc,
    * id asc) pick per group.
    */
  private def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 9000L).as("doc_id"),
        concat(lit("  "), upper(col("text"))).as("text"))
    val c = d.unionByName(planted)
    val keyed = Text.normalize(c)
      .join(c.select(col("doc_id"), length(col("text")).cast("long").as("raw_len")),
        "doc_id")
    graft.ops.Ordered.smallResult(
      Dedup.exactKeepBest(keyed, md5(col("norm_text")), col("raw_len")),
      "doc_id")
  }

  /** Approximate STRING matching gate ([[graft.ops.Dedup.editDistancePairs]]):
    * distinct part names within Levenshtein distance 2, candidates from the
    * rare-q-gram prefix join, verified by the exact codegen'd levenshtein —
    * the record-linkage primitive the token-set dedup family cannot
    * express. The oracle is the naive distinct self-join with the same
    * unit-cost levenshtein.
    */
  private def fuzzyPairsPartnames(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(T(s, dir, "part"), k = 2, n = 3, strCol = "p_name")

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(T(s, dir, "embeddings"), threshold = 0.8)

  /** SRP (random-hyperplane) LSH pairs under the exact all-pairs oracle.
    * The corpus has no organic high-cosine pairs (max ≈ 0.55), so the query
    * plants exact duplicates — 50 vectors re-inserted scaled by 2, the
    * re-crawled-identical-content model. Scaled duplicates have IDENTICAL
    * SRP signatures by fp exactness (power-of-two scaling commutes with
    * rounding; [[graft.ops.Similarity.srpPairs]] scaladoc), so recall here
    * is certain, not probabilistic; candidates are exact-verified — the
    * LSH output therefore equals the exact computation and legitimately
    * shares its oracle (the `dedup_minhash_lsh` pattern).
    */
  private def dedupSrpPairs(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    graft.ops.Ordered.smallResult(
      Similarity.srpPairs(e.unionByName(planted), threshold = 0.9, dim = 64),
      "v1", "v2")
  }

  /** Transitive near-dup cluster collapse over the exact Jaccard pairs —
    * [[Dedup.connectedComponents]] under a recursive-CTE oracle (full
    * reachability closure, independently computed).
    */
  private def dedupClusterRep(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    Dedup.connectedComponents(docs.select(col("doc_id")), pairs, idCol = "doc_id")
      .select(col("id").as("doc_id"), col("rep").as("rep_id"),
        (col("rep") =!= col("id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** The same cluster collapse via the O(log n)-round large-star/small-star
    * contraction ([[graft.ops.Dedup.connectedComponentsLogRounds]]) — the
    * deep-diameter algorithm under the identical WITH RECURSIVE closure
    * oracle as `dedup_cluster_rep`.
    */
  private def dedupClusterRepLogstar(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    Dedup.connectedComponentsLogRounds(docs.select(col("doc_id")), pairs, idCol = "doc_id")
      .select(col("id").as("doc_id"), col("rep").as("rep_id"),
        (col("rep") =!= col("id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- similarity

  private def simTopkCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.topK(T(s, dir, "embeddings"), queryId = 0, k = 10)

  private def simPairsThreshold(s: SparkSession, dir: String): DataFrame =
    Similarity.pairsAbove(T(s, dir, "embeddings"), threshold = 0.3)

  /** Sub-quadratic cosine threshold-pairs
    * ([[graft.ops.Similarity.pairsAboveBanded]]): SRP band-equality
    * candidates + exact verify, returning `pairsAbove`'s relation under the
    * BRUTE-FORCE all-pairs oracle — the scale twin `sim_pairs_threshold`
    * (the documented O(n²) audit baseline, 12.5× wall at 10× data) was
    * missing. The corpus has no organic pairs ≥ 0.9 (max ≈ 0.51), so the
    * gate plants both recall families the op's contract names: 50
    * quarter-SCALED duplicates (identical signatures by fp exactness —
    * recall CERTAIN) and 50 tight near-dups (`x + x²/128`, cosine ≈ 0.9999
    * — nonlinear so the direction actually moves; same IEEE double ops on
    * both engines). The oracle brute-forces the same augmented corpus, so a
    * single missed candidate hash-fails the gate.
    */
  private def simPairsBanded(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val scaled = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.25)).as("embedding"))
    val pert = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 300000L).as("vec_id"),
        transform(col("embedding"), x => x + x * x / lit(128.0)).as("embedding"))
    Similarity.pairsAboveBanded(
      e.unionByName(scaled).unionByName(pert), threshold = 0.9, dim = 64)
  }

  /** The MULTIPROBE plan under the same brute-force oracle as
    * `sim_pairs_banded`: probes = 1 forced (the gate corpus is below the
    * size switch, so the auto default would take the exact-match
    * geometry and the Hamming-1 candidate path would ship oracle-ungated).
    * Identical relation contract — one missed candidate hash-fails.
    */
  private def simPairsBandedMp(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val scaled = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.25)).as("embedding"))
    val pert = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 300000L).as("vec_id"),
        transform(col("embedding"), x => x + x * x / lit(128.0)).as("embedding"))
    Similarity.pairsAboveBanded(
      e.unionByName(scaled).unionByName(pert), threshold = 0.9, dim = 64,
      probes = 1)
  }

  /** MID-BAND recall audit for [[graft.ops.Similarity.pairsAboveBanded]]
    * — the gate `sim_pairs_banded` cannot provide (its corpus has no
    * organic pairs in [0.9, 0.999], so a geometry that under-recalls at
    * the advertised threshold 0.9 still passed; r18's (48, 4) default had
    * boundary candidate probability ≈ 0.49 there). Per document pair
    * `p = doc_id div 2` a vector pair is PLANTED at exact cosine
    * 0.90/0.95/0.99/0.999 by `p mod 4`: side a is a ±1 vector (two-round
    * integer mixer over (p, j) — [[graft.ops.Similarity.srpWeight]]'s
    * recipe), side b = a ⊙ (c ± s) with +s on the first half of the
    * coordinates and −s on the second, so ⟨a,b⟩ = 16c, |a| = |b| = 4 and
    * cos(a,b) = c EXACTLY (one multiply per coordinate; distinct ±1
    * vectors keep every cross cosine ≤ 14/16 = 0.875 < 0.9, so families
    * stay separable). The banded op runs at threshold 0.9 with the
    * THRESHOLD-DERIVED default plan ([[graft.ops.Similarity.srpPlanFor]]
    * → 255 bits / 15 bands / 1 Hamming-probe, boundary recall ≥ 0.99);
    * per family the gate reports
    * planted-pair count and `recall_ok` = found ≥ ⌈0.95·expected⌉ — slack
    * for the ≈1% per-pair miss budget the 0.99 target allows, deterministic
    * because the SRP planes are seed-free. The oracle re-derives the
    * counts analytically (cosines are exact by construction — no vector
    * math in SQL) and expects every family's recall_ok = 1.
    */
  private def simPairsBandedRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = 16
    val cosines = Array(0.90, 0.95, 0.99, 0.999)
    val vecs = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val p = id / 2
          val f = (p % 4).toInt
          val cf = cosines(f)
          val sf = math.sqrt(1.0 - cf * cf)
          val a = Array.tabulate(d) { j =>
            val h1 = ((p * 131071L + j.toLong + 1L) * 2654435761L) & 0xffffffffL
            val h2 = (((h1 >> 16) + h1) * 2246822519L) & 0xffffffffL
            if ((h2 >> 31) == 1L) 1.0 else -1.0
          }
          val v =
            if (id % 2 == 0) a
            else Array.tabulate(d)(j => a(j) * (cf + (if (j < d / 2) sf else -sf)))
          (id, v)
        }
      }.toDF("vec_id", "embedding")
    val sides = vecs.select(col("vec_id"),
      (col("vec_id") - col("vec_id") % 2).divide(2).cast("long").as("p"),
      (col("vec_id") % 2).as("side"), col("embedding"))
    val planted = sides.filter(col("side") === 0)
      .select(col("p"), col("embedding").as("va"))
      .join(sides.filter(col("side") === 1)
        .select(col("p"), col("embedding").as("vb")), Seq("p"))
      .filter(round(Similarity.cosine(col("va"), col("vb")), 4) >= 0.90)
      .select(col("p"), (col("p") % 4).as("fam"))
    val found = Similarity.pairsAboveBanded(vecs, threshold = 0.90, dim = d)
      .select((col("v1") - col("v1") % 2).divide(2).cast("long").as("p"),
        col("v1"), col("v2"))
      .filter(col("v2") === col("v1") + 1 && col("v1") % 2 === 0)
      .select(col("p"), lit(1L).as("hit"))
    graft.ops.Ordered.smallResult(
      planted.join(found, Seq("p"), "left")
        .groupBy(col("fam"))
        .agg(count(lit(1)).as("n_expected"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .select(
          element_at(typedlit(Seq("0.90", "0.95", "0.99", "0.999")),
            col("fam").cast("int") + 1).as("family"),
          col("n_expected"),
          (col("n_found") >= ceil(col("n_expected") * lit(0.95)))
            .cast("long").as("recall_ok")),
      "family")
  }

  private def annIvfTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(T(s, dir, "embeddings"), queryId = 0, k = 10, nprobe = 3)

  /** Registry fixtures: a persisted index, table or stream source that
    * gates build once per JVM and then probe, one per `(kind, dir)`. A
    * production index is built once and probed millions of times, so
    * repeated gate invocations reuse the fixture and price the PROBE (the
    * first call pays the build, like production's one-time build job).
    *
    *  - Build once: concurrent callers of one key wait for a single build
    *    and share its value; the map only hands out a per-key holder, so a
    *    slow build never holds a map lock or blocks another key.
    *  - Fresh directory per attempt: every build gets a new empty
    *    `graft-$kind-*` directory under `java.io.tmpdir`. A build that
    *    throws records nothing, and the next call retries in a new
    *    directory instead of resuming the failed attempt's leftovers.
    *  - One cleanup: a single shutdown hook deletes every directory handed
    *    out here with [[deleteTree]], which never follows symlinks (a
    *    fixture may link to the corpus), so crash-free runs leave nothing
    *    in the temp dir.
    */
  private[graft] def fixture[T](kind: String, dir: String)(build: String => T): T =
    fixtures.computeIfAbsent(s"$kind:$dir", _ => new Once)
      .get(build(scratchDir(kind).toString)).asInstanceOf[T]

  private def builtIndexPath(kind: String, dir: String)(build: String => Unit): String =
    fixture(kind, dir) { p => build(p); p }

  private final class Once {
    private var value: Option[Any] = None
    def get(make: => Any): Any = synchronized {
      value.getOrElse { val v = make; value = Some(v); v }
    }
  }
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[String, Once]()
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { d =>
        try deleteTree(d)
        catch { case scala.util.control.NonFatal(e) => System.err.println(s"graft: $e") }
      }))
  private def scratchDir(kind: String): java.nio.file.Path = {
    cleanupHook
    val d = java.nio.file.Files.createTempDirectory(s"graft-$kind-")
    scratchDirs.add(d)
    d
  }

  /** Delete a file tree without following symlinks: a link is removed, its
    * target is left alone.
    */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val kids = java.nio.file.Files.list(p)
      try kids.forEach(k => deleteTree(k)) finally kids.close()
    }
    java.nio.file.Files.deleteIfExists(p): Unit
  }

  private def ivfIndexPath(emb: DataFrame, dir: String): String =
    builtIndexPath("ivf-idx", dir)(Similarity.ivfBuild(emb, _))

  /** Persisted-index ANN: [[graft.ops.Similarity.ivfBuild]] writes the
    * cluster-partitioned index once per JVM (via [[ivfIndexPath]]), then
    * the probe answers the query from `nprobe` partition-pruned inverted
    * lists alone — zero assignment work at read time, the shape that
    * amortizes at 100 TB. A production index is built once and probed
    * millions of times, so repeated invocations here reuse the built
    * index and price the PROBE (the first call pays the build, exactly
    * like production's one-time build job). Same approximation as
    * `ann_ivf_topk` — the oracle is shared verbatim, so a divergence
    * between the persisted and in-plan paths turns the driver red.
    */
  private def annIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = ivfIndexPath(emb, dir)
    Similarity.ivfProbePersisted(s, path, queryVec(emb, 0L),
      k = 10, nprobe = 3, excludeId = Some(0L))
  }

  /** IVF index for the APPEND lifecycle gate — built over the even-id half
    * of the corpus, then [[graft.ops.Similarity.ivfAppend]] ingests the odd
    * half against the PERSISTED (even-only) centroids. Same build-once and
    * cleanup discipline as [[ivfIndexPath]]; separate index because this
    * one is mutated.
    */
  private def appendIvfIndexPath(emb: DataFrame, dir: String): String =
    builtIndexPath("ivf-apx", dir) { p =>
      Similarity.ivfBuild(emb.filter(col("vec_id") % 2 === 0), p)
      Similarity.ivfAppend(emb.filter(col("vec_id") % 2 === 1), p)
    }

  /** Build→append→RECLUSTER lifecycle index: the `ann_ivf_recall_stale`
    * drift recipe, but persisted — the base corpus is built with its label
    * centroids, the 40 drifted vectors (label 99) are appended against
    * those FROZEN centroids (scattering across clusters that never
    * described them), then [[graft.ops.Similarity.ivfRecluster]] rebuilds
    * routing from the index's own vectors: label 99 becomes its own
    * cluster directory and the drifted region probes at fresh-index recall.
    */
  private def reclusterIvfIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("ivf-rcx", dir) { p =>
      val e0 = T(s, dir, "embeddings").select(
        col("vec_id"), col("label"), col("embedding").cast("array<double>").as("embedding"))
      val v0 = e0.filter(col("vec_id") === 0).select(col("embedding").as("v0"))
      val drift = e0.filter(col("vec_id").between(1, 40))
        .crossJoin(broadcast(v0))
        .select((col("vec_id") + 100000L).as("vec_id"), lit(99).as("label"),
          zip_with(col("v0"), col("embedding"), (a, b) => a + lit(0.9) * b).as("embedding"))
      Similarity.ivfBuild(e0, p)
      Similarity.ivfAppend(drift, p)
      Similarity.ivfRecluster(s, p)
    }

  /** RECLUSTER lifecycle gate: after [[reclusterIvfIndexPath]]'s
    * build→append→recluster, a drifted query probed at nprobe=3 must see
    * its whole drifted neighborhood. The oracle re-derives centroids over
    * the GROWN corpus (label 99 included), assignment, probe list, and
    * top-10 from scratch — a recluster that was skipped (or only half
    * applied) leaves the frozen routing's recall_stale-degraded row set
    * and hash-mismatches.
    */
  private def annIvfRecluster(s: SparkSession, dir: String): DataFrame = {
    val path = reclusterIvfIndexPath(s, dir)
    val e0 = T(s, dir, "embeddings")
    val v0 = e0.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("v0"))
    val q = e0.filter(col("vec_id") === 1)
      .crossJoin(broadcast(v0))
      .select(zip_with(col("v0"), col("embedding").cast("array<double>"),
        (a, b) => a + lit(0.9) * b).as("qv"))
      .head().getSeq[Double](0).toArray
    Similarity.ivfProbePersisted(s, path, q, k = 10, nprobe = 3, excludeId = Some(100001L))
  }

  /** Persisted-IVF APPEND lifecycle: the index is built over only even
    * vec_ids (centroids = even-half label means), the odd half arrives as
    * an ingest batch assigned to those FROZEN centroids and appended into
    * the cluster partitions, and the probe answers from the result. Around
    * half the top-10 are odd vectors — rows that can only come from
    * appended files (a dropped append keeps the probe plan green but
    * loses those rows, and the oracle — which re-derives even-half
    * centroids and assigns the FULL corpus to them — turns red).
    */
  private def annIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = appendIvfIndexPath(emb, dir)
    Similarity.ivfProbePersisted(s, path, queryVec(emb, 0L),
      k = 10, nprobe = 3, excludeId = Some(0L))
  }

  /** §2.9 streaming INDEX-INGEST gate: the `ann_ivf_append` lifecycle with
    * the ingest arriving as a STREAM — the production shape where new
    * embeddings trickle in continuously and the index absorbs them without
    * rebuilds. The even-id half builds the index; the odd half is staged
    * as three parquet files and replayed one file per micro-batch
    * (`AvailableNow` + `maxFilesPerTrigger=1`) through a `foreachBatch`
    * that runs [[graft.ops.Similarity.ivfAppend]] — each batch encodes
    * against the index's FROZEN centroids and lands in the cluster
    * partitions. Appends are encode-only, so the final index state is
    * batch-split-invariant: the probe must equal `ann_ivf_append`'s
    * exactly (oracle shared verbatim) — a dropped or double-applied
    * micro-batch loses/duplicates rows and turns the shared oracle red.
    */
  private def streamAnnIngestPath(s: SparkSession, dir: String): String =
    builtIndexPath("ivf-stx", dir) { p =>
      val emb = T(s, dir, "embeddings")
      Similarity.ivfBuild(emb.filter(col("vec_id") % 2 === 0), p)
      val odd = emb.filter(col("vec_id") % 2 === 1)
      odd.repartition(3).write.parquet(s"$p/ingest_src")
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(odd.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$p/ingest_src")
        val q = src.writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) => Similarity.ivfAppend(b, p))
          .option("checkpointLocation", s"$p/ingest_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }

  private def streamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = streamAnnIngestPath(s, dir)
    Similarity.ivfProbePersisted(s, path, queryVec(emb, 0L),
      k = 10, nprobe = 3, excludeId = Some(0L))
  }

  /** §2.9 streaming LEAKAGE-SAFE SPLIT INGEST gate: the `split_leakage_safe`
    * assignment maintained across a live ingest stream —
    * [[graft.ops.Sampling.leakageSafeIngestBatch]] composing
    * [[graft.ops.Dedup.nearDupAgainst]] (persisted-MinHash probe) with the
    * representative-hash split rule inside one `foreachBatch`. Fixture:
    * the base corpus is split cluster-consistently and MinHash-indexed;
    * exact copies of every 11th document (ids +100000) arrive as a
    * three-file stream replayed one file per micro-batch. Every copy MUST
    * inherit its source cluster's split (an exact copy shares all band
    * signatures, so the index probe cannot miss it) — the oracle derives
    * the batch leakage-safe split of the replayed UNION, which reduces to
    * the base closure plus copies inheriting their source's representative
    * (a copy's links duplicate its source's links exactly, so the union's
    * components and min-id representatives equal the base corpus's). A
    * copy assigned by its OWN id-hash — the ingest-boundary leak this op
    * exists to close — lands in a different split for ~20% of copies and
    * turns the oracle red.
    */
  private def streamSplitIngestPath(s: SparkSession, dir: String): String =
    builtIndexPath("split-ingest", dir) { p =>
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
      val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
        .select(col("d1"), col("d2"))
      graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), pairs, splits)
        .select(col("doc_id"), col("rep"), col("split"))
        .write.parquet(s"$p/assignment")
      Dedup.minhashIndexBuild(docs, s"$p/mh", n = 3)
      val incoming = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      incoming.repartition(3).write.parquet(s"$p/ingest_src")
      // The boundary case the index probe alone cannot close: ten pairs of
      // documents that are near-dups OF EACH OTHER but of nothing indexed
      // (alien `qx#k` token alphabet), landing in ONE micro-batch — the
      // intra-batch closure must co-assign each pair (rep = the pair's
      // smaller id), or the re-crawled-duplicates-in-one-dump leak reopens.
      s.range(0, 20).select((col("id") + 300000L).as("doc_id"),
          format_string("qx#%1$da qx#%1$db qx#%1$dc qx#%1$dd qx#%1$de",
            (col("id") / 2).cast("long")).as("text"))
        .coalesce(1).write.mode("append").parquet(s"$p/ingest_src")
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(incoming.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$p/ingest_src")
        val q = src.writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            graft.ops.Sampling.leakageSafeIngestBatch(b.toDF(), s"$p/mh",
              s"$p/assignment", splits, n = 3, threshold = 0.6))
          .option("checkpointLocation", s"$p/ingest_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }

  /** §2.9 streaming CDC-INTO-TIME-TRAVEL gate: a change stream applied to
    * a [[graft.ops.Versioned]] table with ONE VERSION PER MICRO-BATCH —
    * the structured-streaming → lakehouse-table shape (Delta's
    * foreachBatch MERGE pattern over this repo's own versioned layout).
    * The base snapshot is the %3 slice; the %4 boosted slice arrives as
    * three deterministic files (split by event_id % 3 — DISJOINT key
    * sets, so the final state is batch-order-free) and each micro-batch
    * runs a file-granular COW MERGE producing version 2, 3, 4. Empty
    * micro-batches are skipped — committing an empty version is the
    * production bug this guard documents. The gate reads versions 1 and 4
    * AFTER the whole replay: v1 must still read exactly as written (time
    * travel under concurrent-looking ingest) and v4 must equal the batch
    * MERGE of the full %4 slice — both re-derived relationally by the
    * oracle; the order-dependent middle versions are pinned by
    * VersionedSpec, not the oracle.
    */
  private def streamTableVersionsPath(s: SparkSession, dir: String): String =
    builtIndexPath("vtab-stream", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      val ingest = e.filter(col("event_id") % 4 === 0)
        .withColumn("value", col("value") + lit(1000.0))
      // Three sequential single-file writes → three micro-batches in
      // arrival order (disjoint %3 residue slices).
      for (k <- 0 to 2)
        ingest.filter(col("event_id") % 3 === k)
          .coalesce(1).write.mode("append").parquet(s"$p/ingest_src")
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(ingest.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$p/ingest_src")
        val q = src.writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            if (!b.isEmpty)
              graft.ops.Versioned.upsertVersion(b.toDF(), s"$p/t", Seq("event_id")): Unit)
          .option("checkpointLocation", s"$p/ingest_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // Retention composed into the CDC replay: version growth is bounded
      // by one vacuum after the last micro-batch — v1/v2 go unresolvable,
      // their four original data files (all rewritten by the first batch's
      // %12=0 keys) are reclaimed, and v2's fresh files survive because
      // the kept v3 manifest still references them.
      val removed = graft.ops.Versioned.vacuum(s, s"$p/t", keepLast = 2)
      import s.implicits._
      Seq(removed.toLong).toDF("n_removed").coalesce(1)
        .write.parquet(s"$p/report")
    }

  private def streamTableVersions(s: SparkSession, dir: String): DataFrame = {
    val path = streamTableVersionsPath(s, dir)
    val latest = graft.ops.Versioned.latestVersion(s, s"$path/t")
      .getOrElse(sys.error(s"$path/t: no versioned table"))
    require(latest == 4L, s"expected 4 versions after the 3-batch replay, got $latest")
    val nDropped = Seq(1L, 2L).count { v =>
      try { graft.ops.Versioned.readVersion(s, s"$path/t", v); false }
      catch { case _: IllegalArgumentException => true }
    }
    def stats(v: Int) = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(v).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
    stats(3).unionByName(stats(4)).orderBy(col("version"))
      .crossJoin(s.read.parquet(s"$path/report"))
      .withColumn("n_dropped_reads", lit(nDropped.toLong))
  }

  private def streamSplitIngest(s: SparkSession, dir: String): DataFrame = {
    val path = streamSplitIngestPath(s, dir)
    graft.ops.Ordered.smallResult(
      s.read.parquet(s"$path/assignment")
        .select(col("doc_id"), col("rep").as("rep_id"),
          coalesce(col("split"), lit("holdout")).as("split")),
      "doc_id")
  }

  /** IVF over k-means‖-seeded centroids — the UNLABELED-corpus scale path:
    * [[graft.ops.Similarity.centroidsKMeansParallel]]'s oversampled
    * candidate rounds + greedy weighted cut + Lloyd polish feed
    * [[graft.ops.Similarity.ivfTopKCustom]]. Every stage is deterministic
    * (Knuth-hash coins, id tie-breaks), so the DuckDB oracle re-derives the
    * WHOLE pipeline — sampling rounds as chained CTEs, the greedy cut as a
    * recursive CTE carrying the chosen-seed list — and a drift anywhere in
    * init, cut, Lloyd, assignment, or probe turns the driver red.
    */
  private def annIvfKmeanspar(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Similarity.ivfTopKCustom(
      emb,
      Similarity.centroidsKMeansParallel(
        emb, k = 8, oversample = 2.0, initRounds = 3, lloydRounds = 2),
      queryId = 0, k = 10, nprobe = 3)
  }

  /** Measured recall@10 of the IVF approximation vs brute force — the
    * approximation contract as a gated NUMBER (see
    * [[graft.ops.Similarity.ivfRecallBatch]]); covers the persisted probe
    * transitively (it shares `ann_ivf_topk`'s oracle, and query 0 here is
    * that same query).
    */
  private def annIvfRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfRecallBatch(T(s, dir, "embeddings"),
      queryIds = Seq(0L, 1L, 2L), k = 10, nprobe = 3)

  /** Recall-after-append DRIFT gate: 40 planted drifted vectors
    * (`v₀ + 0.9·vᵢ`, a new dense region none of the original label-mean
    * centroids describes, labeled 99) are appended to the corpus, and the
    * drifted queries' recall is measured twice — against the STALE
    * centroids a persisted index was built with (the drifted region
    * scatters across 7 of the 10 old clusters, so a 3-probe read misses
    * most of its own neighborhood: recall 0.4–0.7) and against FRESH
    * re-derived centroids (label 99 gets its own centroid: recall 1.0).
    * The stale number IS the staleness signal [[graft.ops.Similarity
    * .ivfAppend]]'s frozen-centroid contract defers to — this gate turns
    * "re-cluster when recall drifts" from prose into a measured row.
    */
  private def annIvfRecallStale(s: SparkSession, dir: String): DataFrame = {
    val e0 = T(s, dir, "embeddings").select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("embedding"))
    val v0 = e0.filter(col("vec_id") === 0).select(col("embedding").as("v0"))
    val drift = e0.filter(col("vec_id").between(1, 40))
      .crossJoin(broadcast(v0))
      .select((col("vec_id") + 100000L).as("vec_id"), lit(99).as("label"),
        zip_with(col("v0"), col("embedding"), (a, b) => a + lit(0.9) * b).as("embedding"))
    val corpus = e0.unionByName(drift)
    Similarity.ivfRecallDrift(corpus, Similarity.labelCentroids(e0),
      queryIds = Seq(100001L, 100002L, 100003L), k = 10, nprobe = 3)
  }

  /** Batch ANN — one plan answers a query SET (the realistic shape: nothing
    * loops per query), checked against a per-query windowed re-derivation.
    */
  private def annIvfTopkBatch(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKBatch(T(s, dir, "embeddings"), queryIds = Seq(0L, 1L, 2L),
      k = 10, nprobe = 3)

  /** Top-k cosine over int8-DEQUANTIZED vectors, with a per-row
    * `within_bound` flag asserting the quantized score stayed within 0.05
    * of the exact one — the same self-calibrating gate pattern as the HLL
    * and GK-sketch queries (the approximation ships, its error contract is
    * what the oracle checks). The join against the raw vectors exists only
    * for that comparison; production persists (qvec, qscale) alone.
    */
  private def embQuantTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val deq = Similarity.quantizeInt8(emb)
      .select(col("vec_id"),
        transform(col("qvec"), b => b.cast("double") * col("qscale")).as("dvec"))
    val base = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("evec"))
      .join(deq, "vec_id")
    val q0 = base.filter(col("vec_id") === 0)
      .select(col("evec").as("__qe"), col("dvec").as("__qd"))
    base.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(
        col("vec_id"),
        round(Similarity.cosine(col("dvec"), col("__qd")), 4).as("cosine_q"),
        (abs(Similarity.cosine(col("dvec"), col("__qd")) -
          Similarity.cosine(col("evec"), col("__qe"))) <= lit(0.05))
          .cast("long").as("within_bound"))
      .orderBy(col("cosine_q").desc, col("vec_id"))
      .limit(10)
  }

  /** ANN without labels: centroids from the seed-deterministic k-means init
    * ([[graft.ops.Similarity.centroidsKMeans]]) — the projection drops
    * `label` BEFORE the operator, so the plan proves the path needs none
    * (PlanSpec pins the pruned scan). Oracle re-derives the seeds and both
    * Lloyd rounds as a CTE chain.
    */
  private def annIvfTopkNolabel(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKUnlabeled(
      T(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      queryId = 0, k = 10, nprobe = 3, nCentroids = 8, rounds = 2)

  // ------------------------------------------------------------ text analysis

  // Per-document outputs sort via Ordered.smallResult — one exchange, no
  // resampling range sort; the total order is for the oracle compare only.
  private def textStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.tokenStats(T(s, dir, "documents")), "doc_id")

  private def textBpeStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.bpeTokenStats(T(s, dir, "documents")), "doc_id")

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.qualityScore(T(s, dir, "documents")), "doc_id")

  /** [[graft.ops.Text.gopherQuality]] — the named-rule battery; the oracle
    * replicates every rule (including the row-local top-bigram fold) in
    * DuckDB list arithmetic, with the RAW metrics in the keep-conjunction
    * and the rounded ones only in the output.
    */
  private def gopherQualityRules(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.gopherQuality(T(s, dir, "documents")), "doc_id")

  /** [[graft.ops.Text.lmQualityBands]] self-trained on the corpus — the
    * CCNet perplexity filter as a gate (unigram LM, add-0.5 smoothing,
    * exact NLL tertile banding).
    */
  private def lmQualityBandsQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    graft.ops.Ordered.smallResult(Text.lmQualityBands(d, d), "doc_id")
  }

  /** Count-trained discriminative quality filter
    * ([[graft.ops.Text.nbQualityScore]]): English docs as the positive
    * class (the curated-vs-crawl recipe on this corpus's labels), every
    * document scored by mean per-token NB log-odds — training counts,
    * smoothing, weights, scores, and the ≥0 decision all re-derived by the
    * oracle.
    */
  private def nbQualityScoreQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.nbQualityScore(T(s, dir, "documents"), col("lang") === "en"),
      "doc_id")

  /** The classifier AUDIT twin: confusion counts per actual language —
    * n, predicted-positive count, and unrounded mean score. The number
    * that says whether the filter is usable before anyone applies it.
    */
  private def nbQualityEvalQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.nbQualityScore(T(s, dir, "documents"), col("lang") === "en")
        .join(T(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("pred_pos")).cast("long").as("n_pred_pos"),
          // round-10 → decimal lattice before the sum (the meanVectors
          // discipline: aggregation-order-proof), mean left unrounded.
          (sum(round(col("score"), 10).cast("decimal(30,10)")).cast("double") /
            count(lit(1)).cast("double")).as("mean_score")),
      "lang")

  private def textLangid(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("lang"), Text.langId(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** [[graft.ops.Text.langIdByJoin]] (broadcast-dictionary formulation)
    * under the `text_langid` confusion-matrix oracle: the true `lang` joins
    * back on doc_id, then the same (lang, pred_lang) rollup.
    */
  private def textLangidJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Text.langIdByJoin(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.fingerprint(T(s, dir, "documents")), "doc_id")

  private def textRollingFp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.rollingFingerprint(T(s, dir, "documents")), "doc_id")

  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    Text.tfidfTopTerms(T(s, dir, "documents"), k = 15)

  /** Per-source unigram KL divergence to the corpus blend
    * ([[graft.ops.Text.tokenDivergence]]) — the mixture-drift report;
    * per-term contributions round to the 10-dp lattice and sum as exact
    * decimals, so the oracle re-derives the number with identical
    * parenthesization.
    */
  private def sourceTokenKl(s: SparkSession, dir: String): DataFrame =
    Text.tokenDivergence(T(s, dir, "documents"))

  /** Fixed-width histogram of per-document token counts — the corpus-stats
    * report an LLM data pipeline watches (length distribution shifts signal
    * extraction bugs). One narrow scan + one tiny aggregate; entirely
    * partial-aggregated, so the shuffle carries one row per bucket.
    */
  private def tokenHistogram(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.tokenStats(T(s, dir, "documents"))
        .select((floor(col("n_tokens") / 10) * 10).cast("long").as("bucket_lo"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs")),
      "bucket_lo")

  /** [[tokenHistogram]] over merge-table BPE counts — the histogram a
    * context-window planner actually budgets with.
    */
  private def tokenHistogramBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.bpeMergeTokenCounts(T(s, dir, "documents"))
        .select((floor(col("n_tokens_bpe") / 10) * 10).cast("long").as("bucket_lo"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs")),
      "bucket_lo")

  /** Concat-then-chunk packing layout over the whole corpus — the stitched
    * distributed prefix sum under an exact window-sum oracle.
    */
  private def docPackBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.packByBudget(T(s, dir, "documents"), budget = 512), "doc_id")

  /** Corpus-wide top merged tokens under the full WITH RECURSIVE BPE
    * re-derivation — the end-to-end gate on the merge-table tokenizer
    * (chained merges, self-pair overlap parity, vocabulary caching).
    */
  private def bpeMergeTopTokens(s: SparkSession, dir: String): DataFrame =
    Text.bpeMergeTopTokens(T(s, dir, "documents"), k = 30)

  /** [[docPackBudget]] on REAL merge-table BPE counts instead of whitespace
    * counts — the budget a production tokenizer would bill. Same stitched
    * prefix-sum packing, oracle re-derives the counts from the BPE fixpoint.
    */
  private def docPackBudgetBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.packCountsByBudget(
        Text.bpeMergeTokenCounts(T(s, dir, "documents")),
        budget = 512, countCol = "n_tokens_bpe"),
      "doc_id")

  /** Deterministic per-language cap (hash-rank stratified sample): exactly
    * 5 docs per lang, reproducible across runs — no rand() anywhere.
    */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.stratifiedExactN(
        T(s, dir, "documents"), Seq("lang"), "doc_id", n = 5)
        .select(col("lang"), col("doc_id"), col("sample_rank").cast("long").as("sample_rank")),
      "lang", "sample_rank")

  /** Shuffle-free fractional sample: a pure hash filter (pushable, no
    * exchange — PlanSpec pins that) — the down-weighting shape in a data
    * mix at 100 TB.
    */
  private def sampleFraction(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.fractionByHash(T(s, dir, "documents"), "doc_id", frac = 0.25)
        .select(col("doc_id"), col("lang")),
      "doc_id")

  /** Per-source weighted data mix (down-weight dominant en, drop sources
    * not in the recipe) — still a pure filter, weights as a CASE literal.
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.weightedBySource(
        T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.25, "fr" -> 1.0, "de" -> 0.5))
        .select(col("doc_id"), col("lang")),
      "doc_id")

  /** Token-count distribution via the GK quantile sketch — same gate pattern
    * as `approx_distinct_users`: exact quantiles are the oracle-checked
    * values, and `within_bound` asserts the sketch landed within 5% (+2
    * absolute) of each. At 100 TB the sketch (mergeable, bounded memory) is
    * the only viable path; the exact percentile here is the corpus-scale
    * calibration of its error.
    */
  private def tokenCountQuantiles(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokenStats(T(s, dir, "documents")).select(col("n_tokens"))
    def ok(ap: Column, ex: Column): Column =
      abs(ap - ex) <= greatest(lit(2.0), ex * lit(0.05))
    // Array-form percentiles: ONE exact-percentile buffer and ONE
    // QuantileSummaries sketch per partial instead of six — the six
    // independent aggregate buffers (3 sorted-value buffers + 3 sketches,
    // each built and merged per partition) were this query's whole cost.
    toks.agg(
      percentile(col("n_tokens"), array(lit(0.5), lit(0.9), lit(0.99))).as("__e"),
      percentile_approx(col("n_tokens"), array(lit(0.5), lit(0.9), lit(0.99)),
        lit(10000)).as("__a"))
      .select(
        round(element_at(col("__e"), 1), 4).as("p50"),
        round(element_at(col("__e"), 2), 4).as("p90"),
        round(element_at(col("__e"), 3), 4).as("p99"),
        (ok(element_at(col("__a"), 1).cast("double"), element_at(col("__e"), 1)) &&
          ok(element_at(col("__a"), 2).cast("double"), element_at(col("__e"), 2)) &&
          ok(element_at(col("__a"), 3).cast("double"), element_at(col("__e"), 3)))
          .cast("long").as("within_bound"))
  }

  /** M4 downsampling ([[graft.ops.Windowed.m4Downsample]]): the canonical
    * min/max/first/last per-bucket decimation (VLDB 2014) over the events
    * series, 6-hour buckets per event type — the "render a month of points
    * in one pixel row" op a uts-style dashboard needs. One aggregation; the
    * oracle re-derives first/last by rank with the shared (time, event_id)
    * tie order.
    */
  private def utsM4Downsample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windowed.m4Downsample(
      ev(s, dir).df, "time", "value", "event_id", bucketMs = 6 * Hour,
      partitionCols = Seq("event_type"))
      .select(col("event_type"), col("bucket_start"), col("n"),
        col("v_min"), col("v_max"), col("v_first"), col("v_last"))
      .orderBy(col("event_type"), col("bucket_start"))

  /** Gap-based sessionization (§2.9's session windows) on the BATCH path:
    * `session_window` merges events per key while gaps stay under 30 min;
    * window end = last event + gap. The oracle re-derives sessions with the
    * classic lag + cumulative-boundary-sum SQL — fully independent of
    * Spark's merge implementation.
    */
  private def sessionCountsByType(s: SparkSession, dir: String): DataFrame = {
    val ev0 = ev(s, dir).df
      .select(col("event_type"), timestamp_micros(expr("time * 1000")).as("ts_event"),
        col("value"))
    // Value rollup as an EXACT decimal sum (associative, so partial-merge
    // order can't move it): small sessions put fp noise — and, after a
    // division, exact ….5 decimal boundaries, which Spark (shortest-string
    // HALF_UP) and DuckDB (binary-value) round differently — right on the
    // round-4 edge. The sum stays on the 2-decimal lattice; no boundary.
    ev0.groupBy(session_window(col("ts_event"), "1800 seconds"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(coalesce(sum(col("value").cast("decimal(30,10)")).cast("double"), lit(0.0)), 4)
          .as("sum_value"))
      .select(
        unix_millis(col("session_window.start")).as("sess_start"),
        unix_millis(col("session_window.end")).as("sess_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("event_type"), col("sess_start"))
  }

  private def jsonPropsStats(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"), round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** `from_json` with an explicit schema — one typed parse per row (the scale
    * path; `get_json_object` re-parses per extracted path). Same values as
    * the regex-deriving oracle on this corpus's single-key props.
    */
  private def jsonPropsTyped(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(coalesce(sum(col("k")), lit(0L)).as("sum_k"),
        count(when(col("k") > 50, lit(1))).as("n_big"))
      .orderBy(col("event_type"))

  /** Planted-container gate over ALL FIVE real codecs: by doc_id % 7, a
    * document's payload is a REAL parseable BMP / binary PPM / PCM WAV /
    * PNG / baseline JPEG (header fields from doc_id arithmetic, text bytes
    * as the pixel/sample/entropy payload — the `*Wrap` builders in
    * [[graft.ops.Multimodal]]); the remaining two residues stay raw text.
    * One row gates every decode path: the strict header/chunk/marker
    * parses on the planted containers (the oracle derives width/height —
    * and the digit-count- or CRC-frame-dependent byte lengths — from the
    * same doc_id arithmetic; an endianness, offset, CRC, or
    * marker-length slip turns it red) and the documented stub fallback on
    * raw text, with the `codec` column pinning WHICH path fired per row.
    */
  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = T(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        Multimodal.bmpWrap(lit(1) + col("doc_id") % 63, lit(1) + col("doc_id") % 37,
          encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 1,
          Multimodal.ppmWrap(lit(1) + col("doc_id") % 53, lit(1) + col("doc_id") % 41,
            encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 2,
          Multimodal.wavWrap(lit(1) + col("doc_id") % 997, lit(1) + col("doc_id") % 2,
            lit(8000) + col("doc_id") % 100, encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 3,
          Multimodal.pngWrap(lit(1) + col("doc_id") % 45, lit(1) + col("doc_id") % 29,
            encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 4,
          Multimodal.jpegWrap(lit(1) + col("doc_id") % 499, lit(1) + col("doc_id") % 307,
            encode(col("text"), "UTF-8")))
        .otherwise(encode(col("text"), "UTF-8")).as("payload"))
    // smallResult, not orderBy: a range sort's sampling pass would run the
    // whole decode/feature mapPartitions pipeline a second time.
    graft.ops.Ordered.smallResult(
      Multimodal.extractFeatures(s, media).toDF(),
      "doc_id")
  }

  /** [[graft.ops.Multimodal.resize]] gated BYTE-EXACTLY: the corpus text is
    * pure ASCII, so the oracle re-derives the truncated/zero-padded payload
    * as a VARCHAR (DuckDB's md5 hashes the raw bytes, NULs included) and the
    * md5s must match. Target 64 bytes sits inside the corpus length range
    * (44..577 at every SF), so BOTH the truncate and the pad path execute.
    */
  private def multimodalResize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.resize(s, Multimodal.withPayload(T(s, dir, "documents")),
          targetW = 8, targetH = 8).toDF()
        .select(col("doc_id"), md5(col("payload")).as("payload_md5"),
          col("orig_bytes"), col("new_bytes")),
      "doc_id")

  /** [[graft.ops.Multimodal.sampleFrames]] gated byte-exactly: every 4th
    * 16-byte frame, md5 per frame against the oracle's substr re-derivation.
    */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.sampleFrames(s, Multimodal.withPayload(T(s, dir, "documents")),
          frameBytes = 16, everyN = 4).toDF()
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5")),
      "doc_id", "frame_idx")

  /** Fixture for the real-pixel PNG gates: per document, a deterministic
    * small 8-bit image (dimensions/channels/pixel values all closed-form
    * functions of `doc_id`, filter type varies per row so all five PNG
    * filters appear across the corpus) encoded to a COMPLETE PNG by
    * [[graft.ops.Multimodal.pngEncode]] — deflate, per-row filtering,
    * CRC'd chunks. The oracle never parses PNG: it re-computes the same
    * closed-form pixel values, so any defect anywhere in the
    * deflate→inflate→un-filter round trip turns the gate red.
    */
  private def plantedPngs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents").select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (4 + id % 13).toInt
        val h = (3 + id % 11).toInt
        val ch = (1 + id % 4).toInt
        val px = new Array[Byte](w * h * ch)
        var k = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < ch) {
              px(k) = (((id * 31 + x * 7 + y * 13 + c * 101) % 256) & 0xff).toByte
              k += 1; c += 1
            }
            x += 1
          }
          y += 1
        }
        (id, Multimodal.pngEncode(w, h, ch, px, row => ((id + row) % 5).toInt))
      }
    }.toDF("doc_id", "payload")
  }

  /** Real PNG PIXEL statistics ([[graft.ops.Multimodal.pngPixelStats]]):
    * plant → inflate → un-filter → all-integer per-image stats; the oracle
    * pins the planted pixel sums arithmetically.
    */
  private def multimodalPixels(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.pngPixelStats(s, plantedPngs(s, dir)).toDF(), "doc_id")

  /** Real PCM SAMPLE statistics ([[graft.ops.Multimodal.wavSampleStats]])
    * — the audio twin of `multimodal_pixels`: per document a closed-form
    * 16-bit waveform (`((doc_id·37 + i·101) mod 4001) − 2000` at
    * interleaved index i) encoded to a complete RIFF container by
    * [[graft.ops.Multimodal.wavEncode]], decoded back through the strict
    * [[graft.ops.Multimodal.decodeWavSamples]] path, reduced to
    * all-integer stats (sum, max |s|, exact energy Σs²) the oracle
    * re-derives arithmetically.
    */
  private def multimodalWavSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val frames = (20 + id % 13).toInt
          val ch = (1 + id % 2).toInt
          val ss = new Array[Int](frames * ch)
          var i = 0
          while (i < ss.length) {
            ss(i) = (((id * 37 + i * 101) % 4001) - 2000).toInt
            i += 1
          }
          (id, Multimodal.wavEncode(ch, 8000L + (id % 100), ss))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.wavSampleStats(s, planted).toDF(), "doc_id")
  }

  /** The PALETTE (color type 3) pixel path
    * ([[graft.ops.Multimodal.pngEncodePalette]] →
    * [[graft.ops.Multimodal.decodePngPixels]]' PLTE expansion): per
    * document a 16-entry closed-form palette and a closed-form index
    * raster, read back as plain RGB — the oracle composes the two
    * formulas, so a wrong palette lookup, index filter, or channel order
    * turns it red.
    */
  private def multimodalPixelsPalette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 9).toInt
          val h = (3 + id % 7).toInt
          val pal = new Array[Byte](16 * 3)
          var j = 0
          while (j < 16) {
            var c = 0
            while (c < 3) {
              pal(j * 3 + c) = (((id * 7 + j * 11 + c * 29) % 256) & 0xff).toByte
              c += 1
            }
            j += 1
          }
          val idx = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              idx(y * w + x) = (((id + 3 * x + 5 * y) % 16) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodePalette(w, h, pal, idx,
            row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngPixelStats(s, planted).toDF(), "doc_id")
  }

  /** Observable PNG sub-class routing ([[graft.ops.Multimodal.pngCodecTag]]
    * via extractFeatures): per document, a PNG container whose class is a
    * closed-form function of `doc_id mod 4` — a REAL depth-8 image
    * ([[graft.ops.Multimodal.pngEncode]], the only class the full pixel
    * path accepts), a 16-bit IHDR (`png16`), an Adam7-interlaced IHDR
    * (`png_i`), and a depth-4 IHDR (`png_ld`), the last three framed by
    * [[graft.ops.Multimodal.pngContainer]] (valid chunk walk + CRCs, so
    * the metadata path accepts all four). The gate counts rows and
    * pixel-path successes per codec tag: any class silently collapsing
    * into plain `png` (the r17/r18 carry-over) flips a group's counts; a
    * pixel path that starts accepting a class it cannot decode flips
    * `n_pixel_decoded`.
    */
  private def multimodalPngClasses(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (1 + id % 45).toInt
          val h = (1 + id % 29).toInt
          val payload = (id % 4) match {
            case 0 =>
              val px = Array.tabulate(w * h)(k => (((id * 31 + k * 7) % 256) & 0xff).toByte)
              Multimodal.pngEncode(w, h, 1, px, row => ((id + row) % 5).toInt)
            case 1 => Multimodal.pngContainer(w, h, depth = 16, colorType = 0,
              interlace = 0, idat = Array[Byte](1, 2, 3))
            case 2 => Multimodal.pngContainer(w, h, depth = 8, colorType = 0,
              interlace = 1, idat = Array[Byte](1, 2, 3))
            case _ => Multimodal.pngContainer(w, h, depth = 4, colorType = 0,
              interlace = 0, idat = Array[Byte](1, 2, 3))
          }
          (id, payload, w.toLong, h.toLong)
        }
      }.toDF("doc_id", "payload", "w", "h")
        // Two consumers (feature extract + pixel stats) — encode the PNGs
        // once, not per consumer (the r17 double-scan discipline).
        .narrowCheckpointIfSmall() // payload-bearing — size-gated (r22)
    val feats = Multimodal.extractFeatures(s, planted.select(col("doc_id"), col("payload"))).toDF()
    val pix = Multimodal.pngPixelStats(s, planted.select(col("doc_id"), col("payload")))
      .toDF().select(col("doc_id"), lit(1L).as("pix"))
    graft.ops.Ordered.smallResult(
      feats.join(pix, Seq("doc_id"), "left")
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pix"), lit(0L))).as("n_pixel_decoded"),
          sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h")),
      "codec")
  }

  /** REAL 16-bit PNG pixel decode ([[graft.ops.Multimodal.decodePngRaster]]
    * via [[graft.ops.Multimodal.pngRasterStats]]): per document a
    * closed-form 16-bit gradient spanning the full 0..65535 sample range
    * (values whose low byte differs from the high byte, so an endianness
    * or stride slip cannot cancel), encoded by
    * [[graft.ops.Multimodal.pngEncodeRaster]] with per-row filter
    * rotation, decoded back through inflate → 2-byte-sample un-filter.
    * The oracle re-computes the planted values arithmetically at 16-bit
    * scale — the r19 "png16 classified but not decoded" gap, closed.
    */
  private def multimodalPng16Pixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (2 + id % 11).toInt
          val h = (2 + id % 7).toInt
          val ch = (1 + id % 3).toInt
          val s16 = new Array[Int](w * h * ch)
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var c = 0
              while (c < ch) {
                s16(k) = ((id * 4099 + x * 521 + y * 1031 + c * 257) % 65536).toInt
                k += 1; c += 1
              }
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodeRaster(w, h, ch, depth = 16, interlace = 0,
            Multimodal.samples16ToBytes(s16), row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngRasterStats(s, planted).toDF(), "doc_id")
  }

  /** Adam7 INTERLACED PNG pixel decode: the same closed-form raster
    * (8-bit or 16-bit by `doc_id % 2`) encoded BOTH ways —
    * [[graft.ops.Multimodal.pngEncodeRaster]] sequential and Adam7 — and
    * decoded through [[graft.ops.Multimodal.pngRasterStats]]. The output
    * carries the interlaced decode's stats (oracle: the planted closed
    * forms) plus `twin_match` = 1 iff the two decodes agree on every stat
    * — the natural oracle for a 7-pass reassembly (a wrong pass geometry
    * moves pixels, changing `sum_pix` against the closed form AND, in
    * general, desyncing the twins). Dims 1..19 × 1..13 cover every
    * pass-emptiness pattern including single-row/column images.
    */
  private def multimodalPngInterlaced(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (1 + id % 19).toInt
          val h = (1 + id % 13).toInt
          val ch = (1 + id % 2).toInt
          val depth = if (id % 2 == 0) 8 else 16
          val n = w * h * ch
          val data =
            if (depth == 8)
              Array.tabulate(n)(k => (((id * 31 +
                (k % (w * ch)) / ch * 7 + (k / (w * ch)) * 13 +
                (k % ch) * 101) % 256) & 0xff).toByte)
            else Multimodal.samples16ToBytes(Array.tabulate(n) { k =>
              ((id * 4099 + (k % (w * ch)) / ch * 521 + (k / (w * ch)) * 1031 +
                (k % ch) * 257) % 65536).toInt
            })
          val seqEnc = Multimodal.pngEncodeRaster(w, h, ch, depth, interlace = 0,
            data, row => ((id + row) % 5).toInt)
          val adamEnc = Multimodal.pngEncodeRaster(w, h, ch, depth, interlace = 1,
            data, row => ((id + row) % 5).toInt)
          (id, seqEnc, adamEnc)
        }
      }.toDF("doc_id", "seq", "adam")
        .narrowCheckpointIfSmall() // payload-bearing — size-gated (r22)
    val seqStats = Multimodal.pngRasterStats(s,
      planted.select(col("doc_id"), col("seq").as("payload"))).toDF()
    val adamStats = Multimodal.pngRasterStats(s,
      planted.select(col("doc_id"), col("adam").as("payload"))).toDF()
    val joined = adamStats.join(
      seqStats.select(col("doc_id"),
        col("width").as("sw"), col("height").as("sh"),
        col("channels").as("sc"), col("depth").as("sd"),
        col("n_pix").as("sn"), col("sum_pix").as("ss"), col("max_pix").as("sm")),
      Seq("doc_id"), "inner")
    graft.ops.Ordered.smallResult(
      joined.select(col("doc_id"), col("width"), col("height"),
        col("channels"), col("depth"), col("n_pix"), col("sum_pix"), col("max_pix"),
        when(col("width") === col("sw") && col("height") === col("sh") &&
          col("channels") === col("sc") && col("depth") === col("sd") &&
          col("n_pix") === col("sn") && col("sum_pix") === col("ss") &&
          col("max_pix") === col("sm"), 1L).otherwise(0L).as("twin_match")),
      "doc_id")
  }

  /** The classes gate with REAL pixel streams (the r19 done-criterion,
    * extended): per document one of four classes by `doc_id % 4` — real
    * depth-8 sequential, real 16-bit, real Adam7, real depth-4
    * (packed-bit). Counts per codec tag how many the RASTER path
    * ([[graft.ops.Multimodal.pngRasterStats]]) decoded: since round 20
    * EVERY legal PNG class decodes, so the oracle expects
    * n_pixel_decoded = n for all four groups — a decode path silently
    * dying on any class flips its group (refusal observability for
    * garbage streams lives in `multimodal_png_classes`, whose containers
    * carry non-zlib IDAT).
    */
  private def multimodalPngClassesPx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (1 + id % 45).toInt
          val h = (1 + id % 29).toInt
          val px8 = Array.tabulate(w * h)(k => (((id * 31 + k * 7) % 256) & 0xff).toByte)
          val payload = (id % 4) match {
            case 0 => Multimodal.pngEncodeRaster(w, h, 1, depth = 8, interlace = 0,
              px8, row => ((id + row) % 5).toInt)
            case 1 => Multimodal.pngEncodeRaster(w, h, 1, depth = 16, interlace = 0,
              Multimodal.samples16ToBytes(
                Array.tabulate(w * h)(k => ((id * 4099 + k * 521) % 65536).toInt)),
              row => ((id + row) % 5).toInt)
            case 2 => Multimodal.pngEncodeRaster(w, h, 1, depth = 8, interlace = 1,
              px8, row => ((id + row) % 5).toInt)
            case _ => Multimodal.pngEncodeRaster(w, h, 1, depth = 4, interlace = 0,
              Array.tabulate(w * h)(k => (((id + k * 7) % 16) & 0xff).toByte),
              row => ((id + row) % 5).toInt)
          }
          (id, payload, w.toLong, h.toLong)
        }
      }.toDF("doc_id", "payload", "w", "h")
        .narrowCheckpointIfSmall() // payload-bearing — size-gated (r22)
    val feats = Multimodal.extractFeatures(s, planted.select(col("doc_id"), col("payload"))).toDF()
    val pix = Multimodal.pngRasterStats(s, planted.select(col("doc_id"), col("payload")))
      .toDF().select(col("doc_id"), lit(1L).as("pix"))
    graft.ops.Ordered.smallResult(
      feats.join(pix, Seq("doc_id"), "left")
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pix"), lit(0L))).as("n_pixel_decoded"),
          sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h")),
      "codec")
  }

  /** LOW-DEPTH (1/2/4-bit packed) grayscale PNG pixel decode — the last
    * PNG class to gain a real pixel path: per document a closed-form
    * raster at depth `2^(doc_id mod 3)` bits, HALF the corpus
    * Adam7-interlaced (`doc_id mod 2`), encoded by
    * [[graft.ops.Multimodal.pngEncodeRaster]]'s MSB-first bit packer with
    * per-row filter rotation and widths that leave row-end padding bits.
    * Stats come back at the STORED scale (0..2^d−1) through
    * [[graft.ops.Multimodal.pngRasterStats]]; the oracle re-derives the
    * planted values arithmetically — a bit-order, stride, or padding slip
    * changes `sum_pix` against the closed form.
    */
  private def multimodalPngLdPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val d = 1 << (id % 3).toInt // 1, 2, 4
          val w = (1 + id % 21).toInt
          val h = (1 + id % 11).toInt
          val px = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(y * w + x) = (((id + 3 * x + 5 * y) % (1 << d)) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodeRaster(w, h, 1, d, (id % 2).toInt,
            px, row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngRasterStats(s, planted).toDF(), "doc_id")
  }

  /** LOW-DEPTH PALETTE PNG pixel decode
    * ([[graft.ops.Multimodal.pngEncodePaletteRaster]] →
    * [[graft.ops.Multimodal.decodePngRaster]]'s PLTE expansion after
    * packed-bit unpack, half Adam7): a depth-4 index raster and 16-entry
    * closed-form palette per document — the oracle composes the index and
    * palette formulas, so a wrong unpack, palette lookup, or interlace
    * reassembly turns it red.
    */
  private def multimodalPngLdPalette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 9).toInt
          val h = (3 + id % 7).toInt
          val pal = new Array[Byte](16 * 3)
          var j = 0
          while (j < 16) {
            var c = 0
            while (c < 3) {
              pal(j * 3 + c) = (((id * 7 + j * 11 + c * 29) % 256) & 0xff).toByte
              c += 1
            }
            j += 1
          }
          val idx = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              idx(y * w + x) = (((id + 3 * x + 5 * y) % 16) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodePaletteRaster(w, h, depth = 4,
            interlace = (id % 2).toInt, pal, idx, row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngRasterStats(s, planted).toDF(), "doc_id")
  }

  /** Real PNG resize ([[graft.ops.Multimodal.resizePngNearest]]): plant →
    * decode → nearest-neighbor 5×4 → RE-ENCODE → decode again for stats —
    * the full codec round trip twice over; the oracle re-derives the
    * integer source-index mapping `⌊out·src/target⌋` on the closed-form
    * pixels.
    */
  private def multimodalResizePx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.pngPixelStats(s,
        Multimodal.resizePngNearest(s, plantedPngs(s, dir),
          targetW = 5, targetH = 4).toDF()).toDF(),
      "doc_id")

  /** Real LOSSY-codec round trip ([[graft.ops.Multimodal.jpegEncodeGray]] →
    * [[graft.ops.Multimodal.decodeJpegGrayPixels]]): per document a
    * closed-form grayscale GRADIENT raster (`16 + 2·(doc_id mod 32) + 4x +
    * 5y`, max 198 — smooth so baseline JPEG's DCT keeps the error tiny;
    * measured max |err| = 2 at quality 0.9 across 500 fixtures) is
    * entropy-coded by the JDK's own baseline encoder and decoded back
    * through the strict marker walk + Huffman/IDCT pipeline. JPEG being
    * lossy, the gate pins STRUCTURE exactly (dims, pixel count) and the
    * pixels by the `within_bound` discipline of `approx_distinct_users`:
    * `max |decoded − planted| ≤ 8` as a 0/1 column the oracle expects to
    * be 1 — a decoder that mangles the raster (wrong stride, band order,
    * marker slip) lands errors in the tens-to-hundreds and turns it red,
    * while JDK-version codec drift of a count or two cannot.
    */
  private def multimodalJpegPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val px = new Array[Byte](w * h)
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(k) = ((16 + (id % 32) * 2 + 4 * x + 5 * y) & 0xff).toByte
              k += 1; x += 1
            }
            y += 1
          }
          (id, Multimodal.jpegEncodeGray(w, h, px, 0.9f), px)
        }
      }.toDF("doc_id", "payload", "ref")
    graft.ops.Ordered.smallResult(
      Multimodal.jpegGrayErrStats(s, planted).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_pix"),
          (col("max_abs_err") <= 8).cast("long").as("err_bounded")),
      "doc_id")
  }

  /** COLOR lossy round trip ([[graft.ops.Multimodal.jpegEncodeRgb]] →
    * [[graft.ops.Multimodal.decodeJpegRgbPixels]]): the gray gate's
    * discipline on 3 bands. Per document a closed-form RGB gradient with
    * the channels SEPARATED by ≥ 36 counts everywhere
    * (R = 20+2·(id%16)+2x+2y ≤ 104, G = 140+(id%8)+x+y ≤ 174,
    * B = 200+(id%8)+x+2y ≤ 246) — so a band-order or stride bug lands
    * errors ≥ ~30 while the measured codec error is 4 (quality 0.9, worst
    * over the fixture family; chroma conversion + subsampling included).
    * Gate bound `max |err| ≤ 12`: 3× the measured worst for JDK drift,
    * 3× under the smallest cross-channel signal.
    */
  private def multimodalJpegRgb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val px = new Array[Byte](3 * w * h)
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(k) = ((20 + (id % 16) * 2 + 2 * x + 2 * y) & 0xff).toByte
              px(k + 1) = ((140 + (id % 8) + x + y) & 0xff).toByte
              px(k + 2) = ((200 + (id % 8) + x + 2 * y) & 0xff).toByte
              k += 3; x += 1
            }
            y += 1
          }
          (id, Multimodal.jpegEncodeRgb(w, h, px, 0.9f), px)
        }
      }.toDF("doc_id", "payload", "ref")
    graft.ops.Ordered.smallResult(
      Multimodal.jpegRgbErrStats(s, planted).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_pix"),
          (col("max_abs_err") <= 12).cast("long").as("err_bounded")),
      "doc_id")
  }

  // --------------------------------------------------------------- streaming

  /** Stream-source directory for a corpus's events: the file source ingests
    * DIRECTORIES (its discovery unit — the natural shape for a landing zone
    * at scale); the corpus ships single files, so a [[fixture]] directory
    * holds one symlink to `events.parquet`.
    */
  private def streamSourceDir(dir: String): String =
    fixture("stream-src", dir) { p =>
      java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(p, "events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      p
    }

  /** §2.9 batch-equivalence gate: the events table replayed through the FILE
    * SOURCE into [[graft.streaming.StreamOps.tumblingStats]] (watermarked
    * epoch-aligned daily windows), drained with `Trigger.AvailableNow`, and
    * compared against the plain batch rollup the oracle computes — streaming
    * and batch must agree on a replay of the same data.
    *
    * The memory sink is the GATE HARNESS ONLY (result = days × types rows,
    * report-sized); production streams write parquet/kafka sinks through the
    * same `tumblingStats` plan, which shuffles only (window, key) partials.
    */
  private def streamTumblingDaily(s: SparkSession, dir: String): DataFrame = {
    // readStream must be given the PHYSICAL file schema (it cannot infer,
    // and the corpus `ts` type varies by generation — Tsdb.normalizeTs).
    // Reading it starts no job and sets the legacy-nanos conf on `s`.
    val schema = graft.uts.Tsdb.eventsPhysicalSchema(s, dir)
    val streamDir = streamSourceDir(dir)
    val src = graft.uts.Tsdb.normalizeTs(s.readStream.schema(schema).parquet(streamDir))
      .withColumn("ts_event", timestamp_micros(expr("ts div 1000")))
    val agg = graft.streaming.StreamOps.tumblingStats(
      src, widthSeconds = 86400, watermarkDelay = "1 hour", tsCol = "ts_event")
    val name = s"graft_stream_gate_${pathToken(dir)}"
    try s.catalog.dropTempView(name) catch { case _: Throwable => () }
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Gate on n + the decimal-exact sum; a rounded MEAN would reintroduce
    // the ….5-boundary divergence (Spark rounds the double's shortest
    // decimal string, DuckDB its binary value) that exact sums avoid.
    s.table(name)
      .select(unix_millis(col("win_start")).as("win_start"), col("event_type"),
        col("n"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** §2.9 SLIDING-window gate: the third standard window shape beside
    * tumbling and session — [[graft.streaming.StreamOps.slidingStats]] with
    * 1-day windows hopping every 12 h, so every event lands in exactly two
    * overlapping windows. Same file-source replay harness as
    * [[streamTumblingDaily]]; the oracle re-derives the overlap by
    * cross-joining each event with its two epoch-aligned window starts.
    * Runs on a private session ([[withStateSession]]) so the nanos conf and
    * state-partition count never touch the shared session.
    */
  private def streamSlidingDaily(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.uts.Tsdb.eventsPhysicalSchema(s, dir)
    val streamDir = streamSourceDir(dir)
    withStateSession(s) { ss =>
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = graft.uts.Tsdb.normalizeTs(ss.readStream.schema(schema).parquet(streamDir))
        .withColumn("ts_event", timestamp_micros(expr("ts div 1000")))
      val agg = graft.streaming.StreamOps.slidingStats(
        src, widthSeconds = 86400, slideSeconds = 43200,
        watermarkDelay = "1 hour", tsCol = "ts_event")
      val name = s"graft_sliding_gate_${pathToken(dir)}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .select(unix_millis(col("win_start")).as("win_start"), col("event_type"),
          col("n"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  /** Run a streaming gate on a PRIVATE session (shared SparkContext, own
    * conf + temp views) with state partitions sized to the gate's key
    * cardinality instead of the session's CPU-count shuffle partitions.
    * A stateful query's state-store count is fixed at first plan from
    * `spark.sql.shuffle.partitions`; 32 stores × 6 micro-batches is pure
    * per-task overhead for a gate with a few thousand keys. The private
    * session makes the override race-free by construction — nothing is
    * mutated on the caller's session, so two queries planning concurrently
    * in one JVM can't see each other's partition count (the old
    * restore-after-start() dance was safe only under a sequential harness).
    * At production scale the same knob is simply sized UP with key
    * cardinality.
    */
  private def withStateSession[T](s: SparkSession, n: Int = 4)(f: SparkSession => T): T = {
    val priv = s.newSession()
    priv.conf.set("spark.sql.shuffle.partitions", n.toString)
    // Micro-batch commits fsync the offset/commit WAL and state files to the
    // checkpoint every batch — on a disk-backed /tmp that IS the harness
    // floor for a small gate. A tmpfs checkpoint (fresh UUID base per
    // invocation, so bench re-runs never resume a finished query and the
    // memory sink always refills) removes the fsync latency without
    // touching semantics; production durability wants a real filesystem,
    // a correctness gate does not. Falls back to the default temp-dir
    // checkpoint when no tmpfs is mounted.
    val shm = new java.io.File("/dev/shm")
    val ckpt: Option[java.io.File] =
      if (shm.isDirectory && shm.canWrite) {
        val d = new java.io.File(shm,
          s"graft-ckpt-p${ProcessHandle.current.pid}-${java.util.UUID.randomUUID()}")
        priv.conf.set("spark.sql.streaming.checkpointLocation", d.toString)
        Some(d)
      } else None
    try f(priv)
    finally ckpt.foreach(d => deleteTree(d.toPath))
  }

  private val StreamDisorderMs = 3600000L

  /** Out-of-order replay sources for the `*Ordered` streaming gates, one
    * [[fixture]] per kind and corpus (the file source reads `p/stream`): `rows` (any schema with `time` and `event_id` long
    * columns) re-ordered by a BOUNDED perturbation of event time
    * (`__arr = time + hash(event_id) mod D − D/2`, so arrival disorder
    * never exceeds `D` = 1 h) and split into `nBatches` arrival-time-range
    * parquet files — consecutive micro-batches whose event-time ranges
    * OVERLAP, so boundary events genuinely arrive after later-timestamped
    * ones and must wait in the reorder buffer across batches. A trailing
    * single-row sentinel batch (from `sentinels(maxT)`, same schema)
    * pushes the watermark past every real event; the no-data micro-batches
    * Spark schedules after it (`noDataMicroBatches`, on by default) then
    * fire the event-time timeouts and flush every chained stateful
    * operator's tail — a second sentinel batch would only duplicate what
    * the no-data batch already does, at one more full batch cycle of
    * harness cost. File modification times are spaced 10 s apart so the
    * file source's oldest-first order replays the batches
    * deterministically.
    *
    * `nBatches` defaults to 2 — the MINIMUM that still exercises every
    * gated streaming property: one batch boundary with overlapping
    * event-time ranges forces cross-batch keyed state / reorder buffering,
    * and the sentinels exercise watermark flush. Every stream gate's
    * oracle is a batch re-derivation, so results are batch-count-invariant
    * BY CONSTRUCTION (a result that changed with the split would already
    * be a bug); more batches only multiply per-micro-batch harness
    * overhead (state-store commits × stores × batches), which at 17 gates
    * was a third of the whole bench. Pass a larger `nBatches` only when a
    * gate's narrative needs a longer schedule.
    */
  private def oooStreamDir(
      kind: String,
      dir: String,
      rows: DataFrame,
      sentinels: Long => Seq[DataFrame],
      disorderMs: Long = StreamDisorderMs,
      nBatches: Int = 2): String =
    fixture(s"ooo-$kind", dir) { p =>
      val d = disorderMs
      val outCols = rows.columns.map(col).toSeq
      // d = 0 → NO perturbation: strictly time-ordered batches, for gates
      // whose op trusts arrival order (the reference's Q12 contract).
      val pert = rows.withColumn("__arr",
        if (d == 0) col("time")
        else col("time") + graft.ops.Sampling.idHash(col("event_id")) % lit(d) - lit(d / 2))
      // Bounds are 3 scalars — routing state, not data, on the driver.
      val b = pert.agg(min(col("__arr")), max(col("__arr")), max(col("time"))).head()
      val (lo, hi, maxT) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val span = math.max(hi - lo + 1, 1L)
      // The file source reads `stream` only; `scratch` holds the writer's
      // one-file outputs before their part file moves into `stream`.
      val base = java.nio.file.Files.createDirectory(java.nio.file.Paths.get(p, "stream"))
      val scratch = java.nio.file.Paths.get(p, "scratch")
      def shipOne(df: DataFrame, idx: Int): Unit = {
        val out = scratch.resolve(s"b$idx").toString
        df.coalesce(1).write.mode("overwrite").parquet(out)
        val part = new java.io.File(out).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .head
        val tgt = base.resolve(f"batch$idx%04d.parquet")
        java.nio.file.Files.move(part.toPath, tgt)
        tgt.toFile.setLastModified(1000000000000L + idx * 10000L): Unit
      }
      for (i <- 0 until nBatches)
        shipOne(pert
          .filter(least(lit(nBatches - 1L),
            expr(s"((__arr - ${lo}L) * $nBatches) div ${span}L")) === i)
          .select(outCols: _*), i)
      sentinels(maxT).zipWithIndex.foreach { case (sdf, i) =>
        shipOne(sdf.select(outCols: _*), nBatches + i)
      }
      base.toString
    }
  private def funnelStreamDir(s: SparkSession, dir: String): String = {
    import s.implicits._
    oooStreamDir("funnel", dir,
      ev(s, dir).df
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          col("time").cast("long").as("time"), col("event_id")),
      maxT => Seq(
        Seq((-1L, "__flush", maxT + 10 * StreamDisorderMs, -1L))
          .toDF("user_id", "event_type", "time", "event_id")))
  }

  /** Staged replay for the streaming-dedup gate: every event keyed by
    * md5(user:type:time-ms), plus planted duplicate copies of ~1/17 of the
    * corpus whose ARRIVAL basis is shifted a third of the corpus span later
    * (event time — and therefore the key — unchanged), so each duplicate
    * lands about one micro-batch after its original and must be dropped by
    * keyed state carried ACROSS batches, not by in-batch dedup. The copies
    * get distinct event_ids so the stager's arrival jitter perturbs them
    * independently of their originals.
    */
  private def dedupStreamDir(s: SparkSession, dir: String): String = {
    val base = ev(s, dir).df.select(
      md5(concat_ws(":", col("user_id").cast("long"), col("event_type"),
        col("time").cast("long"))).as("k"),
      col("time").cast("long").as("tms"),
      col("time").cast("long").as("time"),
      col("event_id").cast("long").as("event_id"))
    // Two scalars of routing state: the span bound that places plants one
    // combined-span quartile after their originals.
    val b = base.agg(max(col("tms")), min(col("tms"))).head()
    val shift = math.max((b.getLong(0) - b.getLong(1)) / 3, 1L)
    val plants = base
      .filter(graft.ops.Sampling.idHash(col("event_id")) % 17 === 3)
      .withColumn("time", col("time") + shift)
      .withColumn("event_id", col("event_id") + 10000000L)
    oooStreamDir("dedup", dir, base.unionByName(plants), _ => Seq.empty)
  }

  /** §2.9 streaming-ingest dedup gate:
    * [[graft.streaming.StreamOps.dedupStream]] over [[dedupStreamDir]]'s
    * replay — the admitted key set must equal the batch DISTINCT over the
    * corpus, so every planted cross-batch duplicate must be dropped (one
    * extra admit is a row-count mismatch). The horizon spans the whole
    * replay so no state is evicted mid-gate; the eviction/re-admit path is
    * pinned separately in StreamOpsSpec where its timing is deterministic.
    */
  private def streamDedupExact(s: SparkSession, dir: String): DataFrame = {
    val streamDir = dedupStreamDir(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tms", org.apache.spark.sql.types.LongType)))
    withStateSession(s) { ss =>
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .withColumn("ts_event", timestamp_millis(col("tms")))
      val admitted = graft.streaming.StreamOps.dedupStream(
        src, "ts_event", Seq("k"), watermarkDelay = "2000 hours")
      val name = s"graft_sdedup_gate_${pathToken(dir)}"
      val q = admitted.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name).select(col("k")).orderBy(col("k"))
    }
  }

  /** §2.9 stream-stream JOIN gate: purchases attributed to the same user's
    * clicks within 3 days ([[graft.streaming.StreamOps.intervalJoin]]),
    * both sides read from [[funnelStreamDir]]'s out-of-order micro-batch
    * replay as independent file-source streams. Inner-join matches emit when both
    * rows have arrived and state eviction is watermark-driven, so with the
    * delay covering the staged disorder the emitted pair set must equal
    * the batch theta join the oracle runs.
    */
  private def streamJoinAttrib(s: SparkSession, dir: String): DataFrame = {
    val streamDir = funnelStreamDir(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("time", org.apache.spark.sql.types.LongType)))
    // n=4: the stream-stream join keeps TWO keyed state stores per
    // partition and commits each one every micro-batch — at 500 users the
    // per-store row count is tiny and the commit fixed-cost dominates, so
    // fewer partitions run measurably faster at gate scale.
    withStateSession(s, 4) { ss =>
      def src(tpe: String, tsName: String) = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .filter(col("event_type") === tpe)
        .select(col("user_id"), timestamp_millis(col("time")).as(tsName))
      val joined = graft.streaming.StreamOps.intervalJoin(
        src("click", "click_ts"), src("purchase", "purchase_ts"),
        "user_id", "click_ts", "purchase_ts",
        windowMs = 3 * Day, watermarkDelay = s"${StreamDisorderMs / 1000} seconds")
      val name = s"graft_sjoin_gate_${pathToken(dir)}"
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .select(col("user_id"), unix_millis(col("click_ts")).as("click_ms"),
          unix_millis(col("purchase_ts")).as("purchase_ms"))
        .orderBy(col("user_id"), col("click_ms"), col("purchase_ms"))
    }
  }

  /** Staged replay for the OUTER attribution gate: same rows and disorder
    * as [[funnelStreamDir]], but its OWN cache key and a far-future flush
    * sentinel per side (maxT + 4 days, distinct negative user_ids so the
    * sentinels cannot pair) — the left-outer join only emits an unmatched
    * click once the watermark closes its 3-day window, so the replay must
    * push the watermark past every real click's window to flush the tail.
    */
  private def attribStreamDir(s: SparkSession, dir: String): String = {
    import s.implicits._
    oooStreamDir("attrib", dir,
      ev(s, dir).df
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          col("time").cast("long").as("time"), col("event_id")),
      maxT => Seq(
        Seq((-1L, "click", maxT + 4 * Day, -1L), (-2L, "purchase", maxT + 4 * Day, -2L))
          .toDF("user_id", "event_type", "time", "event_id")))
  }

  /** §2.9 OUTER stream-stream join gate: the attribution join in
    * `left_outer` mode — every click emits, with its purchase columns null
    * when nothing converted inside the window. The flush sentinel advances
    * the watermark past every real click's window, so the emitted set must
    * equal the batch LEFT theta join exactly (an early state eviction loses
    * a pair; a missed flush loses an unmatched row).
    */
  private def streamJoinAttribOuter(s: SparkSession, dir: String): DataFrame = {
    val streamDir = attribStreamDir(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("time", org.apache.spark.sql.types.LongType)))
    withStateSession(s, 4) { ss =>
      def src(tpe: String, tsName: String) = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .filter(col("event_type") === tpe)
        .select(col("user_id"), timestamp_millis(col("time")).as(tsName))
      val joined = graft.streaming.StreamOps.intervalJoin(
        src("click", "click_ts"), src("purchase", "purchase_ts"),
        "user_id", "click_ts", "purchase_ts",
        windowMs = 3 * Day, watermarkDelay = s"${StreamDisorderMs / 1000} seconds",
        joinType = "left_outer")
      val name = s"graft_sjoino_gate_${pathToken(dir)}"
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .filter(col("user_id") >= 0L) // drop the sentinels' own rows
        .select(col("user_id"), unix_millis(col("click_ts")).as("click_ms"),
          unix_millis(col("purchase_ts")).as("purchase_ms"))
        .orderBy(col("user_id"), col("click_ms"), col("purchase_ms"))
    }
  }

  /** §2.9 DISORDER gate: the same funnel-step counts as `funnel_steps`, but
    * computed by [[graft.streaming.StreamOps.streamingFunnelOrdered]] over
    * the deliberately out-of-order micro-batches of [[funnelStreamDir]] —
    * the watermark reorder buffer must hold boundary events across batches
    * and replay them in (ts, type) order for the shared join-chain oracle
    * to hold. Exercises admission, cross-batch buffering, release order,
    * and the event-time-timeout tail flush; `funnel_steps`' oracle gates
    * the result verbatim.
    */
  private def streamFunnelOrdered(s: SparkSession, dir: String): DataFrame = {
    val streamDir = funnelStreamDir(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("time", org.apache.spark.sql.types.LongType)))
    withStateSession(s) { ss =>
      import ss.implicits._
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .select(col("user_id").as("key"), col("event_type").as("tpe"),
          col("time").as("tsMs"))
        .as[graft.streaming.StreamOps.TypedEvent]
      val reach = graft.streaming.StreamOps.streamingFunnelOrdered(
        ss, src, Seq("signup", "click", "purchase"), 3 * Day,
        maxDisorder = s"${StreamDisorderMs / 1000} seconds")
      val name = s"graft_sfunnel_gate_${pathToken(dir)}"
      val q = reach.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .groupBy(col("step_idx"), col("step"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("step_idx"))
        .select(col("step_idx"), col("step"), col("n_users"))
    }
  }

  /** §2.9 windowed-DISTINCT gate: [[graft.streaming.StreamOps
    * .windowedDistinct]] — exact daily-active-users per type from the
    * chained bounded-state pipeline (watermarked dedup on (type, user,
    * window) → watermarked window count), over the out-of-order replay.
    * Chained stateful operators emit in APPEND mode only, so two far-future
    * sentinel batches advance the watermark past the last real window to
    * flush it; the sentinels' own rows filter back out by type. The oracle
    * is the batch `count(DISTINCT user_id)` per epoch-aligned day — the
    * replay's disorder stays inside the 1 h watermark, so the streamed
    * counts must equal it exactly.
    */
  /** The SHARED (event_type, user_id) replay for the three day-windowed
    * distinct/enrich gates — one definition so the first-caller-wins dir
    * cache can never serve two gates different replays (the token is
    * shared; a drifted copy of this builder would silently lose). Flush
    * sentinels sit 30×disorder out (their own day, never a real one):
    * 10× only closes the last real day when the corpus's final event
    * falls ≥ ~5 h into its day (maxT+20h−1h ≥ dayStart+24h), so an
    * early-morning final event would strand that day's windows —
    * corpus-INDEPENDENT closure needs the wider offset (the CMS gate's
    * discipline).
    */
  private def wdistStreamDir(s: SparkSession, dir: String): String = {
    import s.implicits._
    oooStreamDir("wdist", dir,
      ev(s, dir).df.select(col("event_type"), col("user_id").cast("long").as("user_id"),
        col("time").cast("long").as("time"), col("event_id").cast("long").as("event_id")),
      maxT => Seq(
        Seq(("__flush", -1L, maxT + 30 * StreamDisorderMs, -1L))
          .toDF("event_type", "user_id", "time", "event_id")))
  }

  private def streamDistinctDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = wdistStreamDir(s, dir)
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt)))
    withStateSession(s) { ss =>
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .withColumn("ts_event", timestamp_millis(col("time")))
      val agg = graft.streaming.StreamOps.windowedDistinct(
        src, widthSeconds = 86400, watermarkDelay = "1 hour",
        tsCol = "ts_event", keyCol = "event_type", idCol = "user_id")
      val name = s"graft_wdist_gate_${pathToken(dir)}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .filter(col("event_type") =!= "__flush")
        .select(unix_millis(col("win_start")).as("win_start"), col("event_type"),
          col("n_distinct"))
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  /** §2.9 approximate windowed-distinct gate: [[graft.streaming.StreamOps
    * .windowedKmvDistinct]] — the O(k)-state KMV twin of
    * `stream_distinct_daily` over the SAME out-of-order replay (shared
    * stream dir). The sketch is a deterministic function of each day's id
    * set, so the streamed estimates must equal the batch KMV re-derivation
    * EXACTLY — equality gate, not an error envelope.
    */
  private def streamKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = wdistStreamDir(s, dir)
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt)))
    withStateSession(s) { ss =>
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .withColumn("ts_event", timestamp_millis(col("time")))
      val agg = graft.streaming.StreamOps.windowedKmvDistinct(
        src, widthSeconds = 86400, watermarkDelay = "1 hour", k = 64,
        tsCol = "ts_event", keyCol = "event_type", idCol = "user_id")
      val name = s"graft_wkmv_gate_${pathToken(dir)}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .filter(col("event_type") =!= "__flush")
        .select(unix_millis(col("win_start")).as("win_start"), col("event_type"),
          col("est_distinct"), col("kth"), col("n_buf"))
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  /** §2.9 stream-STATIC enrichment gate:
    * [[graft.streaming.StreamOps.enrichStatic]] — the out-of-order event
    * replay joined per micro-batch against the broadcast customer
    * dimension (`user_id` → market segment; every corpus user has exactly
    * one customer row), then daily counts per segment. No join state at
    * all — only the window aggregation holds any; the flush sentinels'
    * `user_id = −1` never matches the dimension, so they advance the
    * watermark and vanish in the join itself. Oracle: the batch
    * events ⋈ customer rollup per epoch day.
    */
  private def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = wdistStreamDir(s, dir)
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt)))
    val dim = T(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("user_id"), col("c_mktsegment"))
    withStateSession(s) { ss =>
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .withColumn("ts_event", timestamp_millis(col("time")))
      // Watermark BEFORE the join: the flush sentinels (user_id = −1) are
      // dropped BY the join, so a post-join watermark would never see their
      // event times and the last day's windows would never close.
      val enriched = graft.streaming.StreamOps.enrichStatic(
        src.withWatermark("ts_event", "1 hour"), dim, Seq("user_id"))
      val agg = enriched
        .groupBy(window(col("ts_event"), "86400 seconds"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("c_mktsegment"), col("n"))
      val name = s"graft_senrich_gate_${pathToken(dir)}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .select(unix_millis(col("win_start")).as("win_start"), col("c_mktsegment"),
          col("n"))
        .orderBy(col("win_start"), col("c_mktsegment"))
    }
  }

  /** §2.9 streaming-CMS gate: [[graft.streaming.StreamOps.windowedCms]] —
    * per-day depth×width counters maintained as bounded window state over
    * the out-of-order replay; point estimates for probe keys extracted
    * batch-side by joining [[graft.ops.Sketches.cmsProbes]] against the
    * emitted counter rows (zero-filled over the day×key grid). The sketch
    * keys on user_id alone, so the flush sentinels sit 30 h out (their own
    * day, never a real one) and their windows filter by time. The oracle is
    * the batch HUGEINT re-derivation per day — equality, not an envelope.
    */
  private def streamCmsDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = oooStreamDir("wcms", dir,
      ev(s, dir).df.select(col("user_id").cast("long").as("user_id"),
        col("time").cast("long").as("time"), col("event_id").cast("long").as("event_id")),
      maxT => Seq(
        Seq((-1L, maxT + 30 * StreamDisorderMs, -1L))
          .toDF("user_id", "time", "event_id")))
    val maxT = ev(s, dir).df.agg(max(col("time"))).head().getLong(0)
    val maxDayStart = (maxT / 86400000L) * 86400000L
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt)))
    withStateSession(s) { ss =>
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .withColumn("ts_event", timestamp_millis(col("time")))
      val cms = graft.streaming.StreamOps.windowedCms(
        src, widthSeconds = 86400, watermarkDelay = "1 hour",
        depth = 4, width = 64L, tsCol = "ts_event", keyCol = "user_id")
      val name = s"graft_wcms_gate_${pathToken(dir)}"
      val q = cms.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sketch = ss.table(name)
        .select(unix_millis(col("win_start")).as("win_start"),
          col("d"), col("bucket"), col("cnt"))
        .filter(col("win_start") <= maxDayStart)
      val grid = sketch.select(col("win_start")).distinct()
        .crossJoin(broadcast(
          graft.ops.Sketches.cmsProbes(ss, (0L until 5L).toSeq, "user_id", 4, 64L)))
      grid.join(sketch, Seq("win_start", "d", "bucket"), "left")
        .groupBy(col("win_start"), col("user_id"))
        .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
        .orderBy(col("win_start"), col("user_id"))
    }
  }

  /** §2.9 streaming-HISTOGRAM gate: [[graft.streaming.StreamOps
    * .windowedHistogram]] maintains per-(day window, type) power-of-two
    * bucket counts in bounded watermarked state over the out-of-order
    * replay; quantile lower bounds are then extracted from the emitted
    * sketch rows with [[graft.ops.Sketches.quantilesFromBuckets]] — the
    * counts are the mergeable half, the extraction is sketch-sized batch
    * work. The oracle re-derives per-day est_p50/est_p99 with the identical
    * integer bit-length bucketing, so stream and batch must agree exactly
    * (replay disorder stays inside the 1 h watermark). Sentinel flush rows
    * advance the watermark past the last real window and filter back out.
    */
  private def streamHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = oooStreamDir("whist", dir,
      ev(s, dir).df.filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("value"),
          col("time").cast("long").as("time"), col("event_id").cast("long").as("event_id")),
      // 30×disorder flush offsets — corpus-independent last-day closure
      // (see wdistStreamDir).
      maxT => Seq(
        Seq(("__flush", 0.0, maxT + 30 * StreamDisorderMs, -1L))
          .toDF("event_type", "value", "time", "event_id")))
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val dt = org.apache.spark.sql.types.DoubleType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("value", dt),
      org.apache.spark.sql.types.StructField("time", lt)))
    withStateSession(s) { ss =>
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .withColumn("ts_event", timestamp_millis(col("time")))
      val hist = graft.streaming.StreamOps.windowedHistogram(
        src, widthSeconds = 86400, watermarkDelay = "1 hour",
        tsCol = "ts_event", keyCol = "event_type", valueCol = "value")
      val name = s"graft_whist_gate_${pathToken(dir)}"
      val q = hist.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sketch = ss.table(name)
        .filter(col("event_type") =!= "__flush")
        .select(unix_millis(col("win_start")).as("win_start"), col("event_type"),
          col("bucket"), col("cnt"))
      graft.ops.Sketches.quantilesFromBuckets(
        sketch, Seq("win_start", "event_type"), "bucket", "cnt",
        Seq(0.5, 0.99), graft.ops.Sketches.log2Lower)
        .orderBy(col("win_start"), col("event_type"))
    }
  }

  /** §2.9 DISORDER gate for the derivative:
    * [[graft.streaming.StreamOps.streamingDerivativeOrdered]] over the
    * same out-of-order micro-batch harness as [[streamFunnelOrdered]],
    * gated by the `uts_derivative_by_user` grid re-derivation MINUS each
    * key's final bucket — the one DOCUMENTED deviation from batch: a
    * stream has no last point, so the trailing partial bucket stays in
    * state instead of flushing at `tmax`. Everything else — grid anchor,
    * bucket deltas, zero fills, (ts, seq) tie order — must match the batch
    * op exactly after cross-batch reordering, or the hash gate turns red.
    * NULL-value events are excluded on BOTH sides (the typed streaming
    * event carries a primitive Double); the batch row (`uts_derivative_by_
    * user`) keeps gating the NULL-bearing semantics.
    */
  private def streamDerivativeOrdered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = oooStreamDir("deriv", dir,
      ev(s, dir).df.filter(col("value").isNotNull)
        .select(col("user_id").cast("long").as("user_id"),
          col("time").cast("long").as("time"),
          col("value").cast("double").as("value"),
          col("event_id").cast("long").as("event_id")),
      maxT => Seq(
        Seq((-1L, maxT + 10 * StreamDisorderMs, 0.0, -1L))
          .toDF("user_id", "time", "value", "event_id")))
    // Sentinels keep event_id in the file schema: it is the stream's `seq`
    // tie-break, matching the batch op's (time, event_id) order.
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("event_id", lt)))
    withStateSession(s) { ss =>
      import ss.implicits._
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .select(col("user_id").cast("string").as("key"), col("time").as("tsMs"),
          col("value"), col("event_id").as("seq"))
        .as[graft.streaming.StreamOps.KeyedEvent]
      val pts = graft.streaming.StreamOps.streamingDerivativeOrdered(
        ss, src, intervalMs = 6 * Hour,
        maxDisorder = s"${StreamDisorderMs / 1000} seconds")
      val name = s"graft_sderiv_gate_${pathToken(dir)}"
      val q = pts.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .filter(col("key") =!= "-1")
        .select(col("key").cast("long").as("user_id"), col("der_time"),
          round(col("der_value"), 4).as("der_value"))
        .orderBy(col("user_id"), col("der_time"))
    }
  }

  /** §2.9 LIFECYCLE gate: the reference's `setRetention(0)` running state
    * (`Series.last`/count kept forever — uts.ts:250-269) as
    * [[graft.streaming.StreamOps.runningLastWithTtl]] with `ttl = 0`,
    * replayed over strictly IN-ORDER micro-batches (the op trusts arrival
    * order, the reference's Q12 contract; the `*Ordered` gates cover
    * disorder). Update-mode emissions accumulate one row per (key, batch);
    * the per-key row with the max running count IS the final state, and it
    * must equal the plain batch aggregate: count + last value by
    * (time, event_id). The positive-TTL eviction path is wall-clock-driven
    * and therefore spec-pinned, not oracle-gated (StreamOpsSpec).
    */
  private def streamRunningLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = oooStreamDir("rlast", dir,
      ev(s, dir).df.filter(col("value").isNotNull)
        .select(col("user_id").cast("long").as("user_id"),
          col("time").cast("long").as("time"),
          col("value").cast("double").as("value"),
          col("event_id").cast("long").as("event_id")),
      _ => Seq.empty, disorderMs = 0L)
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("event_id", lt)))
    withStateSession(s) { ss =>
      import ss.implicits._
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .select(col("user_id").cast("string").as("key"), col("time").as("tsMs"),
          col("value"), col("event_id").as("seq"))
        .as[graft.streaming.StreamOps.KeyedEvent]
      val rl = graft.streaming.StreamOps.runningLastWithTtl(ss, src, ttlMs = 0L)
      val name = s"graft_rlast_gate_${pathToken(dir)}"
      val q = rl.writeStream.format("memory").queryName(name)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .groupBy(col("key"))
        .agg(max(col("n")).as("n"), max_by(col("last"), col("n")).as("lv"))
        .select(col("key").cast("long").as("user_id"), col("n"),
          round(col("lv"), 4).as("last_value"))
        .orderBy(col("user_id"))
    }
  }

  /** §2.5 `reduce` gate: the ordered left-fold ([[graft.uts.OrderedFold]],
    * the reference's `reduce(fn, initial)` primitive, uts.ts:416-434) run
    * through its [[graft.uts.Metric]] adapter as a per-user EWMA
    * (`acc·0.9 + x` — non-commutative, so the oracle's ORDER BY is
    * load-bearing; a shuffled fold gives a different number). Seed 0 with
    * this step makes the first element the accumulator, which is exactly
    * DuckDB `list_reduce`'s seedless semantics, so both engines execute the
    * same IEEE op sequence. Pins (time, event_id) fold order AND the
    * metric adapter's null-skip.
    */
  private def utsReduceFold(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).query(UtsQuery(
      Seq(
        "ewma" -> OrderedFold.metric("value", 0.0, (acc, v) => acc * 0.9 + v),
        "n_value" -> CountM(Some("value"))),
      group = ColumnGroup(Seq("user_id"))))
      .select(col("user_id"), round(col("ewma"), 4).as("ewma"), col("n_value"))
      .orderBy(col("user_id"))

  /** §2.1 TSDB-facade gate: the [[graft.uts.UtsDb]] lifecycle in one
    * artifact — `series(name)` get-or-create (fresh name ⇒ empty series),
    * a second insert MISSING the value column (absent columns become NULL,
    * the reference's absent-column data model), a predicate `remove` whose
    * NULL-predicate rows must be KEPT (uts.ts:297 — the purchase rows'
    * NULL values make `value > 400` unknown, and unknown ≠ matched), a
    * rollup query through the facade's retention path (ttl 0 = keep all),
    * then `destroy`: the rebinding is session-local, so the re-created name
    * must come back EMPTY, proving the mutations never leaked outside the
    * registry.
    */
  private def utsDbLifecycle(s: SparkSession, dir: String): DataFrame = {
    val db = new UtsDb(s)
    val e = ev(s, dir).df
    db.insert("batch", e.filter(col("event_type").isin("view", "click"))
      .select(col("time"), col("event_id"), col("event_type"), col("value")))
    db.insert("batch", e.filter(col("event_type") === "purchase")
      .select(col("time"), col("event_id"), col("event_type")))
    db.remove("batch", Seq(Pred.gt("value", 400.0)))
    val out = db.query("batch", UtsQuery(
      Seq("n" -> CountM(), "n_value" -> CountM(Some("value")),
        "sum_value" -> SumM("value")),
      group = ColumnGroup(Seq("event_type"))))
    db.destroy()
    require(db.series("batch").df.isEmpty,
      "destroy() must drop the binding: a re-created series starts empty")
    out.select(col("event_type"), col("n"), col("n_value"),
      round(col("sum_value"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** §2.5/§2.10 `map(fn)` gate: the reference's per-point Mapper over an
    * ARBITRARY lambda (uts.ts:562-571) via [[graft.uts.OrderedFold
    * .mapMetric]] — the stamped-buffer machinery can't be SQL-gated for a
    * general closure, but a REPRESENTABLE instance (`v.map(_*2)
    * .getOrElse(-1)`, null-aware like the uts data model) pins everything
    * around the lambda: per-bin buffering, the (time, event_id) emit order,
    * and the Option payload encoding. Doubling is exact in IEEE arithmetic,
    * so the values compare bitwise against the oracle's window derivation.
    *
    * The emitted per-bin ARRAY is flattened to (user_id, idx, val) rows via
    * `posexplode` — the driver's compare sorts rows with pandas, which
    * cannot hash an array cell, so the order-pinning index column carries
    * the array's order information in scalar form instead.
    */
  private def utsMapFn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ev(s, dir).query(UtsQuery(
      Seq("vals" -> OrderedFold.mapMetric[Option[Double], Double](
        "value", v => v.map(_ * 2).getOrElse(-1.0),
        implicitly[org.apache.spark.sql.Encoder[Seq[Double]]])),
      group = ColumnGroup(Seq("user_id"))))
      .select(col("user_id"), posexplode(col("vals")).as(Seq("idx", "val")))
      // pos is INT; the oracle's row_number()-1 is BIGINT — align (§ header).
      .select(col("user_id"), col("idx").cast("long").as("idx"), col("val"))
      .orderBy(col("user_id"), col("idx"))
  }

  /** §1.4 Quirk-replica gate: the reference's fold-from-0 aggregates
    * (uts.ts:592-601, 622-624) — seed 0 floors `max` at ≥ 0 and caps `min`
    * at ≤ 0, and a point MISSING the column poisons the bin to NaN. The
    * corpus's `value` is fully populated, so the poison path runs on a
    * derived `amount` column deterministically absent on every 97th event
    * (same derivation in the oracle); the `value` metrics pin the seed
    * clamp (every quirk-min is 0.0 on this all-positive corpus, where
    * standard min is > 0), the `amount` metrics pin the NaN poison.
    */
  private def utsQuirkMetrics(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir)
    val series = base.copy(df = base.df.withColumn("amount",
      when(col("event_id") % 97 === 0, lit(null).cast("double"))
        .otherwise(col("value"))))
    series.query(UtsQuery(
      Seq(
        "qmax_value" -> Quirk.max("value"),
        "qmin_value" -> Quirk.min("value"),
        "qsum_value" -> Quirk.sum("value"),
        "qmax_amount" -> Quirk.max("amount"),
        "qsum_amount" -> Quirk.sum("amount")),
      group = ColumnGroup(Seq("event_type"))))
      .select(col("event_type"), col("qmax_value"), col("qmin_value"),
        round(col("qsum_value"), 4).as("qsum_value"),
        col("qmax_amount"), round(col("qsum_amount"), 4).as("qsum_amount"))
      .orderBy(col("event_type"))
  }

  /** §2.9 SESSION-window streaming gate: [[graft.streaming.StreamOps
    * .sessionCounts]] (gap-based `session_window`) replayed over the corpus
    * and pinned against the same lag/cumulative-break SQL derivation that
    * gates the batch twin `session_counts_by_type` — same 1800 s gap, so
    * the streaming session-merge state machine and the batch window algebra
    * must land on identical session boundaries. Source timestamps floor to
    * the ms lattice (`ts div 1000000`) to match the oracle's epoch-ms
    * arithmetic exactly.
    */
  private def streamSessionCounts(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.uts.Tsdb.eventsPhysicalSchema(s, dir)
    val streamDir = streamSourceDir(dir)
    withStateSession(s) { ss =>
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = graft.uts.Tsdb.normalizeTs(ss.readStream.schema(schema).parquet(streamDir))
        .withColumn("ts_event", timestamp_millis(expr("ts div 1000000")))
      val agg = graft.streaming.StreamOps.sessionCounts(
        src, gapSeconds = 1800, watermarkDelay = "1 hour", tsCol = "ts_event")
      val name = s"graft_session_gate_${pathToken(dir)}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(name)
        .select(unix_millis(col("sess_start")).as("sess_start"),
          unix_millis(col("sess_end")).as("sess_end"), col("event_type"), col("n"))
        .orderBy(col("event_type"), col("sess_start"))
    }
  }

  /** §2.9 continuous LEADERBOARD gate: [[graft.streaming.StreamOps
    * .runningTopK]] — per-event-type most-active-users board maintained in
    * `flatMapGroupsWithState` across the out-of-order multi-batch replay,
    * final board = each key's max-generation emission (append sinks never
    * retract; the generation stamp makes "current" queryable). Counts are
    * order-insensitive and ties break deterministically, so the batch
    * count+rank oracle gates the final board exactly.
    */
  /** The SHARED replay for both leaderboard gates (exact + Misra-Gries) —
    * one definition under the shared "topk:" cache token, same
    * first-caller-wins hazard rationale as [[wdistStreamDir]]. No
    * sentinels: running leaderboards are watermark-free (every batch
    * emits a full board generation). */
  private def topkStreamDir(s: SparkSession, dir: String): String =
    oooStreamDir("topk", dir,
      ev(s, dir).df.select(col("event_type"), col("user_id").cast("long").as("user_id"),
        col("time").cast("long").as("time"), col("event_id").cast("long").as("event_id")),
      _ => Seq.empty)

  private def streamTopkUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = topkStreamDir(s, dir)
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt)))
    withStateSession(s) { ss =>
      import ss.implicits._
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .select(col("event_type").as("key"), col("user_id").as("sub"))
        .as[graft.streaming.StreamOps.CountEvent]
      val board = graft.streaming.StreamOps.runningTopK(ss, src, k = 3)
      val name = s"graft_topk_gate_${pathToken(dir)}"
      val q = board.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val t = ss.table(name)
      val latest = t.groupBy(col("key").as("__k")).agg(max(col("gen")).as("__g"))
      t.join(broadcast(latest), col("key") === col("__k") && col("gen") === col("__g"))
        .select(col("key").as("event_type"), col("rank"), col("sub").as("user_id"),
          col("cnt"))
        .orderBy(col("event_type"), col("rank"))
    }
  }

  /** §2.9 BOUNDED-STATE leaderboard gate: [[graft.streaming.StreamOps
    * .runningTopKApprox]] (Misra-Gries summary, capacity 15) over a skewed
    * sub-key replay. `user_id` maps onto 3 heavy buckets (shares ≈ 37.5%,
    * 25%, 12.5% via `user_id mod 8`) plus a ~97-bucket uniform tail
    * (≈ 0.26% each), so every consecutive top-3 gap (≥ ~11% of n empirically
    * at every SF) clears the MG error bound n/(capacity+1) = 6.25% — the MG
    * guarantee then makes board identity AND order equal the exact batch
    * count+rank, regardless of replay order. Estimated counts are only
    * bounded, not unique, so the gate projects them away: the contract is
    * WHO is on the board, in what order, from O(capacity) state.
    */
  private def streamTopkUsersMg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = topkStreamDir(s, dir)
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt)))
    withStateSession(s) { ss =>
      import ss.implicits._
      val bucket = when(pmod(col("user_id"), lit(8L)) <= 2, lit(0L))
        .when(pmod(col("user_id"), lit(8L)) <= 4, lit(1L))
        .when(pmod(col("user_id"), lit(8L)) === 5, lit(2L))
        .otherwise(lit(3L) + pmod(expr("user_id div 8"), lit(97L)))
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .select(col("event_type").as("key"), bucket.as("sub"))
        .as[graft.streaming.StreamOps.CountEvent]
      val board = graft.streaming.StreamOps.runningTopKApprox(
        ss, src, k = 3, capacity = 15)
      val name = s"graft_topkmg_gate_${pathToken(dir)}"
      val q = board.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val t = ss.table(name)
      val latest = t.groupBy(col("key").as("__k")).agg(max(col("gen")).as("__g"))
      t.join(broadcast(latest), col("key") === col("__k") && col("gen") === col("__g"))
        .select(col("key").as("event_type"), col("rank"), col("sub").as("user_bucket"))
        .orderBy(col("event_type"), col("rank"))
    }
  }

  /** §2.9 deterministic streaming RESERVOIR gate
    * ([[graft.streaming.StreamOps.bottomKSample]]): per event type, the 5
    * events with the smallest (idHash, id) over the whole replay — O(k)
    * state per key, and a sample that is a pure function of the id SET
    * (min-k of a union = min-k of min-k's), so the final board must equal
    * the batch [[graft.ops.Sampling.stratifiedExactN]] rank heads exactly,
    * regardless of replay order or batch splits — unlike a classic Vitter
    * reservoir, whose draw depends on RNG and arrival order and can never
    * be oracle-gated.
    */
  private def streamSampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamDir = topkStreamDir(s, dir)
    val st = org.apache.spark.sql.types.StringType
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", st),
      org.apache.spark.sql.types.StructField("user_id", lt),
      org.apache.spark.sql.types.StructField("time", lt),
      org.apache.spark.sql.types.StructField("event_id", lt)))
    withStateSession(s) { ss =>
      import ss.implicits._
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir)
        .select(col("event_type").as("key"), col("event_id").as("id"))
        .as[graft.streaming.StreamOps.SampleEvent]
      val board = graft.streaming.StreamOps.bottomKSample(ss, src, k = 5)
      val name = s"graft_bksample_gate_${pathToken(dir)}"
      val q = board.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val t = ss.table(name)
      val latest = t.groupBy(col("key").as("__k")).agg(max(col("gen")).as("__g"))
      t.join(broadcast(latest), col("key") === col("__k") && col("gen") === col("__g"))
        .select(col("key").as("event_type"), col("sample_rank"),
          col("id").as("event_id"))
        .orderBy(col("event_type"), col("sample_rank"))
    }
  }

  // ---------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "uts_interval_mean" -> (utsIntervalMean _),
    "uts_global_metrics" -> (utsGlobalMetrics _),
    "uts_count_by_type" -> (utsCountByType _),
    "uts_where_filter" -> (utsWhereFilter _),
    "uts_where_disj" -> (utsWhereDisj _),
    "uts_last_interval" -> (utsLastInterval _),
    "uts_map_series" -> (utsMapSeries _),
    "uts_derivative" -> (utsDerivative _),
    "uts_derivative_by_user" -> (utsDerivativeByUser _),
    "uts_remove" -> (utsRemove _),
    "uts_retention_daily" -> (utsRetentionDaily _),
    "uts_reduce_fold" -> (utsReduceFold _),
    "uts_quirk_metrics" -> (utsQuirkMetrics _),
    "uts_map_fn" -> (utsMapFn _),
    "uts_m4_downsample" -> (utsM4Downsample _),
    "uts_db_lifecycle" -> (utsDbLifecycle _),
    "q1_agg" -> (q1Agg _),
    "q3_topk_revenue" -> (q3TopkRevenue _),
    "q5_nation_revenue" -> (q5NationRevenue _),
    "q6_revenue" -> (q6Revenue _),
    "q4_late_orders" -> (q4LateOrders _),
    "q14_promo_share" -> (q14PromoShare _),
    "q18_big_orders" -> (q18BigOrders _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q19_brand_revenue" -> (q19BrandRevenue _),
    "q13_custdist" -> (q13CustDist _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q21_waiting_supplier" -> (q21WaitingSupplier _),
    "q22_global_balance" -> (q22GlobalBalance _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q12_priority_class" -> (q12PriorityClass _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q16_part_supplier_count" -> (q16PartSupplierCount _),
    "q20_excess_suppliers" -> (q20ExcessSuppliers _),
    "kmv_distinct_cust" -> (kmvDistinctCust _),
    "cms_user_counts" -> (cmsUserCounts _),
    "kmv_setops_users" -> (kmvSetopsUsers _),
    "hist_quantiles_price" -> (histQuantilesPrice _),
    "hist_quantiles_log2" -> (histQuantilesLog2 _),
    "profile_columns" -> (profileColumns _),
    "table_diff_snapshots" -> (tableDiffSnapshots _),
    "table_time_travel" -> (tableTimeTravel _),
    "table_version_diff" -> (tableVersionDiff _),
    "table_schema_evolution" -> (tableSchemaEvolution _),
    "table_restore" -> (tableRestore _),
    "table_vacuum" -> (tableVacuum _),
    "profile_drift" -> (profileDrift _),
    "gopher_quality_rules" -> (gopherQualityRules _),
    "join_bloom_pruned" -> (joinBloomPruned _),
    "join_skew_salted" -> (joinSkewSalted _),
    "range_join_events" -> (rangeJoinEvents _),
    "funnel_steps" -> (funnelSteps _),
    "funnel_steps_onescan" -> (funnelStepsOneScan _),
    "funnel_conversion" -> (funnelConversion _),
    "value_quantiles_by_type" -> (valueQuantilesByType _),
    "zorder_bucket_stats" -> (zorderBucketStats _),
    "join_bucketed_colocated" -> (joinBucketedColocated _),
    "table_upsert" -> (tableUpsert _),
    "table_upsert_pruned" -> (tableUpsertPruned _),
    "pruned_time_scan" -> (prunedTimeScan _),
    "bloom_point_scan" -> (bloomPointScan _),
    "ivm_rollup_agg" -> (ivmRollupAgg _),
    "stream_ivm_rollup" -> (streamIvmRollup _),
    "zorder_pruned_scan" -> (zorderPrunedScan _),
    "retention_cohorts" -> (retentionCohorts _),
    "pivot_event_daily" -> (pivotEventDaily _),
    "stats_moments_by_type" -> (statsMomentsByType _),
    "uts_trend_by_type" -> (utsTrendByType _),
    "anti_join_customers" -> (antiJoinCustomers _),
    "setop_active_users" -> (setopActiveUsers _),
    "window_top_orders" -> (windowTopOrders _),
    "rollup_lineitem" -> (rollupLineitem _),
    "cube_lineitem" -> (cubeLineitem _),
    "moving_avg_daily" -> (movingAvgDaily _),
    "distinct_users_by_type" -> (distinctUsersByType _),
    "salted_agg_by_type" -> (saltedAggByType _),
    "approx_distinct_users" -> (approxDistinctUsers _),
    "asof_join_orders" -> (asofJoinOrders _),
    "dedup_exact" -> (dedupExact _),
    "dedup_jaccard_pairs" -> (dedupJaccardPairs _),
    "dedup_jaccard_prefix" -> (dedupJaccardPrefix _),
    "dedup_semantic" -> (dedupSemantic _),
    "knn_graph" -> (knnGraphQ _),
    "dedup_span_pairs" -> (dedupSpanPairs _),
    "export_shards" -> (exportShards _),
    "export_epoch_order" -> (exportEpochOrder _),
    "graph_pagerank" -> (graphPagerank _),
    "source_jsonl" -> (sourceJsonl _),
    "source_csv" -> (sourceCsv _),
    "source_orc" -> (sourceOrc _),
    "contrastive_negatives" -> (negSampleQ _),
    "knn_graph_recall" -> (knnGraphRecallQ _),
    "knn_graph_recall_mp" -> (knnGraphRecallMpQ _),
    "knn_graph_append" -> (knnGraphAppendQ _),
    "stream_knn_ingest" -> (streamKnnIngest _),
    "training_export" -> (trainingExport _),
    "sample_diversity" -> (sampleDiversity _),
    "emb_mean_by_label" -> (embMeanByLabel _),
    "asof_join_orders_fwd" -> (asofJoinForward _),
    "text_normalize" -> (textNormalize _),
    "quality_band" -> (qualityBand _),
    "pipeline_clean_mix" -> (pipelineCleanMix _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_neardup_incremental" -> (dedupNeardupIncremental _),
    "dedup_index_append" -> (dedupIndexAppend _),
    "inverted_search" -> (invertedSearch _),
    "inverted_term_stats" -> (invertedTermStats _),
    "dedup_jaccard_capped" -> (dedupJaccardCapped _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_cluster_rep" -> (dedupClusterRep _),
    "dedup_cluster_rep_logstar" -> (dedupClusterRepLogstar _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "fuzzy_pairs_partnames" -> (fuzzyPairsPartnames _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_srp_pairs" -> (dedupSrpPairs _),
    "sim_topk_cosine" -> (simTopkCosine _),
    "sim_pairs_threshold" -> (simPairsThreshold _),
    "sim_pairs_banded" -> (simPairsBanded _),
    "sim_pairs_banded_mp" -> (simPairsBandedMp _),
    "sim_pairs_banded_recall" -> (simPairsBandedRecall _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_ivf_kmeanspar" -> (annIvfKmeanspar _),
    "ann_ivf_recall" -> (annIvfRecall _),
    "ann_ivf_recall_stale" -> (annIvfRecallStale _),
    "ann_ivf_persisted" -> (annIvfPersisted _),
    "ann_ivf_append" -> (annIvfAppend _),
    "stream_ann_ingest" -> (streamAnnIngest _),
    "stream_split_ingest" -> (streamSplitIngest _),
    "stream_table_versions" -> (streamTableVersions _),
    "ann_ivf_recluster" -> (annIvfRecluster _),
    "ann_ivf_topk_batch" -> (annIvfTopkBatch _),
    "ann_ivf_topk_nolabel" -> (annIvfTopkNolabel _),
    "emb_quant_topk" -> (embQuantTopk _),
    "pq_adc_topk" -> (pqAdcTopkQ _),
    "pq_persisted_topk" -> (pqPersistedTopk _),
    "pq_persisted_append" -> (pqPersistedAppend _),
    "ann_ivfpq_recall" -> (pqAdcRecallQ _),
    "pq_recall_stale" -> (pqRecallStaleQ _),
    "ann_ivfpq_topk" -> (ivfPqTopkQ _),
    "ann_ivfpq_persisted" -> (annIvfPqPersisted _),
    "ann_ivfpq_rerank" -> (annIvfPqRerank _),
    "text_stats" -> (textStats _),
    "text_bpe_stats" -> (textBpeStats _),
    "text_quality" -> (textQuality _),
    "lm_quality_bands" -> (lmQualityBandsQ _),
    "nb_quality_score" -> (nbQualityScoreQ _),
    "nb_quality_eval" -> (nbQualityEvalQ _),
    "text_langid" -> (textLangid _),
    "text_langid_join" -> (textLangidJoin _),
    "text_fingerprint" -> (textFingerprint _),
    "text_rolling_fp" -> (textRollingFp _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "source_token_kl" -> (sourceTokenKl _),
    "doc_pack_budget" -> (docPackBudget _),
    "doc_pack_budget_bpe" -> (docPackBudgetBpe _),
    "bpe_merge_top_tokens" -> (bpeMergeTopTokens _),
    "token_histogram" -> (tokenHistogram _),
    "token_histogram_bpe" -> (tokenHistogramBpe _),
    "sample_stratified" -> (sampleStratified _),
    "mixture_plan" -> (mixturePlanQ _),
    "mixture_apply" -> (mixtureApplyQ _),
    "mixture_temperature" -> (mixtureTemperature _),
    "mixture_temperature_apply" -> (mixtureTemperatureApply _),
    "dedup_containment" -> (dedupContainment _),
    "robust_outliers_value" -> (robustOutliersValue _),
    "winsorized_stats" -> (winsorizedStats _),
    "concurrency_sweep" -> (concurrencySweepSessions _),
    "concurrency_global" -> (concurrencyGlobal _),
    "stream_hist_quantiles" -> (streamHistQuantiles _),
    "stream_kmv_distinct" -> (streamKmvDistinct _),
    "stream_cms_daily" -> (streamCmsDaily _),
    "stream_static_enrich" -> (streamStaticEnrich _),
    "ivm_hist_quantiles" -> (ivmHistQuantiles _),
    "text_redact" -> (textRedact _),
    "sample_fraction" -> (sampleFraction _),
    "sample_weighted" -> (sampleWeighted _),
    "sample_split_counts" -> (sampleSplitCounts _),
    "split_leakage_safe" -> (splitLeakageSafe _),
    "ngram_top_counts" -> (ngramTopCounts _),
    "heavy_hitters_terms" -> (heavyHittersTerms _),
    "repeated_ngram_spans" -> (repeatedNgramSpans _),
    "ngram_contamination" -> (ngramContamination _),
    "contamination_check" -> (contaminationCheck _),
    "token_count_quantiles" -> (tokenCountQuantiles _),
    "json_props_stats" -> (jsonPropsStats _),
    "json_props_typed" -> (jsonPropsTyped _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_pixels" -> (multimodalPixels _),
    "multimodal_pixels_palette" -> (multimodalPixelsPalette _),
    "multimodal_png_classes" -> (multimodalPngClasses _),
    "multimodal_png16_pixels" -> (multimodalPng16Pixels _),
    "multimodal_png_interlaced" -> (multimodalPngInterlaced _),
    "multimodal_png_classes_px" -> (multimodalPngClassesPx _),
    "multimodal_png_ld_pixels" -> (multimodalPngLdPixels _),
    "multimodal_png_ld_palette" -> (multimodalPngLdPalette _),
    "multimodal_resize_px" -> (multimodalResizePx _),
    "multimodal_jpeg_pixels" -> (multimodalJpegPixels _),
    "multimodal_jpeg_rgb" -> (multimodalJpegRgb _),
    "multimodal_wav_samples" -> (multimodalWavSamples _),
    "stream_tumbling_daily" -> (streamTumblingDaily _),
    "stream_distinct_daily" -> (streamDistinctDaily _),
    "stream_sliding_daily" -> (streamSlidingDaily _),
    "stream_dedup_exact" -> (streamDedupExact _),
    "stream_join_attrib" -> (streamJoinAttrib _),
    "stream_join_attrib_outer" -> (streamJoinAttribOuter _),
    "stream_funnel_ordered" -> (streamFunnelOrdered _),
    "stream_derivative_ordered" -> (streamDerivativeOrdered _),
    "stream_running_last" -> (streamRunningLast _),
    "stream_session_counts" -> (streamSessionCounts _),
    "stream_topk_users" -> (streamTopkUsers _),
    "stream_sample_stratified" -> (streamSampleStratified _),
    "stream_topk_users_mg" -> (streamTopkUsersMg _),
    "session_counts_by_type" -> (sessionCountsByType _),
    "session_ids_by_user" -> (sessionIdsByUser _),
  )

  /** PQ/ADC gate: [[graft.ops.Similarity.pqAdcTopK]] at (4 blocks × 16
    * dims, 8 codes) probing vec 0 — codebook training, code assignment,
    * and the asymmetric-distance lookup sums re-derived block by block in
    * the oracle.
    */
  private def pqAdcTopkQ(s: SparkSession, dir: String): DataFrame =
    Similarity.pqAdcTopK(T(s, dir, "embeddings"),
      m = 4, subDim = 16, k = 8, queryId = 0L, topK = 10)

  /** Squared-L2 via inner products — the exact arithmetic
    * [[graft.ops.Similarity.pqAdcTopK]] states with the dot kernel. */
  private def pqSq(a: String, b: String): String =
    s"list_inner_product($a, $a) - 2*list_inner_product($a, $b) + list_inner_product($b, $b)"

  /** One PQ block's oracle CTEs: seed assignment, one Lloyd round (6-dp
    * means in position order), final code assignment, ADC lookup row.
    * `multiQ` keys the LUT rows by `qid` for query-batch oracles (the
    * recall gates), mirroring the Spark side's batch LUT. `train` is the
    * codebook TRAINING base CTE (seed assignment + Lloyd means; code
    * assignment always encodes the full `e`) and `pfx` disambiguates CTE
    * names — together they let one query carry two codebook generations
    * (the stale-vs-fresh drift oracle: stale trains on the pre-append
    * base, encodes the grown corpus).
    */
  private def pqBlockCtes(
      b: Int, multiQ: Boolean = false,
      train: String = "e", pfx: String = ""): String = {
    val lo = b * 16 + 1
    val hi = (b + 1) * 16
    val ev = s"list_slice(e.v, $lo, $hi)"
    val sv = s"list_slice(s.sv, $lo, $hi)"
    val qv = s"list_slice(q.qv, $lo, $hi)"
    val lutQid = if (multiQ) "q.qid, " else ""
    s"""a1_$pfx$b AS (
       |  SELECT vid, code AS c FROM (
       |    SELECT e.vid, s.code, row_number() OVER (PARTITION BY e.vid
       |      ORDER BY ${pqSq(ev, sv)}, s.code) AS rn
       |    FROM $train e, seeds$pfx s) WHERE rn = 1),
       |cb_$pfx$b AS (
       |  SELECT c, list(mu ORDER BY pos) AS cv FROM (
       |    SELECT a.c, ex.pos, round(avg(ex.x), 6) AS mu
       |    FROM (SELECT vid, unnest(list_slice(v, $lo, $hi)) AS x,
       |                 generate_subscripts(list_slice(v, $lo, $hi), 1) AS pos FROM $train) ex
       |    JOIN a1_$pfx$b a USING (vid) GROUP BY a.c, ex.pos) GROUP BY c),
       |as_$pfx$b AS (
       |  SELECT vid, c AS c$b FROM (
       |    SELECT e.vid, cb.c, row_number() OVER (PARTITION BY e.vid
       |      ORDER BY ${pqSq(ev, "cb.cv")}, cb.c) AS rn
       |    FROM e, cb_$pfx$b cb) WHERE rn = 1),
       |lut_$pfx$b AS (
       |  SELECT ${lutQid}cb.c AS c$b, ${pqSq(qv, "cb.cv")} AS d$b FROM cb_$pfx$b cb, q)""".stripMargin
  }

  /** PQ/ADC recall gate: [[graft.ops.Similarity.pqAdcRecall]] — recall@10
    * of the ADC ranking vs the exact squared-L2 top-10 (the distance ADC
    * approximates), 3-query batch over one shared quantization. The one
    * approximation contract that previously shipped without a gated
    * number.
    */
  private def pqAdcRecallQ(s: SparkSession, dir: String): DataFrame =
    Similarity.pqAdcRecall(T(s, dir, "embeddings"),
      queryIds = Seq(0L, 1L, 2L), k = 10, m = 4, subDim = 16, kCodes = 8)

  /** PQ codebook-staleness gate: the `ann_ivf_recall_stale` drift recipe
    * applied to the COMPRESSION axis — 40 planted drifted vectors
    * (`v₀ + 0.9·vᵢ`, ids +100000) join the corpus, and the drifted
    * queries' ADC recall is measured under codebooks trained BEFORE the
    * append (what [[graft.ops.Similarity.pqAppend]]'s frozen codebooks
    * hold) vs re-trained ones. The stale number is the rebuild signal the
    * frozen-codebook contract defers to.
    */
  private def pqRecallStaleQ(s: SparkSession, dir: String): DataFrame = {
    val e0 = T(s, dir, "embeddings").select(
      col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val v0 = e0.filter(col("vec_id") === 0).select(col("embedding").as("v0"))
    val drift = e0.filter(col("vec_id").between(1, 40))
      .crossJoin(broadcast(v0))
      .select((col("vec_id") + 100000L).as("vec_id"),
        zip_with(col("v0"), col("embedding"), (a, b) => a + lit(0.9) * b).as("embedding"))
    // The stale state persisted as it exists in production: codebooks
    // frozen at pqBuild time (pre-append corpus), the drifted batch encoded
    // against them by pqAppend. The audit then reads those codes instead of
    // re-quantizing — Similarity.pqRecallDriftPersisted trains only the
    // fresh ceiling in-plan.
    val path = builtIndexPath("pq-stale", dir) { p =>
      Similarity.pqBuild(e0, p, m = 4, subDim = 16, k = 8)
      Similarity.pqAppend(drift, p)
    }
    Similarity.pqRecallDriftPersisted(e0.unionByName(drift), path,
      queryIds = Seq(100001L, 100002L, 100003L), k = 10)
  }

  /** IVF+PQ gate: [[graft.ops.Similarity.ivfPqTopK]] — 8 coarse k-means
    * clusters (2 Lloyd rounds, the KMeans8 discipline), nprobe=2 routing,
    * global 4×16-dim/8-code PQ, ADC ranking restricted to the probed
    * inverted lists.
    */
  private def ivfPqTopkQ(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(T(s, dir, "embeddings"),
      kClusters = 8, rounds = 2, nprobe = 2,
      m = 4, subDim = 16, kCodes = 8, queryId = 0L, topK = 10)

  /** A corpus vector as a driver-side double array — the query input for
    * the persisted-index probes (one row; the same "routing state in RAM"
    * envelope as the probes' k-row centroid tables). */
  private def queryVec(emb: DataFrame, id: Long): Array[Double] =
    emb.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** Persisted-PQ gate: [[graft.ops.Similarity.pqBuild]] writes codebooks +
    * codes once per JVM, then the probe ADC-ranks the CODES TABLE alone —
    * embeddings are never read at probe time, the memory shape that makes
    * billion-scale ANN feasible. Same quantization as `pq_adc_topk` — the
    * oracle is shared verbatim, so a divergence between the persisted and
    * in-plan quantizations (codebook training, code assignment, LUT
    * arithmetic) turns the driver red.
    */
  private def pqPersistedTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = builtIndexPath("pq-idx", dir)(
      Similarity.pqBuild(emb, _, m = 4, subDim = 16, k = 8))
    Similarity.pqProbePersisted(s, path, queryVec(emb, 0L),
      topK = 10, excludeId = Some(0L))
  }

  /** Persisted-PQ APPEND lifecycle: the index is built over only even
    * vec_ids (codebooks trained on the even half), the odd half arrives as
    * an ingest batch encoded against those FROZEN codebooks
    * ([[graft.ops.Similarity.pqAppend]]) and appended into the codes
    * table, and the probe answers from the result. A dropped append keeps
    * the probe plan green but loses the odd rows; the oracle — which
    * trains codebooks on the even half and encodes the FULL corpus with
    * them — turns red.
    */
  private def pqPersistedAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = builtIndexPath("pq-apx", dir) { p =>
      Similarity.pqBuild(emb.filter(col("vec_id") % 2 === 0), p,
        m = 4, subDim = 16, k = 8)
      Similarity.pqAppend(emb.filter(col("vec_id") % 2 === 1), p)
    }
    Similarity.pqProbePersisted(s, path, queryVec(emb, 0L),
      topK = 10, excludeId = Some(0L))
  }

  /** Persisted IVF+PQ gate: [[graft.ops.Similarity.ivfPqBuild]] writes the
    * cluster-partitioned codes table once per JVM; the probe reads ONLY the
    * nprobe=2 probed `cluster=` partitions (a planning-time literal `IN` —
    * StorageLayoutSpec pins the pruned scan) and ADC-ranks their code rows.
    * Oracle shared verbatim with `ann_ivfpq_topk`: same coarse routing,
    * same codebooks, same ADC sums.
    */
  private def annIvfPqPersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = builtIndexPath("ivfpq-idx", dir)(
      Similarity.ivfPqBuild(emb, _, kClusters = 8, rounds = 2,
        m = 4, subDim = 16, kCodes = 8))
    Similarity.ivfPqProbePersisted(s, path, queryVec(emb, 0L),
      topK = 10, nprobe = 2, excludeId = Some(0L))
  }

  /** The vid-keyed k-means-8 coarse-routing CTEs for [[IvfPqSql]] — the
    * [[KMeansAutoCtes]] derivation re-expressed over the PQ oracle's `e(vid,
    * v)` base so both quantizers share one scan CTE.
    */
  private val KMeansVidCtes: String =
    """ex AS (SELECT vid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
      |kseeds AS (SELECT vid AS cl, v AS cvec FROM e
      |           ORDER BY (vid * 2654435761) % 4294967296, vid LIMIT 8),
      |ka1 AS (SELECT vid, arg_max(cl, cs) AS cl FROM
      |          (SELECT e.vid, s.cl, list_cosine_similarity(e.v, s.cvec) AS cs
      |           FROM e, kseeds s) GROUP BY vid),
      |kc1 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
      |          (SELECT ka1.cl, ex.pos, avg(ex.x) AS m
      |           FROM ex JOIN ka1 USING (vid) GROUP BY ka1.cl, ex.pos)
      |        GROUP BY cl),
      |ka2 AS (SELECT vid, arg_max(cl, cs) AS cl FROM
      |          (SELECT e.vid, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
      |           FROM e, kc1 c) GROUP BY vid),
      |kc2 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
      |          (SELECT ka2.cl, ex.pos, avg(ex.x) AS m
      |           FROM ex JOIN ka2 USING (vid) GROUP BY ka2.cl, ex.pos)
      |        GROUP BY cl),
      |kassign AS (SELECT vid, arg_max(cl, cs) AS cluster FROM
      |              (SELECT e.vid, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
      |               FROM e, kc2 c) GROUP BY vid),
      |probes AS (SELECT cl AS cluster FROM kc2, q
      |           ORDER BY list_cosine_similarity(cvec, qv) DESC, cl LIMIT 2)""".stripMargin

  /** Shared CTE prefix of the IVF+PQ oracles: scan, query, coarse-routing
    * CTEs, PQ seeds, the four block CTE groups. */
  private lazy val IvfPqCtePrefix: String =
    s"""WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vid = 0),
       |$KMeansVidCtes,
       |seeds AS (SELECT rn - 1 AS code, sv FROM (
       |  SELECT v AS sv, row_number() OVER (
       |    ORDER BY (vid * 2654435761) % 4294967296, vid) AS rn FROM e)
       |  WHERE rn <= 8),
       |${(0 until 4).map(pqBlockCtes(_)).mkString(",\n")}""".stripMargin

  /** The probed-and-ADC-ranked relation both IVF+PQ oracles rank from. */
  private val IvfPqAdcBody: String =
    """FROM e JOIN kassign USING (vid) JOIN probes USING (cluster)
      |       JOIN as_0 USING (vid) JOIN as_1 USING (vid)
      |       JOIN as_2 USING (vid) JOIN as_3 USING (vid)
      |       JOIN lut_0 USING (c0) JOIN lut_1 USING (c1)
      |       JOIN lut_2 USING (c2) JOIN lut_3 USING (c3)
      |WHERE e.vid <> 0""".stripMargin

  /** IVF+PQ re-derived whole: coarse k-means routing (top-2 probe lists by
    * query cosine) restricting the same block-by-block PQ/ADC ranking the
    * `pq_adc_topk` oracle states.
    */
  private lazy val IvfPqSql: String =
    s"""$IvfPqCtePrefix
       |SELECT e.vid AS vec_id, round(d0 + d1 + d2 + d3, 4) AS adc
       |$IvfPqAdcBody
       |ORDER BY adc, vec_id LIMIT 10""".stripMargin

  /** Two-stage rerank re-derived whole: the ADC top-50 shortlist from the
    * same probed relation, then exact squared-L2 over ONLY the shortlist
    * rows. */
  private lazy val IvfPqRerankSql: String =
    s"""$IvfPqCtePrefix,
       |short AS (
       |  SELECT e.vid, round(d0 + d1 + d2 + d3, 4) AS adc
       |  $IvfPqAdcBody
       |  ORDER BY adc, e.vid LIMIT 50)
       |SELECT e.vid AS vec_id, round(${pqSq("e.v", "q.qv")}, 4) AS d2
       |FROM e JOIN short USING (vid), q
       |ORDER BY d2, vec_id LIMIT 10""".stripMargin

  private lazy val PqAdcSql: String =
    s"""WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT rn - 1 AS code, sv FROM (
       |  SELECT v AS sv, row_number() OVER (
       |    ORDER BY (vid * 2654435761) % 4294967296, vid) AS rn FROM e)
       |  WHERE rn <= 8),
       |q AS (SELECT v AS qv FROM e WHERE vid = 0),
       |${(0 until 4).map(pqBlockCtes(_)).mkString(",\n")}
       |SELECT e.vid AS vec_id, round(d0 + d1 + d2 + d3, 4) AS adc
       |FROM e JOIN as_0 USING (vid) JOIN as_1 USING (vid)
       |       JOIN as_2 USING (vid) JOIN as_3 USING (vid)
       |       JOIN lut_0 USING (c0) JOIN lut_1 USING (c1)
       |       JOIN lut_2 USING (c2) JOIN lut_3 USING (c3)
       |WHERE e.vid <> 0
       |ORDER BY adc, vec_id LIMIT 10""".stripMargin

  /** The ADC recall twin re-derived whole: the shared per-block CTEs with
    * qid-keyed LUTs, the ADC per-query top-10, the exact squared-L2
    * per-query top-10, and their intersection counts.
    */
  private lazy val PqAdcRecallSql: String =
    s"""WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT rn - 1 AS code, sv FROM (
       |  SELECT v AS sv, row_number() OVER (
       |    ORDER BY (vid * 2654435761) % 4294967296, vid) AS rn FROM e)
       |  WHERE rn <= 8),
       |q AS (SELECT vid AS qid, v AS qv FROM e WHERE vid IN (0, 1, 2)),
       |${(0 until 4).map(pqBlockCtes(_, multiQ = true)).mkString(",\n")},
       |adc AS (
       |  SELECT qid, e.vid, round(d0 + d1 + d2 + d3, 4) AS adc
       |  FROM e JOIN as_0 USING (vid) JOIN as_1 USING (vid)
       |         JOIN as_2 USING (vid) JOIN as_3 USING (vid)
       |         JOIN lut_0 USING (c0) JOIN lut_1 USING (qid, c1)
       |         JOIN lut_2 USING (qid, c2) JOIN lut_3 USING (qid, c3)
       |  WHERE e.vid <> qid),
       |adcr AS (SELECT qid, vid FROM (
       |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS r
       |  FROM adc) WHERE r <= 10),
       |ex AS (SELECT q.qid, e.vid, round(${pqSq("e.v", "q.qv")}, 4) AS d2
       |       FROM e, q WHERE e.vid <> q.qid),
       |exr AS (SELECT qid, vid FROM (
       |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS r
       |  FROM ex) WHERE r <= 10)
       |SELECT exr.qid AS query_id, count(*) AS n_exact,
       |       CAST(sum(CASE WHEN adcr.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_hit,
       |       round(CAST(sum(CASE WHEN adcr.vid IS NOT NULL THEN 1 ELSE 0 END)
       |             AS DOUBLE) / 10.0, 4) AS recall_at_k
       |FROM exr LEFT JOIN adcr ON exr.qid = adcr.qid AND exr.vid = adcr.vid
       |GROUP BY exr.qid ORDER BY query_id""".stripMargin

  /** Two-stage ANN gate: [[graft.ops.Similarity.ivfPqProbeRerank]] over the
    * shared persisted IVF+PQ index — ADC narrows the probed partitions to a
    * 50-row shortlist (codes only), exact squared-L2 reranks those 50
    * embedding rows via a broadcast semi-join. The production remedy for
    * PQ's within-cell ranking ceiling, priced: stage 2 reads 50 embedding
    * rows, never the corpus.
    */
  private def annIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val path = builtIndexPath("ivfpq-idx", dir)(
      Similarity.ivfPqBuild(emb, _, kClusters = 8, rounds = 2,
        m = 4, subDim = 16, kCodes = 8))
    Similarity.ivfPqProbeRerank(s, path, emb, queryVec(emb, 0L),
      topK = 10, nprobe = 2, shortlist = 50, excludeId = Some(0L))
  }

  /** The NB log-odds classifier re-derived whole: per-class token counts,
    * shared-smoothing weights (6-dp decimal lattice), mean score per doc
    * (unrounded — exact decimal sum + one IEEE divide), the ≥0 rule.
    */
  private lazy val NbQualitySql: String =
    """WITH t AS (SELECT doc_id, lang = 'en' AS pos,
      |                  unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
      |           FROM documents),
      |cls AS (SELECT token,
      |               count(*) FILTER (pos) AS cp,
      |               count(*) FILTER (NOT pos) AS cn
      |        FROM t GROUP BY token),
      |tot AS (SELECT CAST(sum(cp) AS DOUBLE) AS np, CAST(sum(cn) AS DOUBLE) AS nn,
      |               CAST(count(*) AS DOUBLE) AS v FROM cls),
      |w AS (SELECT token,
      |             CAST(round(ln((CAST(cp AS DOUBLE) + 0.5) / (np + 0.5*(v + 1.0)))
      |                      - ln((CAST(cn AS DOUBLE) + 0.5) / (nn + 0.5*(v + 1.0))), 6)
      |               AS DECIMAL(20,6)) AS w
      |      FROM cls, tot)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |       CAST(sum(w.w) AS DOUBLE) / count(*) AS score,
      |       CASE WHEN CAST(sum(w.w) AS DOUBLE) / count(*) >= 0 THEN 1 ELSE 0 END AS pred_pos
      |FROM t JOIN w USING (token)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** The IVF append-lifecycle oracle: even-half label centroids, the FULL
    * corpus assigned to them, nprobe=3 probe — shared by `ann_ivf_append`
    * (batch ingest) and `stream_ann_ingest` (the same ingest as a stream).
    */
  private lazy val IvfAppendSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT vec_id, label, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      |       FROM e WHERE vec_id % 2 = 0),
      |cent AS (
      |  SELECT label AS cl, list(m ORDER BY pos) AS cvec
      |  FROM (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos)
      |  GROUP BY label),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |assign AS (
      |  SELECT vec_id, arg_max(cl, cs) AS cluster
      |  FROM (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs FROM e, cent c)
      |  GROUP BY vec_id),
      |probes AS (
      |  SELECT cl FROM cent, q ORDER BY list_cosine_similarity(cvec, qv) DESC, cl LIMIT 3)
      |SELECT e.vec_id, e.label, a.cluster,
      |       round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      |FROM e JOIN assign a USING (vec_id) JOIN probes p ON a.cluster = p.cl, q
      |WHERE e.vec_id <> 0
      |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin

  /** The append-lifecycle PQ oracle: codebooks trained on the EVEN half
    * (the build corpus), the FULL corpus encoded with them (build rows at
    * build time, odd rows at append time — same frozen codebooks), probed
    * whole. */
  private lazy val PqAppendSql: String =
    s"""WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |et AS (SELECT * FROM e WHERE vid % 2 = 0),
       |seeds AS (SELECT rn - 1 AS code, sv FROM (
       |  SELECT v AS sv, row_number() OVER (
       |    ORDER BY (vid * 2654435761) % 4294967296, vid) AS rn FROM et)
       |  WHERE rn <= 8),
       |q AS (SELECT v AS qv FROM e WHERE vid = 0),
       |${(0 until 4).map(pqBlockCtes(_, train = "et")).mkString(",\n")}
       |SELECT e.vid AS vec_id, round(d0 + d1 + d2 + d3, 4) AS adc
       |FROM e JOIN as_0 USING (vid) JOIN as_1 USING (vid)
       |       JOIN as_2 USING (vid) JOIN as_3 USING (vid)
       |       JOIN lut_0 USING (c0) JOIN lut_1 USING (c1)
       |       JOIN lut_2 USING (c2) JOIN lut_3 USING (c3)
       |WHERE e.vid <> 0
       |ORDER BY adc, vec_id LIMIT 10""".stripMargin

  /** The stale-vs-fresh PQ drift oracle: planted drift region, TWO codebook
    * generations in one query (stale trained on the pre-append base `e0b`,
    * fresh on the grown `e`; both encode `e`), per-generation ADC top-10,
    * codebook-independent exact top-10 computed once, both recalls joined
    * per query.
    */
  private lazy val PqRecallStaleSql: String = {
    def adcCtes(pfx: String) =
      s"""adc$pfx AS (
         |  SELECT qid, e.vid, round(d0 + d1 + d2 + d3, 4) AS adc
         |  FROM e JOIN as_${pfx}0 USING (vid) JOIN as_${pfx}1 USING (vid)
         |         JOIN as_${pfx}2 USING (vid) JOIN as_${pfx}3 USING (vid)
         |         JOIN lut_${pfx}0 USING (c0) JOIN lut_${pfx}1 USING (qid, c1)
         |         JOIN lut_${pfx}2 USING (qid, c2) JOIN lut_${pfx}3 USING (qid, c3)
         |  WHERE e.vid <> qid),
         |adcr$pfx AS (SELECT qid, vid FROM (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS r
         |  FROM adc$pfx) WHERE r <= 10)""".stripMargin
    def seedsCte(pfx: String, base: String) =
      s"""seeds$pfx AS (SELECT rn - 1 AS code, sv FROM (
         |  SELECT v AS sv, row_number() OVER (
         |    ORDER BY (vid * 2654435761) % 4294967296, vid) AS rn FROM $base)
         |  WHERE rn <= 8)""".stripMargin
    s"""WITH e0b AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q0 AS (SELECT v AS v0 FROM e0b WHERE vid = 0),
       |drift AS (SELECT vid + 100000 AS vid,
       |                 list_transform(list_zip(q0.v0, e0b.v), t -> t[1] + 0.9 * t[2]) AS v
       |          FROM e0b, q0 WHERE vid BETWEEN 1 AND 40),
       |e AS (SELECT * FROM e0b UNION ALL SELECT * FROM drift),
       |${seedsCte("", "e")},
       |${seedsCte("st", "e0b")},
       |q AS (SELECT vid AS qid, v AS qv FROM e WHERE vid IN (100001, 100002, 100003)),
       |${(0 until 4).map(pqBlockCtes(_, multiQ = true)).mkString(",\n")},
       |${(0 until 4).map(pqBlockCtes(_, multiQ = true, train = "e0b", pfx = "st")).mkString(",\n")},
       |${adcCtes("")},
       |${adcCtes("st")},
       |ex AS (SELECT q.qid, e.vid, round(${pqSq("e.v", "q.qv")}, 4) AS d2
       |       FROM e, q WHERE e.vid <> q.qid),
       |exr AS (SELECT qid, vid FROM (
       |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS r
       |  FROM ex) WHERE r <= 10)
       |SELECT exr.qid AS query_id, count(*) AS n_exact,
       |       CAST(sum(CASE WHEN adcr.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_hit_fresh,
       |       round(CAST(sum(CASE WHEN adcr.vid IS NOT NULL THEN 1 ELSE 0 END)
       |             AS DOUBLE) / 10.0, 4) AS recall_fresh,
       |       CAST(sum(CASE WHEN adcrst.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_hit_stale,
       |       round(CAST(sum(CASE WHEN adcrst.vid IS NOT NULL THEN 1 ELSE 0 END)
       |             AS DOUBLE) / 10.0, 4) AS recall_stale
       |FROM exr
       |LEFT JOIN adcr ON exr.qid = adcr.qid AND exr.vid = adcr.vid
       |LEFT JOIN adcrst ON exr.qid = adcrst.qid AND exr.vid = adcrst.vid
       |GROUP BY exr.qid ORDER BY query_id""".stripMargin
  }

  // DuckDB equivalents. Shared CTE fragment: events with epoch-ms time.
  private val EvCte =
    "SELECT epoch_ms(ts) AS time, event_id, user_id, event_type, value, props FROM events"

  /** Per-day log2-bucket quantile lower bounds, re-derived one-shot —
    * shared by `stream_hist_quantiles` (bounded-state stream) and
    * `ivm_hist_quantiles` (delta-maintained rollup): both maintenance paths
    * must reproduce this batch aggregate exactly.
    */
  private val HistQuantilesDailySql =
    s"""WITH e AS ($EvCte),
       |b AS (SELECT (time // 86400000) * 86400000 AS win_start, event_type,
       |             CASE WHEN value < 1 THEN -1
       |                  ELSE length(bin(CAST(floor(value) AS BIGINT))) - 1
       |             END AS bk,
       |             count(*) AS c
       |      FROM e WHERE value IS NOT NULL GROUP BY 1, 2, 3),
       |cum AS (SELECT win_start, event_type, bk, c,
       |               CAST(sum(c) OVER (PARTITION BY win_start, event_type
       |                                 ORDER BY bk) AS BIGINT) AS cum,
       |               CAST(sum(c) OVER (PARTITION BY win_start, event_type)
       |                    AS BIGINT) AS n
       |        FROM b)
       |SELECT win_start, event_type, max(n) AS n,
       |       min(CASE WHEN cum >= ceil(0.5 * n) THEN
       |             (CASE WHEN bk < 0 THEN 0 ELSE (1::BIGINT << bk) END)
       |           END) AS est_p50,
       |       min(CASE WHEN cum >= ceil(0.99 * n) THEN
       |             (CASE WHEN bk < 0 THEN 0 ELSE (1::BIGINT << bk) END)
       |           END) AS est_p99
       |FROM cum GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin
  private val ToksCte =
    "SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents"

  /** Shared by the batch and streaming IVM gates: both maintained rollups
    * must equal the one-shot aggregate of ALL events (same
    * round-then-decimal sum lattice as the stored partials).
    */
  private lazy val IvmRollupOracle =
    s"""WITH e AS ($EvCte)
       |SELECT event_type, count(*) AS n_events,
       |       round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |         AS sum_value,
       |       round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE)
       |             / count(*), 6) AS avg_value,
       |       min(value) AS min_value, max(value) AS max_value,
       |       count(DISTINCT CAST(floor(time / 86400000.0) AS BIGINT)) AS n_partitions
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared k-means re-derivation (auto-k Knuth-hash seeds, two Lloyd
    * rounds under cosine, argmax assignment — the
    * `centroidsKMeans(autoClusters(n), rounds=2)` pipeline) as a CTE-chain
    * fragment ending in `assign(vec_id, cluster)` — spliced into every
    * oracle that clusters the embeddings corpus so they cannot drift from
    * each other. The seed count re-derives
    * [[graft.ops.Similarity.autoClusters]]'s `max(4, ceil(sqrt(n/31)))`
    * from the corpus count, so the oracle tracks the engine's default
    * k ∝ √n schedule at every scale without a side channel.
    */
  private val KMeansAutoCtes =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
      |seeds AS (SELECT cl, cvec FROM (
      |            SELECT vec_id AS cl, v AS cvec,
      |                   row_number() OVER (
      |                     ORDER BY (vec_id * 2654435761) % 4294967296,
      |                              vec_id) AS rn,
      |                   count(*) OVER () AS n
      |            FROM e)
      |          WHERE rn <= greatest(4, CAST(ceil(sqrt(n / 31.0)) AS BIGINT))),
      |a1 AS (SELECT vec_id, arg_max(cl, cs) AS cl FROM
      |         (SELECT e.vec_id, s.cl, list_cosine_similarity(e.v, s.cvec) AS cs
      |          FROM e, seeds s) GROUP BY vec_id),
      |c1 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
      |         (SELECT a1.cl, ex.pos, avg(ex.x) AS m
      |          FROM ex JOIN a1 USING (vec_id) GROUP BY a1.cl, ex.pos)
      |       GROUP BY cl),
      |a2 AS (SELECT vec_id, arg_max(cl, cs) AS cl FROM
      |         (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
      |          FROM e, c1 c) GROUP BY vec_id),
      |c2 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
      |         (SELECT a2.cl, ex.pos, avg(ex.x) AS m
      |          FROM ex JOIN a2 USING (vec_id) GROUP BY a2.cl, ex.pos)
      |       GROUP BY cl),
      |assign AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
      |             (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
      |              FROM e, c2 c) GROUP BY vec_id)""".stripMargin

  /** The union-corpus frozen-centroid graph re-derivation shared by
    * `knn_graph_append` and `stream_knn_ingest` (one batch vs a two-batch
    * replay — identical final state by the append contract). */
  private lazy val KnnAppendUnionSql =
    s"""WITH $KMeansAutoCtes,
       |planted AS (SELECT vec_id + 100000 AS vec_id,
       |                   list_concat(v[2:], [v[1]]) AS v
       |            FROM e WHERE vec_id % 10 = 0),
       |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM planted),
       |uassign AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
       |              (SELECT u.vec_id, c.cl,
       |                      list_cosine_similarity(u.v, c.cvec) AS cs
       |               FROM u, c2 c) GROUP BY vec_id),
       |nbrs AS (SELECT ua.vec_id AS src, b.vec_id AS dst,
       |                round(list_cosine_similarity(a.v, b.v), 4) AS cs
       |         FROM u a JOIN uassign ua ON a.vec_id = ua.vec_id
       |              JOIN u b ON a.vec_id <> b.vec_id
       |              JOIN uassign ub ON b.vec_id = ub.vec_id
       |                           AND ua.cluster = ub.cluster),
       |r AS (SELECT src, dst, cs,
       |             row_number() OVER (PARTITION BY src
       |               ORDER BY cs DESC, dst) AS nbr_rank
       |      FROM nbrs)
       |SELECT src AS vec_id, nbr_rank, dst AS neighbor_id, cs AS cosine
       |FROM r WHERE nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin

  /** The mixture gate's weight CASE, generated from [[MixWeights]] so the
    * Spark plan and the oracle can never disagree on a share.
    */
  private def MixCaseSql: String =
    MixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("(CASE source ", " ", s" ELSE $MixDefault END)")
  private val StopEnSql = Text.StopEn.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Exact n-gram-Jaccard pairs — the oracle for BOTH `dedup_jaccard_pairs`
    * and `dedup_minhash_lsh`: at 32-band × 2-row banding LSH candidate recall
    * is ≥ 1 − (1−J²)³² (≈ 1 − 6e-7 at J = 0.6) and candidates are verified
    * with exact Jaccard, so the LSH output equals the exact computation.
    */
  private val JaccardPairsSql =
    s"""WITH toks AS ($ToksCte),
       |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
       |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       |inter AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
       |SELECT d1, d2, round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) AS jaccard
       |FROM inter JOIN sizes s1 ON s1.id = d1 JOIN sizes s2 ON s2.id = d2
       |WHERE round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) >= 0.6
       |ORDER BY d1, d2""".stripMargin

  /** Full IVF re-derivation — shared by `ann_ivf_topk` (in-plan assignment)
    * and `ann_ivf_persisted` (index built at write time, probed by partition
    * pruning): both compute the identical approximation, so one oracle gates
    * both paths.
    */
  /** Brute-force all-pairs over the augmented corpus the banded gates
    * build (quarter-scaled dups + x+x²/128 near-dups on vec_id < 50): the
    * exhaustive relation both `sim_pairs_banded` (exact-match bands) and
    * `sim_pairs_banded_mp` (Hamming-1 multiprobe) must reproduce exactly.
    */
  private val BandedBruteSql =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |aug AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 200000, list_transform(v, x -> x * 0.25) FROM base WHERE vec_id < 50
      |  UNION ALL
      |  SELECT vec_id + 300000, list_transform(v, x -> x + x * x / 128.0) FROM base WHERE vec_id < 50)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
      |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.9
      |ORDER BY v1, v2""".stripMargin

  private val IvfTopkSql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT vec_id, label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
      |cent AS (
      |  SELECT label AS cl, list(m ORDER BY pos) AS cvec
      |  FROM (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos)
      |  GROUP BY label),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |assign AS (
      |  SELECT vec_id, arg_max(cl, cs) AS cluster
      |  FROM (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs FROM e, cent c)
      |  GROUP BY vec_id),
      |probes AS (
      |  SELECT cl FROM cent, q ORDER BY list_cosine_similarity(cvec, qv) DESC, cl LIMIT 3)
      |SELECT e.vec_id, e.label, a.cluster,
      |       round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
      |FROM e JOIN assign a USING (vec_id) JOIN probes p ON a.cluster = p.cl, q
      |WHERE e.vec_id <> 0
      |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin

  /** Full k-means‖ + IVF re-derivation for `ann_ivf_kmeanspar`: the
    * oversampled sampling rounds (Knuth-hash coins against `ℓ·d²/φ`),
    * weighted greedy farthest-first cut (a recursive CTE appending one
    * seed per step, exactly the driver-side loop in
    * `Similarity.centroidsKMeansParallel`), two Lloyd rounds, then the
    * shared probe/top-k shape of [[IvfTopkSql]]. Hash arithmetic runs in
    * HUGEINT (the 2³² products overflow BIGINT); squares are written as
    * explicit products, not pow(), to stay bit-identical with the Spark
    * side's `d * d`.
    */
  private val KMeansParTopkSql: String = {
    def h(x: String) =
      s"((CAST($x AS HUGEINT) % 4294967296) * 2654435761) % 4294967296"
    def u(r: Int) =
      s"CAST(${h(s"(${h("vec_id")} + ${r * 7919})")} AS DOUBLE) / 4294967296.0"
    // One k-means|| candidate round against the previous round's set: d² to
    // the nearest candidate, φ = Σd², admit on the per-round hash coin.
    def rnd(r: Int) =
      s"""d$r AS (SELECT e.vec_id, e.v,
         |          (1 - max(list_cosine_similarity(e.v, c.cvec))) *
         |          (1 - max(list_cosine_similarity(e.v, c.cvec))) AS d2
         |        FROM e, c${r - 1} c GROUP BY e.vec_id, e.v),
         |p$r AS (SELECT sum(d2) AS phi FROM d$r),
         |f$r AS (SELECT vec_id AS cl, v AS cvec FROM d$r, p$r
         |        WHERE phi > 0 AND ${u(r)} < least(1.0, 16.0 * d2 / phi)),
         |c$r AS (SELECT * FROM c${r - 1} UNION ALL SELECT * FROM f$r)""".stripMargin
    // One Lloyd round: nearest-seed assignment (ties to the smaller id,
    // matching assignedOf), then per-position means.
    def lloyd(i: Int, seeds: String) =
      s"""al$i AS (SELECT e.vec_id,
         |           first(s.cl ORDER BY list_cosine_similarity(e.v, s.cvec) DESC, s.cl) AS cl
         |         FROM e, $seeds s GROUP BY e.vec_id),
         |l$i AS (SELECT cl, list(m ORDER BY pos) AS cvec
         |        FROM (SELECT al$i.cl, ex.pos, avg(ex.x) AS m
         |              FROM ex JOIN al$i USING (vec_id) GROUP BY al$i.cl, ex.pos)
         |        GROUP BY cl)""".stripMargin
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ex AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
       |c0 AS (SELECT vec_id AS cl, v AS cvec FROM e ORDER BY ${h("vec_id")}, vec_id LIMIT 1),
       |${rnd(1)},
       |${rnd(2)},
       |${rnd(3)},
       |aw AS (SELECT e.vec_id,
       |         first(c.cl ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cl) AS cl
       |       FROM e, c3 c GROUP BY e.vec_id),
       |cand AS (SELECT c.cl, c.cvec, coalesce(w.wt, 0) AS wt
       |         FROM c3 c LEFT JOIN (SELECT cl, count(*) AS wt FROM aw GROUP BY cl) w USING (cl)),
       |cut(it, chosen) AS (
       |  SELECT 1, [(SELECT cl FROM cand ORDER BY wt DESC, cl LIMIT 1)]
       |  UNION ALL
       |  SELECT it + 1, list_append(chosen, nxt) FROM (
       |    SELECT it, chosen, first(cl ORDER BY score DESC, cl) AS nxt FROM (
       |      SELECT g.it, g.chosen, c.cl,
       |             c.wt * min((1 - list_cosine_similarity(c.cvec, ch.cvec)) *
       |                        (1 - list_cosine_similarity(c.cvec, ch.cvec))) AS score
       |      FROM cut g, cand c, cand ch
       |      WHERE g.it < 8 AND NOT list_contains(g.chosen, c.cl)
       |        AND list_contains(g.chosen, ch.cl)
       |      GROUP BY g.it, g.chosen, c.cl, c.wt)
       |    GROUP BY it, chosen)),
       |s0 AS (SELECT c.cl, c.cvec FROM cand c, cut
       |       WHERE cut.it = 8 AND list_contains(cut.chosen, c.cl)),
       |${lloyd(1, "s0")},
       |${lloyd(2, "l1")},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probes AS (SELECT cl FROM l2, q
       |           ORDER BY list_cosine_similarity(cvec, qv) DESC, cl LIMIT 3),
       |afin AS (SELECT e.vec_id,
       |           first(c.cl ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cl) AS cluster
       |         FROM e, l2 c GROUP BY e.vec_id)
       |SELECT e.vec_id, a.cluster, round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
       |FROM e JOIN afin a USING (vec_id) JOIN probes p ON a.cluster = p.cl, q
       |WHERE e.vec_id <> 0
       |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin
  }

  /** Language-ID confusion matrix, re-derived from the stopword lists and
    * the argmax CASE chain — shared by `text_langid` (codegen'd CASE) and
    * `text_langid_join` (broadcast dictionary join): same counts, same
    * preference order, one oracle for both plans.
    */
  private val LangidSql: String = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
       |           FROM documents),
       |s AS (SELECT lang,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopEn)}, x))) AS en,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopEs)}, x))) AS es,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopFr)}, x))) AS fr,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopDe)}, x))) AS de
       |      FROM t),
       |p AS (SELECT lang, CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
       |                        WHEN en >= es AND en >= fr AND en >= de THEN 'en'
       |                        WHEN es >= fr AND es >= de THEN 'es'
       |                        WHEN fr >= de THEN 'fr' ELSE 'de' END AS pred_lang
       |      FROM s)
       |SELECT lang, pred_lang, count(*) AS n FROM p
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** First-touch funnel reach, re-derived as the per-step min-time join
    * chain — shared by `funnel_steps` (join-chain plan) and
    * `funnel_steps_onescan` (single-scan greedy state machine).
    */
  private val FunnelStepsSql =
    s"""WITH e AS ($EvCte),
       |s1 AS (SELECT user_id, min(time) AS t FROM e
       |       WHERE event_type = 'signup' GROUP BY 1),
       |s2 AS (SELECT s1.user_id, min(e.time) AS t FROM s1 JOIN e
       |       ON e.user_id = s1.user_id AND e.event_type = 'click'
       |          AND e.time > s1.t AND e.time <= s1.t + 259200000 GROUP BY 1),
       |s3 AS (SELECT s2.user_id, min(e.time) AS t FROM s2 JOIN e
       |       ON e.user_id = s2.user_id AND e.event_type = 'purchase'
       |          AND e.time > s2.t AND e.time <= s2.t + 259200000 GROUP BY 1)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS step_idx, 'signup' AS step,
       |         (SELECT count(*) FROM s1) AS n_users
       |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s2)
       |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s3))
       |ORDER BY step_idx""".stripMargin

  /** Full reachability closure over the exact-Jaccard pair edges — shared
    * by `dedup_cluster_rep` (min-label propagation) and
    * `dedup_cluster_rep_logstar` (large-star/small-star contraction): two
    * algorithms, one independently-computed answer.
    */
  private val ClusterRepSql =
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
       |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id)
       |SELECT id AS doc_id, min(r) AS rep_id,
       |       CAST(min(r) <> id AS INT) AS is_dup
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** WITH RECURSIVE prelude re-deriving the merge-table BPE fixpoint for
    * every distinct pre-token: `rules` is the literal DefaultMerges table;
    * each recursion step selects the min-rank applicable pair per word
    * (rank-equality marks its occurrences), merges the leftmost-
    * nonoverlapping ones (gaps-and-islands parity handles self-pairs like
    * e+e), and rebuilds the symbol list. A converged word reproduces its own
    * row, so UNION dedup terminates its recursion; symbol counts strictly
    * decrease while active, so the fixpoint is `arg_min(syms, len(syms))`.
    * Ends with `words(doc_id, word)` and `toks(word, syms)` in scope.
    */
  private val BpeFixpointCte: String = {
    val rules = Text.DefaultMerges.zipWithIndex
      .map { case ((l, r), i) => s"('$l', '$r', $i)" }.mkString(", ")
    s"""WITH RECURSIVE
       |rules(l, r, rnk) AS (SELECT * FROM (VALUES $rules) v(l, r, rnk)),
       |words AS (SELECT doc_id,
       |                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS word
       |          FROM documents),
       |vocab AS (SELECT DISTINCT word FROM words),
       |bpe(word, syms) AS (
       |  SELECT word, string_split(word, '') FROM vocab
       |  UNION
       |  SELECT word, list(CASE WHEN merged THEN sym || nxt ELSE sym END ORDER BY i)
       |  FROM (
       |    SELECT word, i, sym, merged,
       |           coalesce(lag(merged) OVER (PARTITION BY word ORDER BY i), FALSE) AS consumed,
       |           lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
       |    FROM (
       |      SELECT word, i, sym, occ, g,
       |             occ AND ((i - min(i) OVER (PARTITION BY word, occ, g)) % 2 = 0) AS merged
       |      FROM (
       |        SELECT word, i, sym, occ,
       |               i - row_number() OVER (PARTITION BY word, occ ORDER BY i) AS g
       |        FROM (
       |          SELECT p.word, p.i, p.sym,
       |                 coalesce(r1.rnk = min(r1.rnk) OVER (PARTITION BY p.word), FALSE) AS occ
       |          FROM (SELECT b.word, t.i, b.syms[t.i] AS sym, b.syms[t.i + 1] AS nxtsym
       |                FROM bpe b, unnest(range(1, len(b.syms) + 1)) AS t(i)) p
       |          LEFT JOIN rules r1 ON r1.l = p.sym AND r1.r = p.nxtsym
       |        )
       |      )
       |    )
       |  ) WHERE NOT consumed GROUP BY word
       |),
       |toks AS (SELECT word, arg_min(syms, len(syms)) AS syms FROM bpe GROUP BY word)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "uts_interval_mean" ->
      s"""WITH p AS ($EvCte),
         |mx AS (SELECT max(time) AS now FROM p),
         |f AS (SELECT time, value, now FROM p, mx WHERE time > now - 604800000 AND time <= now),
         |a AS (SELECT CAST(floor((now - time)/3600000.0) AS BIGINT) AS k,
         |             avg(value) AS m, count(*) AS n FROM f GROUP BY 1),
         |s AS (SELECT unnest(range(0, 169)) AS k, now FROM mx)
         |SELECT s.now - (s.k+1)*3600000 AS bin_start, 3600000 AS bin_width,
         |       round(coalesce(a.m, 0), 4) AS mean_value, coalesce(a.n, 0) AS n
         |FROM s LEFT JOIN a ON s.k = a.k ORDER BY bin_start DESC""".stripMargin,
    "uts_global_metrics" ->
      s"""WITH p AS ($EvCte)
         |SELECT round(coalesce(avg(value), 0), 4) AS mean_value,
         |       round(coalesce(sum(value), 0), 4) AS sum_value,
         |       count(*) AS n_all, count(value) AS n_value,
         |       max(value) AS max_value, min(value) AS min_value,
         |       (SELECT value FROM p ORDER BY time DESC, event_id DESC LIMIT 1) AS last_value
         |FROM p""".stripMargin,
    "uts_count_by_type" ->
      """SELECT event_type, count(*) AS n, count(value) AS n_value,
        |       round(coalesce(sum(value), 0), 4) AS sum_value,
        |       round(coalesce(avg(value), 0), 4) AS mean_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "uts_where_filter" ->
      s"""SELECT event_id, epoch_ms(ts) AS time, value FROM events
         |WHERE value > 150.0 AND event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "uts_where_disj" ->
      s"""SELECT event_id, epoch_ms(ts) AS time, value, event_type FROM events
         |WHERE (value > 180.0 OR event_type = 'signup') AND event_type < 'v'
         |ORDER BY event_id""".stripMargin,
    // Ordered non-commutative fold: list_reduce's seedless first-element
    // init equals the engine's seed-0 fold for step acc*0.9+x, and the
    // list's ORDER BY (time, event_id) is the fold order being gated.
    "uts_reduce_fold" ->
      s"""WITH p AS ($EvCte)
         |SELECT user_id,
         |       round(coalesce(list_reduce(
         |           list(value ORDER BY time, event_id) FILTER (value IS NOT NULL),
         |           (acc, x) -> acc * 0.9 + x), 0.0), 4) AS ewma,
         |       count(value) AS n_value
         |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    // The facade lifecycle's final state: two inserts (the second with NULL
    // value — the missing column), then remove keeps rows where the
    // predicate is false OR NULL.
    "uts_db_lifecycle" ->
      s"""WITH p AS ($EvCte),
         |ins AS (
         |  SELECT time, event_id, event_type, value FROM p
         |  WHERE event_type IN ('view', 'click')
         |  UNION ALL
         |  SELECT time, event_id, event_type, NULL AS value FROM p
         |  WHERE event_type = 'purchase'),
         |kept AS (SELECT * FROM ins WHERE NOT coalesce(value > 400.0, false))
         |SELECT event_type, count(*) AS n, count(value) AS n_value,
         |       round(coalesce(sum(value), 0), 4) AS sum_value
         |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The Mapper gate's fn (×2, null → -1) is exact in IEEE doubles, so the
    // values compare bitwise; the row_number over (time, event_id) is the
    // per-bin emit order being gated, in scalar form (see utsMapFn).
    "uts_map_fn" ->
      s"""WITH p AS ($EvCte)
         |SELECT user_id,
         |       row_number() OVER (PARTITION BY user_id ORDER BY time, event_id) - 1 AS idx,
         |       coalesce(value * 2, -1.0) AS val
         |FROM p ORDER BY user_id, idx""".stripMargin,
    // M4 decimation: min/max plain, first/last re-derived by rank under the
    // shared (time, event_id) series order.
    "uts_m4_downsample" ->
      s"""WITH p AS ($EvCte),
         |f AS (SELECT event_type, time // 21600000 AS bkt, value,
         |             row_number() OVER (PARTITION BY event_type, time // 21600000
         |                                ORDER BY time, event_id) AS rf,
         |             row_number() OVER (PARTITION BY event_type, time // 21600000
         |                                ORDER BY time DESC, event_id DESC) AS rl
         |      FROM p WHERE value IS NOT NULL)
         |SELECT event_type, bkt * 21600000 AS bucket_start, count(*) AS n,
         |       min(value) AS v_min, max(value) AS v_max,
         |       min(CASE WHEN rf = 1 THEN value END) AS v_first,
         |       min(CASE WHEN rl = 1 THEN value END) AS v_last
         |FROM f GROUP BY event_type, bkt
         |ORDER BY event_type, bucket_start""".stripMargin,
    // Fold-from-0 quirk replicas: seed clamps max>=0 / min<=0; a bin with a
    // missing value (derived amount, absent on every 97th event) is NaN.
    "uts_quirk_metrics" ->
      s"""WITH p AS (SELECT event_type, value,
         |    CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS amount FROM events)
         |SELECT event_type,
         |  CASE WHEN count(*) != count(value) OR coalesce(bool_or(isnan(value)), false)
         |       THEN 'NaN'::DOUBLE ELSE greatest(coalesce(max(value), 0.0), 0.0) END AS qmax_value,
         |  CASE WHEN count(*) != count(value) OR coalesce(bool_or(isnan(value)), false)
         |       THEN 'NaN'::DOUBLE ELSE least(coalesce(min(value), 0.0), 0.0) END AS qmin_value,
         |  CASE WHEN count(*) != count(value) OR coalesce(bool_or(isnan(value)), false)
         |       THEN 'NaN'::DOUBLE ELSE round(coalesce(sum(value), 0.0), 4) END AS qsum_value,
         |  CASE WHEN count(*) != count(amount) OR coalesce(bool_or(isnan(amount)), false)
         |       THEN 'NaN'::DOUBLE ELSE greatest(coalesce(max(amount), 0.0), 0.0) END AS qmax_amount,
         |  CASE WHEN count(*) != count(amount) OR coalesce(bool_or(isnan(amount)), false)
         |       THEN 'NaN'::DOUBLE ELSE round(coalesce(sum(amount), 0.0), 4) END AS qsum_amount
         |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Last-in-bin via an explicit (time, event_id) DESC window — an
    // arithmetic tiebreak key (time·10⁶ + id) would silently collide once
    // ids pass 10⁶, and arg_max can't take a composite key.
    "uts_last_interval" ->
      s"""WITH p AS ($EvCte),
         |mx AS (SELECT max(time) AS now FROM p),
         |f AS (SELECT time, event_id, value, now FROM p, mx
         |      WHERE time > now - 259200000 AND time <= now),
         |r AS (SELECT CAST(floor((now - time)/21600000.0) AS BIGINT) AS k, now, value,
         |             row_number() OVER (
         |               PARTITION BY CAST(floor((now - time)/21600000.0) AS BIGINT)
         |               ORDER BY time DESC, event_id DESC) AS rn
         |      FROM f),
         |a AS (SELECT k, now AS now2, value AS last_value FROM r WHERE rn = 1)
         |SELECT now2 - (k+1)*21600000 AS bin_start, 21600000 AS bin_width, last_value
         |FROM a ORDER BY bin_start DESC""".stripMargin,
    "uts_map_series" ->
      """SELECT event_id, epoch_ms(ts) AS time, value FROM events
        |WHERE user_id = 7 ORDER BY time, event_id""".stripMargin,
    "uts_derivative" ->
      s"""WITH p AS (SELECT epoch_ms(ts) AS t, event_id, value FROM events WHERE user_id = 1),
         |d AS (SELECT t, coalesce(value - lag(value) OVER (ORDER BY t, event_id), 0) AS delta FROM p),
         |m AS (SELECT min(t) AS t0, max(t) AS tmax FROM p),
         |a AS (SELECT greatest(CAST(ceil((d.t - m.t0)/21600000.0) AS BIGINT), 1) AS k,
         |             sum(d.delta) AS dv FROM d, m GROUP BY 1),
         |km AS (SELECT greatest(CAST(ceil((tmax - t0)/21600000.0) AS BIGINT), 1) AS kmax, t0, tmax FROM m),
         |s AS (SELECT unnest(range(1, kmax + 1)) AS k, t0, tmax, kmax FROM km)
         |SELECT CASE WHEN s.k = s.kmax THEN s.tmax ELSE s.t0 + s.k*21600000 END AS der_time,
         |       round(coalesce(a.dv, 0), 4) AS der_value
         |FROM s LEFT JOIN a ON s.k = a.k ORDER BY der_time""".stripMargin,
    "uts_derivative_by_user" ->
      s"""WITH p AS (SELECT user_id, epoch_ms(ts) AS t, event_id, value FROM events),
         |d AS (SELECT user_id, t,
         |             coalesce(value - lag(value) OVER (PARTITION BY user_id ORDER BY t, event_id), 0) AS delta
         |      FROM p),
         |m AS (SELECT user_id, min(t) AS t0, max(t) AS tmax FROM p GROUP BY user_id),
         |a AS (SELECT d.user_id, greatest(CAST(ceil((d.t - m.t0)/21600000.0) AS BIGINT), 1) AS k,
         |             sum(d.delta) AS dv
         |      FROM d JOIN m ON d.user_id = m.user_id GROUP BY 1, 2),
         |km AS (SELECT user_id, greatest(CAST(ceil((tmax - t0)/21600000.0) AS BIGINT), 1) AS kmax,
         |              t0, tmax FROM m),
         |s AS (SELECT user_id, unnest(range(1, kmax + 1)) AS k, t0, tmax, kmax FROM km)
         |SELECT s.user_id,
         |       CASE WHEN s.k = s.kmax THEN s.tmax ELSE s.t0 + s.k*21600000 END AS der_time,
         |       round(coalesce(a.dv, 0), 4) AS der_value
         |FROM s LEFT JOIN a ON s.user_id = a.user_id AND s.k = a.k
         |ORDER BY s.user_id, der_time""".stripMargin,
    "uts_remove" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE NOT coalesce(event_type = 'purchase', false)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "uts_retention_daily" ->
      s"""WITH p AS (SELECT epoch_ms(ts) AS t FROM events),
         |mx AS (SELECT max(t) AS now FROM p),
         |r AS (SELECT t, now FROM p, mx WHERE t >= now - 864000000 AND t <= now),
         |m AS (SELECT min(t) AS t0, max(now) AS now FROM r),
         |a AS (SELECT CAST(floor((now - t)/86400000.0) AS BIGINT) AS k, count(*) AS n FROM r GROUP BY 1),
         |s AS (SELECT unnest(range(0, CAST(floor((now - t0)/86400000.0) AS BIGINT) + 1)) AS k, now FROM m)
         |SELECT s.now - (s.k+1)*86400000 AS bin_start, 86400000 AS bin_width,
         |       coalesce(a.n, 0) AS n
         |FROM s LEFT JOIN a ON s.k = a.k ORDER BY bin_start DESC""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk_revenue" ->
      """SELECT l_orderkey, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_date
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_revenue" ->
      """SELECT round(sum(l_extendedprice*l_discount), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    // Q4 shape: EXISTS with a correlated non-equi lateness bound.
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Q18 shape: the qualifying-key set is itself an aggregation (HAVING),
    // consumed as IN; the order-key tiebreak makes the top-20 deterministic.
    "q18_big_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
        |       round(sum(l_quantity), 2) AS total_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY 1 HAVING sum(l_quantity) > 150)
        |GROUP BY o_orderkey, o_custkey, o_totalprice
        |ORDER BY total_price DESC, o_orderkey LIMIT 20""".stripMargin,
    // Q14 shape: promo share's two sums as exact decimals on the 2-decimal
    // lattice; the quotient is left unrounded by design.
    "q14_promo_share" ->
      """SELECT
        |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(round(l_extendedprice * (1 - l_discount), 10) AS DECIMAL(30,10))
        |        ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE), 2) AS promo_revenue,
        |  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
        |        AS DECIMAL(30,10))) AS DOUBLE), 2) AS total_revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
    "q10_returned_items" ->
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
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q19_brand_revenue" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
        |             AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // The per-part threshold uses the EXACT decimal sum (one double divide,
    // no accumulation-order low bits), so the `<` boundary matches Spark's.
    "q17_small_qty_revenue" ->
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
        |WHERE l_quantity < threshold""".stripMargin,
    "q21_waiting_supplier" ->
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
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
    "q22_global_balance" ->
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
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Q7: the pair residual repeated verbatim; revenue on q10's decimal path.
    "q7_nation_volume" ->
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
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    // Q8: conditional + total sums side by side (the share quotient is the
    // reader's, q14's discipline).
    "q8_market_share" ->
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
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Q9: the supply-cost proxy is the SAME literal expression, left-assoc,
    // so the 1e-10 rounding lattice matches bitwise before the decimal sum.
    "q9_product_profit" ->
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
        |GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""".stripMargin,
    // Q12: q4's lateness residual with the two-way priority CASE rollup.
    "q12_priority_class" ->
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
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    // Q15: revenue rounds to the 2-decimal lattice in decimal space, so the
    // max-equality join compares identical doubles.
    "q15_top_supplier" ->
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
        |ORDER BY s_suppkey""".stripMargin,
    // Q16: the partsupp analogue is DISTINCT shipped pairs; the exclusion is
    // the bounded negative-balance supplier set.
    "q16_part_supplier_count" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 20, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q20: the half-share threshold in exact integer-scaled decimal.
    "q20_excess_suppliers" ->
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
        |ORDER BY s_suppkey""".stripMargin,
    // Q2: per-(part,supplier) min unit price as the supply cost; the
    // decorrelated per-part min joined back on exact double equality.
    "q2_min_cost_supplier" ->
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
        |ORDER BY s_acctbal DESC, s_name, p_partkey""".stripMargin,
    // Q11: the outsized-share threshold in exact integer-scaled decimal
    // (1000×value > total), never a cross-engine decimal division.
    "q11_important_parts" ->
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
        |ORDER BY value DESC, p_partkey""".stripMargin,
    // The murmur3 32-bit finalizer re-derived in HUGEINT arithmetic (mod 2³²
    // at each step ≡ the Spark side's pmod-after-wrap), then the KMV order
    // statistics: k smallest distinct hashes, estimate (k-1)·2³²/kth.
    "kmv_distinct_cust" ->
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
        |ORDER BY o_orderpriority""".stripMargin,
    // The CMS counters re-derived: the same murmur finalizer lattice as
    // kmv_distinct_cust in HUGEINT, salted per depth row (key + r·7919),
    // bucket = hash mod width; est = min over the 4 rows of the probe
    // key's bucket count (absent bucket ⇒ 0).
    "cms_user_counts" ->
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
        |ORDER BY est.user_id""".stripMargin,
    // The whole theta algebra re-derived: same hash lattice as
    // kmv_distinct_cust, per-type ≤64-minima buffers, pair threshold
    // θ∧ = min over saturated sides (kth+1; 2³² while unsaturated), union =
    // distinct sub-θ hashes from either buffer, intersection = common ones;
    // the estimate arithmetic repeats the Spark side's exact double ops.
    "kmv_setops_users" ->
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
        |ORDER BY u.part_a, u.part_b""".stripMargin,
    // The histogram-estimate and rank-statistic twins, both re-derived: same
    // integer buckets, same ceil(q·n) target, same k-th-smallest audit.
    "hist_quantiles_price" ->
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
        |ORDER BY est.o_orderpriority""".stripMargin,
    // Same twins over power-of-two buckets: bit-length bucketing
    // (length(bin(v))-1 ≡ floor(log2 v) exactly), 1::BIGINT << b bounds.
    "hist_quantiles_log2" ->
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
        |ORDER BY est.event_type""".stripMargin,
    // The naive per-column form of the one-pass profile.
    "profile_columns" ->
      """SELECT 'doc_id' AS column, count(*) AS n_rows, count(doc_id) AS n_nonnull,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(min(doc_id) AS DOUBLE) AS min_num,
        |       CAST(max(doc_id) AS DOUBLE) AS max_num,
        |       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(lang), max(lang)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
        |       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(source), count(DISTINCT source),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(source), max(source)
        |FROM documents
        |ORDER BY "column"""".stripMargin,
    // Two per-column profiles over old and the planted next snapshot.
    "profile_drift" ->
      """WITH newt AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0),
        |po AS (
        |  SELECT 'o_orderkey' AS column, count(*) AS n_rows_old,
        |         count(DISTINCT o_orderkey) AS n_distinct_old,
        |         CAST(min(o_orderkey) AS DOUBLE) AS min_old,
        |         CAST(max(o_orderkey) AS DOUBLE) AS max_old
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(DISTINCT o_totalprice),
        |         CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
        |  FROM orders),
        |pn AS (
        |  SELECT 'o_orderkey' AS column, count(*) AS n_rows_new,
        |         count(DISTINCT o_orderkey) AS n_distinct_new,
        |         CAST(min(o_orderkey) AS DOUBLE) AS min_new,
        |         CAST(max(o_orderkey) AS DOUBLE) AS max_new
        |  FROM newt
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(DISTINCT o_totalprice),
        |         CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
        |  FROM newt)
        |SELECT po.column, n_rows_old, n_distinct_old, min_old, max_old,
        |       n_rows_new, n_distinct_new, min_new, max_new
        |FROM po JOIN pn ON po.column = pn.column
        |ORDER BY po.column""".stripMargin,
    // Both snapshots re-derived relationally: v1 = the %3 slice, v2 = the
    // MERGE of the boosted %4 batch over it (NOT-EXISTS survivors + batch).
    "table_time_travel" ->
      s"""WITH e AS ($EvCte),
         |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
         |b  AS (SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 4 = 0),
         |v2 AS (SELECT * FROM v1 WHERE event_id NOT IN (SELECT event_id FROM b)
         |       UNION ALL SELECT * FROM b),
         |s1 AS (SELECT 1 AS version, count(*) AS n, count(value) AS n_value,
         |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |                AS sum_value,
         |              min(event_id) AS min_id, max(event_id) AS max_id FROM v1),
         |s2 AS (SELECT 2 AS version, count(*) AS n, count(value) AS n_value,
         |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |                AS sum_value,
         |              min(event_id) AS min_id, max(event_id) AS max_id FROM v2)
         |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY version""".stripMargin,
    // Both snapshots re-derived with the batch-only src column: v1 under
    // the original 3-column schema, v2's carried survivors with NULL src
    // and the batch with event_id % 7. n_cols states the schema arity the
    // version-accurate read must expose.
    "table_schema_evolution" ->
      s"""WITH e AS ($EvCte),
         |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
         |b  AS (SELECT event_id, value + 1000.0 AS value, event_id % 7 AS src
         |       FROM e WHERE event_id % 4 = 0),
         |v2 AS (SELECT event_id, value, CAST(NULL AS BIGINT) AS src FROM v1
         |       WHERE event_id NOT IN (SELECT event_id FROM b)
         |       UNION ALL SELECT * FROM b),
         |s1 AS (SELECT 1 AS version, 3 AS n_cols, count(*) AS n,
         |              count(value) AS n_value,
         |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |                AS sum_value,
         |              0 AS n_src, 0 AS sum_src FROM v1),
         |s2 AS (SELECT 2 AS version, 4 AS n_cols, count(*) AS n,
         |              count(value) AS n_value,
         |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |                AS sum_value,
         |              count(src) AS n_src,
         |              CAST(coalesce(sum(src), 0) AS BIGINT) AS sum_src FROM v2)
         |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY version""".stripMargin,
    // RESTORE: the base slice derived once, emitted under versions 1 and
    // 3 — the restored snapshot must be value-identical to the original.
    "table_restore" ->
      s"""WITH e AS ($EvCte),
         |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
         |s AS (SELECT count(*) AS n, count(value) AS n_value,
         |             round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |               AS sum_value,
         |             min(event_id) AS min_id, max(event_id) AS max_id FROM v1)
         |SELECT 1 AS version, n, n_value, sum_value, min_id, max_id FROM s
         |UNION ALL
         |SELECT 3 AS version, n, n_value, sum_value, min_id, max_id FROM s
         |ORDER BY version""".stripMargin,
    // VACUUM: v3 = the merged final state (disjoint v2 keys + every v1
    // key rewritten); the reclaimed count is the fixture's four init
    // files (all rewritten at v3 so no kept manifest references them),
    // and both dropped versions must fail loud on read.
    "table_vacuum" ->
      s"""WITH e AS ($EvCte),
         |v3 AS (SELECT event_id, value + 2000.0 AS value FROM e WHERE event_id % 3 = 0
         |       UNION ALL
         |       SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 3 = 1)
         |SELECT 3 AS version, count(*) AS n, count(value) AS n_value,
         |       round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |         AS sum_value,
         |       min(event_id) AS min_id, max(event_id) AS max_id,
         |       CAST(4 AS BIGINT) AS n_removed,
         |       CAST(2 AS BIGINT) AS n_dropped_reads
         |FROM v3""".stripMargin,
    // The streamed CDC's kept endpoints after the composed vacuum
    // (keepLast=2): v3 = base with the first batch's %12=0 keys boosted
    // plus the inserted %12=4 slice, v4 = the MERGE of the full boosted
    // %4 slice (disjoint per-batch key sets commute, so the final state
    // is batch-order-free and batch-derivable). The four reclaimed files
    // are the init files (all rewritten by batch 1); v1/v2 reads must
    // fail loud.
    "stream_table_versions" ->
      s"""WITH e AS ($EvCte),
         |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
         |b  AS (SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 4 = 0),
         |v3 AS (SELECT * FROM v1 WHERE event_id % 12 <> 0
         |       UNION ALL SELECT * FROM b WHERE event_id % 12 IN (0, 4)),
         |v4 AS (SELECT * FROM v1 WHERE event_id NOT IN (SELECT event_id FROM b)
         |       UNION ALL SELECT * FROM b),
         |s3 AS (SELECT 3 AS version, count(*) AS n, count(value) AS n_value,
         |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |                AS sum_value,
         |              min(event_id) AS min_id, max(event_id) AS max_id FROM v3),
         |s4 AS (SELECT 4 AS version, count(*) AS n, count(value) AS n_value,
         |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
         |                AS sum_value,
         |              min(event_id) AS min_id, max(event_id) AS max_id FROM v4)
         |SELECT s.*, CAST(4 AS BIGINT) AS n_removed,
         |       CAST(2 AS BIGINT) AS n_dropped_reads
         |FROM (SELECT * FROM s3 UNION ALL SELECT * FROM s4) s
         |ORDER BY version""".stripMargin,
    // Both snapshots derived relationally, the diff replayed with the
    // null-safe value compare; removed is impossible here (MERGE never
    // deletes), so only added/changed rows can appear.
    "table_version_diff" ->
      s"""WITH e AS ($EvCte),
         |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
         |b  AS (SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 4 = 0),
         |d AS (SELECT b.event_id,
         |             CASE WHEN v1.event_id IS NULL THEN 'added'
         |                  WHEN b.value IS DISTINCT FROM v1.value THEN 'changed'
         |                  ELSE 'unchanged' END AS change
         |      FROM b LEFT JOIN v1 USING (event_id))
         |SELECT change, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
         |FROM d WHERE change <> 'unchanged'
         |GROUP BY change ORDER BY change""".stripMargin,
    // The FULL JOIN with per-column IS NOT DISTINCT FROM — the value-compare
    // semantics Diff.snapshots implements with one null-safe struct equality.
    "table_diff_snapshots" ->
      """WITH newt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |            WHEN n.o_orderkey IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change
        |FROM orders o FULL JOIN newt n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |       AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |       AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        |       AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
        |       AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,
    // Every Gopher rule re-derived in list arithmetic; the keep-conjunction
    // uses the RAW metrics (the rounded columns are display-only, exactly
    // like the Spark side).
    "gopher_quality_rules" ->
      """WITH toks AS (SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |       FROM documents),
        |m AS (SELECT doc_id, len(ts) AS n,
        |        coalesce(list_sum(list_transform(ts, t -> len(t))), 0)::DOUBLE
        |          / greatest(len(ts), 1) AS mwl,
        |        len(list_intersect(list_distinct(ts),
        |            ['the','of','and','to','in','is','that','it','a','for'])) AS nstop,
        |        CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
        |             ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
        |        END AS grams
        |      FROM toks),
        |r AS (SELECT doc_id, n, mwl, nstop,
        |        coalesce(list_max(list_transform(list_distinct(grams),
        |            g -> len(list_filter(grams, x -> x = g)))), 0)::DOUBLE
        |          / greatest(len(grams), 1) AS tbf
        |      FROM m)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words, round(mwl, 4) AS mean_word_len,
        |       CAST(nstop AS BIGINT) AS n_stop_distinct,
        |       round(tbf, 4) AS top_bigram_frac,
        |       (n BETWEEN 50 AND 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |        AND nstop >= 2 AND tbf <= 0.08) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "join_bloom_pruned" ->
      """SELECT l_returnflag, count(*) AS n,
        |       round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 450000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "join_skew_salted" ->
      """SELECT s_nationkey, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // The grid decomposition must be row-identical to the plain theta join
    // it replaces — the oracle IS that theta join.
    "range_join_events" ->
      s"""WITH e AS ($EvCte),
         |w AS (SELECT user_id, min(time) AS lo, min(time) + ${3 * Day} AS hi
         |      FROM e GROUP BY user_id)
         |SELECT e.event_id, e.user_id, e.time
         |FROM e JOIN w ON e.user_id = w.user_id
         |               AND e.time >= w.lo AND e.time <= w.hi
         |ORDER BY e.event_id""".stripMargin,
    "funnel_steps" -> FunnelStepsSql,
    // One-scan state-machine formulation, same first-touch function — the
    // join-chain oracle gates it verbatim.
    "funnel_steps_onescan" -> FunnelStepsSql,
    // Streaming reorder-buffer replay of the same funnel over deliberately
    // out-of-order micro-batches — disorder is bounded by the watermark
    // delay, so the join-chain oracle gates it verbatim too.
    "stream_funnel_ordered" -> FunnelStepsSql,
    // Ordered-streaming derivative over the same out-of-order harness: the
    // uts_derivative_by_user grid re-derivation on non-NULL values, MINUS
    // each key's final bucket (a stream has no last point — the trailing
    // partial bucket stays in state, the documented deviation).
    "stream_derivative_ordered" ->
      s"""WITH p AS (SELECT user_id, epoch_ms(ts) AS t, event_id, value FROM events
         |           WHERE value IS NOT NULL),
         |d AS (SELECT user_id, t,
         |             coalesce(value - lag(value) OVER (PARTITION BY user_id ORDER BY t, event_id), 0) AS delta
         |      FROM p),
         |m AS (SELECT user_id, min(t) AS t0, max(t) AS tmax FROM p GROUP BY user_id),
         |a AS (SELECT d.user_id, greatest(CAST(ceil((d.t - m.t0)/21600000.0) AS BIGINT), 1) AS k,
         |             sum(d.delta) AS dv
         |      FROM d JOIN m ON d.user_id = m.user_id GROUP BY 1, 2),
         |km AS (SELECT user_id, greatest(CAST(ceil((tmax - t0)/21600000.0) AS BIGINT), 1) AS kmax,
         |              t0 FROM m),
         |s AS (SELECT user_id, unnest(range(1, kmax + 1)) AS k, t0, kmax FROM km)
         |SELECT s.user_id, s.t0 + s.k*21600000 AS der_time,
         |       round(coalesce(a.dv, 0), 4) AS der_value
         |FROM s LEFT JOIN a ON s.user_id = a.user_id AND s.k = a.k
         |WHERE s.k < s.kmax
         |ORDER BY s.user_id, der_time""".stripMargin,
    // Final keyed state after the full in-order replay = the plain batch
    // aggregate (count + last value by (time, event_id)).
    "stream_running_last" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS t, event_id, value FROM events
        |           WHERE value IS NOT NULL)
        |SELECT user_id, count(*) AS n,
        |       round(first(value ORDER BY t DESC, event_id DESC), 4) AS last_value
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "funnel_conversion" ->
      s"""WITH e AS ($EvCte),
         |f AS (SELECT user_id, min(time) AS t0 FROM e
         |      WHERE event_type = 'signup' GROUP BY 1),
         |c AS (SELECT f.user_id,
         |             max(CASE WHEN p.time > f.t0 AND p.time <= f.t0 + 259200000
         |                      THEN 1 ELSE 0 END) AS conv
         |      FROM f LEFT JOIN e p
         |        ON p.user_id = f.user_id AND p.event_type = 'purchase'
         |      GROUP BY 1)
         |SELECT count(*) AS n_start, CAST(sum(conv) AS BIGINT) AS n_converted,
         |       round(sum(conv)*1.0/count(*), 4) AS conv_rate
         |FROM c""".stripMargin,
    "retention_cohorts" ->
      s"""WITH e AS ($EvCte),
         |f AS (SELECT user_id, min(time) // 604800000 AS cohort_week FROM e GROUP BY 1),
         |w AS (SELECT DISTINCT user_id, time // 604800000 AS week FROM e)
         |SELECT cohort_week, week - cohort_week AS week_offset,
         |       count(DISTINCT user_id) AS n_users
         |FROM f JOIN w USING (user_id)
         |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "pivot_event_daily" ->
      s"""WITH e AS ($EvCte)
         |SELECT time // 86400000 AS day,
         |       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         |       count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
         |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
         |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
         |       count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         |FROM e GROUP BY 1 ORDER BY day""".stripMargin,
    "anti_join_customers" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "setop_active_users" ->
      s"""WITH e AS ($EvCte),
         |v AS (SELECT DISTINCT user_id FROM e
         |      WHERE event_type = 'view' AND value > 250),
         |p AS (SELECT DISTINCT user_id FROM e
         |      WHERE event_type = 'purchase' AND value > 250)
         |SELECT 'view_only' AS set_op, user_id FROM (SELECT * FROM v EXCEPT SELECT * FROM p)
         |UNION ALL
         |SELECT 'both', user_id FROM (SELECT * FROM v INTERSECT SELECT * FROM p)
         |ORDER BY set_op, user_id""".stripMargin,
    "stats_moments_by_type" ->
      """SELECT event_type,
        |       round(stddev_samp(value), 4) AS sd_value,
        |       round(var_samp(value), 4) AS var_value,
        |       round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu,
        |       round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_vu
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Robust outlier twin: both medians are rank statistics (k-th smallest,
    // k = ceil(n/2)) — selecting existing values, never interpolating — and
    // abs/subtract/multiply are exact IEEE with fixed parenthesization, so
    // every derived double is bit-identical before the round.
    "robust_outliers_value" ->
      s"""WITH e AS ($EvCte),
         |v AS (SELECT event_type, value AS v FROM e WHERE value IS NOT NULL),
         |r AS (SELECT event_type, v,
         |             row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
         |             count(*) OVER (PARTITION BY event_type) AS n FROM v),
         |m AS (SELECT event_type, max(n) AS n,
         |             min(CASE WHEN r = ceil(n * 0.5) THEN v END) AS med
         |      FROM r GROUP BY event_type),
         |d AS (SELECT v.event_type, v.v, abs(v.v - m.med) AS dev, m.n, m.med
         |      FROM v JOIN m USING (event_type)),
         |rd AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rd
         |       FROM d),
         |md AS (SELECT event_type,
         |              min(CASE WHEN rd = ceil(n * 0.5) THEN dev END) AS mad
         |       FROM rd GROUP BY event_type)
         |SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
         |       max(d.med) AS med, max(md.mad) AS mad,
         |       CAST(count(CASE WHEN d.dev > (3.5 * 1.4826) * md.mad THEN 1 END) AS BIGINT)
         |         AS n_out,
         |       max(CASE WHEN d.dev > (3.5 * 1.4826) * md.mad THEN d.dev END)
         |         AS max_dev
         |FROM d JOIN md USING (event_type)
         |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // Winsorization twin: same ceil-rank bounds, same least/greatest clip,
    // clipped mean on the round-10 decimal lattice.
    "winsorized_stats" ->
      s"""WITH e AS ($EvCte),
         |v AS (SELECT event_type, value AS v FROM e WHERE value IS NOT NULL),
         |r AS (SELECT event_type, v,
         |             row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
         |             count(*) OVER (PARTITION BY event_type) AS n FROM v),
         |b AS (SELECT event_type,
         |             min(CASE WHEN r = ceil(n * 0.05) THEN v END) AS lo,
         |             min(CASE WHEN r = ceil(n * 0.95) THEN v END) AS hi
         |      FROM r GROUP BY 1),
         |c AS (SELECT v.event_type, v.v,
         |             least(greatest(v.v, b.lo), b.hi) AS vw, b.lo, b.hi
         |      FROM v JOIN b USING (event_type))
         |SELECT event_type, count(*) AS n,
         |       max(lo) AS lo_bound, max(hi) AS hi_bound,
         |       CAST(count(CASE WHEN v < lo THEN 1 END) AS BIGINT) AS n_clip_lo,
         |       CAST(count(CASE WHEN v > hi THEN 1 END) AS BIGINT) AS n_clip_hi,
         |       round(CAST(sum(CAST(round(vw, 10) AS DECIMAL(30,10))) AS DOUBLE)
         |             / count(*), 4) AS mean_w
         |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Sweep-line re-derivation: same 30-min session rule as
    // session_ids_by_user, intervals [min, max+gap), boundary deltas netted
    // per timestamp, running sum = concurrency — all exact Long arithmetic.
    "concurrency_sweep" ->
      s"""WITH e AS ($EvCte),
         |o AS (SELECT event_type, user_id, time,
         |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type, user_id
         |                                              ORDER BY time) >= 1800000
         |                  THEN 1 ELSE 0 END AS brk
         |      FROM e),
         |sid AS (SELECT event_type, user_id, time,
         |               sum(brk) OVER (PARTITION BY event_type, user_id ORDER BY time
         |                              ROWS UNBOUNDED PRECEDING) AS seq
         |        FROM o),
         |sess AS (SELECT event_type, user_id, seq,
         |                min(time) AS s_start, max(time) + 1800000 AS s_end
         |         FROM sid GROUP BY 1, 2, 3),
         |bounds AS (SELECT event_type, s_start AS t, 1 AS d FROM sess
         |           UNION ALL SELECT event_type, s_end, -1 FROM sess),
         |net AS (SELECT event_type, t, CAST(sum(d) AS BIGINT) AS net
         |        FROM bounds GROUP BY 1, 2 HAVING sum(d) <> 0),
         |run AS (SELECT event_type, t, net,
         |               CAST(sum(net) OVER (PARTITION BY event_type ORDER BY t
         |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
         |               lead(t) OVER (PARTITION BY event_type ORDER BY t) AS nt
         |        FROM net),
         |agg AS (SELECT event_type, max(run) AS peak_concurrency,
         |               CAST(coalesce(sum(CASE WHEN run > 0 THEN nt - t END), 0) AS BIGINT)
         |                 AS busy_ms
         |        FROM run GROUP BY 1),
         |cnt AS (SELECT event_type, count(*) AS n_intervals FROM sess GROUP BY 1)
         |SELECT c.event_type, c.n_intervals,
         |       coalesce(a.peak_concurrency, 0) AS peak_concurrency,
         |       coalesce(a.busy_ms, 0) AS busy_ms
         |FROM cnt c LEFT JOIN agg a USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // Global twin: same sessions, one service-wide timeline (busy written
    // lag-wise: a segment (prev_t, t] is busy when run - net > 0 — the
    // identical half-open union).
    "concurrency_global" ->
      s"""WITH e AS ($EvCte),
         |o AS (SELECT event_type, user_id, time,
         |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type, user_id
         |                                              ORDER BY time) >= 1800000
         |                  THEN 1 ELSE 0 END AS brk
         |      FROM e),
         |sid AS (SELECT event_type, user_id, time,
         |               sum(brk) OVER (PARTITION BY event_type, user_id ORDER BY time
         |                              ROWS UNBOUNDED PRECEDING) AS seq
         |        FROM o),
         |sess AS (SELECT event_type, user_id, seq,
         |                min(time) AS s_start, max(time) + 1800000 AS s_end
         |         FROM sid GROUP BY 1, 2, 3),
         |bounds AS (SELECT s_start AS t, 1 AS d FROM sess
         |           UNION ALL SELECT s_end, -1 FROM sess),
         |net AS (SELECT t, CAST(sum(d) AS BIGINT) AS net
         |        FROM bounds GROUP BY 1 HAVING sum(d) <> 0),
         |run AS (SELECT t, net,
         |               CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
         |                    AS BIGINT) AS run,
         |               lag(t) OVER (ORDER BY t) AS pt
         |        FROM net)
         |SELECT (SELECT count(*) FROM sess) AS n_intervals,
         |       CAST(max(run) AS BIGINT) AS peak_concurrency,
         |       CAST(coalesce(sum(CASE WHEN run - net > 0 THEN t - pt END), 0)
         |            AS BIGINT) AS busy_ms
         |FROM run""".stripMargin,
    // Temperature plan: sqrt is IEEE-correctly-rounded (identical in every
    // engine), the weight sum rides the round-10 → DECIMAL(30,10) exact
    // lattice, and everything after is scalar IEEE with one parenthesization.
    "mixture_temperature" ->
      """WITH a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, available,
        |             round(sqrt(CAST(available AS DOUBLE)), 10) AS wt FROM a),
        |t AS (SELECT CAST(sum(CAST(wt AS DECIMAL(30,10))) AS DOUBLE) AS tot FROM w),
        |p AS (SELECT source, available, wt / tot AS share FROM w, t)
        |SELECT source, available, round(share, 6) AS share,
        |       CAST(floor(share * 100000.0) AS BIGINT) AS desired,
        |       least(1.0, CAST(CAST(floor(share * 100000.0) AS BIGINT) AS DOUBLE) /
        |                  CAST(greatest(available, 1) AS DOUBLE)) AS fraction,
        |       least(CAST(floor(share * 100000.0) AS BIGINT), available) AS expected
        |FROM p ORDER BY source""".stripMargin,
    // The applied temperature plan: fractions re-derived as in
    // mixture_temperature, then the same Knuth hash band as mixture_apply.
    "mixture_temperature_apply" ->
      """WITH a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, available,
        |             round(sqrt(CAST(available AS DOUBLE)), 10) AS wt FROM a),
        |t AS (SELECT CAST(sum(CAST(wt AS DECIMAL(30,10))) AS DOUBLE) AS tot FROM w),
        |p AS (SELECT source,
        |  least(1.0, CAST(CAST(floor((wt / tot) * 100000.0) AS BIGINT) AS DOUBLE) /
        |             CAST(greatest(available, 1) AS DOUBLE)) AS fraction
        |  FROM w, t)
        |SELECT d.doc_id, d.source FROM documents d JOIN p USING (source)
        |WHERE (d.doc_id * 2654435761) % 4294967296 < floor(p.fraction * 4294967296.0)
        |ORDER BY d.doc_id""".stripMargin,
    // Containment over the corpus + planted anthologies (doc i<15 ++ doc
    // i+100): the anthology CONTAINS each part (cont ≈ 1) at Jaccard ≈ ½ —
    // the quotation case the jaccard gates cannot catch.
    "dedup_containment" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT a.doc_id + 9100, a.text || ' ' || b.text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 100
        |  WHERE a.doc_id < 15),
        |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |         FROM docs),
        |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |inter AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
        |SELECT d1, d2, s1.n_sh AS n1, s2.n_sh AS n2,
        |       round(i*1.0/s1.n_sh, 4) AS cont1,
        |       round(i*1.0/s2.n_sh, 4) AS cont2
        |FROM inter JOIN sizes s1 ON s1.id = d1 JOIN sizes s2 ON s2.id = d2
        |WHERE greatest(round(i*1.0/s1.n_sh, 4), round(i*1.0/s2.n_sh, 4)) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    // OLS trend from the same exact sufficient statistics, same final
    // parenthesization — bitwise-identical doubles before the round.
    "uts_trend_by_type" ->
      """WITH p AS (SELECT event_type,
        |                  CAST(epoch_ms(ts) - 1704067200000 AS DECIMAL(19,0)) AS x,
        |                  CAST(round(value, 6) AS DECIMAL(16,6)) AS y
        |           FROM events WHERE value IS NOT NULL),
        |a AS (SELECT event_type, count(*) AS n,
        |             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |             CAST(sum(x * y) AS DOUBLE) AS sxy,
        |             CAST(sum(x * x) AS DOUBLE) AS sxx
        |      FROM p GROUP BY event_type),
        |s AS (SELECT *,
        |        (sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n))
        |          AS slope
        |      FROM a)
        |SELECT event_type, n,
        |       round(slope * 86400000.0, 6) AS slope_per_day,
        |       round(sy / n - slope * (sx / n), 4) AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
    "value_quantiles_by_type" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 4) AS p25,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.75), 4) AS p75,
        |       round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Zone-map pruning must not change the answer — the oracle filters the
    // full events table over the same derived band.
    // IVM gate: the oracle aggregates the FULL events table directly —
    // base ∪ batch1 ∪ batch2 is exactly the corpus, so the delta-maintained
    // rollup must reproduce the one-shot aggregate bit-for-bit (same
    // round-then-decimal sum lattice as the Spark partials).
    "ivm_rollup_agg" -> IvmRollupOracle,
    // Streaming twin: the micro-batched trickle must land on the identical
    // one-shot aggregate — batch boundaries are an execution detail.
    "stream_ivm_rollup" -> IvmRollupOracle,
    "pruned_time_scan" ->
      s"""WITH e AS ($EvCte), b AS (SELECT min(time) AS t0 FROM e)
         |SELECT event_type, count(*) AS n,
         |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
         |         AS sum_value
         |FROM e, b WHERE e.time >= b.t0 + ${5 * Day} AND e.time <= b.t0 + ${7 * Day}
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Bloom point lookups: the bitmap-pruned reads must return exactly the
    // full-scan rows for each probed id (a false positive costs a file
    // read, never a row; a false negative would drop a row and diverge).
    "bloom_point_scan" ->
      s"""WITH e AS ($EvCte)
         |SELECT event_id, time, user_id, event_type, value
         |FROM e WHERE event_id IN (123, 456, 789) ORDER BY event_id""".stripMargin,
    // 2-D band over the full table: the z-layout + conjunctive zone filter
    // must land on exactly these rows.
    "zorder_pruned_scan" ->
      s"""WITH e AS ($EvCte), b AS (SELECT min(time) AS t0 FROM e)
         |SELECT event_type, count(*) AS n,
         |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
         |         AS sum_value
         |FROM e, b
         |WHERE e.time >= b.t0 + ${5 * Day} AND e.time <= b.t0 + ${7 * Day}
         |  AND e.user_id BETWEEN 100 AND 300
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The manifest lifecycle's answer: post-upsert state re-derived
    // relationally (NOT EXISTS batch keys + union batch), then the same
    // 2-day band over the FULL table — the engine's zone-map-pruned read of
    // the patched manifest must land on exactly these rows.
    "table_upsert_pruned" ->
      s"""WITH e AS ($EvCte),
         |edits AS (SELECT event_id, time, event_type, value + 1000 AS value
         |          FROM e WHERE event_id % 11 = 5),
         |news AS (SELECT event_id + 10000000 AS event_id, time,
         |                'synthetic' AS event_type, value
         |         FROM e WHERE event_id % 11 = 7),
         |batch AS (SELECT * FROM edits UNION ALL SELECT * FROM news),
         |final AS (
         |  SELECT p.event_id, p.time, p.event_type, p.value FROM e p
         |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.event_id = p.event_id)
         |  UNION ALL SELECT * FROM batch),
         |mn AS (SELECT min(time) AS t0 FROM e)
         |SELECT event_type, count(*) AS n,
         |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
         |         AS sum_value
         |FROM final, mn
         |WHERE final.time >= mn.t0 + ${5 * Day} AND final.time <= mn.t0 + ${7 * Day}
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The upsert's final state re-derived relationally: NOT EXISTS over the
    // batch's keys removes the replaced rows, union appends the batch; the
    // partition-scoped COW plumbing must land at exactly this table.
    "table_upsert" ->
      """WITH edits AS (
        |  SELECT doc_id, 'UPDATED: ' || text AS text, lang, source,
        |         length('UPDATED: ' || text) AS n_chars
        |  FROM documents WHERE source IN ('src0', 'src1') AND doc_id % 7 = 3),
        |news AS (
        |  -- d.-qualified on purpose: DuckDB lateral alias resolution would
        |  -- otherwise bind the bare doc_id in `text` to the +100000 alias.
        |  SELECT d.doc_id + 100000 AS doc_id, 'new doc ' || d.doc_id AS text,
        |         'en' AS lang, 'srcnew' AS source,
        |         length('new doc ' || d.doc_id) AS n_chars
        |  FROM documents d WHERE d.source = 'src2' AND d.doc_id % 7 = 3),
        |batch AS (SELECT * FROM edits UNION ALL SELECT * FROM news),
        |final AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.doc_id = d.doc_id)
        |  UNION ALL SELECT * FROM batch)
        |SELECT source, count(*) AS n_docs,
        |       count(*) FILTER (text LIKE 'UPDATED:%') AS n_updated,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM final GROUP BY source ORDER BY source""".stripMargin,
    // The bucketed layout must not CHANGE the join's answer — the oracle is
    // the plain join; the layout claim (no join-time exchange) is pinned by
    // PlanSpec, not SQL-expressible.
    "join_bucketed_colocated" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
        |                          AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Morton code re-derived arithmetically: bit i of x lands at 4^i, bit i
    // of y at 2·4^i — integer div/mod only, no bit ops needed.
    "zorder_bucket_stats" -> {
      val zTerms = (0 until 10).flatMap { i =>
        Seq(s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}",
          s"((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
      }.mkString(" + ")
      s"""WITH c AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
         |z AS (SELECT x, y, $zTerms AS zv FROM c)
         |SELECT zv // 4096 AS z_bucket, count(*) AS n,
         |       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },
    "window_top_orders" ->
      """SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS total
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "rollup_lineitem" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "cube_lineitem" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "moving_avg_daily" ->
      s"""WITH e AS ($EvCte),
         |d AS (SELECT time // 86400000 AS day, count(*) AS n,
         |             round(avg(value), 4) AS mean_value
         |      FROM e GROUP BY 1)
         |SELECT day, n, mean_value,
         |       round(avg(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         |         AS ma7_n
         |FROM d ORDER BY day""".stripMargin,
    "distinct_users_by_type" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "salted_agg_by_type" ->
      """SELECT event_type, count(*) AS n,
        |       round(coalesce(sum(value), 0), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The oracle pins the exact count and asserts the sketch's error
    // contract held (Spark emits within_bound = 1 only while
    // |approx − exact| ≤ 3·rsd·exact).
    "approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       CAST(1 AS BIGINT) AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Latest-at-or-before via ORDER BY ... LIMIT 1 — same composite-key
    // rationale as uts_last_interval's window.
    "asof_join_orders" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS t FROM events),
        |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS ot, o_orderkey FROM orders)
        |SELECT e.event_id, e.user_id,
        |       (SELECT o_orderkey FROM o
        |        WHERE o.o_custkey = e.user_id AND o.ot <= e.t
        |        ORDER BY ot DESC, o_orderkey DESC LIMIT 1) AS o_orderkey
        |FROM e ORDER BY event_id""".stripMargin,
    // Forward direction + 7-day bound: earliest following order, greatest
    // orderkey on time ties — NULL when the nearest is out of tolerance
    // (any other candidate is farther still).
    "asof_join_orders_fwd" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS t FROM events),
        |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS ot, o_orderkey FROM orders)
        |SELECT e.event_id, e.user_id,
        |       (SELECT o_orderkey FROM o
        |        WHERE o.o_custkey = e.user_id AND o.ot >= e.t
        |          AND o.ot - e.t <= 604800000
        |        ORDER BY ot ASC, o_orderkey DESC LIMIT 1) AS o_orderkey
        |FROM e ORDER BY event_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_jaccard_pairs" -> JaccardPairsSql,
    "dedup_jaccard_prefix" -> JaccardPairsSql,
    "dedup_jaccard_capped" -> JaccardPairsSql,
    "dedup_minhash_lsh" -> JaccardPairsSql,
    // Transitive closure over the same pair edges via WITH RECURSIVE —
    // min reachable id per doc, the independent check of the distributed
    // min-label propagation.
    "dedup_cluster_rep" -> ClusterRepSql,
    // The O(log n)-round large-star/small-star contraction computes the
    // same component minima — shared closure oracle gates both algorithms.
    "dedup_cluster_rep_logstar" -> ClusterRepSql,
    // Planted messy copies, normalized-key groups, survivor by
    // (raw length desc, id asc) per group — the fullest-copy rule.
    "dedup_keep_best" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 9000, '  ' || upper(text)
         |           FROM documents WHERE doc_id < 20),
         |n AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len,
         |        trim(lower(regexp_replace(text, '${Text.WhitespaceRun}', ' ', 'g'))) AS lt
         |      FROM c)
         |SELECT doc_id, n_copies, best_score FROM (
         |  SELECT doc_id, raw_len AS best_score,
         |         count(*) OVER (PARTITION BY lt) AS n_copies,
         |         row_number() OVER (PARTITION BY lt ORDER BY raw_len DESC, doc_id) AS rn
         |  FROM n) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    // Naive distinct self-join with the identical unit-cost levenshtein —
    // the prefix-filtered candidate path must lose no true pair.
    "fuzzy_pairs_partnames" ->
      """WITH p AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
        |SELECT a.s AS s1, b.s AS s2, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY s1, s2""".stripMargin,
    // FNV-1a-64 per token (HUGEINT arithmetic mod 2⁶⁴, matching the
    // SimHash64 kernel's byte loop exactly), per-bit ±1 votes, two's-
    // complement reassembly, then the same pigeonhole chunk join — an
    // independent DuckDB re-derivation of the whole simhash pipeline.
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |             list_transform(string_split(t, ''), c -> ord(c)::HUGEINT)),
        |           (a, b) -> (xor(a, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hv
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, r.i,
        |         CASE WHEN (hv // (2::HUGEINT ^ r.i)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM h, unnest(range(0, 64)) AS r(i)),
        |votes AS (SELECT doc_id, i, sum(vote) AS s FROM bits GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN
        |                CASE WHEN i = 63 THEN -9223372036854775808::HUGEINT
        |                     ELSE (2::HUGEINT ^ i)::HUGEINT END
        |              ELSE 0::HUGEINT END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |ch AS (
        |  SELECT doc_id, simhash, r.c, (simhash >> (r.c * 16)) & 65535 AS cv
        |  FROM sh, unnest(range(0, 4)) AS r(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
        |  FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
        |SELECT d1, d2, dist FROM cand WHERE dist <= 3 ORDER BY d1, d2""".stripMargin,
    // Exact all-pairs over the planted-duplicate corpus — the SRP query's
    // recall is certain for scaled duplicates (identical signatures), so
    // LSH output ≡ exact output, like dedup_minhash_lsh.
    "dedup_srp_pairs" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |planted AS (SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 2) AS v
        |            FROM base WHERE vec_id < 50),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.9
        |ORDER BY v1, v2""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (SELECT a.vec_id AS v1, b.vec_id AS v2
        |          FROM e a JOIN e b ON a.vec_id < b.vec_id
        |          WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.8),
        |low AS (SELECT v2 AS id, min(v1) AS low FROM pairs GROUP BY v2)
        |SELECT e.vec_id, least(e.vec_id, coalesce(low.low, e.vec_id)) AS rep_id,
        |       CAST(least(e.vec_id, coalesce(low.low, e.vec_id)) <> e.vec_id AS INT) AS is_dup
        |FROM e LEFT JOIN low ON low.id = e.vec_id
        |ORDER BY vec_id""".stripMargin,
    // SemDeDup: the ann_ivf_topk_nolabel k-means re-derivation (hash seeds,
    // two Lloyd rounds, argmax assignment) feeding a WITHIN-cluster pair
    // join under the dedup_embedding keep rule — near-dup verdicts scoped by
    // cluster, so a cross-cluster twin legitimately stays.
    "dedup_semantic" ->
      s"""WITH $KMeansAutoCtes,
        |pairs AS (SELECT ea.vec_id AS v1, eb.vec_id AS v2
        |          FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
        |               JOIN e eb ON ea.vec_id < eb.vec_id
        |               JOIN assign ab ON eb.vec_id = ab.vec_id
        |                            AND aa.cluster = ab.cluster
        |          WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.8),
        |low AS (SELECT v2 AS id, min(v1) AS low FROM pairs GROUP BY v2)
        |SELECT e.vec_id, a.cluster,
        |       least(e.vec_id, coalesce(low.low, e.vec_id)) AS rep_id,
        |       CAST(least(e.vec_id, coalesce(low.low, e.vec_id)) <> e.vec_id AS INT) AS is_dup
        |FROM e JOIN assign a USING (vec_id) LEFT JOIN low ON low.id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    // The same k-means pipeline feeding a per-source (cosine DESC, id)
    // rank over within-cluster candidate pairs — the kNN graph re-derived
    // whole.
    "knn_graph" ->
      s"""WITH $KMeansAutoCtes,
        |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
        |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
        |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
        |              JOIN e eb ON ea.vec_id <> eb.vec_id
        |              JOIN assign ab ON eb.vec_id = ab.vec_id
        |                           AND aa.cluster = ab.cluster),
        |r AS (SELECT src, dst, cs,
        |             row_number() OVER (PARTITION BY src
        |               ORDER BY cs DESC, dst) AS nbr_rank
        |      FROM nbrs)
        |SELECT src AS vec_id, nbr_rank, dst AS neighbor_id, cs AS cosine
        |FROM r WHERE nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin,
    // Post-append graph = the UNION corpus assigned under the BASE
    // corpus's frozen centroids (c2), pairs and boards re-derived whole —
    // the append contract as one relation. The SAME oracle gates the
    // streaming two-batch replay: append ≡ frozen-centroid union rebuild
    // makes the final state batch-split invariant by construction.
    "knn_graph_append" -> KnnAppendUnionSql,
    "stream_knn_ingest" -> KnnAppendUnionSql,
    // The nProbe=2 remedy re-measured: multi-assign = top-2 clusters per
    // vector by (cosine DESC, cluster); candidates = probe-set overlap,
    // deduped; the rest identical to the single-probe audit.
    "knn_graph_recall_mp" ->
      s"""WITH $KMeansAutoCtes,
         |multi AS (SELECT vec_id, cl AS cluster FROM (
         |            SELECT e.vec_id, c.cl,
         |                   row_number() OVER (PARTITION BY e.vec_id
         |                     ORDER BY (CASE WHEN isnan(list_cosine_similarity(e.v, c.cvec))
         |                                    THEN 0.0
         |                                    ELSE list_cosine_similarity(e.v, c.cvec) END) DESC,
         |                              c.cl) AS pr
         |            FROM e, c2 c) WHERE pr <= 2),
         |nbrs AS (SELECT DISTINCT ma.vec_id AS src, mb.vec_id AS dst
         |         FROM multi ma JOIN multi mb
         |              ON ma.cluster = mb.cluster AND ma.vec_id <> mb.vec_id),
         |scored AS (SELECT n.src, n.dst,
         |                  round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
         |           FROM nbrs n JOIN e ea ON ea.vec_id = n.src
         |                JOIN e eb ON eb.vec_id = n.dst),
         |knn AS (SELECT src, dst FROM (
         |          SELECT src, dst,
         |                 row_number() OVER (PARTITION BY src
         |                   ORDER BY cs DESC, dst) AS nbr_rank
         |          FROM scored) WHERE nbr_rank <= 3),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
         |gx AS (SELECT qid, vid FROM (
         |         SELECT q.qid, e.vec_id AS vid,
         |                row_number() OVER (PARTITION BY q.qid
         |                  ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
         |                           e.vec_id) AS rn
         |         FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 3)
         |SELECT gx.qid AS query_id, count(*) AS n_exact,
         |       CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
         |            AS BIGINT) AS n_hit,
         |       round(CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
         |                  AS BIGINT) / 3.0, 4) AS recall_at_k
         |FROM gx LEFT JOIN knn k ON k.src = gx.qid AND k.dst = gx.vid
         |GROUP BY gx.qid ORDER BY query_id""".stripMargin,
    // The scoped board vs the GLOBAL brute-force top-3 for a 3-query
    // sample — the cluster-boundary miss as a gated number. (gx = the
    // global exact side; `ex` is taken by the shared KMeans scan CTE.)
    "knn_graph_recall" ->
      s"""WITH $KMeansAutoCtes,
         |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
         |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
         |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
         |              JOIN e eb ON ea.vec_id <> eb.vec_id
         |              JOIN assign ab ON eb.vec_id = ab.vec_id
         |                           AND aa.cluster = ab.cluster),
         |knn AS (SELECT src, dst FROM (
         |          SELECT src, dst,
         |                 row_number() OVER (PARTITION BY src
         |                   ORDER BY cs DESC, dst) AS nbr_rank
         |          FROM nbrs) WHERE nbr_rank <= 3),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
         |gx AS (SELECT qid, vid FROM (
         |         SELECT q.qid, e.vec_id AS vid,
         |                row_number() OVER (PARTITION BY q.qid
         |                  ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
         |                           e.vec_id) AS rn
         |         FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 3)
         |SELECT gx.qid AS query_id, count(*) AS n_exact,
         |       CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
         |            AS BIGINT) AS n_hit,
         |       round(CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
         |                  AS BIGINT) / 3.0, 4) AS recall_at_k
         |FROM gx LEFT JOIN knn k ON k.src = gx.qid AND k.dst = gx.vid
         |GROUP BY gx.qid ORDER BY query_id""".stripMargin,
    // Pool negatives: the knn derivation's edge set excluded from a
    // hash-bottom-64 pool, ranked per anchor by the exact pair-mix hash.
    "contrastive_negatives" ->
      s"""WITH $KMeansAutoCtes,
         |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
         |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
         |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
         |              JOIN e eb ON ea.vec_id <> eb.vec_id
         |              JOIN assign ab ON eb.vec_id = ab.vec_id
         |                           AND aa.cluster = ab.cluster),
         |knn AS (SELECT src, dst FROM (
         |          SELECT src, dst,
         |                 row_number() OVER (PARTITION BY src
         |                   ORDER BY cs DESC, dst) AS nbr_rank
         |          FROM nbrs) WHERE nbr_rank <= 3),
         |ids AS (SELECT vec_id AS a FROM e),
         |pool AS (SELECT a AS c FROM ids
         |         ORDER BY (a * 2654435761) % 4294967296, a LIMIT 64),
         |cand AS (SELECT i.a, p.c FROM ids i, pool p
         |         WHERE i.a <> p.c
         |           AND NOT EXISTS (SELECT 1 FROM knn k
         |                           WHERE k.src = i.a AND k.dst = p.c)),
         |r AS (SELECT a, c, row_number() OVER (PARTITION BY a
         |        ORDER BY ((((a % 4294967296) * 100003 + c) % 4294967296)
         |                  * 2654435761) % 4294967296, c) AS neg_rank
         |      FROM cand)
         |SELECT a AS vec_id, neg_rank, c AS neg_id FROM r WHERE neg_rank <= 4
         |ORDER BY vec_id, neg_rank""".stripMargin,
    // Integer-exact PageRank: the knn derivation above feeding 5 UNROLLED
    // power-step CTEs — teleport (3S)//(20n), per-edge (r*17)//(20*deg),
    // all BIGINT floor arithmetic, so both engines derive identical ranks.
    "graph_pagerank" -> {
      val iters = (1 to 5).map { i =>
        s"""pr$i AS (
           |  SELECT nd.id, t.tele + coalesce(m.m, 0) AS r
           |  FROM nodes nd
           |  CROSS JOIN (SELECT 3000000000000 // (20 * n) AS tele FROM cnt) t
           |  LEFT JOIN (
           |    SELECT k.dst AS id,
           |           CAST(sum((p.r * 17) // (20 * d.deg)) AS BIGINT) AS m
           |    FROM knn k JOIN pr${i - 1} p ON p.id = k.src
           |         JOIN deg d ON d.src = k.src
           |    GROUP BY k.dst) m ON m.id = nd.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $KMeansAutoCtes,
         |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
         |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
         |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
         |              JOIN e eb ON ea.vec_id <> eb.vec_id
         |              JOIN assign ab ON eb.vec_id = ab.vec_id
         |                           AND aa.cluster = ab.cluster),
         |knn AS (SELECT src, dst FROM (
         |          SELECT src, dst,
         |                 row_number() OVER (PARTITION BY src
         |                   ORDER BY cs DESC, dst) AS nbr_rank
         |          FROM nbrs) WHERE nbr_rank <= 3),
         |nodes AS (SELECT vec_id AS id FROM e),
         |cnt AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS deg FROM knn GROUP BY src),
         |pr0 AS (SELECT id, (SELECT 1000000000000 // n FROM cnt) AS r FROM nodes),
         |$iters
         |SELECT id AS vec_id, r AS pr FROM pr5 ORDER BY vec_id""".stripMargin
    },
    // The same k-means pipeline feeding a per-cluster hash-rank window —
    // the sample_stratified shape with the CLUSTER as the stratum.
    "sample_diversity" ->
      s"""WITH $KMeansAutoCtes
        |SELECT cluster, vec_id, sample_rank FROM (
        |  SELECT a.cluster, a.vec_id,
        |         row_number() OVER (PARTITION BY a.cluster
        |           ORDER BY (a.vec_id * 2654435761) % 4294967296, a.vec_id) AS sample_rank
        |  FROM assign a)
        |WHERE sample_rank <= 5 ORDER BY cluster, vec_id""".stripMargin,
    "sim_topk_cosine" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, label, round(list_cosine_similarity(v, qv), 4) AS cosine
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_pairs_threshold" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
        |ORDER BY v1, v2""".stripMargin,
    // Brute-force all-pairs over the SAME augmented corpus the banded gate
    // builds (quarter-scaled dups + x+x²/128 near-dups on vec_id < 50): the
    // oracle is the exhaustive relation, so the LSH-candidate op must reach
    // recall 1 on it to hash-match.
    "sim_pairs_banded" -> BandedBruteSql,
    // The multiprobe plan answers the SAME exhaustive relation — a
    // Hamming-1 candidate bug (missed variant, double-join duplicate)
    // hash-fails against the identical brute-force oracle.
    "sim_pairs_banded_mp" -> BandedBruteSql,
    // Banded-pairs recall audit: planted-pair cosines are EXACT by
    // construction (cos(a, a⊙(c±s)) = c), so expected counts are pure
    // doc_id arithmetic — and the threshold-derived geometry must find
    // >= 95% of every family (per-pair candidate probability >= 0.99 at
    // the 0.90 boundary, higher above it).
    "sim_pairs_banded_recall" ->
      """WITH pairs AS (SELECT doc_id // 2 AS p FROM documents
        |               GROUP BY 1 HAVING count(*) = 2)
        |SELECT CASE p % 4 WHEN 0 THEN '0.90' WHEN 1 THEN '0.95'
        |            WHEN 2 THEN '0.99' ELSE '0.999' END AS family,
        |       count(*) AS n_expected, CAST(1 AS BIGINT) AS recall_ok
        |FROM pairs GROUP BY 1 ORDER BY family""".stripMargin,
    // Full IVF re-derivation: per-label mean centroids, argmax-cosine
    // assignment, nprobe=3 probe list, exact re-scoring within probed
    // clusters — same approximation, independently computed.
    "ann_ivf_topk" -> IvfTopkSql,
    "ann_ivf_kmeanspar" -> KMeansParTopkSql,
    // Recall@10 vs brute force, both rankings re-derived over one scored
    // frame — rounded cosine, id tie-break, exactly the Spark rule.
    "ann_ivf_recall" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |cent AS (
        |  SELECT label AS cl, list(m ORDER BY pos) AS cvec
        |  FROM (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos)
        |  GROUP BY label),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        |assign AS (
        |  SELECT vec_id, arg_max(cl, cs) AS cluster
        |  FROM (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs FROM e, cent c)
        |  GROUP BY vec_id),
        |probes AS (
        |  SELECT qid, cl AS cluster FROM (
        |    SELECT q.qid, c.cl,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.cl) AS pr
        |    FROM cent c, q)
        |  WHERE pr <= 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id, a.cluster,
        |         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
        |  FROM e JOIN assign a USING (vec_id), q WHERE e.vec_id <> q.qid),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
        |    FROM scored)
        |  WHERE rn <= 10),
        |ivf AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT s.qid, s.vec_id,
        |           row_number() OVER (PARTITION BY s.qid ORDER BY s.cosine DESC, s.vec_id) AS rn
        |    FROM scored s JOIN probes p ON s.qid = p.qid AND s.cluster = p.cluster)
        |  WHERE rn <= 10)
        |SELECT exact.qid AS query_id, count(*) AS n_exact, count(ivf.vec_id) AS n_hit,
        |       round(count(ivf.vec_id) / 10.0, 4) AS recall_at_k
        |FROM exact LEFT JOIN ivf ON exact.qid = ivf.qid AND exact.vec_id = ivf.vec_id
        |GROUP BY exact.qid ORDER BY query_id""".stripMargin,
    // The persisted index is the SAME approximation (same centroids, same
    // assignment, same probe list, same scoring) answered from the
    // cluster-partitioned files instead of an in-plan assignment pass — the
    // oracle is shared verbatim.
    // Drift audit: the full fresh-vs-stale re-derivation — planted drift
    // region, exact top-10 (centroid-independent, computed once), per-
    // centroid-set assignment/probe/rank, both recalls joined per query.
    "ann_ivf_recall_stale" ->
      """WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q0 AS (SELECT v AS v0 FROM e0 WHERE vec_id = 0),
        |drift AS (SELECT vec_id + 100000 AS vec_id, 99 AS label,
        |                 list_transform(list_zip(q0.v0, e0.v), t -> t[1] + 0.9 * t[2]) AS v
        |          FROM e0, q0 WHERE vec_id BETWEEN 1 AND 40),
        |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM drift),
        |exs AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e0),
        |cstale AS (SELECT label AS cl, list(m ORDER BY pos) AS cvec
        |           FROM (SELECT label, pos, avg(x) AS m FROM exs GROUP BY label, pos)
        |           GROUP BY label),
        |exf AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |cfresh AS (SELECT label AS cl, list(m ORDER BY pos) AS cvec
        |           FROM (SELECT label, pos, avg(x) AS m FROM exf GROUP BY label, pos)
        |           GROUP BY label),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (100001, 100002, 100003)),
        |scored AS (SELECT q.qid, e.vec_id, e.v,
        |                  round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
        |           FROM e, q WHERE e.vec_id <> q.qid),
        |exact AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 10),
        |asf AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
        |        (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
        |         FROM e, cfresh c) GROUP BY vec_id),
        |ast AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
        |        (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
        |         FROM e, cstale c) GROUP BY vec_id),
        |prf AS (SELECT qid, cl AS cluster FROM (
        |    SELECT q.qid, c.cl, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.cl) AS pr
        |    FROM cfresh c, q) WHERE pr <= 3),
        |prs AS (SELECT qid, cl AS cluster FROM (
        |    SELECT q.qid, c.cl, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.cl) AS pr
        |    FROM cstale c, q) WHERE pr <= 3),
        |ivff AS (SELECT qid, vec_id FROM (
        |    SELECT s.qid, s.vec_id,
        |           row_number() OVER (PARTITION BY s.qid ORDER BY s.cosine DESC, s.vec_id) AS rn
        |    FROM scored s JOIN asf a ON s.vec_id = a.vec_id
        |         JOIN prf p ON s.qid = p.qid AND a.cluster = p.cluster)
        |    WHERE rn <= 10),
        |ivfs AS (SELECT qid, vec_id FROM (
        |    SELECT s.qid, s.vec_id,
        |           row_number() OVER (PARTITION BY s.qid ORDER BY s.cosine DESC, s.vec_id) AS rn
        |    FROM scored s JOIN ast a ON s.vec_id = a.vec_id
        |         JOIN prs p ON s.qid = p.qid AND a.cluster = p.cluster)
        |    WHERE rn <= 10),
        |rf AS (SELECT exact.qid, count(*) AS n_exact, count(ivff.vec_id) AS n_hit_fresh
        |       FROM exact LEFT JOIN ivff ON exact.qid = ivff.qid AND exact.vec_id = ivff.vec_id
        |       GROUP BY exact.qid),
        |rs AS (SELECT exact.qid, count(ivfs.vec_id) AS n_hit_stale
        |       FROM exact LEFT JOIN ivfs ON exact.qid = ivfs.qid AND exact.vec_id = ivfs.vec_id
        |       GROUP BY exact.qid)
        |SELECT rf.qid AS query_id, rf.n_exact,
        |       rf.n_hit_fresh, round(rf.n_hit_fresh / 10.0, 4) AS recall_fresh,
        |       rs.n_hit_stale, round(rs.n_hit_stale / 10.0, 4) AS recall_stale
        |FROM rf JOIN rs ON rf.qid = rs.qid ORDER BY query_id""".stripMargin,
    "ann_ivf_persisted" -> IvfTopkSql,
    // Recluster lifecycle: centroids re-derived over the GROWN corpus
    // (base + drifted label-99 appends), full re-assignment, then the
    // shared probe/top-k tail for the drifted query — the answer the
    // persisted index can only give AFTER ivfRecluster rebuilt its routing.
    "ann_ivf_recluster" ->
      """WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q0 AS (SELECT v AS v0 FROM e0 WHERE vec_id = 0),
        |drift AS (SELECT vec_id + 100000 AS vec_id, 99 AS label,
        |                 list_transform(list_zip(q0.v0, e0.v), t -> t[1] + 0.9 * t[2]) AS v
        |          FROM e0, q0 WHERE vec_id BETWEEN 1 AND 40),
        |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM drift),
        |exf AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |cent AS (SELECT label AS cl, list(m ORDER BY pos) AS cvec
        |         FROM (SELECT label, pos, avg(x) AS m FROM exf GROUP BY label, pos)
        |         GROUP BY label),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 100001),
        |assign AS (
        |  SELECT vec_id, arg_max(cl, cs) AS cluster
        |  FROM (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs FROM e, cent c)
        |  GROUP BY vec_id),
        |probes AS (
        |  SELECT cl FROM cent, q ORDER BY list_cosine_similarity(cvec, qv) DESC, cl LIMIT 3)
        |SELECT e.vec_id, e.label, a.cluster,
        |       round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
        |FROM e JOIN assign a USING (vec_id) JOIN probes p ON a.cluster = p.cl, q
        |WHERE e.vec_id <> 100001
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    // Append lifecycle: centroids re-derived from the EVEN half only (the
    // built index), the FULL corpus assigned to them (odd rows = the
    // appended batch, assigned to the same frozen centroids), then the
    // shared probe/top-k tail. A lost append loses every odd row.
    "ann_ivf_append" -> IvfAppendSql,
    // The ingest-as-a-stream lifecycle computes the IDENTICAL index state
    // (frozen even-half centroids; appends are encode-only, so the final
    // vectors table is batch-split-invariant) — oracle shared verbatim.
    "stream_ann_ingest" -> IvfAppendSql,
    // Unlabeled IVF: full re-derivation of the seeded k-means init — Knuth-
    // hash seeds, two Lloyd rounds (argmax-cosine assign, per-position mean),
    // then the same probe/score tail as ann_ivf_topk.
    "ann_ivf_topk_nolabel" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |seeds AS (SELECT vec_id AS cl, v AS cvec FROM e
        |          ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, arg_max(cl, cs) AS cl FROM
        |         (SELECT e.vec_id, s.cl, list_cosine_similarity(e.v, s.cvec) AS cs
        |          FROM e, seeds s) GROUP BY vec_id),
        |c1 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
        |         (SELECT a1.cl, ex.pos, avg(ex.x) AS m
        |          FROM ex JOIN a1 USING (vec_id) GROUP BY a1.cl, ex.pos)
        |       GROUP BY cl),
        |a2 AS (SELECT vec_id, arg_max(cl, cs) AS cl FROM
        |         (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
        |          FROM e, c1 c) GROUP BY vec_id),
        |c2 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
        |         (SELECT a2.cl, ex.pos, avg(ex.x) AS m
        |          FROM ex JOIN a2 USING (vec_id) GROUP BY a2.cl, ex.pos)
        |       GROUP BY cl),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |assign AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
        |             (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
        |              FROM e, c2 c) GROUP BY vec_id),
        |probes AS (SELECT cl FROM c2, q
        |           ORDER BY list_cosine_similarity(cvec, qv) DESC, cl LIMIT 3)
        |SELECT e.vec_id, a.cluster,
        |       round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
        |FROM e JOIN assign a USING (vec_id) JOIN probes p ON a.cluster = p.cl, q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    // Full int8 re-derivation: per-vector scale, round-to-int quantize,
    // dequantized cosine + the 0.05 error-contract flag.
    "emb_quant_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qt AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM e),
        |dq AS (SELECT vec_id, v,
        |              list_transform(v, x -> CASE WHEN s = 0 THEN 0.0
        |                                          ELSE round(x / s) * s END) AS d
        |       FROM qt),
        |q0 AS (SELECT v AS qe, d AS qd FROM dq WHERE vec_id = 0)
        |SELECT dq.vec_id,
        |       round(list_cosine_similarity(dq.d, q0.qd), 4) AS cosine_q,
        |       CAST(abs(list_cosine_similarity(dq.d, q0.qd) -
        |                list_cosine_similarity(dq.v, q0.qe)) <= 0.05 AS BIGINT) AS within_bound
        |FROM dq, q0 WHERE dq.vec_id <> 0
        |ORDER BY cosine_q DESC, dq.vec_id LIMIT 10""".stripMargin,
    // Full PQ re-derivation, block by block (generated CTEs — 4 blocks ×
    // seed-assign / Lloyd-round / assign / LUT).
    "pq_adc_topk" -> PqAdcSql,
    "pq_persisted_topk" -> PqAdcSql,
    "pq_persisted_append" -> PqAppendSql,
    "ann_ivfpq_persisted" -> IvfPqSql,
    "ann_ivfpq_rerank" -> IvfPqRerankSql,
    "ann_ivfpq_recall" -> PqAdcRecallSql,
    "pq_recall_stale" -> PqRecallStaleSql,
    // Coarse k-means routing over the PQ oracle's own CTEs — the IVFPQ
    // composition re-derived end-to-end.
    "ann_ivfpq_topk" -> IvfPqSql,
    "ann_ivf_topk_batch" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |cent AS (
        |  SELECT label AS cl, list(m ORDER BY pos) AS cvec
        |  FROM (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos)
        |  GROUP BY label),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        |assign AS (
        |  SELECT vec_id, arg_max(cl, cs) AS cluster
        |  FROM (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs FROM e, cent c)
        |  GROUP BY vec_id),
        |probes AS (
        |  SELECT qid, cl FROM (
        |    SELECT q.qid, c.cl,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.cl) AS pr
        |    FROM q, cent c)
        |  WHERE pr <= 3),
        |scored AS (
        |  SELECT p.qid, e.vec_id, e.label, a.cluster,
        |         round(list_cosine_similarity(e.v, q.qv), 4) AS cosine
        |  FROM e JOIN assign a USING (vec_id)
        |       JOIN probes p ON a.cluster = p.cl
        |       JOIN q ON q.qid = p.qid
        |  WHERE e.vec_id <> p.qid)
        |SELECT qid, vec_id, label, cluster, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY qid, cosine DESC, vec_id""".stripMargin,
    "text_stats" ->
      s"""WITH toks AS ($ToksCte)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(ts)) AS BIGINT) AS n_unique,
         |       round(CAST(list_sum(list_transform(ts, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
         |             / greatest(len(ts), 1), 4) AS avg_token_len
         |FROM toks ORDER BY doc_id""".stripMargin,
    "text_bpe_stats" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe,
        |       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws,
        |       round(CAST(length(text) AS DOUBLE) /
        |             greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')), 1), 4)
        |         AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |t AS (SELECT doc_id, lt, list_filter(string_split(lt, ' '), x -> x <> '') AS ts FROM d),
         |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |             CAST(len(list_filter(ts, x -> list_contains($StopEnSql, x))) AS DOUBLE)
         |               / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sr,
         |             CAST(length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |               / greatest(length(lt), 1) AS pr
         |      FROM t)
         |SELECT doc_id, n_tokens, round(sr, 4) AS stop_ratio, round(pr, 4) AS punct_ratio,
         |       round(least(1.0, greatest(0.0, 0.2 + 1.5*sr - 2.0*pr + 0.02*n_tokens)), 4) AS quality
         |FROM c ORDER BY doc_id""".stripMargin,
    // Unigram LM re-derived end-to-end: token counts → smoothed NLL per
    // token (rounded to 6 dp, summed as decimals — aggregation-order
    // proof) → per-doc mean → quantile_cont tertile banding.
    "nb_quality_score" -> NbQualitySql,
    "nb_quality_eval" ->
      s"""WITH s AS ($NbQualitySql)
         |SELECT d.lang, count(*) AS n,
         |       CAST(sum(s.pred_pos) AS BIGINT) AS n_pred_pos,
         |       CAST(sum(CAST(round(s.score, 10) AS DECIMAL(30,10))) AS DOUBLE)
         |         / count(*) AS mean_score
         |FROM s JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "lm_quality_bands" ->
      """WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
        |tok AS (SELECT doc_id, unnest(list_filter(string_split(lt, ' '), x -> x <> '')) AS token
        |        FROM d),
        |lm AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm),
        |pt AS (SELECT doc_id,
        |         CAST(round(-ln((CAST(cnt AS DOUBLE) + 0.5) / (tot + 0.5*(v + 1.0))), 6)
        |              AS DECIMAL(20,6)) AS nll6
        |       FROM tok JOIN lm USING (token), tot),
        |doc AS (SELECT doc_id, count(*) AS n_tokens,
        |          CAST(sum(nll6) AS DOUBLE) / count(*) AS nll
        |        FROM pt GROUP BY doc_id),
        |th AS (SELECT quantile_cont(nll, 1.0/3) AS t1, quantile_cont(nll, 2.0/3) AS t2 FROM doc)
        |SELECT doc_id, n_tokens, nll,
        |       CASE WHEN nll <= t1 THEN 'head' WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS band
        |FROM doc, th ORDER BY doc_id""".stripMargin,
    // The text_quality derivation feeding corpus-level quantile_cont bounds
    // (Spark `percentile` interpolation ≡ quantile_cont — the
    // value_quantiles_by_type equivalence) and an inclusive band filter.
    "quality_band" ->
      s"""WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |t AS (SELECT doc_id, lt, list_filter(string_split(lt, ' '), x -> x <> '') AS ts FROM d),
         |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |             CAST(len(list_filter(ts, x -> list_contains($StopEnSql, x))) AS DOUBLE)
         |               / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sr,
         |             CAST(length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |               / greatest(length(lt), 1) AS pr
         |      FROM t),
         |q AS (SELECT doc_id,
         |        round(least(1.0, greatest(0.0, 0.2 + 1.5*sr - 2.0*pr + 0.02*n_tokens)), 4) AS quality
         |      FROM c),
         |b AS (SELECT quantile_cont(quality, 0.1) AS qlo,
         |             quantile_cont(quality, 0.9) AS qhi FROM q)
         |SELECT q.doc_id, q.quality FROM q, b
         |WHERE q.quality >= b.qlo AND q.quality <= b.qhi
         |ORDER BY q.doc_id""".stripMargin,
    // The ingest pipeline composed: normalize folds the planted messy
    // re-crawls, min-id dedup drops them, quantile band over survivors,
    // counts per source.
    "pipeline_clean_mix" ->
      s"""WITH c AS (SELECT doc_id, text, source FROM documents
         |           UNION ALL
         |           SELECT doc_id + 9000, '  ' || upper(text), source
         |           FROM documents WHERE doc_id < 20),
         |n AS (SELECT doc_id,
         |        trim(lower(regexp_replace(text, '${Text.WhitespaceRun}', ' ', 'g'))) AS lt,
         |        source FROM c),
         |surv AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY lt),
         |t AS (SELECT n.doc_id, n.lt,
         |        list_filter(string_split(n.lt, ' '), x -> x <> '') AS ts, n.source
         |      FROM n JOIN surv USING (doc_id)),
         |cq AS (SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tokens,
         |             CAST(len(list_filter(ts, x -> list_contains($StopEnSql, x))) AS DOUBLE)
         |               / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sr,
         |             CAST(length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |               / greatest(length(lt), 1) AS pr
         |      FROM t),
         |q AS (SELECT doc_id, source,
         |        round(least(1.0, greatest(0.0, 0.2 + 1.5*sr - 2.0*pr + 0.02*n_tokens)), 4) AS quality
         |      FROM cq),
         |b AS (SELECT quantile_cont(quality, 0.05) AS qlo,
         |             quantile_cont(quality, 0.95) AS qhi FROM q)
         |SELECT source, count(*) AS n_docs FROM q, b
         |WHERE quality >= b.qlo AND quality <= b.qhi
         |GROUP BY source ORDER BY source""".stripMargin,
    // Ingest admission: md5-keyed anti-join of the planted batch against
    // the existing corpus — only the 10 edited docs survive. NOT EXISTS
    // with IS NOT DISTINCT FROM, not NOT IN: the engine's anti-join is
    // null-safe (`<=>`), and NOT IN's NULL semantics would zero the whole
    // result if a NULL-text row ever entered the corpus — the two sides
    // must agree that NULL is one ordinary key value.
    "dedup_incremental" ->
      """WITH inc AS (SELECT doc_id + 10000 AS doc_id,
        |  CASE WHEN doc_id < 50 THEN text ELSE text || ' v2' END AS text
        |  FROM documents WHERE doc_id < 60)
        |SELECT inc.doc_id FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM documents d
        |                  WHERE md5(d.text) IS NOT DISTINCT FROM md5(inc.text))
        |ORDER BY inc.doc_id""".stripMargin,
    // Incremental near-dup: exact shingle Jaccard of the planted re-crawl
    // batch against every corpus doc — the LSH-candidates + exact-verify
    // probe must equal it (candidate recall ≈ 1 at the planted J; same
    // adjudication as dedup_minhash_lsh).
    "dedup_neardup_incremental" ->
      s"""WITH toks AS ($ToksCte),
         |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
         |inc AS (SELECT doc_id + 1000000 AS doc_id, text || ' updated crawl snapshot' AS text
         |        FROM documents WHERE doc_id % 50 = 0 AND length(text) > 200),
         |itoks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM inc),
         |ish AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |        FROM itoks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
         |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         |isizes AS (SELECT id, count(*) AS n_sh FROM ish GROUP BY id),
         |inter AS (SELECT a.id AS new_id, b.id AS ref_id, count(*) AS i
         |          FROM ish a JOIN sh b ON a.shingle = b.shingle GROUP BY 1, 2)
         |SELECT new_id, ref_id, round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) AS jaccard
         |FROM inter JOIN isizes s1 ON s1.id = new_id JOIN sizes s2 ON s2.id = ref_id
         |WHERE round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) >= 0.6
         |ORDER BY new_id, ref_id""".stripMargin,
    // Append lifecycle: the oracle re-derives the index CONTENT from
    // scratch — exact Jaccard of the probe batch against the full corpus,
    // which is exactly build-half ∪ appended-half. A dropped append loses
    // every odd-ref_id row and the hashes diverge.
    "dedup_index_append" ->
      s"""WITH toks AS ($ToksCte),
         |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
         |inc AS (SELECT doc_id + 2000000 AS doc_id, text || ' appended crawl snapshot' AS text
         |        FROM documents WHERE doc_id % 25 = 0 AND length(text) > 200),
         |itoks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM inc),
         |ish AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |        FROM itoks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
         |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         |isizes AS (SELECT id, count(*) AS n_sh FROM ish GROUP BY id),
         |inter AS (SELECT a.id AS new_id, b.id AS ref_id, count(*) AS i
         |          FROM ish a JOIN sh b ON a.shingle = b.shingle GROUP BY 1, 2)
         |SELECT new_id, ref_id, round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) AS jaccard
         |FROM inter JOIN isizes s1 ON s1.id = new_id JOIN sizes s2 ON s2.id = ref_id
         |WHERE round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) >= 0.6
         |ORDER BY new_id, ref_id""".stripMargin,
    // Index-vs-scan equivalence: the oracle recomputes the conjunctive
    // search by scanning the corpus (which IS build-half ∪ appended-half);
    // a dropped append or a mis-routed bucket loses rows and the hash
    // diverges.
    "inverted_search" ->
      s"""WITH toks AS ($ToksCte),
         |t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         |c AS (SELECT doc_id, term, count(*) AS tf FROM t
         |      WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
         |m AS (SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS tf_sum
         |      FROM c GROUP BY doc_id HAVING count(*) = 3)
         |SELECT doc_id, tf_sum FROM m ORDER BY tf_sum DESC, doc_id LIMIT 10""".stripMargin,
    "inverted_term_stats" ->
      s"""WITH toks AS ($ToksCte),
         |t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         |c AS (SELECT doc_id, term, count(*) AS tf FROM t
         |      WHERE term IN ('join', 'query', 'spark', 'window', 'zebra')
         |      GROUP BY doc_id, term)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
         |FROM c GROUP BY term ORDER BY term""".stripMargin,
    "text_langid" -> LangidSql,
    // The broadcast-dictionary-join formulation computes the identical
    // confusion matrix — shared oracle, so the two language-ID plans gate
    // each other.
    "text_langid_join" -> LangidSql,
    "text_fingerprint" ->
      "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents ORDER BY doc_id",
    // The RollingFp kernel re-derived in SQL: nested list_reduce — FNV-1a-64
    // per token (HUGEINT mod 2⁶⁴), then the order-sensitive 31-bit poly fold.
    "text_rolling_fp" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |              FROM documents)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(ts, t ->
        |        CAST(list_reduce(
        |          list_prepend(14695981039346656037::HUGEINT,
        |            list_transform(string_split(t, ''), c -> ord(c)::HUGEINT)),
        |          (a, b) -> (xor(a, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)
        |          % 2147483648::HUGEINT AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 2147483648) AS rolling_fp
        |FROM toks ORDER BY doc_id""".stripMargin,
    "tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |nn AS (SELECT count(*) AS n FROM documents),
        |t AS (SELECT term, count(*) AS df, sum(tf) AS tf_sum FROM tf GROUP BY 1)
        |SELECT term, CAST(df AS BIGINT) AS df,
        |       round(CAST(tf_sum AS DOUBLE) * ln(CAST(nn.n AS DOUBLE)/df), 4) AS tfidf
        |FROM t, nn ORDER BY tfidf DESC, term LIMIT 15""".stripMargin,
    // KL(source || corpus) re-derived with IDENTICAL parenthesization:
    // p_s = c_st/n_s, p_c = c_t/n_tot, per-term p_s*ln(p_s/p_c) rounded to
    // the 10-dp lattice and summed as DECIMAL(30,10).
    "source_token_kl" ->
      """WITH toks AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |              FROM documents),
        |st AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |ct AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s,
        |              count(*) AS n_terms FROM st GROUP BY 1),
        |nt AS (SELECT CAST(sum(c_st) AS BIGINT) AS n_tot FROM st),
        |terms AS (SELECT st.source, ns.n_s, ns.n_terms,
        |                 CAST(round((c_st / n_s) * ln((c_st / n_s) / (c_t / n_tot)), 10)
        |                      AS DECIMAL(30,10)) AS t
        |          FROM st JOIN ct USING (term) JOIN ns USING (source), nt)
        |SELECT source, n_s AS n_tokens, n_terms,
        |       round(CAST(sum(t) AS DOUBLE), 4) AS kl
        |FROM terms GROUP BY source, n_s, n_terms ORDER BY source""".stripMargin,
    // Distributed prefix sum under the exact window-sum oracle (the window
    // sum over BIGINT is HUGEINT in the oracle engine — cast back).
    "doc_pack_budget" ->
      """WITH toks AS (SELECT doc_id,
        |                     CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |                       AS n_tokens
        |              FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |             CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS excl
        |      FROM toks)
        |SELECT doc_id, n_tokens,
        |       CAST(floor(excl / 512.0) AS BIGINT) AS pack_id,
        |       CAST(excl % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "bpe_merge_top_tokens" ->
      s"""$BpeFixpointCte,
         |wc AS (SELECT word, count(*) AS n_occ FROM words GROUP BY word)
         |SELECT u.tok AS token, CAST(sum(wc.n_occ) AS BIGINT) AS n
         |FROM toks JOIN wc USING (word), unnest(toks.syms) AS u(tok)
         |GROUP BY token
         |ORDER BY n DESC, token LIMIT 30""".stripMargin,
    "doc_pack_budget_bpe" ->
      s"""$BpeFixpointCte,
         |tc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_toks FROM toks),
         |agg AS (SELECT w.doc_id, sum(tc.n_toks) AS s
         |        FROM words w JOIN tc USING (word) GROUP BY w.doc_id),
         |dc AS (SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_tokens_bpe
         |       FROM documents d LEFT JOIN agg a USING (doc_id)),
         |c AS (SELECT doc_id, n_tokens_bpe,
         |             CAST(sum(n_tokens_bpe) OVER (ORDER BY doc_id) - n_tokens_bpe AS BIGINT) AS excl
         |      FROM dc)
         |SELECT doc_id, n_tokens_bpe,
         |       CAST(floor(excl / 512.0) AS BIGINT) AS pack_id,
         |       CAST(excl % 512 AS BIGINT) AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,
    "token_histogram" ->
      """WITH t AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |             AS n_tokens FROM documents)
        |SELECT CAST(floor(n_tokens / 10) * 10 AS BIGINT) AS bucket_lo,
        |       count(*) AS n_docs
        |FROM t GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    "token_histogram_bpe" ->
      s"""$BpeFixpointCte,
         |tc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_toks FROM toks),
         |agg AS (SELECT w.doc_id, sum(tc.n_toks) AS s
         |        FROM words w JOIN tc USING (word) GROUP BY w.doc_id),
         |dc AS (SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_tokens_bpe
         |       FROM documents d LEFT JOIN agg a USING (doc_id))
         |SELECT CAST(floor(n_tokens_bpe / 10) * 10 AS BIGINT) AS bucket_lo,
         |       count(*) AS n_docs
         |FROM dc GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, doc_id, sample_rank FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin,
    "sample_fraction" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 < 1073741824
        |ORDER BY doc_id""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 <
        |      CASE WHEN lang = 'en' THEN 1073741824
        |           WHEN lang = 'fr' THEN 4294967296
        |           WHEN lang = 'de' THEN 2147483648
        |           ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "ngram_top_counts" ->
      s"""WITH toks AS ($ToksCte),
         |g AS (SELECT ts[i] || ' ' || ts[i+1] AS gram
         |      FROM toks, unnest(range(1, greatest(len(ts), 1))) AS t(i))
         |SELECT gram, count(*) AS n FROM g
         |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    // The oracle is the one-shuffle exact formulation; the engine's
    // two-pass Misra-Gries answer must coincide EXACTLY (the candidate
    // superset guarantee makes pass 2 lossless), so a sketch bug that
    // drops a true heavy term or admits a light one goes red here.
    "heavy_hitters_terms" ->
      s"""WITH t AS (SELECT unnest(ts) AS term FROM ($ToksCte)),
         |tot AS (SELECT count(*) AS n_total FROM t)
         |SELECT term, count(*) AS cnt FROM t, tot GROUP BY term, n_total
         |HAVING count(*) * 1000 >= n_total
         |ORDER BY cnt DESC, term""".stripMargin,
    // Weight literals are ::DOUBLE — DuckDB parses bare 0.3 as DECIMAL,
    // whose exact multiply would floor to 15000 where IEEE doubles (and
    // Spark) floor 0.3·50000 to 14999.
    "mixture_plan" ->
      s"""WITH p AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available,
         |  CAST(floor(CAST($MixCaseSql AS DOUBLE) * 50000) AS BIGINT) AS desired
         |  FROM documents GROUP BY source)
         |SELECT source, available, desired,
         |  least(1.0, CAST(desired AS DOUBLE) / CAST(greatest(available, 1) AS DOUBLE)) AS fraction,
         |  least(desired, available) AS expected
         |FROM p ORDER BY source""".stripMargin,
    "mixture_apply" ->
      s"""WITH p AS (SELECT source,
         |  least(1.0, CAST(CAST(floor(CAST($MixCaseSql AS DOUBLE) * 50000) AS BIGINT) AS DOUBLE) /
         |             CAST(greatest(CAST(sum(n_chars) AS BIGINT), 1) AS DOUBLE)) AS fraction
         |  FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source FROM documents d JOIN p USING (source)
         |WHERE (d.doc_id * 2654435761) % 4294967296 < floor(p.fraction * 4294967296.0)
         |ORDER BY d.doc_id""".stripMargin,
    // Exact decimal sums make the per-position mean engine-deterministic
    // (double partial-merge order would wobble the last ulp); pos is
    // 0-based on both sides.
    "emb_mean_by_label" ->
      """SELECT label, pos - 1 AS pos,
        |       CAST(sum(CAST(round(x, 10) AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS m
        |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // chr(9)/chr(10) spell the planted tabs/newline; the whitespace class
    // is shared verbatim from Text.WhitespaceRun.
    "text_normalize" ->
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id < 50
         |       THEN '  ' || text || chr(9) || chr(9) || 'mixed   CASE' || chr(10)
         |       ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  trim(lower(regexp_replace(text, '${Text.WhitespaceRun}', ' ', 'g'))) AS norm_text
         |FROM d ORDER BY doc_id""".stripMargin,
    // Identical regex source strings (Text.EmailPattern/LongDigitPattern are
    // Java/RE2-common by construction); counts come off the original text
    // for emails and the post-email text for digit runs, same cascade.
    "text_redact" ->
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id < 50
         |       THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR) ||
         |            '@mail.example.org or 555123456' || CAST(doc_id AS VARCHAR)
         |       ELSE text END AS text
         |  FROM documents),
         |em AS (SELECT doc_id, text,
         |  regexp_replace(text, '${Text.EmailPattern}', '<EMAIL>', 'g') AS emailed FROM d)
         |SELECT doc_id,
         |  regexp_replace(emailed, '${Text.LongDigitPattern}', '<NUMBER>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(text, '${Text.EmailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(emailed, '${Text.LongDigitPattern}')) AS BIGINT) AS n_numbers
         |FROM em ORDER BY doc_id""".stripMargin,
    // Same bigram derivation with positions; df counts DISTINCT documents,
    // every occurrence of a hot gram is a span row.
    "repeated_ngram_spans" ->
      s"""WITH toks AS ($ToksCte),
         |g AS (SELECT doc_id, i - 1 AS pos, ts[i] || ' ' || ts[i+1] AS gram
         |      FROM toks, unnest(range(1, greatest(len(ts), 1))) AS t(i)),
         |hot AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g
         |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 35)
         |SELECT g.doc_id, g.pos, g.gram, hot.df
         |FROM g JOIN hot USING (gram)
         |ORDER BY g.doc_id, g.pos""".stripMargin,
    // Trigram occurrences of each TRAIN doc counted against the eval
    // split's distinct trigrams; split = the assignSplit hash bands.
    "ngram_contamination" ->
      s"""WITH toks AS ($ToksCte),
         |g AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
         |      FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
         |s AS (SELECT doc_id,
         |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973836
         |       THEN 'train' ELSE 'eval' END AS sp FROM documents),
         |ev AS (SELECT DISTINCT gram FROM g JOIN s USING (doc_id) WHERE sp = 'eval'),
         |tot AS (SELECT t.doc_id,
         |        CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 0 END AS n_grams
         |        FROM toks t JOIN s USING (doc_id) WHERE sp = 'train'),
         |hits AS (SELECT g.doc_id, count(*) AS n_overlap
         |         FROM g JOIN s USING (doc_id) JOIN ev USING (gram)
         |         WHERE sp = 'train' GROUP BY g.doc_id)
         |SELECT tot.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
         |       coalesce(hits.n_overlap, 0) AS n_overlap,
         |       round(coalesce(hits.n_overlap, 0) /
         |             greatest(tot.n_grams, 1), 4) AS overlap_ratio
         |FROM tot LEFT JOIN hits USING (doc_id)
         |ORDER BY tot.doc_id""".stripMargin,
    // Same cumulative-hash split as sample_split_counts, over the corpus
    // plus 50 planted re-crawled copies; contamination = eval docs whose
    // md5(lower(trim(text))) also occurs in train.
    "contamination_check" ->
      """WITH c AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
        |s AS (SELECT doc_id, md5(lower(trim(text))) AS fp,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM c)
        |SELECT doc_id, split, fp FROM s
        |WHERE split <> 'train'
        |  AND fp IN (SELECT fp FROM s WHERE split = 'train')
        |ORDER BY doc_id""".stripMargin,
    // The recursive-CTE near-dup closure composed with the cumulative-hash
    // bands ON THE REPRESENTATIVE — leakage prevention re-derived whole.
    "split_leakage_safe" ->
      s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
         |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id),
         |cc AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)
         |SELECT doc_id, rep_id,
         |  CASE WHEN (rep_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
         |       WHEN (rep_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
         |       WHEN (rep_id * 2654435761) % 4294967296 < 4080218931 THEN 'test'
         |       ELSE 'holdout' END AS split
         |FROM cc ORDER BY doc_id""".stripMargin,
    // The replayed-union leakage-safe split, reduced relationally: an
    // EXACT copy's links duplicate its source's links (identical shingle
    // sets ⇒ identical jaccard to every third document), so the union's
    // connected components equal the base corpus's with each copy joining
    // its source's component, and copy ids (+100000) exceed every base id,
    // so min-id representatives are unchanged. The union closure therefore
    // = base closure + copies inheriting their source's representative —
    // which is exactly what the per-batch ingest must reproduce.
    "stream_split_ingest" ->
      s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
         |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id),
         |cc AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id),
         |un AS (SELECT doc_id, rep_id FROM cc
         |       UNION ALL
         |       SELECT doc_id + 100000, rep_id FROM cc WHERE doc_id % 11 = 0
         |       UNION ALL
         |       SELECT 300000 + k*2 + m AS doc_id, 300000 + k*2 AS rep_id
         |       FROM range(0, 10) tk(k), range(0, 2) tm(m))
         |SELECT doc_id, rep_id,
         |  CASE WHEN (rep_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
         |       WHEN (rep_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
         |       WHEN (rep_id * 2654435761) % 4294967296 < 4080218931 THEN 'test'
         |       ELSE 'holdout' END AS split
         |FROM un ORDER BY doc_id""".stripMargin,
    // Round-trip gates: masses from the parquet source, n_mismatch pinned
    // at ZERO — the engine side computes mismatches by comparing the
    // read-back rows field by field, so an escaping defect turns it red.
    // sum_chars counts the READ-BACK text (must equal the source's mass).
    "source_jsonl" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "source_csv" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "source_orc" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // The full export chain re-derived: near-dup closure → rep-hash train
    // band → hash-mod shards + order endpoints over the survivors.
    "training_export" ->
      s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
         |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id),
         |cc AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |train AS (SELECT d.doc_id, d.n_chars
         |          FROM documents d JOIN cc USING (doc_id)
         |          WHERE (cc.rep * 2654435761) % 4294967296 < 3435973836),
         |s AS (SELECT doc_id, n_chars,
         |             (doc_id * 2654435761) % 4294967296 AS h,
         |             ((doc_id * 2654435761) % 4294967296) % 8 AS shard
         |      FROM train),
         |f AS (SELECT shard, doc_id AS first_id FROM (
         |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
         |          ORDER BY h, doc_id) AS rn FROM s) WHERE rn = 1),
         |l AS (SELECT shard, doc_id AS last_id FROM (
         |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
         |          ORDER BY h DESC, doc_id DESC) AS rn FROM s) WHERE rn = 1),
         |g AS (SELECT shard, count(*) AS n_docs,
         |             CAST(sum(n_chars) AS BIGINT) AS sum_weight
         |      FROM s GROUP BY shard)
         |SELECT g.shard, n_docs, sum_weight, first_id, last_id
         |FROM g JOIN f USING (shard) JOIN l USING (shard)
         |ORDER BY g.shard""".stripMargin,
    // Hash-bucketed shard membership (Knuth hash mod 8) + the loading
    // order's endpoints per shard via (h, id) rank windows.
    "export_shards" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |                  (doc_id * 2654435761) % 4294967296 AS h,
        |                  ((doc_id * 2654435761) % 4294967296) % 8 AS shard
        |           FROM documents),
        |f AS (SELECT shard, doc_id AS first_id FROM (
        |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
        |          ORDER BY h, doc_id) AS rn FROM s) WHERE rn = 1),
        |l AS (SELECT shard, doc_id AS last_id FROM (
        |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
        |          ORDER BY h DESC, doc_id DESC) AS rn FROM s) WHERE rn = 1),
        |g AS (SELECT shard, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS sum_weight
        |      FROM s GROUP BY shard)
        |SELECT g.shard, n_docs, sum_weight, first_id, last_id
        |FROM g JOIN f USING (shard) JOIN l USING (shard)
        |ORDER BY g.shard""".stripMargin,
    // Per-epoch reshuffle: shard membership from the base hash, order from
    // the (id, epoch) pair-mix — both integer lattices re-derived.
    "export_epoch_order" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |                  ((doc_id * 2654435761) % 4294967296) % 8 AS shard
        |           FROM documents),
        |w AS (SELECT s.*, e AS epoch,
        |             ((((doc_id % 4294967296) * 100003 + e) % 4294967296)
        |              * 2654435761) % 4294967296 AS mx
        |      FROM s, range(0, 3) t(e)),
        |f AS (SELECT shard, epoch, doc_id AS first_id FROM (
        |        SELECT shard, epoch, doc_id, row_number() OVER (
        |          PARTITION BY shard, epoch ORDER BY mx, doc_id) AS rn
        |        FROM w) WHERE rn = 1),
        |l AS (SELECT shard, epoch, doc_id AS last_id FROM (
        |        SELECT shard, epoch, doc_id, row_number() OVER (
        |          PARTITION BY shard, epoch ORDER BY mx DESC, doc_id DESC) AS rn
        |        FROM w) WHERE rn = 1),
        |g AS (SELECT shard, epoch, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS sum_weight
        |      FROM w GROUP BY shard, epoch)
        |SELECT g.shard, g.epoch, n_docs, sum_weight, first_id, last_id
        |FROM g JOIN f USING (shard, epoch) JOIN l USING (shard, epoch)
        |ORDER BY g.shard, g.epoch""".stripMargin,
    // Exact 8-token runs as strings (hash distinctness ≡ span distinctness
    // modulo 64-bit collisions — the family trade the jaccard oracles
    // already pin): pairs by span-equality self-join, count per pair.
    "dedup_span_pairs" ->
      s"""WITH toks AS ($ToksCte),
         |sp AS (SELECT DISTINCT doc_id AS id,
         |              ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||
         |              ts[i+4]||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] AS span
         |       FROM toks, unnest(range(1, greatest(len(ts) - 6, 1))) AS t(i)),
         |inter AS (SELECT a.id AS d1, b.id AS d2, count(*) AS n_spans
         |          FROM sp a JOIN sp b ON a.span = b.span AND a.id < b.id
         |          GROUP BY 1, 2)
         |SELECT d1, d2, n_spans FROM inter WHERE n_spans >= 3
         |ORDER BY d1, d2""".stripMargin,
    // Cumulative Knuth-hash thresholds: floor(0.8·2³²), floor(0.9·2³²),
    // floor(0.95·2³²) — same truncation as the Scala .toLong.
    "sample_split_counts" ->
      """WITH s AS (SELECT n_chars,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
        |       WHEN (doc_id * 2654435761) % 4294967296 < 4080218931 THEN 'test'
        |       ELSE 'holdout' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // Exact quantiles pinned; within_bound asserts the GK sketch's error.
    "token_count_quantiles" ->
      s"""WITH t AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
         |             AS n_tokens FROM documents)
         |SELECT round(quantile_cont(n_tokens, 0.5), 4) AS p50,
         |       round(quantile_cont(n_tokens, 0.9), 4) AS p90,
         |       round(quantile_cont(n_tokens, 0.99), 4) AS p99,
         |       CAST(1 AS BIGINT) AS within_bound
         |FROM t""".stripMargin,
    "json_props_stats" ->
      """SELECT event_type, count(k) AS n_k, round(avg(k), 4) AS avg_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |             TRY_CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "json_props_typed" ->
      """SELECT event_type, CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
        |       count(CASE WHEN k > 50 THEN 1 END) AS n_big
        |FROM (SELECT event_type,
        |             TRY_CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Independent sessionization: lag + cumulative boundary sum. A break
    // opens where the gap to the previous event reaches 30 min (Spark merges
    // only OVERLAPPING [t, t+gap) windows, so t − prev ≥ gap ⇒ new session);
    // session end = last event + gap, matching session_window's contract.
    "session_counts_by_type" ->
      s"""WITH e AS ($EvCte),
         |o AS (SELECT event_type, time, value,
         |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type ORDER BY time)
         |                       >= 1800000 THEN 1 ELSE 0 END AS brk
         |      FROM e),
         |sgrp AS (SELECT event_type, time, value,
         |                sum(brk) OVER (PARTITION BY event_type ORDER BY time
         |                               ROWS UNBOUNDED PRECEDING) AS sid
         |         FROM o)
         |SELECT min(time) AS sess_start, max(time) + 1800000 AS sess_end, event_type,
         |       count(*) AS n,
         |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
         |         AS sum_value
         |FROM sgrp GROUP BY event_type, sid
         |ORDER BY event_type, sess_start""".stripMargin,
    // The streaming session_window gate shares the batch twin's
    // lag/cumulative-break derivation (same 1800 s gap), minus the rollup.
    "stream_session_counts" ->
      s"""WITH e AS ($EvCte),
         |o AS (SELECT event_type, time,
         |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type ORDER BY time)
         |                       >= 1800000 THEN 1 ELSE 0 END AS brk
         |      FROM e),
         |sgrp AS (SELECT event_type, time,
         |                sum(brk) OVER (PARTITION BY event_type ORDER BY time
         |                               ROWS UNBOUNDED PRECEDING) AS sid
         |         FROM o)
         |SELECT min(time) AS sess_start, max(time) + 1800000 AS sess_end, event_type,
         |       count(*) AS n
         |FROM sgrp GROUP BY event_type, sid
         |ORDER BY event_type, sess_start""".stripMargin,
    // The final streamed reservoir must equal the batch hash-rank heads
    // (bottom-k by (knuth-hash, id) is a pure function of the id set).
    "stream_sample_stratified" ->
      """WITH r AS (SELECT event_type, event_id,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY (event_id * 2654435761) % 4294967296, event_id)
        |               AS sample_rank
        |           FROM events)
        |SELECT event_type, sample_rank, event_id FROM r WHERE sample_rank <= 5
        |ORDER BY event_type, sample_rank""".stripMargin,
    // The final streamed leaderboard must equal the batch count+rank board
    // (counts are order-insensitive; the (cnt DESC, user) tie-break is the
    // determinism contract on both sides).
    "stream_topk_users" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, cnt,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY cnt DESC, user_id) AS rank
        |      FROM c)
        |SELECT event_type, rank, user_id, cnt FROM r WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin,
    // The Misra-Gries board: identity + order of the top-3 must equal the
    // exact batch derivation (the MG guarantee holds — every top-3 gap in
    // the bucketed replay exceeds n/(capacity+1)); estimated counts are
    // order-dependent and intentionally absent from the contract.
    "stream_topk_users_mg" ->
      """WITH c AS (SELECT event_type,
        |             CASE WHEN user_id % 8 <= 2 THEN 0
        |                  WHEN user_id % 8 <= 4 THEN 1
        |                  WHEN user_id % 8 = 5 THEN 2
        |                  ELSE 3 + (user_id // 8) % 97 END AS user_bucket,
        |             count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_bucket, cnt,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY cnt DESC, user_bucket) AS rank
        |      FROM c)
        |SELECT event_type, rank, CAST(user_bucket AS BIGINT) AS user_bucket
        |FROM r WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin,
    // The same lag/cumulative-break derivation as session_counts_by_type,
    // partitioned by user and emitted per ROW (1-based).
    "session_ids_by_user" ->
      s"""WITH e AS ($EvCte),
         |o AS (SELECT event_id, user_id, time,
         |             CASE WHEN time - lag(time) OVER (PARTITION BY user_id ORDER BY time)
         |                       >= 1800000 THEN 1 ELSE 0 END AS brk
         |      FROM e)
         |SELECT event_id, user_id, time,
         |       CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY time
         |                           ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
         |FROM o ORDER BY event_id""".stripMargin,
    // Streaming batch-equivalence: the windowed streaming rollup must equal
    // the plain batch rollup over the same replayed data (epoch-aligned
    // 1-day windows ⇒ win_start = floor(time/day)·day).
    "stream_tumbling_daily" ->
      s"""WITH e AS ($EvCte)
         |SELECT (time // 86400000) * 86400000 AS win_start, event_type,
         |       count(*) AS n,
         |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
         |         AS sum_value
         |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // The windowed-distinct gate: the streamed dedup->count chain must equal
    // the batch COUNT(DISTINCT) per epoch-aligned day exactly (replay
    // disorder stays inside the watermark horizon).
    "stream_distinct_daily" ->
      s"""WITH e AS ($EvCte)
         |SELECT (time // 86400000) * 86400000 AS win_start, event_type,
         |       count(DISTINCT user_id) AS n_distinct
         |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // Streaming-histogram gate: the per-day power-of-two bucket counts the
    // stream maintained in bounded state must yield the SAME quantile lower
    // bounds as this batch re-derivation — identical integer bit-length
    // bucketing (bin-length, never float log), identical ceil-rank rule.
    // The IVM-maintained rollup shares it verbatim: base+delta counts must
    // equal the one-shot aggregate.
    "ivm_hist_quantiles" -> HistQuantilesDailySql,
    "stream_hist_quantiles" -> HistQuantilesDailySql,
    // Stream-static enrichment: the streamed join-then-window must equal
    // the batch events ⋈ customer rollup per epoch day (inner join drops
    // nothing here — every user has exactly one customer row).
    "stream_static_enrich" ->
      s"""WITH e AS ($EvCte)
         |SELECT (time // 86400000) * 86400000 AS win_start, c.c_mktsegment,
         |       count(*) AS n
         |FROM e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2 ORDER BY win_start, c_mktsegment""".stripMargin,
    // Per-day CMS counters re-derived in batch HUGEINT (the cms_user_counts
    // lattice grouped by day); deterministic hash rows make the streamed
    // sketch a function of each day's key multiset — equality gate.
    "stream_cms_daily" ->
      s"""WITH e AS ($EvCte),
         |base AS (SELECT (time // 86400000) * 86400000 AS win_start, user_id, r
         |         FROM e, unnest([0,1,2,3]) AS t(r)),
         |h1 AS (SELECT win_start, user_id, r,
         |              CAST(user_id + r * 7919 AS HUGEINT) % 4294967296 AS z1 FROM base),
         |h2 AS (SELECT win_start, user_id, r,
         |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM h1),
         |h3 AS (SELECT win_start, user_id, r,
         |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM h2),
         |hb AS (SELECT win_start, user_id, r,
         |              CAST(xor(z3, z3 // 65536) % 64 AS BIGINT) AS bucket FROM h3),
         |sk AS (SELECT win_start, r, bucket, count(*) AS cnt FROM hb GROUP BY 1, 2, 3),
         |pr AS (SELECT unnest(range(0, 5)) AS user_id),
         |pb AS (SELECT user_id, r FROM pr, unnest([0,1,2,3]) AS t(r)),
         |q1 AS (SELECT user_id, r,
         |              CAST(user_id + r * 7919 AS HUGEINT) % 4294967296 AS z1 FROM pb),
         |q2 AS (SELECT user_id, r,
         |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM q1),
         |q3 AS (SELECT user_id, r,
         |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM q2),
         |probes AS (SELECT user_id, r,
         |                  CAST(xor(z3, z3 // 65536) % 64 AS BIGINT) AS bucket FROM q3),
         |days AS (SELECT DISTINCT win_start FROM base)
         |SELECT d.win_start, p.user_id, min(coalesce(sk.cnt, 0)) AS est
         |FROM days d CROSS JOIN probes p
         |LEFT JOIN sk ON sk.win_start = d.win_start AND p.r = sk.r
         |            AND p.bucket = sk.bucket
         |GROUP BY d.win_start, p.user_id
         |ORDER BY d.win_start, p.user_id""".stripMargin,
    // The streamed KMV buffer is a deterministic function of each day's id
    // set — the batch re-derivation (same murmur lattice as
    // kmv_distinct_cust, grouped per day) must match EXACTLY.
    "stream_kmv_distinct" ->
      s"""WITH e AS ($EvCte),
         |ids AS (SELECT DISTINCT (time // 86400000) * 86400000 AS win_start,
         |               event_type, user_id FROM e),
         |h1 AS (SELECT win_start, event_type,
         |              CAST(user_id AS HUGEINT) % 4294967296 AS z1 FROM ids),
         |h2 AS (SELECT win_start, event_type,
         |              (xor(z1, z1 // 65536) * 2246822507) % 4294967296 AS z2 FROM h1),
         |h3 AS (SELECT win_start, event_type,
         |              (xor(z2, z2 // 8192) * 3266489909) % 4294967296 AS z3 FROM h2),
         |hashed AS (SELECT DISTINCT win_start, event_type,
         |                  CAST(xor(z3, z3 // 65536) AS BIGINT) AS hv FROM h3),
         |ranked AS (SELECT win_start, event_type, hv,
         |                  row_number() OVER (PARTITION BY win_start, event_type
         |                                     ORDER BY hv) AS r
         |           FROM hashed),
         |sk AS (SELECT win_start, event_type,
         |              max(CASE WHEN r <= 64 THEN hv END) AS kth,
         |              least(64, count(*)) AS n_buf
         |       FROM ranked GROUP BY 1, 2)
         |SELECT win_start, event_type,
         |       CASE WHEN n_buf < 64 THEN CAST(n_buf AS DOUBLE)
         |            ELSE 63 * 4294967296.0 / kth END AS est_distinct,
         |       kth, n_buf
         |FROM sk ORDER BY win_start, event_type""".stripMargin,
    // Sliding-window re-derivation: 1-day windows every 12 h ⇒ each event
    // belongs to exactly the two epoch-aligned starts
    // floor(time/12h)·12h − i·12h for i ∈ {0,1} (both satisfy
    // time − win_start < 1 day when slide divides width).
    "stream_sliding_daily" ->
      s"""WITH e AS ($EvCte),
         |     w AS (SELECT e.*, ((time // 43200000) - i.i) * 43200000 AS win_start
         |           FROM e CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) i)
         |SELECT win_start, event_type, count(*) AS n,
         |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
         |         AS sum_value
         |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // The replay's planted duplicates are COPIES of existing rows, so the
    // admitted key set must equal plain DISTINCT over the corpus — a
    // duplicate that survives the stream dedup shows up as an extra row.
    "stream_dedup_exact" ->
      s"""WITH e AS ($EvCte)
         |SELECT DISTINCT
         |  md5(CAST(user_id AS VARCHAR) || ':' || event_type || ':' ||
         |      CAST(time AS VARCHAR)) AS k
         |FROM e ORDER BY k""".stripMargin,
    // The streaming interval join must emit exactly the batch theta join's
    // pair set — a dropped-late row or an early state eviction loses pairs.
    "stream_join_attrib" ->
      s"""WITH e AS ($EvCte),
         |c AS (SELECT user_id, time AS click_ms FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, time AS purchase_ms FROM e WHERE event_type = 'purchase')
         |SELECT c.user_id, c.click_ms, p.purchase_ms
         |FROM c JOIN p ON p.user_id = c.user_id
         |              AND p.purchase_ms >= c.click_ms
         |              AND p.purchase_ms <= c.click_ms + ${3 * Day}
         |ORDER BY c.user_id, c.click_ms, p.purchase_ms""".stripMargin,
    // LEFT theta join: unconverted clicks appear with a NULL purchase —
    // the flush-sentinel replay must emit exactly this set.
    "stream_join_attrib_outer" ->
      s"""WITH e AS ($EvCte),
         |c AS (SELECT user_id, time AS click_ms FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, time AS purchase_ms FROM e WHERE event_type = 'purchase')
         |SELECT c.user_id, c.click_ms, p.purchase_ms
         |FROM c LEFT JOIN p ON p.user_id = c.user_id
         |                   AND p.purchase_ms >= c.click_ms
         |                   AND p.purchase_ms <= c.click_ms + ${3 * Day}
         |ORDER BY c.user_id, c.click_ms, p.purchase_ms""".stripMargin,
    // One residue class per codec (doc_id % 7): n_bytes re-derives each
    // container's exact framing — BMP 54-byte header + text; PPM ASCII
    // header (9 bytes + the dimensions' digit counts) + the exact w·h·3
    // raster; WAV 44-byte canonical header + frames·channels·2 data; PNG
    // signature + IHDR/IDAT/IEND chunk frames = text + 57; JPEG
    // SOI/APP0/SOF0/SOS/EOI marker frames = text + 45. width/height (or
    // frames/rate for WAV) re-derived from the same doc_id arithmetic the
    // planted headers encode — the Spark side must PARSE them back out of
    // the bytes (including CRC verification for PNG and the marker walk
    // for JPEG) to agree. Residues 5-6: the stub length formulas. codec
    // pins which of the six paths fired.
    "multimodal_features" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n,
        |                  1 + doc_id % 63 AS bw, 1 + doc_id % 37 AS bh,
        |                  1 + doc_id % 53 AS pw, 1 + doc_id % 41 AS ph,
        |                  1 + doc_id % 997 AS wf, (1 + doc_id % 2) * 2 AS wba,
        |                  8000 + doc_id % 100 AS wsr,
        |                  1 + doc_id % 45 AS gw, 1 + doc_id % 29 AS gh,
        |                  1 + doc_id % 499 AS jw, 1 + doc_id % 307 AS jh
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN n + 54
        |                 WHEN doc_id % 7 = 1 THEN 9 + length(CAST(pw AS VARCHAR))
        |                      + length(CAST(ph AS VARCHAR)) + pw * ph * 3
        |                 WHEN doc_id % 7 = 2 THEN 44 + wf * wba
        |                 WHEN doc_id % 7 = 3 THEN n + 57
        |                 WHEN doc_id % 7 = 4 THEN n + 45
        |                 ELSE n END AS BIGINT) AS n_bytes,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN bw WHEN doc_id % 7 = 1 THEN pw
        |                 WHEN doc_id % 7 = 2 THEN wf
        |                 WHEN doc_id % 7 = 3 THEN gw
        |                 WHEN doc_id % 7 = 4 THEN jw
        |                 ELSE n % 64 END AS BIGINT) AS width,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN bh WHEN doc_id % 7 = 1 THEN ph
        |                 WHEN doc_id % 7 = 2 THEN wsr
        |                 WHEN doc_id % 7 = 3 THEN gh
        |                 WHEN doc_id % 7 = 4 THEN jh
        |                 ELSE n // 64 END AS BIGINT) AS height,
        |       CASE doc_id % 7 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
        |            WHEN 2 THEN 'wav' WHEN 3 THEN 'png' WHEN 4 THEN 'jpeg'
        |            ELSE 'stub' END AS codec
        |FROM d ORDER BY doc_id""".stripMargin,
    // Byte-exact resize re-derivation: ASCII corpus ⇒ VARCHAR ops are byte
    // ops; md5 over a NUL-padded VARCHAR hashes the raw bytes, matching
    // Spark's md5(binary) of the truncated/zero-padded payload.
    "multimodal_resize" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id,
        |       md5(CASE WHEN n >= 64 THEN substr(text, 1, 64)
        |                ELSE text || repeat(chr(0), CAST(64 - n AS INT)) END) AS payload_md5,
        |       CAST(n AS BIGINT) AS orig_bytes, CAST(64 AS BIGINT) AS new_bytes
        |FROM d ORDER BY doc_id""".stripMargin,
    // Frame sampling re-derivation: every 4th 16-byte frame of the payload,
    // one md5 per frame; docs shorter than one frame emit nothing.
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id, i AS frame_idx,
        |       md5(substr(text, CAST(i*16 + 1 AS INT), 16)) AS frame_md5
        |FROM d, unnest(range(0, n // 16)) AS t(i)
        |WHERE i % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // Real-pixel PNG stats: the oracle computes the planted closed-form
    // pixel values directly (it never parses PNG) — the engine must get
    // the SAME integers back out through deflate → inflate → un-filter.
    "multimodal_pixels" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
        |                  1 + doc_id % 4 AS ch FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, d.ch,
        |              (d.doc_id*31 + x*7 + y*13 + c*101) % 256 AS v
        |       FROM d, unnest(range(0, d.w)) AS tx(x),
        |            unnest(range(0, d.h)) AS ty(y),
        |            unnest(range(0, d.ch)) AS tc(c))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(ch AS BIGINT) AS channels, count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
        |FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin,
    // Audio samples: the closed-form 16-bit waveform re-derived per
    // interleaved index; energy as exact integer Σs².
    "multimodal_wav_samples" ->
      """WITH d AS (SELECT doc_id, 20 + doc_id % 13 AS frames,
        |                  1 + doc_id % 2 AS ch,
        |                  8000 + doc_id % 100 AS rate FROM documents),
        |sv AS (SELECT d.doc_id, d.ch, d.rate,
        |              (d.doc_id*37 + i*101) % 4001 - 2000 AS s
        |       FROM d, unnest(range(0, d.frames * d.ch)) AS t(i))
        |SELECT doc_id, CAST(ch AS BIGINT) AS channels,
        |       CAST(rate AS BIGINT) AS sample_rate,
        |       count(*) AS n_samples, CAST(sum(s) AS BIGINT) AS sum_samples,
        |       CAST(max(abs(s)) AS BIGINT) AS max_abs,
        |       CAST(sum(s*s) AS BIGINT) AS sum_sq
        |FROM sv GROUP BY doc_id, ch, rate ORDER BY doc_id""".stripMargin,
    // Palette path: pixel value = palette formula composed with the index
    // formula — the PLTE indirection re-derived arithmetically.
    "multimodal_pixels_palette" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h,
        |              (d.doc_id*7 + ((d.doc_id + 3*x + 5*y) % 16)*11
        |               + c*29) % 256 AS v
        |       FROM d, unnest(range(0, d.w)) AS tx(x),
        |            unnest(range(0, d.h)) AS ty(y),
        |            unnest(range(0, 3)) AS tc(c))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(3 AS BIGINT) AS channels, count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // PNG sub-class routing: codec tag + pixel-path acceptance per class is
    // a pure function of doc_id mod 4; widths/heights are the planted
    // closed forms, so the oracle needs no PNG parsing at all.
    "multimodal_png_classes" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 45 AS w, 1 + doc_id % 29 AS h,
        |                  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'png16'
        |                       WHEN 2 THEN 'png_i' ELSE 'png_ld' END AS codec
        |           FROM documents)
        |SELECT codec, count(*) AS n,
        |       CAST(sum(CASE WHEN codec = 'png' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_pixel_decoded,
        |       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h
        |FROM d GROUP BY codec ORDER BY codec""".stripMargin,
    // 16-bit pixel path: the closed-form 16-bit gradient re-derived
    // arithmetically at 0..65535 scale — the engine must get the SAME
    // integers back through inflate + 2-byte-sample un-filter.
    "multimodal_png16_pixels" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 11 AS w, 2 + doc_id % 7 AS h,
        |                  1 + doc_id % 3 AS ch FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, d.ch,
        |              (d.doc_id*4099 + x*521 + y*1031 + c*257) % 65536 AS v
        |       FROM d, unnest(range(0, d.w)) AS tx(x),
        |            unnest(range(0, d.h)) AS ty(y),
        |            unnest(range(0, d.ch)) AS tc(c))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(ch AS BIGINT) AS channels, CAST(16 AS BIGINT) AS depth,
        |       count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
        |FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin,
    // Adam7 path: stats of the INTERLACED decode against the planted
    // closed forms (depth by doc_id % 2), twin_match pinned to 1 — the
    // engine must reassemble 7 passes to the exact sequential raster.
    "multimodal_png_interlaced" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 19 AS w, 1 + doc_id % 13 AS h,
        |                  1 + doc_id % 2 AS ch,
        |                  CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS depth
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, d.ch, d.depth,
        |              CASE WHEN d.depth = 8
        |                   THEN (d.doc_id*31 + x*7 + y*13 + c*101) % 256
        |                   ELSE (d.doc_id*4099 + x*521 + y*1031 + c*257) % 65536
        |              END AS v
        |       FROM d, unnest(range(0, d.w)) AS tx(x),
        |            unnest(range(0, d.h)) AS ty(y),
        |            unnest(range(0, d.ch)) AS tc(c))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(ch AS BIGINT) AS channels, CAST(depth AS BIGINT) AS depth,
        |       count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix,
        |       CAST(1 AS BIGINT) AS twin_match
        |FROM px GROUP BY doc_id, w, h, ch, depth ORDER BY doc_id""".stripMargin,
    // Classes with REAL streams: since round 20 EVERY legal PNG class
    // decodes — n_pixel_decoded = n for all four groups.
    "multimodal_png_classes_px" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 45 AS w, 1 + doc_id % 29 AS h,
        |                  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'png16'
        |                       WHEN 2 THEN 'png_i' ELSE 'png_ld' END AS codec
        |           FROM documents)
        |SELECT codec, count(*) AS n, count(*) AS n_pixel_decoded,
        |       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h
        |FROM d GROUP BY codec ORDER BY codec""".stripMargin,
    // Low-depth packed-bit path: planted values at the stored 0..2^d-1
    // scale, half the corpus Adam7 — the oracle re-derives them without
    // parsing PNG, so bit order/stride/padding slips turn it red.
    "multimodal_png_ld_pixels" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 21 AS w, 1 + doc_id % 11 AS h,
        |                  CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS dep,
        |                  CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS lv
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, d.dep,
        |              (d.doc_id + 3*x + 5*y) % d.lv AS v
        |       FROM d, unnest(range(0, d.w)) AS tx(x),
        |            unnest(range(0, d.h)) AS ty(y))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(1 AS BIGINT) AS channels, CAST(dep AS BIGINT) AS depth,
        |       count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
        |FROM px GROUP BY doc_id, w, h, dep ORDER BY doc_id""".stripMargin,
    // Low-depth palette path: PLTE indirection composed with the depth-4
    // packed index raster (half Adam7), re-derived arithmetically.
    "multimodal_png_ld_palette" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h,
        |              (d.doc_id*7 + ((d.doc_id + 3*x + 5*y) % 16)*11
        |               + c*29) % 256 AS v
        |       FROM d, unnest(range(0, d.w)) AS tx(x),
        |            unnest(range(0, d.h)) AS ty(y),
        |            unnest(range(0, 3)) AS tc(c))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(3 AS BIGINT) AS channels, CAST(8 AS BIGINT) AS depth,
        |       count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // Lossy-codec round trip: structure closed-form, pixels by the
    // within-bound discipline (JPEG error is codec-owned; the engine must
    // land within 8 counts of the planted gradient on EVERY pixel).
    "multimodal_jpeg_pixels" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |           FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(w*h AS BIGINT) AS n_pix, CAST(1 AS BIGINT) AS err_bounded
        |FROM d ORDER BY doc_id""".stripMargin,
    // Color twin: same closed-form structure; the engine must run the full
    // 3-band Huffman/IDCT/YCbCr(+chroma upsample) pipeline and land every
    // R/G/B sample within 12 counts of the planted gradient (measured
    // codec worst: 4; any band-order/stride bug: >= ~30).
    "multimodal_jpeg_rgb" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |           FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(w*h AS BIGINT) AS n_pix, CAST(1 AS BIGINT) AS err_bounded
        |FROM d ORDER BY doc_id""".stripMargin,
    // Nearest-neighbor resize to 5x4: source index = floor(out*src/target),
    // all-integer, applied to the same closed-form pixels.
    "multimodal_resize_px" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
        |                  1 + doc_id % 4 AS ch FROM documents),
        |px AS (SELECT d.doc_id, d.ch,
        |              (d.doc_id*31 + ((x*d.w) // 5)*7 + ((y*d.h) // 4)*13
        |               + c*101) % 256 AS v
        |       FROM d, unnest(range(0, 5)) AS tx(x),
        |            unnest(range(0, 4)) AS ty(y),
        |            unnest(range(0, d.ch)) AS tc(c))
        |SELECT doc_id, CAST(5 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       CAST(ch AS BIGINT) AS channels, count(*) AS n_pix,
        |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
        |FROM px GROUP BY doc_id, ch ORDER BY doc_id""".stripMargin,
  )
}
