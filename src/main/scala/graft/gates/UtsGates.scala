package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.uts._
import Shared._

/** The mixer/uts query surface over the events table: interval, column and
  * global groupings, filters, derivatives, ordered folds and mapper
  * functions, M4 downsampling, the fold-from-0 quirk metrics, removal,
  * retention, per-type trends and the `UtsDb` facade lifecycle.
  */
private[graft] object UtsGates extends GateFamily {
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
  gate("uts_interval_mean", utsIntervalMean,
    s"""WITH p AS ($EvCte),
       |mx AS (SELECT max(time) AS now FROM p),
       |f AS (SELECT time, value, now FROM p, mx WHERE time > now - 604800000 AND time <= now),
       |a AS (SELECT CAST(floor((now - time)/3600000.0) AS BIGINT) AS k,
       |             avg(value) AS m, count(*) AS n FROM f GROUP BY 1),
       |s AS (SELECT unnest(range(0, 169)) AS k, now FROM mx)
       |SELECT s.now - (s.k+1)*3600000 AS bin_start, 3600000 AS bin_width,
       |       round(coalesce(a.m, 0), 4) AS mean_value, coalesce(a.n, 0) AS n
       |FROM s LEFT JOIN a ON s.k = a.k ORDER BY bin_start DESC""".stripMargin)

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
  gate("uts_global_metrics", utsGlobalMetrics,
    s"""WITH p AS ($EvCte)
       |SELECT round(coalesce(avg(value), 0), 4) AS mean_value,
       |       round(coalesce(sum(value), 0), 4) AS sum_value,
       |       count(*) AS n_all, count(value) AS n_value,
       |       max(value) AS max_value, min(value) AS min_value,
       |       (SELECT value FROM p ORDER BY time DESC, event_id DESC LIMIT 1) AS last_value
       |FROM p""".stripMargin)

  private def utsCountByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).query(UtsQuery(
      Seq("n" -> CountM(), "n_value" -> CountM(Some("value")),
        "sum_value" -> SumM("value"), "mean_value" -> Mean("value")),
      group = ColumnGroup(Seq("event_type"))))
      .select(col("event_type"), col("n"), col("n_value"),
        round(col("sum_value"), 4).as("sum_value"),
        round(col("mean_value"), 4).as("mean_value"))
      .orderBy(col("event_type"))
  gate("uts_count_by_type", utsCountByType,
    """SELECT event_type, count(*) AS n, count(value) AS n_value,
      |       round(coalesce(sum(value), 0), 4) AS sum_value,
      |       round(coalesce(avg(value), 0), 4) AS mean_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  private def utsWhereFilter(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .filter(Pred.conj(Seq(Pred.gt("value", 150.0), Pred.eq("event_type", "purchase"))))
      .select(col("event_id"), col("time"), col("value"))
      .orderBy(col("event_id"))
  gate("uts_where_filter", utsWhereFilter,
    s"""SELECT event_id, epoch_ms(ts) AS time, value FROM events
       |WHERE value > 150.0 AND event_type = 'purchase' ORDER BY event_id""".stripMargin)

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
  gate("uts_where_disj", utsWhereDisj,
    s"""SELECT event_id, epoch_ms(ts) AS time, value, event_type FROM events
       |WHERE (value > 180.0 OR event_type = 'signup') AND event_type < 'v'
       |ORDER BY event_id""".stripMargin)

  private def utsLastInterval(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val now = nowOf(e, dir)
    e.query(UtsQuery(
      Seq("last_value" -> Last("value")),
      where = Seq(Pred.gt("time", now - 3 * Day)),
      group = IntervalGroup(6 * Hour, fill = false, now)))
      .orderBy(col("bin_start").desc)
  }
  // Last-in-bin via an explicit (time, event_id) DESC window — an
  // arithmetic tiebreak key (time·10⁶ + id) would silently collide once
  // ids pass 10⁶, and arg_max can't take a composite key.
  gate("uts_last_interval", utsLastInterval,
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
       |FROM a ORDER BY bin_start DESC""".stripMargin)

  private def utsMapSeries(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      ev(s, dir).df.filter(col("user_id") === 7)
        .select(col("event_id"), col("time"), col("value")),
      "time", "event_id")
  gate("uts_map_series", utsMapSeries,
    """SELECT event_id, epoch_ms(ts) AS time, value FROM events
      |WHERE user_id = 7 ORDER BY time, event_id""".stripMargin)

  // Derivative.apply already emits (partitionCols, der_time) order; the
  // narrow projection preserves it — no second sort.
  private def utsDerivative(s: SparkSession, dir: String): DataFrame =
    graft.uts.Derivative(
      ev(s, dir).df.filter(col("user_id") === 1),
      "value", 6 * Hour, "time", Nil, Some("event_id"))
      .select(col("der_time"), round(col("der_value"), 4).as("der_value"))
  gate("uts_derivative", utsDerivative,
    s"""WITH p AS (SELECT epoch_ms(ts) AS t, event_id, value FROM events WHERE user_id = 1),
       |d AS (SELECT t, coalesce(value - lag(value) OVER (ORDER BY t, event_id), 0) AS delta FROM p),
       |m AS (SELECT min(t) AS t0, max(t) AS tmax FROM p),
       |a AS (SELECT greatest(CAST(ceil((d.t - m.t0)/21600000.0) AS BIGINT), 1) AS k,
       |             sum(d.delta) AS dv FROM d, m GROUP BY 1),
       |km AS (SELECT greatest(CAST(ceil((tmax - t0)/21600000.0) AS BIGINT), 1) AS kmax, t0, tmax FROM m),
       |s AS (SELECT unnest(range(1, kmax + 1)) AS k, t0, tmax, kmax FROM km)
       |SELECT CASE WHEN s.k = s.kmax THEN s.tmax ELSE s.t0 + s.k*21600000 END AS der_time,
       |       round(coalesce(a.dv, 0), 4) AS der_value
       |FROM s LEFT JOIN a ON s.k = a.k ORDER BY der_time""".stripMargin)

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
  gate("uts_derivative_by_user", utsDerivativeByUser,
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
       |ORDER BY s.user_id, der_time""".stripMargin)

  private def utsRemove(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).remove(Seq(Pred.eq("event_type", "purchase")))
      .query(UtsQuery(Seq("n" -> CountM()), group = ColumnGroup(Seq("event_type"))))
      .orderBy(col("event_type"))
  gate("uts_remove", utsRemove,
    """SELECT event_type, count(*) AS n FROM events
      |WHERE NOT coalesce(event_type = 'purchase', false)
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  private def utsRetentionDaily(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val now = nowOf(e, dir)
    e.retain(10 * Day, now)
      .query(UtsQuery(Seq("n" -> CountM()), group = IntervalGroup(Day, fill = true, now)))
      .orderBy(col("bin_start").desc)
  }
  gate("uts_retention_daily", utsRetentionDaily,
    s"""WITH p AS (SELECT epoch_ms(ts) AS t FROM events),
       |mx AS (SELECT max(t) AS now FROM p),
       |r AS (SELECT t, now FROM p, mx WHERE t >= now - 864000000 AND t <= now),
       |m AS (SELECT min(t) AS t0, max(now) AS now FROM r),
       |a AS (SELECT CAST(floor((now - t)/86400000.0) AS BIGINT) AS k, count(*) AS n FROM r GROUP BY 1),
       |s AS (SELECT unnest(range(0, CAST(floor((now - t0)/86400000.0) AS BIGINT) + 1)) AS k, now FROM m)
       |SELECT s.now - (s.k+1)*86400000 AS bin_start, 86400000 AS bin_width,
       |       coalesce(a.n, 0) AS n
       |FROM s LEFT JOIN a ON s.k = a.k ORDER BY bin_start DESC""".stripMargin)

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
  // OLS trend from the same exact sufficient statistics, same final
  // parenthesization — bitwise-identical doubles before the round.
  gate("uts_trend_by_type", utsTrendByType,
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
      |FROM s ORDER BY event_type""".stripMargin)

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
  // M4 decimation: min/max plain, first/last re-derived by rank under the
  // shared (time, event_id) series order.
  gate("uts_m4_downsample", utsM4Downsample,
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
       |ORDER BY event_type, bucket_start""".stripMargin)

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
  // Ordered non-commutative fold: list_reduce's seedless first-element
  // init equals the engine's seed-0 fold for step acc*0.9+x, and the
  // list's ORDER BY (time, event_id) is the fold order being gated.
  gate("uts_reduce_fold", utsReduceFold,
    s"""WITH p AS ($EvCte)
       |SELECT user_id,
       |       round(coalesce(list_reduce(
       |           list(value ORDER BY time, event_id) FILTER (value IS NOT NULL),
       |           (acc, x) -> acc * 0.9 + x), 0.0), 4) AS ewma,
       |       count(value) AS n_value
       |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin)

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
  // The facade lifecycle's final state: two inserts (the second with NULL
  // value — the missing column), then remove keeps rows where the
  // predicate is false OR NULL.
  gate("uts_db_lifecycle", utsDbLifecycle,
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
       |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin)

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
  // The Mapper gate's fn (×2, null → -1) is exact in IEEE doubles, so the
  // values compare bitwise; the row_number over (time, event_id) is the
  // per-bin emit order being gated, in scalar form (see utsMapFn).
  gate("uts_map_fn", utsMapFn,
    s"""WITH p AS ($EvCte)
       |SELECT user_id,
       |       row_number() OVER (PARTITION BY user_id ORDER BY time, event_id) - 1 AS idx,
       |       coalesce(value * 2, -1.0) AS val
       |FROM p ORDER BY user_id, idx""".stripMargin)

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
  // Fold-from-0 quirk replicas: seed clamps max>=0 / min<=0; a bin with a
  // missing value (derived amount, absent on every 97th event) is NaN.
  gate("uts_quirk_metrics", utsQuirkMetrics,
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
       |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)
}
