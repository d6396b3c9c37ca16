package graft.uts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The query spec — the Spark-native analogue of the reference's
  * `Series.query({metrics, where, group})` options object
  * (`/root/reference/uts.ts:362-375`). Immutable; compiled to a single
  * declarative DataFrame chain by [[UtsCompiler.run]] so Catalyst gets the
  * whole plan (pushdown, pruning, partial aggregation — all free, SURVEY.md §4).
  *
  * @param metrics  named aggregates, one output column each (uts.ts:18-23)
  * @param where    AND-ed filter trees — comparator leaves (uts.ts:285-320), plus [[Or]] disjunction nodes (our extension; the reference is AND-only)
  * @param group    [[AnyGroup]] (default, uts.ts:368) or [[IntervalGroup]]
  * @param timeCol  epoch-millisecond LongType column (the reference's
  *                 reserved `time` column, uts.ts:179-181)
  * @param seqCol   insertion-order tiebreak for order-sensitive metrics
  * @param rawTimeNs  optional underlying STORED time column `timeCol` was
  *                 derived from — an epoch-ns Long, TIMESTAMP_NTZ, or
  *                 TIMESTAMP, by corpus generation ([[Tsdb.events]]). When
  *                 set, every time predicate also emits a redundant predicate
  *                 on the raw column in ITS OWN type ([[RawTime]]) —
  *                 predicates on the derived column cannot reach the parquet
  *                 scan, ones on the stored column prune row groups. At
  *                 100 TB this is the difference between scanning a day and
  *                 scanning the table.
  */
final case class UtsQuery(
    metrics: Seq[(String, Metric)],
    where: Seq[Filter] = Nil,
    group: Grouper = AnyGroup,
    timeCol: String = "time",
    seqCol: Option[String] = None,
    rawTimeNs: Option[String] = None)

/** Scan-prunable bounds on the STORED time column, typed to match it: a bare
  * `column ⋛ literal-of-the-column's-type` is the only comparison shape the
  * parquet source pushes to row-group stats. Bounds are ms-lattice exact for
  * every storage type (`time = floor(stored/1ms)`, all corpus values
  * positive), and NULL-SAFE: a row inserted without the stored column (legal
  * per the uts absent-column model, uts.ts:187-196) must never be dropped by
  * a REDUNDANT predicate, so each bound admits nulls and leaves the decision
  * to the authoritative `time` predicate beside it.
  */
private[uts] object RawTime {
  import org.apache.spark.sql.types._
  private def ntzLit(ms: Long): Column = lit(java.time.LocalDateTime.ofEpochSecond(
    Math.floorDiv(ms, 1000L), Math.floorMod(ms, 1000L).toInt * 1000000,
    java.time.ZoneOffset.UTC))
  private def typed(df: DataFrame, raw: String, ms: Long): Column =
    df.schema(raw).dataType match {
      case LongType => lit(ms * 1000000L)
      case TimestampNTZType => ntzLit(ms)
      case TimestampType => lit(java.time.Instant.ofEpochMilli(ms))
      case other => throw new IllegalStateException(
        s"stored time column `$raw` has unsupported type $other")
    }
  /** `raw >= msInclusive` (as a ms-floor bound), null-admitting. */
  def ge(df: DataFrame, raw: String, msInclusive: Long): Column =
    col(raw).isNull || col(raw) >= typed(df, raw, msInclusive)
  /** `raw < msExclusive` (as a ms-floor bound), null-admitting. */
  def lt(df: DataFrame, raw: String, msExclusive: Long): Column =
    col(raw).isNull || col(raw) < typed(df, raw, msExclusive)
}

object UtsCompiler {
  private val BucketCol = "__uts_bucket"

  /** Redundant raw-column predicates for time-column comparisons, so the scan
    * can prune row groups (`time = floor(raw/1ms)`, all values non-negative):
    * time > X ⟺ raw ≥ X+1 ms; time < X ⟺ raw < X ms; time = X ⟺ both.
    * Typed to the stored column via [[RawTime]].
    */
  private def rawTimeBounds(df: DataFrame, q: UtsQuery): Seq[Column] = q.rawTimeNs match {
    case None => Nil
    case Some(raw) =>
      def ms(v: Any): Option[Long] = v match {
        case l: Long => Some(l)
        case i: Int => Some(i.toLong)
        case _ => None
      }
      // Only conjunct-level (top-level Pred) time bounds translate to
      // redundant stored-column bounds: a time comparator INSIDE a
      // disjunction does not bound the result rows, so it must not prune.
      q.where.collect { case p: Pred if p.col == q.timeCol => p }.flatMap { p =>
        ms(p.than).toSeq.flatMap { x =>
          p.cmp match {
            case Cmp.Gt => Seq(RawTime.ge(df, raw, x + 1))
            case Cmp.Lt => Seq(RawTime.lt(df, raw, x))
            case Cmp.Eq => Seq(RawTime.ge(df, raw, x), RawTime.lt(df, raw, x + 1))
          }
        }
      }
  }

  /** Compile + run a [[UtsQuery]] against `df`.
    *
    * Output schema: interval grouping emits `bin_start, bin_width` (the
    * reference's `group: {start, width}`, uts.ts:126-129) followed by one
    * column per metric; [[ColumnGroup]] emits the group columns followed by
    * the metrics; [[AnyGroup]] emits a single row of metric columns only
    * (uts.ts:56-58).
    *
    * Output order: interval bins newest first (`bin_start` descending,
    * uts.ts:132-139 routing + test.js:143-154 ordering); column groups
    * ascending by the group columns, NULLs first. The order is produced in
    * ONE partition, never by a global `orderBy`, whose range-boundary
    * sampling costs every panel an extra job and an extra shuffle stage.
    * That is safe at 100 TB because the ordered rows are report-sized
    * whatever the input: the zero-fill spine has exactly `count` rows — one
    * per bin, `count` known when the plan is built — and a group result is
    * what the caller collects. The input scan and the aggregation stay fully
    * parallel; only the aggregated rows meet in one task.
    */
  def run(df: DataFrame, q: UtsQuery): DataFrame = {
    require(q.metrics.nonEmpty, "UtsQuery needs at least one metric")
    val ord = OrderCtx(col(q.timeCol), q.seqCol.map(col).getOrElse(lit(0L)))
    val aggs = q.metrics.map { case (name, m) => m.agg(ord).as(name) }
    val filtered = df.filter(
      rawTimeBounds(df, q).foldLeft(Pred.conj(q.where))(_ && _))

    q.group match {
      case AnyGroup =>
        // Global aggregate: exactly one output row even on empty input,
        // matching the reference's single always-present bin (uts.ts:153-162).
        filtered.groupBy().agg(aggs.head, aggs.tail: _*)

      case ColumnGroup(cols) =>
        graft.ops.Ordered.smallResult(
          filtered.groupBy(cols.map(col): _*).agg(aggs.head, aggs.tail: _*),
          cols: _*)

      case IntervalGroup(width, fill, now) =>
        // Q7: points after `now` are dropped (uts.ts:132-136) — as a set-based
        // filter, so the reference's ascending-order `break` dependence
        // disappears. The redundant raw bound makes it scan-prunable.
        val nowBound = q.rawTimeNs
          .map(raw => col(q.timeCol) <= lit(now) && RawTime.lt(filtered, raw, now + 1))
          .getOrElse(col(q.timeCol) <= lit(now))
        val inRange = filtered.filter(nowBound)
        // End-aligned bucketing (Q6, uts.ts:138): i = floor((now − t) / w).
        val bucket = floor((lit(now) - col(q.timeCol)) / lit(width)).cast("long")
        val grouped = inRange
          .withColumn(BucketCol, bucket)
          .groupBy(BucketCol)
          .agg(aggs.head, aggs.tail: _*)

        // Both arms leave the (report-sized) bins in ONE partition.
        val result =
          if (!fill) grouped.repartition(1)
          else {
            // Zero-fill (Q9, uts.ts:124-130,141-145): build the bin spine and
            // left-join aggregates onto it. Bin count derives from the
            // `where time >` bound when present (the reference's one
            // optimization, uts.ts:113-122), else from min(time) — computed
            // distributively (no collect); empty input ⇒ empty spine ⇒ empty
            // result rather than the reference's crash (Q8 decision S).
            val bound = q.where.collectFirst {
              case Pred(c, Cmp.Gt, v: Long) if c == q.timeCol => v
              case Pred(c, Cmp.Gt, v: Int) if c == q.timeCol => v.toLong
            }
            val spine = bound match {
              case Some(b) =>
                // floorDiv, not Scala's truncating `/`: a bound in
                // (now, now+width) makes now−b negative, where trunc yields
                // 0 (one spurious zero-filled bin) but the reference's
                // Math.floor yields −1 (empty spine, uts.ts:113-122).
                val count = math.max(Math.floorDiv(now - b, width) + 1L, 0L)
                df.sparkSession.range(0L, count, 1L, 1).select(col("id").as(BucketCol))
              case None =>
                inRange
                  .groupBy()
                  .agg(min(col(q.timeCol)).as("__t0"))
                  .where(col("__t0").isNotNull)
                  .select(explode(
                    sequence(lit(0L),
                      floor((lit(now) - col("__t0")) / lit(width)).cast("long")))
                    .as(BucketCol))
            }
            // Post-aggregation side is at most one row per bin — broadcast it
            // and stream the one-partition spine (a global aggregate when
            // unbounded) through the join, which keeps its partitioning.
            val joined = spine.join(broadcast(grouped), Seq(BucketCol), "left")
            val fills = q.metrics.map { case (name, m) =>
              m.emptyValue match {
                case Some(f) =>
                  val dt = grouped.schema(name).dataType
                  coalesce(col(name), f(dt)).as(name)
                case None => col(name)
              }
            }
            joined.select(col(BucketCol) +: fills: _*)
          }

        // Labels (uts.ts:126-129): start = now − (i+1)·w, width = w.
        val labeled = result.select(
          (lit(now) - (col(BucketCol) + 1) * lit(width)).as("bin_start") +:
          lit(width).as("bin_width") +:
          q.metrics.map { case (name, _) => col(name) }: _*)
        // Already one partition: the narrow coalesce states it, and the sort
        // needs no exchange (newest bin first, test.js:143-154).
        labeled.coalesce(1).sortWithinPartitions(col("bin_start").desc)
    }
  }
}
