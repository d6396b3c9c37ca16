package graft.uts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native analogue of the reference's `TSDB` / `Series` facade
  * (`/root/reference/uts.ts:239-384, 523-556`).
  *
  * A "series" is an immutable DataFrame with an epoch-ms `time` column;
  * mutation verbs (`insert`, `remove`, retention) return new series — the
  * snapshot-rewrite model that replaces the reference's in-place array
  * mutation. A [[Tsdb]] resolves names to parquet tables under a directory
  * (the driver corpus layout) or registered temp views.
  */
final case class UtsSeries(
    df: DataFrame,
    timeCol: String = "time",
    seqCol: Option[String] = None,
    rawTimeNs: Option[String] = None) {

  /** Append rows (uts.ts:275-278). Missing columns stay NULL — the SQL model
    * of the reference's absent-column semantics (uts.ts:187-196).
    */
  def insert(rows: DataFrame): UtsSeries =
    copy(df = df.unionByName(rows, allowMissingColumns = true))

  /** Delete rows matching ALL comparators; no-arg deletes everything
    * (uts.ts:326-335). The reference keeps points where the predicate is
    * false — and a missing column makes each comparator false (uts.ts:297) —
    * so rows where the SQL predicate is NULL must be KEPT: hence the
    * `coalesce(pred, false)` before negation (plain `NOT pred` would drop
    * NULL-predicate rows).
    */
  def remove(preds: Seq[Filter] = Nil): UtsSeries =
    if (preds.isEmpty) copy(df = df.limit(0))
    else copy(df = df.filter(!coalesce(Pred.conj(preds), lit(false))))

  /** Retention sweep (uts.ts:250-269): keep rows with `time >= now − ttl`.
    * Set-based, so the reference's ascending-arrival assumption (Q12)
    * disappears; at scale this is a date-partition drop, in streams a
    * watermark (see graft.streaming).
    */
  def retain(ttlMs: Long, nowMs: Long): UtsSeries =
    if (ttlMs == 0L) this // ttl=0 keeps everything (uts.ts:253-255)
    else {
      val cut = nowMs - ttlMs
      // Redundant raw bound so the retention filter prunes row groups.
      val pred = rawTimeNs
        .map(raw => col(timeCol) >= lit(cut) && RawTime.ge(df, raw, cut))
        .getOrElse(col(timeCol) >= lit(cut))
      copy(df = df.filter(pred))
    }

  /** [[retain]] anchored at the series' own newest point, computed IN-PLAN
    * (broadcast max, no driver action) — the retention anchor for queries
    * that carry no time anchor of their own (global/categorical groups).
    * The newest point is the batch analog of the reference sweep's
    * wall-clock `now` (uts.ts:257-269): deterministic per corpus.
    */
  def retainLatest(ttlMs: Long): UtsSeries =
    if (ttlMs == 0L) this
    else {
      val mx = df.agg(max(col(timeCol)).as("__uts_now"))
      copy(df = df.crossJoin(broadcast(mx))
        .filter(col(timeCol) >= col("__uts_now") - ttlMs)
        .drop("__uts_now"))
    }

  /** Run a query (uts.ts:362-375). */
  def query(q: UtsQuery): DataFrame =
    UtsCompiler.run(df, q.copy(timeCol = timeCol, seqCol = seqCol, rawTimeNs = rawTimeNs))

  def derivative(valueCol: String, intervalMs: Long, partitionCols: Seq[String] = Nil): DataFrame =
    Derivative(df, valueCol, intervalMs, timeCol, partitionCols, seqCol)
}

/** Mutable database facade mirroring the reference's `TSDB`
  * (`/root/reference/uts.ts:523-556`): a string-keyed registry of series with
  * get-or-create access (uts.ts:540-547), a default retention TTL applied to
  * series created after it is set (uts.ts:526,531-533,543), and `destroy`
  * (uts.ts:552-555).
  *
  * Differences by design: series are immutable DataFrames, so the mutation
  * verbs rebind the name to a new snapshot (the reference mutates an array in
  * place); retention is enforced lazily at query time against the query's
  * `nowMs` (the reference sweeps on a 1 s timer — a wall-clock side effect
  * batch plans must not depend on; streams get the same bound from
  * watermarks, see graft.streaming).
  */
final class UtsDb(
    spark: org.apache.spark.sql.SparkSession,
    dir: Option[String] = None,
    timeCol: String = "time") {
  private val seriesMap = scala.collection.mutable.LinkedHashMap.empty[String, UtsSeries]
  private val retentionMs = scala.collection.mutable.Map.empty[String, Long]
  private var defaultRetentionMs: Long = 0L

  /** TTL applied to series created from now on (uts.ts:531-533); existing
    * series keep theirs (the reference only stamps new series too).
    */
  def defaultRetention(ttlMs: Long): this.type = { defaultRetentionMs = ttlMs; this }

  def setRetention(name: String, ttlMs: Long): this.type = {
    series(name); retentionMs(name) = ttlMs; this
  }

  /** Get-or-create (uts.ts:540-547): resolves `dir/<name>.parquet` when a
    * corpus directory is bound and the table exists; otherwise an empty
    * series with just the time column. Existence goes through Hadoop's
    * `FileSystem` (scheme-resolved from the path), not `java.io.File` — a
    * 100 TB corpus lives on HDFS/S3, where a local-filesystem probe would
    * report every table absent.
    */
  def series(name: String): UtsSeries =
    seriesMap.getOrElseUpdate(name, {
      retentionMs(name) = defaultRetentionMs
      val loaded = dir
        .map(d => new org.apache.hadoop.fs.Path(s"$d/$name.parquet"))
        .filter(p =>
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        .map(p => Tsdb.readParquet(spark, p.toString))
      loaded match {
        // A corpus table that stores `ts` but not the reserved time column
        // gets the same typed boundary as [[Tsdb.events]] — without it the
        // facade would hand back a series whose every query crashes on the
        // missing `time` (uts-shaped corpus tables are exactly the facade's
        // resolution contract).
        case Some(df)
            if timeCol == "time" && df.columns.contains("ts") &&
              !df.columns.contains(timeCol) =>
          UtsSeries(df.withColumn(timeCol, Tsdb.timeExprFor(df, "ts")),
            timeCol,
            seqCol = if (df.columns.contains("event_id")) Some("event_id") else None,
            rawTimeNs = Some("ts"))
        case Some(df) => UtsSeries(df, timeCol)
        case None => UtsSeries(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              timeCol, org.apache.spark.sql.types.LongType)))), timeCol)
      }
    })

  def insert(name: String, rows: DataFrame): this.type = {
    seriesMap(name) = series(name).insert(rows); this
  }

  def remove(name: String, preds: Seq[Filter] = Nil): this.type = {
    seriesMap(name) = series(name).remove(preds); this
  }

  /** Query with retention enforced as of the query's `nowMs` (for interval
    * groups), the given asOf, or — for anchor-less queries (global and
    * categorical groups) — the series' own newest point via
    * [[UtsSeries.retainLatest]], so retention holds for EVERY query shape,
    * not only time-anchored ones (the lazy, deterministic form of the
    * reference's eviction sweep).
    */
  def query(name: String, q: UtsQuery, asOfMs: Option[Long] = None): DataFrame = {
    val ttl = retentionMs.getOrElse(name, 0L)
    val now = asOfMs.orElse(q.group match {
      case IntervalGroup(_, _, n) => Some(n)
      case _ => None
    })
    val s = (ttl, now) match {
      case (t, Some(n)) if t > 0 => series(name).retain(t, n)
      case (t, None) if t > 0 => series(name).retainLatest(t)
      case _ => series(name)
    }
    s.query(q)
  }

  /** Drop every series binding (uts.ts:552-555). */
  def destroy(): Unit = { seriesMap.clear(); retentionMs.clear() }
}

object Tsdb {
  /** Open the driver corpus directory as a database of series. The `events`
    * table is the canonical uts-shaped series: `ts` becomes the reference's
    * epoch-ms `time` column at this single boundary (SURVEY.md §7.3#5);
    * `event_id` is the insertion-order tiebreak.
    *
    * `ts` is kept PHYSICAL (its stored type varies by corpus generation —
    * epoch-ns Long, TIMESTAMP_NTZ, or TIMESTAMP; see [[normalizeTs]]) so the
    * redundant raw-time predicates [[UtsCompiler]] and [[UtsSeries.retain]]
    * emit compare a bare stored column against a literal of ITS OWN type —
    * the only shape parquet row-group pruning accepts. A predicate on the
    * derived ms column never reaches the scan; one on `ts` does.
    */
  def events(spark: SparkSession, dir: String): UtsSeries = {
    val raw = readParquet(spark, s"$dir/events.parquet")
    UtsSeries(
      raw.withColumn("time", timeExprFor(raw, "ts")),
      timeCol = "time",
      seqCol = Some("event_id"),
      rawTimeNs = Some("ts"))
  }

  /** The epoch-ms `time` expression for a stored time column, typed per
    * corpus generation — the single derivation [[events]] and
    * [[UtsDb.series]] share.
    */
  private[uts] def timeExprFor(
      df: DataFrame, tsCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      // Integer `div`, not `/`: epoch-ns (~1.7e18) exceeds double's 2^53
      // exact range, so float division would corrupt the low-order ms.
      case LongType => expr(s"$tsCol div 1000000")
      // Wall-clock difference against the epoch: timezone-independent, and
      // truncation-equivalent to DuckDB's epoch_ms on the same naive value.
      case TimestampNTZType =>
        expr(s"timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $tsCol)")
      case TimestampType => expr(s"unix_micros($tsCol) div 1000")
      case other => throw new IllegalStateException(
        s"corpus column `$tsCol` has unsupported type $other")
    }
  }

  /** `events` with `ts` normalized to a raw epoch-nanosecond Long, whatever
    * the corpus generation wrote physically — see [[normalizeTs]] (a
    * TIMESTAMP(NANOS) corpus already reads as that Long, see [[readParquet]]);
    * DuckDB's `epoch_ms(ts)` truncates identically for every generation,
    * keeping the oracle comparable.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(readParquet(spark, s"$dir/events.parquet"))

  /** Physical file schema of the events table — what `readStream` (which
    * cannot infer) must be given. Distinct from `eventsRaw(...).schema`,
    * which reflects the POST-normalization Long type.
    */
  def eventsPhysicalSchema(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    readParquet(spark, s"$dir/events.parquet").schema

  /** Normalize the corpus `ts` column to an epoch-NANOSECOND Long. Corpus
    * generations differ: some write parquet TIMESTAMP(NANOS) (read as an
    * epoch-ns Long under the legacy nanos conf), newer ones TIMESTAMP(MICROS)
    * with `isAdjustedToUTC=false`, which Spark reads as TIMESTAMP_NTZ (or
    * TIMESTAMP when the writer flagged UTC adjustment). One boundary, three
    * physical types, one logical contract.
    *
    * The NTZ arm is a wall-clock difference against the epoch
    * (`timestampdiff` on NTZ operands), deliberately timezone-INDEPENDENT —
    * it matches DuckDB's `epoch_us/epoch_ms`, which read the same naive
    * value as UTC, on any session timezone. Works on streaming frames too
    * (pure projection).
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn(tsCol, expr(
          s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $tsCol) * 1000"))
      case TimestampType =>
        df.withColumn(tsCol, unix_micros(col(tsCol)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events corpus column `$tsCol` has unsupported type $other " +
            "(expected epoch-ns LongType, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job — the
    * driver-side footer read of [[graft.ops.Layout.readParquet]].
    *
    * The legacy nanos-as-long conf is set here, for every corpus read: a
    * TIMESTAMP(NANOS) column (which Spark 4 otherwise rejects with
    * [PARQUET_TYPE_ILLEGAL]) reads as the epoch-ns Long this engine
    * computes on, at schema conversion and at scan alike.
    */
  private[uts] def readParquet(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.ops.Layout.readParquet(spark, path)
  }
}
