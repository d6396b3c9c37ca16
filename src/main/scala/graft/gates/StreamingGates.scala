package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.uts._
import graft.SparkEntry.fixture
import Shared._

/** Structured-streaming gates: each replays a corpus through the file source
  * into a memory sink and must equal the batch re-derivation its oracle
  * computes.
  */
private[graft] object StreamingGates extends GateFamily {
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
  // Streaming batch-equivalence: the windowed streaming rollup must equal
  // the plain batch rollup over the same replayed data (epoch-aligned
  // 1-day windows ⇒ win_start = floor(time/day)·day).
  gate("stream_tumbling_daily", streamTumblingDaily,
    s"""WITH e AS ($EvCte)
       |SELECT (time // 86400000) * 86400000 AS win_start, event_type,
       |       count(*) AS n,
       |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
       |         AS sum_value
       |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)

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
  // Sliding-window re-derivation: 1-day windows every 12 h ⇒ each event
  // belongs to exactly the two epoch-aligned starts
  // floor(time/12h)·12h − i·12h for i ∈ {0,1} (both satisfy
  // time − win_start < 1 day when slide divides width).
  gate("stream_sliding_daily", streamSlidingDaily,
    s"""WITH e AS ($EvCte),
       |     w AS (SELECT e.*, ((time // 43200000) - i.i) * 43200000 AS win_start
       |           FROM e CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) i)
       |SELECT win_start, event_type, count(*) AS n,
       |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
       |         AS sum_value
       |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)

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
  // The replay's planted duplicates are COPIES of existing rows, so the
  // admitted key set must equal plain DISTINCT over the corpus — a
  // duplicate that survives the stream dedup shows up as an extra row.
  gate("stream_dedup_exact", streamDedupExact,
    s"""WITH e AS ($EvCte)
       |SELECT DISTINCT
       |  md5(CAST(user_id AS VARCHAR) || ':' || event_type || ':' ||
       |      CAST(time AS VARCHAR)) AS k
       |FROM e ORDER BY k""".stripMargin)

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
  // The streaming interval join must emit exactly the batch theta join's
  // pair set — a dropped-late row or an early state eviction loses pairs.
  gate("stream_join_attrib", streamJoinAttrib,
    s"""WITH e AS ($EvCte),
       |c AS (SELECT user_id, time AS click_ms FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, time AS purchase_ms FROM e WHERE event_type = 'purchase')
       |SELECT c.user_id, c.click_ms, p.purchase_ms
       |FROM c JOIN p ON p.user_id = c.user_id
       |              AND p.purchase_ms >= c.click_ms
       |              AND p.purchase_ms <= c.click_ms + ${3 * Day}
       |ORDER BY c.user_id, c.click_ms, p.purchase_ms""".stripMargin)

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
  // LEFT theta join: unconverted clicks appear with a NULL purchase —
  // the flush-sentinel replay must emit exactly this set.
  gate("stream_join_attrib_outer", streamJoinAttribOuter,
    s"""WITH e AS ($EvCte),
       |c AS (SELECT user_id, time AS click_ms FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, time AS purchase_ms FROM e WHERE event_type = 'purchase')
       |SELECT c.user_id, c.click_ms, p.purchase_ms
       |FROM c LEFT JOIN p ON p.user_id = c.user_id
       |                   AND p.purchase_ms >= c.click_ms
       |                   AND p.purchase_ms <= c.click_ms + ${3 * Day}
       |ORDER BY c.user_id, c.click_ms, p.purchase_ms""".stripMargin)

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
  // Streaming reorder-buffer replay of the same funnel over deliberately
  // out-of-order micro-batches — disorder is bounded by the watermark
  // delay, so the join-chain oracle gates it verbatim too.
  gate("stream_funnel_ordered", streamFunnelOrdered, FunnelStepsSql)

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
  // The windowed-distinct gate: the streamed dedup->count chain must equal
  // the batch COUNT(DISTINCT) per epoch-aligned day exactly (replay
  // disorder stays inside the watermark horizon).
  gate("stream_distinct_daily", streamDistinctDaily,
    s"""WITH e AS ($EvCte)
       |SELECT (time // 86400000) * 86400000 AS win_start, event_type,
       |       count(DISTINCT user_id) AS n_distinct
       |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)

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
  // The streamed KMV buffer is a deterministic function of each day's id
  // set — the batch re-derivation (same murmur lattice as
  // kmv_distinct_cust, grouped per day) must match EXACTLY.
  gate("stream_kmv_distinct", streamKmvDistinct,
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
       |FROM sk ORDER BY win_start, event_type""".stripMargin)

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
  // Stream-static enrichment: the streamed join-then-window must equal
  // the batch events ⋈ customer rollup per epoch day (inner join drops
  // nothing here — every user has exactly one customer row).
  gate("stream_static_enrich", streamStaticEnrich,
    s"""WITH e AS ($EvCte)
       |SELECT (time // 86400000) * 86400000 AS win_start, c.c_mktsegment,
       |       count(*) AS n
       |FROM e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2 ORDER BY win_start, c_mktsegment""".stripMargin)

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
  // Per-day CMS counters re-derived in batch HUGEINT (the cms_user_counts
  // lattice grouped by day); deterministic hash rows make the streamed
  // sketch a function of each day's key multiset — equality gate.
  gate("stream_cms_daily", streamCmsDaily,
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
       |ORDER BY d.win_start, p.user_id""".stripMargin)

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
  gate("stream_hist_quantiles", streamHistQuantiles, HistQuantilesDailySql)

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
  // Ordered-streaming derivative over the same out-of-order harness: the
  // uts_derivative_by_user grid re-derivation on non-NULL values, MINUS
  // each key's final bucket (a stream has no last point — the trailing
  // partial bucket stays in state, the documented deviation).
  gate("stream_derivative_ordered", streamDerivativeOrdered,
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
       |ORDER BY s.user_id, der_time""".stripMargin)

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
  // Final keyed state after the full in-order replay = the plain batch
  // aggregate (count + last value by (time, event_id)).
  gate("stream_running_last", streamRunningLast,
    """WITH p AS (SELECT user_id, epoch_ms(ts) AS t, event_id, value FROM events
      |           WHERE value IS NOT NULL)
      |SELECT user_id, count(*) AS n,
      |       round(first(value ORDER BY t DESC, event_id DESC), 4) AS last_value
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin)

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
  // The streaming session_window gate shares the batch twin's
  // lag/cumulative-break derivation (same 1800 s gap), minus the rollup.
  gate("stream_session_counts", streamSessionCounts,
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
       |ORDER BY event_type, sess_start""".stripMargin)

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

  /** §2.9 continuous LEADERBOARD gate: [[graft.streaming.StreamOps
    * .runningTopK]] — per-event-type most-active-users board maintained in
    * `flatMapGroupsWithState` across the out-of-order multi-batch replay,
    * final board = each key's max-generation emission (append sinks never
    * retract; the generation stamp makes "current" queryable). Counts are
    * order-insensitive and ties break deterministically, so the batch
    * count+rank oracle gates the final board exactly.
    */
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
  // The final streamed leaderboard must equal the batch count+rank board
  // (counts are order-insensitive; the (cnt DESC, user) tie-break is the
  // determinism contract on both sides).
  gate("stream_topk_users", streamTopkUsers,
    """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, cnt,
      |             row_number() OVER (PARTITION BY event_type
      |                                ORDER BY cnt DESC, user_id) AS rank
      |      FROM c)
      |SELECT event_type, rank, user_id, cnt FROM r WHERE rank <= 3
      |ORDER BY event_type, rank""".stripMargin)

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
  // The Misra-Gries board: identity + order of the top-3 must equal the
  // exact batch derivation (the MG guarantee holds — every top-3 gap in
  // the bucketed replay exceeds n/(capacity+1)); estimated counts are
  // order-dependent and intentionally absent from the contract.
  gate("stream_topk_users_mg", streamTopkUsersMg,
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
      |ORDER BY event_type, rank""".stripMargin)

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
  // The final streamed reservoir must equal the batch hash-rank heads
  // (bottom-k by (knuth-hash, id) is a pure function of the id set).
  gate("stream_sample_stratified", streamSampleStratified,
    """WITH r AS (SELECT event_type, event_id,
      |             row_number() OVER (PARTITION BY event_type
      |               ORDER BY (event_id * 2654435761) % 4294967296, event_id)
      |               AS sample_rank
      |           FROM events)
      |SELECT event_type, sample_rank, event_id FROM r WHERE sample_rank <= 5
      |ORDER BY event_type, sample_rank""".stripMargin)
}
