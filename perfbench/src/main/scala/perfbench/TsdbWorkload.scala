package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamOps
import graft.uts._

/** The mixer/uts surface: a day of points streams in through dedup and
  * windowed stats, lands in a [[UtsDb]] series, is edited, swept and
  * snapshotted (write phase); a dashboard of [[UtsQuery]] panels reads the
  * snapshot (read phase). Many small jobs: driver planning and per-request
  * set-up dominate, executor kernels barely matter.
  *
  * Inputs (scale 1): three base days of 4,000 points each in
  * `events.parquet`, and one landing day of 4,000 points plus 200 planted
  * retransmissions in the second of two arrival files. Counts per event type,
  * NULL values, removed rows and duplicates are fixed by position; the seed
  * moves times, users and values only.
  */
final class TsdbWorkload extends Workload {
  import TsdbWorkload._

  private val Day = 86400000L
  private val Hour = 3600000L
  private val Day0 = 1699920000000L // a UTC midnight
  private val Now = Day0 + 4 * Day // end of the landing day
  private val Types = Vector("click", "view", "purchase", "scroll", "error")

  private var base: Vector[Ev] = Vector.empty
  private var landing: Vector[Ev] = Vector.empty // unique landing rows
  private var arrivals: Vector[Vector[Ev]] = Vector.empty // per file, with duplicates
  private var dir: Path = _
  private var pass = 0

  private var tumbleRows: Seq[Row] = Nil
  private var landedIds: Seq[Long] = Nil
  private var counts = Map.empty[String, Long]
  private var panels = Vector.empty[(String, Seq[Row])]

  private def gen(ctx: Ctx): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 7919L + 1)
    val perDay = ctx.scaled(4000)
    val users = 200
    var nextId = 1L
    def ev(day: Int, i: Int): Ev = {
      val t = Types(i % Types.size)
      val sec = rnd.nextInt(86400)
      val ms = if (i % 3 == 0) 0 else rnd.nextInt(1000) // ms-0 rows make time ties
      val tsMs = Day0 + day * Day + sec * 1000L + ms
      val user = rnd.nextInt(users).toLong
      val value: java.lang.Double =
        if (t == "view" && i % 50 == 1) null
        else java.lang.Double.valueOf(math.round(rnd.nextDouble() * 10000) / 100.0)
      val status: java.lang.Integer =
        if (i % 40 == 3) null else if (i % 20 == 7) 1 else 0
      val e = Ev(nextId, user, t, tsMs * 1000000L + (if (ms == 0) 0 else rnd.nextInt(1000000)),
        value, status, Seq("eu", "us", "apac")((user % 3).toInt))
      nextId += 1
      e
    }
    base = (0 until 3).flatMap(d => (0 until perDay).map(i => ev(d, i))).toVector
    landing = (0 until perDay).map(i => ev(3, i)).toVector
    // Arrival files: the landing rows in a seeded order, cut into two
    // files; each planted retransmission is a copy of a row from an earlier
    // file, so it must be dropped by state carried across micro-batches.
    val order = shuffle(landing, rnd)
    val files = 2
    val per = (order.size + files - 1) / files
    val cut = order.grouped(per).toVector
    val dups = ctx.scaled(200)
    arrivals = cut.zipWithIndex.map { case (rows, f) =>
      if (f == 0) rows
      else rows ++ (0 until dups / (files - 1)).map { _ =>
        val from = cut(rnd.nextInt(f)); from(rnd.nextInt(from.size))
      }
    }
  }

  private def shuffle[T](v: Vector[T], rnd: java.util.SplittableRandom): Vector[T] = {
    val a = v.toArray[Any]
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toVector.asInstanceOf[Vector[T]]
  }

  private def frame(ctx: Ctx, rows: Seq[Ev]): DataFrame =
    ctx.spark.createDataFrame(rows.map(_.row).asJava, Schema)

  def setup(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("tsdb")
    gen(ctx)
    frame(ctx, base).write.parquet(dir.resolve("base/events.parquet").toString)
    val landingDir = Files.createDirectories(dir.resolve("landing"))
    arrivals.zipWithIndex.foreach { case (rows, f) =>
      val stage = dir.resolve(s"stage/$f")
      frame(ctx, rows).coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = Files.move(part, landingDir.resolve(f"arrival-$f%02d.parquet"))
      // The file source takes files in modification-time order: pin it.
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000000L + f * 1000L))
    }
    Files2.delete(dir.resolve("stage"))
  }

  def reset(ctx: Ctx): Unit = {
    pass += 1
    Seq("landed", "ckpt", "snap").foreach(d => Files2.delete(dir.resolve(d)))
  }

  def storedBytes: Long = Files2.sizeBytes(dir.resolve("snap"))

  def writePhase(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val landed = dir.resolve("landed").toString
    ctx.op("ingest_dedup") {
      val src = ctx.span("spark", "read_stream") {
        spark.readStream.schema(Schema).option("maxFilesPerTrigger", "1")
          .parquet(dir.resolve("landing").toString)
          .withColumn("ts_event", timestamp_micros(expr("ts div 1000")))
      }
      val q = ctx.span("streaming", "dedup_stream") {
        StreamOps.dedupStream(src, "ts_event", Seq("event_id"), watermarkDelay = "48 hours")
          .drop("ts_event")
          .writeStream.format("parquet")
          .option("path", landed)
          .option("checkpointLocation", dir.resolve("ckpt/dedup").toString)
          .trigger(Trigger.AvailableNow()).start()
      }
      ctx.span("streaming", "drain") { q.awaitTermination() }
    }
    ctx.op("ingest_stats") {
      val name = s"tsdb_tumble_$pass"
      val src = spark.readStream.schema(Schema).parquet(landed)
        .withColumn("ts_event", timestamp_micros(expr("ts div 1000")))
      val q = ctx.span("streaming", "tumbling_stats") {
        StreamOps.tumblingStats(src, widthSeconds = 3600, watermarkDelay = "48 hours",
          tsCol = "ts_event")
          .writeStream.format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", dir.resolve("ckpt/tumble").toString)
          .trigger(Trigger.AvailableNow()).start()
      }
      ctx.span("streaming", "drain") { q.awaitTermination() }
      tumbleRows = ctx.span("spark", "collect") {
        spark.table(name).select(unix_millis(col("win_start")), col("event_type"), col("n"),
          col("mean_value"), col("sum_value")).orderBy(col("win_start"), col("event_type"))
          .collect().toSeq
      }
      spark.catalog.dropTempView(name)
      ctx.output("ingest_stats", tumbleRows)
    }
    val db = ctx.span("uts", "open") { new UtsDb(spark, Some(dir.resolve("base").toString)) }
    def count(step: String): Unit = {
      val n = ctx.span("spark", "count") { db.series("events").df.count() }
      counts += step -> n
      ctx.output(step, Seq(Row(n)))
    }
    ctx.op("insert") {
      val rows = spark.read.parquet(landed).withColumn("time", expr("ts div 1000000"))
      landedIds = ctx.span("spark", "collect") {
        rows.select("event_id").collect().map(_.getLong(0)).toSeq
      }
      ctx.span("uts", "insert") { db.insert("events", rows) }
      count("insert")
    }
    ctx.op("remove") {
      ctx.span("uts", "remove") { db.remove("events", Seq(Pred.eq("status", 1))) }
      count("remove")
    }
    var kept: UtsSeries = null
    ctx.op("retain") {
      kept = ctx.span("uts", "retain") { db.series("events").retain(3 * Day, Now) }
      val n = ctx.span("spark", "count") { kept.df.count() }
      counts += "retain" -> n
      ctx.output("retain", Seq(Row(n)))
    }
    ctx.op("snapshot") {
      // Sorted by the stored time so every file and row group covers one
      // time range: time predicates of the panels prune them.
      ctx.span("spark", "write") {
        kept.df.drop("time").orderBy(col("ts"), col("event_id"))
          .write.parquet(dir.resolve("snap/events.parquet").toString)
      }
    }
  }

  def readPhase(ctx: Ctx): Unit = {
    val snap = dir.resolve("snap").toString
    val out = Vector.newBuilder[(String, Seq[Row])]
    def panel(name: String)(build: UtsSeries => DataFrame): Unit = ctx.op(name) {
      val df = ctx.span("uts", name) { build(Tsdb.events(ctx.spark, snap)) }
      val rows = ctx.span("spark", "collect") { df.collect().toSeq }
      ctx.output(name, rows)
      out += name -> rows
    }
    panel("hourly")(_.query(UtsQuery(
      Seq("mean" -> Mean("value"), "sum" -> SumM("value"), "n" -> CountM(), "nv" -> CountM(Some("value"))),
      Seq(Pred.gt("time", Now - 24 * Hour)), IntervalGroup(Hour, fill = true, Now))))
    panel("quarter_extremes")(_.query(UtsQuery(
      Seq("max" -> MaxM("value"), "min" -> MinM("value"), "last" -> Last("value"), "n" -> CountM(),
        "values" -> MapCol("value")),
      Seq(Pred.gt("time", Now - 6 * Hour), Pred.eq("event_type", "purchase"), Pred.lt("user_id", 10L)),
      IntervalGroup(15 * 60000L, fill = true, Now))))
    panel("by_type")(_.query(UtsQuery(
      Seq("n" -> CountM(), "mean" -> Mean("value"), "max" -> MaxM("value"), "last" -> Last("value"),
        "qmax" -> Quirk.max("value"), "qmin" -> Quirk.min("value"), "qsum" -> Quirk.sum("value")),
      Nil, ColumnGroup(Seq("event_type")))))
    panel("derivative") { s =>
      s.copy(df = s.df.filter(col("user_id") < 4 && col("event_type") === "click"))
        .derivative("value", Hour, Seq("user_id"))
    }
    panel("disjunction_fold")(_.query(UtsQuery(
      Seq("n" -> CountM(), "mean" -> Mean("value"),
        "ewma" -> OrderedFold.metric("value", 0.0, (acc, v) => acc * 0.9 + v)),
      Seq(Pred.gt("time", Now - 24 * Hour),
        Pred.disj(Pred.eq("event_type", "purchase"), Pred.gt("value", 95.0))),
      ColumnGroup(Seq("region")))))
    panels = out.result()
  }

  // ------------------------------------------------------------- checks

  private def asSeq(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toSeq
    case x => x
  }

  def check(ctx: Ctx): Seq[String] = {
    val errs = Seq.newBuilder[String]
    // Streamed dedup survivors: every landing event exactly once.
    val want = landing.map(_.id).sorted
    if (landedIds.sorted != want)
      errs += s"ingest_dedup: ${landedIds.size} survivors (${landedIds.distinct.size} distinct), expected ${want.size}"
    // Window stats: a batch computation over the landed rows.
    val stats = landing.groupBy(e => (Math.floorDiv(e.tsNs / 1000000L, Hour) * Hour, e.tpe)).toSeq
      .sortBy(_._1).map { case ((w, t), es) =>
        val vs = es.flatMap(e => Option(e.value).map(_.doubleValue))
        val sv = vs.map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        Seq[Any](w, t, es.size.toLong, if (vs.isEmpty) 0.0 else sv / vs.size, if (vs.isEmpty) 0.0 else sv)
      }
    errs ++= Same.rows("ingest_stats", tumbleRows.map(asSeq), stats)
    // Read-your-writes counts.
    val all = base ++ landing
    val afterRemove = all.filter(e => !(e.status != null && e.status == 1))
    val afterRetain = afterRemove.filter(_.tsNs / 1000000L >= Now - 3 * Day)
    for ((step, n) <- Seq("insert" -> all.size, "remove" -> afterRemove.size, "retain" -> afterRetain.size))
      if (!counts.get(step).contains(n.toLong))
        errs += s"$step: read back ${counts.getOrElse(step, -1L)} rows, expected $n"
    // Panels: the reference semantics over the same rows.
    val ref = new TsdbReference(afterRetain.map(_.point), Now)
    val expected = ref.panels
    for ((name, rows) <- panels)
      errs ++= Same.rows(name, rows.map(asSeq), expected(name))
    if (panels.size != expected.size) errs += s"${panels.size} panels ran, expected ${expected.size}"
    errs.result()
  }
}

object TsdbWorkload {
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType),
    StructField("status", IntegerType),
    StructField("region", StringType, nullable = false)))

  final case class Ev(id: Long, user: Long, tpe: String, tsNs: Long,
      value: java.lang.Double, status: java.lang.Integer, region: String) {
    def row: Row = Row(id, user, tpe, tsNs, value, status, region)
    def point: Point = Point(tsNs / 1000000L, id, user, tpe,
      Option(value).map(_.doubleValue), region)
  }
}

/** One point as the reference sees it: epoch-ms time, insertion tiebreak. */
final case class Point(time: Long, seq: Long, user: Long, tpe: String,
    value: Option[Double], region: String)

/** The uts reference semantics, written out in plain code over the same
  * points: end-aligned bins with zero-fill, last by (time, seq), the
  * derivative grid, `Quirk` NaN poisoning and an ordered fold. Each panel's
  * expected rows, in the order the query returns them.
  */
final class TsdbReference(points: Seq[Point], now: Long) {
  private val Hour = 3600000L
  private val ordered = points.sortBy(p => (p.time, p.seq))

  private def mean(ps: Seq[Point]): Double = {
    val vs = ps.flatMap(_.value); if (vs.isEmpty) 0.0 else vs.sum / vs.size
  }
  private def sum(ps: Seq[Point]): Double = ps.flatMap(_.value).sum
  private def orNull(v: Option[Double]): Any = v.getOrElse(null)
  private def maxV(ps: Seq[Point]): Any = orNull(ps.flatMap(_.value).maxOption)
  private def minV(ps: Seq[Point]): Any = orNull(ps.flatMap(_.value).minOption)
  private def last(ps: Seq[Point]): Any =
    if (ps.isEmpty) null else orNull(ps.maxBy(p => (p.time, p.seq)).value)
  private def quirk(ps: Seq[Point], f: Seq[Double] => Double): Double =
    if (ps.exists(_.value.isEmpty) || ps.exists(_.value.exists(_.isNaN))) Double.NaN
    else f(ps.flatMap(_.value))

  /** End-aligned bins: bin i covers (now-(i+1)w, now-iw]; with a `time > b`
    * bound there are floor((now-b)/w)+1 bins, newest first.
    */
  private def bins(ps: Seq[Point], w: Long, b: Long)(f: Seq[Point] => Seq[Any]): Seq[Seq[Any]] = {
    val inRange = ps.filter(p => p.time > b && p.time <= now)
    val by = inRange.groupBy(p => Math.floorDiv(now - p.time, w))
    val count = Math.floorDiv(now - b, w) + 1
    (0L until count).map { i =>
      Seq[Any](now - (i + 1) * w, w) ++ f(by.getOrElse(i, Nil))
    }
  }

  private def byCol[K: Ordering](ps: Seq[Point], key: Point => K)(f: Seq[Point] => Seq[Any]): Seq[Seq[Any]] =
    ps.groupBy(key).toSeq.sortBy(_._1).map { case (k, g) => k +: f(g) }

  def panels: Map[String, Seq[Seq[Any]]] = {
    val ps = points
    val m = Map.newBuilder[String, Seq[Seq[Any]]]
    m += "hourly" -> bins(ps, Hour, now - 24 * Hour)(g =>
      Seq(mean(g), sum(g), g.size.toLong, g.count(_.value.nonEmpty).toLong))
    m += "quarter_extremes" -> bins(
      ps.filter(p => p.tpe == "purchase" && p.user < 10), 15 * 60000L, now - 6 * Hour)(g =>
      Seq(maxV(g), minV(g), last(g), g.size.toLong, g.sortBy(p => (p.time, p.seq)).map(p => orNull(p.value))))
    m += "by_type" -> byCol(ps, _.tpe)(g => Seq(g.size.toLong, mean(g), maxV(g), last(g),
      quirk(g, vs => math.max(if (vs.isEmpty) 0.0 else vs.max, 0.0)),
      quirk(g, vs => math.min(if (vs.isEmpty) 0.0 else vs.min, 0.0)),
      quirk(g, vs => vs.sum)))
    m += "derivative" -> ordered.filter(p => p.user < 4 && p.tpe == "click")
      .groupBy(_.user).toSeq.sortBy(_._1).flatMap { case (u, g) => derivative(g).map(u +: _) }
    m += "disjunction_fold" -> byCol(ordered.filter(p => p.time > now - 24 * Hour &&
      (p.tpe == "purchase" || p.value.exists(_ > 95.0))), _.region)(g =>
      Seq(g.size.toLong, mean(g), g.flatMap(_.value).foldLeft(0.0)((acc, v) => acc * 0.9 + v)))
    m.result()
  }

  /** The derivative grid of one series (points already in (time, seq)
    * order): per-point deltas land in bucket max(ceil((t-t0)/I), 1), empty
    * buckets emit 0, and the last bucket is stamped at the last point's time.
    */
  private def derivative(g: Seq[Point]): Seq[Seq[Any]] = {
    val t0 = g.head.time
    val tmax = g.last.time
    def k(t: Long): Long = math.max(math.ceil((t - t0) / Hour.toDouble).toLong, 1L)
    val vs = g.map(_.value.get)
    val deltas = g.indices.map(i => if (i == 0) 0.0 else vs(i) - vs(i - 1))
    val byK = g.indices.groupBy(i => k(g(i).time)).map { case (b, is) => b -> is.map(deltas).sum }
    val kmax = k(tmax)
    (1L to kmax).map { b =>
      Seq[Any](if (b == kmax) tmax else t0 + b * Hour, byK.getOrElse(b, 0.0))
    }
  }
}
