package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tumbling stats aggregate a memory stream by window and key") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val out = StreamOps.tumblingStats(df, widthSeconds = 10, watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode("update").start()
    try {
      input.addData(
        (new Timestamp(1000L), "a", 1.0),
        (new Timestamp(2000L), "a", 3.0),
        (new Timestamp(11000L), "a", 10.0),
        (new Timestamp(3000L), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select(col("win_start").cast("long"), col("event_type"), col("n"), col("mean_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq((0L, "a", 2L, 2.0), (0L, "b", 1L, 5.0), (10L, "a", 1L, 10.0)))
    } finally q.stop()
  }

  test("sliding stats land each event in width/slide overlapping windows") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val out = StreamOps.slidingStats(
      df, widthSeconds = 10, slideSeconds = 5, watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    try {
      // t=7 s belongs to windows [0,10) and [5,15); t=12 s to [5,15) and [10,20).
      input.addData(
        (new Timestamp(7000L), "a", 2.0),
        (new Timestamp(12000L), "a", 4.0))
      q.processAllAvailable()
      val rows = spark.table("sliding")
        .select(col("win_start").cast("long"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq((0L, "a", 1L, 2.0), (5L, "a", 2L, 6.0), (10L, "a", 1L, 4.0)))
    } finally q.stop()
  }

  test("slidingStats rejects a slide wider than the window") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val e = intercept[IllegalArgumentException] {
      StreamOps.slidingStats(df, widthSeconds = 10, slideSeconds = 20,
        watermarkDelay = "5 seconds")
    }
    assert(e.getMessage.contains("slide"))
  }

  test("session windows split on event-time gaps") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val out = StreamOps.sessionCounts(df, gapSeconds = 5, watermarkDelay = "2 seconds")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      input.addData(
        (new Timestamp(1000L), "a"), (new Timestamp(3000L), "a"),
        (new Timestamp(20000L), "a")) // > 5 s gap → second session
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select(col("sess_start").cast("long"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(rows.toSeq == Seq((1L, 2L), (20L, 1L)))
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicate fingerprints, first arrival wins") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "fp", "doc_id")
    val out = StreamOps.dedupStream(df, "ts", Seq("fp"), watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (new Timestamp(1000L), "aaa", 1L),
        (new Timestamp(2000L), "aaa", 2L), // dup within batch
        (new Timestamp(3000L), "bbb", 3L))
      q.processAllAvailable()
      input.addData((new Timestamp(4000L), "aaa", 4L)) // dup across batches, in horizon
      input.addData((new Timestamp(5000L), "ccc", 5L))
      q.processAllAvailable()
      val rows = spark.table("dedup")
        .select(col("fp"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(rows.toSeq == Seq(("aaa", 1L), ("bbb", 3L), ("ccc", 5L)))
    } finally q.stop()
  }

  test("intervalJoin emits each in-window pair once, across batches, window-inclusive") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp)]
    val buys = MemoryStream[(String, Timestamp)]
    val out = StreamOps.intervalJoin(
      clicks.toDF().toDF("user", "cts"), buys.toDF().toDF("user", "bts"),
      "user", "cts", "bts", windowMs = 5000L, watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      clicks.addData(("u1", new Timestamp(1000L)), ("u2", new Timestamp(1000L)))
      q.processAllAvailable()
      // Purchase arrives a batch later: u1 at the inclusive window edge
      // (1000+5000), u2 before its click's window, u3 with no click.
      buys.addData(("u1", new Timestamp(6000L)), ("u2", new Timestamp(900L)),
        ("u3", new Timestamp(2000L)))
      // A second u1 click AFTER the purchase arrived must still pair with
      // it (the right row is in state, not consumed).
      clicks.addData(("u1", new Timestamp(2000L)))
      q.processAllAvailable()
      val rows = spark.table("ivj")
        .select(col("user"), col("cts").cast("long"), col("bts").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      assert(rows.toSeq == Seq(("u1", 1L, 6L), ("u1", 2L, 6L)))
    } finally q.stop()
  }

  test("intervalJoin left_outer emits unmatched rows only after the watermark closes their window") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp)]
    val buys = MemoryStream[(String, Timestamp)]
    val out = StreamOps.intervalJoin(
      clicks.toDF().toDF("user", "cts"), buys.toDF().toDF("user", "bts"),
      "user", "cts", "bts", windowMs = 5000L, watermarkDelay = "2 seconds",
      joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ivjo")
      .outputMode("append").start()
    try {
      clicks.addData(("u1", new Timestamp(1000L)), ("u2", new Timestamp(1000L)))
      buys.addData(("u1", new Timestamp(3000L)))
      q.processAllAvailable()
      // u2 is unmatched but its window is still open — not emitted yet.
      assert(spark.table("ivjo").filter(col("bts").isNull).count() == 0L)
      // Far-future rows push the watermark past u2's window (1000+5000+2000).
      clicks.addData(("zz", new Timestamp(60000L)))
      buys.addData(("zz2", new Timestamp(60000L)))
      q.processAllAvailable()
      val rows = spark.table("ivjo")
        .filter(col("user").isin("u1", "u2"))
        .select(col("user"), col("cts").cast("long"),
          coalesce(col("bts").cast("long"), lit(-1L)))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      assert(rows.toSeq == Seq(("u1", 1L, 3L), ("u2", 1L, -1L)))
    } finally q.stop()
  }

  test("windowedDistinct dedups across a within-window gap longer than the watermark delay") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "event_type", "user_id")
    val out = StreamOps.windowedDistinct(df, widthSeconds = 10,
      watermarkDelay = "2 seconds", tsCol = "ts", keyCol = "event_type",
      idCol = "user_id")
    val q = out.writeStream.format("memory").queryName("wdist")
      .outputMode("append").start()
    try {
      // Window [0,10s): user 1 at 1 s AND 9 s — the 8 s gap exceeds the 2 s
      // watermark delay, so a first-occurrence-TTL dedup would re-admit and
      // count 3; keying dedup on the window must count exactly 2 (users 1, 2).
      input.addData((new Timestamp(1000L), "a", 1L))
      q.processAllAvailable()
      input.addData((new Timestamp(3000L), "a", 2L), (new Timestamp(9000L), "a", 1L))
      q.processAllAvailable()
      // Window [10,20s): the same user counts again in a NEW window.
      input.addData((new Timestamp(11000L), "a", 1L))
      q.processAllAvailable()
      // Far-future row flushes both windows past the watermark.
      input.addData((new Timestamp(100000L), "zz", 0L))
      q.processAllAvailable()
      val rows = spark.table("wdist")
        .filter(col("event_type") === "a")
        .select(col("win_start").cast("long"), col("n_distinct"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(rows.toSeq == Seq((0L, 2L), (10L, 1L)), rows.toSeq)
    } finally q.stop()
  }

  test("windowedHistogram maintains per-window log2 bucket counts matching the batch bucketing") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val out = StreamOps.windowedHistogram(df, widthSeconds = 10,
      watermarkDelay = "2 seconds", tsCol = "ts", keyCol = "event_type",
      valueCol = "value")
    val q = out.writeStream.format("memory").queryName("whist")
      .outputMode("append").start()
    try {
      // Window [0,10s): 0.5 → bucket −1; 3.0, 3.9 → bucket 1; 5.0 → bucket 2.
      input.addData((new Timestamp(1000L), "a", 0.5), (new Timestamp(2000L), "a", 3.0))
      q.processAllAvailable()
      // Cross-batch merge into the same (window, key, bucket) counter, plus
      // an in-horizon late row for bucket 1.
      input.addData((new Timestamp(5000L), "a", 5.0), (new Timestamp(4000L), "a", 3.9))
      q.processAllAvailable()
      // Window [10,20s): 300 → bucket 8 (256 ≤ 300 < 512).
      input.addData((new Timestamp(11000L), "a", 300.0))
      q.processAllAvailable()
      input.addData((new Timestamp(100000L), "zz", 1.0))
      q.processAllAvailable()
      val rows = spark.table("whist")
        .filter(col("event_type") === "a")
        .select(col("win_start").cast("long"), col("bucket"), col("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      assert(rows.toSeq == Seq(
        (0L, -1L, 1L), (0L, 1L, 2L), (0L, 2L, 1L), (10L, 8L, 1L)), rows.toSeq)
    } finally q.stop()
  }

  test("windowedKmvDistinct: streamed sketch equals the batch KMV on the same id sets") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "event_type", "user_id")
    val out = StreamOps.windowedKmvDistinct(df, widthSeconds = 10,
      watermarkDelay = "2 seconds", k = 8, tsCol = "ts", keyCol = "event_type",
      idCol = "user_id")
    val q = out.writeStream.format("memory").queryName("wkmv")
      .outputMode("append").start()
    try {
      // 30 distinct ids saturate k=8 across two batches (cross-batch merge);
      // duplicates must not change the buffer.
      input.addData((0L until 15L).map(i => (new Timestamp(1000L), "a", i)): _*)
      q.processAllAvailable()
      input.addData((10L until 30L).map(i => (new Timestamp(5000L), "a", i)): _*)
      q.processAllAvailable()
      input.addData((new Timestamp(100000L), "zz", 0L))
      q.processAllAvailable()
      val got = spark.table("wkmv").filter(col("event_type") === "a")
        .select(col("est_distinct"), col("kth"), col("n_buf")).head()
      val batch = graft.ops.Sketches.kmvDistinct(
        (0L until 30L).map(i => ("a", i)).toDF("event_type", "user_id"),
        Seq("event_type"), "user_id", k = 8).head()
      assert((got.getDouble(0), got.getLong(1), got.getInt(2)) ==
        (batch.getDouble(1), batch.getLong(2), batch.getInt(3)))
      assert(got.getInt(2) == 8) // saturated: state capped at k hashes
    } finally q.stop()
  }

  test("windowedCms: per-window counters merge across batches and never undercount") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val out = StreamOps.windowedCms(df, widthSeconds = 10,
      watermarkDelay = "2 seconds", depth = 4, width = 16L,
      tsCol = "ts", keyCol = "user_id")
    val q = out.writeStream.format("memory").queryName("wcms")
      .outputMode("append").start()
    try {
      // key 7 appears 3x split across two batches in window [0,10s).
      input.addData((new Timestamp(1000L), 7L), (new Timestamp(2000L), 7L),
        (new Timestamp(3000L), 3L))
      q.processAllAvailable()
      input.addData((new Timestamp(5000L), 7L), (new Timestamp(6000L), 9L))
      q.processAllAvailable()
      input.addData((new Timestamp(100000L), 0L))
      q.processAllAvailable()
      val sketch = spark.table("wcms")
        .filter(col("win_start").cast("long") === 0L)
        .select(col("d"), col("bucket"), col("cnt"))
      // State bound: at most depth*width counter rows per window.
      assert(sketch.count() <= 4 * 16)
      val est = graft.ops.Sketches.cmsProbes(spark, Seq(7L, 3L, 9L, 42L), "user_id", 4, 16L)
        .join(sketch, Seq("d", "bucket"), "left")
        .groupBy(col("user_id"))
        .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // est >= true always; exact when the key's rows are collision-free.
      assert(est(7L) >= 3L && est(3L) >= 1L && est(9L) >= 1L)
      assert(est(42L) <= est(7L)) // absent key bounded by collision mass
    } finally q.stop()
  }

  test("runningLastWithTtl keeps per-key count and last value") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.KeyedEvent]
    val out = StreamOps.runningLastWithTtl(spark, input.toDS(), ttlMs = 0)
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      input.addData(
        StreamOps.KeyedEvent("x", 100L, 1.0),
        StreamOps.KeyedEvent("x", 300L, 3.0),
        StreamOps.KeyedEvent("y", 200L, 2.0))
      q.processAllAvailable()
      input.addData(StreamOps.KeyedEvent("x", 400L, 4.0))
      q.processAllAvailable()
      val last = spark.table("running").groupBy($"key")
        .agg(max(struct($"n", $"last")).as("s"))
        .select($"key", $"s.n", $"s.last")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(last.toSeq == Seq(("x", 3L, 4.0), ("y", 1L, 2.0)))
    } finally q.stop()
  }

  test("runningTopK re-emits the board per touched batch; max generation is the current board") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.CountEvent]
    val out = StreamOps.runningTopK(spark, input.toDS(), k = 2)
    val q = out.writeStream.format("memory").queryName("topk")
      .outputMode("append").start()
    try {
      input.addData(StreamOps.CountEvent("a", 1L), StreamOps.CountEvent("a", 1L),
        StreamOps.CountEvent("a", 2L))
      q.processAllAvailable()
      // Batch 2 flips the leader: sub 2 gains two more counts.
      input.addData(StreamOps.CountEvent("a", 2L), StreamOps.CountEvent("a", 2L),
        StreamOps.CountEvent("b", 9L))
      q.processAllAvailable()
      val t = spark.table("topk").as[StreamOps.TopKRow].collect()
      val gen = t.filter(_.key == "a").map(_.gen).max
      val boardA = t.filter(r => r.key == "a" && r.gen == gen)
        .sortBy(_.rank).map(r => (r.rank, r.sub, r.cnt)).toSeq
      assert(boardA == Seq((1L, 2L, 3L), (2L, 1L, 2L)), boardA)
      // Key b was touched only in generation 1 of its own state.
      val boardB = t.filter(_.key == "b").map(r => (r.gen, r.rank, r.sub, r.cnt)).toSeq
      assert(boardB == Seq((1L, 1L, 9L, 1L)), boardB)
      // Earlier generations stay in the append sink (no retraction) — the
      // max-generation filter is the contract, not sink cleanliness.
      assert(t.count(_.key == "a") == 4)
    } finally q.stop()
  }

  test("bottomKSample: final reservoir equals the batch hash-rank heads, any batch split") {
    implicit val sql = spark.sqlContext
    val ids = (0L until 30L)
    def expect(k: Int): Seq[(Long, Long)] =
      ids.sortBy(id => (graft.ops.Sampling.idHashLong(id), id)).take(k)
        .zipWithIndex.map { case (id, i) => (i + 1L, id) }
    // Two different batch splits of the same ids must converge to the
    // identical board (pure function of the id set).
    for ((split, name) <- Seq(Seq(ids.take(7), ids.drop(7)) -> "bk1",
        Seq(ids.grouped(5).toSeq: _*) -> "bk2")) {
      val input = MemoryStream[StreamOps.SampleEvent]
      val out = StreamOps.bottomKSample(spark, input.toDS(), k = 4)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        for (batch <- split) {
          input.addData(batch.map(StreamOps.SampleEvent("t", _)): _*)
          q.processAllAvailable()
        }
        val t = spark.table(name).as[StreamOps.SampleRow].collect()
        val gen = t.map(_.gen).max
        val board = t.filter(_.gen == gen).sortBy(_.sample_rank)
          .map(r => (r.sample_rank, r.id)).toSeq
        assert(board == expect(4), s"$name: $board vs ${expect(4)}")
        assert(gen == split.size.toLong)
      } finally q.stop()
    }
    // Duplicate arrivals collapse (set semantics, like the batch window).
    val input = MemoryStream[StreamOps.SampleEvent]
    val out = StreamOps.bottomKSample(spark, input.toDS(), k = 3)
    val q = out.writeStream.format("memory").queryName("bk3")
      .outputMode("append").start()
    try {
      val head = ids.sortBy(id => (graft.ops.Sampling.idHashLong(id), id)).head
      input.addData(StreamOps.SampleEvent("t", head), StreamOps.SampleEvent("t", head))
      q.processAllAvailable()
      val t = spark.table("bk3").as[StreamOps.SampleRow].collect()
      assert(t.map(r => (r.sample_rank, r.id)).toSeq == Seq((1L, head)))
    } finally q.stop()
  }

  test("runningTopKApprox keeps state at <= capacity while the exact map would grow, and its board obeys the MG guarantee") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.CountEvent]
    val capacity = 12
    val out = StreamOps.runningTopKApprox(spark, input.toDS(), k = 3, capacity = capacity)
    val q = out.writeStream.format("memory").queryName("topkmg")
      .outputMode("append").start()
    // Skewed stream: subs 100/101/102 carry 60/35/20 events; a 60-sub
    // uniform tail (1 each) keeps constant slot pressure. n = 175, so the
    // MG error bound is n/(capacity+1) = 175/13 ≈ 13.5, and EVERY
    // consecutive top-3 gap clears it (25, 15, 19) — board identity and
    // order are guaranteed for any processing order, which is what makes
    // this assertable against exact counts.
    def mk(sub: Long, n: Int) = Seq.fill(n)(StreamOps.CountEvent("k", sub))
    val heavy = mk(100L, 60) ++ mk(101L, 35) ++ mk(102L, 20)
    val tail = (0L until 60L).map(StreamOps.CountEvent("k", _))
    // Seeded interleave, split across 3 micro-batches so the summary crosses
    // batch boundaries through the state store.
    val all = new scala.util.Random(42).shuffle(heavy ++ tail)
    try {
      for (batch <- all.grouped((all.size + 2) / 3)) {
        input.addData(batch)
        q.processAllAvailable()
      }
      val t = spark.table("topkmg").as[StreamOps.TopKApproxRow].collect()
      // State bound: every emission tracked <= capacity counters, though the
      // stream carried 63 distinct sub-keys (what the exact twin would hold).
      assert(all.map(_.sub).distinct.size > capacity)
      assert(t.forall(_.n_tracked <= capacity), t.map(_.n_tracked).max.toString)
      val gen = t.map(_.gen).max
      val board = t.filter(_.gen == gen).sortBy(_.rank)
      assert(board.map(_.sub).toSeq == Seq(100L, 101L, 102L), board.mkString(","))
      // MG never overcounts, and undercounts by at most n/(capacity+1).
      val est = board.map(r => r.sub -> r.cnt_est).toMap
      val bound = all.size.toLong / (capacity + 1)
      for ((sub, truth) <- Seq(100L -> 60L, 101L -> 35L, 102L -> 20L)) {
        assert(est(sub) <= truth, s"$sub overcounted: ${est(sub)} > $truth")
        assert(est(sub) >= truth - bound - 1L, s"$sub est ${est(sub)} below bound")
      }
    } finally q.stop()
  }

  test("file source to file sink: parquet dir streams through tumbling stats") {
    val base = tmpDir("graft_stream_")
    val (in, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    import spark.implicits._
    val batch1 = Seq(
      (new Timestamp(1000L), "a", 1.0), (new Timestamp(2000L), "a", 3.0),
      (new Timestamp(11000L), "b", 5.0)
    ).toDF("ts", "event_type", "value")
    batch1.write.mode("append").parquet(in)
    val stream = spark.readStream.schema(batch1.schema).parquet(in)
    val q = StreamOps.tumblingStats(stream, widthSeconds = 10, watermarkDelay = "5 seconds")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // Append mode emits a window only after the watermark passes it: a
      // second file advances event time far enough to close both windows.
      Seq((new Timestamp(60000L), "a", 0.0)).toDF("ts", "event_type", "value")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select(col("win_start").cast("long"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq((0L, "a", 2L, 4.0), (10L, "b", 1L, 5.0)))
    } finally q.stop()
  }

  test("streamingDerivative matches batch Derivative's completed buckets") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.KeyedEvent]
    val out = StreamOps.streamingDerivative(spark, input.toDS(), intervalMs = 100L)
    val q = out.writeStream.format("memory").queryName("sderiv")
      .outputMode("append").start()
    try {
      // The reference's own derivative fixture: values i² at 100 ms spacing
      // (test.js:96-113) → deltas 1,3,5,7; split across two micro-batches.
      input.addData(
        StreamOps.KeyedEvent("a", 0L, 0.0),
        StreamOps.KeyedEvent("a", 100L, 1.0),
        StreamOps.KeyedEvent("a", 200L, 4.0))
      q.processAllAvailable()
      input.addData(
        StreamOps.KeyedEvent("a", 300L, 9.0),
        StreamOps.KeyedEvent("a", 400L, 16.0))
      q.processAllAvailable()
      val got = spark.table("sderiv")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
      // Buckets 1..3 complete (bucket 4's delta 7 stays in state).
      assert(got.toSeq == Seq((100L, 1.0), (200L, 3.0), (300L, 5.0)))

      // Batch Derivative over the same rows: same grid times and values for
      // every bucket but the trailing flush.
      import spark.implicits._
      val batchDf = Seq((0L, 0.0), (100L, 1.0), (200L, 4.0), (300L, 9.0), (400L, 16.0))
        .toDF("time", "v")
      val batch = graft.uts.Derivative(batchDf, "v", 100L)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.take(3) == got.toSeq)
    } finally q.stop()
  }

  test("streamingDerivativeOrdered matches batch under bounded cross-batch disorder") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.KeyedEvent]
    val out = StreamOps.streamingDerivativeOrdered(
      spark, input.toDS(), intervalMs = 100L, maxDisorder = "150 milliseconds")
    val q = out.writeStream.format("memory").queryName("sderiv_ord")
      .outputMode("append").start()
    try {
      // The i² fixture (shifted +1000 ms: Spark's initial watermark is 0
      // and its late filter drops eventTime ≤ watermark, so an epoch-0
      // event would be late in the first batch) arriving OUT OF ORDER
      // within and across batches — every event lands within 150 ms of the
      // max event time seen, so the reorder buffer must recover exact
      // batch semantics.
      input.addData(
        StreamOps.KeyedEvent("a", 1200L, 4.0),
        StreamOps.KeyedEvent("a", 1000L, 0.0))
      q.processAllAvailable() // watermark → 1050: only t=1000 released (anchors)
      input.addData(
        StreamOps.KeyedEvent("a", 1100L, 1.0), // earlier than batch-1's 1200
        StreamOps.KeyedEvent("a", 1400L, 16.0),
        StreamOps.KeyedEvent("a", 1300L, 9.0))
      q.processAllAvailable() // watermark → 1250; timeout flushes t∈{1100,1200}
      // A straggler BEYOND the bound (t=1100 ≤ watermark 1250) must be
      // dropped, not replayed out of order; the far-future sentinel drives
      // the watermark past every buffered event so timeouts flush them.
      input.addData(
        StreamOps.KeyedEvent("a", 1100L, 99.0),
        StreamOps.KeyedEvent("z", 100000L, 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("sderiv_ord")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == "a").map(t => (t._2, t._3)).sortBy(_._1)
      // Identical to the in-order test's completed buckets — and to batch.
      import spark.implicits._
      val batchDf = Seq((1000L, 0.0), (1100L, 1.0), (1200L, 4.0), (1300L, 9.0), (1400L, 16.0))
        .toDF("time", "v")
      val batch = graft.uts.Derivative(batchDf, "v", 100L)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.toSeq == batch.take(3))
      assert(got.toSeq == Seq((1100L, 1.0), (1200L, 3.0), (1300L, 5.0)))
    } finally q.stop()
  }

  test("streamingFunnelOrdered advances on disorder the trusting variant misses") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.TypedEvent]
    val ordered = StreamOps.streamingFunnelOrdered(
      spark, input.toDS(), Seq("a", "b"), withinMs = 10000L, maxDisorder = "6 seconds")
    val inputTrusting = MemoryStream[StreamOps.TypedEvent]
    val trusting = StreamOps.streamingFunnel(
      spark, inputTrusting.toDS(), Seq("a", "b"), withinMs = 10000L)
    val qo = ordered.writeStream.format("memory").queryName("sfunnel_ord")
      .outputMode("append").start()
    val qt = trusting.writeStream.format("memory").queryName("sfunnel_trust")
      .outputMode("append").start()
    try {
      // User 1's step-b event ARRIVES a batch before its step-a event
      // (disorder 5 s, inside the 6 s bound; times sit above 0 because the
      // initial watermark is 0 and Spark drops eventTime ≤ watermark).
      val batch1 = Seq(StreamOps.TypedEvent(1L, "b", 6000L))
      val batch2 = Seq(StreamOps.TypedEvent(1L, "a", 1000L))
      val batch3 = Seq(StreamOps.TypedEvent(99L, "a", 50000L)) // advances watermark
      for (b <- Seq(batch1, batch2, batch3)) {
        input.addData(b); qo.processAllAvailable()
        inputTrusting.addData(b); qt.processAllAvailable()
      }
      qo.processAllAvailable()
      val got = spark.table("sfunnel_ord")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .filter(_._1 == 1L).sortBy(_._2)
      // In event-time order u1 completes both steps — equal to batch.
      assert(got.toSeq == Seq((1L, 0L, "a", 1000L), (1L, 1L, "b", 6000L)))
      import spark.implicits._
      val batchDf = Seq((1L, "b", 6000L), (1L, "a", 1000L), (99L, "a", 50000L))
        .toDF("user_id", "event_type", "time")
      val batch = graft.ops.Funnel.steps(batchDf, Seq("a", "b"), 10000L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(batch == Seq((0L, 2L), (1L, 1L)))
      // The trusting variant processes b before a and never reaches step 1 —
      // the reorder buffer is load-bearing, not decorative.
      val trust = spark.table("sfunnel_trust")
        .collect().map(r => (r.getLong(0), r.getLong(1))).filter(_._1 == 1L)
      assert(trust.toSeq == Seq((1L, 0L)))
    } finally { qo.stop(); qt.stop() }
  }

  test("streamingFunnel reach counts match batch funnel across micro-batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[StreamOps.TypedEvent]
    val out = StreamOps.streamingFunnel(spark, input.toDS(), Seq("a", "b", "c"), withinMs = 10L)
    val q = out.writeStream.format("memory").queryName("sfunnel")
      .outputMode("append").start()
    try {
      // The JoinsLayoutSpec batch fixture split by event time (the in-order
      // contract): u3 and u4 progress ACROSS the batch boundary, so their
      // state machines must resume from stored state.
      input.addData(
        StreamOps.TypedEvent(1L, "a", 0L), StreamOps.TypedEvent(2L, "a", 0L),
        StreamOps.TypedEvent(3L, "b", 0L), StreamOps.TypedEvent(4L, "a", 0L),
        StreamOps.TypedEvent(5L, "a", 0L), StreamOps.TypedEvent(5L, "b", 1L),
        StreamOps.TypedEvent(3L, "a", 5L), StreamOps.TypedEvent(1L, "b", 5L))
      q.processAllAvailable()
      input.addData(
        StreamOps.TypedEvent(4L, "b", 8L), StreamOps.TypedEvent(3L, "b", 9L),
        StreamOps.TypedEvent(3L, "c", 11L), StreamOps.TypedEvent(1L, "c", 12L),
        StreamOps.TypedEvent(5L, "c", 15L), StreamOps.TypedEvent(2L, "b", 20L),
        StreamOps.TypedEvent(4L, "c", 30L))
      q.processAllAvailable()
      val got = spark.table("sfunnel").groupBy(col("step_idx")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == Seq((0L, 5L), (1L, 4L), (2L, 2L)))
      // Batch funnel over the union of both batches agrees per step.
      val batchDf = Seq(
        (1L, "a", 0L), (1L, "b", 5L), (1L, "c", 12L),
        (2L, "a", 0L), (2L, "b", 20L),
        (3L, "b", 0L), (3L, "a", 5L), (3L, "b", 9L), (3L, "c", 11L),
        (4L, "a", 0L), (4L, "b", 8L), (4L, "c", 30L),
        (5L, "a", 0L), (5L, "b", 1L), (5L, "c", 15L)
      ).toDF("user_id", "event_type", "time")
      val batch = graft.ops.Funnel.steps(batchDf, Seq("a", "b", "c"), 10L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("splitAtWatermark handles the ts == watermark boundary symmetrically") {
    val (ready, pending) = StreamOps.splitAtWatermark[Long](
      buffered = Seq(5L, 10L, 15L),
      arrivals = Iterator(4L, 10L, 20L),
      watermarkMs = 10L,
      ts = identity)
    // The strictly-late arrival (4) is dropped: nothing below the watermark
    // may be newly admitted (the buffered 5 releases instead — it was
    // admitted while still on time). The boundary arrival (10) is ADMITTED
    // and held pending exactly like the buffered 10: an event at the
    // watermark is not late (Spark keeps the boundary row too), it just
    // isn't releasable until the watermark strictly passes it.
    assert(ready == Seq(5L))
    assert(pending.sorted == Seq(10L, 10L, 15L, 20L))
  }
}
