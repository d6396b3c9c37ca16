package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental view maintenance ([[Ivm]]): the delta-maintained rollup must
  * equal the rollup rebuilt from scratch over base ∪ batches — exactly, not
  * approximately — and maintenance must touch ONLY the partitions the batch
  * lands in (the property that makes a trickle affordable against a 100 TB
  * rollup).
  */
class IvmSpec extends SparkSpec {
  import spark.implicits._

  // (day, type, value) events: 4 days × 3 types, values distinct per row so
  // min/max/sum all discriminate.
  private def mkEvents(ids: Range) =
    ids.map { i =>
      (i.toLong, (i % 4).toLong, s"t${i % 3}", 0.17 * i + 0.003)
    }.toDF("event_id", "day", "event_type", "value")

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("event_type").collect().map(_.toSeq).toSeq

  test("delta-maintained rollup equals the from-scratch rebuild") {
    val all = mkEvents(0 until 300)
    val base = all.filter(col("event_id") % 5 =!= 0)
    val b1 = all.filter(col("event_id") % 10 === 0)
    val b2 = all.filter(col("event_id") % 10 === 5)
    val incr = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, base, incr, "day", Seq("event_type"), "value")
    Ivm.applyDelta(spark, incr, b1, "day", Seq("event_type"), "value")
    Ivm.applyDelta(spark, incr, b2, "day", Seq("event_type"), "value")
    val full = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, all, full, "day", Seq("event_type"), "value")
    assert(canon(Ivm.readAgg(spark, incr, "day", Seq("event_type"))) ==
      canon(Ivm.readAgg(spark, full, "day", Seq("event_type"))))
    // The stored partials themselves agree too (not just the final agg).
    val pi = spark.read.parquet(incr).orderBy("day", "event_type")
      .collect().map(_.toSeq).toSeq
    val pf = spark.read.parquet(full).orderBy("day", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(pi == pf)
  }

  test("a delta opens new groups and new partitions") {
    val path = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, mkEvents(0 until 100), path,
      "day", Seq("event_type"), "value")
    val batch = Seq(
      (1000L, 9L, "t0", 2.5),      // new day partition, existing type
      (1001L, 0L, "brandnew", 7.0) // existing day, new type
    ).toDF("event_id", "day", "event_type", "value")
    Ivm.applyDelta(spark, path, batch, "day", Seq("event_type"), "value")
    val r = Ivm.readAgg(spark, path, "day", Seq("event_type"))
    val bn = r.filter(col("event_type") === "brandnew").collect()
    assert(bn.length == 1 && bn(0).getAs[Long]("n_events") == 1L)
    val t0 = r.filter(col("event_type") === "t0").head()
    assert(t0.getAs[Long]("n_partitions") == 5L) // days 0..3 plus day 9
  }

  test("maintenance rewrites only the touched day partitions") {
    val path = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, mkEvents(0 until 100), path,
      "day", Seq("event_type"), "value")
    def files(day: Long): Set[String] = {
      val d = new java.io.File(s"$path/day=$day")
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val before = (0L until 4L).map(d => d -> files(d)).toMap
    val batch = Seq((500L, 2L, "t1", 3.25)).toDF(
      "event_id", "day", "event_type", "value")
    Ivm.applyDelta(spark, path, batch, "day", Seq("event_type"), "value")
    assert(files(0L) == before(0L) && files(1L) == before(1L) &&
      files(3L) == before(3L), "untouched partitions must keep their files")
    assert(files(2L) != before(2L), "the touched partition must be rewritten")
    // And the touched partition's content merged, not replaced: the global
    // t1 count is the base's t1 rows plus the one delta row.
    val n = Ivm.readAgg(spark, path, "day", Seq("event_type"))
      .filter(col("event_type") === "t1").head().getAs[Long]("n_events")
    val expected = (0 until 100).count(i => i % 3 == 1) + 1
    assert(n == expected.toLong)
  }

  test("ledger-guarded apply skips a replayed batch id") {
    val path = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, mkEvents(0 until 40), path,
      "day", Seq("event_type"), "value")
    val batch = Seq((900L, 1L, "t2", 1.0)).toDF(
      "event_id", "day", "event_type", "value")
    assert(Ivm.applyDeltaOnce(spark, path, batch, 0L,
      "day", Seq("event_type"), "value"))
    // The streaming-restart replay: same batch id must be a no-op.
    assert(!Ivm.applyDeltaOnce(spark, path, batch, 0L,
      "day", Seq("event_type"), "value"))
    assert(Ivm.applyDeltaOnce(spark, path, batch, 1L,
      "day", Seq("event_type"), "value"))
    val n = Ivm.readAgg(spark, path, "day", Seq("event_type"))
      .filter(col("event_type") === "t2").head().getAs[Long]("n_events")
    assert(n == (0 until 40).count(_ % 3 == 2).toLong + 2L)
  }

  test("streaming maintenance equals the from-scratch rebuild") {
    val dir = tmpDir("graft-ivm-spec")
    val all = mkEvents(0 until 200)
    Ivm.buildRollup(spark, all.filter(col("event_id") % 2 === 0),
      s"$dir/r", "day", Seq("event_type"), "value")
    all.filter(col("event_id") % 2 === 1).repartition(3)
      .write.parquet(s"$dir/src")
    val src = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = Ivm.maintainStream(src, s"$dir/r", s"$dir/ckpt",
      "day", Seq("event_type"), "value")
    q.awaitTermination()
    // One ledger entry per file-sized micro-batch landed.
    assert(new java.io.File(s"$dir/r/_ivm_last_batch").exists)
    val full = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, all, full, "day", Seq("event_type"), "value")
    assert(canon(Ivm.readAgg(spark, s"$dir/r", "day", Seq("event_type"))) ==
      canon(Ivm.readAgg(spark, full, "day", Seq("event_type"))))
    // A restarted catch-up run over the same source + checkpoint must be a
    // pure no-op (nothing new to read, ledger unchanged).
    val before = spark.read.parquet(s"$dir/r").collect().map(_.toSeq).toSet
    val q2 = Ivm.maintainStream(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/src"),
      s"$dir/r", s"$dir/ckpt", "day", Seq("event_type"), "value")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$dir/r").collect().map(_.toSeq).toSet == before)
  }

  test("additive semantics: replaying a batch counts it twice") {
    val path = tmpDir("graft-ivm-spec") + "/r"
    Ivm.buildRollup(spark, mkEvents(0 until 40), path,
      "day", Seq("event_type"), "value")
    val batch = Seq((900L, 1L, "t2", 1.0)).toDF(
      "event_id", "day", "event_type", "value")
    Ivm.applyDelta(spark, path, batch, "day", Seq("event_type"), "value")
    Ivm.applyDelta(spark, path, batch, "day", Seq("event_type"), "value")
    val n = Ivm.readAgg(spark, path, "day", Seq("event_type"))
      .filter(col("event_type") === "t2").head().getAs[Long]("n_events")
    assert(n == (0 until 40).count(_ % 3 == 2).toLong + 2L)
  }
}
