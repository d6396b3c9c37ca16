package graft

import org.apache.spark.sql.functions._

/** Bloom-augmented zone maps ([[graft.ops.Layout.statsManifest]] with
  * `bloomCols` + [[graft.ops.Layout.prunedParquetPoint]]): equality point
  * lookups by a key the layout was NOT clustered on must read only the
  * files whose bitmap claims the value, return exactly the full-scan
  * rows, survive the patch lifecycle, and fail loud on staleness.
  */
class BloomManifestSpec extends SparkSpec {
  import spark.implicits._

  // A user-clustered table probed by event id: ids are assigned pseudo-
  // randomly w.r.t. users, so every file's [min_id, max_id] zone spans
  // nearly the whole domain — the bitmap is the only working pruner.
  private def mkTable(dir: String, n: Int): Unit = {
    val df = (0 until n).map { i =>
      (i.toLong, (i * 2654435761L) % 1000L, s"p${i % 4}", 0.5 * i)
    }.toDF("id", "user_id", "ptype", "value")
    df.repartitionByRange(8, col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/t")
  }

  test("point lookup equals the full-scan equality filter") {
    val dir = tmpDir("graft-bloom-spec")
    mkTable(dir, 2000)
    graft.ops.Layout.statsManifest(spark, s"$dir/t",
      Seq("user_id", "id"), bloomCols = Seq("id"), bloomBits = 1 << 13)
    for (probe <- Seq(0L, 777L, 1999L, 5555L)) {
      val got = graft.ops.Layout.prunedParquetPoint(
          spark, s"$dir/t", "id", lit(probe))
        .collect().map(_.toSeq).toSet
      val want = spark.read.parquet(s"$dir/t").filter(col("id") === probe)
        .collect().map(_.toSeq).toSet
      assert(got == want, s"probe $probe")
    }
  }

  test("the probe reads only the files whose bitmap claims the value") {
    val dir = tmpDir("graft-bloom-spec")
    mkTable(dir, 2000)
    // Zone-map only user_id: id zones are absent, so any pruning observed
    // can ONLY come from the bitmap.
    graft.ops.Layout.statsManifest(spark, s"$dir/t",
      Seq("user_id"), bloomCols = Seq("id"), bloomBits = 1 << 13)
    val hit = graft.ops.Layout.prunedParquetPoint(spark, s"$dir/t", "id", lit(777L))
    assert(hit.count() == 1L)
    // id=777 lives in exactly one of the 8 files; at 8192 bits / ~250
    // values per file, false positives are ~0 — the probe opens 1 file.
    assert(hit.inputFiles.length < 8, hit.inputFiles.mkString(", "))
    // An absent value reads (almost) nothing and returns nothing.
    val miss = graft.ops.Layout.prunedParquetPoint(spark, s"$dir/t", "id", lit(999999L))
    assert(miss.count() == 0L)
  }

  test("upsert + manifest patch rebuilds the patched files' bitmaps") {
    val dir = tmpDir("graft-bloom-spec")
    val df = (0 until 400).map { i =>
      (i.toLong, s"p${i % 4}", s"v$i")
    }.toDF("id", "ptype", "payload")
    df.write.mode("overwrite").partitionBy("ptype").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t",
      Seq("id"), bloomCols = Seq("id"), bloomBits = 1 << 13)
    // The batch rewrites id=7 and creates a brand-new id well outside the
    // build-time domain — both land in partition dirs the patch rescans.
    val batch = Seq((7L, "p3", "updated"), (100007L, "p3", "fresh"))
      .toDF("id", "ptype", "payload")
    graft.ops.Layout.upsertPartitioned(spark, s"$dir/t", batch,
      keyCols = Seq("id"), partitionCol = "ptype")
    val updated = graft.ops.Layout.prunedParquetPoint(
      spark, s"$dir/t", "id", lit(7L)).select("payload").collect()
    assert(updated.map(_.getString(0)).toSeq == Seq("updated"))
    val fresh = graft.ops.Layout.prunedParquetPoint(
      spark, s"$dir/t", "id", lit(100007L)).select("payload").collect()
    assert(fresh.map(_.getString(0)).toSeq == Seq("fresh"))
  }

  test("an out-of-band write makes the point read fail loud") {
    val dir = tmpDir("graft-bloom-spec")
    mkTable(dir, 500)
    graft.ops.Layout.statsManifest(spark, s"$dir/t",
      Seq("user_id"), bloomCols = Seq("id"), bloomBits = 1 << 13)
    Seq((900000L, 1L, "p0", 0.0)).toDF("id", "user_id", "ptype", "value")
      .write.mode("append").parquet(s"$dir/t")
    graft.ops.Layout.bumpTableEpoch(spark, s"$dir/t")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Layout.prunedParquetPoint(spark, s"$dir/t", "id", lit(900000L))
    }
    assert(e.getMessage.contains("stale manifest"))
  }

  test("a NULL probe and a bloom-less column fail loud") {
    val dir = tmpDir("graft-bloom-spec")
    mkTable(dir, 100)
    graft.ops.Layout.statsManifest(spark, s"$dir/t",
      Seq("user_id"), bloomCols = Seq("id"), bloomBits = 1 << 13)
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Layout.prunedParquetPoint(
        spark, s"$dir/t", "id", lit(null).cast("long"))
    }
    assert(e1.getMessage.contains("NULL"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Layout.prunedParquetPoint(spark, s"$dir/t", "user_id", lit(1L))
    }
    assert(e2.getMessage.contains("no Bloom filter"))
  }
}
