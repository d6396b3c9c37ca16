package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The versioned-table contract: every version stays readable forever and
  * byte-for-byte stable across later upserts; MERGE is copy-on-write at
  * FILE granularity (untouched files carried by reference into the next
  * manifest, never rewritten); writes are crash-ordered (files → manifest
  * → latest pointer) and re-writing an existing version fails loud.
  */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def snap(path: String, v: Long): Seq[(Long, String)] =
    Versioned.readVersion(spark, path, v)
      .collect().map(r => (r.getLong(r.fieldIndex("k")), r.getString(r.fieldIndex("s"))))
      .sortBy(_._1).toSeq

  test("upsert replaces colliding keys, inserts new ones; old versions stay intact") {
    val path = tmpDir("graft-vtab") + "/t"
    // Two files at v1 (repartition(2) by key range) so COW granularity is
    // observable: keys 0-9 in two files.
    val v1df = (0L until 10L).map(k => (k, s"v1-$k")).toDF("k", "s").repartition(2, col("k"))
    assert(Versioned.init(v1df, path) == 1L)
    assert(snap(path, 1L) == (0L until 10L).map(k => (k, s"v1-$k")))

    // Batch replaces keys 3 and 7, inserts 100.
    val batch = Seq((3L, "v2-3"), (7L, "v2-7"), (100L, "v2-100")).toDF("k", "s")
    assert(Versioned.upsertVersion(batch, path, Seq("k")) == 2L)
    val want2 = ((0L until 10L).filterNot(k => k == 3 || k == 7).map(k => (k, s"v1-$k"))
      ++ Seq((3L, "v2-3"), (7L, "v2-7"), (100L, "v2-100"))).sortBy(_._1)
    assert(snap(path, 2L) == want2)
    // TIME TRAVEL: v1 still reads exactly as written.
    assert(snap(path, 1L) == (0L until 10L).map(k => (k, s"v1-$k")))
    assert(Versioned.latestVersion(spark, path).contains(2L))
  }

  test("untouched files are carried by reference, not rewritten") {
    val path = tmpDir("graft-vtab") + "/t"
    // Keys hash-split across 4 files; the batch touches ONE key, so at
    // least one v1 file holds no colliding key and must appear verbatim in
    // the v2 manifest.
    Versioned.init((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s")
      .repartition(4, col("k")), path)
    def manifestFiles(v: Long): Set[String] =
      spark.read.parquet(s"$path/_vmanifest/version=$v")
        .collect().map(_.getString(0)).toSet
    val m1 = manifestFiles(1L)
    Versioned.upsertVersion(Seq((5L, "b5")).toDF("k", "s"), path, Seq("k"))
    val m2 = manifestFiles(2L)
    val carried = m1 intersect m2
    assert(carried.nonEmpty, s"no carried files: m1=$m1 m2=$m2")
    assert((m1 -- m2).nonEmpty) // the touched file left the live set
    // No duplicates after the merge: each key exactly once.
    val counts = Versioned.readVersion(spark, path, 2L)
      .groupBy(col("k")).count().filter(col("count") > 1).count()
    assert(counts == 0L)
    assert(Versioned.readVersion(spark, path, 2L).count() == 40L)
  }

  test("vacuum drops old versions' manifests and only their unreferenced files") {
    val path = tmpDir("graft-vtab") + "/t"
    Versioned.init((0L until 20L).map(k => (k, s"a$k")).toDF("k", "s")
      .repartition(4, col("k")), path)
    Versioned.upsertVersion(Seq((5L, "b5")).toDF("k", "s"), path, Seq("k"))
    Versioned.upsertVersion(Seq((6L, "c6")).toDF("k", "s"), path, Seq("k"))
    val v3Before = snap(path, 3L)
    val v2Before = snap(path, 2L)
    val removed = Versioned.vacuum(spark, path, keepLast = 2)
    // v1's exclusively-owned file(s) are gone; files carried into v2/v3
    // survive however old.
    assert(removed >= 1, s"removed=$removed")
    intercept[IllegalArgumentException] { Versioned.readVersion(spark, path, 1L) }
    assert(snap(path, 2L) == v2Before)
    assert(snap(path, 3L) == v3Before)
    // Idempotent: a second vacuum finds nothing more to remove.
    assert(Versioned.vacuum(spark, path, keepLast = 2) == 0)
    // diffVersions still answers over the kept range.
    val d = Versioned.diffVersions(spark, path, 2L, 3L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(d == Seq((6L, "changed")), d.toString)
  }

  test("schema evolution: added columns NULL-backfill carried rows, old versions keep their schema") {
    val path = tmpDir("graft-vtab") + "/t"
    Versioned.init((0L until 6L).map(k => (k, s"a$k")).toDF("k", "s")
      .repartition(2, col("k")), path)
    // v2 batch ADDS column q: replaces key 1, inserts key 10.
    Versioned.upsertVersion(
      Seq((1L, "b1", 7.5), (10L, "b10", 2.5)).toDF("k", "s", "q"), path, Seq("k"))
    // Version-accurate schemas.
    assert(Versioned.readVersion(spark, path, 1L).columns.toSeq == Seq("k", "s"))
    assert(Versioned.readVersion(spark, path, 2L).columns.toSeq == Seq("k", "s", "q"))
    // Carried rows (files physically WITHOUT q) read as NULL; batch rows carry values.
    val v2 = Versioned.readVersion(spark, path, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
    assert(v2 == Seq(
      (0L, "a0", None), (1L, "b1", Some(7.5)), (2L, "a2", None), (3L, "a3", None),
      (4L, "a4", None), (5L, "a5", None), (10L, "b10", Some(2.5))), v2.toString)
    // v3 batch MISSING an old column: s stays in the schema, batch rows get NULL s.
    Versioned.upsertVersion(Seq((2L, 9.9)).toDF("k", "q"), path, Seq("k"))
    val v3 = Versioned.readVersion(spark, path, 3L)
    assert(v3.columns.toSeq == Seq("k", "s", "q"))
    val r2 = v3.filter(col("k") === 2L).head()
    assert(r2.isNullAt(1) && r2.getDouble(2) == 9.9)
    // Changing an existing column's TYPE fails loud.
    intercept[IllegalArgumentException] {
      Versioned.upsertVersion(Seq((3L, 42L)).toDF("k", "s"), path, Seq("k"))
    }
    // v1 and v2 still read exactly as before v3.
    assert(snap(path, 1L) == (0L until 6L).map(k => (k, s"a$k")))
  }

  test("vacuum removes emptied staging dirs and their sidecar markers") {
    val path = tmpDir("graft-vtab") + "/t"
    Versioned.init((0L until 4L).map(k => (k, s"a$k")).toDF("k", "s")
      .coalesce(1), path)
    // Rewrite EVERY v1 file (all keys collide) so v1's staging dir empties.
    Versioned.upsertVersion((0L until 4L).map(k => (k, s"b$k")).toDF("k", "s"), path, Seq("k"))
    assert(Versioned.vacuum(spark, path, keepLast = 1) >= 1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/files"))
      .filter(_.isDirectory).map(_.getPath.getName).toSeq
    assert(dirs.forall(_.startsWith("v2-")), s"stale staging dirs survive: $dirs")
    // No orphan _SUCCESS/.crc markers anywhere under files/.
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/files"), true)
    while (it.hasNext) {
      val st = it.next()
      assert(!st.getPath.toString.contains("/v1-"), s"v1 residue: ${st.getPath}")
    }
    assert(snap(path, 2L) == (0L until 4L).map(k => (k, s"b$k")))
  }

  test("restore rolls back by reference: no rewrite, the bad version stays readable") {
    val path = tmpDir("graft-vtab") + "/t"
    Versioned.init((0L until 6L).map(k => (k, s"a$k")).toDF("k", "s")
      .repartition(2, col("k")), path)
    Versioned.upsertVersion(Seq((1L, "bad"), (99L, "junk")).toDF("k", "s"), path, Seq("k"))
    assert(Versioned.restore(spark, path, 1L) == 3L)
    // v3 reads exactly like v1; the bad v2 stays readable for post-mortem.
    assert(snap(path, 3L) == snap(path, 1L))
    assert(snap(path, 2L).exists(_ == (99L, "junk")))
    assert(Versioned.latestVersion(spark, path).contains(3L))
    // By reference: v3's manifest lists only v1-era files (no new data).
    val m3 = spark.read.parquet(s"$path/_vmanifest/version=3").select("file")
      .collect().map(_.getString(0))
    assert(m3.nonEmpty && m3.forall(_.contains("/v1-")), m3.mkString(", "))
    // Lifecycle continues normally after a restore.
    Versioned.upsertVersion(Seq((2L, "after")).toDF("k", "s"), path, Seq("k"))
    assert(snap(path, 4L).exists(_ == (2L, "after")))
    // Restoring a vacuumed-away version fails loud.
    intercept[IllegalArgumentException] { Versioned.restore(spark, path, 99L) }
  }

  test("pure-insert batches carry every live file; re-init and bad reads fail loud") {
    val path = tmpDir("graft-vtab") + "/t"
    Versioned.init(Seq((1L, "x")).toDF("k", "s"), path)
    Versioned.upsertVersion(Seq((2L, "y")).toDF("k", "s"), path, Seq("k"))
    assert(snap(path, 2L) == Seq((1L, "x"), (2L, "y")))
    intercept[IllegalArgumentException] {
      Versioned.init(Seq((9L, "z")).toDF("k", "s"), path)
    }
    intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, path, 99L)
    }
  }
}
