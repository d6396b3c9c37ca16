package graft

import org.apache.spark.sql.functions._

/** Write-side layout claims, verified on real written data: bucketed tables
  * co-locate equi-joins (no shuffle exchange on either side), and
  * date-partitioned parquet prunes partitions at the scan. These are the
  * two levers that remove whole shuffle/scan stages at 100 TB — asserting
  * them on plans over actual files keeps the posture claims honest.
  */
class StorageLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def walk(root: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(root))
  }
  private def parquetFiles(root: String): Seq[String] =
    walk(root).map(_.getPath).filter(_.endsWith(".parquet"))

  test("bucketed tables join without a shuffle exchange on either side") {
    val dir = tmpDir("graft-layout")
    val left = (0L until 1000L).map(i => (i % 100, i)).toDF("k", "v")
    val right = (0L until 300L).map(i => (i % 100, s"r$i")).toDF("rk", "name")
    left.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$dir/left").saveAsTable("graft_bucketed_left")
    right.write.bucketBy(8, "rk").sortBy("rk")
      .option("path", s"$dir/right").saveAsTable("graft_bucketed_right")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Force the shuffle-join path: a broadcast join would trivially have
      // no exchange and prove nothing about bucketing.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucketed_left")
        .join(spark.table("graft_bucketed_right"), col("k") === col("rk"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${p.take(2000)}")
      // And it is not a degenerate plan: the join really runs.
      assert(joined.count() == 3000L) // 300 right rows × 10 matching left each
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_left")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_right")
    }
  }

  test("persisted IVF probe prunes to the probed cluster partitions and matches ivfTopK") {
    val dir = tmpDir("graft-layout")
    // Four well-separated direction clusters in 3-d (labels 0..3), with
    // per-vector jitter so in-cluster cosines are distinct. vec 0 is the
    // query.
    val bases = Seq(
      Array(1.0, 0.05, 0.0), Array(0.0, 1.0, 0.05),
      Array(0.05, 0.0, 1.0), Array(0.6, 0.6, 0.2))
    val rows = (0L until 40L).map { i =>
      val lab = (i % 4).toInt
      val v = bases(lab).zipWithIndex.map { case (x, d) =>
        (x + 0.003 * (i / 4) * (d + 1)).toFloat
      }.toSeq
      (i, v, lab)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    graft.ops.Similarity.ivfBuild(df, s"$dir/idx")
    val q = rows.head._2.map(_.toDouble).toArray
    val (probe, probeJobs) = jobsOf(graft.ops.Similarity.ivfProbePersisted(
      spark, s"$dir/idx", q, k = 5, nprobe = 2, excludeId = Some(0L)))
    // Planning the probe collects the centroid table (one job); the
    // centroid and vector tables open from their footers without a job.
    assert(probeJobs == 1, s"probe planning started $probeJobs job(s)")
    val got = probe.collect()

    // 1. Results equal the in-plan ivfTopK over the same corpus: same
    //    centroids, same assignment, same probe list, same scoring.
    val want = graft.ops.Similarity.ivfTopK(df, queryId = 0, k = 5, nprobe = 2).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.get(2).toString, r.getDouble(3))
    assert(got.map(key).toSeq == want.map(key).toSeq)
    assert(got.length == 5)

    // 2. The probe is a partition-pruned read: the cluster predicate is a
    //    planning-time literal IN, and the executed scan read exactly the
    //    nprobe=2 of 4 cluster= directories.
    val root = probe.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = root.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata("Location").contains("vectors") => f
    }
    assert(scans.nonEmpty, root.toString.take(2000))
    assert(scans.head.metadata("PartitionFilters").contains("cluster"),
      scans.head.metadata.toString)
    assert(scans.head.metrics("numPartitions").value == 2L,
      scans.head.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(", "))
  }

  test("minhash index probe prunes to the batch's (band, bucket) partitions") {
    val dir = tmpDir("graft-layout")
    // 40 distinct docs; doc 7 gets a near-identical twin (id 100) planted
    // in the incoming batch, alongside a fresh doc (id 101) matching
    // nothing.
    val mk = (i: Long) =>
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i marker$i tail$i"
    val corpus = (0L until 40L).map(i => (i, mk(i))).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    val incoming = Seq(
      (100L, mk(7L) + " recrawl"),
      (101L, "completely different words nothing shared here at all today")
    ).toDF("doc_id", "text")
    val matches = graft.ops.Dedup.nearDupAgainst(
      incoming, s"$dir/idx", n = 3, threshold = 0.6)
    val got = matches.collect().map(r => (r.getLong(0), r.getLong(1)))
    // The edited re-crawl matches its original; the fresh doc matches
    // nothing (shared stopword-prefix shingles stay below threshold).
    assert(got.contains((100L, 7L)), got.mkString(", "))
    assert(got.forall(_._1 == 100L), got.mkString(", "))

    // The signature read is partition-pruned at planning: the scan carries
    // band/bucket partition filters and reads only partitions the 2-doc
    // batch's signatures hash to — strictly fewer than the index holds.
    // AQE wraps materialized stages in QueryStageExec leaves, so the scan
    // hunt must descend into them explicitly.
    def deepScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        deepScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        deepScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        deepScans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(deepScans)
    }
    val scans = deepScans(matches.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("signatures"))
    assert(scans.nonEmpty, matches.queryExecution.executedPlan.toString.take(2000))
    val meta = scans.head.metadata("PartitionFilters")
    assert(meta.contains("band") && meta.contains("bucket"), meta)
    val allParts = spark.read.parquet(s"$dir/idx/signatures")
      .select("band", "bucket").distinct().count()
    val readParts = scans.head.metrics("numPartitions").value
    assert(readParts > 0 && readParts < allParts,
      s"read $readParts of $allParts partitions")
  }

  test("minhash index append: probe finds the appended doc, touches only batch partitions") {
    val dir = tmpDir("graft-layout")
    val mk = (i: Long) =>
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i marker$i tail$i"
    val corpus = (0L until 40L).map(i => (i, mk(i))).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)

    // Doc 200 is brand new — it is in no near-dup family the built index
    // knows. A probe for its re-crawl (id 300) BEFORE the append finds
    // nothing.
    val probe = Seq((300L, mk(200L) + " recrawl")).toDF("doc_id", "text")
    val before = graft.ops.Dedup.nearDupAgainst(
      probe, s"$dir/idx", n = 3, threshold = 0.6).collect()
    assert(before.isEmpty, before.mkString(", "))

    // Every file under the base, with a digest of its bytes (.crc and
    // _SUCCESS too).
    def contents(root: String): Map[String, String] = walk(root).map { f =>
      f.getPath -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
    }.toMap
    val preBase = contents(s"$dir/idx/signatures")

    // Append the batch containing doc 200, then re-probe: the match
    // appears — served purely from the appended delta.
    val batch = Seq((200L, mk(200L))).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexAppend(batch, s"$dir/idx")
    val after = graft.ops.Dedup.nearDupAgainst(
      probe, s"$dir/idx", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.contains((300L, 200L)), after.mkString(", "))

    // The append left the partitioned base byte-identical and added one
    // delta file per batch partition, holding only the batch's ids.
    val postBase = contents(s"$dir/idx/signatures")
    assert(postBase == preBase,
      s"base files changed: ${(postBase.toSet diff preBase.toSet).map(_._1).mkString(", ")}")
    val deltaFiles = parquetFiles(s"$dir/idx/signatures_delta")
    assert(deltaFiles.size == batch.rdd.getNumPartitions, deltaFiles.mkString(", "))
    deltaFiles.foreach { f =>
      val ids = spark.read.parquet(f).select("id").distinct().as[Long].collect().toSet
      assert(ids == Set(200L), s"$f holds $ids")
    }
  }

  test("ivf append: probe finds appended vectors, assigned to frozen centroids only") {
    val dir = tmpDir("graft-layout")
    val bases = Seq(
      Array(1.0, 0.05, 0.0), Array(0.0, 1.0, 0.05),
      Array(0.05, 0.0, 1.0), Array(0.6, 0.6, 0.2))
    def mk(i: Long) = {
      val lab = (i % 4).toInt
      (i, bases(lab).zipWithIndex.map { case (x, d) =>
        (x + 0.003 * (i / 4) * (d + 1)).toFloat
      }.toSeq, lab)
    }
    // Build over vectors 0..39; the probe (vector 1's direction) sees the
    // index's answer.
    val built = (0L until 40L).map(mk).toDF("vec_id", "embedding", "label")
    graft.ops.Similarity.ivfBuild(built, s"$dir/idx")
    val q = built.filter(col("vec_id") === 1L)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val before = graft.ops.Similarity.ivfProbePersisted(
      spark, s"$dir/idx", q, k = 3, nprobe = 1, excludeId = Some(1L))
      .collect().map(_.getLong(0))
    assert(!before.contains(101L))

    // Vector 101 is a near-twin of the query, arriving later: after the
    // append it must top the same probe.
    val batch = Seq((101L, q.map(x => (x * 1.001).toFloat).toSeq, 1))
      .toDF("vec_id", "embedding", "label")
    graft.ops.Similarity.ivfAppend(batch, s"$dir/idx")
    val after = graft.ops.Similarity.ivfProbePersisted(
      spark, s"$dir/idx", q, k = 3, nprobe = 1, excludeId = Some(1L))
      .collect().map(_.getLong(0))
    assert(after.contains(101L), after.mkString(", "))

    // The centroids are FROZEN: append must not touch the routing table
    // (moving centroids would re-route probes away from written rows).
    val cents = spark.read.parquet(s"$dir/idx/centroids").count()
    assert(cents == 4L)
  }

  test("ivf recluster: appended new-label region gets its own cluster, probes route to it") {
    val dir = tmpDir("graft-layout")
    val bases = Seq(
      Array(1.0, 0.05, 0.0), Array(0.0, 1.0, 0.05),
      Array(0.05, 0.0, 1.0), Array(0.6, 0.6, 0.2))
    def mk(i: Long) = {
      val lab = (i % 4).toInt
      (i, bases(lab).zipWithIndex.map { case (x, d) =>
        (x + 0.003 * (i / 4) * (d + 1)).toFloat
      }.toSeq, lab)
    }
    val built = (0L until 40L).map(mk).toDF("vec_id", "embedding", "label")
    graft.ops.Similarity.ivfBuild(built, s"$dir/idx")
    // A genuinely new region (label 9, direction none of the 4 centroids
    // describes) arrives via append: frozen routing scatters it.
    val novel = Array(-1.0, 0.8, -0.7)
    val batch = (100L until 110L).map(i =>
      (i, novel.zipWithIndex.map { case (x, d) =>
        (x + 0.002 * (i - 100) * (d + 1)).toFloat
      }.toSeq, 9)).toDF("vec_id", "embedding", "label")
    graft.ops.Similarity.ivfAppend(batch, s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/vectors/cluster=9").exists())

    graft.ops.Similarity.ivfRecluster(spark, s"$dir/idx")
    // Recluster rebuilt routing from the index's own contents: label 9 is
    // now its own cluster directory, the centroid table grew, and a
    // 1-probe query in the novel direction answers ENTIRELY from it.
    assert(new java.io.File(s"$dir/idx/vectors/cluster=9").exists())
    assert(spark.read.parquet(s"$dir/idx/centroids").count() == 5L)
    assert(!new java.io.File(s"$dir/idx/vectors.__recluster_old").exists())
    val hits = graft.ops.Similarity.ivfProbePersisted(
      spark, s"$dir/idx", novel, k = 5, nprobe = 1)
      .collect().map(_.getLong(0))
    assert(hits.forall(id => id >= 100L && id < 110L), hits.mkString(", "))
    // No rows lost across the swap.
    assert(spark.read.parquet(s"$dir/idx/vectors").count() == 50L)

    // Crash guard: a leftover half-swap marker fails loud.
    val marker = new java.io.File(s"$dir/idx/vectors.__recluster_old")
    assert(marker.mkdir())
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.ivfRecluster(spark, s"$dir/idx")
    }
    assert(e.getMessage.contains("recluster"))
  }

  test("zone-map pruned read scans fewer files, answers exactly, and stale manifests fail loud") {
    val dir = tmpDir("graft-layout")
    val rows = (0L until 300L).map(i => (i, i * 10L, s"v$i")).toDF("id", "t", "v")
    rows.repartitionByRange(5, col("t")).write.mode("overwrite").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("t"))
    val allFiles = spark.read.parquet(s"$dir/t").inputFiles.toSet
    assert(allFiles.size == 5)
    // A narrow band inside the range-clustered layout: 1-2 zones overlap.
    val pruned = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 500L, 700L)
    assert(pruned.inputFiles.toSet.subsetOf(allFiles) && pruned.inputFiles.length < 5,
      pruned.inputFiles.mkString(", "))
    val got = pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val expected = rows.filter(col("t") >= 500L && col("t") <= 700L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected && got.nonEmpty)
    // Out-of-range band: zero files, empty frame, schema intact.
    val none = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 100000L, 200000L)
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "t", "v"))
    // A conforming writer lands a file and bumps the epoch but does NOT
    // patch the manifest: the pruned read must fail loud, not silently
    // miss the new rows.
    Seq((999L, 600L, "late")).toDF("id", "t", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t")
    graft.ops.Layout.bumpTableEpoch(spark, s"$dir/t")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 500L, 700L)
    }
    assert(e.getMessage.contains("stale manifest"))
    // Re-running statsManifest reconciles: the late row is back in scope.
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("t"))
    val again = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 500L, 700L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == (expected :+ 999L).sorted)
  }

  test("zone-map manifest opens start no job; the pruned read answers as before") {
    val dir = tmpDir("graft-layout")
    val rows = (0L until 300L).map(i => (i, i * 10L, s"v$i")).toDF("id", "t", "v")
    rows.repartitionByRange(5, col("t")).write.mode("overwrite").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("t"))
    // The manifest root's own name starts with `_`: the helper still lists
    // its files and reads the schema Spark's inference reads.
    val m = s"$dir/t/_graft_manifest"
    val (manifest, openJobs) = jobsOf(graft.ops.Layout.readParquet(spark, m))
    assert(openJobs == 0, s"manifest open started $openJobs job(s)")
    assert(manifest.schema == spark.read.parquet(m).schema, manifest.schema)
    assert(manifest.inputFiles.nonEmpty &&
      manifest.inputFiles.toSet == spark.read.parquet(m).inputFiles.toSet)
    assert(manifest.count() == 5L)
    // Planning a pruned read: the surviving-file collect and the file-list
    // read's schema inference, nothing for the manifest.
    val (pruned, planJobs) = jobsOf(graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 500L, 700L))
    assert(planJobs == 2, s"pruned read planning started $planJobs job(s)")
    val expected = rows.filter(col("t") >= 500L && col("t") <= 700L).collect().map(_.toString).sorted
    assert(pruned.collect().map(_.toString).sorted.toSeq == expected.toSeq && expected.nonEmpty)
    graft.ops.Layout.verifyManifest(spark, s"$dir/t")
  }

  test("2-D zone pruning on a z-clustered table beats either single-column bound") {
    val dir = tmpDir("graft-layout")
    // 32×32 grid, one row per (x, y): z-clustered files are rectangles.
    val rows = (0L until 1024L).map(i => (i, i % 32, i / 32)).toDF("id", "x", "y")
    graft.ops.Layout.clusterByZ(rows, "x", "y", bits = 5, numPartitions = 16)
      .write.mode("overwrite").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("x", "y"))
    def files(b: Seq[(String, (Long, Long))]) =
      graft.ops.Layout.prunedParquetBounds(spark, s"$dir/t", b).inputFiles.toSet
    val box = Seq("x" -> (4L, 7L), "y" -> (4L, 7L))
    val both = files(box)
    val xOnly = files(box.take(1))
    val yOnly = files(box.drop(1))
    assert(both.subsetOf(xOnly) && both.subsetOf(yOnly))
    assert(both.size < xOnly.size && both.size < yOnly.size,
      s"2-D ${both.size} vs x ${xOnly.size} / y ${yOnly.size}")
    // And the answer is exactly the full-scan filter.
    val got = graft.ops.Layout.prunedParquetBounds(spark, s"$dir/t", box)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = rows.filter(col("x").between(4, 7) && col("y").between(4, 7))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.size == 16)
  }

  test("manifest fsck catches the out-of-band write the fast epoch check cannot see") {
    val dir = tmpDir("graft-layout")
    val rows = (0L until 100L).map(i => (i, i * 10L)).toDF("id", "t")
    rows.repartitionByRange(4, col("t")).write.mode("overwrite").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("t"))
    graft.ops.Layout.verifyManifest(spark, s"$dir/t") // fresh: fsck passes
    // An out-of-band writer (plain Spark append, no epoch bump) is
    // invisible to the per-query epoch compare — the documented
    // single-writer limitation...
    Seq((999L, 330L)).toDF("id", "t")
      .coalesce(1).write.mode("append").parquet(s"$dir/t")
    graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 0L, 10L).collect()
    // ...and exactly what the offline full-listing fsck exists to catch.
    val e = intercept[IllegalArgumentException] {
      graft.ops.Layout.verifyManifest(spark, s"$dir/t")
    }
    assert(e.getMessage.contains("fsck"))
  }

  test("upsert and compaction keep the zone-map manifest fresh via the epoch protocol") {
    val dir = tmpDir("graft-layout")
    val base = (0L until 120L).map(i => (i, i * 10L, s"p${(i % 3).toInt}"))
      .toDF("id", "t", "part")
    base.write.mode("overwrite").partitionBy("part").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("t"))
    // Upsert: edit one key, add a key in a NEW partition — the writer
    // patches the manifest itself; no statsManifest rerun needed.
    val batch = Seq((0L, 5000L, "p0"), (777L, 660L, "pNew")).toDF("id", "t", "part")
    graft.ops.Layout.upsertPartitioned(spark, s"$dir/t", batch,
      keyCols = Seq("id"), partitionCol = "part")
    graft.ops.Layout.verifyManifest(spark, s"$dir/t")
    val got = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 650L, 670L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(65L, 66L, 67L, 777L))
    // Moved key: id=0 now lives at t=5000 only.
    val moved = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 4000L, 6000L)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(moved == Seq(0L))
    // Compaction rewrites every file; the manifest must describe the NEW
    // files afterwards (per-file stats cannot survive a rewrite).
    graft.ops.Layout.compactInPlace(spark, s"$dir/t", Seq("part"))
    graft.ops.Layout.verifyManifest(spark, s"$dir/t")
    val post = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 650L, 670L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(post == Seq(65L, 66L, 67L, 777L))
  }

  test("manifest patch with a nested-partition ancestor dir replaces descendants, no duplicates") {
    val dir = tmpDir("graft-layout")
    val rows = (0L until 80L).map(i =>
      (i, i * 10L, (i % 2).toInt, (i % 4).toInt)).toDF("id", "t", "band", "bucket")
    rows.write.mode("overwrite").partitionBy("band", "bucket").parquet(s"$dir/t")
    graft.ops.Layout.statsManifest(spark, s"$dir/t", Seq("t"))
    // Rewrite all of band=1 (files live one level deeper, band=1/bucket=*).
    val b1 = spark.read.parquet(s"$dir/t").filter(col("band") === 1)
      .withColumn("t", col("t") + 100000L)
    val tmp = s"$dir/b1new"
    b1.select("id", "t", "bucket").write.mode("overwrite")
      .partitionBy("bucket").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t/band=1"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$dir/t/band=1")))
    // Patch with the ANCESTOR dir: old band=1/bucket=* rows must drop even
    // though their immediate parent is bucket=*, not band=1.
    graft.ops.Layout.manifestPatchDirs(spark, s"$dir/t", Seq("band=1"))
    val manifest = spark.read.parquet(s"$dir/t/_graft_manifest")
    val perFile = manifest.groupBy("file").count()
      .filter(col("count") > 1).count()
    assert(perFile == 0L, "duplicate file entries after ancestor-dir patch")
    graft.ops.Layout.verifyManifest(spark, s"$dir/t")
    // The patched zones route queries to the rewritten band.
    val pr = graft.ops.Layout.prunedParquet(spark, s"$dir/t", "t", 100010L, 100030L)
    // Partition columns survive the file-list read (basePath-anchored).
    assert(pr.columns.toSet == Set("id", "t", "band", "bucket"))
    val hit = pr.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(hit == Seq(1L, 3L), hit.mkString(", "))
    // Trailing slash would silently match nothing — rejected up front.
    val e = intercept[IllegalArgumentException] {
      graft.ops.Layout.manifestPatchDirs(spark, s"$dir/t", Seq("band=1/"))
    }
    assert(e.getMessage.contains("unsafe"))
    // Crash guard: a patch that died BETWEEN the swap renames leaves
    // (.__patch_old present, _graft_manifest gone) — the next patch must
    // fail loud, not read it as "no manifest, bump only".
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/t/_graft_manifest"),
      new org.apache.hadoop.fs.Path(s"$dir/t/_graft_manifest.__patch_old")))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Layout.manifestPatchDirs(spark, s"$dir/t", Seq("band=1"))
    }
    assert(e2.getMessage.contains("crashed mid-swap"))
  }

  test("partitioned upsert: COW touches only the batch's partitions, keys replaced not duplicated") {
    val dir = tmpDir("graft-layout")
    val base = (0L until 30L).map(i => (i, s"v$i", s"p${i % 3}"))
      .toDF("id", "v", "part")
    base.write.mode("overwrite").partitionBy("part").parquet(s"$dir/t")
    def files(p: String): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified)).toSet
    }
    val p2Before = files(s"$dir/t/part=p2")
    // Edit two p0 keys, add one brand-new key into a NEW partition.
    val batch = Seq((0L, "edited0", "p0"), (3L, "edited3", "p0"), (100L, "fresh", "pNew"))
      .toDF("id", "v", "part")
    graft.ops.Layout.upsertPartitioned(spark, s"$dir/t", batch,
      keyCols = Seq("id"), partitionCol = "part")
    val after = spark.read.parquet(s"$dir/t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val expected = (0L until 30L)
      .map(i => (i, if (i == 0L || i == 3L) s"edited$i" else s"v$i", s"p${i % 3}"))
      .toSet + ((100L, "fresh", "pNew"))
    assert(after == expected)
    // The untouched partition kept its exact files (same paths, same mtimes).
    assert(files(s"$dir/t/part=p2") == p2Before)
    assert(new java.io.File(s"$dir/t/part=pNew").isDirectory)
    assert(!new java.io.File(s"$dir/t.__upsert_tmp").exists())
    // Crash guard: a leftover half-swap marker fails loud before any write.
    assert(new java.io.File(s"$dir/t/part=p0.__upsert_old").mkdir())
    val e = intercept[IllegalArgumentException] {
      graft.ops.Layout.upsertPartitioned(spark, s"$dir/t", batch,
        keyCols = Seq("id"), partitionCol = "part")
    }
    assert(e.getMessage.contains("upsert"))
  }

  test("index compaction folds append files to one per partition, probes unchanged") {
    val dir = tmpDir("graft-layout")
    val mk = (i: Long) =>
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i marker$i tail$i"
    val corpus = (0L until 30L).map(i => (i, mk(i))).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    // Three ingest batches → up to 4 files per touched partition.
    (30L until 33L).foreach { i =>
      graft.ops.Dedup.minhashIndexAppend(
        Seq((i, mk(i))).toDF("doc_id", "text"), s"$dir/idx")
    }
    val probe = Seq((200L, mk(31L) + " recrawl")).toDF("doc_id", "text")
    val pre = graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pre.exists(m => m._1 == 200L && m._2 == 31L), pre.mkString(", "))

    def filesPerPartition(path: String): Map[String, Int] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).map(_.getPath).filter(_.endsWith(".parquet"))
        .groupBy(p => p.substring(0, p.lastIndexOf('/'))).map { case (k, v) => (k, v.size) }
    }
    assert(filesPerPartition(s"$dir/idx/signatures_delta").values.sum == 3)

    graft.ops.Dedup.minhashIndexCompact(spark, s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/signatures_delta").exists())
    assert(filesPerPartition(s"$dir/idx/signatures").values.max == 1)
    // Identical probe answer from the compacted layout.
    val post = graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(post == pre, s"pre=$pre post=$post")
    // The manifest survives compaction (it lives beside the tables).
    graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6).collect()
  }

  test("minhash rebuild at the same path drops the old append delta") {
    val dir = tmpDir("graft-layout")
    val mk = (i: Long) =>
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i marker$i tail$i"
    val corpus = (0L until 20L).map(i => (i, mk(i))).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    graft.ops.Dedup.minhashIndexAppend(Seq((200L, mk(200L))).toDF("doc_id", "text"), s"$dir/idx")
    val probe = Seq((300L, mk(200L) + " recrawl")).toDF("doc_id", "text")
    def matches() = graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(matches().contains((300L, 200L)))
    // Doc 200 is in the delta only; a rebuild from a corpus without it must
    // not keep serving it.
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    assert(!new java.io.File(s"$dir/idx/signatures_delta").exists())
    assert(matches().isEmpty)
  }

  test("minhash probe over base and delta sharing rows answers as the base alone") {
    val dir = tmpDir("graft-layout")
    val mk = (i: Long) =>
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i marker$i tail$i"
    val corpus = (0L until 20L).map(i => (i, mk(i))).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    graft.ops.Dedup.minhashIndexAppend(
      Seq((200L, mk(200L)), (201L, mk(7L) + " twin")).toDF("doc_id", "text"), s"$dir/idx")
    val probe = Seq((300L, mk(200L) + " recrawl"), (301L, mk(7L) + " recrawl"))
      .toDF("doc_id", "text")
    def answer() = graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // A compaction that crashed after its swap but before deleting the
    // delta: the delta's rows are in the base AND still in the delta.
    val delta = new java.io.File(s"$dir/idx/signatures_delta").toPath
    val saved = new java.io.File(s"$dir/saved_delta").toPath
    org.apache.commons.io.FileUtils.copyDirectory(delta.toFile, saved.toFile)
    graft.ops.Dedup.minhashIndexCompact(spark, s"$dir/idx")
    val baseAlone = answer()
    assert(baseAlone.map(m => (m._1, m._2)).toSet ==
      Set((300L, 200L), (301L, 7L), (301L, 201L)), baseAlone.mkString(", "))
    org.apache.commons.io.FileUtils.copyDirectory(saved.toFile, delta.toFile)
    assert(answer() == baseAlone)
  }

  test("a one-partition minhash append writes 2 data files; index opens start no job") {
    val dir = tmpDir("graft-layout")
    val mk = (i: Long) =>
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i marker$i tail$i"
    graft.ops.Dedup.minhashIndexBuild(
      (0L until 20L).map(i => (i, mk(i))).toDF("doc_id", "text"), s"$dir/idx", n = 3)
    val batch = (200L until 230L).map(i => (i, mk(i))).toDF("doc_id", "text").coalesce(1)
    val before = parquetFiles(s"$dir/idx").toSet
    graft.ops.Dedup.minhashIndexAppend(batch, s"$dir/idx")
    val added = parquetFiles(s"$dir/idx").toSet -- before
    assert(added.size == 2, added.mkString(", "))
    assert(added.count(_.contains("/signatures_delta/")) == 1, added.mkString(", "))
    assert(added.count(_.contains("/shingles/")) == 1, added.mkString(", "))
    // Opening the index reads its manifest and table footers on the driver.
    val (family, manifestJobs) = jobsOf(graft.ops.Dedup.readMinhashManifest(spark, s"$dir/idx"))
    assert(family == ((3, 32, 8, 16)))
    assert(manifestJobs == 0, s"manifest read started $manifestJobs job(s)")
    val (_, openJobs) = jobsOf(Seq("signatures", "signatures_delta", "shingles")
      .map(t => graft.ops.Layout.readParquet(spark, s"$dir/idx/$t").schema))
    assert(openJobs == 0, s"table opens started $openJobs job(s)")
  }

  test("footer-schema open of the partitioned signatures equals Spark's inference") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("graft-layout")
    val corpus = (0L until 20L).map(i => (i, s"some words for document number $i here"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    graft.ops.Dedup.minhashIndexAppend(corpus.limit(3), s"$dir/idx")
    for (t <- Seq("signatures", "signatures_delta", "shingles")) {
      val p = s"$dir/idx/$t"
      assert(graft.ops.Layout.readParquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    // Partition columns come after the data columns, typed as inferred.
    val sigs = graft.ops.Layout.readParquet(spark, s"$dir/idx/signatures").schema
    assert(sigs.fieldNames.toSeq == Seq("id", "bsig", "band", "bucket"), sigs)
    assert(sigs("band").dataType == IntegerType && sigs("bucket").dataType == IntegerType, sigs)
  }

  test("minhash manifest read fails loud and names the path") {
    val dir = tmpDir("graft-layout")
    val corpus = (0L until 10L)
      .map(i => (i, s"some words for document number $i here")).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3)
    val manifest = new java.io.File(s"$dir/idx/manifest")
    // A hand-edited manifest: one part file of new bytes, no checksum file.
    manifest.listFiles.filter(_.getName != "_SUCCESS").foreach(_.delete())
    java.nio.file.Files.write(new java.io.File(manifest, "part-00000.json").toPath,
      "{\"n\": 3, not json".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.minhashIndexAppend(corpus, s"$dir/idx")
    }
    assert(e1.getMessage.contains(manifest.getPath) && e1.getMessage.contains("JSON"),
      e1.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(manifest)
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.nearDupAgainst(corpus, s"$dir/idx", n = 3, threshold = 0.6)
    }
    assert(e2.getMessage.contains(manifest.getPath), e2.getMessage)
  }

  test("minhash probe and append fail loud on a signature-family mismatch") {
    val dir = tmpDir("graft-layout")
    val corpus = (0L until 10L)
      .map(i => (i, s"some words for document number $i here")).toDF("doc_id", "text")
    graft.ops.Dedup.minhashIndexBuild(corpus, s"$dir/idx", n = 3, numHashes = 32, bands = 8)
    val probe = Seq((99L, "some words for document number 3 here")).toDF("doc_id", "text")
    // Wrong numHashes/bands/n: each must be rejected by the manifest check,
    // not silently return "no matches".
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6,
        numHashes = 16, bands = 8)
    }
    assert(e1.getMessage.contains("family"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 5, threshold = 0.6)
    }
    assert(e2.getMessage.contains("family"))
    // The matched family still works.
    graft.ops.Dedup.nearDupAgainst(probe, s"$dir/idx", n = 3, threshold = 0.6).collect()
  }

  test("date-partitioned parquet prunes partitions at the scan") {
    val dir = tmpDir("graft-layout")
    val events = (0L until 500L)
      .map(i => (i % 10, i, s"e$i")).toDF("day", "event_id", "payload")
    events.write.partitionBy("day").parquet(s"$dir/events")
    val df = spark.read.parquet(s"$dir/events").filter(col("day") === 3)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = root.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // The partition filter must be applied at planning: only day=3's files
    // are read (one tenth of the rows), and the scan metadata records it.
    assert(scans.head.metadata("PartitionFilters").contains("day"),
      scans.head.metadata.toString)
    assert(scans.head.relation.location.inputFiles.count(_.contains("day=3")) > 0)
    assert(df.count() == 50L)
  }
}
