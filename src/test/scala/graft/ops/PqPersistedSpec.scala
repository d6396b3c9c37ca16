package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted-PQ lifecycle contract: a probe over the stored
  * codes/codebooks returns bit-identical results to the in-plan
  * quantization paths ([[Similarity.pqAdcTopK]] / [[Similarity.ivfPqTopK]]),
  * the IVF+PQ probe is a partition-pruned read of only the probed clusters,
  * and [[Similarity.pqAppend]] encodes ingest batches against the FROZEN
  * codebooks (an exact twin of a built vector gets that vector's exact
  * codes, so it ranks at the twin's ADC).
  */
class PqPersistedSpec extends SparkSpec {
  import spark.implicits._

  // 40 vectors in 4-d (m=2 blocks × subDim=2), four direction families with
  // per-vector jitter so ADC sums are distinct and ties never decide a test.
  private val bases = Seq(
    Array(1.0, 0.1, 0.0, 0.05), Array(0.0, 1.0, 0.1, 0.0),
    Array(0.1, 0.0, 1.0, 0.1), Array(0.5, 0.5, 0.1, 1.0))
  private def corpusRows(n: Int): Seq[(Long, Seq[Float])] =
    (0L until n.toLong).map { i =>
      val lab = (i % 4).toInt
      (i, bases(lab).zipWithIndex.map { case (x, d) =>
        (x + 0.007 * (i / 4) * (d + 1)).toFloat
      }.toSeq)
    }
  private def corpus(n: Int) = corpusRows(n).toDF("vec_id", "embedding")

  private def queryOf(n: Int): Array[Double] =
    corpusRows(n).head._2.map(_.toDouble).toArray

  test("pqProbePersisted matches pqAdcTopK bit-for-bit") {
    val dir = tmpDir("graft-pq")
    val df = corpus(40)
    Similarity.pqBuild(df, s"$dir/idx", m = 2, subDim = 2, k = 4)
    val got = Similarity.pqProbePersisted(
      spark, s"$dir/idx", queryOf(40), topK = 8, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.pqAdcTopK(df, m = 2, subDim = 2, k = 4,
      queryId = 0L, topK = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.size == 8)
  }

  test("ivfPqProbePersisted matches ivfPqTopK and prunes to the probed partitions") {
    val dir = tmpDir("graft-pq")
    val df = corpus(40)
    Similarity.ivfPqBuild(df, s"$dir/idx", kClusters = 4, rounds = 1,
      m = 2, subDim = 2, kCodes = 4)
    val probe = Similarity.ivfPqProbePersisted(
      spark, s"$dir/idx", queryOf(40), topK = 6, nprobe = 2, excludeId = Some(0L))
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.ivfPqTopK(df, kClusters = 4, rounds = 1, nprobe = 2,
      m = 2, subDim = 2, kCodes = 4, queryId = 0L, topK = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty)

    // The codes scan is partition-pruned at planning time: cluster filter in
    // PartitionFilters, and exactly nprobe=2 partitions read. The collector
    // recurses through AQE's leaf QueryStageExec wrappers — plain collect
    // stops at them.
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collectWithSubqueries {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata("Location").contains("/codes") => Seq(f)
      }.flatten
    val root = probe.queryExecution.executedPlan
    val scans = scansOf(root)
    assert(scans.nonEmpty, root.toString.take(2000))
    assert(scans.head.metadata("PartitionFilters").contains("cluster"),
      scans.head.metadata.toString)
    assert(scans.head.metrics("numPartitions").value == 2L,
      scans.head.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(", "))
  }

  test("pqAppend encodes against frozen codebooks; appended twin ranks at its original's ADC") {
    val dir = tmpDir("graft-pq")
    val rows = corpusRows(40)
    val df = rows.toDF("vec_id", "embedding")
    Similarity.pqBuild(df.filter(col("vec_id") % 2 === 0), s"$dir/idx",
      m = 2, subDim = 2, k = 4)
    // Exact twin of vec 0 arrives as an ingest batch (the re-crawl case),
    // plus one genuinely new vector.
    val batch = Seq((1000L, rows.head._2), (1001L, rows(7)._2))
      .toDF("vec_id", "embedding")
    Similarity.pqAppend(batch, s"$dir/idx")
    val got = Similarity.pqProbePersisted(
      spark, s"$dir/idx", queryOf(40), topK = 21, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // Appended rows are visible to probes…
    assert(got.map(_._1).contains(1000L), got.mkString(", "))
    assert(got.map(_._1).contains(1001L), got.mkString(", "))
    // …and the twin's ADC is the corpus minimum — it sits in vec 0's own
    // code cell (k=4 codebooks collapse a direction family into one cell,
    // so ties with other family members are expected; a twin that missed
    // the cell would score strictly higher).
    assert(got.find(_._1 == 1000L).get._2 == got.map(_._2).min,
      got.take(5).mkString(", "))
    // Frozen-codebook encoding is bit-identical to the build's: the twin's
    // stored codes equal vec 0's stored codes exactly.
    val codes = spark.read.parquet(s"$dir/idx/codes")
      .filter(col("vid").isin(0L, 1000L))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    assert(codes(0L) == codes(1000L), codes.toString)
  }

  test("rerank restores the exact ranking ADC cannot produce within a code cell") {
    val dir = tmpDir("graft-pq")
    val df = corpus(40)
    Similarity.ivfPqBuild(df, s"$dir/idx", kClusters = 1, rounds = 0,
      m = 2, subDim = 2, kCodes = 4)
    val q = queryOf(40)
    // kClusters=1 + full-corpus shortlist: stage 1 admits everything, so
    // the rerank output IS the exact squared-L2 top-k — the recall ceiling
    // the shortlist knob trades against.
    val got = Similarity.ivfPqProbeRerank(spark, s"$dir/idx", df, q,
      topK = 5, nprobe = 1, shortlist = 39, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qlit = typedlit(q.toSeq)
    val want = df.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), round(
        Similarity.dot(col("v"), col("v"))
          - lit(2.0) * Similarity.dot(col("v"), qlit)
          + Similarity.dot(qlit, qlit), 4).as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // ADC alone CANNOT produce this ranking here: the 4-code quantization
    // collapses family members into shared cells (ties), while the exact
    // rerank separates them — distances in the rerank output are strictly
    // increasing, not tied.
    assert(got.map(_._2).distinct.size > 1)
  }

  test("pqCompact folds append files; probes identical before and after") {
    val dir = tmpDir("graft-pq")
    val rows = corpusRows(40)
    Similarity.ivfPqBuild(rows.toDF("vec_id", "embedding"), s"$dir/idx",
      kClusters = 4, rounds = 1, m = 2, subDim = 2, kCodes = 4)
    // Three appended batches accumulate small files in the cluster dirs.
    (0 until 3).foreach { b =>
      Similarity.pqAppend(
        Seq((2000L + b, rows(b)._2)).toDF("vec_id", "embedding"), s"$dir/idx")
    }
    val q = queryOf(40)
    val before = Similarity.ivfPqProbePersisted(
      spark, s"$dir/idx", q, topK = 20, nprobe = 4, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Similarity.pqCompact(spark, s"$dir/idx")
    val after = Similarity.ivfPqProbePersisted(
      spark, s"$dir/idx", q, topK = 20, nprobe = 4, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before)
    // And the fold really happened: one data file per cluster directory.
    val clusters = new java.io.File(s"$dir/idx/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(clusters.nonEmpty)
    clusters.foreach { c =>
      val parts = c.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${c.getName}: ${parts.length} files")
    }
  }

  test("pqAppend routes into an IVF+PQ index's frozen-centroid partitions") {
    val dir = tmpDir("graft-pq")
    val rows = corpusRows(40)
    val df = rows.toDF("vec_id", "embedding")
    Similarity.ivfPqBuild(df, s"$dir/idx", kClusters = 4, rounds = 1,
      m = 2, subDim = 2, kCodes = 4)
    val batch = Seq((1000L, rows.head._2)).toDF("vec_id", "embedding")
    Similarity.pqAppend(batch, s"$dir/idx")
    // The twin of vec 0 lands in vec 0's cluster partition (routed by the
    // FROZEN centroids), so even an nprobe=1 probe toward vec 0 sees it, at
    // the corpus-minimum ADC (vec 0's own code cell).
    val clusters = spark.read.parquet(s"$dir/idx/codes")
      .filter(col("vid").isin(0L, 1000L))
      .select(col("vid"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.get(1))).toMap
    assert(clusters(0L) == clusters(1000L), clusters.toString)
    val got = Similarity.ivfPqProbePersisted(
      spark, s"$dir/idx", queryOf(40), topK = 20, nprobe = 1, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1).contains(1000L), got.mkString(", "))
    assert(got.find(_._1 == 1000L).get._2 == got.map(_._2).min,
      got.take(5).mkString(", "))
  }
}
