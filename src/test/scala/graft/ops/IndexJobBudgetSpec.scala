package graft.ops

import graft.SparkSpec

/** Spark-job budgets of the persisted-index ops, in the shapes the
  * `dedup_ann` benchmark calls them: a parquet ingest batch probed against
  * a MinHash index with an append delta, and IVF probes of an appended
  * index. Each op is small, so the jobs Spark starts around its kernels set
  * its cost. Counts, not timings: the same on every host.
  */
class IndexJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private def words(k: Int) = Vector.fill(k)(s"w${rnd.nextInt(300)}")

  test("a broadcast-sized near-dup probe runs at most 3 jobs") {
    val dir = tmpDir("graft-jobs")
    val corpus = (0L until 200L).map(i => (i, words(40)))
    Dedup.minhashIndexBuild(corpus.map { case (i, w) => (i, w.mkString(" ")) }.toDF("doc_id", "text"),
      s"$dir/idx", n = 3, numHashes = 16, bands = 8, nBuckets = 8)
    Dedup.minhashIndexAppend((1000L until 1030L).map(i => (i, words(40).mkString(" ")))
      .toDF("doc_id", "text"), s"$dir/idx")
    // Edits of ten indexed docs among fresh ones, landed as one parquet file.
    val batch = (0 until 60).map { i =>
      if (i < 10) (2000L + i, corpus(i * 7)._2.updated(3, "edited").mkString(" "))
      else (2000L + i, words(40).mkString(" "))
    }
    batch.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    val in = spark.read.parquet(s"$dir/in")
    val (pairs, jobs) = jobsOf(
      Dedup.nearDupAgainst(in, s"$dir/idx", 3, 0.7, 16, 8, 8).collect())
    assert(jobs <= 3, s"near_dup ran $jobs job(s)")
    assert((0 until 10).forall(i => pairs.exists(r => r.getLong(0) == 2000L + i &&
      r.getLong(1) == i * 7L)), pairs.mkString(", "))
  }

  test("an IVF probe plans with no job and executes in one") {
    val dir = tmpDir("graft-jobs")
    val centers = Vector.fill(4)(Array.fill(8)(rnd.nextGaussian()))
    def vec(id: Long) = (id, centers(Math.floorMod(id, 4L).toInt)
      .map(x => x + 0.1 * rnd.nextGaussian()).toSeq, Math.floorMod(id, 4L).toInt)
    Similarity.ivfBuild((0L until 80L).map(vec).toDF("vec_id", "embedding", "label"), s"$dir/ivf")
    Similarity.ivfAppend((1000L until 1008L).map(vec).toDF("vec_id", "embedding", "label"), s"$dir/ivf")
    val q = vec(-1L)._2.toArray
    val (probe, planJobs) = jobsOf(Similarity.ivfProbePersisted(spark, s"$dir/ivf", q, 5, 2))
    assert(planJobs == 0, s"IVF probe planning ran $planJobs job(s)")
    val (rows, runJobs) = jobsOf(probe.collect())
    assert(runJobs == 1 && rows.length == 5, s"IVF probe ran $runJobs job(s) for ${rows.length} rows")
  }
}
