package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Inverted index ([[Inverted]]): search must equal the brute-force
  * corpus computation, probes must read ONLY the bucket partitions the
  * query terms hash to (the property that makes a keyword query
  * affordable against a 100 TB index), and appends must become visible
  * without a rebuild.
  */
class InvertedSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(ids: Range) =
    ids.map { i =>
      val extra = if (i % 3 == 0) " spark join" else if (i % 3 == 1) " spark" else ""
      (i.toLong, s"w$i common spark${" join" * (i % 5)}$extra")
    }.toDF("doc_id", "text")

  /** Brute-force conjunctive search over the raw corpus. */
  private def brute(df: org.apache.spark.sql.DataFrame, terms: Seq[String], k: Int) =
    df.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms.distinct: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"), sum("tf").as("tf_sum"))
      .filter(col("n") === terms.distinct.size)
      .select(col("doc_id"), col("tf_sum"))
      .orderBy(col("tf_sum").desc, col("doc_id")).limit(k)

  test("search equals the brute-force corpus computation") {
    val docs = mkDocs(0 until 200)
    val path = tmpDir("graft-inv-spec")
    Inverted.build(docs, path, nBuckets = 8)
    val got = Inverted.search(spark, path, Seq("spark", "join"), 15)
      .collect().map(_.toSeq).toSeq
    val want = brute(docs, Seq("spark", "join"), 15).collect().map(_.toSeq).toSeq
    assert(got == want)
    // Single-term query and repeated query terms (distinct'd) agree too.
    assert(Inverted.search(spark, path, Seq("spark", "spark"), 5)
      .collect().map(_.toSeq).toSeq ==
      brute(docs, Seq("spark"), 5).collect().map(_.toSeq).toSeq)
  }

  test("a probe reads only the buckets its terms hash to") {
    val docs = mkDocs(0 until 200)
    val path = tmpDir("graft-inv-spec")
    Inverted.build(docs, path, nBuckets = 16)
    val probed = Inverted.search(spark, path, Seq("spark"), 5)
    val root = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = root.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // The bucket routing must prune at PLANNING: the scan carries a
    // partition filter on bucket and opens exactly one of the 16 bucket
    // directories' files (build writes one file per bucket).
    assert(scans.head.metadata("PartitionFilters").contains("bucket"),
      scans.head.metadata.toString)
    val listing = scans.head.selectedPartitions
    assert(listing.totalNumberOfFiles == 1L && listing.partitionCount == 1,
      s"files=${listing.totalNumberOfFiles} partitions=${listing.partitionCount}")
  }

  test("an unknown term empties a conjunctive query") {
    val docs = mkDocs(0 until 50)
    val path = tmpDir("graft-inv-spec")
    Inverted.build(docs, path, nBuckets = 8)
    assert(Inverted.search(spark, path, Seq("spark", "zzz_absent"), 5).isEmpty)
  }

  test("appended docs are visible without a rebuild") {
    val docs = mkDocs(0 until 200)
    val path = tmpDir("graft-inv-spec")
    Inverted.build(docs.filter(col("doc_id") % 2 === 0), path, nBuckets = 8)
    Inverted.append(docs.filter(col("doc_id") % 2 === 1), path)
    val got = Inverted.search(spark, path, Seq("spark", "join"), 15)
      .collect().map(_.toSeq).toSeq
    assert(got == brute(docs, Seq("spark", "join"), 15).collect().map(_.toSeq).toSeq)
    assert(got.exists(r => r.head.asInstanceOf[Long] % 2 == 1))
  }

  test("termStats reads df and total tf off the index") {
    val docs = mkDocs(0 until 100)
    val path = tmpDir("graft-inv-spec")
    Inverted.build(docs, path, nBuckets = 8)
    val got = Inverted.termStats(spark, path, Seq("spark", "common"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .filter(col("term").isin("spark", "common"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("tf_total"))
      .orderBy("term")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }
}
