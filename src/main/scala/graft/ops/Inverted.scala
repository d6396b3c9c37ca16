package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INVERTED INDEX over a document corpus: term → posting list,
  * bucket-partitioned so a query reads only the partitions its own terms
  * hash to — the "index once, probe cheap" discipline
  * ([[Dedup.minhashIndexBuild]] / [[Similarity.ivfBuild]]) applied to
  * keyword search.
  *
  * Layout: `path/postings`, one row per (term, doc) with the term
  * frequency, partitioned by `bucket = xxhash64(term) mod nBuckets`; a
  * one-row JSON manifest (`path/manifest`: n_buckets) pins the routing
  * family — append and search READ it rather than taking parameters, so
  * they cannot diverge from the build.
  *
  * Scale contract: a conjunctive query over a 100 TB corpus touches
  * |query terms| buckets ≈ a 1/nBuckets fraction of the index — never the
  * corpus, never the full index. The posting rows for one term shuffle by
  * doc to the HAVING-count join, so query cost is Σ df(term), the posting
  * list sizes, exactly the classical search-engine bound. Ingest appends
  * new docs' postings into only the buckets they land in (parquet append
  * adds files without touching sibling partitions) — the index grows with
  * the corpus, no rebuild.
  */
object Inverted {

  private def readManifest(spark: SparkSession, path: String): Int =
    Layout.readJsonManifest(spark, s"$path/manifest", "n_buckets")("n_buckets")

  /** (term, doc_id, tf, bucket) posting rows for a document batch. */
  private def postings(df: DataFrame, nBuckets: Int, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))

  /** Build the index at `path` from a corpus snapshot. One shuffle: the
    * (term, doc) partial-aggregated tf rollup, re-used as the write
    * partitioning via `repartition(bucket)` so each bucket directory gets
    * one file per write, not one per task.
    */
  def build(
      df: DataFrame,
      path: String,
      nBuckets: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    postings(df, nBuckets, idCol, textCol)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
    df.sparkSession.range(1).select(lit(nBuckets).as("n_buckets"))
      .write.mode("overwrite").json(s"$path/manifest")
  }

  /** Append an ingest batch's postings IN PLACE — new files inside the
    * existing bucket directories, no rebuild, no corpus rescan. The
    * routing family comes from the manifest, so an append cannot hash
    * terms into the wrong buckets. Caller contract: batches carry NEW
    * doc ids (re-ingesting an id double-counts its tf, the same
    * append-after-admission discipline as [[Dedup.minhashIndexAppend]]).
    */
  def append(
      df: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val nBuckets = readManifest(df.sparkSession, path)
    postings(df, nBuckets, idCol, textCol)
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/postings")
  }

  /** The buckets `terms` hash to, by the same `pmod(xxhash64(term))`
    * projection as the postings writer. The projection runs over a local
    * relation, which the optimizer folds into one, so no Spark job starts.
    */
  private def bucketsOf(spark: SparkSession, terms: Seq[String], nBuckets: Int): Seq[Int] = {
    import spark.implicits._
    terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq
  }

  /** Conjunctive (AND-of-terms) search: docs containing EVERY query term,
    * ranked by summed term frequency (ties broken by doc id). Reads ONLY
    * the bucket partitions the query terms hash to: the term→bucket
    * routing is computed on the driver without a job ([[bucketsOf]]),
    * then pushed as a partition filter, so planning prunes every other
    * bucket directory before any posting file opens. The postings open
    * from their footer schema ([[Layout.readParquet]]), so planning a
    * search starts no Spark job.
    */
  def search(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val qs = terms.distinct
    val nBuckets = readManifest(spark, path)
    val buckets = bucketsOf(spark, qs, nBuckets)
    Layout.readParquet(spark, s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(qs: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"))
      .filter(col("n_terms") === qs.size)
      .select(col("doc_id"), col("tf_sum"))
      .orderBy(col("tf_sum").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-term corpus statistics straight off the index — document
    * frequency and total term frequency — without touching the corpus:
    * the planning numbers (idf, stopword cutoffs) a query optimizer or a
    * quality filter reads per term. Same bucket-pruned probe as
    * [[search]].
    */
  def termStats(spark: SparkSession, path: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "termStats needs at least one term")
    val qs = terms.distinct
    val nBuckets = readManifest(spark, path)
    val buckets = bucketsOf(spark, qs, nBuckets)
    Layout.readParquet(spark, s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(qs: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
      .orderBy(col("term"))
  }
}
