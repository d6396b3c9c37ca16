package graft.uts

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** [[Tsdb.readParquet]]'s driver-side schema must be the one Spark's own
  * inference gives, for every stored `ts` generation — Spark-written
  * snapshots (which carry Spark's row metadata) and foreign-written files
  * (schema converted from the parquet types) alike — must never go stale
  * when a snapshot is rewritten in place, and must keep failing loud on a
  * missing or empty path.
  */
class TsdbSchemaSpec extends SparkSpec {
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.MessageTypeParser

  /** A parquet file written by plain parquet-mr (no Spark row metadata), with
    * `ts` of the given annotated INT64 type, like the corpus generations.
    */
  private def foreign(path: String, tsType: String): String = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional int64 ts $tsType; " +
        "optional double value; }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    val perMs = if (tsType.contains("MICROS")) 1000L else 1000000L
    try (0 until 3).foreach { i =>
      w.write(f.newGroup().append("event_id", i.toLong)
        .append("ts", (1700000000000L + i) * perMs).append("value", i.toDouble))
    } finally w.close()
    path
  }

  private def sameAsInference(path: String) = {
    val mine = Tsdb.readParquet(spark, path)
    assert(mine.schema == spark.read.parquet(path).schema, path)
    assert(mine.count() == spark.read.parquet(path).count(), path)
    mine.schema("ts").dataType
  }

  test("schema equals Spark's inference for every stored ts generation") {
    import org.apache.spark.sql.types._
    val d = tmpDir("graft-schema")
    // Foreign writers: epoch-ns Long, TIMESTAMP(NANOS), TIMESTAMP_NTZ, TIMESTAMP.
    assert(sameAsInference(foreign(s"$d/long.parquet", "")) == LongType)
    assert(sameAsInference(foreign(s"$d/nanos.parquet", "(TIMESTAMP(NANOS,true))")) == LongType)
    assert(sameAsInference(foreign(s"$d/ntz.parquet", "(TIMESTAMP(MICROS,false))")) ==
      TimestampNTZType)
    assert(sameAsInference(foreign(s"$d/tz.parquet", "(TIMESTAMP(MICROS,true))")) ==
      TimestampType)
    // Spark-written snapshot directories of each type (with row metadata).
    val base = TsdbSchemaSpec.events(spark, 50)
    for ((name, ts, want) <- Seq(
        ("slong", col("ts"), LongType),
        ("sntz", expr("timestamp_seconds(ts div 1000000000)").cast("timestamp_ntz"),
          TimestampNTZType),
        ("stz", expr("timestamp_seconds(ts div 1000000000)"), TimestampType))) {
      base.withColumn("ts", ts).write.parquet(s"$d/$name")
      assert(sameAsInference(s"$d/$name") == want, name)
    }
  }

  test("a snapshot rewritten in place is read with its new ts type, never stale") {
    import org.apache.spark.sql.types._
    val d = tmpDir("graft-schema")
    val base = TsdbSchemaSpec.events(spark, 20)
    base.write.parquet(s"$d/events.parquet")
    val asLong = Tsdb.events(spark, d)
    assert(asLong.df.schema("ts").dataType == LongType)
    val times = asLong.df.select("event_id", "time").orderBy("event_id").collect().toSeq
    base.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val asNtz = Tsdb.events(spark, d)
    assert(asNtz.df.schema("ts").dataType == TimestampNTZType)
    assert(asNtz.df.select("event_id", "time").orderBy("event_id").collect().toSeq == times)
  }

  test("a missing or empty path still fails loud") {
    val d = tmpDir("graft-schema")
    val missing = intercept[AnalysisException](Tsdb.events(spark, s"$d/nope"))
    assert(missing.getMessage.contains("PATH_NOT_FOUND"), missing.getMessage)
    new java.io.File(s"$d/events.parquet").mkdirs()
    val empty = intercept[AnalysisException](Tsdb.events(spark, d))
    assert(empty.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), empty.getMessage)
  }
}

object TsdbSchemaSpec {
  /** `n` uts-shaped events a minute apart, `ts` stored as epoch-ns Long. */
  def events(spark: org.apache.spark.sql.SparkSession, n: Int) =
    spark.range(n).select(
      col("id").as("event_id"),
      ((lit(1700000000000L) + col("id") * 60000L) * 1000000L).as("ts"),
      (col("id") % 7).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        (col("id") % 3 + 1).cast("int")).as("event_type"),
      (col("id") % 11).cast("double").as("value"))
}
