package graft.uts

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Spark-job budgets of the dashboard path. A `tsdb` panel is small, so the
  * jobs Spark starts around its real work — not its kernels — set its cost.
  * Opening a snapshot starts none (the schema comes from a driver-side
  * footer read, [[Tsdb.readParquet]]); each [[UtsQuery]] shape's collect
  * runs at most its pinned count; and no query orders its output with a
  * range sort (whose boundary sampling is one more job and one more shuffle
  * stage). Counts, not timings: the same on every host.
  */
class JobBudgetSpec extends SparkSpec {
  // A day and a half of events, `ts` stored as TIMESTAMP_NTZ like the corpus.
  private lazy val snap = {
    val d = tmpDir("graft-jobs")
    TsdbSchemaSpec.events(spark, 2000)
      .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
        .cast("timestamp_ntz"))
      .write.parquet(s"$d/events.parquet")
    d
  }
  private lazy val now = Tsdb.events(spark, snap).df
    .agg(org.apache.spark.sql.functions.max("time")).head().getLong(0)

  test("opening a parquet snapshot starts no Spark job") {
    snap
    val (_, events) = jobsOf(Tsdb.events(spark, snap).df.schema)
    assert(events == 0, s"Tsdb.events started $events job(s)")
    val (_, series) = jobsOf(new UtsDb(spark, Some(snap)).series("events").df.schema)
    assert(series == 0, s"UtsDb.series started $series job(s)")
    val (_, raw) = jobsOf {
      Tsdb.eventsRaw(spark, snap).schema
      Tsdb.eventsPhysicalSchema(spark, snap)
      Tsdb.table(spark, snap, "events").schema
    }
    assert(raw == 0, s"eventsRaw/eventsPhysicalSchema/table started $raw job(s)")
  }

  private val hour = 3600000L
  private val metrics = Seq("n" -> CountM(), "mean" -> Mean("value"))
  // Pinned per shape: one job per shuffle stage, one per broadcast build and
  // the result job. A global `orderBy` would add a sampling job and a stage.
  private val shapes: Seq[(String, Int, Long => UtsQuery)] = Seq(
    ("AnyGroup", 2, now => UtsQuery(metrics, Seq(Pred.gt("time", now - 24 * hour)))),
    ("ColumnGroup", 3, _ => UtsQuery(metrics, Nil, ColumnGroup(Seq("event_type")))),
    ("IntervalGroup fill, bound", 3, now => UtsQuery(metrics,
      Seq(Pred.gt("time", now - 24 * hour)), IntervalGroup(hour, fill = true, now))),
    ("IntervalGroup fill, no bound", 4, now => UtsQuery(metrics,
      Seq(Pred.eq("event_type", "click")), IntervalGroup(24 * hour, fill = true, now))),
    ("IntervalGroup no fill", 3, now => UtsQuery(metrics,
      Seq(Pred.gt("time", now - 24 * hour)), IntervalGroup(hour, fill = false, now))))

  for ((name, budget, query) <- shapes)
    test(s"$name collect runs at most $budget jobs, no range sort") {
      val q = query(now)
      val df: DataFrame = Tsdb.events(spark, snap).query(q)
      val (rows, jobs) = jobsOf(df.collect())
      assert(rows.nonEmpty)
      // The order contract: bins newest first, groups ascending, NULLs first.
      val lead = rows.toSeq.map(r => Option(r.get(0)))
      q.group match {
        case _: IntervalGroup => assert(lead == lead.sortBy(-_.get.asInstanceOf[Long]))
        case _: ColumnGroup => assert(lead == lead.sortBy(_.map(_.toString)))
        case _ =>
      }
      assert(jobs <= budget, s"$name: $jobs job(s), budget $budget")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("rangepartitioning"), s"$name:\n${plan.take(3000)}")
    }
}
