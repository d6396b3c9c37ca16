package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query measurement probe (optimization-guide §1: measure first).
  *
  * For each query name passed as an argument this runs the query into the
  * noop sink (same timed action as [[Bench]]) after one warmup rep, and
  * prints, per rep, the wall seconds plus the scheduler-level shape the
  * wall is made of: number of Spark jobs the query submits (each job is a
  * serial driver-side action — collect/checkpoint/broadcast-build passes
  * show up here), number of stages (≈ shuffle boundaries + 1 per job),
  * task count and summed task time. A query whose wall is 10× its task
  * time is dominated by driver-side serialization of many small jobs, not
  * by plan cost — a different fix than a heavy Exchange.
  *
  * It also writes `plans/<tag>/<query>_<suffix>.txt` with
  * `.explain("formatted")` when SPARK_GRAFT_PROBE_PLANDIR and
  * SPARK_GRAFT_PROBE_SUFFIX are set — the before/after plan evidence the
  * optimization rounds commit. Plans are captured from the SAME DataFrame
  * value that was executed (queries that materialize routing state at
  * plan-construction time show their final probe-side plan, with the
  * build passes as checkpoint-scan leaves — stated in the header).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.BenchProbe q16_part_supplier_count dedup_semantic"
  */
object BenchProbe {
  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    var enabled = false

    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      jobs.incrementAndGet()
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStart.put(e.jobId, (System.nanoTime(), desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, desc) =>
        val ms = (System.nanoTime() - t0) / 1e6
        jobLog.add(f"job ${e.jobId}%4d ${ms}%8.1f ms  $desc")
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      taskTimeMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L); jobLog.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchProbe <query> [<query> ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PROBE_PLANDIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PROBE_SUFFIX", "probe")
    val spark = Bench.session(cpus)
    // Optional materialization-gate override so gated plans can be dumped
    // as evidence (e.g. SPARK_GRAFT_MATERIALIZE_MAXBYTES=1 shows a query's
    // reliable-mode above-gate shape without flipping the mode).
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MAXBYTES").foreach(v =>
      spark.conf.set(graft.ops.Materialize.TransientMaxConf, v))
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    for (w <- Bench.WarmupQueries)
      SparkEntry.queries(w)(spark, sfDir).write.mode("overwrite").format("noop").save()

    for (name <- args) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      spark.sparkContext.setJobDescription(s"probe-warmup: $name")
      fn(spark, sfDir).write.mode("overwrite").format("noop").save() // warmup
      val walls = (1 to reps).map { r =>
        counters.reset()
        counters.enabled = true
        spark.sparkContext.setJobDescription(s"probe: $name rep=$r")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        counters.enabled = false
        // Listener bus is async: give stage-completed events a beat to land.
        Thread.sleep(150)
        println(f"[probe] $name rep=$r wall=$wall%.3f s jobs=${counters.jobs.get}" +
          f" stages=${counters.stages.get} tasks=${counters.tasks.get}" +
          f" taskTime=${counters.taskTimeMs.get / 1000.0}%.3f s")
        if (r == reps) {
          val it = counters.jobLog.iterator()
          while (it.hasNext) println("[probe]   " + it.next())
        }
        wall
      }
      println(f"[probe] $name median=${Bench.median(walls)}%.3f s over $reps reps")
      // Between-query transient release, exactly like Bench/Verify.
      graft.ops.Materialize.releaseTransients()
      planDir.foreach { dir =>
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val p = java.nio.file.Paths.get(dir, s"${name}_$suffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[probe] wrote $p")
      }
    }
    spark.stop()
  }
}
