package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark JVM: set-up, warm-up passes, timed passes, check. Prints
  * one line `PERFBENCH {json}` with the per-pass figures; `run.py` launches
  * it and reduces the figures to the reported metrics.
  *
  * Arguments: --workload tsdb|dedup_ann --seed N --seconds S --trace 0|1
  *   --scale F --warmup W --min-passes P --work DIR --cores C --clk-tck T
  *   --launch-ms MS
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = a("launch-ms").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val proc = new Proc(a("clk-tck").toLong)
    val loopStart = HostLoop.timeMs()

    val spark = SparkSession.builder()
      .master(s"local[${a("cores")}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("rdd-checkpoints").toString)

    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, work, a("scale").toDouble, a("seed").toLong)
    val wl: Workload = a("workload") match {
      case "tsdb" => new TsdbWorkload
      case "dedup_ann" => new DedupAnnWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val s0 = System.nanoTime()
    wl.setup(ctx)
    val inputsS = (System.nanoTime() - s0) / 1e9

    /** One pass; returns its figures. Tracing (when on for the run) covers
      * every other pass, so that the run also measures its own overhead.
      */
    def pass(trace: Boolean): Map[String, Double] = {
      wl.reset(ctx)
      if (trace) {
        spark.sparkContext.addSparkListener(tracer.sparkListener)
        spark.listenerManager.register(tracer.queryListener)
        spark.streams.addListener(tracer.streamListener)
        ctx.tracer = Some(tracer)
      }
      PerfbenchBus.drain(spark.sparkContext)
      val spanFrom = tracer.spans.size
      val (in0, sh0, gc0, jit0) = (io.inputBytes.get, io.shuffleWriteBytes.get, gcMs(), proc.jitCpuNs())
      val w0 = System.nanoTime(); val wMs0 = System.currentTimeMillis(); val wc0 = proc.programCpuNs()
      ctx.span("phase", "write") { wl.writePhase(ctx) }
      val w1 = System.nanoTime(); val wMs1 = System.currentTimeMillis(); val wc1 = proc.programCpuNs()
      val stored = wl.storedBytes
      val r0 = System.nanoTime(); val rMs0 = System.currentTimeMillis(); val rc0 = proc.programCpuNs()
      ctx.span("phase", "read") { wl.readPhase(ctx) }
      val r1 = System.nanoTime(); val rMs1 = System.currentTimeMillis(); val rc1 = proc.programCpuNs()
      val storageBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      graft.ops.Materialize.releaseTransients()
      PerfbenchBus.drain(spark.sparkContext)
      val m = mutable.LinkedHashMap[String, Double](
        "traced" -> (if (trace) 1.0 else 0.0),
        "write_s" -> (w1 - w0) / 1e9, "read_s" -> (r1 - r0) / 1e9,
        "write_cpu_s" -> (wc1 - wc0) / 1e9, "read_cpu_s" -> (rc1 - rc0) / 1e9,
        "scan_mb" -> (io.inputBytes.get - in0) / 1e6,
        "shuffle_mb" -> (io.shuffleWriteBytes.get - sh0) / 1e6,
        "stored_mb" -> stored / 1e6,
        "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
        "jvm.jit_cpu_s" -> (proc.jitCpuNs() - jit0) / 1e9)
      if (trace) {
        m ++= Layers.summarize(tracer, spanFrom, Seq(wMs0 -> wMs1, rMs0 -> rMs1), storageBytes)
        m ++= wl.passCounts
        spark.sparkContext.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
        spark.streams.removeListener(tracer.streamListener)
        ctx.tracer = None
        tracer.clearEvents()
      }
      m.toMap
    }

    val warmup = a("warmup").toInt
    val minPasses = a("min-passes").toInt
    val u0 = System.nanoTime()
    (0 until warmup).foreach(i => pass(traced && i % 2 == 1))
    System.err.println(f"perfbench: set-up: JVM and session $sessionS%.1f s, inputs and indexes " +
      f"$inputsS%.1f s, $warmup warm-up passes ${(System.nanoTime() - u0) / 1e9}%.1f s")
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3 - loopStart / 1e3
    val (steal0, total0) = proc.stealAndTotal()
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val timedSpans = tracer.spans.size
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += pass(traced && passes.size % 2 == 0)
    val timedS = (System.nanoTime() - t0) / 1e9
    val (steal1, total1) = proc.stealAndTotal()

    val problems = wl.check(ctx) ++ ctx.drift
    val loopEnd = HostLoop.timeMs()
    val spans = if (traced) Layers.selfTimes(tracer, timedSpans, passes.count(_("traced") == 1.0)) else Map.empty[String, Double]
    if (traced) Layers.writeSpans(tracer, work.resolve("spans.jsonl"))

    val json = Json.obj(
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "vmhwm_mb" -> proc.vmHwmKb() / 1024.0,
      "steal_share" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
      "loop_ms_start" -> loopStart, "loop_ms_end" -> loopEnd,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "problems" -> (ctx.errors ++ problems).toSeq,
      "check" -> wl.checkValues,
      "self_s" -> spans,
      "passes" -> passes.toSeq)
    println("PERFBENCH " + json)
    spark.stop()
  }
}

/** Per-layer figures of one traced pass, from the tracer's spans and the
  * listener events of that pass.
  */
object Layers {
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  def summarize(t: Tracer, spanFrom: Int, phases: Seq[(Long, Long)],
      storageBytes: Long): Map[String, Double] = {
    val spans = t.spans.toVector
    val jobs = t.jobs.synchronized(t.jobs.toVector)
    val tasks = t.tasks.synchronized(t.tasks.toVector)
    val queries = t.queries.synchronized(t.queries.toVector)
    val batches = t.batches.synchronized(t.batches.toVector)
    def layerOf(span: Int): String = if (span < 0) "" else spans(span).layer
    def nameOf(span: Int): String = if (span < 0) "" else spans(span).name
    val passSpans = spans.drop(spanFrom)
    def spanSum(p: Span => Boolean): Double =
      passSpans.filter(p).map(s => (s.endNs - s.startNs) / 1e9).sum
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    def tasksOf(p: Tracer#Job => Boolean) = tasks.filter(x => stageJob.get(x.stage).exists(p))
    val busy = phases.map { case (s, e) =>
      union(tasks.map(x => (math.max(x.launchMs, s), math.min(x.finishMs, e))).filter(i => i._2 > i._1))
    }
    val wall = phases.map { case (s, e) => e - s }
    val driverOnly = wall.zip(busy).map { case (w, b) => (w - b) / 1e3 }.sum
    val lastPerQuery = batches.groupBy(_.queryId).values.map(_.last.stateRows).sum
    val probeJobs = (n: String) => (j: Tracer#Job) => nameOf(j.span) == n
    Map(
      "uts.build_s" -> spanSum(_.layer == "uts"),
      "uts.build_jobs" -> jobs.count(j => layerOf(j.span) == "uts").toDouble,
      "sql.plan_s" -> queries.map(_.planNs).sum / 1e9,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> t.stagesDone.get.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_only_s" -> driverOnly,
      "spark.driver_share" -> driverOnly / (wall.sum / 1e3),
      "spark.task_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "io.files_read" -> queries.map(_.filesRead).sum.toDouble,
      "io.files_written" -> queries.map(_.filesWritten).sum.toDouble,
      "exchange.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / 1e6,
      "exchange.spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_s" -> batches.map(_.triggerMs).sum / 1e3,
      "streaming.add_batch_s" -> batches.map(_.addBatchMs).sum / 1e3,
      "streaming.commit_s" -> batches.map(_.commitMs).sum / 1e3,
      "streaming.state_rows" -> lastPerQuery.toDouble,
      "dedup.append_s" -> spanSum(_.name == "dedup.append"),
      "dedup.probe_s" -> spanSum(_.name == "dedup.probe"),
      "dedup.cc_s" -> spanSum(_.name == "dedup.cc"),
      "dedup.candidates" -> tasksOf(probeJobs("dedup.probe")).map(_.records).sum.toDouble,
      "ann.append_s" -> spanSum(_.name == "ann.append"),
      "ann.probe_s" -> spanSum(_.name == "ann.probe"),
      "ann.candidates" -> tasksOf(probeJobs("ann.probe")).map(_.records).sum.toDouble,
      "materialize.jobs" -> jobs.count(_.callSite.contains("graft.ops.Materialize")).toDouble,
      "materialize.storage_mb" -> storageBytes / 1e6)
  }

  /** Self time per layer and phase, per traced pass: a span's duration
    * minus the part its child spans cover.
    */
  def selfTimes(t: Tracer, from: Int, passes: Int): Map[String, Double] = {
    val all = t.spans.toVector
    val spans = all.drop(from)
    val children = spans.groupBy(_.parent)
    def phaseOf(s: Span): String =
      if (s.layer == "phase") s.name else if (s.parent < 0) "?" else phaseOf(all(s.parent))
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (s <- spans) {
      val kids = children.getOrElse(s.id, Vector.empty).map(c => c.endNs - c.startNs).sum
      out(s"${phaseOf(s)}.${s.layer}") += (s.endNs - s.startNs - kids) / 1e9 / passes
    }
    out.toMap
  }

  def writeSpans(t: Tracer, to: java.nio.file.Path): Unit =
    Files.write(to, t.spans.map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)).asJava)
}

/** Minimal JSON writer for the result line. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => q(k) + ":" + value(v) }.mkString("{", ",", "}")
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case s: String => q(s)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => q(String.valueOf(other))
  }
}
