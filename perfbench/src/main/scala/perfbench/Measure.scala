package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Readings taken from `/proc` for the benchmark JVM itself. CPU time is
  * read in clock ticks (`clkTck` per second, passed in by the launcher
  * because the JVM cannot call `sysconf`).
  */
final class Proc(clkTck: Long) {
  private val nsPerTick = 1000000000L / clkTck

  private def statTicks(path: String): Long = {
    val s = new String(Files.readAllBytes(Paths.get(path)))
    // Fields after the last ')' start at field 3 (state); utime and stime
    // are fields 14 and 15.
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }

  /** CPU-ns of every thread the process ever ran, exited threads included. */
  def processCpuNs(): Long = statTicks("/proc/self/stat") * nsPerTick

  /** Thread ids of the JIT compiler threads. The launcher turns off
    * dynamic compiler-thread counts, so this set is fixed after start-up.
    */
  val compilerTids: Seq[String] = {
    val dir = Paths.get("/proc/self/task")
    val ds = Files.newDirectoryStream(dir)
    try ds.asScala.map(_.getFileName.toString).filter { tid =>
      val comm = scala.util.Try(
        new String(Files.readAllBytes(dir.resolve(tid).resolve("comm"))).trim).getOrElse("")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }.toList
    finally ds.close()
  }

  def jitCpuNs(): Long = compilerTids.map { tid =>
    scala.util.Try(statTicks(s"/proc/self/task/$tid/stat")).getOrElse(0L)
  }.sum * nsPerTick

  /** CPU-ns of the program's threads: process CPU minus the JIT compiler. */
  def programCpuNs(): Long = processCpuNs() - jitCpuNs()

  private def status(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def vmHwmKb(): Long = status("VmHWM")

  /** (steal, total) jiffies of the whole host, from the aggregate cpu line. */
  def stealAndTotal(): (Long, Long) = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    val v = line.split("\\s+").drop(1).take(8).map(_.toLong)
    (v(7), v.sum)
  }
}

object HostLoop {
  /** A fixed single-thread integer loop, timed in ms of wall time: a reading
    * of how fast this host runs one thread now, kept out of every metric.
    */
  def timeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("unreachable")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Sums task input bytes and shuffle bytes written. This is the only
  * listener of an untraced run.
  */
final class IoListener extends SparkListener {
  val inputBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** One recorded span: a call into a layer, timed from the benchmark. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, var endNs: Long)

/** The traced run's recorder: spans around calls into graft's modules, plus
  * the Spark, SQL and streaming listener events, all kept in memory.
  * Spans nest on the (single) driver thread; each Spark job is attributed
  * to the innermost open span through a local property.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), -1L)
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  final case class Job(id: Int, span: Int, callSite: String, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, records: Long, shuffleReadBytes: Long, spillBytes: Long)
  final case class Query(planNs: Long, filesRead: Long, filesWritten: Long)
  final case class Batch(triggerMs: Long, addBatchMs: Long, commitMs: Long,
      stateRows: Long, queryId: String)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val queries = ArrayBuffer.empty[Query]
  val batches = ArrayBuffer.empty[Batch]
  val stagesDone = new AtomicLong

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      // The long call sites of the job's stages name the graft frames.
      val site = e.stageInfos.map(_.details).mkString("\n")
      jobs.synchronized { jobs += Job(e.jobId, span, site, e.stageIds) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planNs = qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum
      val plan = qe.executedPlan
      val read = Plans.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => metric(s, "numFiles")
      }.sum
      val written = Plans.collectWithSubqueries(plan) {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      queries.synchronized { queries += Query(planNs, read, written) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.synchronized {
        batches += Batch(d("triggerExecution"), d("addBatch"),
          d("walCommit") + d("commitOffsets"),
          p.stateOperators.map(_.numRowsTotal).sum, p.id.toString)
      }
    }
  }

  def clearEvents(): Unit = {
    jobs.synchronized(jobs.clear()); tasks.synchronized(tasks.clear())
    queries.synchronized(queries.clear()); batches.synchronized(batches.clear())
    stagesDone.set(0)
  }
}

object Files2 {
  def sizeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    finally s.close()
  }
}
