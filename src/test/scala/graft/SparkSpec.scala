package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`; it and everything in it are deleted after the suite.
    */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  /** `f` with the given session confs set, each restored afterwards. */
  def withSqlConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  override def afterAll(): Unit =
    try if (!tmpDirs.isEmpty) {
      // A session checkpoint dir set inside one of them would outlive the
      // delete: later suites' checkpoints would recreate it.
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.exists(c => tmpDirs.stream.anyMatch(d => c.contains(d.toString))))
        sc.setCheckpointDir(null)
      tmpDirs.forEach(d => SparkEntry.deleteTree(d))
    } finally super.afterAll()

  /** `body`'s result and the number of Spark jobs it started — the count
    * job budgets are pinned in (the same on every host, unlike timings).
    */
  def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.GraftTestBus.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.GraftTestBus.waitUntilEmpty(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
