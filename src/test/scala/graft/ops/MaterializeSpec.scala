package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Materialize]]'s one contract: the mode switch changes WHERE the
  * materialized blocks live (executor memory vs reliable storage), never
  * the data — every op built on `narrow` must be bit-identical across
  * modes.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[A](mode: String, dir: Option[String] = None)(f: => A): A = {
    val conf = spark.conf
    val prevMode = conf.getOption(Materialize.ModeConf)
    val prevDir = conf.getOption(Materialize.DirConf)
    try {
      conf.set(Materialize.ModeConf, mode)
      dir.foreach(conf.set(Materialize.DirConf, _))
      f
    } finally {
      prevMode.fold(conf.unset(Materialize.ModeConf))(conf.set(Materialize.ModeConf, _))
      if (dir.isDefined)
        prevDir.fold(conf.unset(Materialize.DirConf))(conf.set(Materialize.DirConf, _))
    }
  }

  /** Run `f` with NO session-level checkpoint dir, restoring any existing
    * one after — other suites (connectedComponents' reliable cuts) may have
    * set it, and Materialize respects an existing dir by contract, so these
    * tests must isolate themselves from suite order.
    */
  private def withNoCheckpointDir[A](f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(null) // Option(null) ⇒ None: clears the dir
    try f finally sc.setCheckpointDir(prev.orNull) // exact restore (incl. a dir narrow() set inside f)
  }

  test("reliable mode without any checkpoint dir fails loud") {
    val df = Seq(1, 2, 3).toDF("x")
    val e = intercept[IllegalStateException] {
      withNoCheckpointDir(withMode("reliable")(Materialize.narrow(df)))
    }
    assert(e.getMessage.contains(Materialize.DirConf))
  }

  test("unknown mode is rejected") {
    val df = Seq(1).toDF("x")
    val e = intercept[IllegalArgumentException] {
      withMode("weird")(Materialize.narrow(df))
    }
    assert(e.getMessage.contains("weird"))
  }

  test("local and reliable modes produce identical results on a narrow-built op") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7.0 + d).toFloat))
    }.toDF("vec_id", "embedding")
    // knnGraph materializes its assignment frame through narrow — a real
    // consumer of the primitive, not a synthetic frame.
    def run() = Similarity.knnGraph(vecs, nClusters = Some(4), rounds = 1, kNeighbors = 2)
      .collect().map(_.toSeq).toSeq
    val local = withMode("local")(run())
    val ckptDir = tmpDir("graft-matspec")
    // The quantizer cache keys on the RESOLVED mode (corpusKey), so this
    // second run re-trains its centroids under reliable mode rather than
    // serving the local run's executor-resident checkpointed frames.
    val reliable = withNoCheckpointDir(withMode("reliable", Some(ckptDir))(run()))
    assert(local == reliable)
    // The reliable run must actually have gone through the filesystem.
    def anyFile(p: java.io.File): Boolean =
      p.isFile || Option(p.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(ckptDir)),
      "reliable mode left no checkpoint files on disk")
  }

  test("narrowIfSmall materializes under the gate and passes through above it (r22)") {
    val df = Seq.tabulate(100)(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val prev = spark.conf.getOption(Materialize.TransientMaxConf)
    try {
      // local-mode default: unlimited → materialized (lineage truncated)
      spark.conf.unset(Materialize.TransientMaxConf)
      val cut = Materialize.narrowIfSmall(df)
      assert(cut.queryExecution.analyzed.collect {
        case _: org.apache.spark.sql.execution.LogicalRDD => 1 }.nonEmpty,
        "under the gate the frame must be checkpointed")
      assert(cut.collect().toSeq == df.collect().toSeq)
      // a 1-byte gate rejects any real frame → passthrough, SAME results
      spark.conf.set(Materialize.TransientMaxConf, "1")
      val thru = Materialize.narrowIfSmall(df)
      assert(thru.queryExecution.analyzed.collect {
        case _: org.apache.spark.sql.execution.LogicalRDD => 1 }.isEmpty,
        "above the gate the frame must pass through un-materialized")
      assert(thru.collect().toSeq == df.collect().toSeq)
    } finally prev.fold(spark.conf.unset(Materialize.TransientMaxConf))(
      spark.conf.set(Materialize.TransientMaxConf, _))
  }

  test("releaseTransients drops narrow() blocks, never pinned() blocks (r22)") {
    import org.apache.spark.sql.execution.LogicalRDD
    def rddOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.head
    Materialize.releaseTransients() // drain other suites' leftovers
    val t = Materialize.narrow(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val p = Materialize.pinned(Seq((3L, "c")).toDF("id", "s"))
    t.count(); p.count()
    assert(rddOf(t).getStorageLevel.useMemory || rddOf(t).getStorageLevel.useDisk)
    val released = Materialize.releaseTransients()
    assert(released >= 1, "the transient frame must be released")
    assert(rddOf(t).getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "transient blocks must be dropped")
    assert(rddOf(p).getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "pinned blocks must survive a release")
    assert(p.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the registry drains: a second call releases nothing new
    assert(Materialize.releaseTransients() == 0)
  }
}
