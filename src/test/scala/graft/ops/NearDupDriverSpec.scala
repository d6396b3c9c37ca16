package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** [[Dedup.nearDupAgainst]]'s two paths give one answer. A batch under the
  * broadcast threshold is probed on the driver; the same call with the
  * threshold at -1 runs the distributed plan. Every fixture compares the
  * two row for row, schema and nullability included, and reads the path
  * taken from the INFO line the call logs.
  */
class NearDupDriverSpec extends SparkSpec {
  import spark.implicits._

  private val Off = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** Random 30-word documents over a 200-word vocabulary, and one- or
    * two-word edits of them: edits of one document are near-duplicates at
    * threshold 0.6, different documents share almost no 3-gram.
    */
  private val rnd = new scala.util.Random(17)
  private val vocab = (0 until 200).map(i => s"w$i")
  private def words(): Vector[String] = Vector.fill(30)(vocab(rnd.nextInt(vocab.size)))
  private def edit(ws: Vector[String], k: Int): Vector[String] =
    (0 until k).foldLeft(ws)((w, _) => w.updated(rnd.nextInt(w.size), vocab(rnd.nextInt(vocab.size))))
  private val corpus = Vector.fill(60)(words())
  private def text(ws: Vector[String]) = ws.mkString(" ")

  private def build(ids: Range, idx: String): Unit =
    Dedup.minhashIndexBuild(ids.map(i => (i.toLong, text(corpus(i)))).toDF("doc_id", "text"), idx, n = 3)

  /** `body`'s result and the INFO lines it logged on `graft.ops.Dedup`. */
  private def logged[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("graft-dedup-spec", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = { lines.add(e.getMessage.getFormattedMessage); () }
    }
    val logger = LogManager.getLogger("graft.ops.Dedup").asInstanceOf[Logger]
    val level = logger.getLevel
    app.start()
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try {
      val a = body
      (a, scala.jdk.CollectionConverters.IteratorHasAsScala(lines.iterator).asScala.toSeq)
    } finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
  }

  private def probe(batch: DataFrame, idx: String, idCol: String = "doc_id"): DataFrame =
    Dedup.nearDupAgainst(batch, idx, n = 3, threshold = 0.6, idCol = idCol)

  /** The driver path's answer and log line, checked against the
    * distributed plan's: equal schemas, equal rows, both in
    * `(new_id, ref_id)` order.
    */
  private def parity(batch: DataFrame, idx: String, idCol: String = "doc_id"): (Array[Row], String) = {
    val ((driver, rows), log) = logged { val d = probe(batch, idx, idCol); (d, d.collect()) }
    val dist = withSqlConf(Off)(probe(batch, idx, idCol))
    val want = dist.collect()
    assert(log.size == 1 && log.head.contains("-> driver path"), log.mkString("\n"))
    assert(driver.schema == dist.schema, s"${driver.schema.treeString} vs ${dist.schema.treeString}")
    def key(r: Row) = (r.get(0).asInstanceOf[Number].longValue, r.get(1).asInstanceOf[Number].longValue)
    Seq(rows, want).foreach(rs => assert(rs.map(key).toSeq == rs.map(key).toSeq.sorted))
    assert(rows.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq,
      s"driver ${rows.mkString(", ")}\ndistributed ${want.mkString(", ")}")
    (rows, log.head)
  }

  test("driver path equals the distributed plan, with the delta absent, present and shared with the base") {
    val idx = tmpDir("graft-neardup") + "/idx"
    build(0 until 40, idx)
    // Near-dups of indexed docs 3 (twice), 7 and 11, of docs 45 and 50
    // (indexed only once appended), and two fresh docs.
    val batch = Seq(
      (100L, text(edit(corpus(3), 1))), (101L, text(edit(corpus(3), 2))),
      (102L, text(edit(corpus(7), 1))), (103L, text(edit(corpus(11), 2))),
      (104L, text(edit(corpus(45), 1))), (105L, text(edit(corpus(50), 1))),
      (106L, text(words())), (107L, text(words()))).toDF("doc_id", "text")
    val (absent, _) = parity(batch, idx)
    assert(Set(3L, 7L, 11L).subsetOf(absent.map(_.getLong(1)).toSet), absent.mkString(", "))
    assert(!absent.exists(r => r.getLong(0) >= 104L), absent.mkString(", "))

    Dedup.minhashIndexAppend((40 until 60).map(i => (i.toLong, text(corpus(i)))).toDF("doc_id", "text"), idx)
    assert(new java.io.File(s"$idx/signatures_delta").exists())
    val (present, _) = parity(batch, idx)
    assert(Set(45L, 50L).subsetOf(present.map(_.getLong(1)).toSet), present.mkString(", "))

    // A compaction that crashed after the base swap, before deleting the
    // delta: every appended signature row is in both tables.
    val saved = new java.io.File(tmpDir("graft-neardup"), "delta")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$idx/signatures_delta"), saved)
    Dedup.minhashIndexCompact(spark, idx)
    org.apache.commons.io.FileUtils.copyDirectory(saved, new java.io.File(s"$idx/signatures_delta"))
    val (shared, _) = parity(batch, idx)
    assert(shared.toSeq == present.toSeq)
  }

  test("driver path keeps the distributed multiplicity: duplicated batch ids, unshingleable docs, no candidates") {
    val idx = tmpDir("graft-neardup") + "/idx"
    build(0 until 40, idx)
    // id 200 twice, both near doc 5; id 201 once near doc 5 and once
    // fresh (the fresh row still joins the pair the other made); a
    // two-word doc and a null text have no shingles; a null id.
    val batch = Seq[(Option[Long], String)](
      (Some(200L), text(edit(corpus(5), 1))), (Some(200L), text(edit(corpus(5), 2))),
      (Some(201L), text(edit(corpus(5), 1))), (Some(201L), text(words())),
      (Some(202L), "too short"), (Some(203L), null), (None, text(edit(corpus(9), 1))))
      .toDF("doc_id", "text")
    val (rows, _) = parity(batch, idx)
    assert(rows.count(_.getLong(0) == 200L) == 2 && rows.count(_.getLong(0) == 201L) >= 1,
      rows.mkString(", "))
    val fresh = Seq((300L, text(words())), (301L, "too short")).toDF("doc_id", "text")
    val (none, log) = parity(fresh, idx)
    assert(none.isEmpty && log.contains("refs fetched 0"), log)
    val (empty, _) = parity(fresh.filter(lit(false)), idx)
    assert(empty.isEmpty)
  }

  test("driver path keeps Integer id columns in their own type") {
    val idx = tmpDir("graft-neardup") + "/idx"
    Dedup.minhashIndexBuild((0 until 40).map(i => (i, text(corpus(i)))).toDF("id", "text"), idx,
      n = 3, idCol = "id")
    val batch = Seq((500, text(edit(corpus(2), 1))), (501, text(edit(corpus(8), 1))))
      .toDF("id", "text")
    val (rows, _) = parity(batch, idx, idCol = "id")
    assert(rows.map(r => (r.get(0), r.get(1))).toSet == Set[(Any, Any)]((500, 2), (501, 8)),
      rows.mkString(", "))
  }

  test("a collect over its cap falls back to the distributed plan") {
    val idx = tmpDir("graft-neardup") + "/idx"
    build(0 until 40, idx)
    // Near-dups of docs 4 and 6, and a long fresh doc that matches nothing
    // but sets the per-row size of the shingle collect.
    val batch = Seq((600L, text(edit(corpus(4), 1))), (601L, text(edit(corpus(6), 1))),
      (602L, (words() ++ words() ++ words()).mkString(" "))).toDF("doc_id", "text")
    val (_, driverLog) = parity(batch, idx)
    val sigRows = """signature rows (\d+)""".r.findFirstMatchIn(driverLog).get.group(1).toInt
    val refs = """refs fetched (\d+)""".r.findFirstMatchIn(driverLog).get.group(1).toInt
    val want = withSqlConf(Off)(probe(batch, idx).collect()).toSeq
    val est = batch.queryExecution.analyzed.stats.sizeInBytes.toLong
    val longest = batch.select(size(org.apache.spark.sql.graftfns.TextFunctions
      .shingleHashes(col("text"), 3))).as[Int].collect().max
    // A signature row is 12 + 8·4 bytes (32 hashes in 8 bands); a shingle
    // row 8 + 8 bytes per shingle of the longest batch set.
    def run(threshold: Long) = logged(withSqlConf(
      "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString)(probe(batch, idx).collect().toSeq))
    val sigT = math.max(est, 44L * (sigRows - 1))
    assert(sigT / 44 < sigRows, s"threshold $sigT does not overflow $sigRows signature rows")
    val (overSig, sigLog) = run(sigT)
    assert(sigLog.head.contains("signature rows over the cap") &&
      sigLog.head.contains("-> distributed path"), sigLog.head)
    assert(overSig == want)
    val shT = math.max(est, 44L * sigRows)
    assert(shT / (8 + 8 * longest) < refs, s"threshold $shT does not overflow $refs refs")
    val (overSh, shLog) = run(shT)
    assert(shLog.head.contains("shingle rows over the cap") &&
      shLog.head.contains("-> distributed path"), shLog.head)
    assert(overSh == want)
  }

  test("the driver path signs each batch row once and runs three jobs") {
    val idx = tmpDir("graft-neardup") + "/idx"
    build(0 until 40, idx)
    // Read from parquet: a local relation's projections would be folded
    // into it by the optimizer, and signing would run no job at all.
    Seq((700L, text(edit(corpus(1), 1))), (701L, text(edit(corpus(2), 1))))
      .toDF("doc_id", "text").write.parquet(s"$idx-batch")
    val batch = spark.read.parquet(s"$idx-batch")
    val ((rows, qes), jobs) = jobsOf(queriesOf(probe(batch, idx).collect()))
    assert(rows.length == 2 && jobs == 3, s"$jobs job(s): ${rows.mkString(", ")}")
    // The signing plan evaluates the MinHash kernel in one projection, not
    // inside the per-band lambda.
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.graftfns.MinHashSignature
    val signing = qes.map(_.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).filter(_.toString.contains("minhash_signature"))
    assert(signing.size == 1, qes.map(_.executedPlan.toString).mkString("\n\n"))
    val exprs = signing.head.collect { case p => p.expressions }.flatten
    val kernels = exprs.flatMap(_.collect { case m: MinHashSignature => m })
    val inLambda = exprs.flatMap(_.collect { case l: LambdaFunction => l })
      .flatMap(_.collect { case m: MinHashSignature => m })
    assert(kernels.size == 1 && inLambda.isEmpty, signing.head.toString)
  }

  test("a family mismatch is refused before any job runs, on either path") {
    val idx = tmpDir("graft-neardup") + "/idx"
    build(0 until 10, idx)
    val batch = Seq((800L, text(corpus(3)))).toDF("doc_id", "text")
    for (conf <- Seq(Off, "spark.sql.autoBroadcastJoinThreshold" -> "10485760")) {
      val (e, jobs) = jobsOf(intercept[IllegalArgumentException](withSqlConf(conf)(
        Dedup.nearDupAgainst(batch, idx, n = 3, threshold = 0.6, numHashes = 16))))
      assert(e.getMessage.contains("family") && jobs == 0, s"${conf._2}: $jobs job(s), ${e.getMessage}")
    }
  }
}
