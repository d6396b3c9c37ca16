package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract: one named query per operator from SURVEY.md §2 and the
  * extended-mandate ops, each with the ANSI SQL a DuckDB oracle runs over
  * the same corpus. `queries` maps a name to its Spark builder (given a
  * session and a corpus directory), `oracleSql` maps the same name to its
  * oracle; `graft.Verify` writes both for the driver's compare, and
  * `graft.Bench`/`graft.BenchProbe` time the builders.
  *
  * Both maps derive from [[gates]], one [[graft.gates.Gate]] record per
  * query. A new gate is one `gate(name, builder, oracle)` call in its
  * family file under `src/main/scala/graft/gates/` (`UtsGates`,
  * `RelationalGates`, `TableGates`, `PipelineGates`, `DedupGates`,
  * `SimilarityGates`, `TextGates`, `StreamingGates`), placed directly under
  * its builder; helpers and oracle CTEs that more than one family uses live
  * in `graft.gates.Shared`. A name declared twice fails at first use.
  *
  * Determinism rules shared by every Spark/oracle pair:
  *  - every computed column aliased identically on both sides;
  *  - floating aggregates rounded (2 decimals for money-scale sums whose
  *    fp-error exceeds 1e-5, 4 for means/ratios/scores);
  *  - explicit total ORDER BY with a unique tiebreak;
  *  - counts surfaced as BIGINT on both sides.
  */
object SparkEntry {
  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("uts_interval_mean")(spark, "/root/testdata/sf0.001")

  /** Every registry gate, family by family. Lazy, so that the family
    * objects (which call [[fixture]] and [[deleteTree]] at query time) and
    * this object never wait on each other's initialization.
    */
  lazy val gates: Seq[Gate] = Gate.unique(Seq(
    UtsGates, RelationalGates, TableGates, PipelineGates, DedupGates,
    SimilarityGates, TextGates, StreamingGates).flatMap(_.gates))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  lazy val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  /** Registry fixtures: a persisted index, table or stream source that
    * gates build once per JVM and then probe, one per `(kind, dir)`. A
    * production index is built once and probed millions of times, so
    * repeated gate invocations reuse the fixture and price the PROBE (the
    * first call pays the build, like production's one-time build job).
    *
    *  - Build once: concurrent callers of one key wait for a single build
    *    and share its value; the map only hands out a per-key holder, so a
    *    slow build never holds a map lock or blocks another key.
    *  - Fresh directory per attempt: every build gets a new empty
    *    `graft-$kind-*` directory under `java.io.tmpdir`. A build that
    *    throws records nothing, and the next call retries in a new
    *    directory instead of resuming the failed attempt's leftovers.
    *  - One cleanup: a single shutdown hook deletes every directory handed
    *    out here with [[deleteTree]], which never follows symlinks (a
    *    fixture may link to the corpus), so crash-free runs leave nothing
    *    in the temp dir.
    */
  private[graft] def fixture[T](kind: String, dir: String)(build: String => T): T =
    fixtures.computeIfAbsent(s"$kind:$dir", _ => new Once)
      .get(build(scratchDir(kind).toString)).asInstanceOf[T]

  private final class Once {
    private var value: Option[Any] = None
    def get(make: => Any): Any = synchronized {
      value.getOrElse { val v = make; value = Some(v); v }
    }
  }
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[String, Once]()
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { d =>
        try deleteTree(d)
        catch { case scala.util.control.NonFatal(e) => System.err.println(s"graft: $e") }
      }))
  private def scratchDir(kind: String): java.nio.file.Path = {
    cleanupHook
    val d = java.nio.file.Files.createTempDirectory(s"graft-$kind-")
    scratchDirs.add(d)
    d
  }

  /** Delete a file tree without following symlinks: a link is removed, its
    * target is left alone.
    */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val kids = java.nio.file.Files.list(p)
      try kids.forEach(k => deleteTree(k)) finally kids.close()
    }
    java.nio.file.Files.deleteIfExists(p): Unit
  }
}
