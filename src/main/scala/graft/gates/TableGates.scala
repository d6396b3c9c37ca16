package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.uts._
import graft.ops.{AsofJoin, Joins, Layout}
import graft.SparkEntry.fixture
import Shared._

/** Tables, sources and storage layouts: column profiles, versioned-table
  * time travel, restore and vacuum, file-source round trips, snapshot diffs,
  * bloom/skew/range joins, bucketed, zoned, z-ordered and bloom-indexed
  * tables, incrementally maintained rollups, upserts and the SQL surface
  * gates (anti joins, set ops, windows, rollup and cube).
  */
private[graft] object TableGates extends GateFamily {
  /** Shared by the batch and streaming IVM gates: both maintained rollups
    * must equal the one-shot aggregate of ALL events (same
    * round-then-decimal sum lattice as the stored partials).
    */
  private lazy val IvmRollupOracle =
    s"""WITH e AS ($EvCte)
       |SELECT event_type, count(*) AS n_events,
       |       round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |         AS sum_value,
       |       round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE)
       |             / count(*), 6) AS avg_value,
       |       min(value) AS min_value, max(value) AS max_value,
       |       count(DISTINCT CAST(floor(time / 86400000.0) AS BIGINT)) AS n_partitions
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One-pass column profiler ([[graft.ops.Profile.columns]]): counts,
    * exact distincts, and typed min/max for four documents columns from a
    * SINGLE scan + aggregate — the corpus-drop sanity report. The oracle is
    * the naive per-column UNION ALL; the engine's point is folding it into
    * one pass.
    */
  private def profileColumns(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.columns(T(s, dir, "documents"),
      Seq("doc_id", "n_chars", "lang", "source"))
      .orderBy(col("column"))
  // The naive per-column form of the one-pass profile.
  gate("profile_columns", profileColumns,
    """SELECT 'doc_id' AS column, count(*) AS n_rows, count(doc_id) AS n_nonnull,
      |       count(DISTINCT doc_id) AS n_distinct,
      |       CAST(min(doc_id) AS DOUBLE) AS min_num,
      |       CAST(max(doc_id) AS DOUBLE) AS max_num,
      |       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      |FROM documents
      |UNION ALL
      |SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(lang), max(lang)
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
      |       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
      |       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'source', count(*), count(source), count(DISTINCT source),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(source), max(source)
      |FROM documents
      |ORDER BY "column"""".stripMargin)

  /** The shared versioned-table fixture for `table_time_travel` and
    * `table_version_diff` — ONE builder under the shared cache token (the
    * [[wdistStreamDir]] first-caller-wins discipline). */
  private def vtabPath(s: SparkSession, dir: String): String =
    builtIndexPath("vtab", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") + lit(1000.0)),
        s"$p/t", Seq("event_id")): Unit
    }

  /** Time-travel gate ([[graft.ops.Versioned]]): version 1 = every third
    * event; version 2 = a MERGE of every fourth event with boosted values
    * (replaces the %12 overlap, inserts the rest), copy-on-write at file
    * granularity. The gate reads BOTH snapshots after both writes — the
    * oracle re-derives each version's row set relationally, so a v1 read
    * polluted by the upsert (the property in-place COW cannot offer), a
    * dropped carry, or a duplicate merge row all turn it red.
    */
  private def tableTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = vtabPath(s, dir)
    def stats(v: Int) = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(v).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
    stats(1).unionByName(stats(2)).orderBy(col("version"))
  }
  // Both snapshots re-derived relationally: v1 = the %3 slice, v2 = the
  // MERGE of the boosted %4 batch over it (NOT-EXISTS survivors + batch).
  gate("table_time_travel", tableTimeTravel,
    s"""WITH e AS ($EvCte),
       |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
       |b  AS (SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 4 = 0),
       |v2 AS (SELECT * FROM v1 WHERE event_id NOT IN (SELECT event_id FROM b)
       |       UNION ALL SELECT * FROM b),
       |s1 AS (SELECT 1 AS version, count(*) AS n, count(value) AS n_value,
       |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |                AS sum_value,
       |              min(event_id) AS min_id, max(event_id) AS max_id FROM v1),
       |s2 AS (SELECT 2 AS version, count(*) AS n, count(value) AS n_value,
       |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |                AS sum_value,
       |              min(event_id) AS min_id, max(event_id) AS max_id FROM v2)
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY version""".stripMargin)

  /** Temporal audit gate: [[graft.ops.Versioned.diffVersions]] over the
    * shared fixture — "what did the v2 ingest actually do", summarized per
    * change type. The oracle derives both snapshots relationally and
    * replays the null-safe value compare (a NULL-valued %12 row is
    * UNCHANGED: NULL+1000 is NULL on both sides). */
  private def tableVersionDiff(s: SparkSession, dir: String): DataFrame = {
    val path = vtabPath(s, dir)
    graft.ops.Versioned.diffVersions(s, s"$path/t", 1L, 2L, Seq("event_id"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("change"))
  }
  // Both snapshots derived relationally, the diff replayed with the
  // null-safe value compare; removed is impossible here (MERGE never
  // deletes), so only added/changed rows can appear.
  gate("table_version_diff", tableVersionDiff,
    s"""WITH e AS ($EvCte),
       |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
       |b  AS (SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 4 = 0),
       |d AS (SELECT b.event_id,
       |             CASE WHEN v1.event_id IS NULL THEN 'added'
       |                  WHEN b.value IS DISTINCT FROM v1.value THEN 'changed'
       |                  ELSE 'unchanged' END AS change
       |      FROM b LEFT JOIN v1 USING (event_id))
       |SELECT change, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
       |FROM d WHERE change <> 'unchanged'
       |GROUP BY change ORDER BY change""".stripMargin)

  /** Schema-evolution gate ([[graft.ops.Versioned]]): version 1 = every
    * third event under the original (event_id, event_type, value) schema;
    * version 2 = a MERGE whose batch ADDS a `src` column (event_id % 7).
    * The gate reads both snapshots and reports each version's column
    * ARITY alongside row/src statistics: v1 must still read with 3 columns
    * (old snapshots keep their schema), v2 with 4 — where carried rows
    * (files that physically predate `src`) read as NULL and only batch
    * rows carry values. The oracle re-derives both snapshots relationally
    * with the batch-only src; a carried row leaking a src value, a dropped
    * NULL backfill, or a v1 read polluted by the evolved schema turns it
    * red.
    */
  private def vtabSePath(s: SparkSession, dir: String): String =
    builtIndexPath("vtab-se", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") + lit(1000.0))
          .withColumn("src", (col("event_id") % 7).cast("long")),
        s"$p/t", Seq("event_id")): Unit
    }

  /** RESTORE gate ([[graft.ops.Versioned.restore]]): the bad-ingest
    * roll-back — v1, a boosted-MERGE v2, then restore(1) as v3 carrying
    * v1's files BY REFERENCE (no rewrite; v2 stays readable for the
    * post-mortem). The gate reads v1 and the restored v3: both must carry
    * IDENTICAL stats, which the oracle pins by deriving the base slice
    * once and emitting it under both version numbers — a restore that
    * rewrote, dropped, or leaked v2 rows turns it red.
    */
  private def tableRestore(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("vtab-restore", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") + lit(1000.0)),
        s"$p/t", Seq("event_id")): Unit
      require(graft.ops.Versioned.restore(s, s"$p/t", 1L) == 3L,
        "restore must mint version 3")
    }
    def stats(v: Int) = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(v).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
    stats(1).unionByName(stats(3)).orderBy(col("version"))
  }
  // RESTORE: the base slice derived once, emitted under versions 1 and
  // 3 — the restored snapshot must be value-identical to the original.
  gate("table_restore", tableRestore,
    s"""WITH e AS ($EvCte),
       |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
       |s AS (SELECT count(*) AS n, count(value) AS n_value,
       |             round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |               AS sum_value,
       |             min(event_id) AS min_id, max(event_id) AS max_id FROM v1)
       |SELECT 1 AS version, n, n_value, sum_value, min_id, max_id FROM s
       |UNION ALL
       |SELECT 3 AS version, n, n_value, sum_value, min_id, max_id FROM s
       |ORDER BY version""".stripMargin)

  /** VACUUM gate ([[graft.ops.Versioned.vacuum]]) — the retention verb
    * exercised end to end with STRUCTURALLY FORCED file accounting:
    * v1 = every-third events in four hash files; v2 = a disjoint-key
    * MERGE (touches nothing, all four v1 files carried by reference);
    * v3 = a MERGE over every v1 key (all four original files rewritten,
    * v2's files carried). `vacuum(keepLast = 1)` must then delete exactly
    * the four v1 data files (in no kept manifest) while v2's carried
    * files SURVIVE their own manifest's deletion (v3 references them) —
    * the gate reads v3 (its %3=1 rows physically live in v2-era files, so
    * a wrongly-deleted carry breaks the stats), reports the reclaimed
    * count, and counts the now-unresolvable v1/v2 reads. A vacuum that
    * deletes a live file, keeps an orphan, or leaves dropped manifests
    * readable turns the gate red.
    */
  private def tableVacuum(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("vtab-vac", dir) { p =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      graft.ops.Versioned.init(
        e.filter(col("event_id") % 3 === 0).repartition(4, col("event_id")),
        s"$p/t")
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 3 === 1)
          .withColumn("value", col("value") + lit(1000.0))
          .repartition(2, col("event_id")),
        s"$p/t", Seq("event_id")): Unit
      graft.ops.Versioned.upsertVersion(
        e.filter(col("event_id") % 3 === 0)
          .withColumn("value", col("value") + lit(2000.0)),
        s"$p/t", Seq("event_id")): Unit
      val removed = graft.ops.Versioned.vacuum(s, s"$p/t", keepLast = 1)
      import s.implicits._
      Seq(removed.toLong).toDF("n_removed").coalesce(1)
        .write.parquet(s"$p/report")
    }
    val nDropped = Seq(1L, 2L).count { v =>
      try { graft.ops.Versioned.readVersion(s, s"$path/t", v); false }
      catch { case _: IllegalArgumentException => true }
    }
    graft.ops.Versioned.readVersion(s, s"$path/t", 3L)
      .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(lit(3).as("version"), col("n"), col("n_value"),
        col("sum_value"), col("min_id"), col("max_id"))
      .crossJoin(s.read.parquet(s"$path/report"))
      .withColumn("n_dropped_reads", lit(nDropped.toLong))
  }
  // VACUUM: v3 = the merged final state (disjoint v2 keys + every v1
  // key rewritten); the reclaimed count is the fixture's four init
  // files (all rewritten at v3 so no kept manifest references them),
  // and both dropped versions must fail loud on read.
  gate("table_vacuum", tableVacuum,
    s"""WITH e AS ($EvCte),
       |v3 AS (SELECT event_id, value + 2000.0 AS value FROM e WHERE event_id % 3 = 0
       |       UNION ALL
       |       SELECT event_id, value + 1000.0 AS value FROM e WHERE event_id % 3 = 1)
       |SELECT 3 AS version, count(*) AS n, count(value) AS n_value,
       |       round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |         AS sum_value,
       |       min(event_id) AS min_id, max(event_id) AS max_id,
       |       CAST(4 AS BIGINT) AS n_removed,
       |       CAST(2 AS BIGINT) AS n_dropped_reads
       |FROM v3""".stripMargin)

  private def tableSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = vtabSePath(s, dir)
    def stats(v: Int) = {
      val d = graft.ops.Versioned.readVersion(s, s"$path/t", v.toLong)
      val src = if (d.columns.contains("src")) col("src") else lit(null).cast("long")
      d.agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
        round(sum(round(col("value"), 10).cast("decimal(30,10)")).cast("double"), 4)
          .as("sum_value"),
        count(src).as("n_src"),
        coalesce(sum(src), lit(0L)).as("sum_src"))
        .select(lit(v).as("version"), lit(d.columns.length).as("n_cols"),
          col("n"), col("n_value"), col("sum_value"), col("n_src"), col("sum_src"))
    }
    stats(1).unionByName(stats(2)).orderBy(col("version"))
  }
  // Both snapshots re-derived with the batch-only src column: v1 under
  // the original 3-column schema, v2's carried survivors with NULL src
  // and the batch with event_id % 7. n_cols states the schema arity the
  // version-accurate read must expose.
  gate("table_schema_evolution", tableSchemaEvolution,
    s"""WITH e AS ($EvCte),
       |v1 AS (SELECT event_id, value FROM e WHERE event_id % 3 = 0),
       |b  AS (SELECT event_id, value + 1000.0 AS value, event_id % 7 AS src
       |       FROM e WHERE event_id % 4 = 0),
       |v2 AS (SELECT event_id, value, CAST(NULL AS BIGINT) AS src FROM v1
       |       WHERE event_id NOT IN (SELECT event_id FROM b)
       |       UNION ALL SELECT * FROM b),
       |s1 AS (SELECT 1 AS version, 3 AS n_cols, count(*) AS n,
       |              count(value) AS n_value,
       |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |                AS sum_value,
       |              0 AS n_src, 0 AS sum_src FROM v1),
       |s2 AS (SELECT 2 AS version, 4 AS n_cols, count(*) AS n,
       |              count(value) AS n_value,
       |              round(CAST(sum(CAST(round(value, 10) AS DECIMAL(30,10))) AS DOUBLE), 4)
       |                AS sum_value,
       |              count(src) AS n_src,
       |              CAST(coalesce(sum(src), 0) AS BIGINT) AS sum_src FROM v2)
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY version""".stripMargin)

  /** The documents relation with a planted ESCAPE-HAZARD column — quotes,
    * backslash, tab, comma, non-ASCII — so the text-format round-trip
    * gates exercise real escaping (the corpus text itself is
    * whitespace-clean words, which would make any serializer look
    * correct). */
  private def hazardDocs(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      .withColumn("note",
        concat(lit("p\\q\t\"r\", é; "), substring(col("text"), 1, 16)))

  /** Shared round-trip compare for the text-source gates: per source, the
    * read-back row/char mass plus the count of rows that came back
    * DIFFERENT (full-outer by doc_id — a lost or duplicated row counts as
    * a mismatch, not just a changed field). The oracle derives the masses
    * from the parquet source and pins `n_mismatch` at ZERO, so an escaping
    * defect in EITHER direction (writer or reader) turns the gate red.
    */
  private def roundTripReport(orig: DataFrame, back: DataFrame): DataFrame = {
    val a = orig.select(col("doc_id"), col("source"), col("text"), col("note"))
    val b = back.select(col("doc_id").as("b_id"), col("source").as("b_source"),
      col("text").as("b_text"), col("note").as("b_note"))
    val cmp = a.join(b, col("doc_id") === col("b_id"), "full_outer")
      .select(
        coalesce(col("source"), col("b_source")).as("src"),
        when(col("doc_id").isNull || col("b_id").isNull ||
          col("source") =!= col("b_source") || col("text") =!= col("b_text") ||
          col("note") =!= col("b_note"), lit(1)).otherwise(lit(0)).as("bad"),
        coalesce(length(col("b_text")), lit(0)).cast("long").as("chars"))
    graft.ops.Ordered.smallResult(
      cmp.groupBy(col("src").as("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("sum_chars"),
          sum(col("bad")).as("n_mismatch")),
      "source")
  }

  /** JSONL source/sink round-trip gate: the hazard relation written as
    * JSON-lines once per JVM, read back under an EXPLICIT schema
    * (schema-on-read, the landing-zone discipline — inference would cost a
    * full extra pass and can mistype empty partitions), row-compared
    * against the source. JSONL is THE interchange format of web-corpus
    * pipelines; this gate is the library's claim that documents survive
    * the trip bit-exactly, escaping included.
    */
  private def sourceJsonl(s: SparkSession, dir: String): DataFrame = {
    val docs = hazardDocs(s, dir)
    val path = builtIndexPath("jsonl", dir)(p => docs.write.json(s"$p/docs"))
    val back = s.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
      .json(s"$path/docs")
    roundTripReport(docs, back)
  }
  // Round-trip gates: masses from the parquet source, n_mismatch pinned
  // at ZERO — the engine side computes mismatches by comparing the
  // read-back rows field by field, so an escaping defect turns it red.
  // sum_chars counts the READ-BACK text (must equal the source's mass).
  gate("source_jsonl", sourceJsonl,
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |       CAST(0 AS BIGINT) AS n_mismatch
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  /** CSV round-trip gate: same discipline over the quoted-CSV
    * writer/reader (header, explicit schema on read). The hazard column
    * carries commas and quotes — the fields the quoting machinery exists
    * for. BOTH sides pin RFC-4180 double-quote escaping (`escape="`):
    * Spark's DEFAULT is backslash-escaping, which this gate measured
    * round-tripping asymmetrically on quote+backslash content (rows came
    * back altered — the first red run is kept in the scaladoc as the
    * reason the option is not optional). Embedded NEWLINES are
    * deliberately absent: they would force `multiLine=true`, which makes
    * the read non-splittable (one task per file) — at 100 TB that is the
    * wrong trade, so the library's CSV contract is RFC-quoted,
    * single-line records, stated rather than silently assumed.
    */
  private def sourceCsv(s: SparkSession, dir: String): DataFrame = {
    val docs = hazardDocs(s, dir)
    val path = builtIndexPath("csvsrc", dir)(p =>
      docs.write.option("header", "true").option("escape", "\"")
        // The WRITER defaults ignore*WhiteSpace to TRUE — it silently
        // TRIMS field-edge whitespace (measured: every note ending in a
        // space came back shortened). Data pipelines cannot accept a
        // serializer that edits values; both trims are pinned off.
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(s"$p/docs"))
    val back = s.read.option("header", "true").option("escape", "\"").schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
      .csv(s"$path/docs")
    roundTripReport(docs, back)
  }
  gate("source_csv", sourceCsv,
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |       CAST(0 AS BIGINT) AS n_mismatch
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  /** ORC round-trip gate: the [[sourceJsonl]] discipline over Spark's
    * built-in ORC columnar source — the second major lake format next to
    * parquet, so a user landing or exporting ORC never leaves the
    * library. Binary format ⇒ escaping is moot; what the gate pins is the
    * writer/reader pair itself: string fidelity through the hazard column
    * (backslash, tab, quotes, non-ASCII é survive the ORC string codec
    * bit-exactly) and schema fidelity under an EXPLICIT read schema (ORC
    * self-describes, but a landing zone still declares its expectations —
    * same rationale as the text gates).
    */
  private def sourceOrc(s: SparkSession, dir: String): DataFrame = {
    val docs = hazardDocs(s, dir)
    val path = builtIndexPath("orcsrc", dir)(p => docs.write.orc(s"$p/docs"))
    val back = s.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
      .orc(s"$path/docs")
    roundTripReport(docs, back)
  }
  gate("source_orc", sourceOrc,
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |       CAST(0 AS BIGINT) AS n_mismatch
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  /** Snapshot reconciliation ([[graft.ops.Diff.snapshots]]): the orders
    * table against a derived next snapshot with planted removals (every
    * 97th key), edits (+1.0 total price on every 13th), and additions
    * (copies of every 101st under shifted keys) — the COW-lifecycle audit
    * that reports exactly the delta. Full-outer value compare, oracle as a
    * FULL JOIN with `IS NOT DISTINCT FROM` per column.
    */
  private def tableDiffSnapshots(s: SparkSession, dir: String): DataFrame = {
    val old = T(s, dir, "orders")
    val base = old.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val added = old.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
    graft.ops.Diff.snapshots(old, base.unionByName(added), Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }
  // The FULL JOIN with per-column IS NOT DISTINCT FROM — the value-compare
  // semantics Diff.snapshots implements with one null-safe struct equality.
  gate("table_diff_snapshots", tableDiffSnapshots,
    """WITH newt AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |       CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |            WHEN n.o_orderkey IS NULL THEN 'removed'
      |            ELSE 'changed' END AS change
      |FROM orders o FULL JOIN newt n ON o.o_orderkey = n.o_orderkey
      |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      |   OR NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
      |       AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
      |       AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
      |       AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
      |       AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
      |ORDER BY o_orderkey""".stripMargin)

  /** Corpus-drop drift report: [[graft.ops.Profile.columns]] over two
    * snapshots (the same planted next-snapshot as [[tableDiffSnapshots]])
    * joined per column — the "what moved between drops" summary a pipeline
    * checks before retraining: row/distinct counts and numeric bounds side
    * by side. Two one-pass profiles + a column-cardinality join (bounded by
    * the schema, not the data).
    */
  private def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val old = T(s, dir, "orders")
    val base = old.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val added = old.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
    val neu = base.unionByName(added)
    val cols = Seq("o_orderkey", "o_totalprice")
    def prof(df: DataFrame, tag: String) =
      graft.ops.Profile.columns(df, cols).select(
        col("column"),
        col("n_rows").as(s"n_rows_$tag"),
        col("n_distinct").as(s"n_distinct_$tag"),
        col("min_num").as(s"min_$tag"),
        col("max_num").as(s"max_$tag"))
    prof(old, "old").join(prof(neu, "new"), "column")
      .orderBy(col("column"))
  }
  // Two per-column profiles over old and the planted next snapshot.
  gate("profile_drift", profileDrift,
    """WITH newt AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |po AS (
      |  SELECT 'o_orderkey' AS column, count(*) AS n_rows_old,
      |         count(DISTINCT o_orderkey) AS n_distinct_old,
      |         CAST(min(o_orderkey) AS DOUBLE) AS min_old,
      |         CAST(max(o_orderkey) AS DOUBLE) AS max_old
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', count(*), count(DISTINCT o_totalprice),
      |         CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
      |  FROM orders),
      |pn AS (
      |  SELECT 'o_orderkey' AS column, count(*) AS n_rows_new,
      |         count(DISTINCT o_orderkey) AS n_distinct_new,
      |         CAST(min(o_orderkey) AS DOUBLE) AS min_new,
      |         CAST(max(o_orderkey) AS DOUBLE) AS max_new
      |  FROM newt
      |  UNION ALL
      |  SELECT 'o_totalprice', count(*), count(DISTINCT o_totalprice),
      |         CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
      |  FROM newt)
      |SELECT po.column, n_rows_old, n_distinct_old, min_old, max_old,
      |       n_rows_new, n_distinct_new, min_new, max_new
      |FROM po JOIN pn ON po.column = pn.column
      |ORDER BY po.column""".stripMargin)

  /** Bloom-pruned semi-join under the plain `WHERE EXISTS` oracle: the
    * in-plan Bloom bitmap ([[graft.ops.Joins.bloomSemiJoin]]) may pass false
    * positives into the exact semi-join but never drops a match, so the
    * result must be row-identical to the unpruned join.
    */
  private def joinBloomPruned(s: SparkSession, dir: String): DataFrame =
    Joins.bloomSemiJoin(
      T(s, dir, "lineitem"),
      T(s, dir, "orders").filter(col("o_totalprice") > 450000),
      "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("l_returnflag"))
  gate("join_bloom_pruned", joinBloomPruned,
    """SELECT l_returnflag, count(*) AS n,
      |       round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l_orderkey AND o_totalprice > 450000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Salted replicated join under the plain join oracle: the skew-spreading
    * salt ([[graft.ops.Joins.saltedRepJoin]]) only changes row routing, so
    * the aggregate over the joined output must equal the direct join's.
    */
  private def joinSkewSalted(s: SparkSession, dir: String): DataFrame =
    Joins.saltedRepJoin(
      T(s, dir, "lineitem"), T(s, dir, "supplier"),
      "l_suppkey", "s_suppkey", replicate = 4)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("s_nationkey"))
  gate("join_skew_salted", joinSkewSalted,
    """SELECT s_nationkey, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)

  /** Range join over the grid decomposition
    * ([[graft.ops.Joins.rangeJoin]]): every event inside its user's
    * first-3-days onboarding window `[first_event, first_event + 3d]` —
    * points are the events, intervals one row per user, matched on
    * user_id + containment. The oracle is the plain theta join (the shape
    * Spark would plan as a nested loop); equality-only shuffle and
    * row-identical output are JoinsLayoutSpec's claims.
    */
  private def rangeJoinEvents(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).df.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("time").cast("long").as("time"))
    val win = e.groupBy(col("user_id"))
      .agg(min(col("time")).as("lo"))
      .withColumn("hi", col("lo") + lit(3 * Day))
    Joins.rangeJoin(e, win, "time", "lo", "hi", bucketWidth = Day, keys = Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("time"))
      .orderBy(col("event_id"))
  }
  // The grid decomposition must be row-identical to the plain theta join
  // it replaces — the oracle IS that theta join.
  gate("range_join_events", rangeJoinEvents,
    s"""WITH e AS ($EvCte),
       |w AS (SELECT user_id, min(time) AS lo, min(time) + ${3 * Day} AS hi
       |      FROM e GROUP BY user_id)
       |SELECT e.event_id, e.user_id, e.time
       |FROM e JOIN w ON e.user_id = w.user_id
       |               AND e.time >= w.lo AND e.time <= w.hi
       |ORDER BY e.event_id""".stripMargin)

  /** Z-order bucket stats — pins the Morton-interleave kernel
    * ([[graft.ops.Layout.zvalue]]) against an arithmetic re-derivation, and
    * the min/max spread per bucket IS the layout claim: a bucket of z-width
    * 4^6 spans ≤ 2^6 distinct values per coordinate, so row-group min/max
    * stats stay tight on BOTH join keys.
    */
  private def zorderBucketStats(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(
        pmod(col("l_partkey"), lit(1024L)).as("x"),
        pmod(col("l_suppkey"), lit(1024L)).as("y"))
      .withColumn("z_bucket", shiftrightunsigned(Layout.zvalue(col("x"), col("y"), 10), 12))
      .groupBy(col("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("z_bucket"))
  // Morton code re-derived arithmetically: bit i of x lands at 4^i, bit i
  // of y at 2·4^i — integer div/mod only, no bit ops needed.
  gate("zorder_bucket_stats", zorderBucketStats,
    {
    val zTerms = (0 until 10).flatMap { i =>
      Seq(s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}",
        s"((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    s"""WITH c AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
       |z AS (SELECT x, y, $zTerms AS zv FROM c)
       |SELECT zv // 4096 AS z_bucket, count(*) AS n,
       |       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
       |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
  })

  /** Bucketed lineitem/orders pair, written once per JVM per corpus:
    * both sides `bucketBy(8, orderkey)` + `sortBy` into external parquet
    * under tmp ([[graft.ops.Layout.bucketedWrite]]), registered in the
    * session catalog. The cached value is the two table names.
    */
  private def bucketedTablesFor(s: SparkSession, dir: String): (String, String) =
    fixture("bkt", dir) { base =>
      val tok = pathToken(dir)
      val (lt, ot) = (s"graft_li_bkt_$tok", s"graft_ord_bkt_$tok")
      Layout.bucketedWrite(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        lt, s"$base/li", "l_orderkey", nBuckets = 8)
      Layout.bucketedWrite(
        T(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        ot, s"$base/ord", "o_orderkey", nBuckets = 8)
      (lt, ot)
    }

  /** Co-located big-to-big join over the bucketed layout: lineitem ⋈ orders
    * on the order key with NO join-time exchange on either side (both scans
    * start hash-partitioned by bucket; JoinsLayoutSpec asserts the join
    * subtree is exchange-free) — the write-once/join-many shape for a 100 TB fact-to-
    * fact join. Revenue summed as pre-rounded decimals so the partial-merge
    * order can't wobble the last ulp (the [[graft.ops.Similarity.meanVectors]]
    * determinism discipline).
    */
  private def joinBucketedColocated(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedTablesFor(s, dir)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10)
          .cast("decimal(30,10)")).cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }
  // The bucketed layout must not CHANGE the join's answer — the oracle is
  // the plain join; the layout claim (no join-time exchange) is pinned by
  // PlanSpec, not SQL-expressible.
  gate("join_bucketed_colocated", joinBucketedColocated,
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 10)
      |                          AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Zone-mapped events table, built once per JVM per corpus: events
    * range-clustered into 8 files by `time` (`repartitionByRange` — each
    * file covers a tight time slice, the layout that makes zone maps
    * selective) + a [[graft.ops.Layout.statsManifest]] over `time`.
    * Returns (tablePath, minTime).
    */
  private def zonedTableFor(s: SparkSession, dir: String): (String, Long) =
    fixture("zone", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"), col("event_type"), col("value"))
      e.repartitionByRange(8, col("time"))
        .write.mode("overwrite").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("time"))
      val minT = e.agg(min(col("time"))).head().getLong(0)
      (s"$base/t", minT)
    }

  /** User-clustered events table with a per-file BLOOM bitmap on
    * `event_id` in its zone-map manifest, built once per JVM per corpus:
    * the layout serves per-user analytics (range-clustered on user_id),
    * so every file's [min_event_id, max_event_id] zone spans nearly the
    * whole id domain — a point lookup by event id can only prune through
    * the bitmap ([[graft.ops.Layout.statsManifest]] `bloomCols`). The
    * secondary-key needle-in-haystack read at 100 TB, without a second
    * sort order.
    */
  private def bloomTableFor(s: SparkSession, dir: String): String =
    fixture("bloomt", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      e.repartitionByRange(8, col("user_id"), col("time"))
        .write.mode("overwrite").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("user_id"),
        bloomCols = Seq("event_id"), bloomBits = 1 << 17)
      s"$base/t"
    }

  /** Bloom point-lookup gate: three event-id probes through
    * [[graft.ops.Layout.prunedParquetPoint]] against the user-clustered
    * table ([[bloomTableFor]]) — each opens only the file(s) whose bitmap
    * claims the id. The oracle filters the full events table; pruning
    * must not change the answer.
    */
  private def bloomPointScan(s: SparkSession, dir: String): DataFrame = {
    val path = bloomTableFor(s, dir)
    Seq(123L, 456L, 789L)
      .map(id => Layout.prunedParquetPoint(s, path, "event_id", lit(id)))
      .reduce(_ unionByName _)
      .select(col("event_id"), col("time"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }
  // Bloom point lookups: the bitmap-pruned reads must return exactly the
  // full-scan rows for each probed id (a false positive costs a file
  // read, never a row; a false negative would drop a row and diverge).
  gate("bloom_point_scan", bloomPointScan,
    s"""WITH e AS ($EvCte)
       |SELECT event_id, time, user_id, event_type, value
       |FROM e WHERE event_id IN (123, 456, 789) ORDER BY event_id""".stripMargin)

  /** Zone-map pruned scan gate: a 2-day band five days into the corpus,
    * answered from ONLY the files whose [min_time, max_time] zone overlaps
    * the band ([[graft.ops.Layout.prunedParquet]]; StorageLayoutSpec pins
    * that fewer files are read and that staleness fails loud). The oracle
    * filters the full table — pruning must not change the answer.
    */
  private def prunedTimeScan(s: SparkSession, dir: String): DataFrame = {
    val (path, minT) = zonedTableFor(s, dir)
    Layout.prunedParquet(s, path, "time", minT + 5 * Day, minT + 7 * Day)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }
  gate("pruned_time_scan", prunedTimeScan,
    s"""WITH e AS ($EvCte), b AS (SELECT min(time) AS t0 FROM e)
       |SELECT event_type, count(*) AS n,
       |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
       |         AS sum_value
       |FROM e, b WHERE e.time >= b.t0 + ${5 * Day} AND e.time <= b.t0 + ${7 * Day}
       |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Incrementally-maintained rollup ([[graft.ops.Ivm]]), built once per
    * JVM per corpus: events split deterministically into a base corpus
    * (event_id % 5 ≠ 0) and two trickle batches (% 10 = 0, % 10 = 5) that
    * together cover every event exactly once; the rollup is materialized
    * from the base partitioned by day, then each batch folds in via
    * [[graft.ops.Ivm.applyDelta]] — its own tiny aggregation, a read of
    * ONLY the touched day partitions, and the COW partition swap. The gate
    * reads the final rollup; the oracle aggregates ALL events directly, so
    * a delta that double-counts, drops a group, or misses a partition skews
    * the hash.
    */
  private def ivmRollupFor(s: SparkSession, dir: String): String =
    fixture("ivm", dir) { base =>
      val e = ev(s, dir).df.select(
        col("event_id").cast("long").as("event_id"),
        floor(col("time") / lit(86400000L)).cast("long").as("day"),
        col("event_type"), col("value"))
      val baseRows = e.filter(col("event_id") % 5 =!= 0)
      val batch1 = e.filter(col("event_id") % 10 === 0)
      val batch2 = e.filter(col("event_id") % 10 === 5)
      graft.ops.Ivm.buildRollup(s, baseRows, s"$base/r",
        partitionCol = "day", groupCols = Seq("event_type"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch1,
        partitionCol = "day", groupCols = Seq("event_type"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch2,
        partitionCol = "day", groupCols = Seq("event_type"), valueCol = "value")
      s"$base/r"
    }

  private def ivmRollupAgg(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivm.readAgg(s, ivmRollupFor(s, dir), "day", Seq("event_type"))
      .orderBy(col("event_type"))
  // Zone-map pruning must not change the answer — the oracle filters the
  // full events table over the same derived band.
  // IVM gate: the oracle aggregates the FULL events table directly —
  // base ∪ batch1 ∪ batch2 is exactly the corpus, so the delta-maintained
  // rollup must reproduce the one-shot aggregate bit-for-bit (same
  // round-then-decimal sum lattice as the Spark partials).
  gate("ivm_rollup_agg", ivmRollupAgg, IvmRollupOracle)

  /** Streaming-maintained rollup gate: the SAME rollup contract as
    * [[ivmRollupAgg]], but the trickle arrives as a STREAM — the corpus's
    * odd-id half is written as three parquet files and replayed one file
    * per micro-batch (`AvailableNow` + `maxFilesPerTrigger=1`), each batch
    * folding in through the ledger-guarded `foreachBatch` maintainer
    * ([[graft.ops.Ivm.maintainStream]]). The oracle aggregates ALL events
    * directly, so a dropped micro-batch, a double-applied replay, or any
    * batch-boundary dependence in the merge skews the hash.
    */
  private def ivmStreamRollupFor(s: SparkSession, dir: String): String =
    fixture("ivms", dir) { base =>
      val e = ev(s, dir).df.select(
        col("event_id").cast("long").as("event_id"),
        floor(col("time") / lit(86400000L)).cast("long").as("day"),
        col("event_type"), col("value"))
      graft.ops.Ivm.buildRollup(s, e.filter(col("event_id") % 2 === 0),
        s"$base/r", partitionCol = "day", groupCols = Seq("event_type"),
        valueCol = "value")
      e.filter(col("event_id") % 2 === 1).repartition(3)
        .write.parquet(s"$base/src")
      val schema = e.schema
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        val q = graft.ops.Ivm.maintainStream(src, s"$base/r", s"$base/ckpt",
          partitionCol = "day", groupCols = Seq("event_type"),
          valueCol = "value")
        q.awaitTermination()
      }
      s"$base/r"
    }

  private def streamIvmRollup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivm.readAgg(s, ivmStreamRollupFor(s, dir), "day", Seq("event_type"))
      .orderBy(col("event_type"))
  // Streaming twin: the micro-batched trickle must land on the identical
  // one-shot aggregate — batch boundaries are an execution detail.
  gate("stream_ivm_rollup", streamIvmRollup, IvmRollupOracle)

  /** INCREMENTALLY-MAINTAINED quantile sketch — [[graft.ops.Ivm]] composed
    * with the histogram family, zero new operator code: the rollup's group
    * key is `(event_type, log2 bucket)`, so the maintained `n` partials ARE
    * the per-day bucket counts (counts are a commutative monoid — exactly
    * what delta maintenance keeps exact), and
    * [[graft.ops.Sketches.quantilesFromBuckets]] extracts per-day quantile
    * lower bounds from the rollup at read time — the non-mergeable step,
    * deliberately outside the maintained state, same split as the streaming
    * histogram. At 100 TB this is the "p99 dashboard over a year of events"
    * shape: a daily batch folds into its day's partitions only; no query
    * ever re-scans the base table. The corpus splits base/batch1/batch2
    * exactly like [[ivmRollupFor]], and the oracle aggregates ALL events
    * one-shot — a merge error in any delta skews the hash.
    */
  private def ivmHistRollupFor(s: SparkSession, dir: String): String =
    fixture("ivmh", dir) { base =>
      val e = ev(s, dir).df.filter(col("value").isNotNull).select(
        col("event_id").cast("long").as("event_id"),
        floor(col("time") / lit(86400000L)).cast("long").as("day"),
        col("event_type"),
        graft.ops.Sketches.log2Bucket(col("value")).as("bucket"),
        col("value"))
      val baseRows = e.filter(col("event_id") % 5 =!= 0)
      val batch1 = e.filter(col("event_id") % 10 === 0)
      val batch2 = e.filter(col("event_id") % 10 === 5)
      graft.ops.Ivm.buildRollup(s, baseRows, s"$base/r",
        partitionCol = "day", groupCols = Seq("event_type", "bucket"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch1,
        partitionCol = "day", groupCols = Seq("event_type", "bucket"), valueCol = "value")
      graft.ops.Ivm.applyDelta(s, s"$base/r", batch2,
        partitionCol = "day", groupCols = Seq("event_type", "bucket"), valueCol = "value")
      s"$base/r"
    }

  private def ivmHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val partials = s.read.parquet(ivmHistRollupFor(s, dir))
      .select((col("day") * 86400000L).as("win_start"), col("event_type"),
        col("bucket"), col("n"))
    graft.ops.Sketches.quantilesFromBuckets(
      partials, Seq("win_start", "event_type"), "bucket", "n",
      Seq(0.5, 0.99), graft.ops.Sketches.log2Lower)
      .orderBy(col("win_start"), col("event_type"))
  }
  // Streaming-histogram gate: the per-day power-of-two bucket counts the
  // stream maintained in bounded state must yield the SAME quantile lower
  // bounds as this batch re-derivation — identical integer bit-length
  // bucketing (bin-length, never float log), identical ceil-rank rule.
  // The IVM-maintained rollup shares it verbatim: base+delta counts must
  // equal the one-shot aggregate.
  gate("ivm_hist_quantiles", ivmHistQuantiles, HistQuantilesDailySql)

  /** Z-ordered + zone-mapped events table, built once per JVM per corpus:
    * [[graft.ops.Layout.clusterByZ]] interleaves (user_id, day-index) into
    * one Morton key and range-partitions into 16 files, so every file is a
    * tight RECTANGLE in (user, day) space; [[graft.ops.Layout
    * .statsManifest]] then records both columns' per-file zones. `minT` (a
    * one-row scalar, build-time only) anchors the day index. Returns
    * (tablePath, minTime).
    */
  private def zorderTableFor(s: SparkSession, dir: String): (String, Long) =
    fixture("zord", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      val minT = e.agg(min(col("time"))).head().getLong(0)
      Layout.clusterByZ(
        e.withColumn("day_idx", ((col("time") - lit(minT)) / lit(Day)).cast("long")),
        "user_id", "day_idx", bits = 11, numPartitions = 16)
        .drop("day_idx")
        .write.mode("overwrite").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("time", "user_id"))
      (s"$base/t", minT)
    }

  /** Z-order × zone-map gate: a (time band ∧ user band) probe answered via
    * [[graft.ops.Layout.prunedParquetBounds]] — the CONJUNCTION prunes on
    * both interleaved keys at once (each z-file is a rectangle, so the
    * bounds multiply their selectivities; a one-key sort would prune on one
    * and scan for the other — the multi-key scan-heavy-table layout at
    * 100 TB, SURVEY §2.11). StorageLayoutSpec pins that the 2-D zone filter
    * keeps strictly fewer files than either 1-D bound; the oracle filters
    * the full table, so pruning must not change the answer.
    */
  private def zorderPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val (path, minT) = zorderTableFor(s, dir)
    Layout.prunedParquetBounds(s, path, Seq(
      "time" -> (minT + 5 * Day, minT + 7 * Day),
      "user_id" -> (100L, 300L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }
  // 2-D band over the full table: the z-layout + conjunctive zone filter
  // must land on exactly these rows.
  gate("zorder_pruned_scan", zorderPrunedScan,
    s"""WITH e AS ($EvCte), b AS (SELECT min(time) AS t0 FROM e)
       |SELECT event_type, count(*) AS n,
       |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
       |         AS sum_value
       |FROM e, b
       |WHERE e.time >= b.t0 + ${5 * Day} AND e.time <= b.t0 + ${7 * Day}
       |  AND e.user_id BETWEEN 100 AND 300
       |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Upserted documents table, built once per JVM per corpus: documents
    * written partitioned by `source`, then one
    * [[graft.ops.Layout.upsertPartitioned]] batch — edited re-crawls of
    * src0/src1 docs (same doc_id, `UPDATED: `-prefixed text) plus brand-new
    * docs landing in a NEW `srcnew` partition. Three partition directories
    * of twenty-one are touched; StorageLayoutSpec pins that the other
    * eighteen keep their exact files.
    */
  private def upsertTableFor(s: SparkSession, dir: String): String =
    fixture("ups", dir) { base =>
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      docs.write.mode("overwrite").partitionBy("source").parquet(base)
      val edits = docs
        .filter(col("source").isin("src0", "src1") && col("doc_id") % 7 === 3)
        .select(col("doc_id"), concat(lit("UPDATED: "), col("text")).as("text"),
          col("lang"), col("source"),
          length(concat(lit("UPDATED: "), col("text"))).cast("long").as("n_chars"))
      val news = docs
        .filter(col("source") === "src2" && col("doc_id") % 7 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          lit("en").as("lang"), lit("srcnew").as("source"),
          length(concat(lit("new doc "), col("doc_id").cast("string")))
            .cast("long").as("n_chars"))
      Layout.upsertPartitioned(s, base, edits.unionByName(news),
        keyCols = Seq("doc_id"), partitionCol = "source")
      base
    }

  /** Upserted + zone-mapped events table, built once per JVM per corpus —
    * the full manifest LIFECYCLE the storage layer promises at 100 TB in
    * one artifact: partitioned write, [[graft.ops.Layout.statsManifest]]
    * over `time`, then ONE [[graft.ops.Layout.upsertPartitioned]] batch
    * (value edits across the existing partitions + a brand-new `synthetic`
    * partition) whose writer-side manifest patch keeps the zone maps fresh
    * with NO manifest rebuild, then [[graft.ops.Layout.compactInPlace]]
    * folding the upsert's files one-per-partition (which must REBUILD the
    * manifest — per-file stats cannot survive a rewrite), with
    * [[graft.ops.Layout.verifyManifest]] — the full-listing fsck — auditing
    * after each step. A broken epoch/patch protocol makes the gate ERROR,
    * not skew. Returns (tablePath, minTime of the original corpus).
    */
  private def upsertZonedTableFor(s: SparkSession, dir: String): (String, Long) =
    fixture("upz", dir) { base =>
      val e = ev(s, dir).df.select(col("event_id").cast("long").as("event_id"),
        col("time").cast("long").as("time"), col("event_type"), col("value"))
      e.write.mode("overwrite").partitionBy("event_type").parquet(s"$base/t")
      Layout.statsManifest(s, s"$base/t", Seq("time"))
      val edits = e.filter(col("event_id") % 11 === 5)
        .withColumn("value", col("value") + 1000)
      val news = e.filter(col("event_id") % 11 === 7)
        .select((col("event_id") + 10000000L).as("event_id"), col("time"),
          lit("synthetic").as("event_type"), col("value"))
      Layout.upsertPartitioned(s, s"$base/t", edits.unionByName(news),
        keyCols = Seq("event_id"), partitionCol = "event_type")
      Layout.verifyManifest(s, s"$base/t")
      // The post-trickle step of the same lifecycle: fold the upsert's
      // accumulated files to one per partition; compaction rewrites every
      // file, so it must REBUILD the manifest (per-file stats can't survive
      // a rewrite) — the second fsck audits that too.
      Layout.compactInPlace(s, s"$base/t", Seq("event_type"))
      Layout.verifyManifest(s, s"$base/t")
      val minT = e.agg(min(col("time"))).head().getLong(0)
      (s"$base/t", minT)
    }

  /** Manifest-lifecycle gate: zone-map-pruned time-band rollup of the table
    * AFTER a partition-scoped upsert — the pruned read only answers
    * correctly if the writer's incremental manifest patch covered both the
    * edited partitions and the new one (edited rows moved +1000, so a scan
    * of pre-upsert files shows in `sum_value`; a silently stale manifest
    * shows as missing rows). The oracle re-derives the post-upsert state
    * relationally and filters the same band over the FULL table.
    */
  private def tableUpsertPruned(s: SparkSession, dir: String): DataFrame = {
    val (path, minT) = upsertZonedTableFor(s, dir)
    Layout.prunedParquet(s, path, "time", minT + 5 * Day, minT + 7 * Day)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }
  // The manifest lifecycle's answer: post-upsert state re-derived
  // relationally (NOT EXISTS batch keys + union batch), then the same
  // 2-day band over the FULL table — the engine's zone-map-pruned read of
  // the patched manifest must land on exactly these rows.
  gate("table_upsert_pruned", tableUpsertPruned,
    s"""WITH e AS ($EvCte),
       |edits AS (SELECT event_id, time, event_type, value + 1000 AS value
       |          FROM e WHERE event_id % 11 = 5),
       |news AS (SELECT event_id + 10000000 AS event_id, time,
       |                'synthetic' AS event_type, value
       |         FROM e WHERE event_id % 11 = 7),
       |batch AS (SELECT * FROM edits UNION ALL SELECT * FROM news),
       |final AS (
       |  SELECT p.event_id, p.time, p.event_type, p.value FROM e p
       |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.event_id = p.event_id)
       |  UNION ALL SELECT * FROM batch),
       |mn AS (SELECT min(time) AS t0 FROM e)
       |SELECT event_type, count(*) AS n,
       |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
       |         AS sum_value
       |FROM final, mn
       |WHERE final.time >= mn.t0 + ${5 * Day} AND final.time <= mn.t0 + ${7 * Day}
       |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** COW-upsert gate: per-source rollup of the table AFTER the upsert —
    * replaced rows show as `UPDATED:` prefixes (old copies must be gone:
    * n_docs unchanged for edited partitions), new rows as the `srcnew`
    * partition. The oracle re-derives the final state relationally
    * (NOT EXISTS batch keys + union batch).
    */
  private def tableUpsert(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(upsertTableFor(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("text").startsWith("UPDATED:"), 1)).as("n_updated"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  // The upsert's final state re-derived relationally: NOT EXISTS over the
  // batch's keys removes the replaced rows, union appends the batch; the
  // partition-scoped COW plumbing must land at exactly this table.
  gate("table_upsert", tableUpsert,
    """WITH edits AS (
      |  SELECT doc_id, 'UPDATED: ' || text AS text, lang, source,
      |         length('UPDATED: ' || text) AS n_chars
      |  FROM documents WHERE source IN ('src0', 'src1') AND doc_id % 7 = 3),
      |news AS (
      |  -- d.-qualified on purpose: DuckDB lateral alias resolution would
      |  -- otherwise bind the bare doc_id in `text` to the +100000 alias.
      |  SELECT d.doc_id + 100000 AS doc_id, 'new doc ' || d.doc_id AS text,
      |         'en' AS lang, 'srcnew' AS source,
      |         length('new doc ' || d.doc_id) AS n_chars
      |  FROM documents d WHERE d.source = 'src2' AND d.doc_id % 7 = 3),
      |batch AS (SELECT * FROM edits UNION ALL SELECT * FROM news),
      |final AS (
      |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d
      |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.doc_id = d.doc_id)
      |  UNION ALL SELECT * FROM batch)
      |SELECT source, count(*) AS n_docs,
      |       count(*) FILTER (text LIKE 'UPDATED:%') AS n_updated,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM final GROUP BY source ORDER BY source""".stripMargin)

  /** Anti-join family: customers with no high-value order, rolled up by
    * segment. `left_anti` is the relational NOT EXISTS — same hash shuffle
    * as a semi-join, and the build side is pre-filtered at its scan.
    */
  private def antiJoinCustomers(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(T(s, dir, "orders").filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
  gate("anti_join_customers", antiJoinCustomers,
    """SELECT c_mktsegment, count(*) AS n FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** Set-operation family (EXCEPT / INTERSECT) over per-type high-value
    * user sets: both compile to aggregate + join shapes (no sort-based
    * distinct), tagged and unioned into one result.
    */
  private def setopActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).df
    def users(tpe: String) = e
      .filter(col("event_type") === tpe && col("value") > 250)
      .select(col("user_id")).distinct()
    graft.ops.Ordered.smallResult(
      users("view").except(users("purchase"))
        .select(lit("view_only").as("set_op"), col("user_id"))
        .unionByName(
          users("view").intersect(users("purchase"))
            .select(lit("both").as("set_op"), col("user_id"))),
      "set_op", "user_id")
  }
  gate("setop_active_users", setopActiveUsers,
    s"""WITH e AS ($EvCte),
       |v AS (SELECT DISTINCT user_id FROM e
       |      WHERE event_type = 'view' AND value > 250),
       |p AS (SELECT DISTINCT user_id FROM e
       |      WHERE event_type = 'purchase' AND value > 250)
       |SELECT 'view_only' AS set_op, user_id FROM (SELECT * FROM v EXCEPT SELECT * FROM p)
       |UNION ALL
       |SELECT 'both', user_id FROM (SELECT * FROM v INTERSECT SELECT * FROM p)
       |ORDER BY set_op, user_id""".stripMargin)

  private def windowTopOrders(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("o_custkey"), col("rk"))
  gate("window_top_orders", windowTopOrders,
    """SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS total
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders)
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)

  private def rollupLineitem(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      // Subtotal rows carry NULL group keys; coalesce to a marker so both
      // engines order them identically.
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))
  gate("rollup_lineitem", rollupLineitem,
    """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
      |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin)

  private def cubeLineitem(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))
  gate("cube_lineitem", cubeLineitem,
    """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
      |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin)

  /** Daily event volume with a 7-day trailing moving average — the window
    * frame-spec (`rowsBetween`) coverage row. The frame runs over the daily
    * pre-aggregate through [[graft.ops.Windowed.trailingStitched]]: bucketed
    * windows with cross-bucket carry rows, bit-identical to a global ordered
    * window but never on WindowExec's single-partition fallback path — the
    * shape a global sliding window takes at 100 TB.
    */
  private def movingAvgDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir).df
      .groupBy(expr("time div 86400000").as("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("mean_value"))
    graft.ops.Ordered.smallResult(
      graft.ops.Windowed.trailingStitched(
        daily, "day", "n", frameRows = 6, c => avg(c), "ma7_n")
        .select(col("day"), col("n"), col("mean_value"),
          round(col("ma7_n"), 4).as("ma7_n")),
      "day")
  }
  gate("moving_avg_daily", movingAvgDaily,
    s"""WITH e AS ($EvCte),
       |d AS (SELECT time // 86400000 AS day, count(*) AS n,
       |             round(avg(value), 4) AS mean_value
       |      FROM e GROUP BY 1)
       |SELECT day, n, mean_value,
       |       round(avg(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
       |         AS ma7_n
       |FROM d ORDER BY day""".stripMargin)

  /** Salted two-phase aggregation under the plain GROUP BY oracle: the
    * hot-key skew defense ([[graft.ops.Skew.saltedAgg]]) must compute exactly
    * what the direct aggregation computes — the salt only changes WHERE the
    * partials run.
    */
  private def saltedAggByType(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedAgg(
      ev(s, dir).df.select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), salt = 8,
      Seq(
        "n" -> ((count(lit(1)), (c: Column) => sum(c))),
        "sum_value" -> ((sum(col("value")), (c: Column) => sum(c)))),
      // events carry a unique id — salt by its hash: retry-safe by
      // construction, no row-order precondition.
      saltBy = Some(col("event_id")))
      .select(col("event_type"), col("n"),
        round(coalesce(col("sum_value"), lit(0.0)), 4).as("sum_value"))
      .orderBy(col("event_type"))
  gate("salted_agg_by_type", saltedAggByType,
    """SELECT event_type, count(*) AS n,
      |       round(coalesce(sum(value), 0), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  private def distinctUsersByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  gate("distinct_users_by_type", distinctUsersByType,
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** HLL++ approx-distinct, surfaced as a HARD oracle row: the sketch value
    * itself is engine-specific, so the query emits the exact count plus a
    * boolean asserting `|approx − exact| ≤ 3·rsd·exact` — the oracle pins the
    * exact count and expects the bound to hold (`within_bound = 1`). A sketch
    * drifting outside its error contract turns this row red. HLL++ is
    * deterministic for fixed input, so the row is stable run-to-run.
    */
  private def approxDistinctUsers(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.05).as("approx_users"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"), col("n_users"),
        (abs(col("approx_users") - col("n_users")) <=
          ceil(col("n_users") * lit(3 * 0.05))).cast("long").as("within_bound"))
      .orderBy(col("event_type"))
  // The oracle pins the exact count and asserts the sketch's error
  // contract held (Spark emits within_bound = 1 only while
  // |approx − exact| ≤ 3·rsd·exact).
  gate("approx_distinct_users", approxDistinctUsers,
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |       CAST(1 AS BIGINT) AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  private def asofJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val left = ev(s, dir).df.select(col("event_id"), col("user_id"), col("time"))
    val right = T(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        // o_orderdate is parquet TIMESTAMP_NTZ; cast to LTZ (identity under
        // the UTC session TZ) so unix_millis applies.
        unix_millis(col("o_orderdate").cast("timestamp")).as("ot"), col("o_orderkey"))
    graft.ops.Ordered.smallResult(
      AsofJoin(left, right, Seq("user_id"), "time", "ot",
        rightPayload = Seq("o_orderkey"), rightTieCol = "o_orderkey")
        .select(col("event_id"), col("user_id"), col("o_orderkey")),
      "event_id")
  }
  // Latest-at-or-before via ORDER BY ... LIMIT 1 — same composite-key
  // rationale as uts_last_interval's window.
  gate("asof_join_orders", asofJoinOrders,
    """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS t FROM events),
      |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS ot, o_orderkey FROM orders)
      |SELECT e.event_id, e.user_id,
      |       (SELECT o_orderkey FROM o
      |        WHERE o.o_custkey = e.user_id AND o.ot <= e.t
      |        ORDER BY ot DESC, o_orderkey DESC LIMIT 1) AS o_orderkey
      |FROM e ORDER BY event_id""".stripMargin)

  /** Forward as-of with a 7-day tolerance: each event's NEXT order by the
    * same user within a week — the attribution-window shape.
    */
  private def asofJoinForward(s: SparkSession, dir: String): DataFrame = {
    val left = ev(s, dir).df.select(col("event_id"), col("user_id"), col("time"))
    val right = T(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ot"), col("o_orderkey"))
    graft.ops.Ordered.smallResult(
      AsofJoin(left, right, Seq("user_id"), "time", "ot",
        rightPayload = Seq("o_orderkey"), rightTieCol = "o_orderkey",
        direction = "forward", tolerance = Some(604800000L))
        .select(col("event_id"), col("user_id"), col("o_orderkey")),
      "event_id")
  }
  // Forward direction + 7-day bound: earliest following order, greatest
  // orderkey on time ties — NULL when the nearest is out of tolerance
  // (any other candidate is farther still).
  gate("asof_join_orders_fwd", asofJoinForward,
    """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS t FROM events),
      |o AS (SELECT o_custkey, epoch_ms(o_orderdate) AS ot, o_orderkey FROM orders)
      |SELECT e.event_id, e.user_id,
      |       (SELECT o_orderkey FROM o
      |        WHERE o.o_custkey = e.user_id AND o.ot >= e.t
      |          AND o.ot - e.t <= 604800000
      |        ORDER BY ot ASC, o_orderkey DESC LIMIT 1) AS o_orderkey
      |FROM e ORDER BY event_id""".stripMargin)
}
