package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout via Morton (Z-order) interleaving.
  *
  * Parquet pruning is driven by per-row-group min/max stats; sorting by ONE
  * column makes that column prunable and destroys locality on every other.
  * Interleaving the bits of two key columns into a single z-value and
  * range-partitioning + sorting by it bounds BOTH coordinates within any
  * contiguous z-range: rows agreeing on all z-bits above 2j agree on all
  * coordinate bits above j, so a z-bucket of size 4^j spans at most 2^j
  * distinct values per coordinate. Filters on either column then skip most
  * row groups — the standard layout trick for multi-key scan-heavy tables
  * (a 100 TB fact table queried by both part and supplier, say).
  *
  * The z-value is pure column arithmetic (constant shifts + adds), fully
  * codegen'd — no UDF, no shuffle of its own; the only exchange is the
  * range partitioning the caller asks for when writing the layout.
  */
object Layout {

  /** Morton code of two non-negative integer columns, `bits` low bits each
    * (values are taken mod 2^bits; callers bucket/hash wider domains down
    * first). x occupies even output bits, y odd — a 2·bits-bit z-value.
    */
  def zvalue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { i =>
      val xb = shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
      val yb = shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
      xb + yb
    }.reduce(_ + _)
  }

  /** Range-partition and sort `df` by the z-value of (`xCol`, `yCol`) —
    * the write-side layout step. Each output partition covers a contiguous
    * z-range, i.e. a bounded rectangle set in (x, y) space.
    */
  def clusterByZ(df: DataFrame, xCol: String, yCol: String, bits: Int,
      numPartitions: Int): DataFrame = {
    require(!df.columns.contains("__z"),
      "clusterByZ reserves the __z column name; rename the input column")
    val z = zvalue(col(xCol), col(yCol), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Bucketed table layout — the shuffle-ELIMINATION lever for repeated
    * big-to-big joins. Both sides of a recurring join (fact↔fact, e.g.
    * lineitem↔orders on the order key at 100 TB) are written once with
    * `bucketBy(n, key)` + `sortBy(key)`: every row lands in bucket
    * `hash(key) mod n`, so a later equi-join of two tables bucketed the
    * same way starts from identical hash partitionings and Catalyst plans
    * a sort-merge join with NO exchange on either side (JoinsLayoutSpec
    * asserts the plan) — the per-query shuffle of both corpora, the
    * dominant cost of the join, is paid once at write time instead of on
    * every run. The per-bucket `sortBy` lets one-file-per-bucket reads
    * skip the merge sort too.
    *
    * Spark requires bucketed output to be a CATALOG table (`saveAsTable`;
    * bucket metadata lives in the metastore, not the parquet footers), so
    * callers name the table AND give an explicit external `path`. On this
    * harness the catalog is session-scoped in-memory — a new session sees
    * plain unbucketed parquet at `path`; production points the same call
    * at a persistent metastore.
    */
  def bucketedWrite(
      df: DataFrame,
      table: String,
      path: String,
      bucketCol: String,
      nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  // ----------------------------------------------------------- table opens

  /** `spark.read.parquet(path)` without its schema-inference job. Inference
    * reads one footer inside a one-task Spark job — for a small dashboard
    * panel or an index probe, a job per opened table before any real work.
    * Here the SAME footer is read on the driver: the file Spark's
    * non-merging inference picks (`_common_metadata`, else `_metadata`,
    * else the first data file by path), converted by Spark's own converter
    * under the session conf and preferring the Spark row metadata a Spark
    * writer stored — exactly `ParquetFileFormat.readSchemaFromFooter` — so
    * type rules stay Spark's. The relation is built over the listing that
    * picked the footer, so the path is listed once, not again by the
    * reader; it is the relation `spark.read.schema(footer).parquet(path)`
    * resolves to: the reader's partition columns, inferred from the
    * directory names, follow the (nullable) footer columns. A root whose
    * own name starts with `_` (a zone-map manifest) is listed like any
    * other, where the reader would warn that it ignores the path. The
    * schema is read on every call and never cached: a table rewritten in
    * place under the same path is read with its new schema. A missing or
    * empty path falls through to Spark's own inference, which fails loud
    * exactly as before.
    */
  private[graft] def readParquet(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    parquetRelation(spark, path).fold(spark.read.parquet(path))(spark.baseRelationToDataFrame)

  /** [[readParquet]]'s relation; `None` for a missing or empty path. */
  private def parquetRelation(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[org.apache.spark.sql.execution.datasources.HadoopFsRelation] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet._
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else {
      // The listing the reader itself does (hidden-file and partition rules).
      val index = new InMemoryFileIndex(spark, Seq(fs.makeQualified(root)), Map.empty, None)
      val leaves = index.allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(
        ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
        .map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
          val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
          val resolver = spark.sessionState.conf.resolver
          val parts = index.partitionSchema
          // Spark's private `asNullable`, which the reader applies to
          // a given data schema.
          def nullable(t: DataType): DataType = t match {
            case s: StructType => StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
            case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
            case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
            case other => other
          }
          HadoopFsRelation(index, parts,
            nullable(StructType(schema.filterNot(c => parts.exists(p => resolver(p.name, c.name)))))
              .asInstanceOf[StructType],
            None, new ParquetFileFormat, Map.empty)(spark)
        }
    }
  }

  /** Every row of a small parquet table, decoded on the driver with no
    * Spark job: [[readParquet]]'s relation (same listing, same schema, so
    * each column keeps the table's own type) read file by file through
    * Spark's own parquet reader, partition values appended. For routing
    * state a probe reads whole on every call, such as an IVF centroid
    * table, where a collect would start a job per probe. The footers' row
    * counts are summed first, and a table holding more than `maxRows` rows
    * is refused with its path before any row is decoded.
    */
  private[graft] def collectParquet(
      spark: org.apache.spark.sql.SparkSession, path: String, maxRows: Long): Array[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
    val rel = parquetRelation(spark, path).getOrElse(
      throw new IllegalArgumentException(s"parquet table $path does not exist or holds no files"))
    val conf = spark.sessionState.newHadoopConf()
    val files = rel.location.listFiles(Nil, Nil).flatMap(d => d.files.map(f => (d.values, f.fileStatus)))
    val rows = files.map { case (_, f) =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
    require(rows <= maxRows,
      s"parquet table $path holds $rows rows, more than the $maxRows a driver-side read takes")
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, rel.dataSchema,
      rel.partitionSchema, rel.dataSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = CatalystTypeConverters.createToScalaConverter(rel.schema)
    files.toArray.flatMap { case (values, f) =>
      read(PartitionedFile(values, SparkPath.fromPath(f.getPath), 0L, f.getLen,
        Array.empty[String], f.getModificationTime, f.getLen, Map.empty))
        .map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row])
    }
  }

  /** The named integer fields of a one-line JSON index manifest: the
    * `manifest` directory an index build writes with Spark's JSON writer
    * (MinHash, inverted index, kNN graph). Read on the driver through the
    * Hadoop `FileSystem`, because reading it through Spark's JSON source
    * starts two jobs (inference, then `head`) on every open. A missing,
    * empty, multi-row or non-JSON manifest, or one without an integer
    * field asked for, fails with an `IllegalArgumentException` that names
    * the manifest's path.
    */
  private[graft] def readJsonManifest(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      fields: String*): Map[String, Int] = {
    val (fs, p) = fsOf(spark, dir)
    def bad(why: String) =
      new IllegalArgumentException(s"index manifest $p $why — rebuild the index")
    if (!fs.exists(p)) throw bad("does not exist")
    val lines = fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .flatMap { f =>
        val in = fs.open(f.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
      .map(_.trim).filter(_.nonEmpty)
    if (lines.size != 1) throw bad(s"holds ${lines.size} rows, expected 1")
    val m = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.head)
    catch { case e: java.io.IOException => throw bad(s"is not JSON (${e.getMessage})") }
    fields.map { c =>
      c -> Option(m.get(c)).filter(_.canConvertToInt).map(_.asInt)
        .getOrElse(throw bad(s"has no integer field `$c`"))
    }.toMap
  }

  // ---------------------------------------------------------------- zone maps

  private val ManifestDir = "_graft_manifest"
  private val TableEpochFile = "_graft_epoch"
  private val ManifestEpochFile = "_epoch"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[ops] def readLongFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      try Some(s.toLong)
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"corrupt epoch file $p (content '${s.take(32)}') — delete it and " +
              "re-run statsManifest to re-establish the epoch")
      }
    }

  /** Write, then rename over the target — a crash mid-write leaves the tmp
    * file, never a partial target. Hadoop rename won't clobber, so the old
    * value is deleted first; a reader in that instant sees an ABSENT epoch
    * and fails loud ("absent"), never a truncated number.
    */
  private[ops] def writeLongFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, v: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".__tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false): Unit
    require(fs.rename(tmp, p), s"writeLongFile: rename $tmp -> $p failed")
  }

  /** The table's data version: a counter in `_graft_epoch` at the table
    * root, bumped by EVERY graft writer after it mutates data files
    * ([[upsertPartitioned]], [[manifestPatchDirs]] callers, compaction).
    * [[prunedParquet]] compares it against the epoch the manifest was
    * stamped with — two single-line file reads replace the recursive
    * million-file listing a staleness check would otherwise cost at 100 TB.
    * The contract is single-writer ownership (the same ownership appends
    * and compaction already require): an out-of-band writer that bypasses
    * the epoch is invisible to the fast check — [[verifyManifest]] is the
    * offline fsck that catches it from a full listing.
    */
  def tableEpoch(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): Option[Long] = {
    val (fs, root) = fsOf(spark, tablePath)
    readLongFile(fs, new org.apache.hadoop.fs.Path(root, TableEpochFile))
  }

  /** Bump (or initialize) the table's `_graft_epoch` — the one call every
    * conforming writer makes after changing the table's data files. Returns
    * the new epoch.
    */
  def bumpTableEpoch(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): Long = {
    val (fs, root) = fsOf(spark, tablePath)
    val p = new org.apache.hadoop.fs.Path(root, TableEpochFile)
    val next = readLongFile(fs, p).getOrElse(0L) + 1L
    writeLongFile(fs, p, next)
    next
  }

  /** File-level ZONE MAP for a plain parquet table: one manifest row per
    * data file with min/max/count of the named columns — the planning-time
    * pruning statistic Delta/Iceberg keep in their metadata layers, for
    * tables that are just a directory. Parquet row-group stats already
    * prune WITHIN a file, but only after the scan has listed and
    * footer-read every file; at 100 TB (millions of files) that planning
    * pass dominates selective queries, and a [[prunedParquet]] read
    * consults this one small table instead. Written to `_graft_manifest`
    * under the table (underscore-prefixed ⇒ invisible to normal parquet
    * reads of the directory). One scan of the table builds it
    * (`input_file_name` groupBy — partial-aggregated, shuffle carries one
    * row per file); incremental writers keep it fresh with
    * [[manifestPatchDirs]] instead of rebuilding. The manifest is stamped
    * with the table's current epoch; [[prunedParquet]] fails loud on an
    * epoch mismatch rather than silently missing files.
    */
  def statsManifest(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      cols: Seq[String]): Unit =
    statsManifest(spark, tablePath, cols, Nil)

  /** [[statsManifest]] plus per-file BLOOM FILTERS on `bloomCols` — the
    * membership statistic min/max zones cannot provide. Zones prune RANGE
    * predicates on the clustering key; a point lookup by a key the layout
    * was NOT sorted on (the secondary-key problem: a user-clustered table
    * probed by event id) finds every file's [min, max] covering the probe
    * and scans the table. A per-file Bloom bitmap of the column's values
    * answers "could this file contain v?" for EQUALITY probes: false
    * positives cost one extra file read (the exact filter still applies),
    * false negatives cannot happen, so [[prunedParquetPoint]] reads the
    * handful of files whose bitmap claims the value — at 100 TB, a
    * needle-in-haystack lookup without maintaining a second sort order.
    *
    * Sizing: `bloomBits` per file; false-positive rate ≈
    * (1 − e^(−k·d/m))^k for d distinct values per file. The 64 KiB default
    * (2¹⁹ bits, k = 5) holds fp < 1% to ~50k distinct values per file —
    * size it ~10 bits per expected distinct value. The bitmaps ride IN the
    * manifest rows (`bloom_<col>` struct of (k, words)), so they inherit
    * the epoch staleness contract and [[manifestPatchDirs]] maintenance
    * for free.
    */
  def statsManifest(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      cols: Seq[String],
      bloomCols: Seq[String],
      bloomBits: Int = 1 << 19,
      bloomHashes: Int = 5): Unit = {
    require(cols.nonEmpty, "statsManifest needs at least one column")
    require(bloomBits >= 64 && bloomBits % 64 == 0,
      s"bloomBits must be a positive multiple of 64, got $bloomBits")
    require(bloomHashes >= 1, s"bloomHashes must be >= 1, got $bloomHashes")
    // Epoch is read (or initialized) BEFORE the table scan: a conforming
    // writer that lands between the scan and the stamp bumps past `e`, so
    // the manifest built from pre-write data stamps me < te and prunedParquet
    // fails loud instead of silently missing the write.
    val (fs, root) = fsOf(spark, tablePath)
    val epochP = new org.apache.hadoop.fs.Path(root, TableEpochFile)
    val e = readLongFile(fs, epochP).getOrElse { writeLongFile(fs, epochP, 1L); 1L }
    val df = spark.read.parquet(tablePath)
    fileStats(df, cols, bloomCols.map(c => (c, bloomBits, bloomHashes)))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tablePath/$ManifestDir")
    writeLongFile(fs,
      new org.apache.hadoop.fs.Path(s"$tablePath/$ManifestDir/$ManifestEpochFile"), e)
  }

  /** Per-file min/max/count rows for `df` — `file` is the full path
    * (`input_file_name`), `dir` its parent directory (the join key
    * incremental patches drop replaced partitions by).
    */
  private def fileStats(df: DataFrame, cols: Seq[String],
      blooms: Seq[(String, Int, Int)] = Nil): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      blooms.map { case (c, bits, k) =>
        udaf(new BloomAgg(bits / 64))
          .apply(bloomPositions(col(c), bits, k)).as(s"__bw_$c")
      } :+ count(lit(1)).as("n_rows")
    val base = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    blooms.foldLeft(base) { case (d, (c, _, k)) =>
      d.withColumn(s"bloom_$c", struct(lit(k).as("k"), col(s"__bw_$c").as("words")))
        .drop(s"__bw_$c")
    }.withColumn("dir", regexp_replace(col("file"), "/[^/]*$", ""))
  }

  /** The `bloomHashes` bit positions of a value in a `bits`-wide Bloom
    * bitmap: `xxhash64(v, i) mod bits` for i < k — the [[Joins]] hash
    * family. NULLs set no bits (SQL `=` is never true for NULL, so a
    * point probe never looks for one). Type-sensitive like every xxhash64
    * use: probe literals must match the column's type.
    */
  private def bloomPositions(c: Column, bits: Int, k: Int): Column =
    when(c.isNull, array().cast("array<int>"))
      .otherwise(array((0 until k).map(i =>
        pmod(xxhash64(c, lit(i)), lit(bits.toLong)).cast("int")): _*))

  /** OR-accumulating fixed-width bitmap — the per-file Bloom aggregation.
    * The buffer is `words` longs (`bits / 64`); map-side partial
    * aggregation ORs within a partition, so the shuffle carries one bitmap
    * per (file, partition), never per row.
    */
  private class BloomAgg(words: Int)
      extends Aggregator[Seq[Int], Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](words)
    def reduce(buf: Array[Long], positions: Seq[Int]): Array[Long] = {
      positions.foreach(p => buf(p >>> 6) |= 1L << (p & 63)); buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < words) { a(i) |= b(i); i += 1 }; a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Incrementally patch a table's zone-map manifest after a write that
    * touched ONLY the partition directories `relDirs` (paths relative to
    * the table root, e.g. `source=src0` or `band=1/bucket=3`): manifest
    * rows under those directories are dropped, stats are recomputed by
    * scanning ONLY those directories, and the new manifest swaps in via
    * rename. This is the maintenance path that keeps the manifest useful at
    * 100 TB — a trickle upsert that touches 3 of 10 000 partitions patches
    * 3 directories' rows instead of rescanning the table (the cost the
    * manifest exists to avoid). Always bumps the table epoch (writers call
    * this INSTEAD of [[bumpTableEpoch]] when a manifest may exist); a
    * missing manifest makes it just the epoch bump. A crash mid-swap leaves
    * `_graft_manifest.__patch_old` behind and the next patch fails loud.
    *
    * Partition directory names must be path-literal (no URI-special
    * characters) — the same constraint [[upsertPartitioned]] enforces on
    * its partition values.
    */
  def manifestPatchDirs(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      relDirs: Seq[String]): Unit = {
    require(relDirs.nonEmpty, "manifestPatchDirs needs at least one directory")
    require(relDirs.forall(d =>
        d.nonEmpty && !d.startsWith("/") && !d.endsWith("/") && !d.contains("..")),
      s"unsafe relative dirs (no leading/trailing slash, no ..): $relDirs")
    val (fs, _) = fsOf(spark, tablePath)
    import org.apache.hadoop.fs.Path
    val mdir = new Path(s"$tablePath/$ManifestDir")
    val mold = new Path(s"$tablePath/$ManifestDir.__patch_old")
    // The crash-guard runs BEFORE the missing-manifest early return: a crash
    // BETWEEN the two swap renames leaves exactly (mold present, mdir gone),
    // and that state must fail loud here, not read as "no manifest, bump
    // only".
    require(!fs.exists(mold),
      s"$mold exists — a previous manifest patch crashed mid-swap; inspect and " +
        "rename back (complete pre-patch manifest) or delete it, or re-run statsManifest")
    val e = bumpTableEpoch(spark, tablePath)
    if (!fs.exists(mdir)) return
    val manifest = readParquet(spark, mdir.toString)
    val cols = manifest.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
    require(cols.nonEmpty, s"manifest at $mdir has no min_/max_ columns")
    // Bloom family parameters ride in the manifest rows themselves
    // (bloom_<c> = struct(k, words)), so a patch rebuilds the patched
    // files' bitmaps with the SAME family — mismatched families would make
    // every point probe a false negative, the silent-miss failure mode.
    val bloomCols = manifest.columns.filter(_.startsWith("bloom_"))
      .map(_.stripPrefix("bloom_")).toSeq
    val blooms: Seq[(String, Int, Int)] =
      if (bloomCols.isEmpty) Nil
      else manifest.select(bloomCols.flatMap(c =>
          Seq(col(s"bloom_$c.k"), size(col(s"bloom_$c.words")))): _*)
        .head(1).headOption match {
          case Some(r) =>
            bloomCols.zipWithIndex.map { case (c, i) =>
              (c, r.getInt(2 * i + 1) * 64, r.getInt(2 * i)) }
          case None => throw new IllegalStateException(
            s"manifest at $mdir has bloom columns (${bloomCols.mkString(", ")}) " +
              "but no rows to recover the Bloom family from — re-run statsManifest")
        }
    // The rescan reads each relDir RECURSIVELY, so the drop must match
    // descendants too: with nested partitioning (relDir `band=1`, files in
    // `band=1/bucket=3/`) an immediate-parent-only match would keep the old
    // rows while the rescan adds new ones — duplicate file entries, and
    // prunedParquet reading those files twice.
    val dropCond = relDirs.map(d =>
      col("dir").endsWith(lit("/" + d)) || col("dir").contains(lit("/" + d + "/"))
    ).reduce(_ || _)
    val kept = manifest.filter(!dropCond)
    val present = relDirs.filter(d => fs.exists(new Path(s"$tablePath/$d")))
    val next =
      if (present.isEmpty) kept
      else {
        val data = spark.read.option("basePath", tablePath)
          .parquet(present.map(d => s"$tablePath/$d"): _*)
        kept.unionByName(fileStats(data, cols, blooms))
      }
    val tmp = new Path(s"$tablePath/$ManifestDir.__patch_tmp")
    next.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    writeLongFile(fs, new Path(tmp, ManifestEpochFile), e)
    require(fs.rename(mdir, mold), s"manifestPatchDirs: rename $mdir -> $mold failed")
    require(fs.rename(tmp, mdir),
      s"manifestPatchDirs: rename $tmp -> $mdir failed ($mold holds the pre-patch manifest)")
    fs.delete(mold, true): Unit
  }

  /** Offline manifest fsck — the full-listing audit that [[prunedParquet]]'s
    * fast epoch check deliberately does not pay per query. Verifies (a) the
    * manifest epoch matches the table epoch, and (b) the manifest's file set
    * equals the table's actual data files, with both sides normalized
    * through the same qualified-URI representation (`input_file_name`
    * URI-escapes paths; a raw string compare would spuriously fail on
    * spaces or `%`). Run it on a schedule, or whenever an out-of-band write
    * is suspected.
    */
  def verifyManifest(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsOf(spark, tablePath)
    def norm(s: String): String = {
      val p =
        try {
          val u = new java.net.URI(s)
          if (u.getScheme != null) new Path(u) else new Path(s)
        } catch { case _: java.net.URISyntaxException => new Path(s) }
      fs.makeQualified(p).toUri.toString
    }
    val te = readLongFile(fs, new Path(root, TableEpochFile))
    val me = readLongFile(fs, new Path(s"$tablePath/$ManifestDir/$ManifestEpochFile"))
    require(te.isDefined && me == te,
      s"manifest fsck failed for $tablePath: manifest epoch ${me.getOrElse("absent")} " +
        s"vs table epoch ${te.getOrElse("absent")}")
    val mfiles = readParquet(spark, s"$tablePath/$ManifestDir")
      .select("file").collect().map(r => norm(r.getString(0))).toSet
    def walk(p: Path): Seq[Path] = {
      fs.listStatus(p).flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isDirectory) walk(s.getPath)
        else if (n.endsWith(".parquet")) Seq(s.getPath)
        else Seq.empty
      }.toSeq
    }
    val actual = walk(root).map(p => norm(p.toUri.toString)).toSet
    require(actual == mfiles,
      s"manifest fsck failed for $tablePath: ${actual.size} data files on disk vs " +
        s"${mfiles.size} in the manifest (out-of-band write?) — re-run statsManifest")
  }

  /** Manifest-pruned read: rows of `tablePath` with `c` in `[lo, hi]`,
    * scanning ONLY the files whose `[min_c, max_c]` zone overlaps the
    * bound. The zone filter runs IN-PLAN on the manifest table and only the
    * surviving file paths are collected (driver routing state, like the IVF
    * probe list — bounded by the band's selectivity, not the table's file
    * count); the exact predicate is re-applied after the pruned scan, so
    * the result is identical to the full-scan filter. STALENESS fails loud
    * from two one-line epoch reads: the manifest's stamped epoch must equal
    * the table's `_graft_epoch` ([[bumpTableEpoch]] — every graft writer
    * bumps it, and manifest-maintaining writers re-stamp via
    * [[manifestPatchDirs]]), so a write since the manifest last reconciled
    * is an error, never silently missing rows — without the recursive
    * full listing the old check cost on every query (at a million files,
    * a per-query driver stall; [[verifyManifest]] keeps that audit
    * available offline). All-NULL-column files carry NULL zones and are
    * rightly skipped (NULL never satisfies the BETWEEN).
    */
  def prunedParquet(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      c: String,
      lo: Long,
      hi: Long): DataFrame =
    prunedParquetBounds(spark, tablePath, Seq(c -> (lo, hi)))

  /** Multi-column [[prunedParquet]]: rows satisfying EVERY `(c, (lo, hi))`
    * bound, scanning only files whose zones overlap ALL of them. This is
    * the read side of a multi-key layout ([[clusterByZ]]): a z-ordered
    * table bounds BOTH interleaved coordinates within every file, so
    * conjunctive bounds MULTIPLY their selectivities — a (key₁ band ∧ key₂
    * band) probe skips files either single-column check would keep, where
    * a one-key sort prunes on that key only and a second bound scans
    * everything. Same epoch staleness contract as [[prunedParquet]].
    */
  def prunedParquetBounds(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      bounds: Seq[(String, (Long, Long))]): DataFrame = {
    require(bounds.nonEmpty, "prunedParquetBounds needs at least one bound")
    requireFreshManifest(spark, tablePath)
    val zoneCond = bounds.map { case (c, (lo, hi)) =>
      col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
    }.reduce(_ && _)
    val keep = readParquet(spark, s"$tablePath/$ManifestDir")
      .filter(zoneCond)
      .select("file").collect().map(_.getString(0))
    val exact = bounds.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    readFileList(spark, tablePath, keep.toSeq).filter(exact)
  }

  /** The per-query staleness gate shared by every pruned read: manifest
    * epoch must equal table epoch or the read fails loud instead of
    * silently missing files.
    */
  private def requireFreshManifest(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsOf(spark, tablePath)
    val te = readLongFile(fs, new Path(root, TableEpochFile))
    val me = readLongFile(fs, new Path(s"$tablePath/$ManifestDir/$ManifestEpochFile"))
    require(te.isDefined && me.isDefined && me == te,
      s"stale manifest for $tablePath: manifest epoch ${me.getOrElse("absent")} vs " +
        s"table epoch ${te.getOrElse("absent")} — a write landed since the manifest " +
        "last reconciled (writers bump _graft_epoch and patch via manifestPatchDirs); " +
        "re-run statsManifest, or verifyManifest to audit")
  }

  /** The surviving files of a pruned read, with the table's footer schema
    * ([[readParquet]], read on the driver) instead of an inference job.
    */
  private def readFileList(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String, keep: Seq[String]): DataFrame = {
    val table = readParquet(spark, tablePath)
    if (keep.isEmpty) table.filter(lit(false))
    // basePath anchors partition discovery at the table root, so a
    // file-list read of a Hive-partitioned table keeps its partition
    // columns (a bare file read would silently drop them).
    else spark.read.schema(table.schema).option("basePath", tablePath).parquet(keep: _*)
  }

  /** EQUALITY point lookup through the manifest's Bloom bitmaps
    * ([[statsManifest]]'s `bloomCols`): reads only the files whose bitmap
    * claims the probe value — plus its min/max zone when the column is
    * also zone-mapped — then applies the exact `=` filter, so a Bloom
    * false positive costs one wasted file read and never a wrong row. The
    * probe's k bit positions come from a one-row local job (the same
    * bounded routing-state pattern as the IVF probe list); `value` must be
    * a literal of the COLUMN'S type — xxhash64 is type-sensitive, an INT
    * probe of a BIGINT column would silently miss every file.
    * Same epoch staleness contract as [[prunedParquet]].
    */
  def prunedParquetPoint(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      c: String,
      value: Column): DataFrame = {
    requireFreshManifest(spark, tablePath)
    val manifest = readParquet(spark, s"$tablePath/$ManifestDir")
    require(manifest.columns.contains(s"bloom_$c"),
      s"manifest for $tablePath has no Bloom filter on '$c' — re-run " +
        s"statsManifest with bloomCols including '$c'")
    manifest.select(col(s"bloom_$c.k"), size(col(s"bloom_$c.words")))
      .head(1).headOption match {
      case None => spark.read.parquet(tablePath).filter(lit(false))
      case Some(spec) =>
        val k = spec.getInt(0)
        val bits = spec.getInt(1) * 64
        val positions = spark.range(1)
          .select(bloomPositions(value, bits, k))
          .head().getSeq[Int](0)
        require(positions.nonEmpty,
          s"prunedParquetPoint probe value for '$c' is NULL — SQL equality " +
            "never matches NULL; use an IS NULL scan instead")
        val bitCond = positions.map(p =>
          element_at(col(s"bloom_$c.words"), p / 64 + 1)
            .bitwiseAND(lit(1L << (p & 63))) =!= lit(0L)).reduce(_ && _)
        val zoneCond =
          if (manifest.columns.contains(s"min_$c"))
            col(s"max_$c") >= value && col(s"min_$c") <= value
          else lit(true)
        val keep = manifest.filter(bitCond && zoneCond)
          .select("file").collect().map(_.getString(0))
        readFileList(spark, tablePath, keep.toSeq).filter(col(c) === value)
    }
  }

  /** Partition-scoped copy-on-write UPSERT into a parquet table partitioned
    * by `partitionCol` — plain parquet's answer to MERGE (the Delta/Hudi
    * COW discipline without a table format). Rows of `updates` replace
    * same-`keyCols` rows and new keys append; crucially, only the
    * partitions the batch TOUCHES are read, merged (left-anti + union),
    * and swapped — a daily trickle against a 100 TB table rewrites the
    * handful of partition directories it lands in, never the table. The
    * touched-partition list is collected to the driver (bounded by the
    * batch, routing state like the IVF probe list) and drives both the
    * pruned read (partition filter reaches the scan) and the per-directory
    * rename swap ([[compactInPlace]]'s discipline, one partition at a
    * time: a crash mid-swap leaves that partition's `.__upsert_old` beside
    * the table and the next call fails loud). A batch whose `partitionCol`
    * value is NEW creates that partition. `updates` must carry the table's
    * full schema; keys absent from the batch are untouched by construction.
    */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      updates: DataFrame,
      keyCols: Seq[String],
      partitionCol: String): Unit = {
    require(keyCols.nonEmpty, "upsertPartitioned needs at least one key column")
    require(!keyCols.contains(partitionCol),
      "partitionCol is implied by the layout; key it via row keys only if it " +
        "also identifies rows — listing it in keyCols hides cross-partition moves")
    import org.apache.hadoop.fs.Path
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Bounded routing state: one row per touched partition.
    val touched = updates.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(touched.forall(v => v != null && !v.contains("/") && !v.contains("..")),
      s"unsafe partition values in batch: $touched")
    val olds = touched.map(v => new Path(s"$tablePath/$partitionCol=$v.__upsert_old"))
    olds.filter(fs.exists).foreach { o =>
      throw new IllegalArgumentException(
        s"$o exists — a previous upsert crashed mid-swap; inspect and rename " +
          "back (complete pre-upsert partition) or delete it")
    }
    val existing = touched.filter(v => fs.exists(new Path(s"$tablePath/$partitionCol=$v")))
    val tmp = new Path(tablePath + ".__upsert_tmp")
    val base = spark.read.parquet(tablePath)
      .filter(col(partitionCol).isin(touched: _*))
    base.join(updates, keyCols, "left_anti")
      .unionByName(updates)
      .write.mode("overwrite").partitionBy(partitionCol).parquet(tmp.toString)
    // Epoch protocol: bump BEFORE the swap so a concurrent prunedParquet
    // inside the swap window fails loud (manifest epoch < table epoch)
    // instead of silently reading a half-swapped table; the manifest patch
    // after the swap bumps again and stamps the manifest current.
    bumpTableEpoch(spark, tablePath)
    touched.foreach { v =>
      val cur = new Path(s"$tablePath/$partitionCol=$v")
      val from = new Path(s"$tmp/$partitionCol=$v")
      val old = new Path(s"$tablePath/$partitionCol=$v.__upsert_old")
      if (existing.contains(v))
        require(fs.rename(cur, old), s"upsertPartitioned: rename $cur -> $old failed")
      require(fs.rename(from, cur),
        s"upsertPartitioned: rename $from -> $cur failed" +
          (if (existing.contains(v)) s" ($old holds the pre-upsert partition)" else ""))
      if (existing.contains(v)) fs.delete(old, true): Unit
    }
    fs.delete(tmp, true): Unit
    // Re-stamp the zone-map manifest for exactly the partitions swapped (a
    // missing manifest makes this just the epoch bump) — prunedParquet stays
    // usable across upserts without a full statsManifest rebuild.
    manifestPatchDirs(spark, tablePath, touched.map(v => s"$partitionCol=$v"))
  }

  /** Compact a parquet table IN PLACE: rewrite every `partitionCols`
    * partition directory's accumulated small files into one file per
    * directory (the append-mode lifecycle — [[graft.ops.Similarity.ivfAppend]]
    * — adds a file per batch per partition; a daily-ingest index is
    * thousands of files per partition within a quarter, and open-file
    * overhead starts dominating the probes the layout exists to
    * accelerate). Content is unchanged — only the file layout — except that
    * the rows of `fold`, when given, are rewritten into the table too (an
    * append delta kept beside it, [[graft.ops.Dedup.minhashIndexAppend]]);
    * `fold` must carry the table's columns by name, and the caller deletes
    * its source after this returns.
    *
    * The rewrite stages to `<path>.__compact_tmp` (reading the live table
    * while overwriting it in place is not defined in Spark), then swaps
    * via two FileSystem renames. The swap window is not transactional:
    * concurrent probes can hit a vanished directory for the instant
    * between renames, and a crash between them leaves
    * `<path>.__compact_old` behind (the complete pre-compact table —
    * rename it back to recover). Run compaction from the single writer
    * that owns the index, the same owner appends already require.
    *
    * `partitionCols` empty = unpartitioned table → `numFiles` output
    * files.
    */
  def compactInPlace(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      partitionCols: Seq[String],
      numFiles: Int = 1,
      fold: Option[DataFrame] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(tablePath + ".__compact_tmp")
    val old = new Path(tablePath + ".__compact_old")
    require(!fs.exists(old),
      s"$old exists — a previous compaction crashed mid-swap; " +
        "inspect and rename it back (complete pre-compact table) or delete it")
    // The root swap takes `_graft_epoch`/`_graft_manifest` with it (they
    // live inside the table dir): capture what to restore. During the swap
    // window readers see an ABSENT epoch — fail loud, never silent.
    val prevEpoch = readLongFile(fs, new Path(table, TableEpochFile))
    val manifestP = new Path(table, ManifestDir)
    val manifestCols: Seq[String] =
      if (fs.exists(manifestP))
        readParquet(spark, manifestP.toString).columns
          .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
      else Seq.empty
    val live = readParquet(spark, tablePath)
    val df = fold.map(live.unionByName(_)).getOrElse(live)
    val rewrite =
      if (partitionCols.nonEmpty)
        // Hash-repartition on the partition keys: every directory's rows
        // converge to one task → one file per directory.
        df.repartition(partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*)
      else df.repartition(numFiles).write
    rewrite.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(table, old), s"compactInPlace: rename $table -> $old failed")
    require(fs.rename(tmp, table), s"compactInPlace: rename $tmp -> $table failed " +
      s"($old holds the pre-compact table)")
    fs.delete(old, true): Unit
    // Epoch protocol: compaction mutated the file set — restore the epoch
    // BUMPED and rebuild the zone-map manifest the old root carried (stats
    // are per-file, so the pre-compact manifest could never describe the
    // rewritten files).
    prevEpoch.foreach(e => writeLongFile(fs, new Path(table, TableEpochFile), e + 1L))
    if (manifestCols.nonEmpty) statsManifest(spark, tablePath, manifestCols)
  }
}
