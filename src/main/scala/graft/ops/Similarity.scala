package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.NarrowSyntax

/** Similarity search over an embedding column (`array<float>`).
  *
  * All scoring is pure column expressions: elements cast to double, dot
  * product as a sequential `aggregate` fold over `zip_with` — deterministic
  * order of additions, so the DuckDB oracle (same fold over the same floats)
  * reproduces scores bit-for-bit.
  *
  * Scale ladder:
  *  1. [[topK]] — brute force against a broadcast query vector: one narrow
  *     scan, no shuffle. Correct baseline; linear in corpus size.
  *  2. [[pairsAbove]] — all-pairs via a block-grid matmul; quadratic compute,
  *     only for bounded corpora (candidate labeling, eval sets).
  *  3. [[ivfTopK]] — IVF: partition vectors by nearest centroid once, then
  *     probe only `nprobe` inverted lists per query. The 100 TB shape: the
  *     centroid assignment is a broadcast join + argmax, the probe prunes the
  *     scan to nprobe/k of the data.
  */
object Similarity {

  /** Dot product accumulated in double — the codegen'd
    * [[org.apache.spark.sql.graftfns.DotProduct]] kernel (the HOF formulation
    * `aggregate(zip_with(...))` is interpreted per element and was the
    * all-pairs bottleneck; same sequential fold, same values).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftfns.VectorFunctions.dot(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Top-k by cosine against the vector of `queryId`, excluding itself.
    * The single query row is broadcast — no shuffle of the corpus side; the
    * top-k is a `TakeOrderedAndProject` (per-partition heaps + driver merge),
    * not a global sort.
    */
  def topK(
      df: DataFrame,
      queryId: Long,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = df.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    df.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(df.columns.filter(_ != vecCol).map(col) :+
        round(cosine(col(vecCol), col("__q")), 4).as("cosine"): _*)
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All pairs (a < b) with cosine ≥ threshold. Quadratic — the exact
    * verifier / eval-set path, not the scale path (that's [[ivfTopK]] or the
    * random-hyperplane LSH in [[Dedup.simhashPairs]] applied to sign bits).
    *
    * Executed as a block-grid matmul (see [[pairsKernel]]): no driver-side
    * collect, no corpus broadcast — per-task memory is two id-blocks of
    * vectors and total communication is O(N·√tasks), the textbook
    * distributed all-pairs bound. Same pairs, same left-to-right
    * accumulation and HALF_UP rounding as the declarative
    * [[pairsAboveExpr]] — but without materializing N²/2 join rows that each
    * copy two vectors (the nested-loop join spent ~25× the FLOP cost on row
    * copying).
    */
  def pairsAbove(
      df: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      blocks: Int = 16): DataFrame =
    Ordered.smallResult(pairsKernel(df, threshold, idCol, vecCol, blocks), "v1", "v2")

  /** The unordered kernel behind [[pairsAbove]] — compose further plan stages
    * on this (e.g. [[Dedup.embeddingNearDups]]'s representative pick) so the
    * expensive pair scan isn't re-executed by a downstream global sort's
    * range-boundary sampling pass.
    *
    * Shape: block-partitioned all-pairs. Vectors land in `blocks` id-keyed
    * blocks (`id mod blocks` — uniform for dense ids; pre-hash sparse id
    * spaces); each unordered block pair (i ≤ j) is one grid cell, and every
    * vector is shuffled once per cell it participates in (`blocks` copies).
    * One `groupByKey(cell)` shuffle later, each task scores its cell's two
    * blocks in a tight primitive-array loop. Per-task memory is 2N/`blocks`
    * vectors — no driver collect, no whole-corpus broadcast, no cartesian
    * join; `blocks` trades shuffle volume (O(N·blocks)) against task memory
    * and grid parallelism (blocks²/2 cells).
    */
  private[ops] def pairsKernel(
      df: DataFrame,
      threshold: Double,
      idCol: String,
      vecCol: String,
      blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Rounding to 4 digits moves a cosine by < 5e-5, so anything below
    // threshold − 1e-4 can be rejected on the raw double — the exact
    // (BigDecimal) rounding then runs only on the ~0.1% of pairs near or
    // above the cut, not all N²/2.
    require(blocks >= 1 && blocks <= 46000, // blocks² must stay inside Int cell ids
      s"blocks must be in [1, 46000], got $blocks")
    val rawCut = threshold - 1e-4
    val nBlocks = blocks
    val typed = df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    // Replicate each vector into every grid cell (min(b,x), max(b,x)) its
    // block b shares with partner block x — cell (i,i) holds block i once.
    val celled = typed.flatMap { case (id, v) =>
      val b = (((id % nBlocks) + nBlocks) % nBlocks).toInt
      (0 until nBlocks).iterator.map { x =>
        val cell = if (x < b) x * nBlocks + b else b * nBlocks + x
        (cell, id, v)
      }
    }
    celled
      .groupByKey(_._1)
      .flatMapGroups { (cell: Int, it: Iterator[(Int, Long, Array[Double])]) =>
        val bi = cell / nBlocks
        val bj = cell % nBlocks
        val all = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        val nrm = all.map(p => math.sqrt(blasDot(p._2, p._2)))
        def score(i: Int, j: Int): Option[(Long, Long, Double)] = {
          // Duplicate-id rows must not self-pair — the declarative twin
          // joins on a.id < b.id (strict), and downstream consumers
          // (embeddingNearDups) rely on v1 < v2.
          if (all(i)._1 == all(j)._1) None
          else {
            val raw = blasDot(all(i)._2, all(j)._2) / (nrm(i) * nrm(j))
            // A zero-norm vector (failed encode, padding row) makes raw NaN;
            // drop the pair like the declarative twin's filter does — NaN
            // would crash BigDecimal in roundHalfUp4 otherwise.
            if (java.lang.Double.isNaN(raw) || raw < rawCut) None
            else {
              val c = roundHalfUp4(raw)
              // ids are sorted ascending, so (i, j) with i < j is (smaller
              // id, larger id) — each unordered pair owned by exactly one
              // cell.
              if (c >= threshold) Some((all(i)._1, all(j)._1, c)) else None
            }
          }
        }
        if (bi == bj) {
          // Diagonal cell: all pairs within one block.
          all.indices.iterator.flatMap(i =>
            (i + 1 until all.length).iterator.flatMap(j => score(i, j)))
        } else {
          // Off-diagonal: pairs across the two (id-disjoint) blocks only —
          // within-block pairs belong to the diagonal cells.
          def blk(id: Long) = (((id % nBlocks) + nBlocks) % nBlocks).toInt
          all.indices.iterator.flatMap(i =>
            (i + 1 until all.length).iterator
              .filter(j => blk(all(i)._1) != blk(all(j)._1))
              .flatMap(j => score(i, j)))
        }
      }
      .toDF("v1", "v2", "cosine")
  }

  /** Declarative formulation of [[pairsAbove]] (self nested-loop join over
    * the codegen'd dot kernel). Identical output; kept as the
    * plan-transparent reference implementation and for composition inside
    * larger Catalyst plans.
    */
  def pairsAboveExpr(
      df: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Norms precomputed once per vector before the self-join — recomputing
    // them per pair triples the inner-loop work for the same values.
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // Zero-norm vectors (failed encode, padding) have no defined cosine:
    // drop their pairs explicitly — under ANSI mode the bare division would
    // THROW on the zero divisor, and the block kernel drops the same pairs.
    Ordered.smallResult(
      v.as("a").join(v.as("b"),
          col("a.id") < col("b.id") && col("a.nrm") > 0 && col("b.nrm") > 0)
        .select(col("a.id").as("v1"), col("b.id").as("v2"),
          round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4).as("cosine"))
        .filter(col("cosine") >= threshold),
      "v1", "v2")
  }

  /** Sequential left-to-right dot product — the same accumulation order as
    * the codegen'd [[org.apache.spark.sql.graftfns.DotProduct]] and the oracle's fold, so
    * all three produce bit-identical doubles.
    */
  private def blasDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark's `round(x, 4)`: BigDecimal HALF_UP. */
  private def roundHalfUp4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** IVF top-k: centroids = per-`labelCol` mean vectors (deterministic, no
    * random init); every vector is assigned to its nearest centroid (broadcast
    * argmax); a query probes the `nprobe` nearest inverted lists only.
    * Approximate: recall < 1 when the true neighbor lives in an unprobed list.
    */
  def ivfTopK(
      df: DataFrame,
      queryId: Long,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    ivfWith(df, centroidsOf(df, vecCol, labelCol), queryId, k, nprobe,
      idCol, vecCol, Seq(labelCol))

  /** [[ivfTopK]] for a corpus WITHOUT labels: centroids come from
    * [[centroidsKMeans]] (seed-deterministic Lloyd iterations) instead of
    * per-label means — the self-sufficient ANN path. Output has no label
    * column and the plan never reads one.
    */
  def ivfTopKUnlabeled(
      df: DataFrame,
      queryId: Long,
      k: Int,
      nprobe: Int,
      nCentroids: Int,
      rounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfWith(df, centroidsKMeans(df, nCentroids, rounds, idCol, vecCol),
      queryId, k, nprobe, idCol, vecCol, Nil)

  /** Shared IVF probe/score body over an arbitrary centroid set. */
  private def ivfWith(
      df: DataFrame,
      centroids: DataFrame,
      queryId: Long,
      k: Int,
      nprobe: Int,
      idCol: String,
      vecCol: String,
      extraCols: Seq[String]): DataFrame = {
    // k rows, two consumers (assignment broadcast + probe list) whose
    // subtrees differ — un-materialized, the centroid derivation (a full
    // corpus aggregate for the label-mean path) executed once PER consumer
    // (optimization r21; one pass at any scale now).
    val cents = centroids.narrowCheckpoint()
    val assigned = assignedOf(df, cents, idCol, vecCol, extraCols)
    // The query VECTOR comes straight off the base table — routing it through
    // `assigned` would re-execute the whole assignment scan once per consumer
    // (it feeds both the probe list and the final score pass).
    val q = df.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    // Probe list: the nprobe clusters nearest to the query vector.
    val probes = cents.crossJoin(broadcast(q))
      .select(col("cl"), cosine(col("cvec"), col("__q")).as("cs"))
      .orderBy(col("cs").desc, col("cl"))
      .limit(nprobe)
      .select(col("cl").as("cluster"))
    assigned
      .join(broadcast(probes), "cluster")
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select((col(idCol) +: extraCols.map(col)) ++ Seq(col("cluster"),
        round(cosine(col(vecCol), col("__q")), 4).as("cosine")): _*)
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batch IVF: top-k per query over a SET of query vectors in ONE plan —
    * the realistic ANN workload (nothing loops over queries; the corpus is
    * scanned and assigned once). Per-query probe lists and per-query top-k
    * are window ranks partitioned by query id; queries and probe lists are
    * broadcast (a query batch is small next to the corpus — chunk giant
    * batches and union).
    */
  def ivfTopKBatch(
      df: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialized: the label-mean aggregate is a corpus pass consumed by
    // both the assignment broadcast and the probe list (ivfWith note).
    val centroids = centroidsOf(df, vecCol, labelCol).narrowCheckpoint()
    val assigned = assignedOf(df, centroids, idCol, vecCol, Seq(labelCol))
    // Materialize the (tiny) query set once: it feeds both the probe list
    // and the score join, and each un-checkpointed use would re-scan the
    // corpus for a handful of rows.
    val queries = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .narrowCheckpoint()
    val probes = broadcast(queries).crossJoin(broadcast(centroids))
      .select(col("qid"), col("cl"), cosine(col("cvec"), col("qv")).as("cs"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cl"))))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("cl").as("cluster"))
    val scored = assigned
      .join(broadcast(probes), "cluster")
      .join(broadcast(queries), "qid")
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), col(labelCol), col("cluster"),
        round(cosine(col(vecCol), col("qv")), 4).as("cosine"))
    // Per-query top-k via the salted two-phase rank; the result is
    // |queries|·k rows — report-sized, single-partition sort.
    perQidTopK(scored, k, idCol)
      .repartition(1)
      .sortWithinPartitions(col("qid"), col("cosine").desc, col(idCol))
  }

  /** EXACT per-qid top-k without a corpus-sized window partition. A single
    * `Window.partitionBy(qid)` funnels the whole scored corpus into
    * |queries| partitions — with a small query batch that is a handful of
    * straggler tasks at 100 TB. Phase 1 ranks within `(qid, salt = id mod
    * S)` — S·|queries| bounded partitions — keeping k per salt; phase 2
    * ranks the surviving ≤ S·k rows per qid. Every global top-k row wins
    * its own salt group, so two-phase equals the single-window form
    * row-for-row (same (cosine desc, id) order) while the widest shuffle
    * partition shrinks by S.
    */
  private def perQidTopK(
      scored: DataFrame,
      k: Int,
      idCol: String,
      salts: Int = 32): DataFrame =
    perQidTopKBy(scored, k, idCol, col("cosine").desc, salts)

  /** The same two-phase rank under an arbitrary score ordering (`order`
    * carries its own direction — cosine desc for similarity, distance asc
    * for the ADC paths); ties always break on `idCol`. */
  private def perQidTopKBy(
      scored: DataFrame,
      k: Int,
      idCol: String,
      order: Column,
      salts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("__salt", pmod(col(idCol).cast("long"), lit(salts.toLong)))
      .withColumn("__prn", row_number().over(
        Window.partitionBy(col("qid"), col("__salt"))
          .orderBy(order, col(idCol))))
      .filter(col("__prn") <= k)
      .drop("__prn", "__salt")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(order, col(idCol))))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Recall@k audit for the IVF approximation: per query, the exact
    * brute-force top-k (the [[topK]] scoring rule — rounded cosine, id
    * tie-break) joined against [[ivfTopKBatch]]'s answer, reduced to
    * `n_hit` / `recall_at_k`. This turns the approximation CONTRACT into a
    * measured, gateable number instead of prose: nprobe/k trade recall for
    * scan fraction, and a regression in assignment, probe selection, or
    * scoring moves the recall number and turns the gate red. One plan —
    * the corpus is scanned and scored once; both top-k's are window ranks
    * over that one `scored` frame. The persisted-index probe
    * ([[ivfProbePersisted]]) computes the identical approximation as the
    * in-plan path (shared oracle elsewhere), so its recall is this same
    * number.
    */
  def ivfRecallBatch(
      df: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    ivfRecallWith(df, centroidsOf(df, vecCol, labelCol), queryIds, k, nprobe,
      idCol, vecCol)

  /** [[ivfRecallBatch]] against an ARBITRARY centroid set — the form that
    * measures STALENESS: pass the centroids a persisted index was built
    * with and the corpus as it stands after appends, and the recall number
    * is the drift signal that tells an operator when to re-cluster
    * ([[ivfRecallDrift]] packages the fresh-vs-stale comparison).
    */
  def ivfRecallWith(
      df: DataFrame,
      centroids: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialized: two consumers of a possibly corpus-aggregate centroid
    // derivation (ivfWith note).
    val cents = centroids.narrowCheckpoint()
    val assigned = assignedOf(df, cents, idCol, vecCol, Nil)
    val queries = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .narrowCheckpoint()
    val probes = broadcast(queries).crossJoin(broadcast(cents))
      .select(col("qid"), col("cl"), cosine(col("cvec"), col("qv")).as("cs"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cl"))))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("cl").as("cluster"))
    // One scored frame feeds BOTH rankings: exact ranks over all rows, IVF
    // ranks only over rows whose cluster is probed for that query.
    // Materialized (optimization r21): the two rankings are different
    // subtrees (no exchange reuse), so without the cut each re-executed
    // the corpus scan + assignment + cosine fold — at 100 TB, two full
    // scoring passes for one. The frame is narrow: (qid, id, cluster,
    // cosine), |corpus| × |queries| rows.
    val scored = assigned
      .crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), col("cluster"),
        round(cosine(col(vecCol), col("qv")), 4).as("cosine"))
      .narrowCheckpointIfSmall() // |corpus|×|queries| rows — size-gated (r22)
    val exact = perQidTopK(scored, k, idCol)
      .select(col("qid"), col(idCol))
    val ivf = perQidTopK(scored.join(broadcast(probes), Seq("qid", "cluster")), k, idCol)
      .select(col("qid"), col(idCol), lit(1).as("__hit"))
    exact.join(ivf, Seq("qid", idCol), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("qid").as("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit") / lit(k.toDouble), 4).as("recall_at_k"))
      .transform(r => Ordered.smallResult(r, "query_id"))
  }

  /** Recall-after-append DRIFT audit: the same corpus scored ONCE, ranked
    * against FRESH centroids (re-derived from the corpus as it stands,
    * `labelCol` means) and against the STALE set passed in (what a
    * persisted index was built with, before the appends). One row per
    * query with both numbers side by side: `recall_stale` is the
    * operational staleness signal ([[ivfAppend]] freezes centroids by
    * design, so drift accumulates until this number says re-cluster), and
    * `recall_fresh` is the ceiling re-clustering would restore.
    *
    * Score once, rank thrice (optimization r21): `cosine(v, q)` is
    * centroid-INDEPENDENT, so the corpus × queries scoring pass and the
    * exact top-k are SHARED between the sides — the previous composition
    * (two [[ivfRecallWith]] calls) embedded the scoring subtree four times
    * in one plan (each side's exact and IVF rankings re-executed the scan
    * + cosine fold; no exchange reuse, the subtrees differ). Both cluster
    * labels ride the one scored frame from one stacked assignment pass;
    * only the k-row probe lists and the probe-filtered rankings differ per
    * side. At 100 TB this is one corpus scan + one scoring fold instead of
    * four, and one exact ranking instead of two; the scored frame is
    * narrow — (qid, id, two cluster ids, cosine) — and is materialized so
    * the three rankings read blocks instead of replaying lineage. Same
    * rounding, same tie rules, bit-identical output (the shared DuckDB
    * oracle pins it).
    */
  def ivfRecallDrift(
      df: DataFrame,
      staleCentroids: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k-row frames, each consumed twice (probe list + assignment
    // broadcast): materialize so the label-mean aggregate (a corpus pass)
    // and the caller's stale derivation run once, not twice.
    val freshCents = centroidsOf(df, vecCol, labelCol).narrowCheckpoint()
    val staleCents = staleCentroids.narrowCheckpoint()
    val assigned = assignedOf(
      assignedOf(df, freshCents, idCol, vecCol, Nil)
        .withColumnRenamed("cluster", "__cl_fresh"),
      staleCents, idCol, vecCol, Seq("__cl_fresh"))
      .withColumnRenamed("cluster", "__cl_stale")
    val queries = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .narrowCheckpoint()
    // Per-side probe lists — [[ivfRecallWith]]'s rule verbatim: top-nprobe
    // clusters by (query cosine desc, cluster id) over the k-row centroid
    // table. Tiny windows over broadcasts; no materialization needed.
    def probesOf(cents: DataFrame, clCol: String): DataFrame =
      broadcast(queries).crossJoin(broadcast(cents))
        .select(col("qid"), col("cl"), cosine(col("cvec"), col("qv")).as("cs"))
        .withColumn("pr", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cl"))))
        .filter(col("pr") <= nprobe)
        .select(col("qid"), col("cl").as(clCol))
    val scored = assigned
      .crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), col("__cl_fresh"), col("__cl_stale"),
        round(cosine(col(vecCol), col("qv")), 4).as("cosine"))
      .narrowCheckpointIfSmall() // |corpus|×|queries| rows — size-gated (r22)
    val exact = perQidTopK(scored, k, idCol)
      .select(col("qid"), col(idCol))
      .narrowCheckpoint() // report-sized; joined against twice below
    def side(clCol: String, cents: DataFrame): DataFrame = {
      val ivf = perQidTopK(
        scored.join(broadcast(probesOf(cents, clCol)), Seq("qid", clCol)),
        k, idCol)
        .select(col("qid"), col(idCol), lit(1).as("__hit"))
      exact.join(ivf, Seq("qid", idCol), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
    }
    val fresh = side("__cl_fresh", freshCents)
      .select(col("qid").as("query_id"), col("n_exact"),
        col("n_hit").as("n_hit_fresh"),
        round(col("n_hit") / lit(k.toDouble), 4).as("recall_fresh"))
    val stale = side("__cl_stale", staleCents)
      .select(col("qid").as("query_id"),
        col("n_hit").as("n_hit_stale"),
        round(col("n_hit") / lit(k.toDouble), 4).as("recall_stale"))
    // Report-shape sort: a bare orderBy's range-sampling pass would run
    // BOTH recall rankings a second time (Ordered.smallResult note).
    Ordered.smallResult(fresh.join(stale, Seq("query_id")), "query_id")
  }

  /** Per-`labelCol` mean centroids, public for index-lifecycle callers
    * that need "the centroids as of a past corpus snapshot" (the stale
    * side of [[ivfRecallDrift]]); [[ivfBuild]] persists this same table.
    */
  def labelCentroids(
      df: DataFrame,
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    centroidsOf(df, vecCol, labelCol)

  /** Symmetric per-vector int8 quantization: `scale = max|xᵢ| / 127`,
    * `qᵢ = round(xᵢ / scale) ∈ [−127, 127]` — 4× smaller vectors, the
    * shuffle/IO lever for embedding pipelines at 100 TB (persist `qvec` +
    * `qscale`; score on the dequantized `qᵢ·scale`). A zero vector
    * quantizes to zeros. One narrow projection — no shuffle; scale-0
    * rounding is engine-stable (0.5 is exactly representable, so
    * HALF_UP/away-from-zero agree), which keeps the op oracle-able.
    */
  def quantizeInt8(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("qscale", array_max(transform(col("__v"), x => abs(x))) / lit(127.0))
      .withColumn("qvec",
        transform(col("__v"), x =>
          when(col("qscale") === 0.0, lit(0).cast("tinyint"))
            .otherwise(round(x / col("qscale")).cast("tinyint"))))
      .select(col(idCol), col("qvec"), col("qscale"))

  /** Per-group elementwise mean vector — embedding POOLING (chunk→document
    * rollup, per-class prototypes, custom [[ivfTopKCustom]] routing tables).
    * Same shuffle shape as the private [[centroidsOf]] (explode positions →
    * partial-aggregated (group, pos) mean) but with EXACT decimal sums:
    * double partial-merge order varies across shuffle layouts, and the
    * last-ulp wobble would break an oracle compare (the
    * [[graft.streaming.StreamOps.tumblingStats]] determinism trick; (30,10)
    * for the same bias/overflow bounds documented there). Output:
    * `(byCol, mvec: array<double>)`.
    */
  def meanVectors(
      df: DataFrame,
      byCol: String,
      vecCol: String = "embedding"): DataFrame =
    df.select(col(byCol).as("__g"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("__g"), col("pos"))
      // round(x, 10) BEFORE the decimal cast: a raw double can land exactly
      // on the decimal grid's .5 tie, where Spark (HALF_UP) and other
      // engines (HALF_EVEN) quantize differently; the pre-rounded double
      // sits ~1e-18 from a grid point, so every tie policy agrees.
      .agg((sum(round(col("x"), 10).cast("decimal(30,10)")).cast("double") /
        count(col("x")).cast("double")).as("m"))
      .groupBy(col("__g"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col("__g").as(byCol), transform(col("ps"), p => p.getField("m")).as("mvec"))

  /** Centroids = per-`labelCol` elementwise mean vectors (deterministic, no
    * random init) — aggregate on exploded positions keeps it a plain
    * shuffle-by-(label, pos) partial aggregate.
    */
  private def centroidsOf(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    meansBy(df.select(col(labelCol).as("cl"), col(vecCol).as("__v")))

  /** Elementwise mean vector per `cl` over rows `(cl, __v)`. */
  private def meansBy(rows: DataFrame): DataFrame =
    rows.select(col("cl"), posexplode(col("__v")).as(Seq("pos", "x")))
      .groupBy(col("cl"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col("cl"), transform(col("ps"), p => p.getField("m")).as("cvec"))

  /** Seed-deterministic k-means centroids for an UNLABELED corpus.
    *
    * Round 0 seeds = the `k` corpus vectors with the smallest Knuth
    * multiplicative hash of their id (`(id·2654435761) mod 2³²` — a
    * pseudo-random spread that is one ANSI expression, so the DuckDB oracle
    * re-derives it verbatim); then `rounds` FIXED Lloyd iterations under
    * cosine similarity: assign every vector to its argmax-cosine centroid
    * (broadcast fold, no join explosion), recompute centroids as elementwise
    * means. A cluster that captures no vectors vanishes — identically on
    * both sides. Cluster ids are the seed vector ids throughout.
    *
    * Fixing `rounds` (vs iterate-to-convergence) keeps the whole init a
    * finite expression chain: oracle-able, and at 100 TB each round is one
    * broadcast-argmax corpus pass + one (cluster, pos) partial aggregate.
    * The plan nests one level per round — production use at large `rounds`
    * wants a `localCheckpoint` of the (k-row) centroid frame per round; at
    * the fixed small `rounds` used here the pure plan is the point (zero
    * driver jobs at construction). A k-means|| oversampling init would slot
    * in behind the same interface for corpora where hash seeding lands all
    * seeds in one region.
    */
  /** The balanced cluster-count schedule for the cluster-scoped pair
    * families ([[knnEdges]], [[graft.ops.Dedup.semanticDedup]]):
    * `k = max(4, ceil(sqrt(n / 31)))`. Cluster-equality candidate work is
    * Σ|cluster|² ≈ n²/k while assignment costs n·k, so k ∝ √n equalizes
    * the two stages at n^1.5 — fixed k inherits n²/k quadratic growth
    * (measured r16: 10× data at fixed k=8 cost 16–26×; this schedule's
    * k=26 at the same 10× restored the 2.9–3.9× family band, see
    * BASELINE.md). The divisor 31 pins the schedule to those measured
    * points (k=9 at the 2 000-vector sf0.1 corpus, k=26 at 20 000). Every
    * term is an exactly-specified IEEE double op, so the DuckDB oracle
    * re-derives the same k from the same count.
    */
  def autoClusters(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n / 31.0)).toInt)

  /** [[autoClusters]] resolution for an optional caller override: `None`
    * ⇒ the schedule from one corpus count (the only driver job this
    * costs); `Some(k)` keeps the caller's fixed k as an explicit,
    * scale-owned choice.
    */
  def resolveClusters(df: DataFrame, nClusters: Option[Int]): Int =
    nClusters.getOrElse(autoClusters(df.count()))

  def centroidsKMeans(
      df: DataFrame,
      k: Int,
      rounds: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // Content-keyed per-JVM cache like the other trained quantizer state
    // (training is deterministic: hash-ordered seeds, id tie-breaks) — the
    // fingerprint costs one agg scan, a hit skips the seed pass plus
    // `rounds` assignment/means passes.
    val canon = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    // Miss branch materializes the training frame once: the seed pass plus
    // `rounds` assignment/means passes otherwise each replay the source
    // scan (optimization r21 — cold-path only; a hit never touches it).
    // Cache-stored value is PINNED (releaseTransients must not drop it);
    // the training-input cut stays a transient.
    quantizerCache.computeIfAbsent(s"km:${corpusKey(canon)}:$k:$rounds",
      _ => Seq(kMeansTrain(canon.narrowCheckpointIfSmall(), k, rounds, "vid", "v")
        .pinnedCheckpoint()))
      .head
  }

  /** The raw Lloyd trainer behind [[centroidsKMeans]] (uncached). */
  private def kMeansTrain(
      df: DataFrame,
      k: Int,
      rounds: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    var cents = df
      .select(
        col(idCol).cast("long").as("cl"),
        col(vecCol).cast("array<double>").as("cvec"),
        Sampling.idHash(col(idCol)).as("__h"))
      .orderBy(col("__h"), col("cl"))
      .limit(k)
      .select(col("cl"), col("cvec"))
    for (_ <- 0 until rounds)
      cents = meansBy(
        assignedOf(df, cents, idCol, vecCol, Nil)
          .select(col("cluster").cast("long").as("cl"), col(vecCol).as("__v")))
    cents
  }

  /** k-means|| oversampling init (Bahmani et al., VLDB 2012) — the
    * [[centroidsKMeans]] alternative for corpora where Knuth-hash seeding
    * lands all `k` seeds in one region (hash order is data-blind; duplicate-
    * direction seeds make Lloyd collapse clusters, since a centroid that
    * captures no vectors vanishes). Seeds are spread BY THE DATA instead:
    * starting from the single min-hash vector, each of `initRounds` rounds
    * samples every vector with probability `min(1, ℓ·d²/φ)` where
    * `d = 1 − cos(v, nearest candidate)`, `φ = Σ d²` and `ℓ = oversample·k`
    * — far points are near-certain picks, so every distinct region seeds.
    *
    * Determinism without `rand()`: the per-round coin is the same Knuth hash
    * as [[Sampling.idHash]] re-mixed with the round number — membership is
    * stable across runs, retries and partitionings (the [[Sampling]]
    * contract). Each round runs the d² fold TWICE over the corpus (once
    * under the 1-row φ aggregate, once under the sample filter — the filter
    * needs the global φ, and the only single-fold alternative is
    * materializing the corpus-sized scored relation, which costs more than
    * the second fold at scale; classical k-means‖ is the same two passes
    * per round). The candidate frame is `localCheckpoint`ed per round
    * because round r's lineage would otherwise replay rounds 1..r−1's
    * corpus scans.
    *
    * The final cut from ~`ℓ·initRounds` weighted candidates down to `k` runs
    * on the driver (greedy weighted farthest-first: start at the max-weight
    * candidate, then repeatedly take the candidate maximizing
    * `weight · d²(c, chosen)`, ties to the smaller id) — the candidate set
    * is k·oversample·rounds rows BY DESIGN, the same boundedness argument as
    * [[ivfProbePersisted]]'s routing table. `lloydRounds` standard Lloyd
    * iterations polish the chosen seeds. Output matches [[centroidsKMeans]]:
    * `(cl, cvec)` with `cl` the seed vector's id — plug into
    * [[ivfTopKCustom]] for the ANN path.
    *
    * Training is deterministic in the corpus, so the k-row result goes
    * through the per-JVM [[quantizerCache]] like the other trained
    * quantizer state — re-executions skip the ~2·initRounds + lloydRounds
    * corpus passes entirely.
    */
  def centroidsKMeansParallel(
      df: DataFrame,
      k: Int,
      oversample: Double = 2.0,
      initRounds: Int = 3,
      lloydRounds: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(oversample > 0, s"oversample must be > 0, got $oversample")
    require(initRounds >= 1, s"initRounds must be >= 1, got $initRounds")
    require(lloydRounds >= 0, s"lloydRounds must be >= 0, got $lloydRounds")
    val canon = df.select(
      col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    // Training-input cut deferred into the MISS branch (optimization r22,
    // the cachedPqCodebooksTrainOnly precedent): a warm execution pays the
    // fingerprint aggregate only, never a corpus-sized checkpoint. The
    // cache-stored value is PINNED (releaseTransients must not drop it).
    quantizerCache.computeIfAbsent(
      s"kmp:${corpusKey(canon)}:$k:$oversample:$initRounds:$lloydRounds",
      _ => Seq(kMeansParallelTrain(canon.narrowCheckpointIfSmall(),
          k, oversample, initRounds, lloydRounds)
        .pinnedCheckpoint()))
      .head
  }

  private def kMeansParallelTrain(
      canon: DataFrame,
      k: Int,
      oversample: Double,
      initRounds: Int,
      lloydRounds: Int): DataFrame = {
    val df = canon
    val idCol = "vid"
    val vecCol = "v"
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      col(idCol).cast("long").as("cl"),
      col(vecCol).cast("array<double>").as("cvec"))
    var cands = base
      .withColumn("__h", Sampling.idHash(col("cl")))
      .orderBy(col("__h"), col("cl")).limit(1)
      .select(col("cl"), col("cvec"))
      .narrowCheckpoint()
    val ell = oversample * k
    for (r <- 1 to initRounds) {
      val cList = broadcast(cands.groupBy().agg(
        collect_list(struct(col("cl"), col("cvec"))).as("cs")))
      // d to the nearest candidate under cosine distance; a NaN cosine
      // (zero-norm side) counts as orthogonal — a zero vector is distance 1
      // from everything, so it can seed, but never poisons φ with NaN.
      def d2Of(vec: Column, cs: Column): Column = {
        val dmin = aggregate(cs, lit(Double.MaxValue), (acc, c) =>
          least(acc, lit(1.0) - nanvl(cosine(vec, c.getField("cvec")), lit(0.0))))
        dmin * dmin
      }
      val scored = base.crossJoin(cList)
        .select(col("cl"), col("cvec"), d2Of(col("cvec"), col("cs")).as("__d2"))
      val phi = broadcast(scored.groupBy().agg(sum(col("__d2")).as("__phi")))
      // Per-round uniform in [0,1): the id hash re-mixed with the round so
      // a vector missed in round r gets a fresh coin in round r+1.
      val u = Sampling.idHash(Sampling.idHash(col("cl")) + lit(r * 7919L)) /
        lit(4294967296.0)
      val fresh = scored.crossJoin(phi)
        // φ = 0 means every vector already sits on a candidate — done (and
        // the division below would be NaN).
        .filter((col("__phi") > lit(0.0)) &&
          (u < least(lit(1.0), lit(ell) * col("__d2") / col("__phi"))))
        .select(col("cl"), col("cvec"))
      cands = cands.union(fresh).narrowCheckpoint()
    }
    // Candidate weight = how many corpus vectors it attracts (ties in
    // assignedOf break to the smaller id, so duplicate-direction candidates
    // get deterministic weights).
    val weightOf = assignedOf(base, cands, "cl", "cvec", Nil)
      .groupBy(col("cluster")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byId = cands.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def cosLocal(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else d / den
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    if (byId.length <= k) chosen ++= byId
    else {
      def w(cl: Long): Long = weightOf.getOrElse(cl, 0L)
      chosen += byId.maxBy { case (cl, _) => (w(cl), -cl) }
      while (chosen.size < k) {
        chosen += byId.filterNot(c => chosen.exists(_._1 == c._1))
          .maxBy { case (cl, v) =>
            val d2n = chosen.map { case (_, ch) =>
              val d = 1.0 - cosLocal(v, ch); d * d
            }.min
            (w(cl) * d2n, -cl)
          }
      }
    }
    var cents = chosen.toSeq.map { case (cl, v) => (cl, v.toSeq) }.toDF("cl", "cvec")
    for (_ <- 0 until lloydRounds)
      cents = meansBy(
        assignedOf(base, cents, "cl", "cvec", Nil)
          .select(col("cluster").cast("long").as("cl"), col("cvec").as("__v")))
    cents
  }

  /** Every vector labeled with its nearest centroid under cosine — the
    * public composition point over a `(cl, cvec)` centroid frame (e.g.
    * [[graft.ops.Dedup.semanticDedup]] scopes its pair scans by it). Output
    * is the input columns plus `cluster`; ties break toward the smaller
    * cluster id (see [[assignedOf]]).
    */
  def assignClusters(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignedOf(df, centroids, idCol, vecCol, Nil)

  /** Cluster-balanced coverage sample ("diversity sampling"): at most
    * `nPer` vectors per k-means cluster, picked by Knuth-hash rank — the
    * cheap deterministic stand-in for facility-location selection that
    * subset pipelines use to weight every embedding-space REGION equally
    * regardless of density (a uniform sample of a skewed corpus is mostly
    * its head; this is exactly-≤N per region). Composition of
    * [[centroidsKMeans]] → [[assignClusters]] →
    * [[Sampling.stratifiedExactN]] with the cluster as the stratum: one
    * assignment fold plus one per-cluster rank window, deterministic
    * end-to-end, so the DuckDB oracle re-derives the full pipeline. Output:
    * `(cluster, idCol, sample_rank)`.
    */
  def diversitySample(
      df: DataFrame,
      nClusters: Option[Int],
      rounds: Int,
      nPer: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = centroidsKMeans(df, resolveClusters(df, nClusters), rounds,
      idCol, vecCol)
    Sampling.stratifiedExactN(
      assignClusters(df, cents, idCol, vecCol).select(col(idCol), col("cluster")),
      Seq("cluster"), idCol, nPer)
  }

  /** Cluster-scoped kNN GRAPH: each vector's `kNeighbors` nearest
    * neighbors by cosine, candidates restricted to its k-means cluster —
    * the primitive behind graph-based corpus analysis (near-dup community
    * detection over the edge set, density/outlier scoring by neighbor
    * similarity, hubness audits). Same scale shape as
    * [[graft.ops.Dedup.semanticDedup]]: pair work is Σ|cluster|² via
    * cluster-equality candidates (never all-pairs; `nClusters = None`
    * defaults to the [[autoClusters]] k ∝ √n schedule, which keeps the
    * slope in the family band — a fixed `Some(k)` is an explicit override
    * that owns the n²/k growth, see BASELINE.md),
    * and a neighbor across a cluster boundary is missed by construction
    * (the SemDeDup recall trade; raise `nClusters` only as far as the miss
    * rate tolerates, or probe multiple clusters like [[ivfTopK]]). The
    * per-vector rank window partitions by the SOURCE vector — key
    * cardinality = corpus, so no single-partition fallback exists.
    * Deterministic end-to-end (hash-seeded centroids, (cosine DESC, id)
    * tie order), so the oracle re-derives the whole pipeline. Output:
    * `(idCol, nbr_rank, neighbor_id, cosine)`, report-sorted.
    */
  def knnGraph(
      df: DataFrame,
      nClusters: Option[Int],
      rounds: Int,
      kNeighbors: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Ordered.smallResult(
      knnEdges(df, nClusters, rounds, kNeighbors, 1, idCol, vecCol),
      idCol, "nbr_rank")

  /** [[knnGraph]]'s UNSORTED edge relation — the form downstream graph
    * operators consume ([[Graph.pageRankInt]], component folds): same
    * rows, no report sort, so composing does not funnel the edge set
    * through one partition.
    *
    * `nProbe` is [[ivfTopK]]'s `nprobe` idea on the GRAPH axis — the
    * measured remedy for [[knnGraphRecall]]'s cluster-boundary miss: each
    * vector joins the candidate space of its `nProbe` NEAREST clusters
    * (rank by centroid cosine, ties to the smaller cluster), so two
    * vectors pair when their probe sets overlap anywhere. Pair work grows
    * ≤ nProbe²× (usually far less — overlap dedupes), recall across
    * boundaries is what it buys; `nProbe = 1` is exactly the single-assign
    * scope. */
  def knnEdges(
      df: DataFrame,
      nClusters: Option[Int],
      rounds: Int,
      kNeighbors: Int,
      nProbe: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(kNeighbors >= 1, s"kNeighbors must be >= 1, got $kNeighbors")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cents = centroidsKMeans(df, resolveClusters(df, nClusters), rounds,
      idCol, vecCol)
    if (nProbe == 1)
      return knnEdgesAssigned(df, cents, kNeighbors, idCol, vecCol)
    val e = df.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"))
    // Top-nProbe clusters per vector: the same (cosine DESC, cluster)
    // order as argmax assignment's tie rule, kept to nProbe rows.
    val scored = e.crossJoin(broadcast(cents))
      .select(col("__id"), col("__v"), col("cl"),
        nanvl(cosine(col("__v"), col("cvec")), lit(0.0)).as("__cs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__cs").desc, col("cl"))
    val slim = scored.withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nProbe)
      .select(col("__id"), col("cl").as("cluster"), col("__v"))
      .narrowCheckpointIfSmall() // nProbe×corpus rows — size-gated (r22)
    // Overlapping probe sets propose a pair once per shared cluster —
    // deduped; the single-probe path above is duplicate-free by
    // construction and skips the dedup shuffle.
    rankBoards(pairsWithin(slim).distinct(), kNeighbors)
      .select(col("__src").as(idCol), col("nbr_rank"),
        col("__dst").as("neighbor_id"), col("cosine"))
  }

  /** The FROZEN-centroid edge derivation shared by [[knnEdges]]'
    * single-probe path, [[knnGraphBuild]], and [[knnGraphAppend]]'s
    * full-recompute contract: each vector's `kNeighbors` nearest
    * same-cluster neighbors against a GIVEN centroid frame (no training
    * here — the caller owns where the centroids came from, which is what
    * lets an append replay the exact build-time routing). */
  def knnEdgesAssigned(
      df: DataFrame,
      centroids: DataFrame,
      kNeighbors: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val slim = assignClusters(df, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("__id"), col("cluster"),
        col(vecCol).as("__v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    rankBoards(pairsWithin(slim), kNeighbors)
      .select(col("__src").as(idCol), col("nbr_rank"),
        col("__dst").as("neighbor_id"), col("cosine"))
  }

  /** Within-cluster directed candidate pairs of an assigned
    * `(__id, cluster, __v)` frame — the Σ|cluster|² stage, SHUFFLE_HASH
    * on the cluster id. */
  private def pairsWithin(slim: DataFrame): DataFrame =
    slim.as("a").hint("SHUFFLE_HASH")
      .join(slim.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("__src"), col("b.__id").as("__dst"),
        round(cosine(col("a.__v"), col("b.__v")), 4).as("cosine"))

  /** Per-source (cosine DESC, id) boards kept to `kNeighbors` rows —
    * the rank window whose key cardinality is the corpus. */
  private def rankBoards(pairs: DataFrame, kNeighbors: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src")).orderBy(col("cosine").desc, col("__dst"))
    pairs.withColumn("nbr_rank", row_number().over(w))
      .filter(col("nbr_rank") <= kNeighbors)
  }

  /** Recall@k audit for the kNN graph's cluster-boundary miss — the
    * approximation-as-a-number discipline every approximate operator in
    * this repo carries ([[ivfRecallBatch]], [[pqAdcRecall]]): per sampled
    * query, the GLOBAL brute-force top-k by cosine against the
    * cluster-scoped board's top-k, reduced to `n_hit`/`recall_at_k`. A
    * neighbor across a cluster boundary is the one edge the scoped graph
    * cannot hold ([[knnEdges]]' documented trade); this prices that miss
    * so the `nClusters` knob is tuned against a measured number, not a
    * hope. The exact side scores the corpus once against the broadcast
    * query batch.
    */
  def knnGraphRecall(
      df: DataFrame,
      nClusters: Option[Int],
      rounds: Int,
      kNeighbors: Int,
      queryIds: Seq[Long],
      nProbe: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val edges = knnEdges(df, nClusters, rounds, kNeighbors, nProbe, idCol, vecCol)
      .select(col(idCol).cast("long").as("qid"),
        col("neighbor_id").as("vid"), lit(1).as("__hit"))
      .filter(col("qid").isin(queryIds: _*))
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val queries = queriesOf(e, queryIds).narrowCheckpoint()
    val exactTop = perQidTopKBy(
      e.crossJoin(broadcast(queries))
        .filter(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"),
          round(cosine(col("v"), col("qv")), 4).as("cs")),
      kNeighbors, "vid", desc("cs"))
      .select(col("qid"), col("vid"))
    Ordered.smallResult(
      exactTop.join(edges, Seq("qid", "vid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
        .select(col("qid").as("query_id"), col("n_exact"), col("n_hit"),
          round(col("n_hit") / lit(kNeighbors.toDouble), 4).as("recall_at_k")),
      "query_id")
  }

  /** Persist the [[knnEdges]] relation at `path` — the kNN GRAPH as a
    * build-once artifact, the same build-once/probe-forever discipline as
    * [[ivfBuild]]: real systems materialize the similarity graph once and
    * run many consumers over it (centrality, communities, negative
    * sampling, dedup audits), each of which would otherwise re-pay the
    * Σ|cluster|² candidate scan per query. Layout: `edges` PARTITIONED by
    * the source's cluster (so [[knnGraphAppend]] rewrites only the
    * clusters a batch lands in), `vectors` (canonical `(vid, v)`, same
    * partitioning — the append's scoring side), `centroids` (the FROZEN
    * routing, k rows), and the config manifest that fails probes loud on
    * a parameter mismatch, the persisted-family rule.
    */
  def knnGraphBuild(
      df: DataFrame,
      path: String,
      nClusters: Option[Int],
      rounds: Int,
      kNeighbors: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val k = resolveClusters(df, nClusters)
    val cents = centroidsKMeans(df, k, rounds, idCol, vecCol)
    val spark = df.sparkSession
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = assignClusters(
      df.select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v")),
      cents, "vid", "v").narrowCheckpointIfSmall() // corpus-sized (r22)
    assigned.select(col("vid"), col("v"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/vectors")
    val srcCluster = assigned.select(col("vid").as("__sid"), col("cluster"))
    knnEdgesAssigned(df, cents, kNeighbors, idCol, vecCol)
      .join(srcCluster, col(idCol) === col("__sid"))
      .select(col(idCol), col("nbr_rank"), col("neighbor_id"), col("cosine"),
        col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/edges")
    spark.range(1)
      .select(lit(k).as("n_clusters"), lit(rounds).as("rounds"),
        lit(kNeighbors).as("k_neighbors"))
      .write.mode("overwrite").json(s"$path/manifest")
  }

  /** Append an ingest batch to a persisted kNN graph IN PLACE — the
    * missing lifecycle verb beside [[ivfAppend]]/[[pqAppend]]: new vectors
    * route to their nearest FROZEN build-time centroid (re-training would
    * silently re-scope every stored board; staleness is priced by
    * [[knnGraphRecall]] like the IVF family's drift gates), and only the
    * clusters the batch lands in are touched. Per touched cluster: the
    * batch scores against the stored members once (never old × old — those
    * pairs are already on the stored boards), NEW sources get fresh
    * boards, EXISTING sources merge the new candidate edges into their
    * stored board under the same (cosine DESC, id) rank, and the cluster's
    * edge partition is rewritten copy-on-write (dynamic partition
    * overwrite; untouched clusters' files are never opened). The vectors
    * table appends the batch into the same partitions. Contract, spec- and
    * oracle-pinned: after append the edge relation EQUALS
    * [[knnEdgesAssigned]] of the union corpus under the stored centroids.
    * Driver-side state is the touched-cluster id list (≤ k rows — the
    * [[ivfProbePersisted]] routing envelope).
    */
  def knnGraphAppend(
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val m = spark.read.json(s"$path/manifest").head()
    val kNeighbors = m.getLong(m.fieldIndex("k_neighbors")).toInt
    val cents = spark.read.parquet(s"$path/centroids")
    val assignedB = assignClusters(
      batch.select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v")),
      cents, "vid", "v").narrowCheckpointIfSmall() // batch-sized (r22)
    val touched = assignedB.select(col("cluster")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val oldVec = spark.read.parquet(s"$path/vectors")
      .filter(col("cluster").isin(touched: _*)) // partition-pruned scan
      .select(col("vid"), col("v"), col("cluster"))
    // Global uniqueness guard: a reused id whose NEW vector routes to a
    // different cluster than the original would pass a touched-cluster-only
    // check and silently break the append ≡ frozen-centroid union-rebuild
    // invariant with duplicate vec_id boards — so the batch ids are checked
    // against the FULL vectors table (column-pruned to vid, semi-joined
    // against the broadcast-size batch; no vector payload is read).
    // SCALING COST, stated plainly: unlike every other read in this op,
    // this check is O(corpus) per append — one single-column scan of the
    // whole vectors table, NOT partition-pruned (a reused id can live in
    // ANY cluster, so pruning would reintroduce the bug this guard fixes).
    // At ~10⁹ vectors that is one long-column parquet scan per batch;
    // acceptable for bulk appends, material for high-frequency trickle
    // ingest. The upgrade path if it bites: maintain a vid membership
    // sidecar with [[Layout.statsManifest]](vectors, cols=vid,
    // bloomCols=vid) and probe per-file blooms first, falling back to this
    // exact scan only on a bloom hit — same no-false-negative guarantee,
    // O(files) common case.
    require(spark.read.parquet(s"$path/vectors").select(col("vid"))
        .join(broadcast(assignedB.select(col("vid"))), Seq("vid"), "left_semi")
        .isEmpty,
      s"$path: a batch id already exists in the graph — ids must be " +
        "globally unique across the graph's lifetime")
    val tagged = oldVec.withColumn("__isnew", lit(false))
      .unionByName(assignedB.select(col("vid"), col("v"), col("cluster"))
        .withColumn("__isnew", lit(true)))
      .narrowCheckpointIfSmall() // touched-cluster-sized — size-gated (r22)
    // One scored join: every (any, new) same-cluster directed pair.
    // Directed boards also need (new, old) — the FLIP of the old-src rows
    // (cosine is symmetric); (new, new) pairs already appear in both
    // directions, so flipping only old-src rows creates no duplicates.
    val scored = tagged.as("a").hint("SHUFFLE_HASH")
      .join(tagged.filter(col("__isnew")).as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("__src"), col("b.vid").as("__dst"),
        round(cosine(col("a.v"), col("b.v")), 4).as("cosine"),
        col("a.cluster").as("__cl"), col("a.__isnew").as("__srcnew"))
      .narrowCheckpointIfSmall() // per-touched-cluster pairs — size-gated (r22)
    val candTo = scored.select(col("__src"), col("__dst"), col("cosine"), col("__cl"))
    val candFrom = scored.filter(!col("__srcnew"))
      .select(col("__dst").as("__src"), col("__src").as("__dst"),
        col("cosine"), col("__cl"))
    // Stored boards of the touched clusters only — old×old pair work is
    // never re-paid; a new candidate can only ENTER a board, so
    // top-k(stored board ∪ new candidates) = top-k of the union corpus.
    val oldEdges = spark.read.parquet(s"$path/edges")
      .filter(col("cluster").isin(touched: _*))
      .select(col(idCol).cast("long").as("__src"),
        col("neighbor_id").cast("long").as("__dst"), col("cosine"),
        col("cluster").as("__cl"))
    val merged = rankBoards(
      oldEdges.unionByName(candTo).unionByName(candFrom), kNeighbors)
      .select(col("__src").as(idCol), col("nbr_rank"),
        col("__dst").as("neighbor_id"), col("cosine"),
        col("__cl").as("cluster"))
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster").parquet(s"$path/edges")
    assignedB.select(col("vid"), col("v"), col("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(s"$path/vectors")
  }

  /** Fold a kNN graph's accumulated vector-append files back to one file
    * per cluster partition ([[Layout.compactInPlace]]'s swap discipline) —
    * the [[ivfCompact]] role here: edge partitions are REWRITTEN whole on
    * every append (dynamic overwrite) and never fragment, but the vectors
    * table appends a file per batch per cluster and is the append path's
    * scan side, so it is the one that needs folding. Content unchanged;
    * appends after a compact behave identically.
    */
  def knnGraphCompact(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Layout.compactInPlace(spark, s"$path/vectors", Seq("cluster"))

  /** Read a persisted kNN graph's edges, failing loud when the requested
    * parameters do not match the build's (a probe against a
    * differently-built graph would silently answer a different question).
    * `nClusters = None` inherits the build's data-derived [[autoClusters]]
    * k from the manifest — the caller of an auto-k build cannot know k
    * without repeating the count, and the manifest is the build's record.
    */
  def knnGraphEdges(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nClusters: Option[Int],
      rounds: Int,
      kNeighbors: Int): DataFrame = {
    val m = spark.read.json(s"$path/manifest").head()
    def g(n: String): Long = m.getLong(m.fieldIndex(n))
    require(nClusters.forall(g("n_clusters") == _) && g("rounds") == rounds &&
      g("k_neighbors") == kNeighbors,
      s"$path: built with (${g("n_clusters")}, ${g("rounds")}, ${g("k_neighbors")}), " +
        s"probed with ($nClusters, $rounds, $kNeighbors)")
    // Drop the physical partition column: consumers see the edge RELATION
    // (vec_id, nbr_rank, neighbor_id, cosine); the cluster layout is the
    // append path's concern.
    val e = spark.read.parquet(s"$path/edges")
    e.select(e.columns.filterNot(_ == "cluster").map(col).toSeq: _*)
  }

  /** Deterministic NEGATIVE sampling for contrastive training: per anchor,
    * `kNeg` corpus vectors that are NOT its neighbors, drawn from a
    * bounded global pool — the (anchor, positive, negatives) triple
    * builder's missing leg (positives come from [[knnEdges]]; this
    * excludes exactly those edges, plus self).
    *
    * Scale shape: negatives come from a `poolSize`-row POOL (the corpus's
    * bottom-`poolSize` ids by Knuth hash — a broadcastable
    * TakeOrderedAndProject, never a corpus × corpus join), so the
    * candidate relation is anchors × pool. The per-anchor pseudo-random
    * order is `idHash(anchor · 100003 + candidate)` — a pure function of
    * the pair, so the draw is stable across runs, engines, retries and
    * partitionings (the [[graft.ops.Sampling]] contract; an RNG draw
    * would be none of these). Pool sampling is the production trade
    * (in-batch/pool negatives): a pool miss for an anchor whose
    * neighbors saturate the pool is impossible for `poolSize ≫ k + kNeg`.
    * Output: `(idCol, neg_rank, neg_id)`.
    */
  def negativeSample(
      df: DataFrame,
      edges: DataFrame,
      poolSize: Int,
      kNeg: Int,
      idCol: String = "vec_id",
      srcCol: String = "vec_id",
      dstCol: String = "neighbor_id"): DataFrame = {
    require(poolSize >= 1 && kNeg >= 1,
      s"poolSize and kNeg must be >= 1, got $poolSize/$kNeg")
    val ids = df.select(col(idCol).cast("long").as("__a"))
    val pool = ids
      .select(col("__a").as("__c"), Sampling.idHash(col("__a")).as("__h"))
      .orderBy(col("__h"), col("__c")).limit(poolSize)
      .select(col("__c"))
    val e = edges.select(col(srcCol).cast("long").as("__a"),
      col(dstCol).cast("long").as("__c"))
    val cands = ids.crossJoin(broadcast(pool))
      .filter(col("__a") =!= col("__c"))
      .join(e, Seq("__a", "__c"), "left_anti")
    // Pair mix: idHash((a mod 2³²)·100003 + c) — the pre-mod keeps the
    // PRODUCT ≤ ~2⁴⁹ for any long anchor id; the + c term then stays
    // ANSI-overflow-safe for candidate ids below ~2⁶² (any realistic id
    // space; a candidate within 2⁴⁹ of Long.MaxValue would overflow).
    // idHash's own leading mod makes the oracle's replication exact.
    val mix = Sampling.idHash(
      pmod(col("__a"), lit(4294967296L)) * lit(100003L) + col("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__a")).orderBy(mix, col("__c"))
    Ordered.smallResult(
      cands.withColumn("neg_rank", row_number().over(w))
        .filter(col("neg_rank") <= kNeg)
        .select(col("__a").as(idCol), col("neg_rank"), col("__c").as("neg_id")),
      idCol, "neg_rank")
  }

  /** [[ivfTopK]]'s probe/score body over a CALLER-SUPPLIED centroid frame
    * `(cl, cvec)` — plug in [[centroidsKMeansParallel]] (or any routing
    * table) without re-deriving the probe plan.
    */
  def ivfTopKCustom(
      df: DataFrame,
      centroids: DataFrame,
      queryId: Long,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfWith(df, centroids, queryId, k, nprobe, idCol, vecCol, Nil)

  /** Every vector labeled with its nearest centroid: argmax cosine over the
    * broadcast centroid list in one higher-order fold — no join explosion.
    */
  private def assignedOf(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      extraCols: Seq[String]): DataFrame = {
    // The accumulator's cluster slot types after the centroid id (label for
    // the labeled path, seed vec_id for k-means) — a fixed literal type here
    // would silently retype the output's cluster column.
    val clType = centroids.schema("cl").dataType
    // Centroid norms are hoisted INTO the broadcast list, and the probe
    // vector's own norm is dropped entirely: argmax over cosine(v, c) ≡
    // argmax over dot(v, c)/|c| (scaling every score by the constant 1/|v|
    // moves no ordering), so assignment costs ONE dot per centroid instead
    // of three — same winner, same ties (ties in cosine ⇔ ties in the
    // scaled score), ~3× less fold work per row.
    val cList = broadcast(centroids.groupBy().agg(
      collect_list(struct(col("cl"), col("cvec"), norm(col("cvec")).as("cnrm")))
        .as("cs")))
    def bestCluster(vec: Column, cs: Column): Column =
      aggregate(cs,
        struct(lit(Double.MinValue).as("s"), lit(null).cast(clType).as("c")),
        (acc, c) => {
          // nanvl: a zero-norm CENTROID scores NaN — mapped to the floor so
          // the row still lands in a cluster deterministically (strict NaN
          // comparisons would leave it NULL and silently drop it from
          // probes). A zero-norm probe vector scores 0 against every
          // centroid → tie. Equal scores break toward the SMALLER cluster
          // id: collect_list arrival order varies across retries, and a
          // list-order tie-break would make duplicate-seed centroids (near-
          // dup corpora) assign nondeterministically. The accumulator init
          // is -∞-like (Double.MinValue), NOT a cosine bound: the scaled
          // score's magnitude is |v|, unbounded.
          val s = nanvl(
            dot(vec, c.getField("cvec")) / c.getField("cnrm"), lit(Double.MinValue))
          val cl = c.getField("cl")
          // isNull: the first centroid must always replace the empty
          // accumulator, even at the score floor (all-zero centroid set).
          when(acc.getField("c").isNull || s > acc.getField("s") ||
              (s === acc.getField("s") && cl < acc.getField("c")),
            struct(s.as("s"), cl.as("c"))).otherwise(acc)
        }).getField("c")
    df.crossJoin(cList)
      .select((col(idCol) +: col(vecCol) +: extraCols.map(col)) :+
        bestCluster(col(vecCol), col("cs")).as("cluster"): _*)
  }

  // -------------------------------------------------- persisted IVF index

  /** Write a persisted IVF index at `path`: every vector assigned to its
    * nearest per-`labelCol`-mean centroid and stored as CLUSTER-PARTITIONED
    * parquet (`path/vectors/cluster=<c>/…`), the (k-row) centroid table
    * beside it (`path/centroids`).
    *
    * This is the piece that makes IVF an INDEX rather than a query shape:
    * [[ivfTopK]] re-runs the whole-corpus assignment pass inside every
    * query plan, which at 100 TB IS the cost — here the assignment runs
    * once at build time, and every probe afterwards is a partition-pruned
    * read of `nprobe` inverted lists (nprobe/k of the data touched, zero
    * assignment work). Same write shape as [[Layout.clusterByZ]]: layout
    * decided at write time so the engine's scan pruning does the work at
    * read time.
    */
  def ivfBuild(
      df: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): Unit =
    ivfBuildWith(df, centroidsOf(df, vecCol, labelCol), path, idCol, vecCol, Seq(labelCol))

  /** [[ivfBuild]] over an arbitrary centroid set — pass
    * [[centroidsKMeans]]'s output to persist an index for an unlabeled
    * corpus.
    */
  def ivfBuildWith(
      df: DataFrame,
      centroids: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      extraCols: Seq[String]): Unit = {
    val assigned = assignedOf(df, centroids, idCol, vecCol, extraCols)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(s"$path/vectors")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append an ingest batch to a persisted IVF index IN PLACE — the write
    * half of the index lifecycle ([[ivfProbePersisted]] is the read half).
    * Each new vector is assigned to its nearest EXISTING centroid (the
    * index's own routing table, read back from `path/centroids` — the
    * assignment rule is [[assignedOf]], bit-identical to the build's) and
    * its row lands in that cluster's inverted-list partition as a new file
    * (parquet `append` adds files; sibling partitions are untouched).
    * After the append the next probe sees the batch — no rebuild, no
    * corpus re-assignment: at 100 TB the index ingests deltas forever and
    * re-clusters only when the recall drift signal ([[ivfRecallBatch]]
    * against stale centroids) says the centroids no longer describe the
    * data. Appending does NOT update the centroids by design: moving them
    * would silently re-route probes away from every already-written row.
    *
    * `extraCols` must match the build's (the vectors table's schema);
    * parquet append fails loud on a schema mismatch.
    */
  def ivfAppend(
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      extraCols: Seq[String] = Seq("label")): Unit = {
    val centroids = Layout.readParquet(batch.sparkSession, s"$path/centroids")
    assignedOf(batch, centroids, idCol, vecCol, extraCols)
      .write.mode("append").partitionBy("cluster").parquet(s"$path/vectors")
  }

  /** Fold an IVF index's accumulated append files back to one file per
    * cluster partition — content unchanged, probes identical; see
    * [[Layout.compactInPlace]] for the swap discipline.
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Layout.compactInPlace(spark, s"$path/vectors", Seq("cluster"))

  /** Re-cluster a persisted IVF index IN PLACE from its own contents — the
    * remedy the drift signal ([[ivfRecallDrift]], `ann_ivf_recall_stale`)
    * exists to trigger. [[ivfAppend]] deliberately freezes centroids, so an
    * index that has ingested a drifted region routes probes badly there
    * (the appended vectors scatter across clusters that never described
    * them); when the measured stale recall says so, this rebuilds the
    * routing: re-derive per-`labelCol` centroids over EVERYTHING the index
    * holds (base build + every appended batch — `path/vectors` is read, the
    * source corpus is never touched), re-assign all vectors with the same
    * [[ivfBuild]] assignment rule, and swap the new `vectors`/`centroids`
    * dirs over the old with [[Layout.compactInPlace]]'s rename discipline.
    * A label that first arrived via append (a genuinely new region) gets
    * its own cluster directory here — the step that restores its recall to
    * the fresh-index level. The two renames are not jointly atomic: a crash
    * between them leaves `*.__recluster_old` beside the table, and the next
    * call fails loud instead of re-clustering a half-swapped index.
    */
  def ivfRecluster(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def swap(cur: Path, tmp: Path, old: Path): Unit = {
      require(fs.rename(cur, old), s"ivfRecluster: rename $cur -> $old failed")
      require(fs.rename(tmp, cur),
        s"ivfRecluster: rename $tmp -> $cur failed ($old holds the pre-recluster table)")
      fs.delete(old, true): Unit
    }
    val (vcur, ccur) = (new Path(s"$path/vectors"), new Path(s"$path/centroids"))
    val (vtmp, ctmp) =
      (new Path(s"$path/vectors.__recluster_tmp"), new Path(s"$path/centroids.__recluster_tmp"))
    val (vold, cold) =
      (new Path(s"$path/vectors.__recluster_old"), new Path(s"$path/centroids.__recluster_old"))
    require(!fs.exists(vold) && !fs.exists(cold),
      s"$vold / $cold exists — a previous recluster crashed mid-swap; " +
        "inspect and rename back (complete pre-recluster state) or delete")
    val held = spark.read.parquet(vcur.toString).drop("cluster")
    // k-row routing table, checkpointed once: it feeds both the assignment
    // broadcast and the centroids rewrite, and each would otherwise re-run
    // the corpus-wide (label, pos) aggregate.
    val centroids = centroidsOf(held, vecCol, labelCol).narrowCheckpoint()
    val extra = held.columns.filterNot(c => c == idCol || c == vecCol).toSeq
    assignedOf(held, centroids, idCol, vecCol, extra)
      .write.mode("overwrite").partitionBy("cluster").parquet(vtmp.toString)
    centroids.write.mode("overwrite").parquet(ctmp.toString)
    swap(vcur, vtmp, vold)
    swap(ccur, ctmp, cold)
  }

  /** Probe a persisted IVF index: top-k by cosine against the literal
    * `query` vector, scanning ONLY the `nprobe` nearest cluster partitions.
    *
    * The centroid table is collected to the driver to pick the probe list —
    * deliberate and tiny (k rows; every ANN service holds its routing table
    * in RAM), and it is exactly what turns the cluster predicate into a
    * LITERAL `IN` the scan prunes partitions with at planning time
    * (StorageLayoutSpec asserts only probed `cluster=` directories are
    * read). The driver-side scoring replays the in-plan [[cosine]] fold
    * (same left-to-right double accumulation), so probe selection matches
    * [[ivfTopK]] bit-for-bit.
    *
    * Results are identical to [[ivfTopK]] over the same corpus (same
    * centroids, same assignment, same probe list, same scoring) — minus the
    * corpus-wide assignment pass.
    */
  def ivfProbePersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      k: Int,
      nprobe: Int,
      excludeId: Option[Long] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probed = probedClustersOf(spark, path, query, nprobe)
    val qlit = typedlit(query.toSeq)
    val vecs = Layout.readParquet(spark, s"$path/vectors")
      .filter(col("cluster").isin(probed: _*))
    val base = excludeId.fold(vecs)(id => vecs.filter(col(idCol) =!= id))
    val outCols = base.columns.filter(c => c != vecCol && c != "cluster")
    base.select(outCols.map(col) :+ col("cluster") :+
        round(cosine(col(vecCol), qlit), 4).as("cosine"): _*)
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Driver-side probe-list selection over a persisted index's k-row
    * centroid table — deliberate and tiny (every ANN service holds its
    * routing table in RAM), and exactly what turns the cluster predicate
    * into a LITERAL `IN` the scan prunes partitions with at planning time.
    * The scoring replays the in-plan [[cosine]] fold (same left-to-right
    * double accumulation), so probe selection matches the in-plan paths
    * bit-for-bit; cs desc, cl asc — the same probe-list order as
    * [[ivfTopK]]'s `orderBy(cs.desc, cl)`.
    */
  private def probedClustersOf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      nprobe: Int): Seq[Any] = {
    val qn = math.sqrt(blasDot(query, query))
    Layout.readParquet(spark, s"$path/centroids")
      .collect()
      .map { r =>
        val cv = r.getSeq[Double](r.fieldIndex("cvec")).toArray
        val cs = blasDot(cv, query) / (math.sqrt(blasDot(cv, cv)) * qn)
        (r.get(r.fieldIndex("cl")), cs)
      }
      .sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 &&
          a._1.asInstanceOf[Comparable[Any]].compareTo(b._1) < 0))
      .take(nprobe)
      .map(_._1)
      .toSeq
  }

  // -------------------------------------------------- SRP (hyperplane) LSH

  /** Rademacher (±1) hyperplane weight for signed random projections,
    * derived from a two-round integer mixer over (bit index, dimension):
    * `h₁ = ((bit·65599 + d + 1) · 2654435761) mod 2³²`,
    * `h₂ = ((⌊h₁/2¹⁶⌋ + h₁) · 2246822519) mod 2³²`, sign = top bit of h₂.
    * ONE multiplicative round is not enough: with `(bit·A + d)·C`, the
    * bit-to-bit step size is `A·C mod 2³²`, and an unlucky constant pair
    * makes every hyperplane near-identical (observed — the LSH silently
    * degenerates to all-pairs). The high-half fold between the two
    * multiplications is the standard finalizer fix, and the whole thing is
    * still plain integer arithmetic (div/mod/add/mul), re-derivable in
    * ANSI SQL. Seed-free, so retries and oracles see the same planes.
    */
  private[ops] def srpWeight(bit: Int, d: Int): Double = {
    val h1 = ((bit.toLong * 65599L + d.toLong + 1L) * 2654435761L) & 0xffffffffL
    val h2 = (((h1 >> 16) + h1) * 2246822519L) & 0xffffffffL
    if ((h2 >> 31) == 1L) 1.0 else -1.0
  }

  /** All pairs (v1 < v2) with cosine ≥ threshold via signed-random-projection
    * LSH — the embedding-space analog of [[Dedup.simhashPairs]]: signature
    * bit j = [dot(v, hⱼ) ≥ 0] for fixed ±1 hyperplanes hⱼ, signatures cut
    * into `bands`, candidates = band-equality join, every candidate verified
    * with the exact cosine. Per-vector state is `numBits` bits — like
    * MinHash/SimHash, the shuffle payload is a fixed-width signature, and
    * candidate generation is an equality join, never an all-pairs scan: the
    * 100 TB near-duplicate shape.
    *
    * Recall: a pair at angle θ collides per bit with p = 1 − θ/π, per band
    * with p^(numBits/bands) — size bands for the target cosine (this is a
    * HIGH-similarity family; below ~0.9 prefer [[pairsAbove]] or IVF).
    * Exact and positively-SCALED duplicates are found with certainty, not
    * probability: scaling by a power of two commutes with fp rounding, so
    * dot(2v, hⱼ) = 2·dot(v, hⱼ) exactly and the signatures are identical —
    * the re-crawled-identical-content case that dominates real dedup.
    * Precision is exact (verification). False candidates cost only a
    * verify, never a wrong pair.
    */
  def srpPairs(
      df: DataFrame,
      threshold: Double,
      dim: Int,
      numBits: Int = 16,
      bands: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cand = srpCandidates(df, dim, numBits, bands, idCol, vecCol)
    val vecs = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vv"))
    cand
      .join(vecs.select(col("id").as("v1"), col("vv").as("va")), Seq("v1"))
      .join(vecs.select(col("id").as("v2"), col("vv").as("vb")), Seq("v2"))
      .select(col("v1"), col("v2"), round(cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** (numBits, bands) derived from the REQUESTED threshold so the banded
    * candidate pass reaches `targetRecall` AT THE THRESHOLD BOUNDARY — the
    * inversion of the collision formula the [[pairsAboveBanded]] scaladoc
    * states. A pair at angle θ agrees per bit with p = 1 − θ/π and is a
    * candidate with 1 − (1 − p^r)^b (r bits per band, b bands); for each
    * r ∈ [4, 24] the smallest b with that ≥ `targetRecall` at
    * θ = arccos(threshold) is b(r) = ⌈ln(1 − targetRecall)/ln(1 − p^r)⌉.
    * Among the feasible (r·b ≤ 256 signature bits, b ≤ 32 bands) choices
    * the FALSE-CANDIDATE budget picks the winner: a random (orthogonal)
    * pair collides per band with 2^−r, so the expected fraction of the n²
    * pair mass surviving as candidates is ≈ b·2^−r — geometries at or
    * under 1/256 take the fewest signature bits, otherwise the minimum
    * false fraction wins. Resulting defaults: threshold 0.9 → (253, 23)
    * (boundary recall ≥ 0.99, false mass ≈ 1.1%), 0.95 → (180, 15),
    * 0.99 → (55, 5), 0.999 → (30, 3). The r18 default (48, 4) gave
    * boundary recall ≈ 0.49 at threshold 0.9 — half the boundary pairs
    * missed at the op's own advertised use; this sizing replaces it.
    */
  def srpGeometryFor(threshold: Double, targetRecall: Double = 0.99): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val pBit = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    var bestBits = 0; var bestBands = 0; var bestFalse = Double.MaxValue
    var cheapBits = Int.MaxValue; var cheapBands = 0
    var r = 4
    while (r <= 24) {
      val pBand = math.pow(pBit, r)
      val b = math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt
      if (b >= 1 && b <= 32 && r * b <= 256) {
        val falseFrac = b * math.pow(0.5, r)
        if (falseFrac < bestFalse) {
          bestFalse = falseFrac; bestBits = r * b; bestBands = b
        }
        if (falseFrac <= 1.0 / 256.0 && r * b < cheapBits) {
          cheapBits = r * b; cheapBands = b
        }
      }
      r += 1
    }
    require(bestBands > 0, s"no feasible SRP geometry for threshold=$threshold")
    if (cheapBands > 0) (cheapBits, cheapBands) else (bestBits, bestBands)
  }

  /** [[srpGeometryFor]] extended with MULTIPROBE (Lv et al. 2007's idea on
    * sign-LSH): probing each band's Hamming-1 neighbor buckets raises the
    * per-band candidate probability from p^r to p^r + r·p^(r−1)·(1−p), so
    * the same boundary recall needs FEWER, WIDER bands — and a random
    * pair's survival drops to b·(1+r)·2^−r, which within the 256-bit
    * signature budget is the only way to cut the n²-multiplying false mass
    * at the op's advertised threshold 0.9 (exact-match bands bottom out at
    * ≈1.1%; one-probe reaches ≈0.21% at (255, 15, r=17)). Returns
    * `(numBits, bands, probes)` with probes ∈ {0, 1}; the selection
    * minimizes the false-candidate fraction (the n² term — at scale
    * nothing else matters), tie-broken by signature+explode cost, with the
    * probe-side explode capped at 384 variant rows per vector so the
    * linear term cannot run away. Derived plans: 0.9 → (255, 15, 1),
    * 0.95 → (231, 11, 1), 0.99 → (253, 11, 0), 0.999 → (96, 4, 0).
    *
    * The plan space deliberately STOPS at Hamming-1 (round-20
    * adjudication, enumerated in OpsSpec): Hamming-2's quadratic variant
    * count `1 + r + r(r−1)/2` forces the band width down to r = 13 inside
    * the 384-variant cap, where its best false mass is ≈ 4.5% — 20×+
    * worse than the Hamming-1 optimum — and parity needs a ~2000-variant
    * explode (7× the probe cost for nothing) while anything better busts
    * the 256-bit signature budget. Under these budgets a false-mass
    * minimizer can never pick probes = 2, so offering it would be a trap
    * option, not a lever.
    */
  def srpPlanFor(threshold: Double, targetRecall: Double = 0.99): (Int, Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val pBit = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    var bestFf = Double.MaxValue; var bestCost = Int.MaxValue
    var bestBits = 0; var bestBands = 0; var bestProbes = 0
    var probes = 0
    while (probes <= 1) {
      var r = 4
      while (r <= 24) {
        val q = math.pow(pBit, r) +
          (if (probes == 1) r * math.pow(pBit, r - 1) * (1 - pBit) else 0.0)
        if (q > 0.0 && q < 1.0) {
          val b = math.ceil(math.log1p(-targetRecall) / math.log1p(-q)).toInt
          val explode = b * (1 + probes * r)
          if (b >= 1 && b <= 32 && r * b <= 256 && explode <= 384) {
            val ff = explode * math.pow(0.5, r)
            val cost = r * b + 2 * explode
            if (ff < bestFf || (ff == bestFf && cost < bestCost)) {
              bestFf = ff; bestCost = cost
              bestBits = r * b; bestBands = b; bestProbes = probes
            }
          }
        }
        r += 1
      }
      probes += 1
    }
    require(bestBands > 0, s"no feasible SRP geometry for threshold=$threshold")
    (bestBits, bestBands, bestProbes)
  }

  /** Candidate-pair count for an SRP plan over `(vec_id, embedding)` —
    * the audit accessor behind `graft.tools.BandedProbe`: candidates are
    * private machinery, but their COUNT is the observable n²-cost driver
    * a capacity plan needs to measure per corpus.
    */
  def candidateCount(
      df: DataFrame, dim: Int, numBits: Int, bands: Int, probes: Int = 0): Long =
    srpCandidates(df, dim, numBits, bands, "vec_id", "embedding", probes).count()

  /** The SRP band candidate relation behind [[srpPairs]] and
    * [[pairsAboveBanded]]: unordered distinct `(v1 < v2)` id pairs whose
    * `numBits`-bit sign signatures agree in at least one of `bands` bands —
    * EXACTLY at probes = 0, or within Hamming distance ≤ 1 at probes = 1
    * (the multiprobe variant). By pigeonhole the probes = 0 relation
    * contains every pair whose full-signature Hamming distance is
    * < `bands`; the band explode carries signatures only (one long per
    * band), never the vectors.
    */
  private[ops] def srpCandidates(
      df: DataFrame,
      dim: Int,
      numBits: Int,
      bands: Int,
      idCol: String,
      vecCol: String,
      probes: Int = 0): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(bands >= 1 && numBits % bands == 0,
      s"bands ($bands) must divide numBits ($numBits)")
    require(probes == 0 || probes == 1, s"probes must be 0 or 1, got $probes")
    val bandBits = numBits / bands
    require(bandBits >= 1 && bandBits <= 62,
      s"bits per band must be in [1, 62], got $bandBits ($numBits/$bands)")
    // All band signatures in ONE fused codegen kernel
    // ([[org.apache.spark.sql.graftfns.SrpBandSigs]]): the per-bit Column
    // formulation (numBits dot nodes, each with a dim-element weight
    // literal) overflows janino's 64 KB method limit at the
    // threshold-derived geometries and dropped the whole stage out of
    // codegen. Signatures only — the vectors join back by id for
    // verification, so the band explode never replicates the payload.
    val v = col(vecCol).cast("array<double>")
    val sigDf = df.select(col(idCol).cast("long").as("id"),
      org.apache.spark.sql.graftfns.VectorFunctions
        .srpBandSigs(v, dim, numBits, bands).as("sigs"))
      .select(col("id"), posexplode(col("sigs")).as(Seq("band", "sig")))
    // MULTIPROBE (probes = 1): one side of the self-join additionally
    // carries each band signature's `bandBits` Hamming-1 neighbors, so a
    // pair is a candidate when some band's signatures are within Hamming
    // distance 1 (a Ham-1 pair is found through the flipped variant on
    // WHICHEVER side has the smaller id, so the `a.id < b.id` constraint
    // loses nothing). Probe rows are (id, band, long) — the explode never
    // touches vectors, exactly like the band explode itself.
    val probe =
      if (probes == 0) sigDf
      else sigDf.select(col("id"), col("band"),
        explode(array((col("sig") +: (0 until bandBits).map(k =>
          col("sig").bitwiseXOR(lit(1L << k)))): _*)).as("sig"))
    probe.as("a")
      .join(sigDf.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("v1"), col("b.id").as("v2"))
      .distinct()
  }

  /** [[pairsAbove]]'s relation — `(v1 < v2, round(cosine,4) ≥ threshold)`,
    * report-sorted, zero-norm rows dropped — from SRP band-equality
    * candidates + exact verification instead of the all-pairs block grid:
    * the sub-quadratic threshold-pairs surface for HIGH-similarity mining
    * over corpora with real near-duplicate structure.
    *
    * Cost shape: signatures are `numBits` codegen'd dot folds per vector
    * (one narrow pass), candidates one band-equality equi-join on
    * fixed-width longs, verification one id join-back scoring only the
    * candidates — O(n·numBits·dim + candidates·dim), vs [[pairsAbove]]'s
    * O(n²·dim/2). The 12-bit default band (4096 buckets) keeps the random
    * birthday-collision candidate mass ≈ n²·bands/4096 — at n = 10⁶ that is
    * ~10⁹ cheap verifies where brute force is 5·10¹¹ full-width scores, and
    * a larger `numBits` buys sparser buckets linearly.
    *
    * Recall contract (the honest fine print): a candidate survives only if
    * the pair agrees exactly in ≥ 1 of `bands` bands, so
    *   - exact and positive-power-of-two-SCALED duplicates are found with
    *     CERTAINTY (identical signatures — fp scaling commutes with the
    *     sign test; the re-crawled-identical-content case);
    *   - any pair with signature Hamming distance < `bands` is found with
    *     certainty (pigeonhole across bands);
    *   - a pair at angle θ is a candidate with p = 1−(1−(1−θ/π)^(numBits/bands))^bands
    *     (per-band probability raised to p^r + r·p^(r−1)·(1−p) when the
    *     plan probes Hamming-1 neighbor buckets) — and the DEFAULT plan
    *     (numBits = bands = 0, probes = −1) inverts that formula at the
    *     requested `threshold` for ≥ 0.99 boundary recall, SIZE-AWARE:
    *     corpora ≥ [[MultiprobeMinRows]] get [[srpPlanFor]]'s
    *     false-mass-minimizing multiprobe plan (threshold 0.9 →
    *     255 bits / 15 bands / 1 probe: false mass ≈ 0.21% of pairs, vs
    *     1.1% for the best exact-match geometry in the same bit budget —
    *     the n²-dominant regime), smaller corpora get
    *     [[srpGeometryFor]]'s linear-cost-minimizing exact-match
    *     geometry (the probe explode costs more than it saves below the
    *     measured break-even). The `sim_pairs_banded_recall` gate
    *     measures recall on planted pair families at cosine
    *     0.90/0.95/0.99/0.999; both plan shapes meet the same ≥ 0.99
    *     boundary contract by construction. Explicit `numBits`/`bands`
    *     override (probes then 0 unless given) for callers trading
    *     recall for cost.
    *   Equality with [[pairsAbove]] is therefore guaranteed for the
    *   scaled-dup family and holds with probability → 1 for tight near-dup
    *   corpora; at LOW thresholds on isotropic data the relation itself is
    *   Θ(n²) rows, no candidate scheme can beat brute force, and
    *   [[pairsAbove]] is the right call — this op is the ≥ ~0.9 band.
    *
    * When to pick which (measured, BandedProbe at the 10× corpus): the
    * brute kernel's per-pair cost is `dim` codegen'd multiplies (~6 ns at
    * dim 64) while a banded candidate costs join machinery (~100×) a
    * multiply — so the candidate-mass cut must EXCEED that ratio for the
    * banded path to win. At threshold 0.9 the recall-0.99 geometry keeps
    * ≈1.1% of pairs (isotropic) to ≈4% (near-dup-heavy corpora): roughly
    * break-even at dim 64, a clear win at embedding dims ≥ several
    * hundred (per-pair brute cost scales with dim, candidate cost does
    * not) and at thresholds ≥ 0.95 (false mass 0.37%/0.24% at 0.95/0.99).
    * Three-point slope evidence: BASELINE.md round-19 curvature row.
    *   (Metric-tree pruning — triangle inequality on k-means cells — was
    *   rejected: it is exact but prunes NOTHING on isotropic corpora, where
    *   every cluster radius ≈ every centroid distance; sign-LSH candidates
    *   degrade gracefully there instead.)
    *
    * Verification is bit-identical to [[pairsAbove]]: same sequential
    * double fold, same HALF_UP rounding, zero-norm sides dropped before the
    * join (their cosine is undefined; the block kernel drops the same
    * pairs).
    */
  /** Corpus-size switch for the default [[pairsAboveBanded]] plan:
    * multiprobe trades a Θ(n·bands·bits-per-band) probe explode for a
    * ~5× cut of the Θ(ff·n²) false-candidate mass, and the measured
    * constants (BandedProbe, dim 64: probe rows ≈ 0.5 µs, candidate
    * verify ≈ 0.3 µs) put the break-even near n ≈ 10⁵; below it the
    * explode costs more than it saves, above it the win grows with n.
    * A plan that depends on n must pay for n once (the
    * [[Dedup.semanticDedup]] auto-k precedent) — auto mode therefore
    * materializes the input (narrowCheckpoint) and counts the blocks, so
    * the upstream lineage executes ONCE total instead of three times
    * (count + signature pass + verify join-back) and the plan decision
    * always matches the data the scans actually read.
    */
  private val MultiprobeMinRows = 200000L

  def pairsAboveBanded(
      df: DataFrame,
      threshold: Double,
      dim: Int,
      numBits: Int = 0,
      bands: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      probes: Int = -1): DataFrame = {
    require((numBits == 0) == (bands == 0),
      s"numBits and bands must be overridden together, got ($numBits, $bands)")
    require(probes >= -1 && probes <= 1, s"probes must be -1 (auto), 0 or 1, got $probes")
    // The size-aware default needs n, which is an ACTION inside an
    // otherwise lazy builder. Materialize the input once for that case:
    // the count then reads the materialized blocks, the signature pass and
    // the verify join-back (which would otherwise EACH replay the upstream
    // lineage — three executions of a possibly expensive transform chain)
    // reuse them, and a non-deterministic upstream cannot hand the plan
    // decision different data than the scans see. Materialize the
    // PROJECTION, not the caller's frame — only (idCol, vecCol) are ever
    // consumed downstream, and a wide corpus frame (text, payloads...)
    // must not be copied into executor storage wholesale (Materialize's
    // own "narrow frames, not raw scans" rule). Explicit geometry or
    // probes keep the builder fully lazy — no count, no materialization.
    val auto = numBits == 0 && probes == -1
    val in =
      if (auto) df.select(col(idCol), col(vecCol)).narrowCheckpoint() else df
    val (nb, b, pr) =
      if (numBits != 0) (numBits, bands, math.max(0, probes))
      else {
        val wantProbes = probes match {
          case -1 => in.count() >= MultiprobeMinRows
          case p  => p == 1
        }
        if (wantProbes) srpPlanFor(threshold)
        else { // small corpus: minimize the LINEAR cost instead of ff
          val (gb, gbb) = srpGeometryFor(threshold)
          (gb, gbb, 0)
        }
      }
    val cand = srpCandidates(in, dim, nb, b, idCol, vecCol, pr)
    val vecs = in.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vv"))
      .withColumn("nrm", sqrt(dot(col("vv"), col("vv"))))
      .filter(col("nrm") > 0)
    Ordered.smallResult(
      cand
        .join(vecs.select(col("id").as("v1"), col("vv").as("va"), col("nrm").as("na")), Seq("v1"))
        .join(vecs.select(col("id").as("v2"), col("vv").as("vb"), col("nrm").as("nb")), Seq("v2"))
        .select(col("v1"), col("v2"),
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cosine"))
        .filter(col("cosine") >= threshold),
      "v1", "v2")
  }

  /** Product quantization with asymmetric-distance (ADC) probing — the
    * memory-bound ANN compression path (Jégou, Douze, Schmid 2011; used by
    * every billion-scale vector index). Each `m·subDim`-dim vector splits
    * into `m` sub-blocks; a `k`-entry codebook per block (hash-ordered
    * seeds, one Lloyd refinement, centroid coordinates rounded to 6 dp so
    * partial-sum order cannot wobble an assignment) turns a stored vector
    * into `m` small codes — at (m=4, k=8), 64 floats become four 3-bit
    * codes. A query is answered WITHOUT reconstructing vectors: its exact
    * sub-vectors score once against each block's k centroids (an m×k
    * lookup table) and a stored vector's ADC distance is the SUM of its
    * codes' table entries. Scale shape: codebooks and LUT are tiny
    * broadcasts; probe-time per-vector work is an m-way broadcast join on
    * code ids — no embedding arrays move. Distances are squared L2 via the
    * [[org.apache.spark.sql.graftfns.VectorFunctions.dot]] kernel identity
    * |a−b|² = aa − 2ab + bb, stated identically in the DuckDB oracle.
    * Deterministic end-to-end: hash-ordered seeds, (distance, code)
    * lexicographic assignment ties, (adc, id) result order.
    */
  def pqAdcTopK(
      df: DataFrame,
      m: Int,
      subDim: Int,
      k: Int,
      queryId: Long,
      topK: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && subDim >= 1 && k >= 2 && topK >= 1,
      s"bad PQ config: m=$m subDim=$subDim k=$k topK=$topK")
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val (codes, luts) = pqQuantize(e, m, subDim, k, queriesOf(e, Seq(queryId)))
    pqAdcRank(codes, luts)
      .select(col("vid").as(idCol), col("adc"))
      .limit(topK)
  }

  /** Squared L2 via the dot-kernel identity |a−b|² = aa − 2ab + bb —
    * the exact arithmetic every PQ path (and its oracle) states. */
  private def sqDist(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** The `(qid, qv)` query frame for the PQ paths, from the canonical
    * `(vid, v)` frame. */
  private def queriesOf(e: DataFrame, queryIds: Seq[Long]): DataFrame =
    e.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("v").as("qv"))

  // ---------------------------------------------- per-JVM quantizer cache

  /** Per-JVM cache of TRAINED QUANTIZER STATE — PQ codebooks (k×m rows) and
    * coarse k-means centroids (k rows) — keyed by a content fingerprint of
    * the canonical corpus frame plus the quantizer config. The in-plan PQ /
    * IVF+PQ variants re-train on every execution by construction (they are
    * the teaching twins of the persisted indexes); training is
    * deterministic in the corpus (hash-ordered seeds, 6-dp-rounded means),
    * so two corpora with equal content train equal quantizers and the
    * second execution can skip the ~3·m corpus passes entirely. Only
    * k-row-bounded state is ever cached (the [[ivfProbePersisted]] routing
    * envelope) — never assignments or code tables, which are corpus-sized.
    * Keys include the owning session's UUID: `localCheckpoint`ed frames
    * die with their session, so a fresh session re-trains rather than
    * touching another session's blocks (a UUID, unlike an identity hash
    * code, can never be reused by a new session object after GC). The
    * cache is LRU-BOUNDED: quantizer state is k-row-small but a long-lived
    * JVM cycling many corpora would otherwise accumulate entries (and pin
    * their checkpoint blocks) without limit.
    */
  private val QuantCacheMax = 64
  private val quantizerCache: java.util.Map[String, Seq[DataFrame]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[DataFrame]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[DataFrame]]): Boolean =
          size() > QuantCacheMax
      })

  /** One UUID per SparkSession object, weakly held — the session-lifetime
    * cache-key component ([[quantizerCache]] scaladoc). */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def sessionId(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Content fingerprint of a canonical `(vid, v)` frame: order-independent
    * WRAPPING-SUM fold of per-row xxhash64 (summed in DECIMAL(38,0) so ANSI
    * mode cannot overflow and — unlike the XOR fold this replaces — a row
    * with even multiplicity does not cancel out of the fingerprint: corpora
    * {x,x,y} and {z,z,y} no longer share a key) plus the row count — one
    * cheap agg job over an already-checkpointed frame. */
  private def corpusKey(e: DataFrame): String = {
    val r = e.agg(
      coalesce(sum(xxhash64(col("vid"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")),
      count(lit(1))).head()
    // The RESOLVED materialize mode is part of the key: a centroid frame
    // checkpointed under local mode is executor-resident and NOT
    // fault-tolerant, so serving it after the session flips to reliable
    // would silently weaken the flipped session's durability contract —
    // the flip re-trains (cheap, k-row-bounded state) under the new mode.
    val mode = e.sparkSession.conf.get(Materialize.ModeConf, "local")
    s"${sessionId(e.sparkSession)}:$mode:${r.getDecimal(0)}:${r.getLong(1)}"
  }

  /** [[pqCodebooks]] through the per-JVM cache (bit-identical: training is
    * deterministic, and the cache returns the same checkpointed frames).
    * `key` lets a caller that already fingerprinted the corpus (e.g.
    * [[ivfPqTopK]], which also caches centroids) pay for the agg job once.
    */
  private def cachedPqCodebooks(
      e: DataFrame, m: Int, subDim: Int, k: Int,
      key: Option[String] = None): Seq[DataFrame] =
    quantizerCache.computeIfAbsent(
      s"pq:${key.getOrElse(corpusKey(e))}:$m:$subDim:$k",
      _ => pqCodebooks(e, m, subDim, k).map(_.pinnedCheckpoint()))

  /** [[cachedPqCodebooks]] for a frame used ONLY as training input (the
    * drift audits' stale corpus): the corpus copy is materialized inside
    * the cache-MISS branch, so a warm execution pays one fingerprint
    * aggregate and never a corpus-sized checkpoint — the eager
    * canonicalize-and-checkpoint before the cache lookup was pure waste on
    * a hit, a full corpus materialization per execution whose only reader
    * was the (cached) trainer (optimization r21). Key space shared with
    * [[cachedPqCodebooks]]: the fingerprint is content-based, so the same
    * corpus hits the same entry through either entry point.
    */
  private def cachedPqCodebooksTrainOnly(
      eRaw: DataFrame, m: Int, subDim: Int, k: Int): Seq[DataFrame] =
    quantizerCache.computeIfAbsent(
      s"pq:${corpusKey(eRaw)}:$m:$subDim:$k",
      _ => pqCodebooks(eRaw.narrowCheckpointIfSmall(), m, subDim, k)
        .map(_.pinnedCheckpoint()))

  /** [[centroidsKMeans]]'s cache entry for an ALREADY-canonical `(vid, v)`
    * frame with an optionally precomputed fingerprint (key space shared
    * with the public method — same content, same entry). */
  private def cachedCentroids(
      e: DataFrame, k: Int, rounds: Int,
      idCol: String, vecCol: String,
      key: Option[String] = None): DataFrame =
    quantizerCache.computeIfAbsent(
      s"km:${key.getOrElse(corpusKey(e))}:$k:$rounds",
      _ => Seq(kMeansTrain(e, k, rounds, idCol, vecCol).pinnedCheckpoint()))
      .head

  /** PQ quantization shared by [[pqAdcTopK]], [[ivfPqTopK]] and
    * [[pqAdcRecall]]: the one-projection codes frame `(vid, c0..c<m-1>)`
    * plus the `m` per-query ADC lookup frames `(qid, c<b>, d<b>)`.
    * `e` must be the canonical `(vid: long, v: array<double>)` frame;
    * `queries` the `(qid, qv)` batch — codebooks and code assignments are
    * query-independent, so a query batch shares one quantization (and the
    * codebooks themselves come from the per-JVM cache).
    */
  private def pqQuantize(
      e: DataFrame,
      m: Int,
      subDim: Int,
      k: Int,
      queries: DataFrame,
      key: Option[String] = None): (DataFrame, Seq[DataFrame]) = {
    val cbs = cachedPqCodebooks(e, m, subDim, k, key)
    (pqAssignAll(e, cbs, subDim),
      cbs.zipWithIndex.map { case (cb, b) => pqLutBlock(queries, cb, b, subDim) })
  }

  /** The block sub-vector: positions `[b·subDim+1, (b+1)·subDim]`. */
  private def pqBlk(c: Column, b: Int, subDim: Int): Column =
    slice(c, b * subDim + 1, subDim)

  /** The `m` per-block PQ codebooks `(c, cv)` — query-independent, the part
    * of the quantization [[pqBuild]] persists. k hash-ordered seed vectors
    * with stable code ids (tiny, broadcast). Top-k by (hash, vid) via
    * orderBy+limit — TakeOrderedAndProject keeps it a per-partition top-k
    * merge, never a global sort (the first cut ranked the WHOLE corpus
    * through an empty-partition window: one task sorts every vector at
    * 100 TB). Code ids come from one sorted-array expression over the k
    * survivors — same (hash, vid) order, no window. Per block: seed
    * assignment, then one Lloyd round (per-(code, position) means rounded
    * to 6 dp so partial-sum order cannot wobble an assignment, rebuilt into
    * centroid arrays in position order).
    */
  private def pqCodebooks(
      e: DataFrame,
      m: Int,
      subDim: Int,
      k: Int): Seq[DataFrame] = {
    val hOrd = pmod(col("vid") * lit(2654435761L), lit(4294967296L))
    val seeds = e.withColumn("__h", hOrd)
      .select(col("__h"), col("vid"), col("v"))
      .orderBy(col("__h"), col("vid")).limit(k)
      .agg(array_sort(collect_list(struct(col("__h"), col("vid"), col("v")))).as("__a"))
      .select(posexplode(col("__a")).as(Seq("code", "__s")))
      .select(col("code"), col("__s.v").as("sv"))
    (0 until m).map { b =>
      val a1 = e.crossJoin(broadcast(seeds))
        .groupBy(col("vid"))
        .agg(min_by(col("code"),
          struct(sqDist(pqBlk(col("v"), b, subDim), pqBlk(col("sv"), b, subDim)),
            col("code"))).as("c"))
      e.join(a1, "vid")
        .select(col("c"), posexplode(pqBlk(col("v"), b, subDim)))
        .withColumnRenamed("col", "x")
        .groupBy(col("c"), col("pos"))
        .agg(round(avg(col("x")), 6).as("mu"))
        .groupBy(col("c"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
          p => p.getField("mu")).as("cv"))
    }
  }

  /** A codebook frame as literal `(code, centroid)` pairs sorted by code —
    * k rows collected to the driver, the same bounded routing-state
    * envelope as the persisted probes' centroid tables.
    *
    * Memoized per frame IDENTITY (optimization r21): the quantizer frames
    * [[quantizerCache]] serves are stable objects, yet every execution of
    * a PQ path re-collected the same k rows — one small but SERIAL driver
    * job per block per run (m blocks × up to two codebook generations = 8
    * scheduling round-trips on a warm ADC query whose real task work is
    * milliseconds; BenchProbe measured `ann_ivfpq_topk` at 22 serial jobs
    * for 0.2 s of task time). Weak keys: an evicted or non-cached codebook
    * frame releases its literal with the frame. Only k-row-bounded state —
    * the same envelope as the quantizer cache itself.
    */
  private val cbLiteralCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Seq[(Int, Seq[Double])]]())
  // The Spark collect runs OUTSIDE the map mutex (ADVICE r21): holding the
  // single synchronizedMap lock through a driver job would serialize
  // concurrent PQ queries over DIFFERENT codebooks on exactly the driver
  // round-trips this memoization removes. get → collect → putIfAbsent is
  // safe for a value cache: a racing duplicate collect yields the same
  // k-row literal (checkpointed frames are stable), and first-put wins.
  private def cbLiteral(cb: DataFrame): Seq[(Int, Seq[Double])] = {
    val hit = cbLiteralCache.get(cb)
    if (hit != null) hit
    else {
      val v = cb.select(col("c"), col("cv")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
      val prev = cbLiteralCache.putIfAbsent(cb, v)
      if (prev != null) prev else v
    }
  }

  /** Code assignment for block `b` as a COLUMN: nearest centroid under
    * squared L2, ties to the smaller code — an argmin over k literal
    * centroid arrays, so encoding the corpus is a pure projection with no
    * join or shuffle at all (the earlier broadcast-join + `min_by`
    * formulation re-shuffled the corpus once PER BLOCK on every
    * execution). Bit-identical to that formulation: the same [[sqDist]]
    * folds over the same doubles (centroid values round-trip the driver
    * exactly), and first-match `array_position` = smallest code on ties
    * (the literal is code-sorted). */
  private def pqAssignCol(
      cbl: Seq[(Int, Seq[Double])], b: Int, subDim: Int): Column = {
    val dists = array(cbl.map { case (_, cv) =>
      sqDist(pqBlk(col("v"), b, subDim), typedlit(cv)) }: _*)
    element_at(typedlit(cbl.map(_._1)),
      array_position(dists, array_min(dists)).cast("int"))
  }

  /** `(vid, c0..c<m-1>)` — the corpus encoded against all m codebooks in
    * ONE projection over `e`. */
  private def pqAssignAll(
      e: DataFrame, cbs: Seq[DataFrame], subDim: Int): DataFrame =
    e.select(col("vid") +: cbs.zipWithIndex.map { case (cb, b) =>
      pqAssignCol(cbLiteral(cb), b, subDim).as(s"c$b") }: _*)

  /** Per-query ADC lookup rows for block `b`: `(qid, c<b>, d<b>)` — the
    * query sub-vector scored once against each of the k centroids. */
  private def pqLutBlock(
      queries: DataFrame, cb: DataFrame, b: Int, subDim: Int): DataFrame =
    queries.crossJoin(broadcast(cb))
      .select(col("qid"), col("c").as(s"c$b"),
        sqDist(pqBlk(col("qv"), b, subDim), col("cv")).as(s"d$b"))

  /** ADC ranking tail shared by the PQ paths: fold the broadcast LUT rows
    * into the codes frame (keyed `(qid, c<b>)` — one ranking per query in
    * the batch), exclude each query's own row, order by (qid, adc, vid).
    * `base` defaults to the full code table; [[ivfPqTopK]] passes a
    * cluster-restricted candidate frame instead.
    */
  private def pqAdcRank(
      codes: DataFrame,
      luts: Seq[DataFrame],
      candidates: Option[DataFrame] = None): DataFrame = {
    val m = luts.size
    val base = candidates.map(c => codes.join(c, "vid")).getOrElse(codes)
    val scored = luts.zipWithIndex.foldLeft(base) {
      case (acc, (lut, b)) =>
        acc.join(broadcast(lut), if (b == 0) Seq(s"c$b") else Seq("qid", s"c$b"))
    }
    scored.filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        round((0 until m).map(b => col(s"d$b")).reduce(_ + _), 4).as("adc"))
      .orderBy(col("qid"), col("adc"), col("vid"))
  }

  /** Recall@k audit for the PQ/ADC approximation — [[ivfRecallBatch]]'s
    * twin for the OTHER approximation in the repo: per query, the exact
    * squared-L2 top-k (the very distance ADC approximates, same 4-dp
    * rounding and (distance, id) tie order) compared against the ADC
    * ranking's top-k, reduced to `n_hit` / `recall_at_k`. This prices PQ's
    * distance distortion as a measured, gateable number: more blocks /
    * more codes move recall up, and a regression in seeding, the Lloyd
    * round, code assignment, or LUT arithmetic turns the gate red. One
    * quantization serves the whole query batch (codebooks and code
    * assignments are query-independent); the exact side is one broadcast
    * scan-score of the corpus against the query batch.
    */
  def pqAdcRecall(
      df: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      m: Int,
      subDim: Int,
      kCodes: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && subDim >= 1 && kCodes >= 2 && k >= 1,
      s"bad PQ config: m=$m subDim=$subDim kCodes=$kCodes k=$k")
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val queries = queriesOf(e, queryIds).narrowCheckpoint()
    pqRecallCounts(e, cachedPqCodebooks(e, m, subDim, kCodes), queries, k, subDim)
      .select(col("qid").as("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit") / lit(k.toDouble), 4).as("recall_at_k"))
      .transform(r => Ordered.smallResult(r, "query_id"))
  }

  /** Per-query exact squared-L2 top-k `(qid, vid)` — the codebook-INDEPENDENT
    * side of every PQ recall audit, factored out so drift audits that rank
    * twice (stale + fresh) pay for it once. */
  private def pqExactTop(e: DataFrame, queries: DataFrame, k: Int): DataFrame =
    perQidTopKBy(
      e.crossJoin(broadcast(queries))
        .filter(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"),
          round(sqDist(col("v"), col("qv")), 4).as("d2")),
      k, "vid", asc("d2"))
      .select(col("qid"), col("vid"))

  /** ADC top-k `(qid, vid, __hit)` under the given codes + LUT frames. */
  private def pqAdcTop(
      codes: DataFrame, luts: Seq[DataFrame], k: Int): DataFrame =
    perQidTopKBy(pqAdcRank(codes, luts), k, "vid", asc("adc"))
      .select(col("qid"), col("vid"), lit(1).as("__hit"))

  /** `(qid, n_exact, n_hit)` of an ADC top-k against the exact top-k. */
  private def pqHitCounts(exactTop: DataFrame, adcTop: DataFrame): DataFrame =
    exactTop.join(adcTop, Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))

  /** Recall core shared by [[pqAdcRecall]] and [[pqRecallDrift]]: per-query
    * `(qid, n_exact, n_hit)` of the ADC top-k under the GIVEN codebooks
    * against the exact squared-L2 top-k over `e`. */
  private def pqRecallCounts(
      e: DataFrame,
      cbs: Seq[DataFrame],
      queries: DataFrame,
      k: Int,
      subDim: Int): DataFrame = {
    val luts = cbs.zipWithIndex.map { case (cb, b) =>
      pqLutBlock(queries, cb, b, subDim)
    }
    pqHitCounts(pqExactTop(e, queries, k),
      pqAdcTop(pqAssignAll(e, cbs, subDim), luts, k))
  }

  /** Recall-after-append DRIFT audit for the PQ approximation —
    * [[ivfRecallDrift]]'s twin for the compression axis: the grown corpus
    * `df` is ADC-ranked twice, once under codebooks trained on the
    * PRE-APPEND corpus `staleTrain` (what a persisted index's frozen
    * codebooks hold after [[pqAppend]]s — every row, old and new, carries
    * stale-codebook codes, exactly the on-disk state) and once under
    * codebooks re-trained on the corpus as it stands, each against the
    * exact squared-L2 top-k. One row per query with both numbers:
    * `recall_stale` is the operational signal that says rebuild
    * ([[pqBuild]] re-trains; [[pqAppend]] never does, by design —
    * re-training would silently re-score every stored code), and
    * `recall_fresh` the ceiling a rebuild restores. The exact side is
    * computed once — it is codebook-independent.
    *
    * Reading the pair: fresh ≈ stale (the gate corpus's state) means the
    * recall loss is QUANTIZATION-limited, not staleness-limited — a
    * clustered drift region collapses into one code cell under either
    * generation (ADC cannot rank within a cell; ties break by id), so a
    * rebuild would not help and the remedy is more blocks/codes or
    * exact-rerank of the ADC shortlist. fresh ≫ stale is the rebuild
    * signal proper. Both outcomes are operationally decidable only
    * because both numbers are measured.
    */
  def pqRecallDrift(
      df: DataFrame,
      staleTrain: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      m: Int,
      subDim: Int,
      kCodes: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && subDim >= 1 && kCodes >= 2 && k >= 1,
      s"bad PQ config: m=$m subDim=$subDim kCodes=$kCodes k=$k")
    def canon(x: DataFrame): DataFrame =
      x.select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
    val e = canon(df).narrowCheckpointIfSmall() // corpus-sized (r22)
    val queries = queriesOf(e, queryIds).narrowCheckpoint()
    val exactTop = pqExactTop(e, queries, k).narrowCheckpoint()
    def adcTop(cbs: Seq[DataFrame]) =
      pqAdcTop(pqAssignAll(e, cbs, subDim),
        cbs.zipWithIndex.map { case (cb, b) =>
          pqLutBlock(queries, cb, b, subDim) }, k)
    // Stale side trains through the deferred-checkpoint entry point: on a
    // quantizer-cache hit the stale corpus costs one fingerprint aggregate,
    // not a full materialization ([[cachedPqCodebooksTrainOnly]]).
    pqDriftReport(exactTop,
      adcTop(cachedPqCodebooks(e, m, subDim, kCodes)),
      adcTop(cachedPqCodebooksTrainOnly(canon(staleTrain), m, subDim, kCodes)),
      k)
  }

  /** Join tail shared by the drift audits: one row per query with the
    * shared exact count and both ADC hit counts / recalls. */
  private def pqDriftReport(
      exactTop: DataFrame,
      adcFresh: DataFrame,
      adcStale: DataFrame,
      k: Int): DataFrame = {
    val fresh = pqHitCounts(exactTop, adcFresh)
      .select(col("qid").as("query_id"), col("n_exact"),
        col("n_hit").as("n_hit_fresh"),
        round(col("n_hit") / lit(k.toDouble), 4).as("recall_fresh"))
    val stale = pqHitCounts(exactTop, adcStale)
      .select(col("qid").as("query_id"),
        col("n_hit").as("n_hit_stale"),
        round(col("n_hit") / lit(k.toDouble), 4).as("recall_stale"))
    Ordered.smallResult(fresh.join(stale, Seq("query_id")), "query_id")
  }

  /** [[pqRecallDrift]] with the stale side answered from a PERSISTED PQ
    * index instead of re-quantized in-plan — the production form of the
    * audit: after [[pqBuild]] (codebooks frozen at build time) plus any
    * number of [[pqAppend]]s, `path/codes` holds exactly the
    * stale-codebook encoding of the corpus as it stands, so the stale ADC
    * ranking is a codes-table read + broadcast-LUT fold with NO
    * quantization pass at all. Only the fresh ceiling trains codebooks
    * (on the corpus as it stands, by definition un-persistable), and the
    * codebook-independent exact top-k is computed once and shared by both
    * sides. Fails loud if the index does not cover exactly `df`'s rows —
    * a drift number over a partial index would silently measure a
    * different corpus.
    */
  def pqRecallDriftPersisted(
      df: DataFrame,
      path: String,
      queryIds: Seq[Long],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"bad k=$k")
    val spark = df.sparkSession
    val (m, subDim, kCodes) = pqManifestFull(spark, path)
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val staleCodes = spark.read.parquet(s"$path/codes")
    val nCorpus = e.count()
    val nCodes = staleCodes.select(col("vid")).distinct().count()
    require(nCodes == nCorpus,
      s"persisted index at $path covers $nCodes vids but corpus has $nCorpus")
    val queries = queriesOf(e, queryIds).narrowCheckpoint()
    val exactTop = pqExactTop(e, queries, k).narrowCheckpoint()
    val freshCbs = cachedPqCodebooks(e, m, subDim, kCodes)
    val freshTop = pqAdcTop(pqAssignAll(e, freshCbs, subDim),
      freshCbs.zipWithIndex.map { case (cb, b) =>
        pqLutBlock(queries, cb, b, subDim) }, k)
    val staleTop = pqAdcTop(
      staleCodes.select(col("vid") +: (0 until m).map(b => col(s"c$b")): _*),
      pqCodebooksOf(spark, path, m).zipWithIndex.map { case (cb, b) =>
        pqLutBlock(queries, cb, b, subDim) }, k)
    pqDriftReport(exactTop, freshTop, staleTop, k)
  }

  /** IVF+PQ — the billion-scale composition (FAISS `IVFPQ`, Jégou et al.
    * 2011, here the `by_residual=false` variant: one GLOBAL codebook set,
    * codes quantize raw vectors, so coarse routing and compression stay
    * independently auditable): k-means coarse clusters route the query to
    * its `nprobe` nearest inverted lists, and ONLY vectors on those lists
    * are ranked — by PQ/ADC lookup sums, never by touching embeddings.
    * Composes [[centroidsKMeans]] (routing, broadcast centroid table) with
    * [[pqQuantize]] (compression, broadcast codebooks + LUT). Scale shape:
    * at 100 TB the code table is the persisted index (a parquet table
    * partitioned by cluster, exactly [[ivfBuild]]'s layout with `m` small
    * ints per row instead of the embedding array — a ~`4·subDim/log2(k)`×
    * smaller probe-side scan); the candidate restriction here is the same
    * partition-pruned read, expressed as a broadcast semi-join on the
    * probe list. Both approximations (coarse quantization's recall loss,
    * PQ's distance distortion) are pinned by the oracle, which re-derives
    * routing and codebooks end-to-end.
    */
  def ivfPqTopK(
      df: DataFrame,
      kClusters: Int,
      rounds: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      kCodes: Int,
      queryId: Long,
      topK: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(kClusters >= 1 && rounds >= 0 && nprobe >= 1,
      s"bad IVF config: kClusters=$kClusters rounds=$rounds nprobe=$nprobe")
    require(m >= 1 && subDim >= 1 && kCodes >= 2 && topK >= 1,
      s"bad PQ config: m=$m subDim=$subDim k=$kCodes topK=$topK")
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val ck = Some(corpusKey(e))
    val cents = cachedCentroids(e, kClusters, rounds, "vid", "v", ck)
    val assigned = assignClusters(e, cents, "vid", "v")
      .select(col("vid"), col("cluster"))
    val q = e.filter(col("vid") === queryId).select(col("v").as("__q"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("cl").as("cluster"), cosine(col("cvec"), col("__q")).as("cs"))
      .orderBy(col("cs").desc, col("cluster"))
      .limit(nprobe)
      .select(col("cluster"))
    val candidates = assigned.join(broadcast(probes), "cluster").select(col("vid"))
    val (codes, luts) =
      pqQuantize(e, m, subDim, kCodes, queriesOf(e, Seq(queryId)), ck)
    pqAdcRank(codes, luts, candidates = Some(candidates))
      .select(col("vid").as(idCol), col("adc"))
      .limit(topK)
  }

  // -------------------------------------------------- persisted PQ index

  /** Write a persisted PQ index at `path`: the corpus encoded ONCE into an
    * `m`-column codes table (`path/codes`: `(vid, c0..c<m-1>)`), the m
    * per-block codebooks beside it (`path/codebooks`: `(block, c, cv)`),
    * and a one-row manifest (`path/manifest`: `(m, sub_dim, k)`) so probes
    * need no out-of-band config.
    *
    * This is the piece that makes PQ an INDEX rather than a query shape —
    * and the reason PQ exists at all: [[pqAdcTopK]] re-trains codebooks and
    * re-encodes the corpus inside every query plan (~3·m corpus passes),
    * which at billion scale IS the cost. Here quantization runs once at
    * build time; every probe afterwards reads only the codes table — `m`
    * small ints per row instead of the embedding array, a
    * ~`4·subDim/log2(k)`× smaller scan — and folds in a broadcast LUT
    * computed from the k·m-row codebooks. Same build-once/probe-forever
    * shape as [[ivfBuild]]/[[ivfProbePersisted]], for the OTHER
    * approximation axis (compression instead of routing).
    */
  def pqBuild(
      df: DataFrame,
      path: String,
      m: Int,
      subDim: Int,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(m >= 1 && subDim >= 1 && k >= 2,
      s"bad PQ config: m=$m subDim=$subDim k=$k")
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val cbs = cachedPqCodebooks(e, m, subDim, k)
    pqWriteIndex(e, cbs, path, m, subDim, k, None)
  }

  /** Write a persisted IVF+PQ index at `path`: [[pqBuild]]'s codes table
    * additionally routed by [[centroidsKMeans]] coarse clusters and stored
    * CLUSTER-PARTITIONED (`path/codes/cluster=<c>/…`), the centroid table
    * beside it — [[ivfBuild]]'s partition-pruned probe layout carrying PQ
    * codes instead of embeddings. At 100 TB this is the billion-scale
    * composition stored as it is probed: a probe reads `nprobe/k` of a
    * table whose rows are `m` small ints.
    */
  def ivfPqBuild(
      df: DataFrame,
      path: String,
      kClusters: Int,
      rounds: Int,
      m: Int,
      subDim: Int,
      kCodes: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(kClusters >= 1 && rounds >= 0,
      s"bad IVF config: kClusters=$kClusters rounds=$rounds")
    require(m >= 1 && subDim >= 1 && kCodes >= 2,
      s"bad PQ config: m=$m subDim=$subDim k=$kCodes")
    val e = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val cents = cachedCentroids(e, kClusters, rounds, "vid", "v")
    val cbs = cachedPqCodebooks(e, m, subDim, kCodes)
    val assigned = assignClusters(e, cents, "vid", "v")
      .select(col("vid"), col("cluster"))
    pqWriteIndex(e, cbs, path, m, subDim, kCodes, Some(assigned))
    cents.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Shared write tail for [[pqBuild]]/[[ivfPqBuild]]: encode `e` against
    * the codebooks, join in the optional cluster routing, write codes (+
    * codebooks + manifest). */
  private def pqWriteIndex(
      e: DataFrame,
      cbs: Seq[DataFrame],
      path: String,
      m: Int,
      subDim: Int,
      k: Int,
      routing: Option[DataFrame]): Unit = {
    val codes0 = pqEncode(e, cbs, subDim)
    routing match {
      case Some(assigned) =>
        codes0.join(assigned, "vid")
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
      case None =>
        codes0.write.mode("overwrite").parquet(s"$path/codes")
    }
    cbs.zipWithIndex
      .map { case (cb, b) => cb.select(lit(b).as("block"), col("c"), col("cv")) }
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$path/codebooks")
    val spark = e.sparkSession
    import spark.implicits._
    Seq((m, subDim, k)).toDF("m", "sub_dim", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** `(vid, c0..c<m-1>)` — the corpus encoded block by block against the
    * given codebooks (the [[pqAssignCol]] rule, bit-identical to the
    * in-plan paths'). */
  private def pqEncode(e: DataFrame, cbs: Seq[DataFrame], subDim: Int): DataFrame =
    pqAssignAll(e, cbs, subDim)

  /** `(m, sub_dim)` from a PQ index's manifest. */
  private def pqManifestOf(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int) = {
    val (m, subDim, _) = pqManifestFull(spark, path)
    (m, subDim)
  }

  /** `(m, sub_dim, k)` from a PQ index's manifest. */
  private def pqManifestFull(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"$path/manifest").head()
    (r.getInt(r.fieldIndex("m")), r.getInt(r.fieldIndex("sub_dim")),
      r.getInt(r.fieldIndex("k")))
  }

  /** The m per-block codebook frames read back from a persisted index. */
  private def pqCodebooksOf(
      spark: org.apache.spark.sql.SparkSession, path: String, m: Int): Seq[DataFrame] = {
    val all = spark.read.parquet(s"$path/codebooks")
    (0 until m).map(b => all.filter(col("block") === b).select(col("c"), col("cv")))
  }

  /** ADC ranking tail over a persisted codes table: fold the m broadcast
    * LUT frames (computed from the read-back codebooks against the literal
    * `query` — the [[pqLutBlock]] arithmetic on the same doubles, so ADC
    * sums match the in-plan paths bit-for-bit), sum, round, rank. */
  private def pqProbeRank(
      codes: DataFrame,
      cbs: Seq[DataFrame],
      query: Array[Double],
      subDim: Int,
      topK: Int,
      excludeId: Option[Long],
      idCol: String): DataFrame = {
    val qlit = typedlit(query.toSeq)
    val luts = cbs.zipWithIndex.map { case (cb, b) =>
      cb.select(col("c").as(s"c$b"),
        sqDist(pqBlk(qlit, b, subDim), col("cv")).as(s"d$b"))
    }
    val base = excludeId.fold(codes)(id => codes.filter(col("vid") =!= id))
    luts.zipWithIndex.foldLeft(base) {
      case (acc, (lut, b)) => acc.join(broadcast(lut), s"c$b")
    }
      .select(col("vid").as(idCol),
        round(luts.indices.map(b => col(s"d$b")).reduce(_ + _), 4).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(topK)
  }

  /** Probe a persisted PQ index: ADC top-k against the literal `query`,
    * touching ONLY the codes table (m small ints per row — embeddings are
    * never read at probe time; that is the entire point of PQ). Results are
    * identical to [[pqAdcTopK]] over the build corpus (same codebooks —
    * persisted, not re-trained — same codes, same LUT arithmetic, same
    * (adc, id) order) minus the ~3·m per-query quantization passes.
    */
  def pqProbePersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      topK: Int,
      excludeId: Option[Long] = None,
      idCol: String = "vec_id"): DataFrame = {
    val (m, subDim) = pqManifestOf(spark, path)
    pqProbeRank(spark.read.parquet(s"$path/codes"), pqCodebooksOf(spark, path, m),
      query, subDim, topK, excludeId, idCol)
  }

  /** Probe a persisted IVF+PQ index: the probe list comes from the k-row
    * centroid table exactly as [[ivfProbePersisted]] ([[probedClustersOf]]
    * — a literal `IN` the scan prunes `cluster=` partitions with at
    * planning time), and ONLY those partitions' code rows are ADC-ranked.
    * Results are identical to [[ivfPqTopK]] over the build corpus: same
    * centroids (persisted), same probe-list order, same codebooks, same
    * ADC sums.
    */
  def ivfPqProbePersisted(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Array[Double],
      topK: Int,
      nprobe: Int,
      excludeId: Option[Long] = None,
      idCol: String = "vec_id"): DataFrame = {
    val (m, subDim) = pqManifestOf(spark, path)
    val probed = probedClustersOf(spark, path, query, nprobe)
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cluster").isin(probed: _*))
    pqProbeRank(codes, pqCodebooksOf(spark, path, m),
      query, subDim, topK, excludeId, idCol)
  }

  /** Two-stage probe over a persisted IVF+PQ index: ADC narrows, exact
    * reranks — the standard production remedy for PQ's quantization
    * ceiling (a clustered region collapses into one code cell, where ADC
    * cannot rank; [[pqRecallDrift]]'s fresh≈stale outcome is exactly this
    * signature). Stage 1 is [[ivfPqProbePersisted]] for a `shortlist`-row
    * candidate set — partition-pruned codes scan, no embeddings touched.
    * Stage 2 joins the broadcast shortlist (C rows) against the embedding
    * SOURCE table by id and ranks those C rows by exact squared L2 (the
    * very distance ADC approximates, same 4-dp rounding and (d, id) tie
    * order). At 100 TB the cost shape is: codes-table scan of `nprobe/k`
    * of the corpus + an embedding read of C rows via the broadcast
    * semi-join — never a full embedding scan; C is the recall/IO knob
    * (top-k is exact within the shortlist, so recall@k equals shortlist
    * coverage of the true top-k).
    */
  def ivfPqProbeRerank(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      source: DataFrame,
      query: Array[Double],
      topK: Int,
      nprobe: Int,
      shortlist: Int,
      excludeId: Option[Long] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= topK,
      s"shortlist ($shortlist) must be >= topK ($topK)")
    val short = ivfPqProbePersisted(spark, path, query, shortlist, nprobe,
        excludeId, idCol = "vid")
      .select(col("vid"))
    val qlit = typedlit(query.toSeq)
    source.select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(short), "vid")
      .select(col("vid").as(idCol), round(sqDist(col("__v"), qlit), 4).as("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(topK)
  }

  /** Fold a PQ index's accumulated append files back together — one file
    * per cluster partition for an IVF+PQ index, `numFiles` total for a
    * plain PQ index (content unchanged, probes identical; see
    * [[Layout.compactInPlace]] for the swap discipline). NOTE the rebuild
    * asymmetry with IVF: [[ivfRecluster]] re-trains from the index's own
    * vectors table, but a PQ index cannot re-train from its own contents —
    * codes are LOSSY; when [[pqRecallDrift]] says the codebooks no longer
    * describe the data, rebuild with [[pqBuild]]/[[ivfPqBuild]] over the
    * source corpus (or keep probes exact-on-top via [[ivfPqProbeRerank]]).
    */
  def pqCompact(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val clustered =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids"))
    Layout.compactInPlace(spark, s"$path/codes",
      if (clustered) Seq("cluster") else Seq.empty)
  }

  /** Append an ingest batch to a persisted PQ index IN PLACE: each new
    * vector is encoded against the index's own FROZEN codebooks (read back
    * from `path/codebooks` — the [[pqAssignCol]] rule, bit-identical to
    * the build's) and its code row lands in `path/codes` as a new file.
    * For an IVF+PQ index the row is also routed to its nearest EXISTING
    * centroid so it lands in that cluster's partition ([[ivfAppend]]'s
    * discipline). Appending updates neither codebooks nor centroids by
    * design — re-training would silently re-score every already-written
    * code; when measured ADC recall against the stale codebooks degrades
    * ([[pqRecallDrift]]'s signal), rebuild with [[pqBuild]]/[[ivfPqBuild]].
    */
  def pqAppend(
      batch: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val (m, subDim) = pqManifestOf(spark, path)
    val e = batch.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .narrowCheckpointIfSmall() // batch-sized — size-gated (r22)
    val codes = pqEncode(e, pqCodebooksOf(spark, path, m), subDim)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids"))) {
      val centroids = spark.read.parquet(s"$path/centroids")
      codes.join(assignClusters(e, centroids, "vid", "v")
          .select(col("vid"), col("cluster")), "vid")
        .write.mode("append").partitionBy("cluster").parquet(s"$path/codes")
    } else {
      codes.write.mode("append").parquet(s"$path/codes")
    }
  }
}
