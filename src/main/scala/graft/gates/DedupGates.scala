package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.uts._
import graft.ops.{Dedup, Similarity, Text}
import Shared._

/** Dedup gates: exact, n-gram Jaccard, semantic and span dedup, the kNN
  * graph and its recall, append and streaming lifecycles, PageRank and
  * contrastive negatives.
  */
private[graft] object DedupGates extends GateFamily {
  /** Shared k-means re-derivation (auto-k Knuth-hash seeds, two Lloyd
    * rounds under cosine, argmax assignment — the
    * `centroidsKMeans(autoClusters(n), rounds=2)` pipeline) as a CTE-chain
    * fragment ending in `assign(vec_id, cluster)` — spliced into every
    * oracle that clusters the embeddings corpus so they cannot drift from
    * each other. The seed count re-derives
    * [[graft.ops.Similarity.autoClusters]]'s `max(4, ceil(sqrt(n/31)))`
    * from the corpus count, so the oracle tracks the engine's default
    * k ∝ √n schedule at every scale without a side channel.
    */
  private val KMeansAutoCtes =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
      |seeds AS (SELECT cl, cvec FROM (
      |            SELECT vec_id AS cl, v AS cvec,
      |                   row_number() OVER (
      |                     ORDER BY (vec_id * 2654435761) % 4294967296,
      |                              vec_id) AS rn,
      |                   count(*) OVER () AS n
      |            FROM e)
      |          WHERE rn <= greatest(4, CAST(ceil(sqrt(n / 31.0)) AS BIGINT))),
      |a1 AS (SELECT vec_id, arg_max(cl, cs) AS cl FROM
      |         (SELECT e.vec_id, s.cl, list_cosine_similarity(e.v, s.cvec) AS cs
      |          FROM e, seeds s) GROUP BY vec_id),
      |c1 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
      |         (SELECT a1.cl, ex.pos, avg(ex.x) AS m
      |          FROM ex JOIN a1 USING (vec_id) GROUP BY a1.cl, ex.pos)
      |       GROUP BY cl),
      |a2 AS (SELECT vec_id, arg_max(cl, cs) AS cl FROM
      |         (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
      |          FROM e, c1 c) GROUP BY vec_id),
      |c2 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM
      |         (SELECT a2.cl, ex.pos, avg(ex.x) AS m
      |          FROM ex JOIN a2 USING (vec_id) GROUP BY a2.cl, ex.pos)
      |       GROUP BY cl),
      |assign AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
      |             (SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cvec) AS cs
      |              FROM e, c2 c) GROUP BY vec_id)""".stripMargin

  /** The union-corpus frozen-centroid graph re-derivation shared by
    * `knn_graph_append` and `stream_knn_ingest` (one batch vs a two-batch
    * replay — identical final state by the append contract). */
  private lazy val KnnAppendUnionSql =
    s"""WITH $KMeansAutoCtes,
       |planted AS (SELECT vec_id + 100000 AS vec_id,
       |                   list_concat(v[2:], [v[1]]) AS v
       |            FROM e WHERE vec_id % 10 = 0),
       |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM planted),
       |uassign AS (SELECT vec_id, arg_max(cl, cs) AS cluster FROM
       |              (SELECT u.vec_id, c.cl,
       |                      list_cosine_similarity(u.v, c.cvec) AS cs
       |               FROM u, c2 c) GROUP BY vec_id),
       |nbrs AS (SELECT ua.vec_id AS src, b.vec_id AS dst,
       |                round(list_cosine_similarity(a.v, b.v), 4) AS cs
       |         FROM u a JOIN uassign ua ON a.vec_id = ua.vec_id
       |              JOIN u b ON a.vec_id <> b.vec_id
       |              JOIN uassign ub ON b.vec_id = ub.vec_id
       |                           AND ua.cluster = ub.cluster),
       |r AS (SELECT src, dst, cs,
       |             row_number() OVER (PARTITION BY src
       |               ORDER BY cs DESC, dst) AS nbr_rank
       |      FROM nbrs)
       |SELECT src AS vec_id, nbr_rank, dst AS neighbor_id, cs AS cosine
       |FROM r WHERE nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin

  /** Full reachability closure over the exact-Jaccard pair edges — shared
    * by `dedup_cluster_rep` (min-label propagation) and
    * `dedup_cluster_rep_logstar` (large-star/small-star contraction): two
    * algorithms, one independently-computed answer.
    */
  private val ClusterRepSql =
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
       |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id)
       |SELECT id AS doc_id, min(r) AS rep_id,
       |       CAST(min(r) <> id AS INT) AS is_dup
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Dedup.exact(T(s, dir, "documents"), "text"), "doc_id")
  gate("dedup_exact", dedupExact,
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)

  private def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(T(s, dir, "documents"), n = 3, threshold = 0.6)
  gate("dedup_jaccard_pairs", dedupJaccardPairs, JaccardPairsSql)

  /** The ppjoin-style prefix-filtered plan under the same exact-Jaccard
    * oracle as `dedup_jaccard_pairs`: prefix filtering is lossless for
    * J ≥ threshold (two sets over a common total order must share a prefix
    * shingle), so the output is identical — the gate turns any divergence
    * between the prefix plan and the count-bound plan red.
    */
  private def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefixFiltered(T(s, dir, "documents"), n = 3, threshold = 0.6)
  gate("dedup_jaccard_prefix", dedupJaccardPrefix, JaccardPairsSql)

  /** SemDeDup over the embeddings corpus at the DEFAULT auto-k schedule
    * (`nClusters = None` ⇒ [[graft.ops.Similarity.autoClusters]] k ∝ √n,
    * 2 Lloyd rounds) scoping the cosine-0.8 near-dup pass to
    * within-cluster pairs — the gate exercises the no-thought path a
    * production caller gets, and the oracle re-derives the same
    * data-dependent k from its own count.
    */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, threshold = 0.8)
  // SemDeDup: the ann_ivf_topk_nolabel k-means re-derivation (hash seeds,
  // two Lloyd rounds, argmax assignment) feeding a WITHIN-cluster pair
  // join under the dedup_embedding keep rule — near-dup verdicts scoped by
  // cluster, so a cross-cluster twin legitimately stays.
  gate("dedup_semantic", dedupSemantic,
    s"""WITH $KMeansAutoCtes,
      |pairs AS (SELECT ea.vec_id AS v1, eb.vec_id AS v2
      |          FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
      |               JOIN e eb ON ea.vec_id < eb.vec_id
      |               JOIN assign ab ON eb.vec_id = ab.vec_id
      |                            AND aa.cluster = ab.cluster
      |          WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.8),
      |low AS (SELECT v2 AS id, min(v1) AS low FROM pairs GROUP BY v2)
      |SELECT e.vec_id, a.cluster,
      |       least(e.vec_id, coalesce(low.low, e.vec_id)) AS rep_id,
      |       CAST(least(e.vec_id, coalesce(low.low, e.vec_id)) <> e.vec_id AS INT) AS is_dup
      |FROM e JOIN assign a USING (vec_id) LEFT JOIN low ON low.id = e.vec_id
      |ORDER BY e.vec_id""".stripMargin)

  /** Cluster-scoped kNN-graph gate ([[graft.ops.Similarity.knnGraph]]):
    * each vector's 3 nearest in-cluster neighbors over the shared
    * KMeans8 pipeline — the graph-analysis primitive gated end to end
    * (seeding, Lloyd rounds, assignment, pair scope, (cosine, id) rank
    * order all re-derived by the oracle).
    */
  private def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, kNeighbors = 3)
  // The same k-means pipeline feeding a per-source (cosine DESC, id)
  // rank over within-cluster candidate pairs — the kNN graph re-derived
  // whole.
  gate("knn_graph", knnGraphQ,
    s"""WITH $KMeansAutoCtes,
      |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
      |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
      |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
      |              JOIN e eb ON ea.vec_id <> eb.vec_id
      |              JOIN assign ab ON eb.vec_id = ab.vec_id
      |                           AND aa.cluster = ab.cluster),
      |r AS (SELECT src, dst, cs,
      |             row_number() OVER (PARTITION BY src
      |               ORDER BY cs DESC, dst) AS nbr_rank
      |      FROM nbrs)
      |SELECT src AS vec_id, nbr_rank, dst AS neighbor_id, cs AS cosine
      |FROM r WHERE nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin)

  /** Contrastive negative-sampling gate
    * ([[graft.ops.Similarity.negativeSample]]): per vector, 4 pool
    * negatives excluding its kNN positives — the (anchor, positives,
    * negatives) triple builder's third leg, deterministic end-to-end
    * (hash-bottom pool, pair-mix draw order), so the oracle re-derives
    * pool, exclusions and ranks exactly.
    */
  private def negSampleQ(s: SparkSession, dir: String): DataFrame =
    Similarity.negativeSample(T(s, dir, "embeddings"),
      knnIndexEdges(s, dir), poolSize = 64, kNeg = 4)
  // Pool negatives: the knn derivation's edge set excluded from a
  // hash-bottom-64 pool, ranked per anchor by the exact pair-mix hash.
  gate("contrastive_negatives", negSampleQ,
    s"""WITH $KMeansAutoCtes,
       |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
       |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
       |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
       |              JOIN e eb ON ea.vec_id <> eb.vec_id
       |              JOIN assign ab ON eb.vec_id = ab.vec_id
       |                           AND aa.cluster = ab.cluster),
       |knn AS (SELECT src, dst FROM (
       |          SELECT src, dst,
       |                 row_number() OVER (PARTITION BY src
       |                   ORDER BY cs DESC, dst) AS nbr_rank
       |          FROM nbrs) WHERE nbr_rank <= 3),
       |ids AS (SELECT vec_id AS a FROM e),
       |pool AS (SELECT a AS c FROM ids
       |         ORDER BY (a * 2654435761) % 4294967296, a LIMIT 64),
       |cand AS (SELECT i.a, p.c FROM ids i, pool p
       |         WHERE i.a <> p.c
       |           AND NOT EXISTS (SELECT 1 FROM knn k
       |                           WHERE k.src = i.a AND k.dst = p.c)),
       |r AS (SELECT a, c, row_number() OVER (PARTITION BY a
       |        ORDER BY ((((a % 4294967296) * 100003 + c) % 4294967296)
       |                  * 2654435761) % 4294967296, c) AS neg_rank
       |      FROM cand)
       |SELECT a AS vec_id, neg_rank, c AS neg_id FROM r WHERE neg_rank <= 4
       |ORDER BY vec_id, neg_rank""".stripMargin)

  /** The persisted kNN graph shared by the graph-family consumers
    * (`graph_pagerank`, `contrastive_negatives`): built once per JVM
    * ([[graft.ops.Similarity.knnGraphBuild]] — the build-once artifact
    * real systems materialize), every consumer reads the edge parquet
    * instead of re-paying the Σ|cluster|² candidate scan. `knn_graph`
    * stays the in-plan teaching twin under the same oracle derivation.
    */
  private def knnIndexEdges(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("knn-idx", dir)(p =>
      Similarity.knnGraphBuild(T(s, dir, "embeddings"), p,
        nClusters = None, rounds = 2, kNeighbors = 3))
    Similarity.knnGraphEdges(s, path, nClusters = None, rounds = 2,
      kNeighbors = 3)
  }

  /** Persisted-kNN-graph APPEND gate
    * ([[graft.ops.Similarity.knnGraphAppend]]): build over the base
    * corpus, then ingest a planted batch (every 10th vector, id+100000,
    * dimensions rotated by one — oracle-expressible, norm-preserving) that
    * routes to the FROZEN build centroids; only the touched clusters'
    * edge partitions rewrite, and the oracle re-derives the whole
    * post-append relation as the union corpus assigned under the BASE
    * corpus's centroids — a re-trained routing, a missed board merge, or
    * an unmerged existing board all turn it red.
    */
  private def knnGraphAppendQ(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("knn-append", dir) { p =>
      val base = T(s, dir, "embeddings")
      Similarity.knnGraphBuild(base, p, nClusters = None, rounds = 2,
        kNeighbors = 3)
      val e = col("embedding")
      val batch = base.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000L).as("vec_id"),
        concat(slice(e, lit(2), size(e) - lit(1)), slice(e, lit(1), lit(1)))
          .as("embedding"))
      Similarity.knnGraphAppend(batch, p)
    }
    graft.ops.Ordered.smallResult(
      Similarity.knnGraphEdges(s, path, None, 2, 3), "vec_id", "nbr_rank")
  }
  // Post-append graph = the UNION corpus assigned under the BASE
  // corpus's frozen centroids (c2), pairs and boards re-derived whole —
  // the append contract as one relation. The SAME oracle gates the
  // streaming two-batch replay: append ≡ frozen-centroid union rebuild
  // makes the final state batch-split invariant by construction.
  gate("knn_graph_append", knnGraphAppendQ, KnnAppendUnionSql)

  /** §2.9 streaming GRAPH ingest: the knn_graph_append batch replayed as
    * TWO micro-batches through `foreachBatch` →
    * [[graft.ops.Similarity.knnGraphAppend]], with a
    * [[graft.ops.Similarity.knnGraphCompact]] after the replay (the
    * vectors table folds back to one file per cluster; the graph must
    * read identically through the fold). Because append ≡ frozen-centroid
    * union rebuild, the final graph is BATCH-SPLIT INVARIANT — the second
    * batch's candidates include the first batch's appended vectors, and
    * the oracle is the same one-shot union derivation as
    * `knn_graph_append`.
    */
  private def streamKnnIngest(s: SparkSession, dir: String): DataFrame = {
    val path = builtIndexPath("knn-stream", dir) { p =>
      val base = T(s, dir, "embeddings")
      Similarity.knnGraphBuild(base, s"$p/g", nClusters = None, rounds = 2,
        kNeighbors = 3)
      val e = col("embedding")
      val batchAll = base.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000L).as("vec_id"),
        concat(slice(e, lit(2), size(e) - lit(1)), slice(e, lit(1), lit(1)))
          .as("embedding"))
      for (k <- 0 to 1)
        batchAll.filter(pmod((col("vec_id") / lit(10)).cast("long"), lit(2)) === k)
          .coalesce(1).write.mode("append").parquet(s"$p/src")
      withStateSession(s) { ss =>
        val src = ss.readStream.schema(batchAll.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$p/src")
        val q = src.writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            if (!b.isEmpty) Similarity.knnGraphAppend(b.toDF(), s"$p/g"))
          .option("checkpointLocation", s"$p/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Similarity.knnGraphCompact(s, s"$p/g")
    }
    graft.ops.Ordered.smallResult(
      Similarity.knnGraphEdges(s, s"$path/g", None, 2, 3),
      "vec_id", "nbr_rank")
  }
  gate("stream_knn_ingest", streamKnnIngest, KnnAppendUnionSql)

  /** kNN-graph recall audit gate
    * ([[graft.ops.Similarity.knnGraphRecall]]): the cluster-boundary miss
    * priced as a measured number (3-query sample, global brute-force top-3
    * vs the scoped board) — the approximation-as-a-number discipline every
    * approximate family in the registry carries.
    */
  private def knnGraphRecallQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphRecall(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, kNeighbors = 3, queryIds = Seq(0L, 1L, 2L))
  // The scoped board vs the GLOBAL brute-force top-3 for a 3-query
  // sample — the cluster-boundary miss as a gated number. (gx = the
  // global exact side; `ex` is taken by the shared KMeans scan CTE.)
  gate("knn_graph_recall", knnGraphRecallQ,
    s"""WITH $KMeansAutoCtes,
       |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
       |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
       |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
       |              JOIN e eb ON ea.vec_id <> eb.vec_id
       |              JOIN assign ab ON eb.vec_id = ab.vec_id
       |                           AND aa.cluster = ab.cluster),
       |knn AS (SELECT src, dst FROM (
       |          SELECT src, dst,
       |                 row_number() OVER (PARTITION BY src
       |                   ORDER BY cs DESC, dst) AS nbr_rank
       |          FROM nbrs) WHERE nbr_rank <= 3),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
       |gx AS (SELECT qid, vid FROM (
       |         SELECT q.qid, e.vec_id AS vid,
       |                row_number() OVER (PARTITION BY q.qid
       |                  ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
       |                           e.vec_id) AS rn
       |         FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 3)
       |SELECT gx.qid AS query_id, count(*) AS n_exact,
       |       CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
       |            AS BIGINT) AS n_hit,
       |       round(CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
       |                  AS BIGINT) / 3.0, 4) AS recall_at_k
       |FROM gx LEFT JOIN knn k ON k.src = gx.qid AND k.dst = gx.vid
       |GROUP BY gx.qid ORDER BY query_id""".stripMargin)

  /** The multi-probe REMEDY, measured: the same recall audit at
    * `nProbe = 2` — each vector joins its two nearest clusters' candidate
    * spaces ([[graft.ops.Similarity.knnEdges]]' graph-axis nprobe), so
    * boundary neighbors the single-assign scope structurally misses become
    * reachable. Audit → remedy → re-measured number, the same loop as
    * `ann_ivf_recall_stale` → `ann_ivf_recluster`.
    */
  private def knnGraphRecallMpQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphRecall(T(s, dir, "embeddings"),
      nClusters = None, rounds = 2, kNeighbors = 3, queryIds = Seq(0L, 1L, 2L),
      nProbe = 2)
  // The nProbe=2 remedy re-measured: multi-assign = top-2 clusters per
  // vector by (cosine DESC, cluster); candidates = probe-set overlap,
  // deduped; the rest identical to the single-probe audit.
  gate("knn_graph_recall_mp", knnGraphRecallMpQ,
    s"""WITH $KMeansAutoCtes,
       |multi AS (SELECT vec_id, cl AS cluster FROM (
       |            SELECT e.vec_id, c.cl,
       |                   row_number() OVER (PARTITION BY e.vec_id
       |                     ORDER BY (CASE WHEN isnan(list_cosine_similarity(e.v, c.cvec))
       |                                    THEN 0.0
       |                                    ELSE list_cosine_similarity(e.v, c.cvec) END) DESC,
       |                              c.cl) AS pr
       |            FROM e, c2 c) WHERE pr <= 2),
       |nbrs AS (SELECT DISTINCT ma.vec_id AS src, mb.vec_id AS dst
       |         FROM multi ma JOIN multi mb
       |              ON ma.cluster = mb.cluster AND ma.vec_id <> mb.vec_id),
       |scored AS (SELECT n.src, n.dst,
       |                  round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
       |           FROM nbrs n JOIN e ea ON ea.vec_id = n.src
       |                JOIN e eb ON eb.vec_id = n.dst),
       |knn AS (SELECT src, dst FROM (
       |          SELECT src, dst,
       |                 row_number() OVER (PARTITION BY src
       |                   ORDER BY cs DESC, dst) AS nbr_rank
       |          FROM scored) WHERE nbr_rank <= 3),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
       |gx AS (SELECT qid, vid FROM (
       |         SELECT q.qid, e.vec_id AS vid,
       |                row_number() OVER (PARTITION BY q.qid
       |                  ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC,
       |                           e.vec_id) AS rn
       |         FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 3)
       |SELECT gx.qid AS query_id, count(*) AS n_exact,
       |       CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
       |            AS BIGINT) AS n_hit,
       |       round(CAST(coalesce(sum(CASE WHEN k.dst IS NOT NULL THEN 1 END), 0)
       |                  AS BIGINT) / 3.0, 4) AS recall_at_k
       |FROM gx LEFT JOIN knn k ON k.src = gx.qid AND k.dst = gx.vid
       |GROUP BY gx.qid ORDER BY query_id""".stripMargin)

  /** Integer-exact PageRank gate ([[graft.ops.Graph.pageRankInt]]) over
    * the cluster-scoped kNN edge set: 5 synchronous power steps with
    * damping as the exact rational 17/20 and all mass in scaled-long
    * units, so every rank is a deterministic integer both engines derive
    * bit-identically — the oracle unrolls the same 5 iterations as
    * chained CTEs over the shared KMeans8 + kNN derivation. High-rank
    * vectors are the corpus's similarity hubs (dense near-dup regions) —
    * the graph-centrality signal dedup-priority and sampling pipelines
    * weight by.
    */
  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.ops.Ordered.smallResult(
      graft.ops.Graph.pageRankInt(
        emb.select(col("vec_id")),
        knnIndexEdges(s, dir)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
        iterations = 5, idCol = "vec_id")
        .select(col("id").as("vec_id"), col("pr")),
      "vec_id")
  }
  // Integer-exact PageRank: the knn derivation above feeding 5 UNROLLED
  // power-step CTEs — teleport (3S)//(20n), per-edge (r*17)//(20*deg),
  // all BIGINT floor arithmetic, so both engines derive identical ranks.
  gate("graph_pagerank", graphPagerank,
    {
    val iters = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT nd.id, t.tele + coalesce(m.m, 0) AS r
         |  FROM nodes nd
         |  CROSS JOIN (SELECT 3000000000000 // (20 * n) AS tele FROM cnt) t
         |  LEFT JOIN (
         |    SELECT k.dst AS id,
         |           CAST(sum((p.r * 17) // (20 * d.deg)) AS BIGINT) AS m
         |    FROM knn k JOIN pr${i - 1} p ON p.id = k.src
         |         JOIN deg d ON d.src = k.src
         |    GROUP BY k.dst) m ON m.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $KMeansAutoCtes,
       |nbrs AS (SELECT aa.vec_id AS src, eb.vec_id AS dst,
       |                round(list_cosine_similarity(ea.v, eb.v), 4) AS cs
       |         FROM e ea JOIN assign aa ON ea.vec_id = aa.vec_id
       |              JOIN e eb ON ea.vec_id <> eb.vec_id
       |              JOIN assign ab ON eb.vec_id = ab.vec_id
       |                           AND aa.cluster = ab.cluster),
       |knn AS (SELECT src, dst FROM (
       |          SELECT src, dst,
       |                 row_number() OVER (PARTITION BY src
       |                   ORDER BY cs DESC, dst) AS nbr_rank
       |          FROM nbrs) WHERE nbr_rank <= 3),
       |nodes AS (SELECT vec_id AS id FROM e),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM knn GROUP BY src),
       |pr0 AS (SELECT id, (SELECT 1000000000000 // n FROM cnt) AS r FROM nodes),
       |$iters
       |SELECT id AS vec_id, r AS pr FROM pr5 ORDER BY vec_id""".stripMargin
  })

  /** Cluster-balanced coverage sample over the same k-means pipeline as
    * `dedup_semantic`: ≤ 5 vectors per cluster by hash rank.
    */
  private def sampleDiversity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Similarity.diversitySample(T(s, dir, "embeddings"),
        nClusters = None, rounds = 2, nPer = 5),
      "cluster", "vec_id")
  // The same k-means pipeline feeding a per-cluster hash-rank window —
  // the sample_stratified shape with the CLUSTER as the stratum.
  gate("sample_diversity", sampleDiversity,
    s"""WITH $KMeansAutoCtes
      |SELECT cluster, vec_id, sample_rank FROM (
      |  SELECT a.cluster, a.vec_id,
      |         row_number() OVER (PARTITION BY a.cluster
      |           ORDER BY (a.vec_id * 2654435761) % 4294967296, a.vec_id) AS sample_rank
      |  FROM assign a)
      |WHERE sample_rank <= 5 ORDER BY cluster, vec_id""".stripMargin)

  /** The `maxShingleDf` skew-cap plan (hot-shingle anti-join → candidate
    * join → exact verify) under the exact-Jaccard oracle: the corpus's max
    * shingle df is ~25 at sf0.1, so a cap of 200 never prunes a pair here —
    * the gate pins that the capped PLAN computes exact results; the cap
    * itself bites only on stopword-grade shingles at real scale.
    */
  private def dedupJaccardCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(T(s, dir, "documents"), n = 3, threshold = 0.6,
      maxShingleDf = Some(200L))
  gate("dedup_jaccard_capped", dedupJaccardCapped, JaccardPairsSql)

  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    // 32 bands × 2 rows: candidate recall ≥ 1 − (1−J²)³² ≈ 1 − 6e-7 at
    // J = 0.6, and candidates are exact-verified — so the output EQUALS exact
    // Jaccard (modulo 64-bit shingle-hash collisions) and shares its oracle.
    // r = 2 keeps false candidates rare (r = 1 tripled the query's cost on
    // band-join volume); r = 4 (the 8×4 default) would cost real recall.
    Dedup.minhashLshPairs(T(s, dir, "documents"), n = 3, threshold = 0.6,
      numHashes = 64, bands = 32)
  gate("dedup_minhash_lsh", dedupMinhashLsh, JaccardPairsSql)

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(T(s, dir, "documents"), maxDist = 3)
  // FNV-1a-64 per token (HUGEINT arithmetic mod 2⁶⁴, matching the
  // SimHash64 kernel's byte loop exactly), per-bit ±1 votes, two's-
  // complement reassembly, then the same pigeonhole chunk join — an
  // independent DuckDB re-derivation of the whole simhash pipeline.
  gate("dedup_simhash", dedupSimhash,
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |         list_reduce(
      |           list_prepend(14695981039346656037::HUGEINT,
      |             list_transform(string_split(t, ''), c -> ord(c)::HUGEINT)),
      |           (a, b) -> (xor(a, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hv
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, r.i,
      |         CASE WHEN (hv // (2::HUGEINT ^ r.i)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END AS vote
      |  FROM h, unnest(range(0, 64)) AS r(i)),
      |votes AS (SELECT doc_id, i, sum(vote) AS s FROM bits GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN s > 0 THEN
      |                CASE WHEN i = 63 THEN -9223372036854775808::HUGEINT
      |                     ELSE (2::HUGEINT ^ i)::HUGEINT END
      |              ELSE 0::HUGEINT END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id),
      |ch AS (
      |  SELECT doc_id, simhash, r.c, (simhash >> (r.c * 16)) & 65535 AS cv
      |  FROM sh, unnest(range(0, 4)) AS r(c)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
      |  FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
      |SELECT d1, d2, dist FROM cand WHERE dist <= 3 ORDER BY d1, d2""".stripMargin)

  /** Keep-BEST dedup gate ([[graft.ops.Dedup.exactKeepBest]]): messy
    * re-crawl copies are planted (the `pipeline_clean_mix` recipe —
    * leading whitespace + uppercasing, ids +9000), groups keyed by the
    * md5 of the NORMALIZED text, and each group's survivor is the FULLEST
    * raw copy (longest raw text — the keep-the-copy-whose-extraction-kept-
    * most heuristic; ties to the smaller id). The planted copies are the
    * longer ones, so every planted group's survivor is the +9000 id — the
    * opposite of `dedup_exact`'s min-id rule, which is exactly what makes
    * the survivor RULE (not just the grouping) the thing this gate pins.
    * The oracle re-derives planting, normalization, and the (length desc,
    * id asc) pick per group.
    */
  private def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 9000L).as("doc_id"),
        concat(lit("  "), upper(col("text"))).as("text"))
    val c = d.unionByName(planted)
    val keyed = Text.normalize(c)
      .join(c.select(col("doc_id"), length(col("text")).cast("long").as("raw_len")),
        "doc_id")
    graft.ops.Ordered.smallResult(
      Dedup.exactKeepBest(keyed, md5(col("norm_text")), col("raw_len")),
      "doc_id")
  }
  // Planted messy copies, normalized-key groups, survivor by
  // (raw length desc, id asc) per group — the fullest-copy rule.
  gate("dedup_keep_best", dedupKeepBest,
    s"""WITH c AS (SELECT doc_id, text FROM documents
       |           UNION ALL
       |           SELECT doc_id + 9000, '  ' || upper(text)
       |           FROM documents WHERE doc_id < 20),
       |n AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len,
       |        trim(lower(regexp_replace(text, '${Text.WhitespaceRun}', ' ', 'g'))) AS lt
       |      FROM c)
       |SELECT doc_id, n_copies, best_score FROM (
       |  SELECT doc_id, raw_len AS best_score,
       |         count(*) OVER (PARTITION BY lt) AS n_copies,
       |         row_number() OVER (PARTITION BY lt ORDER BY raw_len DESC, doc_id) AS rn
       |  FROM n) WHERE rn = 1
       |ORDER BY doc_id""".stripMargin)

  /** Approximate STRING matching gate ([[graft.ops.Dedup.editDistancePairs]]):
    * distinct part names within Levenshtein distance 2, candidates from the
    * rare-q-gram prefix join, verified by the exact codegen'd levenshtein —
    * the record-linkage primitive the token-set dedup family cannot
    * express. The oracle is the naive distinct self-join with the same
    * unit-cost levenshtein.
    */
  private def fuzzyPairsPartnames(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(T(s, dir, "part"), k = 2, n = 3, strCol = "p_name")
  // Naive distinct self-join with the identical unit-cost levenshtein —
  // the prefix-filtered candidate path must lose no true pair.
  gate("fuzzy_pairs_partnames", fuzzyPairsPartnames,
    """WITH p AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
      |SELECT a.s AS s1, b.s AS s2, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      |FROM p a JOIN p b ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 2
      |WHERE levenshtein(a.s, b.s) <= 2
      |ORDER BY s1, s2""".stripMargin)

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(T(s, dir, "embeddings"), threshold = 0.8)
  gate("dedup_embedding", dedupEmbedding,
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pairs AS (SELECT a.vec_id AS v1, b.vec_id AS v2
      |          FROM e a JOIN e b ON a.vec_id < b.vec_id
      |          WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.8),
      |low AS (SELECT v2 AS id, min(v1) AS low FROM pairs GROUP BY v2)
      |SELECT e.vec_id, least(e.vec_id, coalesce(low.low, e.vec_id)) AS rep_id,
      |       CAST(least(e.vec_id, coalesce(low.low, e.vec_id)) <> e.vec_id AS INT) AS is_dup
      |FROM e LEFT JOIN low ON low.id = e.vec_id
      |ORDER BY vec_id""".stripMargin)

  /** SRP (random-hyperplane) LSH pairs under the exact all-pairs oracle.
    * The corpus has no organic high-cosine pairs (max ≈ 0.55), so the query
    * plants exact duplicates — 50 vectors re-inserted scaled by 2, the
    * re-crawled-identical-content model. Scaled duplicates have IDENTICAL
    * SRP signatures by fp exactness (power-of-two scaling commutes with
    * rounding; [[graft.ops.Similarity.srpPairs]] scaladoc), so recall here
    * is certain, not probabilistic; candidates are exact-verified — the
    * LSH output therefore equals the exact computation and legitimately
    * shares its oracle (the `dedup_minhash_lsh` pattern).
    */
  private def dedupSrpPairs(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    graft.ops.Ordered.smallResult(
      Similarity.srpPairs(e.unionByName(planted), threshold = 0.9, dim = 64),
      "v1", "v2")
  }
  // Exact all-pairs over the planted-duplicate corpus — the SRP query's
  // recall is certain for scaled duplicates (identical signatures), so
  // LSH output ≡ exact output, like dedup_minhash_lsh.
  gate("dedup_srp_pairs", dedupSrpPairs,
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |planted AS (SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 2) AS v
      |            FROM base WHERE vec_id < 50),
      |c AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
      |FROM c a JOIN c b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.9
      |ORDER BY v1, v2""".stripMargin)

  /** Transitive near-dup cluster collapse over the exact Jaccard pairs —
    * [[Dedup.connectedComponents]] under a recursive-CTE oracle (full
    * reachability closure, independently computed).
    */
  private def dedupClusterRep(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    Dedup.connectedComponents(docs.select(col("doc_id")), pairs, idCol = "doc_id")
      .select(col("id").as("doc_id"), col("rep").as("rep_id"),
        (col("rep") =!= col("id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }
  // Transitive closure over the same pair edges via WITH RECURSIVE —
  // min reachable id per doc, the independent check of the distributed
  // min-label propagation.
  gate("dedup_cluster_rep", dedupClusterRep, ClusterRepSql)

  /** The same cluster collapse via the O(log n)-round large-star/small-star
    * contraction ([[graft.ops.Dedup.connectedComponentsLogRounds]]) — the
    * deep-diameter algorithm under the identical WITH RECURSIVE closure
    * oracle as `dedup_cluster_rep`.
    */
  private def dedupClusterRepLogstar(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    Dedup.connectedComponentsLogRounds(docs.select(col("doc_id")), pairs, idCol = "doc_id")
      .select(col("id").as("doc_id"), col("rep").as("rep_id"),
        (col("rep") =!= col("id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }
  // The O(log n)-round large-star/small-star contraction computes the
  // same component minima — shared closure oracle gates both algorithms.
  gate("dedup_cluster_rep_logstar", dedupClusterRepLogstar, ClusterRepSql)
}
