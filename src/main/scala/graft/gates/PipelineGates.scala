package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.uts._
import graft.ops.{Dedup, Funnel, Joins, Text}
import graft.ops.Materialize.NarrowSyntax
import Shared._

/** Training-data pipeline gates: source mixtures, cleaning and quality
  * bands, incremental and index-backed dedup, inverted search, redaction,
  * contamination checks, leakage-safe splits, exports, funnels, cohorts and
  * robust statistics.
  */
private[graft] object PipelineGates extends GateFamily {
  /** The mixture gate's weight CASE, generated from [[MixWeights]] so the
    * Spark plan and the oracle can never disagree on a share.
    */
  private def MixCaseSql: String =
    MixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("(CASE source ", " ", s" ELSE $MixDefault END)")

  private def ngramTopCounts(s: SparkSession, dir: String): DataFrame =
    Text.ngramCounts(T(s, dir, "documents"), n = 2, k = 20)
  gate("ngram_top_counts", ngramTopCounts,
    s"""WITH toks AS ($ToksCte),
       |g AS (SELECT ts[i] || ' ' || ts[i+1] AS gram
       |      FROM toks, unnest(range(1, greatest(len(ts), 1))) AS t(i))
       |SELECT gram, count(*) AS n FROM g
       |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin)

  /** Exact heavy hitters at φ = 1/1000 of the corpus token stream — the
    * two-pass Misra-Gries plan ([[graft.ops.Text.heavyHitters]]) whose
    * answer must equal the oracle's one-shuffle exact formulation.
    */
  private def heavyHittersTerms(s: SparkSession, dir: String): DataFrame =
    Text.heavyHitters(T(s, dir, "documents"), phiDen = 1000)
  // The oracle is the one-shuffle exact formulation; the engine's
  // two-pass Misra-Gries answer must coincide EXACTLY (the candidate
  // superset guarantee makes pass 2 lossless), so a sketch bug that
  // drops a true heavy term or admits a light one goes red here.
  gate("heavy_hitters_terms", heavyHittersTerms,
    s"""WITH t AS (SELECT unnest(ts) AS term FROM ($ToksCte)),
       |tot AS (SELECT count(*) AS n_total FROM t)
       |SELECT term, count(*) AS cnt FROM t, tot GROUP BY term, n_total
       |HAVING count(*) * 1000 >= n_total
       |ORDER BY cnt DESC, term""".stripMargin)

  /** The mixture-gate recipe: three named sources get big budget shares,
    * the long tail gets 2% each, against a 50k-char budget.
    */
  private val MixWeights = Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.1)

  private val MixDefault = 0.02

  private def mixturePlanOf(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixturePlan(T(s, dir, "documents"),
      "source", "n_chars", MixWeights, defaultWeight = MixDefault, budget = 50000L)

  private def mixturePlanQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(mixturePlanOf(s, dir), "source")
  // Weight literals are ::DOUBLE — DuckDB parses bare 0.3 as DECIMAL,
  // whose exact multiply would floor to 15000 where IEEE doubles (and
  // Spark) floor 0.3·50000 to 14999.
  gate("mixture_plan", mixturePlanQ,
    s"""WITH p AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available,
       |  CAST(floor(CAST($MixCaseSql AS DOUBLE) * 50000) AS BIGINT) AS desired
       |  FROM documents GROUP BY source)
       |SELECT source, available, desired,
       |  least(1.0, CAST(desired AS DOUBLE) / CAST(greatest(available, 1) AS DOUBLE)) AS fraction,
       |  least(desired, available) AS expected
       |FROM p ORDER BY source""".stripMargin)

  private def mixtureApplyQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.applyMixturePlan(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        mixturePlanOf(s, dir), "source", "doc_id"),
      "doc_id")
  gate("mixture_apply", mixtureApplyQ,
    s"""WITH p AS (SELECT source,
       |  least(1.0, CAST(CAST(floor(CAST($MixCaseSql AS DOUBLE) * 50000) AS BIGINT) AS DOUBLE) /
       |             CAST(greatest(CAST(sum(n_chars) AS BIGINT), 1) AS DOUBLE)) AS fraction
       |  FROM documents GROUP BY source)
       |SELECT d.doc_id, d.source FROM documents d JOIN p USING (source)
       |WHERE (d.doc_id * 2654435761) % 4294967296 < floor(p.fraction * 4294967296.0)
       |ORDER BY d.doc_id""".stripMargin)

  /** Per-label mean embedding (pooling), exploded to (label, pos, m) rows —
    * arrays stay out of the hash compare.
    */
  private def embMeanByLabel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Similarity.meanVectors(T(s, dir, "embeddings"), "label")
        .select(col("label"), posexplode(col("mvec")).as(Seq("pos", "m")))
        .select(col("label"), col("pos").cast("long").as("pos"), col("m")),
      "label", "pos")
  // Exact decimal sums make the per-position mean engine-deterministic
  // (double partial-merge order would wobble the last ulp); pos is
  // 0-based on both sides.
  gate("emb_mean_by_label", embMeanByLabel,
    """SELECT label, pos - 1 AS pos,
      |       CAST(sum(CAST(round(x, 10) AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS m
      |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM embeddings)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin)

  /** Canonicalization gate over PLANTED messy whitespace/casing (the corpus
    * itself is single-spaced lowercase words).
    */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val messy = T(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") < 50,
        concat(lit("  "), col("text"), lit("\t\tmixed   CASE\n")))
        .otherwise(col("text")).as("text"))
    graft.ops.Ordered.smallResult(Text.normalize(messy), "doc_id")
  }
  // chr(9)/chr(10) spell the planted tabs/newline; the whitespace class
  // is shared verbatim from Text.WhitespaceRun.
  gate("text_normalize", textNormalize,
    s"""WITH d AS (SELECT doc_id,
       |  CASE WHEN doc_id < 50
       |       THEN '  ' || text || chr(9) || chr(9) || 'mixed   CASE' || chr(10)
       |       ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  trim(lower(regexp_replace(text, '${Text.WhitespaceRun}', ' ', 'g'))) AS norm_text
       |FROM d ORDER BY doc_id""".stripMargin)

  /** Per-event session sequence per user (30-minute gap) — the composable
    * row-level twin of the `session_counts_by_type` aggregate
    * ([[graft.ops.Windowed.sessionIds]]).
    */
  private def sessionIdsByUser(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Windowed.sessionIds(
        ev(s, dir).df.select(col("event_id"), col("user_id"), col("time")),
        "user_id", "time", gapMs = 1800000L),
      "event_id")
  // The same lag/cumulative-break derivation as session_counts_by_type,
  // partitioned by user and emitted per ROW (1-based).
  gate("session_ids_by_user", sessionIdsByUser,
    s"""WITH e AS ($EvCte),
       |o AS (SELECT event_id, user_id, time,
       |             CASE WHEN time - lag(time) OVER (PARTITION BY user_id ORDER BY time)
       |                       >= 1800000 THEN 1 ELSE 0 END AS brk
       |      FROM e)
       |SELECT event_id, user_id, time,
       |       CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY time
       |                           ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
       |FROM o ORDER BY event_id""".stripMargin)

  /** Quality-band survivors: keep the middle [p10, p90] of the corpus's own
    * quality distribution ([[graft.ops.Text.filterByQualityBand]]).
    */
  private def qualityBand(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.filterByQualityBand(T(s, dir, "documents"), 0.1, 0.9), "doc_id")
  // The text_quality derivation feeding corpus-level quantile_cont bounds
  // (Spark `percentile` interpolation ≡ quantile_cont — the
  // value_quantiles_by_type equivalence) and an inclusive band filter.
  gate("quality_band", qualityBand,
    s"""WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
       |t AS (SELECT doc_id, lt, list_filter(string_split(lt, ' '), x -> x <> '') AS ts FROM d),
       |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
       |             CAST(len(list_filter(ts, x -> list_contains($StopEnSql, x))) AS DOUBLE)
       |               / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sr,
       |             CAST(length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |               / greatest(length(lt), 1) AS pr
       |      FROM t),
       |q AS (SELECT doc_id,
       |        round(least(1.0, greatest(0.0, 0.2 + 1.5*sr - 2.0*pr + 0.02*n_tokens)), 4) AS quality
       |      FROM c),
       |b AS (SELECT quantile_cont(quality, 0.1) AS qlo,
       |             quantile_cont(quality, 0.9) AS qhi FROM q)
       |SELECT q.doc_id, q.quality FROM q, b
       |WHERE q.quality >= b.qlo AND q.quality <= b.qhi
       |ORDER BY q.doc_id""".stripMargin)

  /** The ingest pipeline COMPOSED under one oracle: normalize → exact dedup
    * → corpus-relative quality band → per-source survivor counts. Planted
    * messy re-crawls ('  ' + UPPER(text) for 20 docs) make every stage
    * load-bearing: only normalization folds them onto their originals, only
    * dedup then drops them (min-id keeps the original), and the band is
    * computed over the survivors — a regression in ANY stage moves the
    * final counts.
    */
  private def pipelineCleanMix(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
    val planted = base.filter(col("doc_id") < 20).select(
      (col("doc_id") + 9000L).as("doc_id"),
      concat(lit("  "), upper(col("text"))).as("text"), col("source"))
    val corpus = base.unionByName(planted)
    // canon feeds the dedup, the band scoring, and the final join-back —
    // checkpointed so the regex normalization scan runs once, not thrice.
    val canon = Text.normalize(corpus)
      .narrowCheckpointIfSmall() // corpus text — size-gated (r22)
    val survivors = Dedup.exact(canon, "norm_text")
    val kept = Text.filterByQualityBand(
      canon.join(survivors.select(col("doc_id")), "doc_id"),
      0.05, 0.95, textCol = "norm_text")
    graft.ops.Ordered.smallResult(
      kept.join(corpus.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
      "source")
  }
  // The ingest pipeline composed: normalize folds the planted messy
  // re-crawls, min-id dedup drops them, quantile band over survivors,
  // counts per source.
  gate("pipeline_clean_mix", pipelineCleanMix,
    s"""WITH c AS (SELECT doc_id, text, source FROM documents
       |           UNION ALL
       |           SELECT doc_id + 9000, '  ' || upper(text), source
       |           FROM documents WHERE doc_id < 20),
       |n AS (SELECT doc_id,
       |        trim(lower(regexp_replace(text, '${Text.WhitespaceRun}', ' ', 'g'))) AS lt,
       |        source FROM c),
       |surv AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY lt),
       |t AS (SELECT n.doc_id, n.lt,
       |        list_filter(string_split(n.lt, ' '), x -> x <> '') AS ts, n.source
       |      FROM n JOIN surv USING (doc_id)),
       |cq AS (SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tokens,
       |             CAST(len(list_filter(ts, x -> list_contains($StopEnSql, x))) AS DOUBLE)
       |               / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sr,
       |             CAST(length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |               / greatest(length(lt), 1) AS pr
       |      FROM t),
       |q AS (SELECT doc_id, source,
       |        round(least(1.0, greatest(0.0, 0.2 + 1.5*sr - 2.0*pr + 0.02*n_tokens)), 4) AS quality
       |      FROM cq),
       |b AS (SELECT quantile_cont(quality, 0.05) AS qlo,
       |             quantile_cont(quality, 0.95) AS qhi FROM q)
       |SELECT source, count(*) AS n_docs FROM q, b
       |WHERE quality >= b.qlo AND quality <= b.qhi
       |GROUP BY source ORDER BY source""".stripMargin)

  /** Incremental ingest dedup: a new batch of 60 docs — 50 re-crawled
    * copies and 10 genuinely edited ones — admitted against the existing
    * corpus; only the edits survive ([[graft.ops.Dedup.exactAgainst]]).
    */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") < 60).select(
      (col("doc_id") + 10000L).as("doc_id"),
      when(col("doc_id") < 50, col("text"))
        .otherwise(concat(col("text"), lit(" v2"))).as("text"))
    graft.ops.Ordered.smallResult(
      Dedup.exactAgainst(incoming, docs, "text", "text").select(col("doc_id")),
      "doc_id")
  }
  // Ingest admission: md5-keyed anti-join of the planted batch against
  // the existing corpus — only the 10 edited docs survive. NOT EXISTS
  // with IS NOT DISTINCT FROM, not NOT IN: the engine's anti-join is
  // null-safe (`<=>`), and NOT IN's NULL semantics would zero the whole
  // result if a NULL-text row ever entered the corpus — the two sides
  // must agree that NULL is one ordinary key value.
  gate("dedup_incremental", dedupIncremental,
    """WITH inc AS (SELECT doc_id + 10000 AS doc_id,
      |  CASE WHEN doc_id < 50 THEN text ELSE text || ' v2' END AS text
      |  FROM documents WHERE doc_id < 60)
      |SELECT inc.doc_id FROM inc
      |WHERE NOT EXISTS (SELECT 1 FROM documents d
      |                  WHERE md5(d.text) IS NOT DISTINCT FROM md5(inc.text))
      |ORDER BY inc.doc_id""".stripMargin)

  /** Persisted MinHash index per corpus dir, a [[fixture]]. */
  private def minhashIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("minhash-idx", dir)(p => Dedup.minhashIndexBuild(
      T(s, dir, "documents").select(col("doc_id"), col("text")), p, n = 3))

  /** Incremental NEAR-dup ingest: re-crawled-but-EDITED snapshots (every
    * 50th long doc, re-id'd and suffixed — different md5, so
    * [[dedupIncremental]]'s exact path admits them all) probed against the
    * persisted MinHash signature index ([[minhashIndexPath]]); verified
    * matches at J ≥ 0.6 are the output. The oracle recomputes exact
    * shingle Jaccard between the same planted batch and the whole corpus —
    * at the planted docs' J (≈ 0.9: a 3-word suffix on a > 200-char doc)
    * the 8×4 banding's candidate recall is ≈ 1, so LSH-with-verification
    * equals the exact computation, the same adjudication as
    * `dedup_minhash_lsh`.
    */
  private def dedupNeardupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val incoming = docs
      .filter(col("doc_id") % 50 === 0 && length(col("text")) > 200)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" updated crawl snapshot")).as("text"))
    Dedup.nearDupAgainst(incoming, minhashIndexPath(s, dir), n = 3, threshold = 0.6)
  }
  // Incremental near-dup: exact shingle Jaccard of the planted re-crawl
  // batch against every corpus doc — the LSH-candidates + exact-verify
  // probe must equal it (candidate recall ≈ 1 at the planted J; same
  // adjudication as dedup_minhash_lsh).
  gate("dedup_neardup_incremental", dedupNeardupIncremental,
    s"""WITH toks AS ($ToksCte),
       |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
       |inc AS (SELECT doc_id + 1000000 AS doc_id, text || ' updated crawl snapshot' AS text
       |        FROM documents WHERE doc_id % 50 = 0 AND length(text) > 200),
       |itoks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM inc),
       |ish AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |        FROM itoks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
       |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       |isizes AS (SELECT id, count(*) AS n_sh FROM ish GROUP BY id),
       |inter AS (SELECT a.id AS new_id, b.id AS ref_id, count(*) AS i
       |          FROM ish a JOIN sh b ON a.shingle = b.shingle GROUP BY 1, 2)
       |SELECT new_id, ref_id, round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) AS jaccard
       |FROM inter JOIN isizes s1 ON s1.id = new_id JOIN sizes s2 ON s2.id = ref_id
       |WHERE round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) >= 0.6
       |ORDER BY new_id, ref_id""".stripMargin)

  /** MinHash index for the APPEND lifecycle gate, one per corpus dir (a
    * [[fixture]]). Separate from [[minhashIndexPath]]'s index
    * because this one is MUTATED: built over the even-id half of the
    * corpus, then [[graft.ops.Dedup.minhashIndexAppend]] ingests the odd
    * half — so any probe match against an odd document is a row that can
    * ONLY come from appended files.
    */
  private def appendMinhashIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("minhash-apx", dir) { p =>
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.minhashIndexBuild(docs.filter(col("doc_id") % 2 === 0), p, n = 3)
      Dedup.minhashIndexAppend(docs.filter(col("doc_id") % 2 === 1), p)
    }

  /** Persisted-index APPEND lifecycle: the index is built over only the
    * even-id half of the corpus, the odd half arrives later as an ingest
    * batch ([[graft.ops.Dedup.minhashIndexAppend]] — one sorted delta file
    * per batch partition beside the partitioned base, no rebuild), and a
    * probe batch of edited re-crawls drawn from BOTH halves (doc_id % 25 = 0
    * covers even %50 = 0 and odd %50 = 25 sources) runs against the
    * result. Every match whose ref_id is odd is evidence the probe read
    * appended files —
    * a silently-dropped append would return only the even matches, and the
    * oracle (exact Jaccard against the full corpus, which IS even∪odd)
    * would turn the gate red. Same candidate-recall adjudication as
    * `dedup_neardup_incremental` (J ≈ 0.9 planted pairs; banding recall
    * ≈ 1 there).
    */
  private def dedupIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val incoming = docs
      .filter(col("doc_id") % 25 === 0 && length(col("text")) > 200)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" appended crawl snapshot")).as("text"))
    Dedup.nearDupAgainst(incoming, appendMinhashIndexPath(s, dir), n = 3, threshold = 0.6)
  }
  // Append lifecycle: the oracle re-derives the index CONTENT from
  // scratch — exact Jaccard of the probe batch against the full corpus,
  // which is exactly build-half ∪ appended-half. A dropped append loses
  // every odd-ref_id row and the hashes diverge.
  gate("dedup_index_append", dedupIndexAppend,
    s"""WITH toks AS ($ToksCte),
       |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
       |inc AS (SELECT doc_id + 2000000 AS doc_id, text || ' appended crawl snapshot' AS text
       |        FROM documents WHERE doc_id % 25 = 0 AND length(text) > 200),
       |itoks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM inc),
       |ish AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |        FROM itoks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
       |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       |isizes AS (SELECT id, count(*) AS n_sh FROM ish GROUP BY id),
       |inter AS (SELECT a.id AS new_id, b.id AS ref_id, count(*) AS i
       |          FROM ish a JOIN sh b ON a.shingle = b.shingle GROUP BY 1, 2)
       |SELECT new_id, ref_id, round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) AS jaccard
       |FROM inter JOIN isizes s1 ON s1.id = new_id JOIN sizes s2 ON s2.id = ref_id
       |WHERE round(i*1.0/(s1.n_sh + s2.n_sh - i), 4) >= 0.6
       |ORDER BY new_id, ref_id""".stripMargin)

  /** Persisted inverted index per corpus dir, a [[fixture]]. Built over
    * the even-id half, then the odd half ingests via
    * [[graft.ops.Inverted.append]] — so any
    * search hit on an odd document is a row that can ONLY come from
    * appended posting files, and the build+append lifecycle sits inside
    * both search gates.
    */
  private def invertedIndexPath(s: SparkSession, dir: String): String =
    builtIndexPath("inv-idx", dir) { p =>
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.Inverted.build(docs.filter(col("doc_id") % 2 === 0), p)
      graft.ops.Inverted.append(docs.filter(col("doc_id") % 2 === 1), p)
    }

  /** Conjunctive keyword search off the persisted inverted index
    * ([[invertedIndexPath]]): docs containing ALL of (spark, join,
    * window), top-10 by summed term frequency. The probe reads only the
    * three bucket partitions the terms hash to; the oracle recomputes the
    * conjunction by scanning the corpus — index-vs-scan equivalence is
    * the gate.
    */
  private def invertedSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Inverted.search(s, invertedIndexPath(s, dir),
      Seq("spark", "join", "window"), 10)
  // Index-vs-scan equivalence: the oracle recomputes the conjunctive
  // search by scanning the corpus (which IS build-half ∪ appended-half);
  // a dropped append or a mis-routed bucket loses rows and the hash
  // diverges.
  gate("inverted_search", invertedSearch,
    s"""WITH toks AS ($ToksCte),
       |t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
       |c AS (SELECT doc_id, term, count(*) AS tf FROM t
       |      WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
       |m AS (SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS tf_sum
       |      FROM c GROUP BY doc_id HAVING count(*) = 3)
       |SELECT doc_id, tf_sum FROM m ORDER BY tf_sum DESC, doc_id LIMIT 10""".stripMargin)

  /** Per-term df / total-tf statistics straight off the inverted index —
    * the idf-style planning numbers — including one absent term (`zebra`)
    * pinning that absence yields NO row, not a zero row.
    */
  private def invertedTermStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Inverted.termStats(s, invertedIndexPath(s, dir),
      Seq("join", "query", "spark", "window", "zebra"))
  gate("inverted_term_stats", invertedTermStats,
    s"""WITH toks AS ($ToksCte),
       |t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
       |c AS (SELECT doc_id, term, count(*) AS tf FROM t
       |      WHERE term IN ('join', 'query', 'spark', 'window', 'zebra')
       |      GROUP BY doc_id, term)
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
       |FROM c GROUP BY term ORDER BY term""".stripMargin)

  /** PII scrub over the corpus with PLANTED addresses/numbers (the corpus
    * itself is clean words — the `contamination_check` planting pattern):
    * docs < 50 get an email + a long digit run appended in-query, so the
    * gate exercises both replacement passes and the count columns.
    */
  private def textRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = T(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") < 50,
        concat(col("text"), lit(" reach me at user"), col("doc_id").cast("string"),
          lit("@mail.example.org or 555123456"), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))
    graft.ops.Ordered.smallResult(Text.redact(planted), "doc_id")
  }
  // Identical regex source strings (Text.EmailPattern/LongDigitPattern are
  // Java/RE2-common by construction); counts come off the original text
  // for emails and the post-email text for digit runs, same cascade.
  gate("text_redact", textRedact,
    s"""WITH d AS (SELECT doc_id,
       |  CASE WHEN doc_id < 50
       |       THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR) ||
       |            '@mail.example.org or 555123456' || CAST(doc_id AS VARCHAR)
       |       ELSE text END AS text
       |  FROM documents),
       |em AS (SELECT doc_id, text,
       |  regexp_replace(text, '${Text.EmailPattern}', '<EMAIL>', 'g') AS emailed FROM d)
       |SELECT doc_id,
       |  regexp_replace(emailed, '${Text.LongDigitPattern}', '<NUMBER>', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(text, '${Text.EmailPattern}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(emailed, '${Text.LongDigitPattern}')) AS BIGINT) AS n_numbers
       |FROM em ORDER BY doc_id""".stripMargin)

  /** Substring-level repeated-span detection: every bigram position whose
    * gram recurs in ≥ 35 distinct documents (the scrub list, not a document
    * verdict — [[graft.ops.Text.repeatedNgramSpans]]).
    */
  private def repeatedNgramSpans(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.repeatedNgramSpans(T(s, dir, "documents"), n = 2, minDf = 35L),
      "doc_id", "pos")
  // Same bigram derivation with positions; df counts DISTINCT documents,
  // every occurrence of a hot gram is a span row.
  gate("repeated_ngram_spans", repeatedNgramSpans,
    s"""WITH toks AS ($ToksCte),
       |g AS (SELECT doc_id, i - 1 AS pos, ts[i] || ' ' || ts[i+1] AS gram
       |      FROM toks, unnest(range(1, greatest(len(ts), 1))) AS t(i)),
       |hot AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g
       |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 35)
       |SELECT g.doc_id, g.pos, g.gram, hot.df
       |FROM g JOIN hot USING (gram)
       |ORDER BY g.doc_id, g.pos""".stripMargin)

  /** N-gram-level train/eval contamination over the standard split: for
    * every train document, its trigram overlap against the eval split's
    * distinct trigrams ([[graft.ops.Text.ngramContamination]]).
    */
  private def ngramContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val split = graft.ops.Sampling.assignSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    graft.ops.Ordered.smallResult(
      Text.ngramContamination(
        split.filter(col("split") === "train").select(col("doc_id"), col("text")),
        split.filter(col("split") =!= "train").select(col("doc_id"), col("text")),
        n = 3),
      "doc_id")
  }
  // Trigram occurrences of each TRAIN doc counted against the eval
  // split's distinct trigrams; split = the assignSplit hash bands.
  gate("ngram_contamination", ngramContamination,
    s"""WITH toks AS ($ToksCte),
       |g AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
       |      FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
       |s AS (SELECT doc_id,
       |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973836
       |       THEN 'train' ELSE 'eval' END AS sp FROM documents),
       |ev AS (SELECT DISTINCT gram FROM g JOIN s USING (doc_id) WHERE sp = 'eval'),
       |tot AS (SELECT t.doc_id,
       |        CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 0 END AS n_grams
       |        FROM toks t JOIN s USING (doc_id) WHERE sp = 'train'),
       |hits AS (SELECT g.doc_id, count(*) AS n_overlap
       |         FROM g JOIN s USING (doc_id) JOIN ev USING (gram)
       |         WHERE sp = 'train' GROUP BY g.doc_id)
       |SELECT tot.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
       |       coalesce(hits.n_overlap, 0) AS n_overlap,
       |       round(coalesce(hits.n_overlap, 0) /
       |             greatest(tot.n_grams, 1), 4) AS overlap_ratio
       |FROM tot LEFT JOIN hits USING (doc_id)
       |ORDER BY tot.doc_id""".stripMargin)

  /** Train/eval contamination check — the eval-integrity gate of a training
    * pipeline: after splitting, does any eval document's content fingerprint
    * appear in the train split? The corpus has no duplicate texts, so the
    * query plants re-crawled copies (50 docs re-inserted under new ids, the
    * `dedup_srp_pairs` pattern); split membership hashes the NEW id, so
    * copies legitimately land in different splits and the semi-join surfaces
    * exactly the eval docs whose text also trains.
    */
  private def contaminationCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    // Materialized once, COLUMN-PRUNED (optimization r22, VERDICT r21 #7):
    // the split assignment feeds the train-fingerprint side AND the eval
    // probe side — un-cut, the text scan + md5 ran once per consumer. The
    // checkpointed frame is (doc_id, split, fp) only — text never enters
    // executor storage; size-gated like every fact-cardinality transient.
    val split = graft.ops.Sampling.assignSplit(docs.unionByName(planted), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .withColumn("fp", md5(lower(trim(col("text")))))
      .select(col("doc_id"), col("split"), col("fp"))
      .narrowCheckpointIfSmall()
    val trainFp = split.filter(col("split") === "train").select(col("fp")).distinct()
    // Membership via the Bloom-pruned semi-join — at 100 TB the train
    // fingerprint set outgrows a broadcast hash relation long before its
    // bitmap does, and false positives are absorbed by the exact join, so
    // this is the same result as a plain semi-join (the oracle computes
    // exactly that) with the probe pruned before the shuffle. Also gates
    // the bloom path on a STRING key.
    graft.ops.Ordered.smallResult(
      Joins.bloomSemiJoin(
        split.filter(col("split") =!= "train"), trainFp, "fp", "fp")
        .select(col("doc_id"), col("split"), col("fp")),
      "doc_id")
  }
  // Same cumulative-hash split as sample_split_counts, over the corpus
  // plus 50 planted re-crawled copies; contamination = eval docs whose
  // md5(lower(trim(text))) also occurs in train.
  gate("contamination_check", contaminationCheck,
    """WITH c AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
      |s AS (SELECT doc_id, md5(lower(trim(text))) AS fp,
      |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
      |       WHEN (doc_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM c)
      |SELECT doc_id, split, fp FROM s
      |WHERE split <> 'train'
      |  AND fp IN (SELECT fp FROM s WHERE split = 'train')
      |ORDER BY doc_id""".stripMargin)

  /** Leakage-safe split gate ([[graft.ops.Sampling.leakageSafeSplit]]):
    * near-dup clusters (the `dedup_cluster_rep` pipeline) assigned to
    * train/val/test by their REPRESENTATIVE's hash — every cluster on one
    * side by construction, the prevention twin of `contamination_check`'s
    * detection. Oracle: the recursive-CTE closure composed with the
    * cumulative-hash bands, per document.
    */
  private def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05))
        .select(col("doc_id"), col("rep").as("rep_id"),
          coalesce(col("split"), lit("holdout")).as("split")),
      "doc_id")
  }
  // The recursive-CTE near-dup closure composed with the cumulative-hash
  // bands ON THE REPRESENTATIVE — leakage prevention re-derived whole.
  gate("split_leakage_safe", splitLeakageSafe,
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
       |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id),
       |cc AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id)
       |SELECT doc_id, rep_id,
       |  CASE WHEN (rep_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
       |       WHEN (rep_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
       |       WHEN (rep_id * 2654435761) % 4294967296 < 4080218931 THEN 'test'
       |       ELSE 'holdout' END AS split
       |FROM cc ORDER BY doc_id""".stripMargin)

  /** Shard-export manifest gate ([[graft.ops.Sampling.shardManifest]]):
    * 8 hash-bucketed training shards over the corpus with per-shard
    * doc/char mass AND the deterministic loading order's endpoints
    * (first/last id under (idHash, id)) — membership and SEQUENCE both
    * pinned by the oracle's re-derivation.
    */
  private def exportShards(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.shardManifest(T(s, dir, "documents"),
      nShards = 8, idCol = "doc_id", weightCol = "n_chars")
  // Hash-bucketed shard membership (Knuth hash mod 8) + the loading
  // order's endpoints per shard via (h, id) rank windows.
  gate("export_shards", exportShards,
    """WITH s AS (SELECT doc_id, n_chars,
      |                  (doc_id * 2654435761) % 4294967296 AS h,
      |                  ((doc_id * 2654435761) % 4294967296) % 8 AS shard
      |           FROM documents),
      |f AS (SELECT shard, doc_id AS first_id FROM (
      |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
      |          ORDER BY h, doc_id) AS rn FROM s) WHERE rn = 1),
      |l AS (SELECT shard, doc_id AS last_id FROM (
      |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
      |          ORDER BY h DESC, doc_id DESC) AS rn FROM s) WHERE rn = 1),
      |g AS (SELECT shard, count(*) AS n_docs,
      |             CAST(sum(n_chars) AS BIGINT) AS sum_weight
      |      FROM s GROUP BY shard)
      |SELECT g.shard, n_docs, sum_weight, first_id, last_id
      |FROM g JOIN f USING (shard) JOIN l USING (shard)
      |ORDER BY g.shard""".stripMargin)

  /** Per-epoch loading-order gate
    * ([[graft.ops.Sampling.epochShardManifest]]): three epochs over the
    * same 8 shards — membership/mass identical per shard across epochs,
    * ENDPOINTS differ per epoch (the pair-mix reshuffle), all re-derived
    * by the oracle under the same integer hash lattice.
    */
  private def exportEpochOrder(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.epochShardManifest(T(s, dir, "documents"),
      nShards = 8, epochs = Seq(0, 1, 2), idCol = "doc_id",
      weightCol = "n_chars")
  // Per-epoch reshuffle: shard membership from the base hash, order from
  // the (id, epoch) pair-mix — both integer lattices re-derived.
  gate("export_epoch_order", exportEpochOrder,
    """WITH s AS (SELECT doc_id, n_chars,
      |                  ((doc_id * 2654435761) % 4294967296) % 8 AS shard
      |           FROM documents),
      |w AS (SELECT s.*, e AS epoch,
      |             ((((doc_id % 4294967296) * 100003 + e) % 4294967296)
      |              * 2654435761) % 4294967296 AS mx
      |      FROM s, range(0, 3) t(e)),
      |f AS (SELECT shard, epoch, doc_id AS first_id FROM (
      |        SELECT shard, epoch, doc_id, row_number() OVER (
      |          PARTITION BY shard, epoch ORDER BY mx, doc_id) AS rn
      |        FROM w) WHERE rn = 1),
      |l AS (SELECT shard, epoch, doc_id AS last_id FROM (
      |        SELECT shard, epoch, doc_id, row_number() OVER (
      |          PARTITION BY shard, epoch ORDER BY mx DESC, doc_id DESC) AS rn
      |        FROM w) WHERE rn = 1),
      |g AS (SELECT shard, epoch, count(*) AS n_docs,
      |             CAST(sum(n_chars) AS BIGINT) AS sum_weight
      |      FROM w GROUP BY shard, epoch)
      |SELECT g.shard, g.epoch, n_docs, sum_weight, first_id, last_id
      |FROM g JOIN f USING (shard, epoch) JOIN l USING (shard, epoch)
      |ORDER BY g.shard, g.epoch""".stripMargin)

  /** Cross-document verbatim-span gate
    * ([[graft.ops.Dedup.sharedSpanPairs]]): pairs sharing ≥ 3 exact
    * 8-token runs with the shared-span count — the span-level signal set
    * similarity dilutes (Lee et al. 2022's dedup axis), re-derived by the
    * oracle as an 8-gram string self-join.
    */
  private def dedupSpanPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpanPairs(T(s, dir, "documents"),
      spanTokens = 8, minShared = 3)
  // Exact 8-token runs as strings (hash distinctness ≡ span distinctness
  // modulo 64-bit collisions — the family trade the jaccard oracles
  // already pin): pairs by span-equality self-join, count per pair.
  gate("dedup_span_pairs", dedupSpanPairs,
    s"""WITH toks AS ($ToksCte),
       |sp AS (SELECT DISTINCT doc_id AS id,
       |              ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||
       |              ts[i+4]||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] AS span
       |       FROM toks, unnest(range(1, greatest(len(ts) - 6, 1))) AS t(i)),
       |inter AS (SELECT a.id AS d1, b.id AS d2, count(*) AS n_spans
       |          FROM sp a JOIN sp b ON a.span = b.span AND a.id < b.id
       |          GROUP BY 1, 2)
       |SELECT d1, d2, n_spans FROM inter WHERE n_spans >= 3
       |ORDER BY d1, d2""".stripMargin)

  /** Capstone composition gate: the TRAINING EXPORT — leakage-safe split
    * (near-dup clusters assigned whole, [[graft.ops.Sampling
    * .leakageSafeSplit]]) feeding the deterministic shard manifest
    * ([[graft.ops.Sampling.shardManifest]]) over the TRAIN side only: the
    * last two steps a corpus actually takes on its way to a trainer,
    * composed under ONE oracle (the recursive near-dup closure → rep-hash
    * split bands → hash-mod shards → loading-order endpoints, re-derived
    * end to end). A near-dup leaking out of train, a split flip, or a
    * shard-order wobble anywhere in the chain turns the single gate red.
    */
  private def trainingExport(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.6)
      .select(col("d1"), col("d2"))
    val train = graft.ops.Sampling.leakageSafeSplit(
        docs.select(col("doc_id"), col("n_chars")), pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05))
      .filter(col("split") === "train")
    graft.ops.Sampling.shardManifest(train, nShards = 8,
      idCol = "doc_id", weightCol = "n_chars")
  }
  // The full export chain re-derived: near-dup closure → rep-hash train
  // band → hash-mod shards + order endpoints over the survivors.
  gate("training_export", trainingExport,
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($JaccardPairsSql)),
       |und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id),
       |cc AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
       |train AS (SELECT d.doc_id, d.n_chars
       |          FROM documents d JOIN cc USING (doc_id)
       |          WHERE (cc.rep * 2654435761) % 4294967296 < 3435973836),
       |s AS (SELECT doc_id, n_chars,
       |             (doc_id * 2654435761) % 4294967296 AS h,
       |             ((doc_id * 2654435761) % 4294967296) % 8 AS shard
       |      FROM train),
       |f AS (SELECT shard, doc_id AS first_id FROM (
       |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
       |          ORDER BY h, doc_id) AS rn FROM s) WHERE rn = 1),
       |l AS (SELECT shard, doc_id AS last_id FROM (
       |        SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
       |          ORDER BY h DESC, doc_id DESC) AS rn FROM s) WHERE rn = 1),
       |g AS (SELECT shard, count(*) AS n_docs,
       |             CAST(sum(n_chars) AS BIGINT) AS sum_weight
       |      FROM s GROUP BY shard)
       |SELECT g.shard, n_docs, sum_weight, first_id, last_id
       |FROM g JOIN f USING (shard) JOIN l USING (shard)
       |ORDER BY g.shard""".stripMargin)

  /** Deterministic corpus split (train/val/test + implicit holdout) — the
    * eval-leakage defense: membership is a pure function of doc_id, stable
    * across runs/engines, so re-processing the corpus can never move a
    * document between splits ([[graft.ops.Sampling.assignSplit]]).
    */
  private def sampleSplitCounts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.assignSplit(T(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05))
      .withColumn("split", coalesce(col("split"), lit("holdout")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  // Cumulative Knuth-hash thresholds: floor(0.8·2³²), floor(0.9·2³²),
  // floor(0.95·2³²) — same truncation as the Scala .toLong.
  gate("sample_split_counts", sampleSplitCounts,
    """WITH s AS (SELECT n_chars,
      |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973836 THEN 'train'
      |       WHEN (doc_id * 2654435761) % 4294967296 < 3865470566 THEN 'val'
      |       WHEN (doc_id * 2654435761) % 4294967296 < 4080218931 THEN 'test'
      |       ELSE 'holdout' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM s GROUP BY split ORDER BY split""".stripMargin)

  private def funnelSteps(s: SparkSession, dir: String): DataFrame =
    Funnel.steps(ev(s, dir).df, Seq("signup", "click", "purchase"), 3 * Day)
  gate("funnel_steps", funnelSteps, FunnelStepsSql)

  /** The single-scan funnel (greedy per-user state machine over one
    * type-filtered event scan) under the same oracle as the join-chain
    * `funnel_steps` — first-touch over time order is the same function
    * computed two ways, so one oracle gates both plans.
    */
  private def funnelStepsOneScan(s: SparkSession, dir: String): DataFrame =
    Funnel.stepsOneScan(ev(s, dir).df, Seq("signup", "click", "purchase"), 3 * Day)
  // One-scan state-machine formulation, same first-touch function — the
  // join-chain oracle gates it verbatim.
  gate("funnel_steps_onescan", funnelStepsOneScan, FunnelStepsSql)

  private def funnelConversion(s: SparkSession, dir: String): DataFrame =
    Funnel.conversion(ev(s, dir).df, "signup", "purchase", 3 * Day)
  gate("funnel_conversion", funnelConversion,
    s"""WITH e AS ($EvCte),
       |f AS (SELECT user_id, min(time) AS t0 FROM e
       |      WHERE event_type = 'signup' GROUP BY 1),
       |c AS (SELECT f.user_id,
       |             max(CASE WHEN p.time > f.t0 AND p.time <= f.t0 + 259200000
       |                      THEN 1 ELSE 0 END) AS conv
       |      FROM f LEFT JOIN e p
       |        ON p.user_id = f.user_id AND p.event_type = 'purchase'
       |      GROUP BY 1)
       |SELECT count(*) AS n_start, CAST(sum(conv) AS BIGINT) AS n_converted,
       |       round(sum(conv)*1.0/count(*), 4) AS conv_rate
       |FROM c""".stripMargin)

  /** Weekly retention cohorts: users grouped by the week of their first
    * event; `n_users` = distinct users from that cohort active again
    * `week_offset` weeks later — the classic product-analytics retention
    * triangle. Two aggregations and an equality join, all on `user_id`:
    * one shuffle lineage at scale, no window, no self-cartesian.
    */
  private def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).df
    val firstWeek = e.groupBy(col("user_id"))
      .agg(expr("CAST(min(time) DIV 604800000 AS BIGINT)").as("cohort_week"))
    val weekly = e.select(col("user_id"), expr("time div 604800000").as("week"))
      .distinct()
    graft.ops.Ordered.smallResult(
      firstWeek.join(weekly, Seq("user_id"))
        .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users")),
      "cohort_week", "week_offset")
  }
  gate("retention_cohorts", retentionCohorts,
    s"""WITH e AS ($EvCte),
       |f AS (SELECT user_id, min(time) // 604800000 AS cohort_week FROM e GROUP BY 1),
       |w AS (SELECT DISTINCT user_id, time // 604800000 AS week FROM e)
       |SELECT cohort_week, week - cohort_week AS week_offset,
       |       count(DISTINCT user_id) AS n_users
       |FROM f JOIN w USING (user_id)
       |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)

  /** Daily counts pivoted wide by event type — the pivot operator family.
    * Pivot values are passed EXPLICITLY: without them Spark runs an eager
    * distinct job at plan-construction time to discover columns, the same
    * anti-pattern as an eager count (and nondeterministic output schema if
    * a type appears late at 100 TB).
    */
  private def pivotEventDaily(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      ev(s, dir).df
        .select(expr("time div 86400000").as("day"), col("event_type"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
      "day")
  gate("pivot_event_daily", pivotEventDaily,
    s"""WITH e AS ($EvCte)
       |SELECT time // 86400000 AS day,
       |       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       |       count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       |       count(CASE WHEN event_type = 'view' THEN 1 END) AS view
       |FROM e GROUP BY 1 ORDER BY day""".stripMargin)

  /** Statistical-moment aggregates (sample stddev/variance, correlation,
    * covariance) — all algebraic (mergeable partials), so they salt and
    * partial-aggregate like sums. Rounded to 4 decimals: both engines use
    * numerically stable one-pass updates whose results agree well past the
    * rounding point at these magnitudes.
    */
  private def statsMomentsByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .groupBy(col("event_type"))
      .agg(
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(var_samp(col("value")), 4).as("var_value"),
        round(corr(col("value"), col("user_id").cast("double")), 4).as("corr_vu"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("covar_vu"))
      .orderBy(col("event_type"))
  gate("stats_moments_by_type", statsMomentsByType,
    """SELECT event_type,
      |       round(stddev_samp(value), 4) AS sd_value,
      |       round(var_samp(value), 4) AS var_value,
      |       round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu,
      |       round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_vu
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Exact grouped percentiles (Spark `percentile` ≡ ANSI interpolated
    * `quantile_cont`): the holistic-aggregate coverage row. At 100 TB a
    * holistic percentile per group is the one aggregate that canNOT salt
    * (no merge) — the sketch twin is `token_count_quantiles`' GK path.
    */
  private def valueQuantilesByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .groupBy(col("event_type"))
      .agg(percentile(col("value"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
      .select(col("event_type"),
        round(element_at(col("qs"), 1), 4).as("p25"),
        round(element_at(col("qs"), 2), 4).as("p50"),
        round(element_at(col("qs"), 3), 4).as("p75"),
        round(element_at(col("qs"), 4), 4).as("p95"))
      .orderBy(col("event_type"))
  gate("value_quantiles_by_type", valueQuantilesByType,
    """SELECT event_type,
      |       round(quantile_cont(value, 0.25), 4) AS p25,
      |       round(quantile_cont(value, 0.5), 4) AS p50,
      |       round(quantile_cont(value, 0.75), 4) AS p75,
      |       round(quantile_cont(value, 0.95), 4) AS p95
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Robust (median/MAD) outlier report per series —
    * [[graft.ops.Profile.robustOutliers]] beside [[statsMomentsByType]]'s
    * classical moments: rank-statistic medians, Iglewicz–Hoaglin 3.5
    * cutoff.
    */
  private def robustOutliersValue(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Profile.robustOutliers(
        ev(s, dir).df.select(col("event_type"), col("value")),
        "event_type", "value", cutoff = 3.5),
      "event_type")
  // Robust outlier twin: both medians are rank statistics (k-th smallest,
  // k = ceil(n/2)) — selecting existing values, never interpolating — and
  // abs/subtract/multiply are exact IEEE with fixed parenthesization, so
  // every derived double is bit-identical before the round.
  gate("robust_outliers_value", robustOutliersValue,
    s"""WITH e AS ($EvCte),
       |v AS (SELECT event_type, value AS v FROM e WHERE value IS NOT NULL),
       |r AS (SELECT event_type, v,
       |             row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
       |             count(*) OVER (PARTITION BY event_type) AS n FROM v),
       |m AS (SELECT event_type, max(n) AS n,
       |             min(CASE WHEN r = ceil(n * 0.5) THEN v END) AS med
       |      FROM r GROUP BY event_type),
       |d AS (SELECT v.event_type, v.v, abs(v.v - m.med) AS dev, m.n, m.med
       |      FROM v JOIN m USING (event_type)),
       |rd AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rd
       |       FROM d),
       |md AS (SELECT event_type,
       |              min(CASE WHEN rd = ceil(n * 0.5) THEN dev END) AS mad
       |       FROM rd GROUP BY event_type)
       |SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
       |       max(d.med) AS med, max(md.mad) AS mad,
       |       CAST(count(CASE WHEN d.dev > (3.5 * 1.4826) * md.mad THEN 1 END) AS BIGINT)
       |         AS n_out,
       |       max(CASE WHEN d.dev > (3.5 * 1.4826) * md.mad THEN d.dev END)
       |         AS max_dev
       |FROM d JOIN md USING (event_type)
       |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)

  /** Winsorized per-type stats ([[graft.ops.Profile.winsorize]]): values
    * clipped into their type's own [p5, p95] rank-statistic band; the gate
    * reports the bounds, clip counts, and the exact-decimal mean of the
    * clipped values — outlier TREATMENT beside `robust_outliers_value`'s
    * detection.
    */
  private def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val wdf = graft.ops.Profile.winsorize(
      ev(s, dir).df.select(col("event_type"), col("value")),
      "event_type", "value", loQ = 0.05, hiQ = 0.95)
    graft.ops.Ordered.smallResult(
      wdf.filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          // Bounds are selected raw corpus values — emitted unrounded (the
          // robustOutliers med/mad rationale).
          max(col("__wlo")).as("lo_bound"),
          max(col("__whi")).as("hi_bound"),
          count(when(col("value") < col("__wlo"), lit(1))).as("n_clip_lo"),
          count(when(col("value") > col("__whi"), lit(1))).as("n_clip_hi"),
          round(
            sum(round(col("value_w"), 10).cast("decimal(30,10)")).cast("double") /
              count(lit(1)), 4).as("mean_w")),
      "event_type")
  }
  // Winsorization twin: same ceil-rank bounds, same least/greatest clip,
  // clipped mean on the round-10 decimal lattice.
  gate("winsorized_stats", winsorizedStats,
    s"""WITH e AS ($EvCte),
       |v AS (SELECT event_type, value AS v FROM e WHERE value IS NOT NULL),
       |r AS (SELECT event_type, v,
       |             row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
       |             count(*) OVER (PARTITION BY event_type) AS n FROM v),
       |b AS (SELECT event_type,
       |             min(CASE WHEN r = ceil(n * 0.05) THEN v END) AS lo,
       |             min(CASE WHEN r = ceil(n * 0.95) THEN v END) AS hi
       |      FROM r GROUP BY 1),
       |c AS (SELECT v.event_type, v.v,
       |             least(greatest(v.v, b.lo), b.hi) AS vw, b.lo, b.hi
       |      FROM v JOIN b USING (event_type))
       |SELECT event_type, count(*) AS n,
       |       max(lo) AS lo_bound, max(hi) AS hi_bound,
       |       CAST(count(CASE WHEN v < lo THEN 1 END) AS BIGINT) AS n_clip_lo,
       |       CAST(count(CASE WHEN v > hi THEN 1 END) AS BIGINT) AS n_clip_hi,
       |       round(CAST(sum(CAST(round(vw, 10) AS DECIMAL(30,10))) AS DOUBLE)
       |             / count(*), 4) AS mean_w
       |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Per-(type, user) session intervals `[first event, last event + gap)`
    * from the shared 30-minute rule — input to both concurrency gates.
    */
  private def sessionIntervals(s: SparkSession, dir: String): DataFrame = {
    val gap = 1800000L
    val e = ev(s, dir).df.select(col("event_type"), col("user_id"), col("time"))
      .withColumn("__k", concat_ws(":", col("event_type"), col("user_id")))
    graft.ops.Windowed.sessionIds(e, "__k", "time", gapMs = gap)
      .groupBy(col("event_type"), col("user_id"), col("session_seq"))
      .agg(min(col("time")).as("s_start"), (max(col("time")) + gap).as("s_end"))
  }

  /** Sweep-line session concurrency per event type
    * ([[graft.ops.Windowed.concurrencySweep]]): per-(type, user) sessions
    * from the shared 30-minute-gap rule ([[graft.ops.Windowed.sessionIds]]),
    * each active over `[first event, last event + gap)`, swept for peak
    * simultaneous sessions and total busy (union) time.
    */
  private def concurrencySweepSessions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Windowed.concurrencySweep(
        sessionIntervals(s, dir), "event_type", "s_start", "s_end"),
      "event_type")
  // Sweep-line re-derivation: same 30-min session rule as
  // session_ids_by_user, intervals [min, max+gap), boundary deltas netted
  // per timestamp, running sum = concurrency — all exact Long arithmetic.
  gate("concurrency_sweep", concurrencySweepSessions,
    s"""WITH e AS ($EvCte),
       |o AS (SELECT event_type, user_id, time,
       |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type, user_id
       |                                              ORDER BY time) >= 1800000
       |                  THEN 1 ELSE 0 END AS brk
       |      FROM e),
       |sid AS (SELECT event_type, user_id, time,
       |               sum(brk) OVER (PARTITION BY event_type, user_id ORDER BY time
       |                              ROWS UNBOUNDED PRECEDING) AS seq
       |        FROM o),
       |sess AS (SELECT event_type, user_id, seq,
       |                min(time) AS s_start, max(time) + 1800000 AS s_end
       |         FROM sid GROUP BY 1, 2, 3),
       |bounds AS (SELECT event_type, s_start AS t, 1 AS d FROM sess
       |           UNION ALL SELECT event_type, s_end, -1 FROM sess),
       |net AS (SELECT event_type, t, CAST(sum(d) AS BIGINT) AS net
       |        FROM bounds GROUP BY 1, 2 HAVING sum(d) <> 0),
       |run AS (SELECT event_type, t, net,
       |               CAST(sum(net) OVER (PARTITION BY event_type ORDER BY t
       |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
       |               lead(t) OVER (PARTITION BY event_type ORDER BY t) AS nt
       |        FROM net),
       |agg AS (SELECT event_type, max(run) AS peak_concurrency,
       |               CAST(coalesce(sum(CASE WHEN run > 0 THEN nt - t END), 0) AS BIGINT)
       |                 AS busy_ms
       |        FROM run GROUP BY 1),
       |cnt AS (SELECT event_type, count(*) AS n_intervals FROM sess GROUP BY 1)
       |SELECT c.event_type, c.n_intervals,
       |       coalesce(a.peak_concurrency, 0) AS peak_concurrency,
       |       coalesce(a.busy_ms, 0) AS busy_ms
       |FROM cnt c LEFT JOIN agg a USING (event_type)
       |ORDER BY event_type""".stripMargin)

  /** The GLOBAL sweep twin ([[graft.ops.Windowed.concurrencySweepGlobal]]):
    * one service-wide timeline over the same session intervals — running
    * concurrency on the stitched prefix sum, busy segments on the stitched
    * lag, no single-partition window.
    */
  private def concurrencyGlobal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windowed.concurrencySweepGlobal(
      sessionIntervals(s, dir), "s_start", "s_end")
  // Global twin: same sessions, one service-wide timeline (busy written
  // lag-wise: a segment (prev_t, t] is busy when run - net > 0 — the
  // identical half-open union).
  gate("concurrency_global", concurrencyGlobal,
    s"""WITH e AS ($EvCte),
       |o AS (SELECT event_type, user_id, time,
       |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type, user_id
       |                                              ORDER BY time) >= 1800000
       |                  THEN 1 ELSE 0 END AS brk
       |      FROM e),
       |sid AS (SELECT event_type, user_id, time,
       |               sum(brk) OVER (PARTITION BY event_type, user_id ORDER BY time
       |                              ROWS UNBOUNDED PRECEDING) AS seq
       |        FROM o),
       |sess AS (SELECT event_type, user_id, seq,
       |                min(time) AS s_start, max(time) + 1800000 AS s_end
       |         FROM sid GROUP BY 1, 2, 3),
       |bounds AS (SELECT s_start AS t, 1 AS d FROM sess
       |           UNION ALL SELECT s_end, -1 FROM sess),
       |net AS (SELECT t, CAST(sum(d) AS BIGINT) AS net
       |        FROM bounds GROUP BY 1 HAVING sum(d) <> 0),
       |run AS (SELECT t, net,
       |               CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
       |                    AS BIGINT) AS run,
       |               lag(t) OVER (ORDER BY t) AS pt
       |        FROM net)
       |SELECT (SELECT count(*) FROM sess) AS n_intervals,
       |       CAST(max(run) AS BIGINT) AS peak_concurrency,
       |       CAST(coalesce(sum(CASE WHEN run - net > 0 THEN t - pt END), 0)
       |            AS BIGINT) AS busy_ms
       |FROM run""".stripMargin)

  /** Temperature-scaled (α = 0.5) mixture plan over per-source character
    * mass ([[graft.ops.Sampling.mixturePlanTemperature]]): shares ∝
    * √available, budget 100 000 — the data-derived companion of the
    * hand-weighted `mixture_plan`.
    */
  private def mixtureTemperature(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.mixturePlanTemperature(
        T(s, dir, "documents"), "source", "n_chars", budget = 100000L),
      "source")
  // Temperature plan: sqrt is IEEE-correctly-rounded (identical in every
  // engine), the weight sum rides the round-10 → DECIMAL(30,10) exact
  // lattice, and everything after is scalar IEEE with one parenthesization.
  gate("mixture_temperature", mixtureTemperature,
    """WITH a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available
      |           FROM documents GROUP BY source),
      |w AS (SELECT source, available,
      |             round(sqrt(CAST(available AS DOUBLE)), 10) AS wt FROM a),
      |t AS (SELECT CAST(sum(CAST(wt AS DECIMAL(30,10))) AS DOUBLE) AS tot FROM w),
      |p AS (SELECT source, available, wt / tot AS share FROM w, t)
      |SELECT source, available, round(share, 6) AS share,
      |       CAST(floor(share * 100000.0) AS BIGINT) AS desired,
      |       least(1.0, CAST(CAST(floor(share * 100000.0) AS BIGINT) AS DOUBLE) /
      |                  CAST(greatest(available, 1) AS DOUBLE)) AS fraction,
      |       least(CAST(floor(share * 100000.0) AS BIGINT), available) AS expected
      |FROM p ORDER BY source""".stripMargin)

  /** The temperature plan APPLIED ([[graft.ops.Sampling.applyMixturePlan]]
    * over [[mixtureTemperature]]'s plan): the kept-row set under
    * data-derived hash thresholds — plan and application gated end to end,
    * mirroring the `mixture_plan`/`mixture_apply` pair.
    */
  private def mixtureTemperatureApply(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.applyMixturePlan(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        graft.ops.Sampling.mixturePlanTemperature(
          T(s, dir, "documents"), "source", "n_chars", budget = 100000L),
        "source", "doc_id"),
      "doc_id")
  // The applied temperature plan: fractions re-derived as in
  // mixture_temperature, then the same Knuth hash band as mixture_apply.
  gate("mixture_temperature_apply", mixtureTemperatureApply,
    """WITH a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available
      |           FROM documents GROUP BY source),
      |w AS (SELECT source, available,
      |             round(sqrt(CAST(available AS DOUBLE)), 10) AS wt FROM a),
      |t AS (SELECT CAST(sum(CAST(wt AS DECIMAL(30,10))) AS DOUBLE) AS tot FROM w),
      |p AS (SELECT source,
      |  least(1.0, CAST(CAST(floor((wt / tot) * 100000.0) AS BIGINT) AS DOUBLE) /
      |             CAST(greatest(available, 1) AS DOUBLE)) AS fraction
      |  FROM w, t)
      |SELECT d.doc_id, d.source FROM documents d JOIN p USING (source)
      |WHERE (d.doc_id * 2654435761) % 4294967296 < floor(p.fraction * 4294967296.0)
      |ORDER BY d.doc_id""".stripMargin)

  /** Containment-pair gate ([[graft.ops.Dedup.containmentPairs]]) over the
    * corpus PLUS planted anthologies (doc i < 15 concatenated with doc
    * i+100): each anthology CONTAINS both parts (containment ≈ 1) while its
    * Jaccard to either is ≈ ½ — below the near-dup threshold — so the
    * quotation case only this measure catches is load-bearing in the gate.
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val partner = base.select((col("doc_id") - 100L).as("doc_id"), col("text").as("__t2"))
    val planted = base.join(partner, "doc_id").filter(col("doc_id") < 15)
      .select((col("doc_id") + 9100L).as("doc_id"),
        concat(col("text"), lit(" "), col("__t2")).as("text"))
    graft.ops.Dedup.containmentPairs(
      base.unionByName(planted), n = 3, threshold = 0.8)
  }
  // Containment over the corpus + planted anthologies (doc i<15 ++ doc
  // i+100): the anthology CONTAINS each part (cont ≈ 1) at Jaccard ≈ ½ —
  // the quotation case the jaccard gates cannot catch.
  gate("dedup_containment", dedupContainment,
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT a.doc_id + 9100, a.text || ' ' || b.text
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 100
      |  WHERE a.doc_id < 15),
      |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |         FROM docs),
      |sh AS (SELECT DISTINCT doc_id AS id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |       FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |inter AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
      |SELECT d1, d2, s1.n_sh AS n1, s2.n_sh AS n2,
      |       round(i*1.0/s1.n_sh, 4) AS cont1,
      |       round(i*1.0/s2.n_sh, 4) AS cont2
      |FROM inter JOIN sizes s1 ON s1.id = d1 JOIN sizes s2 ON s2.id = d2
      |WHERE greatest(round(i*1.0/s1.n_sh, 4), round(i*1.0/s2.n_sh, 4)) >= 0.8
      |ORDER BY d1, d2""".stripMargin)
}
