package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.uts._
import graft.ops.{Multimodal, Text}
import graft.ops.Materialize.NarrowSyntax
import Shared._

/** Text-analysis gates: statistics, BPE, quality scores, language ID,
  * fingerprints, TF-IDF, packing, token histograms, sampling, n-gram
  * counts, JSON properties and multimodal decode.
  */
private[graft] object TextGates extends GateFamily {
  /** The NB log-odds classifier re-derived whole: per-class token counts,
    * shared-smoothing weights (6-dp decimal lattice), mean score per doc
    * (unrounded — exact decimal sum + one IEEE divide), the ≥0 rule.
    */
  private lazy val NbQualitySql: String =
    """WITH t AS (SELECT doc_id, lang = 'en' AS pos,
      |                  unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
      |           FROM documents),
      |cls AS (SELECT token,
      |               count(*) FILTER (pos) AS cp,
      |               count(*) FILTER (NOT pos) AS cn
      |        FROM t GROUP BY token),
      |tot AS (SELECT CAST(sum(cp) AS DOUBLE) AS np, CAST(sum(cn) AS DOUBLE) AS nn,
      |               CAST(count(*) AS DOUBLE) AS v FROM cls),
      |w AS (SELECT token,
      |             CAST(round(ln((CAST(cp AS DOUBLE) + 0.5) / (np + 0.5*(v + 1.0)))
      |                      - ln((CAST(cn AS DOUBLE) + 0.5) / (nn + 0.5*(v + 1.0))), 6)
      |               AS DECIMAL(20,6)) AS w
      |      FROM cls, tot)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |       CAST(sum(w.w) AS DOUBLE) / count(*) AS score,
      |       CASE WHEN CAST(sum(w.w) AS DOUBLE) / count(*) >= 0 THEN 1 ELSE 0 END AS pred_pos
      |FROM t JOIN w USING (token)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Language-ID confusion matrix, re-derived from the stopword lists and
    * the argmax CASE chain — shared by `text_langid` (codegen'd CASE) and
    * `text_langid_join` (broadcast dictionary join): same counts, same
    * preference order, one oracle for both plans.
    */
  private val LangidSql: String = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
       |           FROM documents),
       |s AS (SELECT lang,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopEn)}, x))) AS en,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopEs)}, x))) AS es,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopFr)}, x))) AS fr,
       |             len(list_filter(ts, x -> list_contains(${lst(Text.StopDe)}, x))) AS de
       |      FROM t),
       |p AS (SELECT lang, CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
       |                        WHEN en >= es AND en >= fr AND en >= de THEN 'en'
       |                        WHEN es >= fr AND es >= de THEN 'es'
       |                        WHEN fr >= de THEN 'fr' ELSE 'de' END AS pred_lang
       |      FROM s)
       |SELECT lang, pred_lang, count(*) AS n FROM p
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** WITH RECURSIVE prelude re-deriving the merge-table BPE fixpoint for
    * every distinct pre-token: `rules` is the literal DefaultMerges table;
    * each recursion step selects the min-rank applicable pair per word
    * (rank-equality marks its occurrences), merges the leftmost-
    * nonoverlapping ones (gaps-and-islands parity handles self-pairs like
    * e+e), and rebuilds the symbol list. A converged word reproduces its own
    * row, so UNION dedup terminates its recursion; symbol counts strictly
    * decrease while active, so the fixpoint is `arg_min(syms, len(syms))`.
    * Ends with `words(doc_id, word)` and `toks(word, syms)` in scope.
    */
  private val BpeFixpointCte: String = {
    val rules = Text.DefaultMerges.zipWithIndex
      .map { case ((l, r), i) => s"('$l', '$r', $i)" }.mkString(", ")
    s"""WITH RECURSIVE
       |rules(l, r, rnk) AS (SELECT * FROM (VALUES $rules) v(l, r, rnk)),
       |words AS (SELECT doc_id,
       |                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS word
       |          FROM documents),
       |vocab AS (SELECT DISTINCT word FROM words),
       |bpe(word, syms) AS (
       |  SELECT word, string_split(word, '') FROM vocab
       |  UNION
       |  SELECT word, list(CASE WHEN merged THEN sym || nxt ELSE sym END ORDER BY i)
       |  FROM (
       |    SELECT word, i, sym, merged,
       |           coalesce(lag(merged) OVER (PARTITION BY word ORDER BY i), FALSE) AS consumed,
       |           lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
       |    FROM (
       |      SELECT word, i, sym, occ, g,
       |             occ AND ((i - min(i) OVER (PARTITION BY word, occ, g)) % 2 = 0) AS merged
       |      FROM (
       |        SELECT word, i, sym, occ,
       |               i - row_number() OVER (PARTITION BY word, occ ORDER BY i) AS g
       |        FROM (
       |          SELECT p.word, p.i, p.sym,
       |                 coalesce(r1.rnk = min(r1.rnk) OVER (PARTITION BY p.word), FALSE) AS occ
       |          FROM (SELECT b.word, t.i, b.syms[t.i] AS sym, b.syms[t.i + 1] AS nxtsym
       |                FROM bpe b, unnest(range(1, len(b.syms) + 1)) AS t(i)) p
       |          LEFT JOIN rules r1 ON r1.l = p.sym AND r1.r = p.nxtsym
       |        )
       |      )
       |    )
       |  ) WHERE NOT consumed GROUP BY word
       |),
       |toks AS (SELECT word, arg_min(syms, len(syms)) AS syms FROM bpe GROUP BY word)""".stripMargin
  }

  // Per-document outputs sort via Ordered.smallResult — one exchange, no
  // resampling range sort; the total order is for the oracle compare only.
  private def textStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.tokenStats(T(s, dir, "documents")), "doc_id")
  gate("text_stats", textStats,
    s"""WITH toks AS ($ToksCte)
       |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
       |       CAST(len(list_distinct(ts)) AS BIGINT) AS n_unique,
       |       round(CAST(list_sum(list_transform(ts, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
       |             / greatest(len(ts), 1), 4) AS avg_token_len
       |FROM toks ORDER BY doc_id""".stripMargin)

  private def textBpeStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.bpeTokenStats(T(s, dir, "documents")), "doc_id")
  gate("text_bpe_stats", textBpeStats,
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws,
      |       round(CAST(length(text) AS DOUBLE) /
      |             greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')), 1), 4)
      |         AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin)

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.qualityScore(T(s, dir, "documents")), "doc_id")
  gate("text_quality", textQuality,
    s"""WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
       |t AS (SELECT doc_id, lt, list_filter(string_split(lt, ' '), x -> x <> '') AS ts FROM d),
       |c AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
       |             CAST(len(list_filter(ts, x -> list_contains($StopEnSql, x))) AS DOUBLE)
       |               / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sr,
       |             CAST(length(lt) - length(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |               / greatest(length(lt), 1) AS pr
       |      FROM t)
       |SELECT doc_id, n_tokens, round(sr, 4) AS stop_ratio, round(pr, 4) AS punct_ratio,
       |       round(least(1.0, greatest(0.0, 0.2 + 1.5*sr - 2.0*pr + 0.02*n_tokens)), 4) AS quality
       |FROM c ORDER BY doc_id""".stripMargin)

  /** [[graft.ops.Text.gopherQuality]] — the named-rule battery; the oracle
    * replicates every rule (including the row-local top-bigram fold) in
    * DuckDB list arithmetic, with the RAW metrics in the keep-conjunction
    * and the rounded ones only in the output.
    */
  private def gopherQualityRules(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.gopherQuality(T(s, dir, "documents")), "doc_id")
  // Every Gopher rule re-derived in list arithmetic; the keep-conjunction
  // uses the RAW metrics (the rounded columns are display-only, exactly
  // like the Spark side).
  gate("gopher_quality_rules", gopherQualityRules,
    """WITH toks AS (SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      |       FROM documents),
      |m AS (SELECT doc_id, len(ts) AS n,
      |        coalesce(list_sum(list_transform(ts, t -> len(t))), 0)::DOUBLE
      |          / greatest(len(ts), 1) AS mwl,
      |        len(list_intersect(list_distinct(ts),
      |            ['the','of','and','to','in','is','that','it','a','for'])) AS nstop,
      |        CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
      |             ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
      |        END AS grams
      |      FROM toks),
      |r AS (SELECT doc_id, n, mwl, nstop,
      |        coalesce(list_max(list_transform(list_distinct(grams),
      |            g -> len(list_filter(grams, x -> x = g)))), 0)::DOUBLE
      |          / greatest(len(grams), 1) AS tbf
      |      FROM m)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_words, round(mwl, 4) AS mean_word_len,
      |       CAST(nstop AS BIGINT) AS n_stop_distinct,
      |       round(tbf, 4) AS top_bigram_frac,
      |       (n BETWEEN 50 AND 100000 AND mwl >= 3.0 AND mwl <= 10.0
      |        AND nstop >= 2 AND tbf <= 0.08) AS keep
      |FROM r ORDER BY doc_id""".stripMargin)

  /** [[graft.ops.Text.lmQualityBands]] self-trained on the corpus — the
    * CCNet perplexity filter as a gate (unigram LM, add-0.5 smoothing,
    * exact NLL tertile banding).
    */
  private def lmQualityBandsQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    graft.ops.Ordered.smallResult(Text.lmQualityBands(d, d), "doc_id")
  }
  gate("lm_quality_bands", lmQualityBandsQ,
    """WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
      |tok AS (SELECT doc_id, unnest(list_filter(string_split(lt, ' '), x -> x <> '')) AS token
      |        FROM d),
      |lm AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS v FROM lm),
      |pt AS (SELECT doc_id,
      |         CAST(round(-ln((CAST(cnt AS DOUBLE) + 0.5) / (tot + 0.5*(v + 1.0))), 6)
      |              AS DECIMAL(20,6)) AS nll6
      |       FROM tok JOIN lm USING (token), tot),
      |doc AS (SELECT doc_id, count(*) AS n_tokens,
      |          CAST(sum(nll6) AS DOUBLE) / count(*) AS nll
      |        FROM pt GROUP BY doc_id),
      |th AS (SELECT quantile_cont(nll, 1.0/3) AS t1, quantile_cont(nll, 2.0/3) AS t2 FROM doc)
      |SELECT doc_id, n_tokens, nll,
      |       CASE WHEN nll <= t1 THEN 'head' WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS band
      |FROM doc, th ORDER BY doc_id""".stripMargin)

  /** Count-trained discriminative quality filter
    * ([[graft.ops.Text.nbQualityScore]]): English docs as the positive
    * class (the curated-vs-crawl recipe on this corpus's labels), every
    * document scored by mean per-token NB log-odds — training counts,
    * smoothing, weights, scores, and the ≥0 decision all re-derived by the
    * oracle.
    */
  private def nbQualityScoreQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.nbQualityScore(T(s, dir, "documents"), col("lang") === "en"),
      "doc_id")
  // Unigram LM re-derived end-to-end: token counts → smoothed NLL per
  // token (rounded to 6 dp, summed as decimals — aggregation-order
  // proof) → per-doc mean → quantile_cont tertile banding.
  gate("nb_quality_score", nbQualityScoreQ, NbQualitySql)

  /** The classifier AUDIT twin: confusion counts per actual language —
    * n, predicted-positive count, and unrounded mean score. The number
    * that says whether the filter is usable before anyone applies it.
    */
  private def nbQualityEvalQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.nbQualityScore(T(s, dir, "documents"), col("lang") === "en")
        .join(T(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("pred_pos")).cast("long").as("n_pred_pos"),
          // round-10 → decimal lattice before the sum (the meanVectors
          // discipline: aggregation-order-proof), mean left unrounded.
          (sum(round(col("score"), 10).cast("decimal(30,10)")).cast("double") /
            count(lit(1)).cast("double")).as("mean_score")),
      "lang")
  gate("nb_quality_eval", nbQualityEvalQ,
    s"""WITH s AS ($NbQualitySql)
       |SELECT d.lang, count(*) AS n,
       |       CAST(sum(s.pred_pos) AS BIGINT) AS n_pred_pos,
       |       CAST(sum(CAST(round(s.score, 10) AS DECIMAL(30,10))) AS DOUBLE)
       |         / count(*) AS mean_score
       |FROM s JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin)

  private def textLangid(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("lang"), Text.langId(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  gate("text_langid", textLangid, LangidSql)

  /** [[graft.ops.Text.langIdByJoin]] (broadcast-dictionary formulation)
    * under the `text_langid` confusion-matrix oracle: the true `lang` joins
    * back on doc_id, then the same (lang, pred_lang) rollup.
    */
  private def textLangidJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Text.langIdByJoin(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }
  // The broadcast-dictionary-join formulation computes the identical
  // confusion matrix — shared oracle, so the two language-ID plans gate
  // each other.
  gate("text_langid_join", textLangidJoin, LangidSql)

  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.fingerprint(T(s, dir, "documents")), "doc_id")
  gate("text_fingerprint", textFingerprint,
    "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents ORDER BY doc_id")

  private def textRollingFp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(Text.rollingFingerprint(T(s, dir, "documents")), "doc_id")
  // The RollingFp kernel re-derived in SQL: nested list_reduce — FNV-1a-64
  // per token (HUGEINT mod 2⁶⁴), then the order-sensitive 31-bit poly fold.
  gate("text_rolling_fp", textRollingFp,
    """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |              FROM documents)
      |SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      list_transform(ts, t ->
      |        CAST(list_reduce(
      |          list_prepend(14695981039346656037::HUGEINT,
      |            list_transform(string_split(t, ''), c -> ord(c)::HUGEINT)),
      |          (a, b) -> (xor(a, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)
      |          % 2147483648::HUGEINT AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 2147483648) AS rolling_fp
      |FROM toks ORDER BY doc_id""".stripMargin)

  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    Text.tfidfTopTerms(T(s, dir, "documents"), k = 15)
  gate("tfidf_top_terms", tfidfTopTerms,
    """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |              FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |nn AS (SELECT count(*) AS n FROM documents),
      |t AS (SELECT term, count(*) AS df, sum(tf) AS tf_sum FROM tf GROUP BY 1)
      |SELECT term, CAST(df AS BIGINT) AS df,
      |       round(CAST(tf_sum AS DOUBLE) * ln(CAST(nn.n AS DOUBLE)/df), 4) AS tfidf
      |FROM t, nn ORDER BY tfidf DESC, term LIMIT 15""".stripMargin)

  /** Per-source unigram KL divergence to the corpus blend
    * ([[graft.ops.Text.tokenDivergence]]) — the mixture-drift report;
    * per-term contributions round to the 10-dp lattice and sum as exact
    * decimals, so the oracle re-derives the number with identical
    * parenthesization.
    */
  private def sourceTokenKl(s: SparkSession, dir: String): DataFrame =
    Text.tokenDivergence(T(s, dir, "documents"))
  // KL(source || corpus) re-derived with IDENTICAL parenthesization:
  // p_s = c_st/n_s, p_c = c_t/n_tot, per-term p_s*ln(p_s/p_c) rounded to
  // the 10-dp lattice and summed as DECIMAL(30,10).
  gate("source_token_kl", sourceTokenKl,
    """WITH toks AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |              FROM documents),
      |st AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
      |ct AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s,
      |              count(*) AS n_terms FROM st GROUP BY 1),
      |nt AS (SELECT CAST(sum(c_st) AS BIGINT) AS n_tot FROM st),
      |terms AS (SELECT st.source, ns.n_s, ns.n_terms,
      |                 CAST(round((c_st / n_s) * ln((c_st / n_s) / (c_t / n_tot)), 10)
      |                      AS DECIMAL(30,10)) AS t
      |          FROM st JOIN ct USING (term) JOIN ns USING (source), nt)
      |SELECT source, n_s AS n_tokens, n_terms,
      |       round(CAST(sum(t) AS DOUBLE), 4) AS kl
      |FROM terms GROUP BY source, n_s, n_terms ORDER BY source""".stripMargin)

  /** Fixed-width histogram of per-document token counts — the corpus-stats
    * report an LLM data pipeline watches (length distribution shifts signal
    * extraction bugs). One narrow scan + one tiny aggregate; entirely
    * partial-aggregated, so the shuffle carries one row per bucket.
    */
  private def tokenHistogram(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.tokenStats(T(s, dir, "documents"))
        .select((floor(col("n_tokens") / 10) * 10).cast("long").as("bucket_lo"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs")),
      "bucket_lo")
  gate("token_histogram", tokenHistogram,
    """WITH t AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
      |             AS n_tokens FROM documents)
      |SELECT CAST(floor(n_tokens / 10) * 10 AS BIGINT) AS bucket_lo,
      |       count(*) AS n_docs
      |FROM t GROUP BY 1 ORDER BY bucket_lo""".stripMargin)

  /** [[tokenHistogram]] over merge-table BPE counts — the histogram a
    * context-window planner actually budgets with.
    */
  private def tokenHistogramBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.bpeMergeTokenCounts(T(s, dir, "documents"))
        .select((floor(col("n_tokens_bpe") / 10) * 10).cast("long").as("bucket_lo"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs")),
      "bucket_lo")
  gate("token_histogram_bpe", tokenHistogramBpe,
    s"""$BpeFixpointCte,
       |tc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_toks FROM toks),
       |agg AS (SELECT w.doc_id, sum(tc.n_toks) AS s
       |        FROM words w JOIN tc USING (word) GROUP BY w.doc_id),
       |dc AS (SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_tokens_bpe
       |       FROM documents d LEFT JOIN agg a USING (doc_id))
       |SELECT CAST(floor(n_tokens_bpe / 10) * 10 AS BIGINT) AS bucket_lo,
       |       count(*) AS n_docs
       |FROM dc GROUP BY 1 ORDER BY bucket_lo""".stripMargin)

  /** Concat-then-chunk packing layout over the whole corpus — the stitched
    * distributed prefix sum under an exact window-sum oracle.
    */
  private def docPackBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.packByBudget(T(s, dir, "documents"), budget = 512), "doc_id")
  // Distributed prefix sum under the exact window-sum oracle (the window
  // sum over BIGINT is HUGEINT in the oracle engine — cast back).
  gate("doc_pack_budget", docPackBudget,
    """WITH toks AS (SELECT doc_id,
      |                     CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
      |                       AS n_tokens
      |              FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |             CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS excl
      |      FROM toks)
      |SELECT doc_id, n_tokens,
      |       CAST(floor(excl / 512.0) AS BIGINT) AS pack_id,
      |       CAST(excl % 512 AS BIGINT) AS pack_offset
      |FROM c ORDER BY doc_id""".stripMargin)

  /** Corpus-wide top merged tokens under the full WITH RECURSIVE BPE
    * re-derivation — the end-to-end gate on the merge-table tokenizer
    * (chained merges, self-pair overlap parity, vocabulary caching).
    */
  private def bpeMergeTopTokens(s: SparkSession, dir: String): DataFrame =
    Text.bpeMergeTopTokens(T(s, dir, "documents"), k = 30)
  gate("bpe_merge_top_tokens", bpeMergeTopTokens,
    s"""$BpeFixpointCte,
       |wc AS (SELECT word, count(*) AS n_occ FROM words GROUP BY word)
       |SELECT u.tok AS token, CAST(sum(wc.n_occ) AS BIGINT) AS n
       |FROM toks JOIN wc USING (word), unnest(toks.syms) AS u(tok)
       |GROUP BY token
       |ORDER BY n DESC, token LIMIT 30""".stripMargin)

  /** [[docPackBudget]] on REAL merge-table BPE counts instead of whitespace
    * counts — the budget a production tokenizer would bill. Same stitched
    * prefix-sum packing, oracle re-derives the counts from the BPE fixpoint.
    */
  private def docPackBudgetBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Text.packCountsByBudget(
        Text.bpeMergeTokenCounts(T(s, dir, "documents")),
        budget = 512, countCol = "n_tokens_bpe"),
      "doc_id")
  gate("doc_pack_budget_bpe", docPackBudgetBpe,
    s"""$BpeFixpointCte,
       |tc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_toks FROM toks),
       |agg AS (SELECT w.doc_id, sum(tc.n_toks) AS s
       |        FROM words w JOIN tc USING (word) GROUP BY w.doc_id),
       |dc AS (SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_tokens_bpe
       |       FROM documents d LEFT JOIN agg a USING (doc_id)),
       |c AS (SELECT doc_id, n_tokens_bpe,
       |             CAST(sum(n_tokens_bpe) OVER (ORDER BY doc_id) - n_tokens_bpe AS BIGINT) AS excl
       |      FROM dc)
       |SELECT doc_id, n_tokens_bpe,
       |       CAST(floor(excl / 512.0) AS BIGINT) AS pack_id,
       |       CAST(excl % 512 AS BIGINT) AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin)

  /** Deterministic per-language cap (hash-rank stratified sample): exactly
    * 5 docs per lang, reproducible across runs — no rand() anywhere.
    */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.stratifiedExactN(
        T(s, dir, "documents"), Seq("lang"), "doc_id", n = 5)
        .select(col("lang"), col("doc_id"), col("sample_rank").cast("long").as("sample_rank")),
      "lang", "sample_rank")
  gate("sample_stratified", sampleStratified,
    """SELECT lang, doc_id, sample_rank FROM (
      |  SELECT lang, doc_id,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS sample_rank
      |  FROM documents)
      |WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin)

  /** Shuffle-free fractional sample: a pure hash filter (pushable, no
    * exchange — PlanSpec pins that) — the down-weighting shape in a data
    * mix at 100 TB.
    */
  private def sampleFraction(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.fractionByHash(T(s, dir, "documents"), "doc_id", frac = 0.25)
        .select(col("doc_id"), col("lang")),
      "doc_id")
  gate("sample_fraction", sampleFraction,
    """SELECT doc_id, lang FROM documents
      |WHERE (doc_id * 2654435761) % 4294967296 < 1073741824
      |ORDER BY doc_id""".stripMargin)

  /** Per-source weighted data mix (down-weight dominant en, drop sources
    * not in the recipe) — still a pure filter, weights as a CASE literal.
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      graft.ops.Sampling.weightedBySource(
        T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.25, "fr" -> 1.0, "de" -> 0.5))
        .select(col("doc_id"), col("lang")),
      "doc_id")
  gate("sample_weighted", sampleWeighted,
    """SELECT doc_id, lang FROM documents
      |WHERE (doc_id * 2654435761) % 4294967296 <
      |      CASE WHEN lang = 'en' THEN 1073741824
      |           WHEN lang = 'fr' THEN 4294967296
      |           WHEN lang = 'de' THEN 2147483648
      |           ELSE 0 END
      |ORDER BY doc_id""".stripMargin)

  /** Token-count distribution via the GK quantile sketch — same gate pattern
    * as `approx_distinct_users`: exact quantiles are the oracle-checked
    * values, and `within_bound` asserts the sketch landed within 5% (+2
    * absolute) of each. At 100 TB the sketch (mergeable, bounded memory) is
    * the only viable path; the exact percentile here is the corpus-scale
    * calibration of its error.
    */
  private def tokenCountQuantiles(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokenStats(T(s, dir, "documents")).select(col("n_tokens"))
    def ok(ap: Column, ex: Column): Column =
      abs(ap - ex) <= greatest(lit(2.0), ex * lit(0.05))
    // Array-form percentiles: ONE exact-percentile buffer and ONE
    // QuantileSummaries sketch per partial instead of six — the six
    // independent aggregate buffers (3 sorted-value buffers + 3 sketches,
    // each built and merged per partition) were this query's whole cost.
    toks.agg(
      percentile(col("n_tokens"), array(lit(0.5), lit(0.9), lit(0.99))).as("__e"),
      percentile_approx(col("n_tokens"), array(lit(0.5), lit(0.9), lit(0.99)),
        lit(10000)).as("__a"))
      .select(
        round(element_at(col("__e"), 1), 4).as("p50"),
        round(element_at(col("__e"), 2), 4).as("p90"),
        round(element_at(col("__e"), 3), 4).as("p99"),
        (ok(element_at(col("__a"), 1).cast("double"), element_at(col("__e"), 1)) &&
          ok(element_at(col("__a"), 2).cast("double"), element_at(col("__e"), 2)) &&
          ok(element_at(col("__a"), 3).cast("double"), element_at(col("__e"), 3)))
          .cast("long").as("within_bound"))
  }
  // Exact quantiles pinned; within_bound asserts the GK sketch's error.
  gate("token_count_quantiles", tokenCountQuantiles,
    s"""WITH t AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
       |             AS n_tokens FROM documents)
       |SELECT round(quantile_cont(n_tokens, 0.5), 4) AS p50,
       |       round(quantile_cont(n_tokens, 0.9), 4) AS p90,
       |       round(quantile_cont(n_tokens, 0.99), 4) AS p99,
       |       CAST(1 AS BIGINT) AS within_bound
       |FROM t""".stripMargin)

  /** Gap-based sessionization (§2.9's session windows) on the BATCH path:
    * `session_window` merges events per key while gaps stay under 30 min;
    * window end = last event + gap. The oracle re-derives sessions with the
    * classic lag + cumulative-boundary-sum SQL — fully independent of
    * Spark's merge implementation.
    */
  private def sessionCountsByType(s: SparkSession, dir: String): DataFrame = {
    val ev0 = ev(s, dir).df
      .select(col("event_type"), timestamp_micros(expr("time * 1000")).as("ts_event"),
        col("value"))
    // Value rollup as an EXACT decimal sum (associative, so partial-merge
    // order can't move it): small sessions put fp noise — and, after a
    // division, exact ….5 decimal boundaries, which Spark (shortest-string
    // HALF_UP) and DuckDB (binary-value) round differently — right on the
    // round-4 edge. The sum stays on the 2-decimal lattice; no boundary.
    ev0.groupBy(session_window(col("ts_event"), "1800 seconds"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(coalesce(sum(col("value").cast("decimal(30,10)")).cast("double"), lit(0.0)), 4)
          .as("sum_value"))
      .select(
        unix_millis(col("session_window.start")).as("sess_start"),
        unix_millis(col("session_window.end")).as("sess_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("event_type"), col("sess_start"))
  }
  // Independent sessionization: lag + cumulative boundary sum. A break
  // opens where the gap to the previous event reaches 30 min (Spark merges
  // only OVERLAPPING [t, t+gap) windows, so t − prev ≥ gap ⇒ new session);
  // session end = last event + gap, matching session_window's contract.
  gate("session_counts_by_type", sessionCountsByType,
    s"""WITH e AS ($EvCte),
       |o AS (SELECT event_type, time, value,
       |             CASE WHEN time - lag(time) OVER (PARTITION BY event_type ORDER BY time)
       |                       >= 1800000 THEN 1 ELSE 0 END AS brk
       |      FROM e),
       |sgrp AS (SELECT event_type, time, value,
       |                sum(brk) OVER (PARTITION BY event_type ORDER BY time
       |                               ROWS UNBOUNDED PRECEDING) AS sid
       |         FROM o)
       |SELECT min(time) AS sess_start, max(time) + 1800000 AS sess_end, event_type,
       |       count(*) AS n,
       |       round(coalesce(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 0), 4)
       |         AS sum_value
       |FROM sgrp GROUP BY event_type, sid
       |ORDER BY event_type, sess_start""".stripMargin)

  private def jsonPropsStats(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"), round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  gate("json_props_stats", jsonPropsStats,
    """SELECT event_type, count(k) AS n_k, round(avg(k), 4) AS avg_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |             TRY_CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** `from_json` with an explicit schema — one typed parse per row (the scale
    * path; `get_json_object` re-parses per extracted path). Same values as
    * the regex-deriving oracle on this corpus's single-key props.
    */
  private def jsonPropsTyped(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).df
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(coalesce(sum(col("k")), lit(0L)).as("sum_k"),
        count(when(col("k") > 50, lit(1))).as("n_big"))
      .orderBy(col("event_type"))
  gate("json_props_typed", jsonPropsTyped,
    """SELECT event_type, CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
      |       count(CASE WHEN k > 50 THEN 1 END) AS n_big
      |FROM (SELECT event_type,
      |             TRY_CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Planted-container gate over ALL FIVE real codecs: by doc_id % 7, a
    * document's payload is a REAL parseable BMP / binary PPM / PCM WAV /
    * PNG / baseline JPEG (header fields from doc_id arithmetic, text bytes
    * as the pixel/sample/entropy payload — the `*Wrap` builders in
    * [[graft.ops.Multimodal]]); the remaining two residues stay raw text.
    * One row gates every decode path: the strict header/chunk/marker
    * parses on the planted containers (the oracle derives width/height —
    * and the digit-count- or CRC-frame-dependent byte lengths — from the
    * same doc_id arithmetic; an endianness, offset, CRC, or
    * marker-length slip turns it red) and the documented stub fallback on
    * raw text, with the `codec` column pinning WHICH path fired per row.
    */
  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = T(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        Multimodal.bmpWrap(lit(1) + col("doc_id") % 63, lit(1) + col("doc_id") % 37,
          encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 1,
          Multimodal.ppmWrap(lit(1) + col("doc_id") % 53, lit(1) + col("doc_id") % 41,
            encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 2,
          Multimodal.wavWrap(lit(1) + col("doc_id") % 997, lit(1) + col("doc_id") % 2,
            lit(8000) + col("doc_id") % 100, encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 3,
          Multimodal.pngWrap(lit(1) + col("doc_id") % 45, lit(1) + col("doc_id") % 29,
            encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 7 === 4,
          Multimodal.jpegWrap(lit(1) + col("doc_id") % 499, lit(1) + col("doc_id") % 307,
            encode(col("text"), "UTF-8")))
        .otherwise(encode(col("text"), "UTF-8")).as("payload"))
    // smallResult, not orderBy: a range sort's sampling pass would run the
    // whole decode/feature mapPartitions pipeline a second time.
    graft.ops.Ordered.smallResult(
      Multimodal.extractFeatures(s, media).toDF(),
      "doc_id")
  }
  // One residue class per codec (doc_id % 7): n_bytes re-derives each
  // container's exact framing — BMP 54-byte header + text; PPM ASCII
  // header (9 bytes + the dimensions' digit counts) + the exact w·h·3
  // raster; WAV 44-byte canonical header + frames·channels·2 data; PNG
  // signature + IHDR/IDAT/IEND chunk frames = text + 57; JPEG
  // SOI/APP0/SOF0/SOS/EOI marker frames = text + 45. width/height (or
  // frames/rate for WAV) re-derived from the same doc_id arithmetic the
  // planted headers encode — the Spark side must PARSE them back out of
  // the bytes (including CRC verification for PNG and the marker walk
  // for JPEG) to agree. Residues 5-6: the stub length formulas. codec
  // pins which of the six paths fired.
  gate("multimodal_features", multimodalFeatures,
    """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n,
      |                  1 + doc_id % 63 AS bw, 1 + doc_id % 37 AS bh,
      |                  1 + doc_id % 53 AS pw, 1 + doc_id % 41 AS ph,
      |                  1 + doc_id % 997 AS wf, (1 + doc_id % 2) * 2 AS wba,
      |                  8000 + doc_id % 100 AS wsr,
      |                  1 + doc_id % 45 AS gw, 1 + doc_id % 29 AS gh,
      |                  1 + doc_id % 499 AS jw, 1 + doc_id % 307 AS jh
      |           FROM documents)
      |SELECT doc_id,
      |       CAST(CASE WHEN doc_id % 7 = 0 THEN n + 54
      |                 WHEN doc_id % 7 = 1 THEN 9 + length(CAST(pw AS VARCHAR))
      |                      + length(CAST(ph AS VARCHAR)) + pw * ph * 3
      |                 WHEN doc_id % 7 = 2 THEN 44 + wf * wba
      |                 WHEN doc_id % 7 = 3 THEN n + 57
      |                 WHEN doc_id % 7 = 4 THEN n + 45
      |                 ELSE n END AS BIGINT) AS n_bytes,
      |       CAST(CASE WHEN doc_id % 7 = 0 THEN bw WHEN doc_id % 7 = 1 THEN pw
      |                 WHEN doc_id % 7 = 2 THEN wf
      |                 WHEN doc_id % 7 = 3 THEN gw
      |                 WHEN doc_id % 7 = 4 THEN jw
      |                 ELSE n % 64 END AS BIGINT) AS width,
      |       CAST(CASE WHEN doc_id % 7 = 0 THEN bh WHEN doc_id % 7 = 1 THEN ph
      |                 WHEN doc_id % 7 = 2 THEN wsr
      |                 WHEN doc_id % 7 = 3 THEN gh
      |                 WHEN doc_id % 7 = 4 THEN jh
      |                 ELSE n // 64 END AS BIGINT) AS height,
      |       CASE doc_id % 7 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
      |            WHEN 2 THEN 'wav' WHEN 3 THEN 'png' WHEN 4 THEN 'jpeg'
      |            ELSE 'stub' END AS codec
      |FROM d ORDER BY doc_id""".stripMargin)

  /** [[graft.ops.Multimodal.resize]] gated BYTE-EXACTLY: the corpus text is
    * pure ASCII, so the oracle re-derives the truncated/zero-padded payload
    * as a VARCHAR (DuckDB's md5 hashes the raw bytes, NULs included) and the
    * md5s must match. Target 64 bytes sits inside the corpus length range
    * (44..577 at every SF), so BOTH the truncate and the pad path execute.
    */
  private def multimodalResize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.resize(s, Multimodal.withPayload(T(s, dir, "documents")),
          targetW = 8, targetH = 8).toDF()
        .select(col("doc_id"), md5(col("payload")).as("payload_md5"),
          col("orig_bytes"), col("new_bytes")),
      "doc_id")
  // Byte-exact resize re-derivation: ASCII corpus ⇒ VARCHAR ops are byte
  // ops; md5 over a NUL-padded VARCHAR hashes the raw bytes, matching
  // Spark's md5(binary) of the truncated/zero-padded payload.
  gate("multimodal_resize", multimodalResize,
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
      |SELECT doc_id,
      |       md5(CASE WHEN n >= 64 THEN substr(text, 1, 64)
      |                ELSE text || repeat(chr(0), CAST(64 - n AS INT)) END) AS payload_md5,
      |       CAST(n AS BIGINT) AS orig_bytes, CAST(64 AS BIGINT) AS new_bytes
      |FROM d ORDER BY doc_id""".stripMargin)

  /** [[graft.ops.Multimodal.sampleFrames]] gated byte-exactly: every 4th
    * 16-byte frame, md5 per frame against the oracle's substr re-derivation.
    */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.sampleFrames(s, Multimodal.withPayload(T(s, dir, "documents")),
          frameBytes = 16, everyN = 4).toDF()
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5")),
      "doc_id", "frame_idx")
  // Frame sampling re-derivation: every 4th 16-byte frame of the payload,
  // one md5 per frame; docs shorter than one frame emit nothing.
  gate("multimodal_frames", multimodalFrames,
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
      |SELECT doc_id, i AS frame_idx,
      |       md5(substr(text, CAST(i*16 + 1 AS INT), 16)) AS frame_md5
      |FROM d, unnest(range(0, n // 16)) AS t(i)
      |WHERE i % 4 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin)

  /** Fixture for the real-pixel PNG gates: per document, a deterministic
    * small 8-bit image (dimensions/channels/pixel values all closed-form
    * functions of `doc_id`, filter type varies per row so all five PNG
    * filters appear across the corpus) encoded to a COMPLETE PNG by
    * [[graft.ops.Multimodal.pngEncode]] — deflate, per-row filtering,
    * CRC'd chunks. The oracle never parses PNG: it re-computes the same
    * closed-form pixel values, so any defect anywhere in the
    * deflate→inflate→un-filter round trip turns the gate red.
    */
  private def plantedPngs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents").select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (4 + id % 13).toInt
        val h = (3 + id % 11).toInt
        val ch = (1 + id % 4).toInt
        val px = new Array[Byte](w * h * ch)
        var k = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < ch) {
              px(k) = (((id * 31 + x * 7 + y * 13 + c * 101) % 256) & 0xff).toByte
              k += 1; c += 1
            }
            x += 1
          }
          y += 1
        }
        (id, Multimodal.pngEncode(w, h, ch, px, row => ((id + row) % 5).toInt))
      }
    }.toDF("doc_id", "payload")
  }

  /** Real PNG PIXEL statistics ([[graft.ops.Multimodal.pngPixelStats]]):
    * plant → inflate → un-filter → all-integer per-image stats; the oracle
    * pins the planted pixel sums arithmetically.
    */
  private def multimodalPixels(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.pngPixelStats(s, plantedPngs(s, dir)).toDF(), "doc_id")
  // Real-pixel PNG stats: the oracle computes the planted closed-form
  // pixel values directly (it never parses PNG) — the engine must get
  // the SAME integers back out through deflate → inflate → un-filter.
  gate("multimodal_pixels", multimodalPixels,
    """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
      |                  1 + doc_id % 4 AS ch FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, d.ch,
      |              (d.doc_id*31 + x*7 + y*13 + c*101) % 256 AS v
      |       FROM d, unnest(range(0, d.w)) AS tx(x),
      |            unnest(range(0, d.h)) AS ty(y),
      |            unnest(range(0, d.ch)) AS tc(c))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(ch AS BIGINT) AS channels, count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
      |FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)

  /** Real PCM SAMPLE statistics ([[graft.ops.Multimodal.wavSampleStats]])
    * — the audio twin of `multimodal_pixels`: per document a closed-form
    * 16-bit waveform (`((doc_id·37 + i·101) mod 4001) − 2000` at
    * interleaved index i) encoded to a complete RIFF container by
    * [[graft.ops.Multimodal.wavEncode]], decoded back through the strict
    * [[graft.ops.Multimodal.decodeWavSamples]] path, reduced to
    * all-integer stats (sum, max |s|, exact energy Σs²) the oracle
    * re-derives arithmetically.
    */
  private def multimodalWavSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val frames = (20 + id % 13).toInt
          val ch = (1 + id % 2).toInt
          val ss = new Array[Int](frames * ch)
          var i = 0
          while (i < ss.length) {
            ss(i) = (((id * 37 + i * 101) % 4001) - 2000).toInt
            i += 1
          }
          (id, Multimodal.wavEncode(ch, 8000L + (id % 100), ss))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.wavSampleStats(s, planted).toDF(), "doc_id")
  }
  // Audio samples: the closed-form 16-bit waveform re-derived per
  // interleaved index; energy as exact integer Σs².
  gate("multimodal_wav_samples", multimodalWavSamples,
    """WITH d AS (SELECT doc_id, 20 + doc_id % 13 AS frames,
      |                  1 + doc_id % 2 AS ch,
      |                  8000 + doc_id % 100 AS rate FROM documents),
      |sv AS (SELECT d.doc_id, d.ch, d.rate,
      |              (d.doc_id*37 + i*101) % 4001 - 2000 AS s
      |       FROM d, unnest(range(0, d.frames * d.ch)) AS t(i))
      |SELECT doc_id, CAST(ch AS BIGINT) AS channels,
      |       CAST(rate AS BIGINT) AS sample_rate,
      |       count(*) AS n_samples, CAST(sum(s) AS BIGINT) AS sum_samples,
      |       CAST(max(abs(s)) AS BIGINT) AS max_abs,
      |       CAST(sum(s*s) AS BIGINT) AS sum_sq
      |FROM sv GROUP BY doc_id, ch, rate ORDER BY doc_id""".stripMargin)

  /** The PALETTE (color type 3) pixel path
    * ([[graft.ops.Multimodal.pngEncodePalette]] →
    * [[graft.ops.Multimodal.decodePngPixels]]' PLTE expansion): per
    * document a 16-entry closed-form palette and a closed-form index
    * raster, read back as plain RGB — the oracle composes the two
    * formulas, so a wrong palette lookup, index filter, or channel order
    * turns it red.
    */
  private def multimodalPixelsPalette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 9).toInt
          val h = (3 + id % 7).toInt
          val pal = new Array[Byte](16 * 3)
          var j = 0
          while (j < 16) {
            var c = 0
            while (c < 3) {
              pal(j * 3 + c) = (((id * 7 + j * 11 + c * 29) % 256) & 0xff).toByte
              c += 1
            }
            j += 1
          }
          val idx = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              idx(y * w + x) = (((id + 3 * x + 5 * y) % 16) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodePalette(w, h, pal, idx,
            row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngPixelStats(s, planted).toDF(), "doc_id")
  }
  // Palette path: pixel value = palette formula composed with the index
  // formula — the PLTE indirection re-derived arithmetically.
  gate("multimodal_pixels_palette", multimodalPixelsPalette,
    """WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h,
      |              (d.doc_id*7 + ((d.doc_id + 3*x + 5*y) % 16)*11
      |               + c*29) % 256 AS v
      |       FROM d, unnest(range(0, d.w)) AS tx(x),
      |            unnest(range(0, d.h)) AS ty(y),
      |            unnest(range(0, 3)) AS tc(c))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(3 AS BIGINT) AS channels, count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)

  /** Observable PNG sub-class routing ([[graft.ops.Multimodal.pngCodecTag]]
    * via extractFeatures): per document, a PNG container whose class is a
    * closed-form function of `doc_id mod 4` — a REAL depth-8 image
    * ([[graft.ops.Multimodal.pngEncode]], the only class the full pixel
    * path accepts), a 16-bit IHDR (`png16`), an Adam7-interlaced IHDR
    * (`png_i`), and a depth-4 IHDR (`png_ld`), the last three framed by
    * [[graft.ops.Multimodal.pngContainer]] (valid chunk walk + CRCs, so
    * the metadata path accepts all four). The gate counts rows and
    * pixel-path successes per codec tag: any class silently collapsing
    * into plain `png` (the r17/r18 carry-over) flips a group's counts; a
    * pixel path that starts accepting a class it cannot decode flips
    * `n_pixel_decoded`.
    */
  private def multimodalPngClasses(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (1 + id % 45).toInt
          val h = (1 + id % 29).toInt
          val payload = (id % 4) match {
            case 0 =>
              val px = Array.tabulate(w * h)(k => (((id * 31 + k * 7) % 256) & 0xff).toByte)
              Multimodal.pngEncode(w, h, 1, px, row => ((id + row) % 5).toInt)
            case 1 => Multimodal.pngContainer(w, h, depth = 16, colorType = 0,
              interlace = 0, idat = Array[Byte](1, 2, 3))
            case 2 => Multimodal.pngContainer(w, h, depth = 8, colorType = 0,
              interlace = 1, idat = Array[Byte](1, 2, 3))
            case _ => Multimodal.pngContainer(w, h, depth = 4, colorType = 0,
              interlace = 0, idat = Array[Byte](1, 2, 3))
          }
          (id, payload, w.toLong, h.toLong)
        }
      }.toDF("doc_id", "payload", "w", "h")
        // Two consumers (feature extract + pixel stats) — encode the PNGs
        // once, not per consumer (the r17 double-scan discipline).
        .narrowCheckpointIfSmall() // payload-bearing — size-gated (r22)
    val feats = Multimodal.extractFeatures(s, planted.select(col("doc_id"), col("payload"))).toDF()
    val pix = Multimodal.pngPixelStats(s, planted.select(col("doc_id"), col("payload")))
      .toDF().select(col("doc_id"), lit(1L).as("pix"))
    graft.ops.Ordered.smallResult(
      feats.join(pix, Seq("doc_id"), "left")
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pix"), lit(0L))).as("n_pixel_decoded"),
          sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h")),
      "codec")
  }
  // PNG sub-class routing: codec tag + pixel-path acceptance per class is
  // a pure function of doc_id mod 4; widths/heights are the planted
  // closed forms, so the oracle needs no PNG parsing at all.
  gate("multimodal_png_classes", multimodalPngClasses,
    """WITH d AS (SELECT doc_id, 1 + doc_id % 45 AS w, 1 + doc_id % 29 AS h,
      |                  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'png16'
      |                       WHEN 2 THEN 'png_i' ELSE 'png_ld' END AS codec
      |           FROM documents)
      |SELECT codec, count(*) AS n,
      |       CAST(sum(CASE WHEN codec = 'png' THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_pixel_decoded,
      |       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h
      |FROM d GROUP BY codec ORDER BY codec""".stripMargin)

  /** REAL 16-bit PNG pixel decode ([[graft.ops.Multimodal.decodePngRaster]]
    * via [[graft.ops.Multimodal.pngRasterStats]]): per document a
    * closed-form 16-bit gradient spanning the full 0..65535 sample range
    * (values whose low byte differs from the high byte, so an endianness
    * or stride slip cannot cancel), encoded by
    * [[graft.ops.Multimodal.pngEncodeRaster]] with per-row filter
    * rotation, decoded back through inflate → 2-byte-sample un-filter.
    * The oracle re-computes the planted values arithmetically at 16-bit
    * scale — the r19 "png16 classified but not decoded" gap, closed.
    */
  private def multimodalPng16Pixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (2 + id % 11).toInt
          val h = (2 + id % 7).toInt
          val ch = (1 + id % 3).toInt
          val s16 = new Array[Int](w * h * ch)
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var c = 0
              while (c < ch) {
                s16(k) = ((id * 4099 + x * 521 + y * 1031 + c * 257) % 65536).toInt
                k += 1; c += 1
              }
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodeRaster(w, h, ch, depth = 16, interlace = 0,
            Multimodal.samples16ToBytes(s16), row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngRasterStats(s, planted).toDF(), "doc_id")
  }
  // 16-bit pixel path: the closed-form 16-bit gradient re-derived
  // arithmetically at 0..65535 scale — the engine must get the SAME
  // integers back through inflate + 2-byte-sample un-filter.
  gate("multimodal_png16_pixels", multimodalPng16Pixels,
    """WITH d AS (SELECT doc_id, 2 + doc_id % 11 AS w, 2 + doc_id % 7 AS h,
      |                  1 + doc_id % 3 AS ch FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, d.ch,
      |              (d.doc_id*4099 + x*521 + y*1031 + c*257) % 65536 AS v
      |       FROM d, unnest(range(0, d.w)) AS tx(x),
      |            unnest(range(0, d.h)) AS ty(y),
      |            unnest(range(0, d.ch)) AS tc(c))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(ch AS BIGINT) AS channels, CAST(16 AS BIGINT) AS depth,
      |       count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
      |FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)

  /** Adam7 INTERLACED PNG pixel decode: the same closed-form raster
    * (8-bit or 16-bit by `doc_id % 2`) encoded BOTH ways —
    * [[graft.ops.Multimodal.pngEncodeRaster]] sequential and Adam7 — and
    * decoded through [[graft.ops.Multimodal.pngRasterStats]]. The output
    * carries the interlaced decode's stats (oracle: the planted closed
    * forms) plus `twin_match` = 1 iff the two decodes agree on every stat
    * — the natural oracle for a 7-pass reassembly (a wrong pass geometry
    * moves pixels, changing `sum_pix` against the closed form AND, in
    * general, desyncing the twins). Dims 1..19 × 1..13 cover every
    * pass-emptiness pattern including single-row/column images.
    */
  private def multimodalPngInterlaced(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (1 + id % 19).toInt
          val h = (1 + id % 13).toInt
          val ch = (1 + id % 2).toInt
          val depth = if (id % 2 == 0) 8 else 16
          val n = w * h * ch
          val data =
            if (depth == 8)
              Array.tabulate(n)(k => (((id * 31 +
                (k % (w * ch)) / ch * 7 + (k / (w * ch)) * 13 +
                (k % ch) * 101) % 256) & 0xff).toByte)
            else Multimodal.samples16ToBytes(Array.tabulate(n) { k =>
              ((id * 4099 + (k % (w * ch)) / ch * 521 + (k / (w * ch)) * 1031 +
                (k % ch) * 257) % 65536).toInt
            })
          val seqEnc = Multimodal.pngEncodeRaster(w, h, ch, depth, interlace = 0,
            data, row => ((id + row) % 5).toInt)
          val adamEnc = Multimodal.pngEncodeRaster(w, h, ch, depth, interlace = 1,
            data, row => ((id + row) % 5).toInt)
          (id, seqEnc, adamEnc)
        }
      }.toDF("doc_id", "seq", "adam")
        .narrowCheckpointIfSmall() // payload-bearing — size-gated (r22)
    val seqStats = Multimodal.pngRasterStats(s,
      planted.select(col("doc_id"), col("seq").as("payload"))).toDF()
    val adamStats = Multimodal.pngRasterStats(s,
      planted.select(col("doc_id"), col("adam").as("payload"))).toDF()
    val joined = adamStats.join(
      seqStats.select(col("doc_id"),
        col("width").as("sw"), col("height").as("sh"),
        col("channels").as("sc"), col("depth").as("sd"),
        col("n_pix").as("sn"), col("sum_pix").as("ss"), col("max_pix").as("sm")),
      Seq("doc_id"), "inner")
    graft.ops.Ordered.smallResult(
      joined.select(col("doc_id"), col("width"), col("height"),
        col("channels"), col("depth"), col("n_pix"), col("sum_pix"), col("max_pix"),
        when(col("width") === col("sw") && col("height") === col("sh") &&
          col("channels") === col("sc") && col("depth") === col("sd") &&
          col("n_pix") === col("sn") && col("sum_pix") === col("ss") &&
          col("max_pix") === col("sm"), 1L).otherwise(0L).as("twin_match")),
      "doc_id")
  }
  // Adam7 path: stats of the INTERLACED decode against the planted
  // closed forms (depth by doc_id % 2), twin_match pinned to 1 — the
  // engine must reassemble 7 passes to the exact sequential raster.
  gate("multimodal_png_interlaced", multimodalPngInterlaced,
    """WITH d AS (SELECT doc_id, 1 + doc_id % 19 AS w, 1 + doc_id % 13 AS h,
      |                  1 + doc_id % 2 AS ch,
      |                  CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS depth
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, d.ch, d.depth,
      |              CASE WHEN d.depth = 8
      |                   THEN (d.doc_id*31 + x*7 + y*13 + c*101) % 256
      |                   ELSE (d.doc_id*4099 + x*521 + y*1031 + c*257) % 65536
      |              END AS v
      |       FROM d, unnest(range(0, d.w)) AS tx(x),
      |            unnest(range(0, d.h)) AS ty(y),
      |            unnest(range(0, d.ch)) AS tc(c))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(ch AS BIGINT) AS channels, CAST(depth AS BIGINT) AS depth,
      |       count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix,
      |       CAST(1 AS BIGINT) AS twin_match
      |FROM px GROUP BY doc_id, w, h, ch, depth ORDER BY doc_id""".stripMargin)

  /** The classes gate with REAL pixel streams (the r19 done-criterion,
    * extended): per document one of four classes by `doc_id % 4` — real
    * depth-8 sequential, real 16-bit, real Adam7, real depth-4
    * (packed-bit). Counts per codec tag how many the RASTER path
    * ([[graft.ops.Multimodal.pngRasterStats]]) decoded: since round 20
    * EVERY legal PNG class decodes, so the oracle expects
    * n_pixel_decoded = n for all four groups — a decode path silently
    * dying on any class flips its group (refusal observability for
    * garbage streams lives in `multimodal_png_classes`, whose containers
    * carry non-zlib IDAT).
    */
  private def multimodalPngClassesPx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (1 + id % 45).toInt
          val h = (1 + id % 29).toInt
          val px8 = Array.tabulate(w * h)(k => (((id * 31 + k * 7) % 256) & 0xff).toByte)
          val payload = (id % 4) match {
            case 0 => Multimodal.pngEncodeRaster(w, h, 1, depth = 8, interlace = 0,
              px8, row => ((id + row) % 5).toInt)
            case 1 => Multimodal.pngEncodeRaster(w, h, 1, depth = 16, interlace = 0,
              Multimodal.samples16ToBytes(
                Array.tabulate(w * h)(k => ((id * 4099 + k * 521) % 65536).toInt)),
              row => ((id + row) % 5).toInt)
            case 2 => Multimodal.pngEncodeRaster(w, h, 1, depth = 8, interlace = 1,
              px8, row => ((id + row) % 5).toInt)
            case _ => Multimodal.pngEncodeRaster(w, h, 1, depth = 4, interlace = 0,
              Array.tabulate(w * h)(k => (((id + k * 7) % 16) & 0xff).toByte),
              row => ((id + row) % 5).toInt)
          }
          (id, payload, w.toLong, h.toLong)
        }
      }.toDF("doc_id", "payload", "w", "h")
        .narrowCheckpointIfSmall() // payload-bearing — size-gated (r22)
    val feats = Multimodal.extractFeatures(s, planted.select(col("doc_id"), col("payload"))).toDF()
    val pix = Multimodal.pngRasterStats(s, planted.select(col("doc_id"), col("payload")))
      .toDF().select(col("doc_id"), lit(1L).as("pix"))
    graft.ops.Ordered.smallResult(
      feats.join(pix, Seq("doc_id"), "left")
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pix"), lit(0L))).as("n_pixel_decoded"),
          sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h")),
      "codec")
  }
  // Classes with REAL streams: since round 20 EVERY legal PNG class
  // decodes — n_pixel_decoded = n for all four groups.
  gate("multimodal_png_classes_px", multimodalPngClassesPx,
    """WITH d AS (SELECT doc_id, 1 + doc_id % 45 AS w, 1 + doc_id % 29 AS h,
      |                  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'png16'
      |                       WHEN 2 THEN 'png_i' ELSE 'png_ld' END AS codec
      |           FROM documents)
      |SELECT codec, count(*) AS n, count(*) AS n_pixel_decoded,
      |       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h
      |FROM d GROUP BY codec ORDER BY codec""".stripMargin)

  /** LOW-DEPTH (1/2/4-bit packed) grayscale PNG pixel decode — the last
    * PNG class to gain a real pixel path: per document a closed-form
    * raster at depth `2^(doc_id mod 3)` bits, HALF the corpus
    * Adam7-interlaced (`doc_id mod 2`), encoded by
    * [[graft.ops.Multimodal.pngEncodeRaster]]'s MSB-first bit packer with
    * per-row filter rotation and widths that leave row-end padding bits.
    * Stats come back at the STORED scale (0..2^d−1) through
    * [[graft.ops.Multimodal.pngRasterStats]]; the oracle re-derives the
    * planted values arithmetically — a bit-order, stride, or padding slip
    * changes `sum_pix` against the closed form.
    */
  private def multimodalPngLdPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val d = 1 << (id % 3).toInt // 1, 2, 4
          val w = (1 + id % 21).toInt
          val h = (1 + id % 11).toInt
          val px = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(y * w + x) = (((id + 3 * x + 5 * y) % (1 << d)) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodeRaster(w, h, 1, d, (id % 2).toInt,
            px, row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngRasterStats(s, planted).toDF(), "doc_id")
  }
  // Low-depth packed-bit path: planted values at the stored 0..2^d-1
  // scale, half the corpus Adam7 — the oracle re-derives them without
  // parsing PNG, so bit order/stride/padding slips turn it red.
  gate("multimodal_png_ld_pixels", multimodalPngLdPixels,
    """WITH d AS (SELECT doc_id, 1 + doc_id % 21 AS w, 1 + doc_id % 11 AS h,
      |                  CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS dep,
      |                  CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS lv
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, d.dep,
      |              (d.doc_id + 3*x + 5*y) % d.lv AS v
      |       FROM d, unnest(range(0, d.w)) AS tx(x),
      |            unnest(range(0, d.h)) AS ty(y))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(1 AS BIGINT) AS channels, CAST(dep AS BIGINT) AS depth,
      |       count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
      |FROM px GROUP BY doc_id, w, h, dep ORDER BY doc_id""".stripMargin)

  /** LOW-DEPTH PALETTE PNG pixel decode
    * ([[graft.ops.Multimodal.pngEncodePaletteRaster]] →
    * [[graft.ops.Multimodal.decodePngRaster]]'s PLTE expansion after
    * packed-bit unpack, half Adam7): a depth-4 index raster and 16-entry
    * closed-form palette per document — the oracle composes the index and
    * palette formulas, so a wrong unpack, palette lookup, or interlace
    * reassembly turns it red.
    */
  private def multimodalPngLdPalette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 9).toInt
          val h = (3 + id % 7).toInt
          val pal = new Array[Byte](16 * 3)
          var j = 0
          while (j < 16) {
            var c = 0
            while (c < 3) {
              pal(j * 3 + c) = (((id * 7 + j * 11 + c * 29) % 256) & 0xff).toByte
              c += 1
            }
            j += 1
          }
          val idx = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              idx(y * w + x) = (((id + 3 * x + 5 * y) % 16) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.pngEncodePaletteRaster(w, h, depth = 4,
            interlace = (id % 2).toInt, pal, idx, row => ((id + row) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    graft.ops.Ordered.smallResult(
      Multimodal.pngRasterStats(s, planted).toDF(), "doc_id")
  }
  // Low-depth palette path: PLTE indirection composed with the depth-4
  // packed index raster (half Adam7), re-derived arithmetically.
  gate("multimodal_png_ld_palette", multimodalPngLdPalette,
    """WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h,
      |              (d.doc_id*7 + ((d.doc_id + 3*x + 5*y) % 16)*11
      |               + c*29) % 256 AS v
      |       FROM d, unnest(range(0, d.w)) AS tx(x),
      |            unnest(range(0, d.h)) AS ty(y),
      |            unnest(range(0, 3)) AS tc(c))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(3 AS BIGINT) AS channels, CAST(8 AS BIGINT) AS depth,
      |       count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)

  /** Real PNG resize ([[graft.ops.Multimodal.resizePngNearest]]): plant →
    * decode → nearest-neighbor 5×4 → RE-ENCODE → decode again for stats —
    * the full codec round trip twice over; the oracle re-derives the
    * integer source-index mapping `⌊out·src/target⌋` on the closed-form
    * pixels.
    */
  private def multimodalResizePx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.smallResult(
      Multimodal.pngPixelStats(s,
        Multimodal.resizePngNearest(s, plantedPngs(s, dir),
          targetW = 5, targetH = 4).toDF()).toDF(),
      "doc_id")
  // Nearest-neighbor resize to 5x4: source index = floor(out*src/target),
  // all-integer, applied to the same closed-form pixels.
  gate("multimodal_resize_px", multimodalResizePx,
    """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
      |                  1 + doc_id % 4 AS ch FROM documents),
      |px AS (SELECT d.doc_id, d.ch,
      |              (d.doc_id*31 + ((x*d.w) // 5)*7 + ((y*d.h) // 4)*13
      |               + c*101) % 256 AS v
      |       FROM d, unnest(range(0, 5)) AS tx(x),
      |            unnest(range(0, 4)) AS ty(y),
      |            unnest(range(0, d.ch)) AS tc(c))
      |SELECT doc_id, CAST(5 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
      |       CAST(ch AS BIGINT) AS channels, count(*) AS n_pix,
      |       CAST(sum(v) AS BIGINT) AS sum_pix, CAST(max(v) AS BIGINT) AS max_pix
      |FROM px GROUP BY doc_id, ch ORDER BY doc_id""".stripMargin)

  /** Real LOSSY-codec round trip ([[graft.ops.Multimodal.jpegEncodeGray]] →
    * [[graft.ops.Multimodal.decodeJpegGrayPixels]]): per document a
    * closed-form grayscale GRADIENT raster (`16 + 2·(doc_id mod 32) + 4x +
    * 5y`, max 198 — smooth so baseline JPEG's DCT keeps the error tiny;
    * measured max |err| = 2 at quality 0.9 across 500 fixtures) is
    * entropy-coded by the JDK's own baseline encoder and decoded back
    * through the strict marker walk + Huffman/IDCT pipeline. JPEG being
    * lossy, the gate pins STRUCTURE exactly (dims, pixel count) and the
    * pixels by the `within_bound` discipline of `approx_distinct_users`:
    * `max |decoded − planted| ≤ 8` as a 0/1 column the oracle expects to
    * be 1 — a decoder that mangles the raster (wrong stride, band order,
    * marker slip) lands errors in the tens-to-hundreds and turns it red,
    * while JDK-version codec drift of a count or two cannot.
    */
  private def multimodalJpegPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val px = new Array[Byte](w * h)
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(k) = ((16 + (id % 32) * 2 + 4 * x + 5 * y) & 0xff).toByte
              k += 1; x += 1
            }
            y += 1
          }
          (id, Multimodal.jpegEncodeGray(w, h, px, 0.9f), px)
        }
      }.toDF("doc_id", "payload", "ref")
    graft.ops.Ordered.smallResult(
      Multimodal.jpegGrayErrStats(s, planted).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_pix"),
          (col("max_abs_err") <= 8).cast("long").as("err_bounded")),
      "doc_id")
  }
  // Lossy-codec round trip: structure closed-form, pixels by the
  // within-bound discipline (JPEG error is codec-owned; the engine must
  // land within 8 counts of the planted gradient on EVERY pixel).
  gate("multimodal_jpeg_pixels", multimodalJpegPixels,
    """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      |           FROM documents)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(w*h AS BIGINT) AS n_pix, CAST(1 AS BIGINT) AS err_bounded
      |FROM d ORDER BY doc_id""".stripMargin)

  /** COLOR lossy round trip ([[graft.ops.Multimodal.jpegEncodeRgb]] →
    * [[graft.ops.Multimodal.decodeJpegRgbPixels]]): the gray gate's
    * discipline on 3 bands. Per document a closed-form RGB gradient with
    * the channels SEPARATED by ≥ 36 counts everywhere
    * (R = 20+2·(id%16)+2x+2y ≤ 104, G = 140+(id%8)+x+y ≤ 174,
    * B = 200+(id%8)+x+2y ≤ 246) — so a band-order or stride bug lands
    * errors ≥ ~30 while the measured codec error is 4 (quality 0.9, worst
    * over the fixture family; chroma conversion + subsampling included).
    * Gate bound `max |err| ≤ 12`: 3× the measured worst for JDK drift,
    * 3× under the smallest cross-channel signal.
    */
  private def multimodalJpegRgb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = T(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val px = new Array[Byte](3 * w * h)
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(k) = ((20 + (id % 16) * 2 + 2 * x + 2 * y) & 0xff).toByte
              px(k + 1) = ((140 + (id % 8) + x + y) & 0xff).toByte
              px(k + 2) = ((200 + (id % 8) + x + 2 * y) & 0xff).toByte
              k += 3; x += 1
            }
            y += 1
          }
          (id, Multimodal.jpegEncodeRgb(w, h, px, 0.9f), px)
        }
      }.toDF("doc_id", "payload", "ref")
    graft.ops.Ordered.smallResult(
      Multimodal.jpegRgbErrStats(s, planted).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_pix"),
          (col("max_abs_err") <= 12).cast("long").as("err_bounded")),
      "doc_id")
  }
  // Color twin: same closed-form structure; the engine must run the full
  // 3-band Huffman/IDCT/YCbCr(+chroma upsample) pipeline and land every
  // R/G/B sample within 12 counts of the planted gradient (measured
  // codec worst: 4; any band-order/stride bug: >= ~30).
  gate("multimodal_jpeg_rgb", multimodalJpegRgb,
    """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      |           FROM documents)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(w*h AS BIGINT) AS n_pix, CAST(1 AS BIGINT) AS err_bounded
      |FROM d ORDER BY doc_id""".stripMargin)
}
