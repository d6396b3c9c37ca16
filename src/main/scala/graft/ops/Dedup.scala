package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.ops.Materialize.NarrowSyntax

/** Deduplication operators for document corpora, from exact to near-dup.
  *
  * Scale design: every near-dup variant is candidate-generation-by-equality
  * (shingle / LSH-band / simhash-chunk join) followed by exact verification on
  * the candidates — never an O(n²) cross join. The equality join shuffles on
  * the candidate key, so skewed keys (a shingle shared by millions of docs)
  * are the 100 TB hazard; [[jaccardPairs]]'s `maxShingleDf` caps how many
  * documents a shingle may appear in before it is dropped from candidate
  * generation (stopword-shingle suppression), which bounds the per-key
  * fan-out.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical key, with the
    * duplicate count. `groupBy` = hash-shuffle on the text key; at 100 TB
    * group instead on `md5(text)` (fixed 16-byte shuffle key) — same result,
    * via [[hashed]].
    */
  def exact(df: DataFrame, keyCol: String, idCol: String = "doc_id"): DataFrame =
    // Unordered by design: the output is row-per-distinct-key (NOT report-
    // sized at scale), and a bare orderBy's range-boundary sampling would
    // re-execute the whole scan+shuffle+aggregate — gate queries sort the
    // (small) gate corpus via Ordered.smallResult instead.
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Exact dedup keyed on md5(text): identical output to [[exact]] but the
    * shuffle carries a 16-byte key instead of the document body.
    */
  def hashed(df: DataFrame, keyCol: String, idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(keyCol)))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Incremental exact dedup — the INGEST shape: keep only `incoming` rows
    * whose key is absent from the (already-deduplicated) `reference`
    * corpus, keyed on md5 so the anti-join shuffles 16-byte hashes instead
    * of document bodies. [[exact]] collapses a corpus against itself; this
    * admits a new batch against an existing corpus without rescanning the
    * corpus into a self-join — at 100 TB the reference side is typically a
    * pre-materialized fingerprint table ([[graft.ops.Text.fingerprint]]
    * output), which joins here identically. Duplicates WITHIN the incoming
    * batch are kept (run [[exact]]/[[hashed]] on the batch first; the two
    * concerns compose).
    *
    * NULL keys: md5(NULL) is NULL, and a plain equi-anti-join would admit
    * every NULL-key incoming row on every batch (NULL = NULL is unknown) —
    * a re-crawled null document ingests forever. The join is null-safe
    * (`<=>`) instead, making NULL one ordinary key value exactly as
    * [[exact]]/[[hashed]]'s groupBy treats it: a NULL-key incoming row is
    * dropped iff the reference corpus already contains a NULL-key row.
    */
  def exactAgainst(
      incoming: DataFrame,
      reference: DataFrame,
      keyCol: String,
      refKeyCol: String): DataFrame = {
    val refKeys = reference.select(md5(col(refKeyCol)).as("__ref_fp")).distinct()
    incoming
      .join(refKeys, md5(col(keyCol)) <=> col("__ref_fp"), "left_anti")
  }

  /** Distinct word n-gram shingles per document: `(id, shingle)` rows.
    * Documents shorter than `n` tokens produce no shingles (guarded — Spark's
    * `sequence` would otherwise generate a descending range).
    */
  def shingles(df: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(Text.wordGrams(col(textCol), n))).as("shingle"))

  /** Exact n-gram-Jaccard near-dup pairs: J(A,B) = |A∩B| / |A∪B| over distinct
    * shingle sets, emitted for J ≥ `threshold`.
    *
    * Count formulation: |A∩B| falls out of one self-equi-join on the shingle
    * grouped by (d1, d2), and |A∪B| = |A| + |B| − |A∩B| from per-doc set
    * sizes — no per-doc collected arrays, no window functions, two shuffles
    * total (by shingle, then by pair). Cost is Σ_shingle df² joined rows; at
    * corpus-like df distributions this is the fastest formulation (codegen,
    * no materialization jobs). Hot stopword-shingles make
    * df² explode at 100 TB — cap them with `maxShingleDf`, or use
    * [[jaccardPairsPrefixFiltered]] (rare-prefix candidate generation) or
    * [[minhashLshPairs]] (fixed-size signatures), all of which bound per-key
    * fan-out.
    *
    * `maxShingleDf = Some(cap)`: shingles appearing in more than `cap`
    * documents are dropped from CANDIDATE GENERATION only — candidates are
    * then verified exactly on the full shingle sets, so every reported
    * jaccard is exact. The (documented) recall trade: a pair sharing ONLY
    * capped shingles is never considered. At a cap of 10³–10⁴ such a pair
    * is overwhelmingly below any near-dup threshold anyway (its shared
    * shingles are stopword-grade), and the cap bounds the join's worst key
    * fan-out to cap² rows — the actual skew defense at 100 TB.
    */
  def jaccardPairs(
      df: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxShingleDf: Option[Long] = None): DataFrame = {
    // Single-pass codegen'd shingle kernel: tokenize+shingle+hash+distinct in
    // one expression, so the self-join shuffles 16-byte (id, hash) rows
    // instead of shingle strings, and per-doc set sizes are a free `size()`.
    // Materialized once (optimization r21, the jaccardPairsPrefixFiltered
    // contract): the frame feeds the self-join sides, the per-doc sizes,
    // and (capped arm) the hot-shingle list and exact verify — without the
    // cut the kernel re-tokenized every document once PER consumer (the
    // dedup_jaccard_capped audit plan carried 40 Exchanges).
    val hashed = df.select(
      col(idCol).as("id"),
      org.apache.spark.sql.graftfns.TextFunctions.shingleHashes(col(textCol), n).as("hs"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val sh = hashed.select(col("id"), explode(col("hs")).as("h"))
    maxShingleDf match {
      case None =>
        val counts = hashed.select(col("id"), size(col("hs")).cast("long").as("n_sh"))
        // SHUFFLE_HASH: the equi-key self-join needs no sort order, and
        // sorting both exploded sides is most of a sort-merge join's cost
        // here (~2× wall-clock). Advisory — Spark falls back to SMJ
        // (spill-safe) if a build partition can't fit, which is also the
        // right call at skewed 100 TB shingle distributions.
        val overlap = sh.as("a").hint("SHUFFLE_HASH")
          .join(sh.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .select(col("a.id").as("d1"), col("b.id").as("d2"))
          .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ov"))
        // Per-doc sizes are one row per document: tiny here (AQE broadcasts),
        // a plain shuffled join keyed by doc id at 100 TB.
        Ordered.smallResult(
          overlap
            .join(counts.select(col("id").as("d1"), col("n_sh").as("n1")), "d1")
            .join(counts.select(col("id").as("d2"), col("n_sh").as("n2")), "d2")
            .select(col("d1"), col("d2"),
              round(col("ov").cast("double") / (col("n1") + col("n2") - col("ov")).cast("double"), 4)
                .as("jaccard"))
            .filter(col("jaccard") >= threshold),
          "d1", "d2")
      case Some(cap) =>
        // Anti-joining the over-cap shingles away bounds every candidate
        // key's fan-out to ≤ cap. No broadcast HINT on the hot list: it is
        // tiny for sane caps (well above the df distribution's bulk), and
        // Spark/AQE will broadcast it then — but a tiny cap makes it most
        // of the vocabulary, where a forced broadcast would OOM the driver
        // instead of degrading to a shuffle join.
        val hot = sh.groupBy(col("h")).agg(count(lit(1)).as("df_sh"))
          .filter(col("df_sh") > cap).select(col("h"))
        // Three consumers (both self-join sides + the kept-size rollup),
        // each of which would replay the hot aggregate and the anti-join.
        val pruned = sh.join(hot, Seq("h"), "left_anti")
          .narrowCheckpointIfSmall() // exploded corpus — size-gated (r22)
        // Count-bound pre-filter (ppjoin-style): per pair, the shared KEPT
        // shingles are a lower bound on the true overlap, and the true
        // overlap can exceed it by at most min(hot₁, hot₂) (a shared hot
        // shingle is hot in both docs). J ≥ t ⟺ ov ≥ t(n1+n2)/(1+t), so a
        // pair whose upper bound misses that mark can be rejected without
        // touching the full sets — this kills the mass of one-shared-shingle
        // candidates that a bare DISTINCT would carry into verification.
        val kept = pruned.groupBy(col("id")).agg(count(lit(1)).as("n_kept"))
        val sizes = hashed.select(col("id"), size(col("hs")).cast("long").as("n_sh"))
          .join(kept, Seq("id"), "left")
          .select(col("id"), col("n_sh"),
            (col("n_sh") - coalesce(col("n_kept"), lit(0L))).as("n_hot"))
        val ovKept = pruned.as("a").hint("SHUFFLE_HASH")
          .join(pruned.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .select(col("a.id").as("d1"), col("b.id").as("d2"))
          .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ov_kept"))
        // t − 1e-4: round-4 can lift a jaccard by < 5e-5, so the bound must
        // admit pairs just under the raw threshold (same guard as the
        // similarity kernels).
        val t = threshold - 1e-4
        val candidates = ovKept
          .join(sizes.select(col("id").as("d1"), col("n_sh").as("n1"), col("n_hot").as("h1")), "d1")
          .join(sizes.select(col("id").as("d2"), col("n_sh").as("n2"), col("n_hot").as("h2")), "d2")
          .filter((col("ov_kept") + least(col("h1"), col("h2"))).cast("double") >=
            lit(t / (1 + t)) * (col("n1") + col("n2")).cast("double"))
          .select(col("d1"), col("d2"))
        // Exact verification on full (uncapped) hashed sets — the cap only
        // limits which pairs are CONSIDERED, never the jaccard they score.
        Ordered.smallResult(
          candidates
            .join(hashed.select(col("id").as("d1"), col("hs").as("sh1")), "d1")
            .join(hashed.select(col("id").as("d2"), col("hs").as("sh2")), "d2")
            .select(col("d1"), col("d2"),
              round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
                size(array_union(col("sh1"), col("sh2"))).cast("double"), 4).as("jaccard"))
            .filter(col("jaccard") >= threshold),
          "d1", "d2")
    }
  }

  /** Asymmetric CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over distinct
    * shingle sets — the near-dup measure Jaccard systematically misses when
    * sizes differ. A short doc fully quoted inside a much longer one has
    * C(short→long) ≈ 1 but J = |A|/|B| ≈ 0: threshold-Jaccard dedup keeps
    * both copies, and the duplicated passage stays in the training set.
    * Containment is the subset/quotation detector (Broder's original
    * resemblance-vs-containment distinction).
    *
    * Same count formulation and cost shape as [[jaccardPairs]] (one
    * shingle-hash self-equi-join grouped by pair, per-doc sizes joined
    * back — no collected arrays); pairs emit once with BOTH directions'
    * scores (`cont1` = share of d1's shingles inside d2, `cont2` the
    * reverse) when either direction reaches `threshold`. The same stopword-
    * shingle df² hazard applies at 100 TB — cap hot shingles upstream or
    * generate candidates with [[jaccardPairsPrefixFiltered]] /
    * [[minhashLshPairs]] and score containment in their verify step.
    *
    * `n_sh`/`overlap` count DISTINCT SHINGLE HASHES while the oracle counts
    * distinct shingle strings — hash distinctness ≡ shingle distinctness
    * modulo 64-bit collisions, the same documented trade as
    * [[jaccardPairs]]; a collision between two distinct shingles inside one
    * document would shrink `n_sh`/`overlap` by one and shift both
    * containment ratios (~2⁻⁶⁴ per pair; accepted, stated here so the
    * trade is explicit rather than latent).
    */
  def containmentPairs(
      df: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // Materialized once — four consumers (self-join sides + both size
    // joins); the jaccardPairs note applies verbatim (optimization r21).
    val hashed = df.select(
      col(idCol).as("id"),
      org.apache.spark.sql.graftfns.TextFunctions.shingleHashes(col(textCol), n).as("hs"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val sh = hashed.select(col("id"), explode(col("hs")).as("h"))
    val counts = hashed.select(col("id"), size(col("hs")).cast("long").as("n_sh"))
    val overlap = sh.as("a").hint("SHUFFLE_HASH")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ov"))
    Ordered.smallResult(
      overlap
        .join(counts.select(col("id").as("d1"), col("n_sh").as("n1")), "d1")
        .join(counts.select(col("id").as("d2"), col("n_sh").as("n2")), "d2")
        .select(col("d1"), col("d2"), col("n1"), col("n2"),
          round(col("ov").cast("double") / col("n1").cast("double"), 4).as("cont1"),
          round(col("ov").cast("double") / col("n2").cast("double"), 4).as("cont2"))
        .filter(greatest(col("cont1"), col("cont2")) >= threshold),
      "d1", "d2")
  }

  /** Distinct colliding (d1 < d2) pairs of an `(id, h)` relation — the
    * equality-join candidate generator shared by the prefix-filtered path
    * and its audit. */
  private def collidingPairs(rel: DataFrame): DataFrame =
    rel.as("a").hint("SHUFFLE_HASH")
      .join(rel.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .distinct()

  /** The candidate volumes behind [[jaccardPairsPrefixFiltered]], exposed
    * for the audit spec: `(prefix-filtered candidate count, full
    * inverted-index candidate count)` over the same shingle relation.
    * Candidate volume IS this op's scale contract — the prefix must admit
    * strictly fewer pairs than the full join on any corpus with shared
    * shingles (and orders of magnitude fewer under stopword skew) while
    * never losing a true ≥-threshold pair; a regression in the ranking,
    * the prefix-length rule, or the canonical order shows up here long
    * before it shows up as wall-clock.
    */
  private[ops] def prefixCandidateCounts(
      df: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): (Long, Long) = {
    val sh = shingleRelation(shingleArrays(df, n, idCol, textCol))
    (collidingPairs(prefixOf(sh, threshold)).count(),
      collidingPairs(sh.select(col("id"), col("h"))).count())
  }

  /** The checkpointed SORTED shingle-array relation `(id, hs)` shared by
    * [[jaccardPairsPrefixFiltered]] and its candidate audit: ONE
    * shingle-hash pass over the text (the expensive scan), sorted so the
    * verification stage can merge-count intersections
    * ([[org.apache.spark.sql.graftfns.IntersectCountSorted]]). The compact
    * ARRAY form is what gets materialized — re-exploding checkpointed
    * arrays per consumer is cheap; materializing exploded rows would be
    * ~n̄_sh× the bytes. */
  private def shingleArrays(
      df: DataFrame, n: Int, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      array_sort(org.apache.spark.sql.graftfns.TextFunctions
        .shingleHashes(col(textCol), n)).as("hs"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)

  /** The exploded view `(id, n_sh, h)` of a shingle-array relation, the set
    * size riding along each row — so no stage joins a separate sizes
    * relation. */
  private def shingleRelation(hashed: DataFrame): DataFrame =
    hashed.select(col("id"), size(col("hs")).cast("long").as("n_sh"),
      explode(col("hs")).as("h"))

  /** ppjoin prefix rows `(id, h)` of a shingle relation: global canonical
    * order = (document frequency ascending, hash), keep rank
    * ≤ |A| − ⌈t·|A|⌉ + 1. Shared VERBATIM by [[jaccardPairsPrefixFiltered]]
    * and [[prefixCandidateCounts]] so the audit measures exactly the
    * algorithm the real path runs — a ranking or prefix-rule change cannot
    * drift one without the other. */
  private def prefixOf(sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df_sh"))
    // Rank-and-keep per document WITHOUT a window: a window would SORT the
    // whole exploded relation inside each id partition (WindowExec = sort +
    // running rank); a hash agg + per-document array_sort + slice does the
    // same selection with no global sort, and the per-document array is
    // bounded by the document's own shingle count (the same boundedness as
    // the hashed-array column itself). (df_sh, h) pairs are unique within a
    // document — shingle sets are distinct hashes — so slice-after-sort ≡
    // row_number ≤ p exactly.
    sh.hint("SHUFFLE_HASH").join(dfreq, "h")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df_sh"), col("h")))).as("__a"),
        max(col("n_sh")).as("n_sh"))
      .select(col("id"),
        explode(slice(col("__a"), lit(1),
          (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int"))).as("__s"))
      .select(col("id"), col("__s.h").as("h"))
  }

  /** [[jaccardPairs]] with ppjoin-style prefix-filtered candidate generation:
    * same exact output, but candidates come only from rare "prefix" shingles,
    * so per-shingle join fan-out stays bounded even when some shingles appear
    * in millions of documents (the stopword-shingle skew case the count
    * formulation can't survive).
    *
    * Everything runs on the [[org.apache.spark.sql.graftfns.ShingleHashes]]
    * kernel's 64-bit hashes — 16-byte join rows, like [[jaccardPairs]] and
    * [[minhashLshPairs]] (hash distinctness ≡ shingle distinctness modulo
    * 64-bit collisions, the same documented trade). Verification merge-
    * counts each candidate pair's SORTED hash arrays in generated code
    * ([[org.apache.spark.sql.graftfns.IntersectCountSorted]]): per
    * candidate it moves the same bytes as the earlier count formulation's
    * n̄_sh narrow rows, but through one pass with no re-aggregation
    * shuffle. (Both are distinct from the 9×-slower first cut, which
    * shuffled arrays into interpreted per-row `array_intersect` set
    * builds.)
    *
    * Materialization contract: the shingle-array relation feeds several
    * branches (ranking, both verification sides) and the prefix relation is
    * self-joined, so both are EAGERLY `localCheckpoint`ed when called (two
    * jobs run here, not at the caller's action). Unlike `.cache()`, nothing
    * registers in the CacheManager — the blocks die with the returned
    * DataFrame via the ContextCleaner, so sweeping many corpora/thresholds
    * through this op leaves no session-lifetime residue. Executor-local
    * blocks mean a lost executor fails the query (recompute the call); a
    * cluster run that needs fault tolerance should pre-materialize the
    * hashed relation to reliable storage instead.
    */
  def jaccardPairsPrefixFiltered(
      df: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hashed = shingleArrays(df, n, idCol, textCol)
    // Prefix filtering (ppjoin-style, [[prefixOf]]): order each document's
    // shingles by a global canonical order (ascending document frequency,
    // then hash) and keep only the first |A| − ⌈t·|A|⌉ + 1. Two sets with
    // J ≥ t MUST share a prefix shingle under a common total order, so
    // joining prefixes loses no true pair — but rare-first prefixes collide
    // far less than full sets, and the hottest (stopword-like) shingles
    // never enter the join at all.
    val prefix = prefixOf(shingleRelation(hashed), threshold)
      .narrowCheckpointIfSmall() // corpus-prefix-sized — size-gated (r22)
    val candidates = collidingPairs(prefix)
    // Exact verification on candidates only: join each candidate pair to
    // the two SORTED hash arrays by id and merge-count the intersection
    // ([[org.apache.spark.sql.graftfns.IntersectCountSorted]] — codegen'd
    // O(n1+n2) walk, no allocation). The earlier count formulation fanned
    // each candidate out to d1's shingle rows and re-aggregated —
    // |cand|·n̄_sh narrow rows through two shuffles plus a groupBy; this
    // moves the SAME bytes per candidate (an array ≈ n̄_sh narrow rows) but
    // once, with no aggregation shuffle, and the id-equality joins
    // broadcast whenever the corpus side fits. (Distinct from the 9×-slower
    // first cut this op's history warns about: that shuffled arrays into
    // interpreted per-row `array_intersect` set-builds; this is a sorted
    // merge in generated code.)
    val scored = candidates
      .join(hashed.select(col("id").as("d1"), col("hs").as("__hs1")), "d1")
      .join(hashed.select(col("id").as("d2"), col("hs").as("__hs2")), "d2")
      .select(col("d1"), col("d2"),
        org.apache.spark.sql.graftfns.TextFunctions
          .intersectCountSorted(col("__hs1"), col("__hs2")).as("ov"),
        size(col("__hs1")).cast("long").as("n1"),
        size(col("__hs2")).cast("long").as("n2"))
    Ordered.smallResult(
      scored
        .select(col("d1"), col("d2"),
          round(col("ov").cast("double") / (col("n1") + col("n2") - col("ov")).cast("double"), 4)
            .as("jaccard"))
        .filter(col("jaccard") >= threshold),
      "d1", "d2")
  }

  /** Cross-document VERBATIM-SPAN pairs — the span-level dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): document pairs sharing at least `minShared` exact `L`-token
    * runs, with the shared-span count per pair. Jaccard answers "how
    * similar are the SETS"; this answers "do these documents contain the
    * same PASSAGE" — boilerplate, licenses, syndicated paragraphs — which
    * set similarity dilutes to nothing inside long documents.
    *
    * Shape: one [[org.apache.spark.sql.graftfns.ShingleHashes]] pass at
    * width `L` (distinct 64-bit span hashes — 16-byte join rows, hash
    * distinctness ≡ span distinctness modulo 64-bit collisions, the
    * family's documented trade), an equality self-join on the span hash,
    * and a count per pair. `maxDf` caps the per-span join fan-out: a span
    * appearing in d documents generates d² candidate rows, so boilerplate
    * present in half the corpus would square it — spans above the cap are
    * EXCLUDED from pairing (documented recall trade: a pair sharing ONLY
    * ultra-common spans is boilerplate overlap, precisely the signal worth
    * down-weighting), which is the same hot-key defense as
    * [[jaccardPairs]]'s `maxShingleDf` cap.
    */
  def sharedSpanPairs(
      df: DataFrame,
      spanTokens: Int,
      minShared: Int,
      maxDf: Long = Long.MaxValue,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val sp = df.select(
      col(idCol).as("id"),
      explode(org.apache.spark.sql.graftfns.TextFunctions
        .shingleHashes(col(textCol), spanTokens)).as("h"))
      .narrowCheckpointIfSmall() // exploded corpus — size-gated (r22)
    val dfreq = sp.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    val kept = sp.hint("SHUFFLE_HASH").join(dfreq.filter(col("__df") <= maxDf), "h")
      .select(col("id"), col("h"))
    Ordered.smallResult(
      kept.as("a").hint("SHUFFLE_HASH")
        .join(kept.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id"))
        .select(col("a.id").as("d1"), col("b.id").as("d2"))
        .groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("n_spans"))
        .filter(col("n_spans") >= minShared),
      "d1", "d2")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): near-duplicate
    * removal by embedding cosine, scoped WITHIN k-means clusters. The
    * corpus-quadratic all-pairs scan ([[embeddingNearDups]]'s verifier)
    * becomes candidates-by-equality on the cluster id, so pair work is
    * Σ|cluster|² — `nClusters` is the tractability knob, and a near-dup
    * pair split across two clusters is never compared (the documented
    * recall trade the paper accepts; raise `nClusters` only as far as the
    * cluster-boundary miss rate tolerates). The knob must SCALE with the
    * corpus: at fixed k a 10× corpus makes 10×-larger clusters and ~100×
    * pair work (measured 16× wall-clock sf0.1→sf1, BASELINE.md). The
    * balanced schedule is k ∝ √n — it equalizes the two size-dependent
    * stages (assignment ~n·k vs pair verification ~n²/k, both n^1.5) and
    * measured 2.9× wall-clock for the same 10× (k 8→26), inside the dedup
    * family's scaling band; k ∝ n over-pays assignment (8×). That
    * schedule is the DEFAULT: `nClusters = None` resolves k via
    * [[graft.ops.Similarity.autoClusters]] from one corpus count, so a
    * caller who never reads this paragraph still inherits the n^1.5
    * slope; `Some(k)` keeps fixed k as an explicit override.
    *
    * Deterministic end-to-end (hash-seeded [[Similarity.centroidsKMeans]],
    * smaller-id assignment ties, round-4 threshold compare), so the whole
    * pipeline — init, Lloyd rounds, assignment, in-cluster pairs, keep
    * rule — is DuckDB-re-derivable. Keep rule mirrors [[embeddingNearDups]]:
    * a vector drops iff a SMALLER id in its cluster scores ≥ `threshold`
    * against it. Output: `(idCol, cluster, rep_id, is_dup)` per vector.
    *
    * The assigned relation feeds both self-join sides plus the final keep
    * join, and the assignment pass (a corpus × centroid fold) is the
    * expensive stage — it is eagerly `localCheckpoint`ed (same contract as
    * [[jaccardPairsPrefixFiltered]]: executor-local blocks, nothing in the
    * CacheManager; pre-materialize to reliable storage for fault tolerance
    * at cluster scale, e.g. via [[graft.ops.Similarity.ivfBuild]]'s layout).
    */
  def semanticDedup(
      df: DataFrame,
      nClusters: Option[Int],
      rounds: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = Similarity.centroidsKMeans(df,
      Similarity.resolveClusters(df, nClusters), rounds, idCol, vecCol)
    val slim = Similarity.assignClusters(df, cents, idCol, vecCol)
      .select(col(idCol).as("__id"), col("cluster"), col(vecCol).as("__v"))
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    // SHUFFLE_HASH: equi-join on the cluster id needs no sort order, and
    // the per-cluster nested pair loop is the intended work, not the join.
    val pairs = slim.as("a").hint("SHUFFLE_HASH")
      .join(slim.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("v1"), col("b.__id").as("v2"),
        round(Similarity.cosine(col("a.__v"), col("b.__v")), 4).as("cs"))
      .filter(col("cs") >= threshold)
    val lowerMin = pairs.groupBy(col("v2").as("__dup")).agg(min(col("v1")).as("low"))
    Ordered.smallResult(
      slim.select(col("__id"), col("cluster"))
        .join(lowerMin, col("__id") === col("__dup"), "left")
        .select(
          col("__id").as(idCol), col("cluster"),
          least(col("__id"), coalesce(col("low"), col("__id"))).as("rep_id"))
        .withColumn("is_dup", (col("rep_id") =!= col(idCol)).cast("int")),
      idCol)
  }

  /** MinHash + LSH near-dup pairs. Per document: a `numHashes`-element
    * minhash signature over its hashed shingle set (one base
    * [[org.apache.spark.sql.graftfns.ShingleHashes]] pass + SplitMix64-derived
    * hash family, both codegen'd tight loops), banded into `bands` groups;
    * documents sharing any band signature become candidates; candidates are
    * verified with exact Jaccard ≥ `threshold` on the hashed shingle sets.
    *
    * This is the 100 TB path: the signature is fixed-size per document
    * regardless of length, and the candidate join is an equality join on the
    * (band, signature) key. With b bands of r rows, P(candidate) ≈
    * 1 − (1 − J^r)^b — 8 bands × 4 rows catches J ≥ 0.6 with ~97% recall.
    */
  def minhashLshPairs(
      df: DataFrame,
      n: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (hashed, banded) = bandedSignatures(df, n, numHashes, bands, idCol, textCol)
    val candidates = banded.as("a").hint("SHUFFLE_HASH")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .distinct()
    // Exact verification of candidates only, on the hashed sets (distinctness
    // of hashes ≡ distinctness of shingles modulo 64-bit collisions).
    Ordered.smallResult(
      candidates
        .join(hashed.select(col("id").as("d1"), col("hs").as("sh1")), "d1")
        .join(hashed.select(col("id").as("d2"), col("hs").as("sh2")), "d2")
        .select(col("d1"), col("d2"),
          round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))).cast("double"), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold),
      "d1", "d2")
  }

  /** Shared signature pipeline behind [[minhashLshPairs]] and the persisted
    * index: hashed shingle sets `(id, hs)` plus banded sub-signatures
    * `(id, band, bsig)` — `numHashes` minhashes split into `bands` groups.
    */
  private def bandedSignatures(
      df: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Materialized once — the hashed sets feed the signature pass AND both
    // exact-verify joins (jaccardPairs note; optimization r21).
    val hashed = df.select(
      col(idCol).as("id"),
      org.apache.spark.sql.graftfns.TextFunctions.shingleHashes(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)
      .narrowCheckpointIfSmall() // corpus-sized — size-gated (r22)
    val sig = hashed.select(
      col("id"),
      org.apache.spark.sql.graftfns.TextFunctions.minhashSignature(col("hs"), numHashes).as("sig"))
    // Bands: candidates share (band index, banded sub-signature).
    val banded = sig.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows)))))
      .select(col("id"), col("pos").as("band"), col("col").as("bsig"))
    (hashed, banded)
  }

  /** Persist a MinHash near-dup INDEX at `path` — [[Similarity.ivfBuild]]'s
    * write-time-layout move applied to LSH signatures. Two tables:
    * `path/signatures`, the banded sub-signatures partitioned by
    * `(band, bucket = xxhash64(bsig) mod nBuckets)` so a probing batch
    * reads only the partitions its own signatures hash to; and
    * `path/shingles`, the per-document hashed shingle sets candidates are
    * exact-verified against. Build once per corpus snapshot; every ingest
    * batch afterwards probes it ([[nearDupAgainst]]) without rescanning or
    * re-signing the corpus, and appends itself ([[minhashIndexAppend]])
    * without rebuilding — the shape that amortizes at 100 TB.
    *
    * The signatures live in two tables: this partitioned BASE, and the
    * unpartitioned append DELTA `path/signatures_delta` that
    * [[minhashIndexAppend]] writes and [[minhashIndexCompact]] folds back
    * into the base. A build deletes any delta at `path` first, so a rebuild
    * never probes stale appends.
    *
    * A one-row MANIFEST (`path/manifest`: n, numHashes, bands, nBuckets)
    * is written beside the tables: signatures from a different hash family
    * never collide, so a probe or append with mismatched parameters would
    * silently admit every near-dup — every reader `require()`s the
    * manifest instead.
    */
  def minhashIndexBuild(
      df: DataFrame,
      path: String,
      n: Int,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val (fs, delta) = deltaOf(df.sparkSession, path)
    fs.delete(delta, true): Unit
    val (hashed, banded) = bandedSignatures(df, n, numHashes, bands, idCol, textCol)
    banded
      .withColumn("bucket", pmod(xxhash64(col("bsig")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("band", "bucket")
      .parquet(s"$path/signatures")
    hashed.write.mode("overwrite").parquet(s"$path/shingles")
    df.sparkSession.range(1)
      .select(lit(n).as("n"), lit(numHashes).as("num_hashes"),
        lit(bands).as("bands"), lit(nBuckets).as("n_buckets"))
      .write.mode("overwrite").json(s"$path/manifest")
  }

  /** Read the signature-family manifest written by [[minhashIndexBuild]]
    * as (n, numHashes, bands, nBuckets) — on the driver, through the
    * Hadoop `FileSystem`: the manifest is one JSON line, and reading it
    * through Spark's JSON source would start two jobs (inference, then
    * `head`) on every append and every probe. A missing or malformed
    * manifest fails loud with its path.
    */
  private[graft] def readMinhashManifest(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int, Int) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$path/manifest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bad(why: String) =
      new IllegalArgumentException(s"MinHash index manifest $dir $why — rebuild the index")
    if (!fs.exists(dir)) throw bad("does not exist")
    val lines = fs.listStatus(dir).toSeq
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
    def g(c: String): Int = Option(m.get(c)).filter(_.canConvertToInt).map(_.asInt)
      .getOrElse(throw bad(s"has no integer field `$c`"))
    (g("n"), g("num_hashes"), g("bands"), g("n_buckets"))
  }

  /** The append delta of the index at `path` and its filesystem. */
  private def deltaOf(spark: org.apache.spark.sql.SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/signatures_delta")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Fail LOUD when a probe's parameters disagree with the index family —
    * a mismatched family never collides, which reads as "no near-dups"
    * and admits every incoming duplicate.
    */
  private def requireMinhashFamily(
      spark: org.apache.spark.sql.SparkSession,
      path: String, op: String,
      n: Int, numHashes: Int, bands: Int, nBuckets: Int): Unit = {
    val (mn, mh, mb, mk) = readMinhashManifest(spark, path)
    require(mn == n && mh == numHashes && mb == bands && mk == nBuckets,
      s"$op(n=$n, numHashes=$numHashes, bands=$bands, nBuckets=$nBuckets) does not " +
        s"match the index family at $path (n=$mn, numHashes=$mh, bands=$mb, " +
        s"nBuckets=$mk): signatures from different families never collide, so " +
        "the probe would silently admit every near-duplicate")
  }

  /** Append an ingest batch to a persisted MinHash index IN PLACE — the
    * write half of the incremental lifecycle ([[nearDupAgainst]] is the
    * read half). The batch is signed with the family recorded in the
    * index manifest (parameters are READ, not passed — an append cannot
    * diverge from the build). Its banded signatures go to the append DELTA
    * `path/signatures_delta` — plain columns `(id, band, bsig, bucket)`,
    * sorted by `(band, bucket)` within each task so row-group stats bound
    * both columns, one file per batch partition — and never into the
    * partitioned base, whose files stay untouched. Its hashed shingle sets
    * append to `path/shingles`. After the append, the next batch's probe
    * sees this batch's documents — no rebuild, no corpus rescan: at 100 TB
    * the index ingests deltas forever and a rebuild happens only when
    * recall drift says so.
    *
    * Why a delta: appending into the `(band, bucket)` directories writes
    * one file per batch partition per touched directory (a 300-document
    * batch touches every one of 8 × 8), and every file costs a writer, a
    * footer and a commit rename. The delta costs one file per batch
    * partition — the LSM shape — and [[minhashIndexCompact]] restores the
    * pruned base.
    *
    * Dedup discipline: append AFTER admission — probe first
    * ([[nearDupAgainst]]), route matches to your update path, then append
    * the admitted rows. Appending unconditionally indexes duplicates too
    * (harmless for lookup, wasteful at scale).
    */
  def minhashIndexAppend(
      batch: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    val (n, numHashes, bands, nBuckets) = readMinhashManifest(spark, path)
    val (hashed, banded) = bandedSignatures(batch, n, numHashes, bands, idCol, textCol)
    banded
      .withColumn("bucket", pmod(xxhash64(col("bsig")), lit(nBuckets.toLong)))
      .sortWithinPartitions("band", "bucket")
      .write.mode("append")
      .parquet(deltaOf(spark, path)._2.toString)
    hashed.write.mode("append").parquet(s"$path/shingles")
  }

  /** Fold a MinHash index's append delta into its base: base ∪ delta is
    * rewritten to one file per `(band, bucket)` partition, and the
    * unpartitioned shingle table to `numFiles` files — content unchanged,
    * probes identical; see [[Layout.compactInPlace]] for the swap
    * discipline. The delta is deleted only AFTER the base swap. A crash
    * between the swap and the delete leaves the delta's rows in both
    * tables (and a later compaction keeps both copies in the base); the
    * probe's candidate `distinct()` absorbs such duplicates, so its answer
    * is unchanged. Compaction is a manual call: run it periodically from
    * the index's single writer — the same owner appends require — once
    * appends dominate the file count, never concurrently with an append or
    * a probe.
    */
  def minhashIndexCompact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numFiles: Int = 8): Unit = {
    val (fs, delta) = deltaOf(spark, path)
    val hasDelta = fs.exists(delta)
    Layout.compactInPlace(spark, s"$path/signatures", Seq("band", "bucket"),
      fold = if (hasDelta) Some(Layout.readParquet(spark, delta.toString)) else None)
    if (hasDelta) fs.delete(delta, true): Unit
    Layout.compactInPlace(spark, s"$path/shingles", Nil, numFiles)
  }

  /** Incremental NEAR-dup ingest — the re-crawled-but-edited docs
    * [[exactAgainst]]'s fingerprint anti-join cannot see. The incoming
    * batch is signed with the same hash family as the index, its banded
    * signatures equality-join the persisted signature table, and the
    * candidates are verified with exact Jaccard (hashed shingle sets, the
    * [[minhashLshPairs]] rule) at `threshold`. Output: one row per
    * verified match `(new_id, ref_id, jaccard)` — anti-join the batch
    * against `new_id` to admit, or route matches to an update path.
    *
    * The signature side is the partition-pruned base scan, unioned with
    * the append delta when one exists ([[minhashIndexAppend]]); the same
    * packed `(band, bucket)` filter applies to both — a planning-time
    * partition filter on the base, a row filter on the delta. A row in
    * both tables (a compaction that crashed before deleting the delta)
    * yields the same candidate pair twice, and the candidate `distinct()`
    * collapses it.
    *
    * Scale shape: the batch's distinct `(band, bucket)` keys are a BOUNDED
    * set (≤ bands·nBuckets — routing state, like the IVF probe's centroid
    * list), collected only to turn the signature read into a planning-time
    * partition-pruned scan; a small batch touches a small fraction of the
    * corpus signature table and never the corpus text. The `numHashes`/
    * `bands`/`n` parameters must match the index build — signatures from a
    * different family never collide, so the index manifest is `require()`d
    * to agree before any work runs (a mismatch fails loud instead of
    * admitting every near-dup as "no match").
    */
  def nearDupAgainst(
      incoming: DataFrame,
      path: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = incoming.sparkSession
    requireMinhashFamily(spark, path, "nearDupAgainst", n, numHashes, bands, nBuckets)
    val (ihashed, ibanded0) = bandedSignatures(incoming, n, numHashes, bands, idCol, textCol)
    // Checkpointed: feeds both the probe-key collect and the candidate
    // join; un-checkpointed it would re-sign the batch once per consumer.
    val ibanded = ibanded0
      .withColumn("bucket", pmod(xxhash64(col("bsig")), lit(nBuckets.toLong)))
      .narrowCheckpoint()
    val probeKeys = ibanded.select(col("band"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // One IN over the PACKED key (band·nBuckets + bucket, bijective —
    // bucket < nBuckets by construction) instead of an OR-chain of
    // per-(band, bucket) conjunctions: both prune partitions at planning
    // time (the predicate references only partition columns), but the
    // OR-chain's plan grows two nodes per probed partition while the IN
    // stays one InSet node however many partitions a large batch touches.
    val packed = probeKeys.map { case (b, k) => b.toLong * nBuckets + k }
    val probed = packed.headOption.fold(lit(false)) { _ =>
      (col("band").cast("long") * lit(nBuckets.toLong) + col("bucket"))
        .isin(packed: _*)
    }
    def probe(table: String): DataFrame =
      Layout.readParquet(spark, table).filter(probed)
        .select(col("id"), col("band"), col("bucket").cast("long").as("bucket"), col("bsig"))
    val (fs, delta) = deltaOf(spark, path)
    val base = probe(s"$path/signatures")
    val sigs = if (fs.exists(delta)) base.union(probe(delta.toString)) else base
    val candidates = ibanded.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.bsig") === col("b.bsig"))
      .select(col("a.id").as("new_id"), col("b.id").as("ref_id"))
      .distinct()
    val refShingles = Layout.readParquet(spark, s"$path/shingles")
    Ordered.smallResult(
      candidates
        .join(ihashed.select(col("id").as("new_id"), col("hs").as("sh1")), "new_id")
        .join(refShingles.select(col("id").as("ref_id"), col("hs").as("sh2")), "ref_id")
        .select(col("new_id"), col("ref_id"),
          round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))).cast("double"), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold),
      "new_id", "ref_id")
  }

  /** Embedding-cosine near-dup: assign every vector a representative — the
    * smallest id among itself and all neighbors with cosine ≥ `threshold`.
    * One-pass representative choice (min-id neighbor), not full connected
    * components: the standard cheap form for near-dup collapse, and the one
    * that stays a join + aggregate at scale. Pair generation delegates to
    * [[Similarity.pairsAbove]] (quadratic — swap in the IVF/LSH candidate
    * path at 100 TB, same verification shape).
    */
  def embeddingNearDups(
      df: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Unordered pair kernel: the global sort in pairsAbove would re-execute
    // the whole pair scan for range sampling.
    val pairs = Similarity.pairsKernel(df, threshold, idCol, vecCol)
    // rep(x) = min({x} ∪ {a < x : cosine(a, x) ≥ t}); pairs carry a < b only,
    // so the min over d1 per d2 is the min lower neighbor.
    val lowerMin = pairs.groupBy(col("v2").as("id")).agg(min(col("v1")).as("low"))
    Ordered.smallResult(
      df.select(col(idCol).as("vec_id"))
        .join(lowerMin, col("vec_id") === col("id"), "left")
        .select(col("vec_id"), least(col("vec_id"), coalesce(col("low"), col("vec_id"))).as("rep_id"))
        .withColumn("is_dup", (col("rep_id") =!= col("vec_id")).cast("int")),
      "vec_id")
  }

  /** Release a superseded round's storage: `Dataset.unpersist` clears
    * CacheManager entries (persist-based rounds), but a `localCheckpoint`'d
    * frame persists its RDD DIRECTLY — that handle is only reachable
    * through the plan's `LogicalRDD` leaf, and skipping it reclaims
    * nothing. Shared by BOTH connected-components algorithms so their
    * block-release semantics cannot drift.
    */
  private def releaseLocalBlocks(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
    }
    ()
  }

  /** Exact near-dup CLUSTER collapse: connected components over pair edges,
    * labeling every vertex with the smallest id reachable through any chain
    * of pairs. [[embeddingNearDups]]' min-lower-neighbor is the cheap
    * one-hop approximation; this is the transitive closure (a near-dup of a
    * near-dup joins the cluster).
    *
    * Shape: Pregel-style min-label propagation — each round, every vertex
    * takes the min of its own label and its neighbors' labels (one shuffle
    * join + partial-aggregated min); labels converge in O(component
    * diameter) rounds, and near-dup clusters have tiny diameters. Edges and
    * per-round labels are `localCheckpoint`ed: edges so the (possibly
    * expensive) candidate pipeline runs once, labels so iterative lineage
    * doesn't grow exponentially. The driver reads ONE changed-row count per
    * round — an O(1) action, not a data collect.
    *
    * Fault tolerance: `localCheckpoint` stores blocks on EXECUTORS — losing
    * one mid-iteration kills the lineage-truncated RDD and the job. Fine in
    * a single-JVM gate; at cluster scale pass `checkpointDir` (fault-
    * tolerant storage, e.g. HDFS/object store): the edge set and every
    * `checkpointInterval`-th label round take a reliable `checkpoint`, and
    * the rounds BETWEEN them use `persist` — caching WITHOUT lineage
    * truncation, so a lost block recomputes from the last reliable cut.
    * (`localCheckpoint` between cuts would truncate lineage to executor
    * blocks and reintroduce the very failure mode the dir bounds.) Replay
    * after loss is therefore < `checkpointInterval` rounds. `checkpointDir`
    * is applied ONLY when the SparkContext has no checkpoint dir configured
    * yet — an existing session-level dir is respected, never clobbered
    * (reliable cuts then write there instead).
    *
    * Convergence bound (documented): plain min-label propagation needs
    * O(diameter) rounds, and a component with diameter > `maxIters` returns
    * PARTIALLY collapsed labels. Near-dup graphs are dense star-like
    * clusters (tiny diameters), which is why this shape is right here; a
    * general graph with million-hop chains wants the alternating
    * large-star/small-star contraction (O(log n) rounds) —
    * [[connectedComponentsLogRounds]], the deep-diameter complement.
    *
    * Size gate: below the broadcast threshold the SAME rounds run on the
    * driver. When `vertices` and `edges` both have an analyzed-plan size
    * estimate at or under `spark.sql.autoBroadcastJoinThreshold` (≥ 0),
    * both frames are collected and the synchronous min-label rounds run in
    * driver memory: a vertex takes the least of its label and its
    * neighbours' previous-round labels, a neighbour counts only if it is
    * itself a vertex, null ids never match, a round changes something iff
    * some `nbr_rep < rep`, and a graph that needs more than `maxIters`
    * rounds throws the same error. The result is a local frame with the
    * distributed path's exact schema and one row per input vertex row
    * (duplicate and null ids kept). The threshold is reused because it is
    * the size under which Spark itself collects a frame to the driver to
    * broadcast it; below it, per-round jobs, shuffles and checkpoints cost
    * far more than the rounds (17 jobs for a 60-edge batch, against the
    * two collects here). The gate reads the same analyzed-plan stats as
    * [[Materialize.narrowIfSmall]] and adds no option. The distributed
    * rounds run when either estimate is over the threshold (Spark's
    * `defaultSizeInBytes` sentinel under a checkpointed `LogicalRDD`
    * included), when `checkpointDir` is given (the caller asked for
    * checkpointed distributed rounds), and when the id, src or dst column
    * is not integral (`ByteType` to `LongType`): JVM equality and ordering
    * on floating, string or binary values differ from the join's and
    * `least`'s. Each call logs its decision at INFO on logger
    * `graft.ops.Dedup` (both estimates, the threshold, the path, the
    * rounds run); a log4j2 config that sets that logger to INFO shows it.
    *
    * Output: `(id, rep)` — `rep` = min id of the component.
    */
  def connectedComponents(
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      srcCol: String = "d1",
      dstCol: String = "d2",
      maxIters: Int = 25,
      checkpointDir: Option[String] = None,
      checkpointInterval: Int = 5): DataFrame = {
    require(checkpointInterval >= 1,
      s"checkpointInterval must be >= 1, got $checkpointInterval")
    val threshold = vertices.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val vEst = vertices.queryExecution.analyzed.stats.sizeInBytes
    val eEst = edges.queryExecution.analyzed.stats.sizeInBytes
    val integral = Seq(vertices.select(col(idCol)), edges.select(col(srcCol), col(dstCol)))
      .flatMap(_.schema.map(_.dataType)).forall {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    val onDriver = threshold >= 0 && vEst <= threshold && eEst <= threshold &&
      checkpointDir.isEmpty && integral
    val (labels, rounds, done) =
      if (onDriver) componentsOnDriver(vertices, edges, idCol, srcCol, dstCol, maxIters)
      else componentsDistributed(vertices, edges, idCol, srcCol, dstCol, maxIters,
        checkpointDir, checkpointInterval)
    log.info(s"connectedComponents: vertices est $vEst B, edges est $eEst B, " +
      s"broadcast threshold $threshold B, checkpointDir ${checkpointDir.isDefined}, " +
      s"integral ids $integral -> ${if (onDriver) "driver" else "distributed"} path, " +
      s"$rounds rounds, converged $done")
    // Silent partial collapse would be indistinguishable from a converged
    // result — fail loudly instead; the caller raises maxIters (or uses a
    // log-round contraction algorithm for genuinely deep graphs).
    if (!done) sys.error(
      s"connectedComponents did not converge in $maxIters rounds — " +
        "a component's diameter exceeds maxIters; raise it")
    labels
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** [[connectedComponents]]' rounds in driver memory, for inputs its size
    * gate admits (integral ids, broadcast-sized). Ids compare as `Long`,
    * the widening the distributed join applies to integral types, and every
    * `rep` is some vertex's id, so it converts back to the id type exactly.
    * Returns the `(id, rep)` local frame, the rounds run and whether the
    * last round changed nothing.
    */
  private def componentsOnDriver(
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String,
      srcCol: String,
      dstCol: String,
      maxIters: Int): (DataFrame, Int, Boolean) = {
    import scala.jdk.CollectionConverters._
    // The distributed path's output schema, from an unexecuted projection:
    // `least` is nullable iff its operands are, as in the round's select.
    val v = vertices.select(col(idCol).as("id"))
    val schema = v.select(col("id"), least(col("id"), col("id")).as("rep")).schema
    def asLong(x: Any): Option[Long] = Option(x).map(_.asInstanceOf[Number].longValue)
    val ids = v.collect().map(_.get(0))
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    ids.flatMap(asLong).foreach(id => if (!index.contains(id)) index(id) = index.size)
    val rep = new Array[Long](index.size)
    index.foreach { case (id, i) => rep(i) = id }
    // Undirected adjacency between vertices only: an endpoint that is null
    // or not a vertex matches no label row in the join, so it adds nothing.
    val adj = Array.fill(index.size)(List.empty[Int])
    edges.select(col(srcCol), col(dstCol)).collect().foreach { r =>
      for (s <- asLong(r.get(0)).flatMap(index.get); d <- asLong(r.get(1)).flatMap(index.get)) {
        adj(s) = d :: adj(s)
        adj(d) = s :: adj(d)
      }
    }
    var rounds = 0
    var done = false
    while (!done && rounds < maxIters) {
      val prev = rep.clone()
      var changed = false
      for (i <- rep.indices; j <- adj(i) if prev(j) < rep(i)) {
        rep(i) = prev(j)
        changed = true
      }
      done = !changed
      rounds += 1
    }
    val fromLong: Long => Any = schema("rep").dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val rows = ids.map(id => Row(id, asLong(id).map(l => fromLong(rep(index(l)))).orNull))
    (vertices.sparkSession.createDataFrame(rows.toSeq.asJava, schema), rounds, done)
  }

  /** [[connectedComponents]]' distributed rounds; returns the labels, the
    * rounds run and whether the last round changed nothing.
    */
  private def componentsDistributed(
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String,
      srcCol: String,
      dstCol: String,
      maxIters: Int,
      checkpointDir: Option[String],
      checkpointInterval: Int): (DataFrame, Int, Boolean) = {
    checkpointDir.foreach { dir =>
      val sc = vertices.sparkSession.sparkContext
      // Respect a caller-configured session-level checkpoint dir: setting it
      // unconditionally would silently redirect every other job's
      // checkpoints on this shared SparkContext.
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    // With a dir: reliable checkpoint on the interval rounds, persist (NOT
    // a lineage-truncating local checkpoint — that would pin recovery to
    // executor blocks) in between, so recovery replays from the last
    // reliable cut. Without a dir: the session's [[Materialize]] mode
    // decides (executor-local blocks by default; reliable everywhere when
    // the session is flipped to reliable). `round` 0 marks the
    // always-reliable cuts (edges, seed).
    def cut(df: DataFrame, round: Int): DataFrame =
      if (checkpointDir.isEmpty) df.narrowCheckpoint()
      else if (round % checkpointInterval == 0) df.checkpoint()
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Checkpoint the edge projection BEFORE the symmetric union: the union
    // embeds its child twice, and without an exchange boundary Spark's
    // stage reuse cannot dedupe the branches — an expensive candidate
    // pipeline would run twice.
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), 0)
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    var labels = cut(vertices.select(col(idCol).as("id"), col(idCol).as("rep")), 0)
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val nbr = und.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("rep")).as("nbr_rep"))
      // The changed indicator rides the round's own projection
      // (optimization r22, VERDICT r21 #6): new rep ≠ old rep ⟺
      // least(old, nbr) < old ⟺ nbr_rep < old rep, both operands already
      // in hand — so the fixed-point probe below is a filter over the
      // round's materialized blocks instead of a per-round SHUFFLE JOIN of
      // next against labels (one exchange + join stage per round removed;
      // same decision, bit for bit). `__chg` stays internal: it is dropped
      // from the returned frame, and the nbr join reads only (id, rep).
      val next = cut(labels.as("l")
        .join(nbr, col("l.id") === col("src"), "left")
        .select(col("l.id").as("id"),
          least(col("l.rep"), coalesce(col("nbr_rep"), col("l.rep"))).as("rep"),
          coalesce(col("nbr_rep") < col("l.rep"), lit(false)).as("__chg")),
        iter + 1)
      val changed = next.filter(col("__chg")).limit(1).count()
      // The count materialized `next`; the superseded round's cache blocks
      // are dead weight from here — without this, up to maxIters
      // vertex-sized label sets pile up per call. Recovery after an
      // unpersist just replays from the last reliable cut.
      releaseLocalBlocks(labels)
      labels = next
      done = changed == 0L
      iter += 1
    }
    (labels.drop("__chg"), iter, done)
  }

  /** Connected components by alternating large-star / small-star edge
    * contraction — O(log n) rounds on ANY graph shape (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14), the
    * deep-diameter complement to [[connectedComponents]]'s O(diameter)
    * min-label propagation. Same output contract: `(id, rep)`, `rep` = the
    * component's min id; isolated vertices map to themselves.
    *
    * Per round, two edge rewrites, each one hash shuffle + partial-agg min
    * (the neighborhood min joins back against a co-partitioned edge set):
    *  - LARGE-STAR: every node attaches its strictly-LARGER neighbors to
    *    `m = min(N(u) ∪ {u})` — cuts long chains in half while only ever
    *    linking through a smaller hub, so the edge count never grows beyond
    *    2|E| and monotone progress is guaranteed.
    *  - SMALL-STAR: over smaller-pointing edges only, every node re-attaches
    *    its neighbors (and itself) to its min neighbor — flattens the
    *    two-level trees large-star leaves behind.
    * The fixed point is a disjoint union of stars centered at component
    * minima; convergence needs O(log n) rounds regardless of diameter. Edges
    * stay canonically `(src > dst)` throughout, so the fixed-point test is
    * a set compare (count + one anti-join probe, both O(1) driver reads).
    *
    * Same materialization lifecycle as [[connectedComponents]]'s no-dir
    * mode: each round's edge set is cut via [[Materialize.narrow]]
    * (iterative lineage would nest exponentially) and the superseded
    * round's blocks are released immediately. Cluster runs needing fault
    * tolerance flip the session's materialize mode to reliable or follow
    * the documented `checkpointDir` interval pattern there.
    */
  def connectedComponentsLogRounds(
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      srcCol: String = "d1",
      dstCol: String = "d2",
      maxIters: Int = 20): DataFrame = {
    def cut(df: DataFrame): DataFrame = df.narrowCheckpoint()
    // Canonical larger→smaller edges, self-loops dropped. Both star steps
    // preserve the invariant (they only ever emit (v, m) with m < v).
    var e = cut(edges
      .select(greatest(col(srcCol), col(dstCol)).as("src"),
        least(col(srcCol), col(dstCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var eCount = e.count()
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      // LARGE-STAR over the full (symmetric) neighborhood of each node.
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val minL = und.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      val afterLarge = cut(und.join(minL, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
      // SMALL-STAR over the smaller-pointing orientation (already canonical):
      // every neighbor v ≠ m re-attaches to m, and u itself attaches to m.
      val minS = afterLarge.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val next = cut(afterLarge.join(minS, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(minS.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct())
      // Fixed point ⇔ same canonical edge set: counts agree AND nothing in
      // `next` is new (distinct sets of equal size with empty one-way
      // difference are equal). Counts are carried across rounds. ONE probe
      // job per round (optimization r21): the count and the one-way
      // difference share a single left-join scan over the two checkpointed
      // edge sets — previously two serial driver jobs (count, then
      // anti-join probe). `e` is distinct, so the left join is 1:≤1 and
      // a null marker ⇔ an edge the anti-join would have kept.
      val probe = next
        .join(e.select(col("src"), col("dst"), lit(1).as("__in")),
          Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("__n"),
          count(when(col("__in").isNull, lit(1))).as("__new"))
        .head()
      val nextCount = probe.getLong(0)
      val changed = nextCount != eCount || probe.getLong(1) != 0L
      releaseLocalBlocks(e)
      releaseLocalBlocks(afterLarge)
      e = next
      eCount = nextCount
      done = !changed
      iter += 1
    }
    if (!done) sys.error(
      s"connectedComponentsLogRounds did not converge in $maxIters rounds — " +
        "raise maxIters (bound is O(log n) in the vertex count)")
    // At the fixed point every non-center vertex carries exactly one star
    // edge to its component min; isolated vertices and centers self-map.
    vertices.select(col(idCol).as("id"))
      .join(e.select(col("src").as("id"), col("dst").as("rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
  }

  /** 64-bit SimHash per document: bit i of the hash is the sign of
    * Σ_tokens ±1 according to bit i of xxhash64(token). Near-dups = pairs at
    * Hamming distance ≤ `maxDist`, found by the chunk trick: split the 64 bits
    * into `maxDist+1` chunks — any pair within distance `maxDist` must agree
    * exactly on ≥ 1 chunk (pigeonhole), so candidates come from an equality
    * join on (chunk index, chunk value), never a cross join.
    */
  def simhashPairs(
      df: DataFrame,
      maxDist: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // maxDist+1 chunks need >= 1 bit each: maxDist >= 64 would give every
    // chunk value 0 and silently degenerate the candidate join to all-pairs.
    require(maxDist >= 0 && maxDist <= 63, s"maxDist must be in [0, 63], got $maxDist")
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    // Per-document scalar kernel: simhash is a pure function of the text, so
    // it needs no explode / aggregate / shuffle — one codegen'd pass per row.
    // (Earlier shapes: nested HOF fold = 64× interpreted re-hash; explode +
    // 64-SUM-column aggregate = a 260k-row shuffle for 5k docs. Both beaten
    // ~10× by the scalar.)
    val sim = df.select(
      col(idCol).as("id"),
      org.apache.spark.sql.graftfns.TextFunctions.simhash64(col(textCol)).as("simhash"))
    val banded = sim.select(
      col("id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * bitsPer).bitwiseAND(lit((1L << bitsPer) - 1))): _*)))
      .select(col("id"), col("simhash"), col("pos").as("chunk"), col("col").as("cval"))
    Ordered.smallResult(
      banded.as("a").hint("SHUFFLE_HASH")
        .join(banded.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("d1"), col("b.id").as("d2"),
          // long on both engines: the oracle's bit_count is type-sensitive
          // under the driver's hash compare.
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("dist"))
        .distinct()
        .filter(col("dist") <= maxDist),
      "d1", "d2")
  }

  /** Exact dedup keeping the BEST copy per duplicate group — highest
    * `scoreCol`, smaller id on ties — instead of [[exact]]'s smallest id.
    * What pipelines actually keep when re-crawls of one document differ in
    * extraction quality: the canonical `keyCol` (e.g. an md5 of the
    * normalized text) folds the variants into one group, and the survivor
    * is chosen by a quality signal, not arrival order. One hash-shuffle
    * aggregate on the key (`max_by` over a (score, −id) struct — the
    * partial/final merge picks the same row on every topology). Output:
    * `(idCol, n_copies, best_score)`.
    */
  def exactKeepBest(
      df: DataFrame,
      keyCol: Column,
      scoreCol: Column,
      idCol: String = "doc_id"): DataFrame =
    df.select(keyCol.as("__k"), col(idCol).cast("long").as("__id"),
        scoreCol.as("__score"))
      .groupBy(col("__k"))
      .agg(
        max_by(struct(col("__id"), col("__score")),
          struct(col("__score"), -col("__id"))).as("__best"),
        count(lit(1)).as("n_copies"))
      .select(col("__best.__id").as(idCol), col("n_copies"),
        col("__best.__score").as("best_score"))

  /** Edit-distance (Levenshtein) pairs over the DISTINCT values of
    * `strCol` — approximate STRING matching, the record-linkage /
    * entity-resolution primitive the token-set family (Jaccard, MinHash)
    * cannot express: "red bolt" vs "red bole" is one edit but shares no
    * 2-word shingle. Distinct-first is the realistic shape (real catalogs
    * repeat names millions of times; match the distinct strings, join back
    * by equality for the id-level expansion) and what makes the pair space
    * tractable.
    *
    * Candidates by q-gram PREFIX filtering (the ed-join analog of
    * [[jaccardPairsPrefixFiltered]]): an edit rewrites at most `n`
    * character n-grams, so `k` edits destroy at most `k·n` — of a string's
    * `k·n + 1` RAREST grams (global (df, gram) canonical order), at least
    * one survives verbatim in any string within distance `k`. Joining each
    * string's rare-gram prefix against all strings' full gram sets
    * therefore loses no true pair, while the hottest grams never generate
    * candidates. Verification is the exact codegen'd `levenshtein` (same
    * unit-cost definition in the oracle engine), behind a cheap
    * `|len(a) − len(b)| ≤ k` guard. Strings shorter than `n` have no gram:
    * they pair through a broadcast side against the (length ≤ n−1+k) band
    * — bounded by the alphabet (< |Σ|ⁿ distinct short strings exist), the
    * [[Similarity.ivfProbePersisted]] routing-state envelope.
    *
    * Output: `(s1, s2, dist)`, `s1 < s2`, one row per distinct pair.
    */
  def editDistancePairs(
      df: DataFrame,
      k: Int,
      n: Int = 3,
      strCol: String = "p_name"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(n >= 2, s"n must be >= 2, got $n")
    val names = df.select(col(strCol).as("s")).filter(col("s").isNotNull)
      .distinct()
      .narrowCheckpointIfSmall() // distinct-name-sized — size-gated (r22)
    val longs = names.filter(length(col("s")) >= n)
    // (s, gram) — distinct grams per string, via the positional slide.
    val grams = longs.select(col("s"),
      explode(array_distinct(transform(
        sequence(lit(1), length(col("s")) - lit(n - 1)),
        i => col("s").substr(i, lit(n))))).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df_g"))
    val ranked = grams.join(dfreq, "g")
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("s")).orderBy(col("df_g"), col("g"))))
    val prefix = ranked.filter(col("rk") <= k * n + 1).select(col("s"), col("g"))
    val candLong = prefix.as("a")
      .join(grams.as("b"), col("a.g") === col("b.g") && col("a.s") =!= col("b.s"))
      .select(least(col("a.s"), col("b.s")).as("s1"),
        greatest(col("a.s"), col("b.s")).as("s2"))
      .distinct()
    // Short strings (< n chars, gram-less): broadcast against the only
    // band that can be within k — strings of length <= n-1+k.
    val shorts = names.filter(length(col("s")) < n)
    val candShort = names.filter(length(col("s")) <= n - 1 + k).as("b")
      .crossJoin(broadcast(shorts.select(col("s").as("sa"))))
      .filter(col("sa") =!= col("b.s"))
      .select(least(col("sa"), col("b.s")).as("s1"),
        greatest(col("sa"), col("b.s")).as("s2"))
      .distinct()
    Ordered.smallResult(
      candLong.unionByName(candShort).distinct()
        .filter(abs(length(col("s1")) - length(col("s2"))) <= k)
        .select(col("s1"), col("s2"),
          levenshtein(col("s1"), col("s2")).cast("long").as("dist"))
        .filter(col("dist") <= k),
      "s1", "s2")
  }
}
