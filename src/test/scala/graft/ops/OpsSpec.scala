package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy cat", "en"), // near-dup of 0
    (2L, "el perro de la casa es un animal que ladra", "es"),
    (3L, "completely different words about spark engines", "en"),
    (4L, "the quick brown fox jumps over the lazy dog", "en")  // exact dup of 0
  ).toDF("doc_id", "text", "lang")

  test("exact dedup keeps min id and counts copies") {
    // The op is unordered by contract (a bare orderBy would re-execute the
    // aggregate in range sampling); sort collected results here.
    val out = Dedup.exact(docs, "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((0L, 2L), (1L, 1L), (2L, 1L), (3L, 1L)))
    val hashed = Dedup.hashed(docs, "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(hashed.toSeq == out.toSeq)
  }

  test("jaccard pairs finds the planted near-dup and the exact dup") {
    val out = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // docs 0/4 identical (J=1); 0/1 and 1/4 share 6 of 8 distinct shingles (J=0.6).
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L), (0L, 4L), (1L, 4L)))
    assert(out.find(p => p._1 == 0 && p._2 == 4).get._3 == 1.0)
    spark.catalog.clearCache()
    val prefixed = Dedup.jaccardPairsPrefixFiltered(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(prefixed.toSeq == out.toSeq)
    // Intermediates are localCheckpoint'ed, not cache()'d: running the op
    // must leave nothing registered in the session CacheManager.
    assert(spark.sharedState.cacheManager.isEmpty,
      "jaccardPairsPrefixFiltered leaked CacheManager entries")
  }

  test("prefix filter admits strictly fewer candidates than the full inverted join under skew") {
    // 30 documents sharing one planted stopword-like 3-shingle ("aaa bbb
    // ccc" prefixes every text) plus per-doc unique tails: the full
    // inverted-index join pairs every document with every other through
    // the hot shingle (C(30,2) = 435 candidates), while the df-ascending
    // prefix keeps only each doc's RAREST shingles, so the hot shingle
    // never enters the join. The true pair set here is empty at t=0.8 —
    // every admitted candidate is verification work, which is exactly
    // what the audit prices.
    val skewed = (0L until 30L).map(i =>
      (i, s"aaa bbb ccc u${i}a u${i}b u${i}c u${i}d u${i}e")).toDF("doc_id", "text")
    val (pref, full) = Dedup.prefixCandidateCounts(skewed, n = 3, threshold = 0.8)
    assert(full == 435L, s"full=$full")
    assert(pref < full / 10, s"prefix=$pref full=$full")
    // And the filter loses no true pair: outputs equal on the shared
    // fixture (the equality test above) AND on this skewed one.
    val a = Dedup.jaccardPairs(skewed, 3, 0.8).collect().toSeq
    val b = Dedup.jaccardPairsPrefixFiltered(skewed, 3, 0.8).collect().toSeq
    assert(a == b)
  }

  test("leakage-safe splits keep every near-dup cluster on one side") {
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .select(col("d1"), col("d2"))
    val out = Sampling.leakageSafeSplit(
      docs.select(col("doc_id")), pairs,
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // docs 0/1/4 form one near-dup cluster (rep 0) — all three must share
    // one split, which must equal the REP's own band, not each member's.
    val cluster = out.filter(p => Set(0L, 1L, 4L)(p._1))
    assert(cluster.map(_._2).toSet == Set(0L), cluster.mkString(", "))
    assert(cluster.map(_._3).toSet.size == 1, cluster.mkString(", "))
    val repSplit = out.find(_._1 == 0L).get._3
    assert(cluster.forall(_._3 == repSplit))
    // Per-rep invariant over the whole output: one split per cluster.
    assert(out.groupBy(_._2).forall { case (_, g) => g.map(_._3).toSet.size == 1 })
    assert(out.length == 5)
  }

  test("epochShardManifest: stable membership, decorrelated order, hash-exact endpoints") {
    val df = (0L until 200L).map(i => (i, i % 7 + 1)).toDF("doc_id", "w")
    val out = Sampling.epochShardManifest(df, 4, Seq(0, 1), "doc_id", "w")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def mix(id: Long, e: Long) =
      Sampling.idHashLong(Math.floorMod(id, 4294967296L) * 100003L + e)
    for (sh <- 0L until 4L; e <- 0L to 1L) {
      val ids = (0L until 200L).filter(i => Sampling.idHashLong(i) % 4 == sh)
      val ordered = ids.sortBy(i => (mix(i, e), i))
      val (n, sw, f, l) = out((sh, e))
      assert(n == ids.size && sw == ids.map(i => i % 7 + 1).sum,
        s"membership/mass must be epoch-invariant (shard $sh epoch $e)")
      assert(f == ordered.head && l == ordered.last,
        s"endpoints must follow the (mix, id) order (shard $sh epoch $e)")
    }
    assert((0L until 4L).exists(sh =>
      out((sh, 0L))._3 != out((sh, 1L))._3 || out((sh, 0L))._4 != out((sh, 1L))._4),
      "epochs must actually reshuffle at least one shard's endpoints")
  }

  test("leakageSafeIngestBatch: same-batch near-dups co-assign; index match pulls the component") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val dir = tmpDir("ingest")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
    Dedup.minhashIndexBuild(base, s"$dir/mh", n = 3)
    Sampling.leakageSafeSplit(base.select(col("doc_id")),
        Dedup.jaccardPairs(base, n = 3, threshold = 0.6).select(col("d1"), col("d2")),
        splits)
      .select(col("doc_id"), col("rep"), col("split"))
      .write.parquet(s"$dir/assignment")
    // One micro-batch: 100/300/301 all near-dup indexed doc 1 (and each
    // other); 200/201 near-dup ONLY each other — the boundary hole.
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (200L, "qq1 qq2 qq3 qq4 qq5"),
      (201L, "qq1 qq2 qq3 qq4 qq5"),
      (300L, "alpha beta gamma delta epsilon"),
      (301L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    Sampling.leakageSafeIngestBatch(batch, s"$dir/mh", s"$dir/assignment",
      splits, n = 3, threshold = 0.6)
    val rows = spark.read.parquet(s"$dir/assignment")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows(100L)._1 == rows(1L)._1, "an index match inherits the cluster rep")
    assert(rows(200L)._1 == 200L && rows(201L)._1 == 200L,
      "both-new same-batch near-dups must share the pair's min id as rep")
    assert(rows(200L)._2 == rows(201L)._2, "…and therefore one split")
    assert(rows(300L)._1 == rows(1L)._1 && rows(301L)._1 == rows(1L)._1,
      "an index match anywhere in the component pulls the WHOLE component")
    assert(rows(301L)._2 == rows(1L)._2)
  }

  test("NB log-odds classifier separates distinct-vocabulary classes and scores by the formula") {
    val labeled = Seq(
      (0L, "alpha beta gamma alpha", "good"),
      (1L, "beta alpha alpha beta", "good"),
      (2L, "zork quux blarg zork", "bad"),
      (3L, "quux zork blarg blarg", "bad"),
      (4L, "alpha beta zork quux", "good") // mixed-vocab doc, labeled good
    ).toDF("doc_id", "text", "klass")
    val scored = Text.nbQualityScore(labeled, col("klass") === "good")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1)
    // Pure-vocabulary docs classify cleanly: positive-class tokens carry
    // positive log-odds, negative-class tokens negative.
    assert(scored(0)._4 == 1 && scored(1)._4 == 1)
    assert(scored(2)._4 == 0 && scored(3)._4 == 0)
    // Hand-check one weight: alpha appears cp=5 times in good docs (docs
    // 0,1,4), cn=0 in bad. np = total good tokens = 12, nn = total bad
    // tokens = 8, v = 6 distinct tokens.
    val w = math.rint((math.log((5 + 0.5) / (12 + 0.5 * 7)) -
      math.log((0 + 0.5) / (8 + 0.5 * 7))) * 1e6) / 1e6
    assert(w > 0)
    // Doc 0 = tokens alpha×2(w_a), beta(w_b), gamma(w_g): mean of the
    // 6-dp-rounded weights.
    def wOf(cp: Long, cn: Long): Double =
      math.rint((math.log((cp + 0.5) / (12 + 0.5 * 7)) -
        math.log((cn + 0.5) / (8 + 0.5 * 7))) * 1e6) / 1e6
    val expected0 = BigDecimal((2 * wOf(5, 0) + wOf(4, 0) + wOf(1, 0)) / 4.0)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val got0 = BigDecimal(scored(0)._3).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(got0 == expected0, s"$got0 vs $expected0")
    // The mixed doc (2 good-vocab + 2 bad-vocab tokens) sits near zero but
    // decides deterministically.
    assert(scored(4)._2 == 4)
  }

  test("minhash LSH recovers the same pairs as exact jaccard here") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    // 16 bands × 2 rows: P(candidate | J=0.6) ≈ 1−(1−0.36)¹⁶ ≈ 0.999, so the
    // probabilistic stage can't flake this fixture; false candidates are
    // removed by the exact-verify stage, so recall is the only knob banding
    // moves. (The 8×4 default targets higher thresholds with fewer
    // candidates: 1−(1−J⁴)⁸ ≈ 0.67 at J=0.6 — too lossy to assert equality.)
    val lsh = Dedup.minhashLshPairs(docs, 3, 0.5, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.toSet == exact.toSet)
  }

  test("edit-distance pairs: prefix candidates lose no true pair; shorts pair via the length band") {
    // Every name shares the hot prefix "prefixed " (its grams are the most
    // frequent — the rare-gram prefix must skip them and still find every
    // pair), plus: an ed=1 pair, an ed=2 pair, an unrelated far name, a
    // short (<n) string with a 1-edit sibling inside the length band, and
    // a duplicate spelling (distinct() collapses it — no self pair).
    val names = Seq(
      "prefixed alpha bolt", "prefixed alpha bole",          // ed 1
      "prefixed gamma ring", "prefixed gamna rung",          // ed 2
      "prefixed zzz completely different qqq",
      "ab", "abc",                                           // short: ed 1
      "prefixed alpha bolt"                                  // duplicate
    ).zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "p_name")
    val got = Dedup.editDistancePairs(names, k = 2, n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got.contains(("prefixed alpha bole", "prefixed alpha bolt", 1L)), got.toString)
    assert(got.contains(("prefixed gamma ring", "prefixed gamna rung", 2L)), got.toString)
    assert(got.contains(("ab", "abc", 1L)), got.toString)
    // No pair involving the far name; no self pairs from the duplicate.
    assert(!got.exists(p => p._1.contains("different") || p._2.contains("different")))
    assert(got.forall(p => p._1 < p._2))
    // Exhaustive cross-check: exactly the naive answer over distinct names.
    val distinct = names.select("p_name").distinct()
      .collect().map(_.getString(0)).toSeq
    val naive = (for {
      a <- distinct; b <- distinct if a < b
      d = {
        val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      if d <= 2
    } yield (a, b, d.toLong)).sortBy(p => (p._1, p._2))
    assert(got.sortBy(p => (p._1, p._2)) == naive, s"got $got want $naive")
  }

  test("simhash: identical docs at distance 0, near-dups close, others far") {
    val out = Dedup.simhashPairs(docs, maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val d04 = out.find(p => p._1 == 0 && p._2 == 4).get._3
    assert(d04 == 0L)
    assert(out.find(p => p._1 == 0 && p._2 == 1).forall(_._3 <= 16L))
  }

  test("jaccard maxShingleDf: generous cap is exact, tiny cap drops hot-only pairs") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // Cap above every shingle's df → identical output through the capped
    // (candidate + exact-verify) plan.
    val capped = Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = Some(100L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(capped == exact)
    // Cap of 1: every shared shingle (df ≥ 2) leaves candidate generation, so
    // no pair can be proposed — the documented recall trade of the skew cap.
    val tiny = Dedup.jaccardPairs(docs, 3, 0.5, maxShingleDf = Some(1L)).collect()
    assert(tiny.isEmpty)
  }

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.9f, 0.1f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("cosine top-k ranks by similarity with id tiebreak") {
    val out = Similarity.topK(vecs, queryId = 0, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._2 > 0.99)
    val last = Similarity.topK(vecs, 0, 4).collect().last
    assert(last.getLong(0) == 4L && last.getDouble(2) == -1.0)
  }

  test("pairsAbove emits only pairs over threshold, ordered") {
    val out = Similarity.pairsAbove(vecs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (2L, 3L)))
  }

  test("pairsAbove kernel and expression formulations agree exactly") {
    val kern = Similarity.pairsAbove(vecs, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expr = Similarity.pairsAboveExpr(vecs, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(kern == expr && kern.length == 10) // all C(5,2) pairs, bit-identical
  }

  test("srp pairs equal exact pairs on a planted-duplicate corpus") {
    // Scaled duplicates (×2) have bit-identical SRP signatures (power-of-two
    // scaling commutes with fp rounding), so recall is certain here and the
    // LSH path must reproduce the exact all-pairs result.
    val planted = vecs.select((col("vec_id") + 100L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"), col("label"))
    val corpus = vecs.unionByName(planted)
    val exact = Similarity.pairsAbove(corpus, 0.999, blocks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val srp = Similarity.srpPairs(corpus, 0.999, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(exact == srp)
    assert(srp.length == 5 && srp.forall(_._3 == 1.0)) // the 5 planted pairs
  }

  test("pairsAboveBanded equals pairsAbove on a near-dup corpus, drops zero-norms") {
    // The sim_pairs_banded gate's two planted recall families in miniature:
    // quarter-scaled duplicates (identical signatures — recall certain) and
    // the x + x²/128 nonlinear perturbation (cosine ≈ 0.9999), plus a
    // zero-norm row both formulations must drop.
    val d = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val scaled = d.select((col("vec_id") + 100L).as("vec_id"),
      transform(col("embedding"), x => x * lit(0.25)).as("embedding"))
    val pert = d.select((col("vec_id") + 200L).as("vec_id"),
      transform(col("embedding"), x => x + x * x / lit(128.0)).as("embedding"))
    val zero = Seq((999L, Array(0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val corpus = d.unionByName(scaled).unionByName(pert).unionByName(zero)
    val exact = Similarity.pairsAbove(corpus, 0.99, blocks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val banded = Similarity.pairsAboveBanded(corpus, 0.99, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(banded == exact)
    // Each base id pairs with its scaled and perturbed twin plus the
    // scaled×perturbed cross — recall on all three is what the gate pins.
    assert(exact.count { case (a, b, _) => a < 100 && b == a + 100 } == 5)
    assert(exact.count { case (a, b, _) => a < 100 && b == a + 200 } == 5)
    assert(exact.count { case (a, b, _) => a >= 100 && b == a + 100 } == 5)
    assert(exact.forall { case (a, b, _) => a != 999L && b != 999L })
  }

  test("srpGeometryFor inverts the collision formula; banded recall >= 0.95 at every planted band") {
    // The sizing itself: boundary candidate probability at the requested
    // threshold must meet the target for the derived (numBits, bands).
    for (t <- Seq(0.90, 0.95, 0.99, 0.999)) {
      val (nb, b) = Similarity.srpGeometryFor(t)
      val r = nb / b
      assert(nb % b == 0 && r <= 62 && nb <= 256 && b <= 32)
      val pBit = 1.0 - math.acos(t) / math.Pi
      val boundary = 1.0 - math.pow(1.0 - math.pow(pBit, r), b)
      assert(boundary >= 0.99, s"threshold $t -> ($nb, $b): boundary recall $boundary")
    }
    assert(Similarity.srpGeometryFor(0.90) == (253, 23)) // r18's (48,4) gave 0.49 here
    // The multiprobe plan beats every exact-match geometry's false mass at
    // the advertised 0.9 threshold within the same 256-bit budget.
    assert(Similarity.srpPlanFor(0.90) == (255, 15, 1))
    for (t <- Seq(0.90, 0.95, 0.99, 0.999)) {
      val (nb, b, pr) = Similarity.srpPlanFor(t)
      val r = nb / b
      assert(nb % b == 0 && r <= 62 && nb <= 256 && b <= 32 && (pr == 0 || pr == 1))
      val pBit = 1.0 - math.acos(t) / math.Pi
      val q = math.pow(pBit, r) +
        (if (pr == 1) r * math.pow(pBit, r - 1) * (1 - pBit) else 0.0)
      assert(1.0 - math.pow(1.0 - q, b) >= 0.99, s"plan for $t: ($nb, $b, $pr)")
    }
    // WHY THE PLAN SPACE STOPS AT HAMMING-1 (VERDICT r19 #5, adjudicated
    // by exhaustive enumeration, closed): under the op's own feasibility
    // budget — 256 signature bits, <= 32 bands, <= 384 probe variants per
    // vector — the BEST Hamming-2 plan at threshold 0.9 is (r=13, b=4,
    // 368 variants) with false mass 368/2^13 ~ 4.5%, >= 20x WORSE than
    // the shipped Hamming-1 optimum (255, 15, 1) at ~0.21%: the quadratic
    // variant count (1 + r + r(r-1)/2) forces r down to 13 where 2^-r is
    // huge. Ham-2 reaches mere parity only near a ~2000-variant explode
    // (r=20, b=9), i.e. 7x the linear probe cost for zero false-mass win,
    // and anything better busts the 256-bit budget (r=24, b=13 = 312
    // bits). So probes=2 can never be selected by a false-mass-minimizing
    // planner under these budgets — enumerated here so the decision is
    // math in the build, not prose in a doc.
    {
      val pBit = 1.0 - math.acos(0.90) / math.Pi
      def bestFf(probes: Int): Double =
        (4 to 24).flatMap { r =>
          val q = math.pow(pBit, r) +
            (if (probes >= 1) r * math.pow(pBit, r - 1) * (1 - pBit) else 0.0) +
            (if (probes >= 2) r * (r - 1) / 2.0 * math.pow(pBit, r - 2) *
              math.pow(1 - pBit, 2) else 0.0)
          if (q <= 0.0 || q >= 1.0) None
          else {
            val b = math.ceil(math.log1p(-0.99) / math.log1p(-q)).toInt
            val nvar = 1 + (if (probes >= 1) r else 0) +
              (if (probes >= 2) r * (r - 1) / 2 else 0)
            if (b >= 1 && b <= 32 && r * b <= 256 && b * nvar <= 384)
              Some(b * nvar * math.pow(0.5, r))
            else None
          }
        }.min
      assert(bestFf(2) >= 20.0 * bestFf(1),
        f"Hamming-2 best feasible false mass ${bestFf(2)}%.4f should be >=20x " +
          f"Hamming-1's ${bestFf(1)}%.4f — if this ever flips, revisit srpPlanFor")
    }
    // Low thresholds FAIL LOUD instead of silently shipping a geometry
    // whose candidate mass approaches brute force: the op's contract says
    // pairsAbove is the right call below the ~0.9 band, and a caller who
    // ignores that gets told, not under-served. (0.8 is still feasible —
    // false mass ~10% — the hard floor sits near 0.33, below which no
    // <=256-bit geometry reaches recall 0.99 within 32 bands.)
    assert(Similarity.srpGeometryFor(0.80)._2 <= 32)
    val e = intercept[IllegalArgumentException] {
      Similarity.srpGeometryFor(0.30)
    }
    assert(e.getMessage.contains("no feasible SRP geometry"))
    // ...and explicit overrides still work at any threshold for callers
    // who accept the recall they sized themselves.
    assert(Similarity.pairsAboveBanded(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      0.30, dim = 3, numBits = 12, bands = 2).columns.toSeq ==
      Seq("v1", "v2", "cosine"))
    // Measured mid-band recall on the sim_pairs_banded_recall fixture
    // shape: pairs planted at EXACT cosines 0.90/0.95/0.99/0.999 (side b =
    // a ⊙ (c ± s) — one multiply per coordinate), banded at threshold 0.9
    // with the derived default geometry.
    val d = 16
    val cosines = Array(0.90, 0.95, 0.99, 0.999)
    val nPairs = 200
    val rows = (0L until (2L * nPairs)).map { id =>
      val p = id / 2
      val f = (p % 4).toInt
      val cf = cosines(f)
      val sf = math.sqrt(1.0 - cf * cf)
      val a = Array.tabulate(d) { j =>
        val h1 = ((p * 131071L + j.toLong + 1L) * 2654435761L) & 0xffffffffL
        val h2 = (((h1 >> 16) + h1) * 2246822519L) & 0xffffffffL
        if ((h2 >> 31) == 1L) 1.0 else -1.0
      }
      val v =
        if (id % 2 == 0) a
        else Array.tabulate(d)(j => a(j) * (cf + (if (j < d / 2) sf else -sf)))
      (id, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    // Both default plan shapes: the small-corpus exact-match geometry
    // (what this 400-row fixture auto-selects) AND the large-corpus
    // multiprobe plan (forced) must meet the same boundary contract.
    for (probes <- Seq(-1, 1)) {
      val found = Similarity.pairsAboveBanded(corpus, 0.90, dim = d, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recalls = (0 until 4).map { f =>
        val ps = (0 until nPairs).filter(_ % 4 == f)
        val hit = ps.count(p => found.contains((2L * p, 2L * p + 1)))
        val rec = hit.toDouble / ps.size
        info(f"probes=$probes family cosine=${cosines(f)}%.3f recall=$rec%.4f ($hit/${ps.size})")
        rec
      }
      // >= 0.99 per-pair candidate probability at the boundary; 0.95
      // asserted so a deterministic unlucky fixture cannot flake the suite.
      assert(recalls.forall(_ >= 0.95), s"probes=$probes recall regressed: $recalls")
    }
  }

  test("multiprobe srp candidates: superset of exact-match, Ham-1 pairs found, pairs still exact") {
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 300L).map { i =>
      (i, Array.fill(16)(rnd.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.srpCandidates(corpus, 16, 48, 4, "vec_id", "embedding", probes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = Similarity.srpCandidates(corpus, 16, 48, 4, "vec_id", "embedding", probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Hamming-0 matches are found by the un-flipped variant, so probing
    // can only ADD candidates...
    assert(exact.subsetOf(probed))
    // ...and it does add some: with 12-bit bands over random vectors, many
    // pairs sit at band Hamming distance exactly 1.
    assert(probed.size > exact.size)
    // The full op stays EXACT regardless of probing: verification filters
    // candidates by true cosine, so a multiprobe plan changes recall
    // mechanics only — never emits a pair below threshold.
    val out = Similarity.pairsAboveBanded(corpus, 0.9, dim = 16).collect()
    assert(out.forall(_.getDouble(2) >= 0.9))
  }

  test("srp weights mix: distinct hyperplanes, both signs in each") {
    val w = Array.tabulate(16, 8)((j, d) => Similarity.srpWeight(j, d))
    // A degenerate mixer collapses hyperplanes into near-identical rows (the
    // one-multiplicative-round trap — LSH silently becomes all-pairs).
    assert(w.map(_.toSeq).distinct.length == 16)
    assert(w.forall(row => row.distinct.length == 2))
  }

  test("pair kernel emits no self-pairs for duplicate ids") {
    // Duplicate ingest rows share an id; the kernel must not pair a row
    // with its twin (the declarative join is strict a.id < b.id).
    val dup = Seq(
      (0L, Array(1.0f, 0.0f)), (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val kern = Similarity.pairsAbove(dup, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expr = Similarity.pairsAboveExpr(dup, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(kern == expr && kern.forall(p => p._1 < p._2))
  }

  test("ivf top-k: probing all clusters recovers brute-force head") {
    val brute = Similarity.topK(vecs, 0, 2).collect().map(_.getLong(0)).toSeq
    val ivf = Similarity.ivfTopK(vecs, 0, 2, nprobe = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("recall drift: a region stale centroids scatter scores below fresh recall") {
    // Three original axis clusters (labels 0..2, ids 0..29) plus a drifted
    // region labeled 9 (ids 100..119): each drifted vector mixes a shared
    // new direction with a DIFFERENT original cluster's axis, so stale
    // (pre-drift) centroids scatter the region while fresh centroids give
    // it its own home.
    val orig = (0L until 30L).map { i =>
      val lab = (i % 3).toInt
      val v = Array.fill(4)(0.01 * (i % 7))
      v(lab) = 1.0
      (i, v.toSeq, lab)
    }
    // 6 drifted, 2 per old-cluster pull: any drifted query's top-5 must
    // cross pull-subgroups, and stale assignment splits the subgroups
    // across old clusters (the pull term dominates the near-orthogonal
    // centroids), so a 1-probe read sees only the query's own subgroup.
    val drifted = (0L until 6L).map { i =>
      val v = Array.fill(4)(0.0)
      v(3) = 1.0                       // the shared new direction
      v((i % 3).toInt) = 0.4           // weak pull toward a different old cluster
      v((i % 4).toInt) += 0.001 * i    // distinct cosines
      (100L + i, v.toSeq, 9)
    }
    val corpus = (orig ++ drifted).toDF("vec_id", "embedding", "label")
    val stale = Similarity.labelCentroids(
      corpus.filter(col("vec_id") < 100L))
    val out = Similarity.ivfRecallDrift(corpus, stale,
      queryIds = Seq(100L, 101L, 102L), k = 5, nprobe = 1)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(5))) // id, fresh, stale
    assert(out.length == 3)
    out.foreach { case (qid, fresh, stale) =>
      assert(fresh == 1.0, s"qid=$qid fresh=$fresh")
      assert(stale < fresh, s"qid=$qid stale=$stale not below fresh=$fresh")
    }
  }

  test("connected components collapse chains transitively to the min id") {
    // 0–1–2 is a CHAIN (0 and 2 share no edge): one-hop min-neighbor would
    // leave 2 pointing at 1; the closure must pull it to 0. 4–5 separate;
    // 3 isolated.
    val vertices = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("d1", "d2")
    val out = Dedup.connectedComponents(vertices, edges)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L), (5L, 4L)))
    // Long path: convergence takes multiple label-propagation rounds.
    val chain = (0L until 12L).toDF("id")
    val chainEdges = (0L until 11L).map(i => (i, i + 1)).toDF("d1", "d2")
    val c = Dedup.connectedComponents(chain, chainEdges)
      .collect().map(r => r.getLong(1)).distinct
    assert(c.toSeq == Seq(0L))
  }

  test("log-round CC converges on a deep chain where propagation fails loudly") {
    // Diameter 63 ≫ 10 rounds: min-label propagation must refuse (silent
    // partial collapse is the failure mode it guards against)…
    val chain = (0L until 64L).toDF("id")
    val chainEdges = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    val err = intercept[RuntimeException] {
      Dedup.connectedComponents(chain, chainEdges, maxIters = 10)
    }
    assert(err.getMessage.contains("did not converge"))
    // …while large/small-star contraction needs O(log n) rounds: 12 covers
    // n = 64 with slack (2·log₂ 64), nowhere near the 63 propagation needs.
    val out = Dedup.connectedComponentsLogRounds(chain, chainEdges, maxIters = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 64 && out.forall(_._2 == 0L))
  }

  test("log-round CC matches propagation on a random forest with isolated vertices") {
    val rnd = new scala.util.Random(7)
    val n = 80
    val vertices = (0L until n.toLong).toDF("id")
    // Random attachment: ~70% of vertices link to a random earlier one —
    // several components of mixed shape, plus genuinely isolated vertices.
    val attach = (1 until n).flatMap { i =>
      if (rnd.nextDouble() < 0.7) Some((rnd.nextInt(i).toLong, i.toLong)) else None
    }
    val edges = attach.toDF("d1", "d2")
    val a = Dedup.connectedComponents(vertices, edges)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Dedup.connectedComponentsLogRounds(vertices, edges)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    assert(a.exists(p => p._1 == p._2 && !attach.exists(e => e._1 == p._1 || e._2 == p._1)),
      "fixture lost its isolated-vertex case")
  }

  test("connected components with reliable checkpointing matches localCheckpoint path") {
    // Same chain as above, routed through the fault-tolerant cut every 2
    // rounds (the cluster-scale configuration — executor-local blocks don't
    // survive executor loss).
    val dir = tmpDir("graft_cc_ckpt")
    val chain = (0L until 12L).toDF("id")
    val chainEdges = (0L until 11L).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = Dedup.connectedComponents(chain, chainEdges,
      checkpointDir = Some(dir), checkpointInterval = 2)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == (0L until 12L).map(i => (i, 0L)).toSeq)
    // Reliable checkpoints actually landed in the given dir.
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no checkpoint files written under $dir")
  }

  test("connected components: driver rounds equal the distributed rounds, row for row") {
    def both(vertices: DataFrame, edges: DataFrame): Unit = {
      def run() = Dedup.connectedComponents(vertices, edges)
      val (driver, driverJobs) = jobsOf(run())
      assert(driverJobs <= 2, s"driver path started $driverJobs job(s)")
      val distributed = withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
      assert(driver.schema == distributed.schema, s"${driver.schema} vs ${distributed.schema}")
      val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
      assert(rows(driver) == rows(distributed))
    }
    both(Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("id"), Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("d1", "d2"))
    val rnd = new scala.util.Random(7)
    both((0L until 80L).toDF("id"), (1 until 80).flatMap { i =>
      if (rnd.nextDouble() < 0.7) Some((rnd.nextInt(i).toLong, i.toLong)) else None
    }.toDF("d1", "d2"))
    // A vertex id listed twice keeps both rows.
    both(Seq(0L, 1L, 1L, 2L).toDF("id"), Seq((1L, 2L)).toDF("d1", "d2"))
    // A null vertex id (and a null endpoint) matches nothing and keeps its row.
    both(Seq(Some(0L), None, Some(1L), Some(2L)).toDF("id"),
      Seq((Some(1L), Some(2L)), (None, Some(0L))).toDF("d1", "d2"))
    // An edge through an id that is not a vertex links nothing.
    both(Seq(0L, 1L, 2L, 3L).toDF("id"), Seq((0L, 1L), (1L, 99L), (99L, 2L)).toDF("d1", "d2"))
    both(Seq(0L, 1L, 2L, 3L, 4L).toDF("id"), Seq((3L, 4L)).toDF("d1", "d2"))
    both(Seq(3, 1, 2, 7).toDF("id"), Seq((1, 3), (2, 3)).toDF("d1", "d2"))
    // Both paths refuse a component deeper than maxIters.
    val chain = (0L until 64L).toDF("id")
    val chainEdges = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    for (t <- Seq("10485760", "-1")) {
      val err = intercept[RuntimeException] {
        withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> t) {
          Dedup.connectedComponents(chain, chainEdges, maxIters = 10)
        }
      }
      assert(err.getMessage.contains("did not converge"), s"threshold $t: ${err.getMessage}")
    }
  }

  test("connected components of a 60-edge batch run in at most 2 jobs") {
    // The benchmark's shape: near-dup pairs collected from a probe, handed
    // back as a local frame, vertices their distinct endpoints.
    val edges = (0L until 60L).map(i => (1000L + i, (i * 7L) % 23L)).toDF("new_id", "ref_id")
    val vertices = edges.select(col("new_id").as("id"))
      .union(edges.select(col("ref_id").as("id"))).distinct()
    val (out, jobs) = jobsOf(
      Dedup.connectedComponents(vertices, edges, srcCol = "new_id", dstCol = "ref_id").collect())
    assert(jobs <= 2, s"components + collect started $jobs jobs")
    // Stars around the 23 ref ids: each new id takes its ref as rep.
    val expected = edges.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      (0L until 23L).map(r => (r, r))
    assert(out.length == 83 && out.map(r => (r.getLong(0), r.getLong(1))).toSet == expected.toSet)
  }

  test("batch ivf: each query's slice equals the single-query result") {
    val batch = Similarity.ivfTopKBatch(vecs, Seq(0L, 2L), 2, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    for (qid <- Seq(0L, 2L)) {
      val single = Similarity.ivfTopK(vecs, qid, 2, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      assert(batch.filter(_._1 == qid).map(t => (t._2, t._3)).toSeq == single, s"qid $qid")
    }
    assert(batch.map(_._1).distinct.sorted.toSeq == Seq(0L, 2L))
  }

  test("unlabeled ivf: k-means clusters separate directions, top-k matches brute force") {
    val unlabeled = vecs.select(col("vec_id"), col("embedding"))
    // Seeds are deterministic (Knuth-hash order), rounds fixed: same input
    // ⇒ byte-identical centroids on every run.
    val c1 = Similarity.centroidsKMeans(unlabeled, k = 3, rounds = 2).collect()
    val c2 = Similarity.centroidsKMeans(unlabeled, k = 3, rounds = 2).collect()
    assert(c1.map(_.toString).sorted.toSeq == c2.map(_.toString).sorted.toSeq)
    // With nprobe = all clusters the result must equal brute-force top-k
    // (IVF only prunes which lists are SCANNED, never re-scores).
    val ivf = Similarity.ivfTopKUnlabeled(unlabeled, queryId = 0, k = 2,
      nprobe = 3, nCentroids = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = Similarity.topK(unlabeled, queryId = 0, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
  }

  test("k-means|| init recovers the cluster that hash seeding collapses away") {
    // 21 identical e1 vectors own the 21 smallest Knuth hashes, so BOTH
    // hash seeds land on the same direction: every point ties between two
    // identical centroids, the smaller seed id captures everything, the
    // other centroid vanishes — k=2 collapses to the global mean. The 3 e3
    // vectors carry the largest hashes (hash seeding can never reach them),
    // but k-means|| samples each with p = min(1, ℓ·d²/φ) = min(1, 4·1/3) = 1
    // in round one — data-driven spread, still fully deterministic.
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val byHash = (0L until 24L).sortBy(id => (knuth(id), id))
    val corpus = (byHash.take(21).map((_, Array(1.0f, 0.0f, 0.0f))) ++
      byHash.drop(21).map((_, Array(0.0f, 0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    def collected(cents: org.apache.spark.sql.DataFrame): Array[(Long, Array[Double])] =
      cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def cosL(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (den == 0.0) 0.0 else d / den
    }
    // Mean over the corpus of best-centroid cosine (21 e1 pts, 3 e3 pts).
    def meanCos(cents: Array[(Long, Array[Double])]): Double = {
      def best(v: Array[Double]) = cents.map(c => cosL(v, c._2)).max
      (21 * best(Array(1.0, 0.0, 0.0)) + 3 * best(Array(0.0, 0.0, 1.0))) / 24.0
    }
    val hashC = collected(Similarity.centroidsKMeans(corpus, k = 2, rounds = 2))
    assert(hashC.length == 1, "fixture must make hash seeding collapse to one cluster")
    val parDf = Similarity.centroidsKMeansParallel(corpus, k = 2)
    val par = collected(parDf)
    assert(par.length == 2)
    assert(meanCos(par) > 0.999)
    assert(meanCos(par) > meanCos(hashC) + 0.05)
    // Deterministic: same input ⇒ byte-identical centroids on every run.
    val par2 = collected(Similarity.centroidsKMeansParallel(corpus, k = 2))
    assert(par.map(c => (c._1, c._2.toSeq)).toSeq == par2.map(c => (c._1, c._2.toSeq)).toSeq)
    // The init composes into the ANN path: probing both clusters through
    // ivfTopKCustom recovers brute-force top-k exactly.
    val q = byHash.head
    val ivf = Similarity.ivfTopKCustom(corpus, parDf, queryId = q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = Similarity.topK(corpus, queryId = q, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
  }

  test("semantic dedup: in-cluster near-dups drop, the cross-cluster pair is the documented miss") {
    // Ids are placed by Knuth-hash order so the two k-means seeds land one
    // per blob (the collapse case is k-means||'s test, not this one).
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val byHash = (0L until 10L).sortBy(id => (knuth(id), id))
    val p = byHash(6); val q = byHash(7) // boundary twins: cos(p,q) ≈ 0.994, split A/B
    val vecs =
      Seq(byHash(0), byHash(2), byHash(4)).map((_, Array(1.0f, 0.0f))) ++
      Seq(byHash(1), byHash(3), byHash(5)).map((_, Array(0.0f, 1.0f))) ++
      Seq((p, Array(1.0f, 0.9f)), (q, Array(0.9f, 1.0f)),
        (byHash(8), Array(2.0f, 0.0f)), (byHash(9), Array(0.0f, 3.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    def dupsOf(out: Array[org.apache.spark.sql.Row]): Map[Long, Int] =
      out.map(r => r.getLong(0) -> r.getInt(out.head.length - 1)).toMap
    val global = dupsOf(Dedup.embeddingNearDups(df, 0.8).collect())
    // One cluster ⇒ the scoping is a no-op: identical verdicts to the
    // global all-pairs op, column for column.
    // The auto-k default must equal an explicit Some(autoClusters(n)) —
    // the schedule is a resolution rule, not a different algorithm.
    val autoK = Similarity.autoClusters(df.count())
    val autoOut = Dedup.semanticDedup(df, nClusters = None, rounds = 1, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    val fixedOut = Dedup.semanticDedup(df, nClusters = Some(autoK), rounds = 1, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    assert(autoOut == fixedOut)
    val one = Dedup.semanticDedup(df, nClusters = Some(1), rounds = 1, threshold = 0.8)
      .select(col("vec_id"), col("rep_id"), col("is_dup")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    val glob = Dedup.embeddingNearDups(df, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(one.toSeq == glob.toSeq)
    // Two clusters: every in-cluster near-dup still drops, but the p/q
    // boundary twins are never compared — exactly one verdict flips.
    val semantic = dupsOf(
      Dedup.semanticDedup(df, nClusters = Some(2), rounds = 2, threshold = 0.8).collect())
    val missed = math.max(p, q)
    assert(global(missed) == 1 && semantic(missed) == 0,
      "the cross-cluster twin must be the documented miss")
    assert((0L until 10L).filter(_ != missed).forall(id => semantic(id) == global(id)),
      "every other verdict must match the global op")
  }

  test("sharedSpanPairs counts exact L-token runs; maxDf excludes boilerplate spans") {
    // A and B share an exact 10-token run -> 3 distinct 8-token spans; C
    // shares nothing with either beyond the planted boilerplate sentence
    // that ALL THREE carry (8 tokens -> exactly 1 span in every doc).
    val bp = "content provided as is without warranty of kind" // exactly 8 tokens

    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, s"$run one two $bp"),
      (2L, s"zero $run nine $bp"),
      (3L, s"totally different words everywhere nothing shared at all $bp")
    ).toDF("doc_id", "text")
    val got = Dedup.sharedSpanPairs(docs, spanTokens = 8, minShared = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // (1,2): 3 run spans + 1 boilerplate span; (1,3)/(2,3): boilerplate only.
    assert(got((1L, 2L)) == 4L, got.toString)
    assert(got((1L, 3L)) == 1L && got((2L, 3L)) == 1L)
    // minShared prunes the boilerplate-only pairs.
    val strict = Dedup.sharedSpanPairs(docs, spanTokens = 8, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(strict == Seq((1L, 2L)))
    // maxDf = 2 excludes the in-all-three boilerplate span from pairing:
    // the (1,2) count drops to the 3 run spans and the 3-pairs vanish.
    val capped = Dedup.sharedSpanPairs(docs, spanTokens = 8, minShared = 1, maxDf = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(capped == Map((1L, 2L) -> 3L), capped.toString)
  }

  test("shardManifest: hash-mod membership, exact masses, (hash, id) order endpoints") {
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val rows = (0L until 40L).map(id => (id, id * 10))
    val df = rows.toDF("doc_id", "n_chars")
    val got = Sampling.shardManifest(df, nShards = 4, "doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byShard = rows.groupBy { case (id, _) => knuth(id) % 4 }
    assert(got.length == byShard.size)
    for ((shard, n, w, first, last) <- got) {
      val members = byShard(shard)
      assert(n == members.size && w == members.map(_._2).sum)
      val ordered = members.map(_._1).sortBy(id => (knuth(id), id))
      assert(first == ordered.head && last == ordered.last,
        s"shard $shard endpoints $first/$last vs ${ordered.head}/${ordered.last}")
    }
  }

  test("knnGraph: in-cluster top-k by (cosine desc, id), no cross-cluster edge") {
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val byHash = (0L until 10L).sortBy(id => (knuth(id), id))
    // Two direction blobs with within-blob spread so ranks are non-trivial.
    val vecs = byHash.zipWithIndex.map { case (id, i) =>
      val t = 0.05f * (i / 2)
      (id, if (i % 2 == 0) Array(1.0f, t) else Array(t, 1.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(df, nClusters = Some(2), rounds = 2, kNeighbors = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // Naive re-derivation from the same public assignment + plain cosine.
    val cents = Similarity.centroidsKMeans(df, 2, 2)
    val assign = Similarity.assignClusters(df, cents)
      .select(col("vec_id"), col("cluster").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.values.toSet.size == 2, "fixture must split into two clusters")
    val vmap = vecs.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val want = vecs.flatMap { case (src, v) =>
      vecs.filter { case (dst, _) => dst != src && assign(dst) == assign(src) }
        .map { case (dst, w) =>
          (src, dst, BigDecimal(cos(v, w)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (_, dst, c) => (-c, dst) }
        .take(3).zipWithIndex
        .map { case ((s, d, c), i) => (s, i + 1, d, c) }
    }.sortBy(x => (x._1, x._2))
    assert(g.sortBy(x => (x._1, x._2)).toSeq == want.toSeq)
    // No edge crosses clusters (implied by construction, asserted anyway).
    assert(g.forall { case (s, _, d, _) => assign(s) == assign(d) })
  }

  test("multi-probe knnEdges recovers boundary neighbors the single assign misses") {
    // Two tight blobs plus one vector BETWEEN them: its true neighbors
    // split across both clusters, so single-probe holds at most one side.
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val byHash = (0L until 9L).sortBy(id => (knuth(id), id))
    val mid = byHash.last // assigned last so it can't seed a cluster
    val vecs = byHash.zipWithIndex.map { case (id, i) =>
      (id, if (id == mid) Array(1.0f, 1.0f)
      else if (i % 2 == 0) Array(1.0f, 0.05f * i) else Array(0.05f * i, 1.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def edgesOf(nProbe: Int): Set[(Long, Long)] =
      Similarity.knnEdges(df, nClusters = Some(2), rounds = 2, kNeighbors = 4, nProbe = nProbe)
        .filter(col("vec_id") === mid)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = edgesOf(1)
    val multi = edgesOf(2)
    // Multi-probe's board for the boundary vector strictly extends reach:
    // it sees candidates from BOTH blobs, single-probe from one.
    assert(single.subsetOf(multi) || multi.size >= single.size)
    val assign = Similarity.assignClusters(df, Similarity.centroidsKMeans(df, 2, 2))
      .select(col("vec_id"), col("cluster").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.values.toSet.size == 2, "fixture must split into two clusters")
    val multiPartners = multi.map { case (_, d) => assign(d) }
    assert(multiPartners.size == 2,
      s"multi-probe must reach both clusters, got partners in $multiPartners")
    val singlePartners = single.map { case (_, d) => assign(d) }
    assert(singlePartners.size == 1,
      s"single-probe stays in one cluster, got $singlePartners")
  }

  test("autoClusters: the k ∝ √n schedule hits the measured calibration points") {
    // r16 measured points: k=8-equivalent at the 2 000-vector sf0.1 corpus
    // and k=26 at the 10× derived corpus restore the family scaling band.
    assert(Similarity.autoClusters(500) == 5)
    assert(Similarity.autoClusters(2000) == 9)
    assert(Similarity.autoClusters(20000) == 26)
    assert(Similarity.autoClusters(1) == 4, "floor keeps tiny corpora scoped")
    // ~√n: 100× data grows the cluster count ~10×, never more.
    assert(Similarity.autoClusters(200000) <= 10 * Similarity.autoClusters(2000))
    // A None probe against an auto-k build inherits the manifest's k.
    val df = (0L until 12L).map(id => (id, Array(1.0f, (id % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val path = tmpDir("knn-auto")
    Similarity.knnGraphBuild(df, path, nClusters = None, rounds = 1, kNeighbors = 2)
    assert(Similarity.knnGraphEdges(spark, path, None, 1, 2).count() > 0)
    intercept[IllegalArgumentException] {
      Similarity.knnGraphEdges(spark, path, Some(99), 1, 2)
    }
  }

  test("knnGraphAppend: post-append persisted graph ≡ frozen-centroid rebuild of the union") {
    val base = (0L until 12L).map(id => (id, Array(1.0f, (id % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val path = tmpDir("knn-app")
    Similarity.knnGraphBuild(base, path, nClusters = Some(3), rounds = 1, kNeighbors = 2)
    val batch = Seq((100L, Array(1.0f, 0.1f)), (101L, Array(1.0f, 2.1f)))
      .toDF("vec_id", "embedding")
    Similarity.knnGraphAppend(batch, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("nbr_rank"), col("neighbor_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    val persisted = rows(Similarity.knnGraphEdges(spark, path, Some(3), 1, 2))
    val cents = spark.read.parquet(s"$path/centroids")
    val expected = rows(Similarity.knnEdgesAssigned(base.unionByName(batch), cents, 2))
    assert(persisted == expected, "append must equal the frozen-centroid union rebuild")
    assert(persisted.map(_._1).distinct.length == 14, "all 14 vectors carry boards")
    // Re-appending an existing id fails loud (single-writer id contract).
    intercept[IllegalArgumentException] {
      Similarity.knnGraphAppend(batch, path)
    }
    // Compact folds the appended vector files; the graph reads identically
    // and a further append still works.
    Similarity.knnGraphCompact(spark, path)
    val vdir = new java.io.File(s"$path/vectors")
    for (d <- vdir.listFiles() if d.isDirectory)
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName} must fold to one file")
    assert(rows(Similarity.knnGraphEdges(spark, path, Some(3), 1, 2)) == expected)
    Similarity.knnGraphAppend(
      Seq((200L, Array(1.0f, 1.5f))).toDF("vec_id", "embedding"), path)
    assert(Similarity.knnGraphEdges(spark, path, Some(3), 1, 2)
      .filter(col("vec_id") === 200L).count() > 0)
    // Global id uniqueness: a reused id whose NEW vector routes to a
    // DIFFERENT cluster than the stored original must still fail loud —
    // the guard checks the full vectors table, not just touched clusters.
    intercept[IllegalArgumentException] {
      Similarity.knnGraphAppend( // id 5 lives near (1,2); (1,0) routes away
        Seq((5L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"), path)
    }
  }

  test("knnGraphBuild persists edges; probe fails loud on a config mismatch") {
    val ids = (0L until 12L)
    val df = ids.map(id => (id, Array(1.0f, (id % 3).toFloat))).toDF("vec_id", "embedding")
    val path = tmpDir("knn-idx")
    Similarity.knnGraphBuild(df, path, nClusters = Some(2), rounds = 1, kNeighbors = 2)
    val persisted = Similarity.knnGraphEdges(spark, path, Some(2), 1, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    val inPlan = Similarity.knnEdges(df, Some(2), 1, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(persisted.toSeq == inPlan.toSeq)
    // A probe with different parameters would answer a different question.
    intercept[IllegalArgumentException] {
      Similarity.knnGraphEdges(spark, path, Some(2), 1, 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.knnGraphEdges(spark, path, Some(4), 1, 2)
    }
  }

  test("negativeSample: pool members only, never a neighbor or self, dense deterministic ranks") {
    val ids = (0L until 30L)
    val df = ids.map(id => (id, Array(1.0f, id.toFloat))).toDF("vec_id", "embedding")
    // Hand edge set: each anchor's "positives" are its two successors.
    val edges = ids.flatMap(a => Seq((a, (a + 1) % 30), (a, (a + 2) % 30)))
      .toDF("vec_id", "neighbor_id")
    val out = Similarity.negativeSample(df, edges, poolSize = 10, kNeg = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val pool = ids.sortBy(id => (graft.ops.Sampling.idHashLong(id), id)).take(10).toSet
    val edgeSet = ids.flatMap(a => Seq((a, (a + 1) % 30), (a, (a + 2) % 30))).toSet
    assert(out.nonEmpty)
    for ((a, _, c) <- out) {
      assert(pool.contains(c), s"negative $c not from the pool")
      assert(c != a && !edgeSet.contains((a, c)), s"($a,$c) is self or a positive")
    }
    // Dense 1..k ranks per anchor with enough candidates (pool 10, ≤2
    // exclusions + possibly self → ≥ 7 candidates ≥ k).
    val byAnchor = out.groupBy(_._1)
    assert(byAnchor.size == 30)
    assert(byAnchor.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    // Deterministic: a second invocation is identical.
    val again = Similarity.negativeSample(df, edges, poolSize = 10, kNeg = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("diversity sample: ≤ nPer per cluster, exactly the hash-rank heads of the assignment") {
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val byHash = (0L until 12L).sortBy(id => (knuth(id), id))
    // Two direction blobs, seeds split across them by construction.
    val df = (byHash.indices.map { i =>
      (byHash(i), if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f))
    }).toDF("vec_id", "embedding")
    val got = Similarity.diversitySample(df, nClusters = Some(2), rounds = 2, nPer = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // Re-derive from the public assignment: per cluster, the 3 smallest
    // (knuth, id) members in rank order.
    val cents = Similarity.centroidsKMeans(df, 2, 2)
    val assigned = Similarity.assignClusters(df, cents)
      .select(col("cluster"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = assigned.groupBy(_._1).toSeq.flatMap { case (cl, members) =>
      members.map(_._2).sortBy(id => (knuth(id), id)).take(3)
        .zipWithIndex.map { case (id, i) => (cl, id, i + 1) }
    }
    assert(got.sortBy(t => (t._1, t._3)).toSeq == expected.sortBy(t => (t._1, t._3)))
    assert(got.groupBy(_._1).values.forall(_.length <= 3))
    // nPer ≥ cluster size degrades to the full per-cluster membership.
    assert(Similarity.diversitySample(df, Some(2), 2, nPer = 100).count() == 12L)
  }

  test("int8 quantization: values in [-127,127], zero vector safe, small round-trip error") {
    val df = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(127.0f, -64.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df).orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toList, r.getDouble(2)))
    assert(q.forall { case (_, bytes, _) => bytes.forall(b => b >= -127 && b <= 127) })
    assert(q(1)._2 == List[Byte](0, 0, 0) && q(1)._3 == 0.0)
    // max-magnitude element always lands exactly on ±127.
    assert(q(0)._2(1) == -127 && q(2)._2(0) == 127)
    // Dequantized round-trip error is bounded by scale/2 per element.
    for ((i, bytes, s) <- q if s > 0; (b, x) <- bytes.zip(
        Seq(Array(0.5, -1.0, 0.25), Array(), Array(127.0, -64.0, 1.0))(i.toInt)))
      assert(math.abs(b * s - x) <= s / 2 + 1e-12, s"vec $i")
  }

  test("embedding near-dup collapses to min-id representative") {
    val out = Dedup.embeddingNearDups(vecs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // 0~1 and 2~3 are near-dup clusters; 4 is alone.
    assert(out.toSeq == Seq((0L, 0L, 0), (1L, 0L, 1), (2L, 2L, 0), (3L, 2L, 1), (4L, 4L, 0)))
  }

  test("bpe token stats split letter/digit/punct runs") {
    val df = Seq((0L, "Hello, world42! a-b")).toDF("doc_id", "text")
    val r = Text.bpeTokenStats(df).head()
    // tokens: hello , world 42 ! a - b → 8 bpe, 3 whitespace tokens
    assert(r.getLong(1) == 8L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == math.round(19.0 / 8.0 * 10000) / 10000.0)
  }

  test("merge-table BPE: pinned greedy merges incl. chains and overlap parity") {
    val rank = Text.DefaultMerges.zipWithIndex.toMap
    // Chained merges across ranks: t+h → th, th+e → the; i+n → in, in+g.
    assert(Text.bpeApply("the", rank) == Vector("the"))
    assert(Text.bpeApply("seeing", rank) == Vector("s", "ee", "ing"))
    assert(Text.bpeApply("standing", rank) == Vector("st", "and", "ing"))
    // Self-pair e+e: overlapping occurrences merge leftmost-first.
    assert(Text.bpeApply("eeee", rank) == Vector("ee", "ee"))
    assert(Text.bpeApply("eeeee", rank) == Vector("ee", "ee", "e"))
    // No applicable rule → characters; single char → itself.
    assert(Text.bpeApply("xyz", rank) == Vector("x", "y", "z"))
    assert(Text.bpeApply("a", rank) == Vector("a"))
  }

  test("merge-table BPE: tokens reassemble to the word on a real corpus slice") {
    val docs = Seq(
      (0L, "The thing standing there, seeing and interesting!"),
      (1L, "thee thee eeee"),
      (2L, "")).toDF("doc_id", "text")
    val vocab = Text.bpeMergeVocab(docs).collect()
    assert(vocab.nonEmpty)
    vocab.foreach { r =>
      val word = r.getString(0)
      val toks = r.getSeq[String](1)
      assert(toks.mkString("") == word, s"tokens of '$word' do not reassemble")
      assert(r.getLong(2) == toks.length.toLong)
    }
    // Per-doc counts: empty doc counts 0; others = sum over their words.
    val counts = Text.bpeMergeTokenCounts(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts(2L) == 0L)
    val rank = Text.DefaultMerges.zipWithIndex.toMap
    // BpePattern pre-tokens of doc 0, by hand:
    val words0 = Seq("the", "thing", "standing", "there", ",", "seeing", "and", "interesting", "!")
    assert(counts(0L) == words0.map(w => Text.bpeApply(w, rank).length.toLong).sum)
  }

  test("salted aggregation equals direct groupBy for algebraic aggregates") {
    // Integer-valued doubles so sums are order-independent and exact.
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 20.0), ("c", 5.0)
    ).toDF("k", "v").repartition(4)
    val salted = Skew.saltedAgg(df, Seq("k"), salt = 4, Seq(
      "n" -> ((count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c))),
      "sum_v" -> ((sum(col("v")), (c: org.apache.spark.sql.Column) => sum(c)))))
      .orderBy(col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val direct = df.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .orderBy(col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == direct.toSeq)
    // Unique-key salt (retry-safe by construction): same totals, including
    // duplicate-content rows under one group key.
    val keyed = Seq(
      (1L, "a", 1.0), (2L, "a", 1.0), (3L, "a", 3.0), (4L, "b", 10.0), (5L, "b", 20.0)
    ).toDF("id", "k", "v").repartition(4)
    val byId = Skew.saltedAgg(keyed, Seq("k"), salt = 4, Seq(
      "n" -> ((count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c))),
      "sum_v" -> ((sum(col("v")), (c: org.apache.spark.sql.Column) => sum(c)))),
      saltBy = Some(col("id")))
      .orderBy(col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(byId.toSeq == Seq(("a", 3L, 5.0), ("b", 2L, 30.0)))
  }

  test("stitched trailing window is bit-identical to the single-partition window") {
    // Keys straddle several buckets at bucketSpan=8, with gaps, so carry rows
    // genuinely feed leading frames of later buckets.
    val series = (Seq(1L, 2L, 3L, 7L, 8L, 9L, 15L, 16L, 17L, 18L, 24L, 31L, 32L))
      .zipWithIndex.map { case (k, i) => (k, (i * 3 + 1).toDouble) }
      .toDF("day", "n").repartition(4)
    val stitched = Windowed.trailingStitched(
      series, "day", "n", frameRows = 6, c => avg(c), "ma", bucketSpan = 8L)
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day")).rowsBetween(-6, 0)
    val global = series.select(col("day"), avg(col("n")).over(w).as("ma"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(stitched.toSeq == global.toSeq)
  }

  test("stitched trailing window errors loudly on a gap >= bucketSpan") {
    // day 9 → 25 is a gap of 16 ≥ bucketSpan 8: the frame at 25 would
    // silently lose its tail. The in-plan guard must fail the query instead.
    val series = Seq(1L, 2L, 9L, 25L, 26L).zipWithIndex
      .map { case (k, i) => (k, i.toDouble) }
      .toDF("day", "n").repartition(3)
    val ex = intercept[Exception] {
      Windowed.trailingStitched(series, "day", "n", 3, c => avg(c), "ma", bucketSpan = 8L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("bucketSpan")), ex.toString)
    // Same series with validateGaps=false keeps the old documented behavior
    // (runs; out-of-domain frames are the caller's responsibility).
    val rows = Windowed.trailingStitched(
      series, "day", "n", 3, c => avg(c), "ma", bucketSpan = 8L, validateGaps = false)
      .collect()
    assert(rows.length == 5)
    // Boundary: gap == bucketSpan is EXACT (adjacent buckets) — the guard
    // must pass it and the result must equal the single-partition window.
    val boundary = Seq(0L, 8L, 16L, 17L).zipWithIndex
      .map { case (k, i) => (k, (i + 1).toDouble) }
      .toDF("day", "n").repartition(3)
    val got = Windowed.trailingStitched(boundary, "day", "n", 2, c => avg(c), "ma", bucketSpan = 8L)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day")).rowsBetween(-2, 0)
    val exp = boundary.select(col("day"), avg(col("n")).over(w).as("ma"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == exp.toSeq)
  }

  test("idHash equals the naive Knuth product for ids across 2^16 and 2^31 boundaries") {
    // The overflow-free 16-bit decomposition must agree with the plain
    // (id * 2654435761) mod 2^32 everywhere — a wrong split constant is
    // invisible below 2^16 (gate corpora) and flips sampling membership vs
    // the oracle at real id scales.
    val ids = Seq(0L, 1L, 65535L, 65536L, 65537L, 123456789L,
      2147483647L, 2147483648L, 4294967295L, 4294967296L, 999999999999L)
    val got = ids.toDF("id")
      .select(col("id"), Sampling.idHash(col("id")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (id <- ids) {
      val expected = ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
      assert(got(id) == expected, s"id=$id got=${got(id)} expected=$expected")
    }
  }

  test("hash sampling: exact-N ranks match a naive computation; fraction matches its predicate") {
    def h(id: Long) = (id * 2654435761L) % 4294967296L
    val rows = (0L until 40L).map(i => (i, if (i % 3 == 0) "a" else "b"))
    val df = rows.toDF("id", "grp").repartition(4)
    val got = Sampling.stratifiedExactN(df, Seq("grp"), "id", n = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val naive = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.map(_._1).sortBy(id => (h(id), id)).take(4).zipWithIndex
        .map { case (id, i) => (g, id, i + 1) }
    }.toSet
    assert(got == naive)
    val frac = Sampling.fractionByHash(df, "id", 0.25)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(frac == rows.map(_._1).filter(h(_) < 1073741824L).sorted)
    // Weighted mix: per-source thresholds; sources absent from the recipe drop.
    val weighted = Sampling.weightedBySource(df, "grp", "id", Map("a" -> 1.0, "b" -> 0.25))
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = rows.filter { case (id, g) =>
      h(id) < (if (g == "a") 4294967296L else 1073741824L)
    }.map(_._1).sorted
    assert(weighted == expected)
    assert(Sampling.weightedBySource(df, "grp", "id", Map("zzz" -> 1.0)).count() == 0)
  }

  test("ngram counts: bigrams counted with deterministic ties, short docs contribute nothing") {
    val df = Seq((0L, "a b c a b"), (1L, "a b"), (2L, "x"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Text.ngramCounts(df, n = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a b", 3L), ("b c", 1L), ("c a", 1L)))
    // k caps the result through the TakeOrdered path.
    assert(Text.ngramCounts(df, 2, 1).collect().map(_.getString(0)).toSeq == Seq("a b"))
  }

  test("heavy hitters: two-pass Misra-Gries equals the exact one-shuffle answer") {
    // 40 'hot' + 12 'warm' + 60 singleton tokens = 112 total. phiDen=10
    // → threshold ceil(112/10) ⇒ cnt*10 >= 112 ⇒ cnt >= 12: hot and warm
    // qualify, every singleton must be pruned by the summary pass.
    val docs = Seq(
      (0L, Seq.fill(40)("hot").mkString(" ")),
      (1L, Seq.fill(12)("warm").mkString(" ")),
      (2L, (0 until 60).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text").repartition(5)
    val out = Text.heavyHitters(docs, phiDen = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("hot", 40L), ("warm", 12L)))
    // Brute-force cross-check on a second corpus with a near-threshold miss:
    // 11 'almost' of 112 tokens is below cnt*10 >= 112 and must NOT appear.
    val docs2 = Seq(
      (0L, Seq.fill(41)("hot").mkString(" ")),
      (1L, Seq.fill(11)("almost").mkString(" ")),
      (2L, (0 until 60).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text").repartition(7)
    val got = Text.heavyHitters(docs2, phiDen = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exact = docs2.select(explode(Text.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect()
      .filter(_.getLong(1) * 10 >= 112).map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exact && !got.exists(_._1 == "almost"))
  }

  test("repeated n-gram spans: every position of a cross-doc gram, within-doc repeats count once for df") {
    val docs = Seq(
      (1L, "the cat sat on the cat mat"), // "the cat" at pos 0 AND 4
      (2L, "the cat ran"),
      (3L, "dogs bark loud")
    ).toDF("doc_id", "text")
    val out = Text.repeatedNgramSpans(docs, n = 2, minDf = 2)
      .orderBy(col("doc_id"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // df = 2 (distinct docs 1 and 2 — doc 1's repeat does NOT inflate it),
    // but BOTH of doc 1's occurrences are span rows (scrubbing needs each).
    assert(out.toSeq == Seq(
      (1L, 0L, "the cat", 2L), (1L, 4L, "the cat", 2L), (2L, 0L, "the cat", 2L)))
    // Raising minDf above the corpus ceiling empties the scrub list.
    assert(Text.repeatedNgramSpans(docs, 2, 3).count() == 0)
  }

  test("ngram contamination: per-occurrence overlap counts, zero-filled clean and short docs") {
    val train = Seq(
      (1L, "a b c d"),       // trigrams: "a b c", "b c d" — both in eval
      (2L, "x y z"),         // "x y z" — clean
      (3L, "a b"),           // too short: 0 trigrams
      (4L, "a b c a b c")    // "a b c"×2 (pos 0,3) + "b c a","c a b" → 2/4 hit
    ).toDF("doc_id", "text")
    val evalDf = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    val out = Text.ngramContamination(train, evalDf, n = 3)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1.0), (2L, 1L, 0L, 0.0), (3L, 0L, 0L, 0.0), (4L, 4L, 2L, 0.5)))
  }

  test("mixture plan caps oversubscribed sources; apply keeps the planned hash bands") {
    val df = Seq(
      (1L, "A", 50L), (2L, "A", 50L),                       // A: 100 available
      (3L, "B", 400L), (4L, "B", 300L), (5L, "B", 300L),    // B: 1000 available
      (6L, "C", 10L)                                        // C: 10 available
    ).toDF("id", "src", "n")
    val plan = Sampling.mixturePlan(df, "src", "n",
      Map("A" -> 0.5, "B" -> 0.01), defaultWeight = 0.002, budget = 200L)
    val rows = plan.orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      ("A", 100L, 100L, 1.0, 100L),   // share 100 = availability → capped at 1
      ("B", 1000L, 2L, 0.002, 2L),
      ("C", 10L, 0L, 0.0, 0L)))       // floor(0.002·200) = 0: priced out
    val kept = Sampling.applyMixturePlan(df, plan, "src", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // Hash-band re-derivation: id kept iff knuth(id) < floor(fraction·2³²).
    def knuth(id: Long): Long =
      ((BigInt(id) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
    val expected = Seq(
      (1L, "A", 50L), (2L, "A", 50L),
      (3L, "B", 400L), (4L, "B", 300L), (5L, "B", 300L)
    ).filter { case (id, s, _) =>
      val frac = if (s == "A") 1.0 else 0.002
      knuth(id) < math.floor(frac * 4294967296.0).toLong
    }
    assert(kept.sortBy(_._1).toSeq == expected)
    // The caller's columns survive the threshold join untouched.
    assert(kept.forall(_.productArity == 3))
  }

  test("meanVectors pools per group elementwise; singleton group is identity") {
    val df = Seq(
      ("a", Array(1.0f, 3.0f)), ("a", Array(2.0f, 5.0f)),
      ("b", Array(7.0f, -1.0f))
    ).toDF("grp", "embedding")
    val out = Similarity.meanVectors(df, "grp").orderBy(col("grp"))
      .collect().map(r => (r.getString(0), r.getSeq[Double](1).toList))
    assert(out.toSeq == Seq(("a", List(1.5, 4.0)), ("b", List(7.0, -1.0))))
  }

  test("normalize lowercases, collapses whitespace runs, trims the edges") {
    val df = Seq(
      (1L, "  A\t\tb   c\n"),
      (2L, "already clean"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Text.normalize(df).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a b c"), (2L, "already clean"), (3L, "")))
  }

  test("sessionIds: gap-inclusive breaks, 1-based per key, tie-order stable") {
    val df = Seq(
      // key "a": gaps 10 (same), 30 (= gap → NEW), 5 (same); tie at 45
      (1L, "a", 0L), (2L, "a", 10L), (3L, "a", 40L), (4L, "a", 45L), (5L, "a", 45L),
      // key "b": single event
      (6L, "b", 1000L)
    ).toDF("id", "k", "ts")
    val out = Windowed.sessionIds(df, "k", "ts", gapMs = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 2L, 6L -> 1L))
    // Reserved/output name collisions fail loudly.
    intercept[IllegalArgumentException] {
      Windowed.sessionIds(df.withColumnRenamed("ts", "session_seq"), "k", "session_seq", 30L)
    }
  }

  test("m4 downsample: min/max/first/last per bucket with (time, seq) tie order") {
    val df = Seq(
      // bucket 0 (t in [0,10)): first by (t,seq) = 5.0, last = 2.0 (t=9 tie
      // broken by seq 5 > 4), min 1.0, max 9.0
      (1L, "a", 0L, 5.0), (2L, "a", 3L, 9.0), (3L, "a", 4L, 1.0),
      (4L, "a", 9L, 7.0), (5L, "a", 9L, 2.0),
      // bucket 1: two points
      (6L, "a", 12L, 4.0), (7L, "a", 13L, 4.5),
      // key "b"
      (8L, "b", 1L, 6.0)
    ).toDF("event_id", "k", "t", "v")
    val out = graft.ops.Windowed.m4Downsample(df, "t", "v", "event_id",
      bucketMs = 10L, partitionCols = Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(("a", 0L)) == ((5L, 1.0, 9.0, 5.0, 2.0)), out)
    assert(out(("a", 10L))._1 == 2L)
    assert(out(("b", 0L)) == ((1L, 6.0, 6.0, 6.0, 6.0)), out)
  }

  test("quality band keeps the corpus's own middle; full band keeps everything") {
    // Clean single-letter non-stopwords ("a" IS a stopword): quality =
    // 0.2 + 0.02·n_tokens exactly, so quantiles are hand-checkable.
    val df = Seq(
      (1L, "x"), (2L, "x y"), (3L, "x y z"), (4L, "x y z w"), (5L, "x y z w v")
    ).toDF("doc_id", "text") // qualities: .22 .24 .26 .28 .30
    val mid = Text.filterByQualityBand(df, 0.5, 1.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    // p50 of 5 values is the middle one (0.26), inclusive.
    assert(mid.toSeq == Seq((3L, 0.26), (4L, 0.28), (5L, 0.30)))
    assert(Text.filterByQualityBand(df, 0.0, 1.0).count() == 5)
  }

  test("exactAgainst admits only keys absent from the reference; in-batch dups kept") {
    val reference = Seq((100L, "x"), (101L, "y")).toDF("doc_id", "text")
    val incoming = Seq((1L, "x"), (2L, "z"), (3L, "z")).toDF("doc_id", "text")
    val out = Dedup.exactAgainst(incoming, reference, "text", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    // "x" is already in the corpus; both "z" rows pass (batch-internal
    // dedup is exact()/hashed()'s job — the concerns compose).
    assert(out == Seq(2L, 3L))
  }

  test("redact: emails consumed before digit runs, counts follow the cascade") {
    val df = Seq(
      (1L, "mail bob123456789@x.co now"), // digits live INSIDE the email
      (2L, "call 5551234567 or 555123"),  // 10-digit run hits, 6-digit run survives
      (3L, "a@b.com 9999999 c@d.org"),
      (4L, "clean text")
    ).toDF("doc_id", "text")
    val out = Text.redact(df).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "mail <EMAIL> now", 1L, 0L),
      (2L, "call <NUMBER> or 555123", 0L, 1L),
      (3L, "<EMAIL> <NUMBER> <EMAIL>", 2L, 1L),
      (4L, "clean text", 0L, 0L)))
  }

  test("asof forward: NULL left time matches nothing; unplanned mixture source follows the knob") {
    // A NULL left time sorts before every right row in BOTH directions
    // (desc's default NULLS LAST would hand it the key's earliest right row
    // as a spurious forward match).
    val left = Seq((1L, 1L, Some(10L)), (2L, 1L, None))
      .toDF("eid", "k", "t")
    val right = Seq((1L, 20L, 100L)).toDF("k", "rt", "ok")
    for (dir <- Seq("backward", "forward")) {
      val out = AsofJoin(left, right, Seq("k"), "t", "rt", Seq("ok"), "ok", dir)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
        .toMap
      assert(out(2L) == -1L, s"direction=$dir must not match a NULL left time")
      assert(out(1L) == (if (dir == "forward") 100L else -1L))
    }
    // applyMixturePlan: a source absent from the plan drops by default and
    // keeps everything at unplannedFraction = 1.0.
    val df = Seq((1L, "A", 5L), (2L, "B", 5L)).toDF("id", "src", "n")
    val planA = Sampling.mixturePlan(df.filter(col("src") === "A"), "src", "n",
      Map("A" -> 1.0), defaultWeight = 0.0, budget = 100L)
    val dropped = Sampling.applyMixturePlan(df, planA, "src", "id")
      .collect().map(_.getString(1)).toSeq
    assert(dropped == Seq("A"))
    val kept = Sampling.applyMixturePlan(df, planA, "src", "id", unplannedFraction = 1.0)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(kept == Seq("A", "B"))
  }

  test("stepsOneScan rejects non-integral user/time columns loudly") {
    val strUsers = Seq(("7", "a", 1L), ("007", "a", 2L))
      .toDF("user_id", "event_type", "time")
    val err = intercept[IllegalArgumentException] {
      Funnel.stepsOneScan(strUsers, Seq("a"), withinMs = 10L)
    }
    assert(err.getMessage.contains("integral"))
    // A timestamp time column would silently become SECONDS under a cast —
    // rejected the same way.
    val tsTime = Seq((1L, "a", new java.sql.Timestamp(1000L)))
      .toDF("user_id", "event_type", "time")
    intercept[IllegalArgumentException] {
      Funnel.stepsOneScan(tsTime, Seq("a"), withinMs = 10L)
    }
  }

  test("assignSplit: disjoint cumulative bands, first band equals fractionByHash") {
    def h(id: Long) = (id * 2654435761L) % 4294967296L
    val df = (0L until 200L).map(i => (i, i % 7)).toDF("id", "x").repartition(4)
    val splits = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.1)
    val got = Sampling.assignSplit(df, "id", splits)
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    // Naive: first cumulative bound the hash falls under; remainder → None.
    val bounds = Seq(("train", 0.5), ("val", 0.75), ("test", 0.85))
      .map { case (n, b) => (n, (b * 4294967296.0).toLong) }
    for (id <- 0L until 200L) {
      val expected = bounds.collectFirst { case (n, b) if h(id) < b => n }
      assert(got(id) == expected, s"id=$id got=${got(id)} expected=$expected")
    }
    // train band ≡ fractionByHash at the same fraction (same predicate).
    val train = got.collect { case (id, Some("train")) => id }.toSeq.sorted
    val frac = Sampling.fractionByHash(df, "id", 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(train == frac)
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(df, "id", Seq("a" -> 0.8, "b" -> 0.3))
    }
    // Re-splitting an already-labeled frame must fail loudly, not relabel.
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(Sampling.assignSplit(df, "id", splits), "id", splits)
    }
    // Exact-decimal cumulative bounds: 0.7 + 0.2 sums to 0.8999999999999999
    // in doubles, one ulp under the analytic 0.9 — id 3523866869 hashes to
    // exactly floor(0.9·2³²) − 1 = 3865470565 and must land INSIDE band "b"
    // (an engine deriving floor(0.9·2³²) agrees); the double-summed bound
    // would exclude it.
    val edge = Seq((3523866869L, 0L)).toDF("id", "x")
    val lbl = Sampling.assignSplit(edge, "id", Seq("a" -> 0.7, "b" -> 0.2))
      .collect().head.getString(2)
    assert(lbl == "b")
  }

  test("pack by budget: layout matches a sequential concat-then-chunk walk") {
    val docs = Seq(
      (0L, "a b c"), (1L, "d e"), (2L, "f g h i"), (3L, "j"), (4L, "k l m")
    ).toDF("doc_id", "text").repartition(3)
    val got = Text.packByBudget(docs, budget = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // Token counts 3,2,4,1,3; exclusive cumsums 0,3,5,9,10 over budget 4:
    assert(got.toSeq == Seq(
      (0L, 3L, 0L, 0L), (1L, 2L, 0L, 3L), (2L, 4L, 1L, 1L),
      (3L, 1L, 2L, 1L), (4L, 3L, 2L, 2L)))
  }

  test("asof join picks latest right row at or before left time, max tie id") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 100L)).toDF("eid", "k", "t")
    val right = Seq(
      (10L, 100L, 7L), (10L, 100L, 9L), // tie at t=100 → orderkey 9 wins
      (10L, 200L, 11L), (99L, 50L, 13L)
    ).toDF("k", "rt", "ok")
    val out = AsofJoin(left, right, Seq("k"), "t", "rt", Seq("ok"), "ok")
      .orderBy(col("eid")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq == Seq((1L, 9L), (2L, 11L), (3L, -1L)))
  }

  test("asof join ignores right rows with a NULL time") {
    // A null right time is 'unknown ≤ t' — it must never become the carried
    // match (nulls-first ordering would otherwise hand it to every left row
    // preceding all real right rows).
    val left = Seq((1L, 10L, 50L)).toDF("eid", "k", "t")
    val right = Seq((10L, Option.empty[Long], 7L), (10L, Some(100L), 9L))
      .toDF("k", "rt", "ok")
    val out = AsofJoin(left, right, Seq("k"), "t", "rt", Seq("ok"), "ok").collect()
    assert(out.length == 1 && out.head.isNullAt(3))
  }

  test("pair kernel survives a zero-norm vector (NaN cosine dropped, like the expr twin)") {
    val withZero = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val kern = Similarity.pairsAbove(withZero, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expr = Similarity.pairsAboveExpr(withZero, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(kern == expr && kern == Seq((0L, 1L))) // zero-vector pairs dropped
  }

  test("token stats and quality are deterministic") {
    val st = Text.tokenStats(docs).orderBy(col("doc_id")).collect()
    assert(st(0).getLong(1) == 9L) // "the quick brown fox jumps over the lazy dog"
    assert(st(0).getLong(2) == 8L) // 'the' twice
    val q = Text.qualityScore(docs).orderBy(col("doc_id")).collect()
    assert(q.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
  }

  test("langId classifies stopword-bearing text and falls back to und") {
    val out = docs.select(col("doc_id"), Text.langId(col("text")).as("p"))
      .orderBy(col("doc_id")).collect().map(_.getString(1))
    assert(out(0) == "en" && out(2) == "es")
    val und = Seq((9L, "zzz qqq www")).toDF("doc_id", "text")
    assert(und.select(Text.langId(col("text"))).head().getString(0) == "und")
  }

  test("langIdByJoin agrees with the expression langId on the corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expr = corpus.select(col("doc_id"), Text.langId(col("text")).as("pred_lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val joined = Text.langIdByJoin(corpus)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(joined == expr && expr.size == 500)
    // und fallback survives the left join
    val und = Text.langIdByJoin(Seq((9L, "zzz qqq")).toDF("doc_id", "text")).head()
    assert(und.getString(1) == "und")
  }

  test("fingerprints: md5 matches duplicates, rolling is order-sensitive") {
    val fp = Text.fingerprint(docs).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fp(0L) == fp(4L) && fp(0L) != fp(1L))
    val r1 = Text.rollingFingerprint(Seq((0L, "a b c")).toDF("doc_id", "text")).head().getLong(1)
    val r2 = Text.rollingFingerprint(Seq((0L, "c b a")).toDF("doc_id", "text")).head().getLong(1)
    assert(r1 != r2)
  }

  test("tfidf ranks corpus-specific terms above ubiquitous ones") {
    val out = Text.tfidfTopTerms(docs, 5).collect()
    assert(out.length == 5)
    // 'the' appears in 3 of 5 docs with high tf but low idf; a unique term
    // like 'spark' (df=1) must outrank a df=5 term (idf would be 0).
    assert(out.forall(_.getDouble(2) >= 0.0))
  }

  test("token divergence: KL is zero for an identical source, positive for a shifted one") {
    // Two sources with the SAME unigram distribution as each other (and so
    // as the corpus): KL = 0 exactly. A third source skewed onto one term
    // shifts the blend and must score strictly positive for all three.
    val same = Seq(
      (0L, "sA", "a a b c"), (1L, "sB", "a a b c"))
      .toDF("doc_id", "source", "text")
    val kl0 = Text.tokenDivergence(same, "source")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(kl0 == Map("sA" -> 0.0, "sB" -> 0.0), kl0)
    val skewed = same.unionByName(
      Seq((2L, "sC", "z z z z z z z z a")).toDF("doc_id", "source", "text"))
    val kl = Text.tokenDivergence(skewed, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toList.sortBy(_._1)
    assert(kl.map(_._1) == List("sA", "sB", "sC"))
    assert(kl.forall(_._3 > 0.0), kl) // every source now diverges from the blend
    assert(kl.map(_._2) == List(4L, 4L, 9L)) // n_tokens audit
    // Identical sources score identically (sC now dominates the blend, so
    // the balanced pair legitimately diverges MORE from it than sC does).
    assert(kl.find(_._1 == "sA").get._3 == kl.find(_._1 == "sB").get._3)
  }

  test("multimodal resize pads/truncates to the target budget") {
    val media = Multimodal.withPayload(docs)
    val out = Multimodal.resize(spark, media, targetW = 8, targetH = 4)
      .collect().sortBy(_.doc_id)
    assert(out.forall(r => r.payload.length == 32 && r.new_bytes == 32L))
    assert(out(0).orig_bytes == 43L)
  }

  test("multimodal frame sampling emits every Nth fixed-size frame") {
    val media = Multimodal.withPayload(Seq((7L, "x" * 100)).toDF("doc_id", "text"))
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 10, everyN = 3)
      .collect().sortBy(_.frame_idx)
    // 10 full frames, every 3rd → indexes 0,3,6,9
    assert(frames.map(_.frame_idx).toSeq == Seq(0L, 3L, 6L, 9L))
    assert(frames.forall(_.frame.length == 10))
    assert(frames.forall(_.doc_id == 7L))
  }

  test("multimodal stub decode derives features from payload bytes") {
    val out = Multimodal.extractFeatures(spark, Multimodal.withPayload(docs))
      .collect().sortBy(_.doc_id)
    assert(out(0).n_bytes == 43L && out(0).width == 43L && out(0).height == 0L)
    assert(out.forall(_.codec == "stub"))
    val big = Multimodal.extractFeatures(spark,
      Multimodal.withPayload(Seq((0L, "x" * 200)).toDF("doc_id", "text"))).head()
    assert(big.n_bytes == 200L && big.width == 200 % 64 && big.height == 200 / 64)
  }

  test("PNG decode parses pngWrap containers, verifies CRCs, rejects corruption") {
    val wrapped = Seq((1L, "idat payload bytes"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Multimodal.pngWrap(lit(640), lit(480), encode(col("text"), "UTF-8")).as("payload"))
    val feats = Multimodal.extractFeatures(spark, wrapped).collect().sortBy(_.doc_id)
    assert(feats.forall(f => f.width == 640L && f.height == 480L && f.codec == "png"))
    assert(feats(0).n_bytes == 18L + 57L && feats(1).n_bytes == 57L)
    // Take a valid container and corrupt it in targeted ways.
    val good = wrapped.filter(col("doc_id") === 1L)
      .select(col("payload")).head().getAs[Array[Byte]](0)
    assert(Multimodal.decodePng(good) == Some((640L, 480L)))
    def mutate(i: Int, b: Byte): Array[Byte] = {
      val c = good.clone(); c(i) = b; c
    }
    // Flip one IHDR data byte: CRC check must reject.
    assert(Multimodal.decodePng(mutate(16, 9)) == None)
    // Truncate before IEND: chunk walk must reject.
    assert(Multimodal.decodePng(good.dropRight(1)) == None)
    // Trailing garbage after IEND: IEND must sit at the last byte.
    assert(Multimodal.decodePng(good :+ 0.toByte) == None)
    // Wrong signature byte.
    assert(Multimodal.decodePng(mutate(0, 0x88.toByte)) == None)
    // Oversized declared chunk length.
    assert(Multimodal.decodePng(mutate(8, 0x7f.toByte)) == None)
  }

  test("PNG pixel decode: pngEncode round-trips through all five filters; strict rejects") {
    // One image per (channels, filter) combination: pixels are a formula,
    // every row gets a different filter type, and the decode must return
    // the exact raster for every channel count.
    for (ch <- 1 to 4) {
      val (w, h) = (7, 6)
      val px = Array.tabulate(w * h * ch)(k => ((k * 37 + ch * 11) % 256).toByte)
      val enc = Multimodal.pngEncode(w, h, ch, px, row => row % 5)
      assert(Multimodal.decodePng(enc) == Some((w.toLong, h.toLong)),
        s"metadata walk must accept the encode (ch=$ch)")
      val dec = Multimodal.decodePngPixels(enc)
      assert(dec.nonEmpty, s"pixel decode must succeed (ch=$ch)")
      assert(dec.get.width == w && dec.get.height == h && dec.get.channels == ch)
      assert(dec.get.pixels.toSeq == px.toSeq, s"raster must round-trip (ch=$ch)")
    }
    // 1×1 edge: no left/up neighbors, every filter degenerates correctly.
    for (ft <- 0 to 4) {
      val enc1 = Multimodal.pngEncode(1, 1, 3, Array[Byte](10, 20, 30), _ => ft)
      assert(Multimodal.decodePngPixels(enc1).get.pixels.toSeq == Seq[Byte](10, 20, 30))
    }
    // Strictness: a corrupt IDAT byte flips the chunk CRC → None (not junk
    // pixels); a pngWrap container (raw non-zlib IDAT) fails the inflate.
    val good = Multimodal.pngEncode(4, 4, 1, Array.fill(16)(7.toByte), _ => 1)
    val idatAt = good.indexOfSlice("IDAT".getBytes) + 4
    val bad = good.clone(); bad(idatAt) = (bad(idatAt) ^ 0x40).toByte
    assert(Multimodal.decodePngPixels(bad).isEmpty)
    val rawWrap = Seq((1L, "not zlib data")).toDF("doc_id", "text")
      .select(Multimodal.pngWrap(lit(4), lit(4), encode(col("text"), "UTF-8")))
      .head().getAs[Array[Byte]](0)
    assert(Multimodal.decodePng(rawWrap).nonEmpty, "metadata path still accepts it")
    assert(Multimodal.decodePngPixels(rawWrap).isEmpty, "pixel path must reject")
    // Palette (color type 3): indices expand THROUGH the PLTE to RGB.
    val pal = Array.tabulate(4 * 3)(k => ((k * 50 + 7) % 256).toByte)
    val idc = Array[Byte](0, 1, 2, 3, 3, 2) // 3x2 raster
    val penc = Multimodal.pngEncodePalette(3, 2, pal, idc, row => row % 5)
    assert(Multimodal.decodePng(penc) == Some((3L, 2L)), "metadata walk accepts PLTE form")
    val pdec = Multimodal.decodePngPixels(penc).get
    assert(pdec.channels == 3 && pdec.width == 3 && pdec.height == 2)
    val expect = idc.flatMap(i => pal.slice((i & 0xff) * 3, (i & 0xff) * 3 + 3))
    assert(pdec.pixels.toSeq == expect.toSeq, "PLTE expansion must be exact")
    intercept[IllegalArgumentException] { // out-of-palette index refused at encode
      Multimodal.pngEncodePalette(1, 1, pal, Array[Byte](9), _ => 0)
    }
    // Nearest-neighbor resize: 2x2 checkerboard upscaled 4x4 quadrants.
    val checker = Multimodal.pngEncode(2, 2, 1, Array[Byte](0, 100.toByte, 100.toByte, 0), _ => 0)
    val resized = Multimodal.resizePngNearest(spark,
      Seq((9L, checker)).toDF("doc_id", "payload"), 4, 4).collect().head
    val rp = Multimodal.decodePngPixels(resized.payload).get
    assert(rp.width == 4 && rp.height == 4)
    val q = rp.pixels.map(_ & 0xff)
    assert(q.toSeq == Seq(0, 0, 100, 100, 0, 0, 100, 100,
      100, 100, 0, 0, 100, 100, 0, 0))
  }

  test("PNG pixel decode: adversarial payloads (FDICT stall, decompression bomb) rejected promptly") {
    // FDICT zlib header (0x78 0x20: checksum-valid, preset-dictionary bit
    // set): Inflater.inflate() returns 0 with needsInput()==false forever —
    // the decode must classify the zero-progress iteration as corrupt and
    // return None instead of spinning the executor thread.
    val fdict = Seq((1L, Array[Byte](0x78, 0x20, 1, 2, 3))).toDF("doc_id", "data")
      .select(Multimodal.pngWrap(lit(4), lit(4), col("data")).as("payload"))
      .head().getAs[Array[Byte]](0)
    assert(Multimodal.decodePng(fdict).nonEmpty, "container framing is valid")
    assert(Multimodal.decodePngPixels(fdict).isEmpty,
      "FDICT stream must be rejected, not inflated forever")
    // Decompression bomb: a tiny container whose IHDR claims 46000x46000
    // (~2.1 GB raster) must be refused BEFORE the raster allocation — both
    // the absolute cap and the idat-size*1032 deflate-ratio bound fire.
    val bomb = Seq((2L, "tiny")).toDF("doc_id", "text")
      .select(Multimodal.pngWrap(lit(46000), lit(46000),
        encode(col("text"), "UTF-8")).as("payload"))
      .head().getAs[Array[Byte]](0)
    assert(bomb.length < 200, "the attack payload is small by construction")
    assert(Multimodal.decodePngPixels(bomb).isEmpty,
      "IHDR-forged giant raster must be rejected without allocation")
    // A raster marginally over the idat-ratio bound but under the absolute
    // cap is also refused: 2 IDAT bytes cannot legally inflate to 1 MB.
    val ratio = Seq((3L, Array[Byte](0x78, 0x01))).toDF("doc_id", "data")
      .select(Multimodal.pngWrap(lit(1024), lit(1024), col("data")).as("payload"))
      .head().getAs[Array[Byte]](0)
    assert(Multimodal.decodePngPixels(ratio).isEmpty)
  }

  test("PNG sub-classes: png16/png_i/png_ld codec tags observable; pixel path refuses them") {
    val wrap16 = Multimodal.pngContainer(6, 4, depth = 16, colorType = 0,
      interlace = 0, idat = Array[Byte](1, 2, 3))
    val wrapI = Multimodal.pngContainer(6, 4, depth = 8, colorType = 0,
      interlace = 1, idat = Array[Byte](1, 2, 3))
    val wrapLd = Multimodal.pngContainer(6, 4, depth = 4, colorType = 0,
      interlace = 0, idat = Array[Byte](1, 2, 3))
    val plain = Multimodal.pngEncode(6, 4, 1,
      Array.tabulate(24)(k => (k * 9).toByte), _ => 0)
    // The metadata walk accepts all four classes (CRCs + frame valid)...
    for (p <- Seq(wrap16, wrapI, wrapLd, plain))
      assert(Multimodal.decodePng(p) == Some((6L, 4L)))
    // ...the pixel path rejects all three containers — their IDAT is
    // garbage bytes, not a zlib stream (REAL 16-bit/Adam7 streams decode
    // since round 20; see the raster-core round-trip tests).
    assert(Multimodal.decodePngPixels(wrap16).isEmpty)
    assert(Multimodal.decodePngPixels(wrapI).isEmpty)
    assert(Multimodal.decodePngPixels(wrapLd).isEmpty)
    assert(Multimodal.decodePngRaster(wrap16).isEmpty)
    assert(Multimodal.decodePngRaster(wrapI).isEmpty)
    assert(Multimodal.decodePngRaster(wrapLd).isEmpty)
    assert(Multimodal.decodePngPixels(plain).nonEmpty)
    // extractFeatures now SAYS which class fired instead of a flat "png".
    val feats = Multimodal.extractFeatures(spark,
      Seq((1L, wrap16), (2L, wrapI), (3L, wrapLd), (4L, plain))
        .toDF("doc_id", "payload")).collect().sortBy(_.doc_id)
    assert(feats.map(_.codec).toSeq == Seq("png16", "png_i", "png_ld", "png"))
    assert(feats.forall(f => f.width == 6L && f.height == 4L))
    // Adam7 wins the tag when both bits are set: it changes the raster
    // layout wholesale, 16-bit only the sample width.
    val both = Multimodal.pngContainer(6, 4, depth = 16, colorType = 0,
      interlace = 1, idat = Array[Byte](1))
    assert(Multimodal.pngCodecTag(both) == "png_i")
    // Spec-ILLEGAL (color, depth) combinations fail the metadata walk
    // (RFC 2083 §4.1.1): 16-bit palette indices and sub-byte RGB samples
    // do not exist in PNG, so a container claiming them is not a PNG.
    for ((c, d) <- Seq((3, 16), (2, 4), (4, 2), (6, 1)))
      assert(Multimodal.decodePng(Multimodal.pngContainer(6, 4, depth = d,
        colorType = c, interlace = 0, idat = Array[Byte](1, 2))).isEmpty,
        s"color=$c depth=$d must be rejected")
    // ...while every legal combo of the same frame passes.
    for ((c, d) <- Seq((0, 16), (3, 4), (2, 16), (4, 8), (6, 16)))
      assert(Multimodal.decodePng(Multimodal.pngContainer(6, 4, depth = d,
        colorType = c, interlace = 0, idat = Array[Byte](1, 2))).nonEmpty,
        s"color=$c depth=$d must be accepted")
  }

  test("PNG raster core: 16-bit round-trips exactly at the stored depth; 8-bit view refuses it") {
    for (ch <- 1 to 4) {
      val (w, h) = (7, 6)
      // full 16-bit dynamic range, including values whose low byte != high
      // byte so a stride or endianness slip cannot cancel out
      val samples = Array.tabulate(w * h * ch)(k => (k * 9973 + ch * 257) % 65536)
      val enc = Multimodal.pngEncodeRaster(w, h, ch, depth = 16, interlace = 0,
        Multimodal.samples16ToBytes(samples), row => row % 5)
      assert(Multimodal.decodePng(enc) == Some((w.toLong, h.toLong)))
      assert(Multimodal.pngCodecTag(enc) == "png16")
      val r = Multimodal.decodePngRaster(enc).get
      assert(r.width == w && r.height == h && r.channels == ch && r.depth == 16)
      assert(Array.tabulate(r.nSamples)(r.sample).toSeq == samples.toSeq,
        s"16-bit raster must round-trip (ch=$ch)")
      // the byte-raster accessor cannot carry 16-bit samples: None, not truncation
      assert(Multimodal.decodePngPixels(enc).isEmpty)
      // the clip accessor takes the high byte
      assert(r.sample8(0) == samples(0) >> 8)
    }
  }

  test("PNG raster core: Adam7 de-interlaces to the sequential twin at every pass-geometry edge") {
    // Sizes chosen so every Adam7 pass-emptiness pattern occurs: below 8
    // some passes are empty (w or h = 1 kill entire pass families), 8/9
    // exercise full geometry, 16x12 multiple pass rows.
    val sizes = Seq((1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (7, 7), (8, 8),
      (9, 5), (16, 12), (1, 9), (9, 1))
    for ((w, h) <- sizes; ch <- Seq(1, 3)) {
      val px = Array.tabulate(w * h * ch)(k => ((k * 37 + w * 11 + h) % 256).toByte)
      val seqEnc = Multimodal.pngEncode(w, h, ch, px, row => row % 5)
      val adamEnc = Multimodal.pngEncodeRaster(w, h, ch, depth = 8, interlace = 1,
        px, row => row % 5)
      assert(Multimodal.pngCodecTag(adamEnc) == "png_i")
      val seqDec = Multimodal.decodePngRaster(seqEnc).get
      val adamDec = Multimodal.decodePngRaster(adamEnc).get
      assert(adamDec.depth == 8 && adamDec.width == w && adamDec.height == h)
      assert(adamDec.data.toSeq == px.toSeq, s"Adam7 must de-interlace exactly (${w}x$h ch=$ch)")
      assert(adamDec.data.toSeq == seqDec.data.toSeq, "both layouts must agree")
      // the 8-bit byte view now accepts interlaced images too
      assert(Multimodal.decodePngPixels(adamEnc).get.pixels.toSeq == px.toSeq)
    }
    // 16-bit Adam7: both extensions composed.
    val (w, h, ch) = (11, 9, 2)
    val s16 = Array.tabulate(w * h * ch)(k => (k * 6151 + 3) % 65536)
    val enc = Multimodal.pngEncodeRaster(w, h, ch, depth = 16, interlace = 1,
      Multimodal.samples16ToBytes(s16), row => (row + 2) % 5)
    assert(Multimodal.pngCodecTag(enc) == "png_i") // Adam7 wins the tag
    val dec = Multimodal.decodePngRaster(enc).get
    assert(dec.depth == 16 && Array.tabulate(dec.nSamples)(dec.sample).toSeq == s16.toSeq)
  }

  test("PNG raster core: interlaced PALETTE images expand through PLTE after de-interlacing") {
    // Build color-type-3 + Adam7 by splicing PLTE into an interlaced gray
    // encode of the index raster (the pngEncodePalette technique).
    val (w, h) = (9, 6)
    val pal = Array.tabulate(8 * 3)(k => ((k * 41 + 5) % 256).toByte)
    val idx = Array.tabulate(w * h)(k => ((k * 3 + 1) % 8).toByte)
    val gray = Multimodal.pngEncodeRaster(w, h, 1, depth = 8, interlace = 1,
      idx, row => row % 5)
    def be32At(a: Array[Byte], i: Int): Int =
      ((a(i) & 0xff) << 24) | ((a(i + 1) & 0xff) << 16) |
        ((a(i + 2) & 0xff) << 8) | (a(i + 3) & 0xff)
    val idatLen = be32At(gray, 33)
    val idatBody = java.util.Arrays.copyOfRange(gray, 41, 41 + idatLen)
    val spliced = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def chunk(tag: String, body: Array[Byte]): Unit = {
        out.write(be32(body.length.toLong), 0, 4)
        val tb = tag.getBytes("US-ASCII")
        val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
        out.write(tb, 0, 4); out.write(body, 0, body.length)
        out.write(be32(crc.getValue), 0, 4)
      }
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
      chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++ Array[Byte](8, 3, 0, 0, 1))
      chunk("PLTE", pal)
      chunk("IDAT", idatBody)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    val dec = Multimodal.decodePngRaster(spliced).get
    assert(dec.channels == 3 && dec.depth == 8)
    val expect = idx.flatMap(i => pal.slice((i & 0xff) * 3, (i & 0xff) * 3 + 3))
    assert(dec.data.toSeq == expect.toSeq)
  }

  test("PNG raster core: low depths 1/2/4 round-trip packed bits, sequential and Adam7") {
    for (d <- Seq(1, 2, 4); interlace <- Seq(0, 1);
         (w, h) <- Seq((1, 1), (3, 5), (7, 7), (8, 3), (9, 9), (17, 4))) {
      val max = (1 << d) - 1
      // values cycle the full depth range; widths deliberately leave
      // row-end padding bits (w not a multiple of 8/d) in most cases
      val px = Array.tabulate(w * h)(k => ((k * 3 + w + d) % (max + 1)).toByte)
      val enc = Multimodal.pngEncodeRaster(w, h, 1, d, interlace, px, row => row % 5)
      assert(Multimodal.decodePng(enc) == Some((w.toLong, h.toLong)))
      assert(Multimodal.pngCodecTag(enc) == (if (interlace == 1) "png_i" else "png_ld"))
      val r = Multimodal.decodePngRaster(enc).get
      assert(r.depth == d && r.channels == 1 && r.nSamples == w * h)
      assert(r.data.toSeq == px.toSeq,
        s"low-depth raster must round-trip (d=$d i=$interlace ${w}x$h)")
      // 8-bit mapping is the exact range expansion (255 divisible by max)
      assert(r.sample8(0) == (px(0) & 0xff) * 255 / max)
      // the 8-bit byte view refuses low-depth GRAYSCALE (samples not 8-bit)
      assert(Multimodal.decodePngPixels(enc).isEmpty)
    }
  }

  test("PNG raster core: low-depth PALETTE images expand through PLTE (sequential and Adam7)") {
    for (d <- Seq(1, 2, 4); interlace <- Seq(0, 1)) {
      val (w, h) = (9, 6)
      val n = 1 << d
      val pal = Array.tabulate(n * 3)(k => ((k * 53 + 11) % 256).toByte)
      val idx = Array.tabulate(w * h)(k => ((k * 5 + 2) % n).toByte)
      val enc = Multimodal.pngEncodePaletteRaster(w, h, d, interlace, pal, idx, row => row % 5)
      assert(Multimodal.decodePng(enc) == Some((w.toLong, h.toLong)))
      val r = Multimodal.decodePngRaster(enc).get
      assert(r.channels == 3 && r.depth == 8)
      val expect = idx.flatMap(i => pal.slice((i & 0xff) * 3, (i & 0xff) * 3 + 3))
      assert(r.data.toSeq == expect.toSeq, s"PLTE expansion at depth $d i=$interlace")
      // ...and the 8-bit byte view accepts the expansion (it IS 8-bit RGB)
      assert(Multimodal.decodePngPixels(enc).get.pixels.toSeq == expect.toSeq)
      // out-of-palette or out-of-depth indices refused at encode
      intercept[IllegalArgumentException] {
        Multimodal.pngEncodePaletteRaster(1, 1, d, 0, pal, Array[Byte](n.toByte), _ => 0)
      }
    }
  }

  test("PNG raster core: forged-IHDR bombs return None, never crash — stride wrap and unpack blowup") {
    // Int-wrap attack: w=2^28 at 8 bytes/pixel makes the Int row stride
    // wrap negative (2^31); computed in Long it exceeds the 256 MiB cap
    // and must reject BEFORE any allocation (a crash here would kill the
    // Spark task on a ~60-byte untrusted payload).
    val wide = Multimodal.pngContainer(1 << 28, 1, depth = 16, colorType = 6,
      interlace = 0, idat = Array[Byte](1, 2, 3))
    assert(Multimodal.decodePng(wide).nonEmpty, "metadata walk accepts the frame")
    assert(Multimodal.decodePngRaster(wide).isEmpty)
    // Unpack-blowup attack: a depth-1 image whose PACKED stream (250 MB)
    // passes the filtered-raw cap but whose UNPACKED raster would be
    // 2 GB (w·h bytes = 8x the packed size) — the guard must bound the
    // output allocation too, not just the inflate buffer. idat is sized
    // so the deflate-ratio bound does NOT fire first (guard order).
    val blowup = Multimodal.pngContainer(1000000, 2000, depth = 1, colorType = 0,
      interlace = 0, idat = new Array[Byte](260000))
    assert(Multimodal.decodePngRaster(blowup).isEmpty)
    // ...and the palette expansion's 3x output is bounded likewise: a
    // depth-8 palette image at w=2^27 passes the raw and unpacked caps
    // (both ~2^27) but its RGB expansion would be 402 MB. Needs a real
    // PLTE chunk to reach the guard, so frame it inline.
    val palBomb = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def chunk(tag: String, body: Array[Byte]): Unit = {
        out.write(be32(body.length.toLong), 0, 4)
        val tb = tag.getBytes("US-ASCII")
        val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
        out.write(tb, 0, 4); out.write(body, 0, body.length)
        out.write(be32(crc.getValue), 0, 4)
      }
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
      chunk("IHDR", be32(134217728L) ++ be32(1L) ++ Array[Byte](8, 3, 0, 0, 0))
      chunk("PLTE", Array[Byte](1, 2, 3))
      chunk("IDAT", new Array[Byte](131000))
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    assert(Multimodal.decodePng(palBomb).nonEmpty)
    assert(Multimodal.decodePngRaster(palBomb).isEmpty)
  }

  test("PNG raster core: width >= 2^31 (signed-parse wrap) returns None, never crashes") {
    // decodePng validates IHDR dims as UNSIGNED Longs, so a CRC-valid frame
    // with width 0x80000000 passes the metadata walk — but the raster
    // core's signed be32 re-parse sees it NEGATIVE. Pre-guard, h=1 made
    // every pass empty (rawLen=0), slipped the bomb guard (negative
    // products compare below every cap), and crashed on
    // `new Array[Byte](outLen.toInt)` (negative size) after the empty zlib
    // IDAT; h=2 wrapped w·h to 0 and fabricated a bogus Some(PngRaster)
    // with negative dims. Both must return None (ADVICE r20).
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(out: java.io.ByteArrayOutputStream, tag: String, body: Array[Byte]): Unit = {
      out.write(be32(body.length.toLong), 0, 4)
      val tb = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
      out.write(tb, 0, 4); out.write(body, 0, body.length)
      out.write(be32(crc.getValue), 0, 4)
    }
    // A VALID zlib stream inflating to zero bytes: garbage IDAT already
    // returns None via DataFormatException — the dangerous path needs the
    // inflate to SUCCEED so control reaches the output allocation.
    val emptyZlib = {
      val d = new java.util.zip.Deflater()
      d.setInput(Array.emptyByteArray); d.finish()
      val buf = new Array[Byte](64)
      val n = d.deflate(buf); d.end()
      buf.take(n)
    }
    for (hh <- Seq(1L, 2L)) {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
      chunk(out, "IHDR", be32(0x80000000L) ++ be32(hh) ++ Array[Byte](8, 0, 0, 0, 0))
      chunk(out, "IDAT", emptyZlib)
      chunk(out, "IEND", Array.emptyByteArray)
      val p = out.toByteArray
      assert(Multimodal.decodePng(p).nonEmpty,
        s"metadata walk accepts unsigned width 2^31 at h=$hh")
      assert(Multimodal.decodePngRaster(p).isEmpty,
        s"raster core must reject signed-wrapped width at h=$hh")
    }
  }

  test("PNG raster core: an IHDR that disagrees with the stream's pass structure is rejected") {
    // Flip single IHDR fields on a valid encode and re-CRC the chunk: the
    // inflated stream's byte count then no longer matches the header's
    // pass structure, and the decode must return None — never misread the
    // stream under the wrong geometry.
    def withIhdrByte(png: Array[Byte], off: Int, v: Byte): Array[Byte] = {
      val p = png.clone()
      p(off) = v
      val crc = new java.util.zip.CRC32()
      crc.update(p, 12, 4 + 13) // chunk tag + IHDR body
      val c = crc.getValue
      p(29) = ((c >> 24) & 0xff).toByte; p(30) = ((c >> 16) & 0xff).toByte
      p(31) = ((c >> 8) & 0xff).toByte; p(32) = (c & 0xff).toByte
      p
    }
    val px = Array.tabulate(9 * 7)(k => (k % 256).toByte)
    val seqEnc = Multimodal.pngEncodeRaster(9, 7, 1, depth = 8, interlace = 0, px, _ => 0)
    assert(Multimodal.decodePngRaster(seqEnc).nonEmpty)
    // sequential stream, interlaced header (byte 28): pass structure lies
    assert(Multimodal.decodePngRaster(withIhdrByte(seqEnc, 28, 1)).isEmpty)
    // 8-bit stream, 16-bit header (byte 24): stride lies
    assert(Multimodal.decodePngRaster(withIhdrByte(seqEnc, 24, 16)).isEmpty)
    // ...and the reverse: interlaced stream under a sequential header
    val adamEnc = Multimodal.pngEncodeRaster(9, 7, 1, depth = 8, interlace = 1, px, _ => 0)
    assert(Multimodal.decodePngRaster(adamEnc).nonEmpty)
    assert(Multimodal.decodePngRaster(withIhdrByte(adamEnc, 28, 0)).isEmpty)
    // low-depth header over an 8-bit stream: packed stride lies
    assert(Multimodal.decodePngRaster(withIhdrByte(seqEnc, 24, 4)).isEmpty)
  }

  test("PNG resize clips 16-bit sources to the high byte") {
    // 2x2 16-bit checkerboard: 0x0000 / 0x64FF — high bytes 0 / 100.
    val s16 = Array(0x0000, 0x64ff, 0x64ff, 0x0000)
    val enc = Multimodal.pngEncodeRaster(2, 2, 1, depth = 16, interlace = 0,
      Multimodal.samples16ToBytes(s16), _ => 0)
    val resized = Multimodal.resizePngNearest(spark,
      Seq((9L, enc)).toDF("doc_id", "payload"), 4, 4).collect().head
    val rp = Multimodal.decodePngPixels(resized.payload).get
    assert(rp.pixels.map(_ & 0xff).toSeq == Seq(0, 0, 100, 100, 0, 0, 100, 100,
      100, 100, 0, 0, 100, 100, 0, 0))
  }

  test("PNG writers: byte-identical output on pinned rasters (SHA-256 per writer)") {
    // Each writer's outputs over fixed rasters, concatenated and hashed.
    // The digests were recorded from the five separate writers before
    // they shared one framer; any change in filtering, deflate settings,
    // chunk order or IHDR bytes shows here.
    def sha(parts: Seq[Array[Byte]]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.reduce(_ ++ _)).map(b => f"$b%02x").mkString
    def raster(n: Int, mod: Int, salt: Int): Array[Byte] =
      Array.tabulate(n)(k => ((k * 37 + salt * 11) % mod).toByte)
    val pal = Array.tabulate(3 * 16)(k => ((k * 53 + 7) % 256).toByte)
    val got = Map(
      "pngEncode" -> sha(for (ch <- 1 to 4)
        yield Multimodal.pngEncode(7, 6, ch, raster(7 * 6 * ch, 256, ch), _ % 5)),
      "pngEncodePalette" -> sha(Seq(
        Multimodal.pngEncodePalette(5, 4, pal, raster(20, 16, 1), _ % 5))),
      "pngEncodeRaster" -> sha(for {
        (depth, ch) <- Seq((1, 1), (2, 1), (4, 1), (8, 3), (16, 2))
        il <- 0 to 1
        n = 9 * 7 * (if (depth < 8) 1 else ch * depth / 8)
      } yield Multimodal.pngEncodeRaster(9, 7, ch, depth, il,
        raster(n, if (depth < 8) 1 << depth else 256, depth), r => (r + il) % 5)),
      "pngEncodePaletteRaster" -> sha(for (depth <- Seq(1, 2, 4, 8); il <- 0 to 1)
        yield Multimodal.pngEncodePaletteRaster(9, 7, depth, il, pal,
          raster(63, math.min(16, 1 << depth), depth), r => (r + 2) % 5)),
      "pngContainer" -> sha(Seq(
        Multimodal.pngContainer(6, 4, 16, 0, 0, Array[Byte](1, 2, 3)),
        Multimodal.pngContainer(6, 4, 8, 2, 1, Array.emptyByteArray))))
    val want = Map(
      "pngEncode" ->
        "ae7db3f67b863ec21260e77fd31fd3c097a092e4d9999de5ef504dc9108f20b7",
      "pngEncodePalette" ->
        "99fc74dcd02af348c9a33ade913d1593d049cf79ce2ad741c45e9e359b384548",
      "pngEncodeRaster" ->
        "039aa3d2e7ab29dc777ae369bfbbd3d8a48e30f91453984eff15114ddc47fb68",
      "pngEncodePaletteRaster" ->
        "7593cd1632570dfad29ebb3662c541a33ab6b1276b2aa8c5796ffeda4c534c9d",
      "pngContainer" ->
        "cd0ffa5a42ff7c76c9cffccdedccd41626caf9ab24dea99df8981ef83936c50b")
    assert(got == want)
  }

  test("pngCodecTag fails loud on short or non-PNG payloads") {
    intercept[IllegalArgumentException] { Multimodal.pngCodecTag(Array[Byte](1, 2, 3)) }
    intercept[IllegalArgumentException] {
      Multimodal.pngCodecTag(Array.fill[Byte](40)('x'.toByte))
    }
  }

  test("JPEG pixel decode: SOF-forged raster bomb rejected before ImageIO allocation") {
    // A ~60-byte container whose SOF claims 46000x46000 (12.9 GB at 3
    // bands) walks the metadata path fine, but BOTH pixel decoders must
    // refuse it at the raster-size guard, before ImageIO sizes a buffer
    // from the attacker-controlled dims. 4·w·h > 2^28 fires regardless of
    // the stream's real component count.
    val bomb = Seq((1L, "tiny")).toDF("doc_id", "text")
      .select(Multimodal.jpegWrap(lit(46000), lit(46000),
        encode(col("text"), "UTF-8")).as("payload"))
      .head().getAs[Array[Byte]](0)
    assert(bomb.length < 200, "the attack payload is small by construction")
    assert(Multimodal.decodeJpeg(bomb) == Some((46000L, 46000L)),
      "metadata path still reports the claimed dims")
    assert(Multimodal.decodeJpegGrayPixels(bomb).isEmpty)
    assert(Multimodal.decodeJpegRgbPixels(bomb).isEmpty)
    // Boundary sanity: a legitimate small image still decodes — the guard
    // does not reject the sizes real gates use.
    val ok = Multimodal.jpegEncodeRgb(16, 16, Array.fill(768)(90.toByte), 0.9f)
    assert(Multimodal.decodeJpegRgbPixels(ok).nonEmpty)
  }

  test("JPEG RGB pixels: bounded 3-band lossy round trip; band order pinned; strict rejects") {
    // The multimodal_jpeg_rgb gate's gradient family: channels separated by
    // >= 36 counts so a band-order bug cannot hide inside the lossy bound.
    for (id <- Seq(0L, 7L, 12L, 31L)) {
      val w = (4 + id % 13).toInt
      val h = (3 + id % 11).toInt
      val px = Array.tabulate(3 * w * h) { k =>
        val p = k / 3; val x = p % w; val y = p / w
        (k % 3 match {
          case 0 => 20 + (id % 16) * 2 + 2 * x + 2 * y
          case 1 => 140 + (id % 8) + x + y
          case _ => 200 + (id % 8) + x + 2 * y
        }).toByte
      }
      val enc = Multimodal.jpegEncodeRgb(w, h, px, 0.9f)
      assert(Multimodal.decodeJpeg(enc) == Some((w.toLong, h.toLong)),
        "strict marker walk must accept the JDK color encode")
      val (dw, dh, dec) = Multimodal.decodeJpegRgbPixels(enc).get
      assert(dw == w && dh == h && dec.length == px.length)
      val maxErr = dec.zip(px).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff))
      }.max
      assert(maxErr <= 12, s"color round-trip error $maxErr exceeds the gate bound")
      // Band order REALLY is R,G,B in the decoded raster: the planted
      // channels are disjoint ranges, so ordering is checkable per pixel.
      assert((dec(0) & 0xff) < 120 && (dec(1) & 0xff) > 120 &&
        (dec(1) & 0xff) < 190 && (dec(2) & 0xff) > 190)
    }
    // A GRAYSCALE stream is not a 3-band stream: the RGB path must reject
    // it (and vice versa the gray path rejects color), not silently adapt.
    val gray = Multimodal.jpegEncodeGray(8, 8, Array.fill(64)(50.toByte), 0.9f)
    assert(Multimodal.decodeJpegRgbPixels(gray).isEmpty)
    val colorEnc = Multimodal.jpegEncodeRgb(8, 8, Array.fill(192)(50.toByte), 0.9f)
    assert(Multimodal.decodeJpegGrayPixels(colorEnc).isEmpty)
    assert(Multimodal.decodeJpegRgbPixels(colorEnc.dropRight(1)).isEmpty)
    assert(Multimodal.decodeJpegRgbPixels("plain text".getBytes("UTF-8")).isEmpty)
  }

  test("JPEG gray pixels: bounded lossy round trip; strict rejects; ImageIO parity pins the PNG codec") {
    // Gradient fixtures at the gate's formula: structure exact, max error
    // far under the gate's <=8 bound (measured 2 at quality 0.9).
    for (id <- Seq(0L, 5L, 12L, 31L)) {
      val w = (4 + id % 13).toInt
      val h = (3 + id % 11).toInt
      val px = Array.tabulate(w * h) { k =>
        ((16 + (id % 32) * 2 + 4 * (k % w) + 5 * (k / w)) & 0xff).toByte
      }
      val enc = Multimodal.jpegEncodeGray(w, h, px, 0.9f)
      assert(Multimodal.decodeJpeg(enc) == Some((w.toLong, h.toLong)),
        "strict marker walk must accept the JDK encode")
      val (dw, dh, dec) = Multimodal.decodeJpegGrayPixels(enc).get
      assert(dw == w && dh == h && dec.length == px.length)
      val maxErr = dec.zip(px).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff))
      }.max
      assert(maxErr <= 8, s"lossy round-trip error $maxErr exceeds the gate bound")
    }
    // Strictness inherited from the walk: truncation and text reject before
    // the codec ever runs; a jpegWrap container (valid markers, raw
    // non-entropy body) must fail the codec stage, not return junk.
    val enc0 = Multimodal.jpegEncodeGray(8, 8, Array.fill(64)(50.toByte), 0.9f)
    assert(Multimodal.decodeJpegGrayPixels(enc0.dropRight(1)).isEmpty)
    assert(Multimodal.decodeJpegGrayPixels("plain text".getBytes("UTF-8")).isEmpty)
    val framed = Seq((1L, "xyz")).toDF("doc_id", "text")
      .select(Multimodal.jpegWrap(lit(6), lit(4), encode(col("text"), "UTF-8")))
      .head().getAs[Array[Byte]](0)
    assert(Multimodal.decodeJpeg(framed).nonEmpty, "metadata path still accepts it")
    assert(Multimodal.decodeJpegGrayPixels(framed).isEmpty, "pixel path must reject")
    // ImageIO PARITY: two independent PNG implementations must agree
    // byte-for-byte (PNG is lossless). Our pngEncode read by the JDK
    // decoder, and a JDK-written PNG read by our decodePngPixels — any
    // filter/stride/CRC defect in the hand-written codec breaks one
    // direction even if encode/decode self-roundtrip cancels it.
    val (w, h) = (9, 5)
    for (ch <- Seq(1, 3)) {
      val px = Array.tabulate(w * h * ch)(k => ((k * 53 + 11) % 256).toByte)
      val enc = Multimodal.pngEncode(w, h, ch, px, row => row % 5)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
      assert(img != null && img.getWidth == w && img.getHeight == h &&
        img.getRaster.getNumBands == ch, s"JDK must read our PNG (ch=$ch)")
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        assert(img.getRaster.getSample(x, y, c) == (px((y * w + x) * ch + c) & 0xff),
          s"sample ($x,$y,$c) ch=$ch")
    }
    val bgr = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      bgr.getRaster.setSample(x, y, c, (x * 41 + y * 17 + c * 71) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bgr, "png", bos))
    val ours = Multimodal.decodePngPixels(bos.toByteArray)
    assert(ours.nonEmpty, "our decoder must accept the JDK-written PNG")
    assert(ours.get.width == w && ours.get.height == h && ours.get.channels == 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert((ours.get.pixels((y * w + x) * 3 + c) & 0xff) ==
        (x * 41 + y * 17 + c * 71) % 256, s"JDK->ours sample ($x,$y,$c)")
  }

  test("WAV sample decode: wavEncode round-trips exact 16-bit values; 8-bit bias; strict rejects") {
    val ss = Array(-32768, -1, 0, 1, 32767, 1234)
    val enc = Multimodal.wavEncode(2, 44100L, ss)
    assert(Multimodal.decodeWav(enc) == Some((3L, 44100L)), "3 stereo frames")
    val (ch, rate, got) = Multimodal.decodeWavSamples(enc).get
    assert(ch == 2 && rate == 44100L && got.toSeq == ss.toSeq)
    // 8-bit PCM: unsigned stored, biased-128 signed out. Hand-build: 2
    // frames mono, bytes 0,128,255 -> -128, 0, 127... build via bytes.
    val b8 = {
      val data = Array[Byte](0, 128.toByte, 255.toByte, 64)
      val out = Multimodal.wavEncode(1, 8000L, Array(0, 0)) // 16-bit shell, 4 data bytes
      // rewrite as 8-bit: patch bits/blockAlign/byteRate and data
      out(34) = 8; out(32) = 1 // bits, blockAlign (1 ch × 1 byte)
      out(28) = (8000 & 0xff).toByte; out(29) = ((8000 >> 8) & 0xff).toByte
      out(30) = 0; out(31) = 0 // byte rate 8000·1
      data.indices.foreach(i => out(44 + i) = data(i))
      out
    }
    assert(Multimodal.decodeWavSamples(b8).get._3.toSeq == Seq(-128, 0, 127, -64))
    // Strictness: a truncated payload fails the data-size equation.
    assert(Multimodal.decodeWavSamples(enc.dropRight(1)).isEmpty)
    intercept[IllegalArgumentException] { // odd sample count for stereo
      Multimodal.wavEncode(2, 8000L, Array(1, 2, 3))
    }
    // Stats op: exact integer sum / max-abs / energy.
    val st = Multimodal.wavSampleStats(spark,
      Seq((7L, enc)).toDF("doc_id", "payload")).collect().head
    assert(st.n_samples == 6L && st.sum_samples == ss.map(_.toLong).sum)
    assert(st.max_abs == 32768L && st.sum_sq == ss.map(v => v.toLong * v).sum)
  }

  test("JPEG decode parses jpegWrap containers, walks markers, rejects corruption") {
    val wrapped = Seq((1L, "entropy coded text"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Multimodal.jpegWrap(lit(1920), lit(1080), encode(col("text"), "UTF-8")).as("payload"))
    val feats = Multimodal.extractFeatures(spark, wrapped).collect().sortBy(_.doc_id)
    assert(feats.forall(f => f.width == 1920L && f.height == 1080L && f.codec == "jpeg"))
    assert(feats(0).n_bytes == 18L + 45L && feats(1).n_bytes == 45L)
    val good = wrapped.filter(col("doc_id") === 1L)
      .select(col("payload")).head().getAs[Array[Byte]](0)
    assert(Multimodal.decodeJpeg(good) == Some((1920L, 1080L)))
    def mutate(i: Int, b: Byte): Array[Byte] = {
      val c = good.clone(); c(i) = b; c
    }
    // Missing EOI tail.
    assert(Multimodal.decodeJpeg(good.dropRight(1)) == None)
    // Break the APP0 length so the walk lands off a marker boundary.
    assert(Multimodal.decodeJpeg(mutate(5, 9)) == None)
    // Degrade SOF0's precision byte: baseline must be 8-bit.
    assert(Multimodal.decodeJpeg(mutate(24, 12)) == None)
    // No SOF before SOS (overwrite SOF0 marker into a COM marker).
    assert(Multimodal.decodeJpeg(mutate(21, 0xfe.toByte)) == None)
    // Not starting with SOI.
    assert(Multimodal.decodeJpeg(mutate(1, 0xd7.toByte)) == None)
  }

  test("PPM decode parses ppmWrap containers and rejects non-PPMs") {
    // Round-trip: ppmWrap's ASCII header + exact-length raster parse back.
    val wrapped = Seq((1L, "some pixel bytes"), (2L, "abc"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Multimodal.ppmWrap(lit(12), lit(5), encode(col("text"), "UTF-8")).as("payload"))
    val feats = Multimodal.extractFeatures(spark, wrapped).collect().sortBy(_.doc_id)
    assert(feats.forall(f => f.width == 12L && f.height == 5L && f.codec == "ppm"))
    // header "P6\n12 5\n255\n" = 12 bytes, raster = 12·5·3 = 180 exactly,
    // whether the text was shorter (padded) or not.
    assert(feats.forall(_.n_bytes == 12L + 180L))
    // Comments between header tokens are spec'd and must parse.
    val commented = "P6\n# a comment\n2 1\n255\n".getBytes ++ Array.fill[Byte](6)(7)
    assert(Multimodal.decodePpm(commented) == Some((2L, 1L)))
    // Rejections: wrong magic, truncated raster (strict length check —
    // text that merely starts with "P6" must never alias as an image),
    // 2-byte-sample maxval, and a missing dimension.
    assert(Multimodal.decodePpm("P5\n2 1\n255\n".getBytes ++ Array.fill[Byte](6)(7)) == None)
    assert(Multimodal.decodePpm("P6\n2 1\n255\n".getBytes ++ Array.fill[Byte](5)(7)) == None)
    assert(Multimodal.decodePpm("P6\n2 1\n65535\n".getBytes ++ Array.fill[Byte](12)(7)) == None)
    assert(Multimodal.decodePpm("P6\n2\n255\n".getBytes ++ Array.fill[Byte](6)(7)) == None)
  }

  test("WAV decode parses wavWrap containers and rejects near-WAVs") {
    // Round-trip: 120 frames, stereo, 8050 Hz → (frames, rate) features.
    val wrapped = Seq((1L, "pcm sample bytes"), (2L, "x"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Multimodal.wavWrap(lit(120), lit(2), lit(8050), encode(col("text"), "UTF-8"))
          .as("payload"))
    val feats = Multimodal.extractFeatures(spark, wrapped).collect().sortBy(_.doc_id)
    assert(feats.forall(f => f.width == 120L && f.height == 8050L && f.codec == "wav"))
    // 44-byte canonical header + 120 frames · 2 ch · 2 bytes, padded or not.
    assert(feats.forall(_.n_bytes == 44L + 480L))
    val bytes = Seq(Tuple1(1)).toDF("x")
      .select(Multimodal.wavWrap(lit(3), lit(1), lit(8000), lit("abcdef".getBytes)).as("p"))
      .head().getAs[Array[Byte]](0)
    assert(Multimodal.decodeWav(bytes) == Some((3L, 8000L)))
    // Rejections, each breaking ONE size/field equation: riff size off by
    // one, truncated data, non-PCM format tag, block align ≠ ch·bits/8 —
    // text starting with "RIFF" must never alias as audio.
    def mut(i: Int, v: Byte) = { val b = bytes.clone(); b(i) = v; b }
    assert(Multimodal.decodeWav(mut(4, (bytes(4) + 1).toByte)) == None)
    assert(Multimodal.decodeWav(bytes.dropRight(1)) == None)
    assert(Multimodal.decodeWav(mut(20, 3)) == None)
    assert(Multimodal.decodeWav(mut(32, 5)) == None)
    assert(Multimodal.decodeWav("RIFFabcdWAVEfmt and then some text padding here".getBytes) == None)
  }

  test("BMP decode accepts a zero stored-size field when the header is otherwise valid") {
    // Many real writers leave the u32 size field 0; the decoder accepts it
    // because planes==1 plus four NUL bytes still can't alias as text.
    val ok = Multimodal.bmpWrap(lit(17), lit(9), lit("pix".getBytes))
    val bytes = Seq(Tuple1(1)).toDF("x").select(ok.as("p")).head().getAs[Array[Byte]](0)
    val zeroed = bytes.clone()
    zeroed(2) = 0; zeroed(3) = 0; zeroed(4) = 0; zeroed(5) = 0
    assert(Multimodal.decodeBmp(zeroed) == Some((17L, 9L)))
    // But a zero size does NOT relax the planes check...
    val badPlanes = zeroed.clone(); badPlanes(26) = 3
    assert(Multimodal.decodeBmp(badPlanes) == None)
    // ...and a nonzero size must still equal the payload length exactly.
    assert(Multimodal.decodeBmp(bytes.dropRight(1)) == None)
  }

  test("BMP decode parses bmpWrap headers and rejects non-BMPs") {
    // Round-trip: bmpWrap's little-endian header fields parse back out.
    val wrapped = Seq((1L, "pixels go here!!"), (2L, "abc"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Multimodal.bmpWrap(lit(640), lit(480), encode(col("text"), "UTF-8")).as("payload"))
    val feats = Multimodal.extractFeatures(spark, wrapped).collect().sortBy(_.doc_id)
    assert(feats.forall(f => f.width == 640L && f.height == 480L))
    assert(feats(0).n_bytes == 54L + 16L && feats(1).n_bytes == 54L + 3L)
    // Negative height = top-down row order; magnitude reported.
    val td = Multimodal.bmpWrap(lit(32), lit(-8), lit("d".getBytes))
    val tdBytes = Seq(Tuple1(1)).toDF("x").select(td.as("p")).head().getAs[Array[Byte]](0)
    assert(Multimodal.decodeBmp(tdBytes) == Some((32L, 8L)))
    // Rejections fall back to the stub: too short, wrong magic, and a
    // payload whose stored file size doesn't match its actual length
    // (text that merely STARTS with "BM" must never parse as an image).
    assert(Multimodal.decodeBmp("BM".getBytes) == None)
    assert(Multimodal.decodeBmp(Array.fill[Byte](60)(0x42)) == None)
    assert(Multimodal.decodeBmp(("BM" + "x" * 58).getBytes) == None)
    assert(Multimodal.decodeBmp(tdBytes.dropRight(1)) == None) // size field ≠ length
  }

  test("unigram-LM NLL bands: hand formula, unseen-token smoothing, tertiles") {
    // ref counts: a=3 b=2 c=1, tot=6, v=3; smoothed denom = 6 + 0.5*(3+1).
    val ref = Seq((0L, "a a b"), (1L, "b c"), (2L, "a")).toDF("doc_id", "text")
    def nllTok(cnt: Long): BigDecimal =
      BigDecimal(-math.log((cnt + 0.5) / (6.0 + 0.5 * 4.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // Unrounded mean, matching the op (rounding a bit-identical double was
    // the one step where engines could split — see the scaladoc).
    def nllDoc(cnts: Seq[Long]): Double =
      cnts.map(nllTok).sum.toDouble / cnts.size
    val out = Text.lmQualityBands(ref, ref).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .sortBy(_._1)
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (0L, 3L, nllDoc(Seq(3, 3, 2))), (1L, 2L, nllDoc(Seq(2, 1))),
      (2L, 1L, nllDoc(Seq(3)))))
    // Three distinct NLLs → exactly one doc per tertile band, in NLL order.
    assert(out.sortBy(_._3).map(_._4).toSeq == Seq("head", "middle", "tail"))
    // A token the reference never saw takes the alpha numerator (cnt=0).
    val unseen = Text.lmQualityBands(Seq((9L, "zz")).toDF("doc_id", "text"), ref)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(unseen.toSeq == Seq((9L, nllDoc(Seq(0)))))
  }

  test("PQ/ADC: lossless codebook reproduces exact squared-L2 top-k") {
    // k = n with per-block-distinct values: seeding hands every vector its
    // own code and the Lloyd means are singleton averages, so quantization
    // is lossless and ADC must equal the exact distance |q-v|^2 — here
    // 2i^2 + 200i^2 = 202i^2 against query vid=0.
    val vecs = (0 until 6).map { i =>
      (i.toLong, Array(i.toFloat, i.toFloat, 10f * i, 10f * i))
    }.toDF("vec_id", "embedding")
    val out = Similarity.pqAdcTopK(vecs, m = 2, subDim = 2, k = 6,
        queryId = 0L, topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((1L, 202.0), (2L, 808.0), (3L, 1818.0)))
  }

  test("PQ/ADC: lossy codebook still ranks the query's own cluster first") {
    // Two tight clusters around (0,0,0,0) and (100,100,100,100) with k=2
    // codes per block: every vector collapses to its cluster centroid, so
    // ADC ranks all same-cluster vectors (adc = |q - near centroid|^2,
    // identical and small) ahead of the far cluster.
    val vecs = Seq(
      0L -> Array(0f, 0f, 0f, 0f), 1L -> Array(1f, 0f, 0f, 1f),
      2L -> Array(0f, 1f, 1f, 0f), 3L -> Array(100f, 99f, 100f, 101f),
      4L -> Array(101f, 100f, 99f, 100f), 5L -> Array(99f, 101f, 101f, 99f)
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqAdcTopK(vecs, m = 2, subDim = 2, k = 2,
        queryId = 0L, topK = 5)
      .collect().map(_.getLong(0))
    assert(out.take(2).toSet == Set(1L, 2L) && out.drop(2).toSet == Set(3L, 4L, 5L))
    intercept[IllegalArgumentException] {
      Similarity.pqAdcTopK(vecs, m = 0, subDim = 2, k = 2, queryId = 0L, topK = 5)
    }
  }

  test("PQ/ADC recall: lossless codebook scores recall 1.0; lossy quantization is measured below it") {
    // k = n: quantization is lossless (each vector its own code), so the
    // ADC top-k IS the exact squared-L2 top-k — recall must be exactly 1
    // for every query in the batch, and n_exact = k.
    val vecs = (0 until 8).map { i =>
      (i.toLong, Array(i.toFloat, 2f * i, 10f * i, i.toFloat + 1f))
    }.toDF("vec_id", "embedding")
    val perfect = Similarity.pqAdcRecall(vecs, queryIds = Seq(0L, 3L), k = 3,
        m = 2, subDim = 2, kCodes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(perfect.toSeq == Seq((0L, 3L, 3L, 1.0), (3L, 3L, 3L, 1.0)), perfect.toSeq)
    // kCodes = 2 over 8 spread vectors: collapse to 2 centroids per block
    // loses rank information — recall is a number in [0, 1], n_hit <= k,
    // and the frame stays one row per query.
    val lossy = Similarity.pqAdcRecall(vecs, queryIds = Seq(0L, 3L), k = 3,
        m = 2, subDim = 2, kCodes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(lossy.map(_._1).toSeq == Seq(0L, 3L))
    assert(lossy.forall { case (_, nHit, rec) =>
      nHit >= 0L && nHit <= 3L && math.abs(rec - nHit / 3.0) < 1e-3 }, lossy.toSeq)
  }

  test("IVF+PQ: one coarse cluster degrades to plain PQ/ADC") {
    val vecs = (0 until 6).map { i =>
      (i.toLong, Array(i.toFloat + 1f, i.toFloat, 10f * i, 10f * i + 1f))
    }.toDF("vec_id", "embedding")
    val plain = Similarity.pqAdcTopK(vecs, m = 2, subDim = 2, k = 6,
      queryId = 0L, topK = 4).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ivf = Similarity.ivfPqTopK(vecs, kClusters = 1, rounds = 2, nprobe = 1,
      m = 2, subDim = 2, kCodes = 6, queryId = 0L, topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == plain.toSeq && plain.nonEmpty)
  }

  test("IVF+PQ: nprobe=1 restricts ranking to the query's inverted list") {
    // Two tight cosine-separated clusters; hash order seeds one k-means
    // centroid in each (vids 0 and 5 lead the Knuth order). The far
    // cluster must not appear even though topK asks for 5.
    val vecs = Seq(
      0L -> Array(1f, 1f, 1f, 1f), 1L -> Array(2f, 1f, 1f, 2f),
      2L -> Array(1f, 2f, 2f, 1f), 3L -> Array(100f, -99f, 100f, -101f),
      4L -> Array(101f, -100f, 99f, -100f), 5L -> Array(99f, -101f, 101f, -99f)
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqTopK(vecs, kClusters = 2, rounds = 2, nprobe = 1,
      m = 2, subDim = 2, kCodes = 2, queryId = 0L, topK = 5)
      .collect().map(_.getLong(0))
    assert(out.toSet == Set(1L, 2L))
  }

  test("robustOutliers: rank-statistic median/MAD flag the planted extreme; constant group flags none") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("a", Some(4.0)), ("a", Some(100.0)), ("a", None),  // NULL excluded
      ("b", Some(7.0)), ("b", Some(7.0)), ("b", Some(7.0))
    ).toDF("k", "v")
    val out = Profile.robustOutliers(df, "k", "v", cutoff = 3.5)
      .orderBy(col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    // a: n=5 (NULL out), med = 3rd smallest = 3, devs sorted [0,1,1,2,97]
    //    → mad = 1; bound = 3.5·1.4826 ≈ 5.19 → only 97 flags.
    // b: med 7, mad 0 → every dev is 0, none exceed 0 strictly.
    assert(out.toSeq == Seq(("a", 5L, 3.0, 1.0, 1L), ("b", 3L, 7.0, 0.0, 0L)))
    val maxDev = Profile.robustOutliers(df, "k", "v").filter(col("k") === "a")
      .select(col("max_dev")).head().getDouble(0)
    assert(maxDev == 97.0)
  }

  test("concurrencySweep: netted boundaries give the peak, union length, and half-open touching") {
    val iv = Seq(
      // x: [0,10) [5,15) [10,20) — peak 2 (10 nets to zero), union [0,20).
      ("x", 0L, 10L), ("x", 5L, 15L), ("x", 10L, 20L),
      // x: zero-length interval counts in n_intervals, never in the sweep.
      ("x", 30L, 30L),
      // y: touching [100,110) [110,120) never overlap — peak 1, union 20.
      ("y", 100L, 110L), ("y", 110L, 120L)
    ).toDF("k", "s", "e")
    val out = Windowed.concurrencySweep(iv, "k", "s", "e")
      .orderBy(col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("x", 4L, 2L, 20L), ("y", 2L, 1L, 20L)))
  }

  test("concurrencySweep: zero-net timestamps mid-timeline and all-netted keys (r22 one-agg form)") {
    val iv = Seq(
      // z: [0,10) with a fully-netting boundary at 5 ([5,5) zero-length AND
      // an end+start pair at 5) splitting the busy segment — busy must stay
      // 10, peak 2 (inside [3,5) where [0,10) and [3,5) overlap).
      ("z", 0L, 10L), ("z", 3L, 5L), ("z", 5L, 7L), ("z", 5L, 5L),
      // w: EVERY timestamp nets to zero (two identical zero-length
      // intervals) — the key must still report (n, 0, 0).
      ("w", 8L, 8L), ("w", 8L, 8L)
    ).toDF("k", "s", "e")
    val out = Windowed.concurrencySweep(iv, "k", "s", "e")
      .orderBy(col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("w", 2L, 0L, 0L), ("z", 4L, 2L, 10L)))
  }

  test("winsorize clips into rank-statistic bounds, keeps NULLs NULL") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", Some(4.0)),
      ("a", Some(5.0)), ("a", Some(6.0)), ("a", Some(7.0)), ("a", Some(8.0)),
      ("a", Some(9.0)), ("a", Some(100.0)), ("a", None)
    ).toDF("k", "v")
    // n=10: lo = value at ceil(0.5)=1 -> 1.0, hi = at ceil(9.0)=9 -> 9.0.
    val out = Profile.winsorize(df, "k", "v", loQ = 0.05, hiQ = 0.90)
      .select(col("v"), col("v_w")).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(out.contains((Some(100.0), Some(9.0))))   // clipped to hi
    assert(out.contains((Some(5.0), Some(5.0))))     // in-band untouched
    assert(out.contains((None, None)))               // NULL stays NULL
  }

  test("concurrencySweepGlobal matches the keyed sweep's union on one timeline") {
    val iv = Seq(
      ("x", 0L, 10L), ("x", 5L, 15L), ("x", 10L, 20L), ("x", 30L, 30L),
      ("y", 100L, 110L), ("y", 110L, 120L)
    ).toDF("k", "s", "e")
    val out = Windowed.concurrencySweepGlobal(iv, "s", "e").head()
    // Union [0,20) ∪ [100,120) = 40; peak 2 inside [5,10).
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == (6L, 2L, 40L))
  }

  test("mixturePlanTemperature: sqrt weights, exact-decimal normalization, caps") {
    val df = Seq(
      (1L, "A", 60L), (2L, "A", 40L),   // A: 100 → weight 10
      (3L, "B", 900L)                   // B: 900 → weight 30
    ).toDF("id", "src", "n")
    val rows = Sampling.mixturePlanTemperature(df, "src", "n", budget = 40L)
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    // shares 10/40 = 0.25 and 30/40 = 0.75 (binary-exact), desired 10 / 30,
    // fractions 10/100 and 30/900, nothing capped.
    assert(rows.toSeq == Seq(
      ("A", 100L, 0.25, 10L, 0.1, 10L),
      ("B", 900L, 0.75, 30L, 30.0 / 900.0, 30L)))
    // A tiny source with a huge budget caps at fraction 1.
    val capped = Sampling.mixturePlanTemperature(df, "src", "n", budget = 100000L)
      .filter(col("source") === "A").head()
    assert(capped.getDouble(4) == 1.0 &&
      capped.getLong(5) == 100L)
  }

  test("containmentPairs catches the quotation pair jaccard misses") {
    val corpus = Seq(
      (0L, "a b c d e f g h"),
      // 1 embeds 0's full token stream in a doc twice the length: every
      // shingle of 0 appears in 1 (containment 1.0) at jaccard 6/16 < 0.5.
      (1L, "a b c d e f g h x y z w q r s t u v"),
      (2L, "totally unrelated words about engines here now")
    ).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(corpus, n = 3, threshold = 0.5).collect().isEmpty)
    val out = Dedup.containmentPairs(corpus, n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq((0L, 1L, 1.0, 0.375)))
  }

  test("quantilesFromBuckets: cumulative-rank lower bounds from a hand-built count frame") {
    // g: buckets 0×5, 2×4, 7×1 (n = 10): p50 rank 5 → bucket 0,
    // p90 rank 9 → bucket 2, p100 rank 10 → bucket 7.
    val counts = Seq(("g", 0L, 5L), ("g", 2L, 4L), ("g", 7L, 1L))
      .toDF("k", "b", "c")
    val out = Sketches.quantilesFromBuckets(counts, Seq("k"), "b", "c",
      Seq(0.5, 0.9, 1.0), b => b * 10L).head()
    assert((out.getLong(1), out.getLong(2), out.getLong(3), out.getLong(4)) ==
      (10L, 0L, 20L, 70L))
  }
}
