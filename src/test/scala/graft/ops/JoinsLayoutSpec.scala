package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Joins (bloom / salted), Funnel, and Layout specs: each exact-semantics
  * operator is compared against its naive Spark equivalent on fixtures built
  * to exercise the failure modes (bloom false positives, hot join keys,
  * duplicate rows, funnel users who regress, z-bucket coordinate bounds).
  */
class JoinsLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val large = (0 until 400)
    .map(i => (i.toLong, i % 40, s"row$i")).toDF("k", "hot", "payload")
  private lazy val build = (0 until 40).filter(_ % 3 == 0)
    .map(i => (i.toLong * 7, s"b$i")).toDF("bk", "bname")

  test("bloomSemiJoin equals the plain left-semi join") {
    val expected = large.join(build, large("k") === build("bk"), "left_semi")
      .collect().map(_.getLong(0)).sorted
    val got = Joins.bloomSemiJoin(large, build, "k", "bk")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == expected.toSeq)
    assert(got.nonEmpty)
  }

  test("bloomSemiJoin stays exact when the bitmap saturates (64 bits, 1 hash)") {
    // 14 keys hashed into 64 bits → heavy false-positive rate; the exact
    // semi-join behind the bitmap must absorb every false positive.
    val expected = large.join(build, large("k") === build("bk"), "left_semi")
      .collect().map(_.getLong(0)).sorted
    val got = Joins.bloomSemiJoin(large, build, "k", "bk", numBits = 64, numHashes = 1)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == expected.toSeq)
  }

  test("bloomSemiJoin validates its parameters") {
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(large, build, "k", "bk", numBits = 100)
    }
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(large, build, "k", "bk", numHashes = 0)
    }
    // xxhash64 hashes INT 5 and BIGINT 5 differently while the exact join
    // coerces — mismatched key types would silently prune true matches.
    val intProbe = (0 until 10).map(i => (i, s"p$i")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(intProbe, build, "k", "bk")
    }
  }

  test("clusterByZ refuses a pre-existing __z column instead of clobbering it") {
    intercept[IllegalArgumentException] {
      Layout.clusterByZ(Seq((1L, 2L, 3L)).toDF("x", "y", "__z"), "x", "y", 4, 2)
    }
  }

  test("saltedRepJoin equals the plain inner join, duplicates and all") {
    // Skewed fixture: key 0 holds half the rows, plus exact-duplicate rows
    // (same key AND payload) and a key with two small-side matches.
    val l = (Seq.fill(50)((0L, "dup")) ++ (1 to 50).map(i => (i.toLong % 5, s"p$i")))
      .toDF("k", "payload")
    val r = Seq((0L, "a"), (1L, "b"), (1L, "b2"), (3L, "c")).toDF("rk", "rname")
    val expected = l.join(r, l("k") === r("rk"))
      .collect().map(_.toSeq.mkString("|")).sorted
    val got = Joins.saltedRepJoin(l, r, "k", "rk", replicate = 4)
      .collect().map(_.toSeq.mkString("|")).sorted
    assert(got.toSeq == expected.toSeq)
    assert(!Joins.saltedRepJoin(l, r, "k", "rk", 4).columns.contains("__salt"))
  }

  test("saltedRepJoin with replicate = 1 degenerates to the plain join") {
    val l = (1 to 20).map(i => (i.toLong % 3, i)).toDF("k", "v")
    val r = Seq((0L, "x"), (2L, "y")).toDF("rk", "rname")
    val expected = l.join(r, l("k") === r("rk")).count()
    assert(Joins.saltedRepJoin(l, r, "k", "rk", 1).count() == expected)
  }

  // Funnel fixture (times in ms): within = 10.
  //  u1: a@0  b@5  c@12  — reaches a, b; c misses b+10 by 12>15? no: 12<=15 → reaches c
  //  u2: a@0  b@20       — b outside window → stops at a
  //  u3: b@0  a@5  b@9 c@11 — a@5 arrival, b@9 in (5,15] → c@11 in (9,19] → full
  //  u4: a@0  b@8  c@30  — c outside (8,18] → stops at b
  //  u5: a@0  b@1  c@15 — FIRST-TOUCH pin: c in (1,11]? 15 > 11 → stops at b,
  //      even though the hop a→c alone would fit a wider window.
  private def funnelEvents = Seq(
    (1L, "a", 0L), (1L, "b", 5L), (1L, "c", 12L),
    (2L, "a", 0L), (2L, "b", 20L),
    (3L, "b", 0L), (3L, "a", 5L), (3L, "b", 9L), (3L, "c", 11L),
    (4L, "a", 0L), (4L, "b", 8L), (4L, "c", 30L),
    (5L, "a", 0L), (5L, "b", 1L), (5L, "c", 15L)
  ).toDF("user_id", "event_type", "time")

  test("bucketedWrite: equal-bucket join plans NO exchange, answers match the plain join") {
    val dir = tmpDir("graft-bkt-spec-")
    val facts = (0 until 300).map(i => (i.toLong % 50, s"f$i")).toDF("fk", "fval")
    val dims = (0 until 50).map(i => (i.toLong, s"d$i")).toDF("dk", "dval")
    Layout.bucketedWrite(facts, "bkt_spec_facts", s"$dir/f", "fk", nBuckets = 4)
    Layout.bucketedWrite(dims, "bkt_spec_dims", s"$dir/d", "dk", nBuckets = 4)
    val joined = spark.table("bkt_spec_facts")
      .join(spark.table("bkt_spec_dims"), col("fk") === col("dk"))
    // Both scans start hash-partitioned by bucket: the sort-merge join must
    // not insert a shuffle on either side. (autoBroadcastJoinThreshold could
    // mask the claim by broadcasting the small fixture — disable it here.)
    val plan = withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      joined.queryExecution.executedPlan.toString
    }
    assert(!plan.contains("Exchange"), plan)
    val expected = facts.join(dims, col("fk") === col("dk"))
      .select(col("fk"), col("fval"), col("dval"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val got = joined.select(col("fk"), col("fval"), col("dval"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == expected && got.size == 300)
    // Bucketing also prunes POINT lookups: an equality predicate on the
    // bucket key reads 1 of the 4 buckets, not the table. (autoBucketedScan
    // turns bucketed reading off for plans that don't exploit the
    // partitioning, which also forfeits pruning — disable it to assert the
    // pruned shape.)
    val point = withSqlConf(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      spark.table("bkt_spec_facts").filter(col("fk") === 7L)
        .queryExecution.executedPlan.toString
    }
    assert(point.contains("SelectedBucketsCount: 1 out of 4"), point.take(1500))
  }

  test("rangeJoin equals the naive theta join: negatives, boundaries, inverted intervals") {
    val pts = Seq((-7L, "a"), (-6L, "a"), (0L, "a"), (5L, "b"), (10L, "b"),
      (23L, "c"), (24L, "c")).toDF("p", "k")
    // [-7,0] hits both boundary points; [5,23] spans multiple width-4 cells;
    // [30,20] is inverted and must match nothing (like the theta join) —
    // as must the astronomically inverted one, WITHOUT materializing its
    // quadrillion descending cells (the empty-cells branch).
    val ivs = Seq((-7L, 0L, "a"), (1L, 9L, "b"), (5L, 23L, "b"), (30L, 20L, "c"),
      (900719925474099L, -900719925474099L, "c"))
      .toDF("lo", "hi", "k")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(r.fieldIndex("p")), r.getString(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("lo")), r.getLong(r.fieldIndex("hi")))).sorted.toSeq
    val got = rows(Joins.rangeJoin(pts, ivs, "p", "lo", "hi", bucketWidth = 4, keys = Seq("k")))
    val naive = rows(pts.join(ivs, pts("k") === ivs("k") &&
        pts("p") >= ivs("lo") && pts("p") <= ivs("hi"))
      .select(pts("p"), pts("k"), ivs("lo"), ivs("hi")))
    assert(got == naive && got.nonEmpty)
    // Keyless containment: pure interval membership across all keys.
    val gotAll = Joins.rangeJoin(pts.drop("k"), ivs.drop("k"), "p", "lo", "hi", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val naiveAll = pts.join(ivs, pts("p") >= ivs("lo") && pts("p") <= ivs("hi"))
      .select(pts("p"), ivs("lo"), ivs("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(gotAll == naiveAll)
    // Runaway replication fails loud in the plan, naming the knob.
    val wide = Seq((0L, 1000000L, "a")).toDF("lo", "hi", "k")
    val err = intercept[Exception] {
      Joins.rangeJoin(pts, wide, "p", "lo", "hi", bucketWidth = 1,
        keys = Seq("k"), maxBucketsPerInterval = 16).collect()
    }
    assert(err.getMessage.contains("rangeJoin") ||
      Option(err.getCause).exists(_.getMessage.contains("rangeJoin")))
  }

  test("funnel steps: first-touch chain, non-increasing reach") {
    val out = Funnel.steps(funnelEvents, Seq("a", "b", "c"), withinMs = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, "a", 5L), (1L, "b", 4L), (2L, "c", 2L)))
  }

  test("stepsOneScan equals the join-chain funnel on the pinned fixture") {
    val out = Funnel.stepsOneScan(funnelEvents, Seq("a", "b", "c"), withinMs = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, "a", 5L), (1L, "b", 4L), (2L, "c", 2L)))
  }

  test("stepsOneScan emits zero rows for unreached steps, like steps") {
    val want = Funnel.steps(funnelEvents, Seq("a", "b", "zz"), withinMs = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val got = Funnel.stepsOneScan(funnelEvents, Seq("a", "b", "zz"), withinMs = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(want.last == (2L, "zz", 0L))
    assert(got == want)
  }

  test("stepsOneScan reads the event files once; the join chain once per step") {
    val dir = tmpDir("graft-funnel")
    funnelEvents.write.parquet(s"$dir/events")
    val ev = spark.read.parquet(s"$dir/events")
    def fileScans(df: org.apache.spark.sql.DataFrame): Int = {
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      root.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.size
    }
    assert(fileScans(Funnel.stepsOneScan(ev, Seq("a", "b", "c"), 10L)) == 1)
    // The join chain plans one type-filtered scan per step per PREFIX: the
    // per-step count union re-executes each arrival chain, so 3 steps plan
    // 1+2+3 = 6 scans (exchange reuse may dedupe some at runtime). This is
    // exactly the re-read the one-scan form removes.
    assert(fileScans(Funnel.steps(ev, Seq("a", "b", "c"), 10L)) == 6)
  }

  test("funnel conversion matches a hand count") {
    // Within 10 of FIRST a: u1 (c@12 no, but conversion is a→c? No —
    // conversion() is two-step from→to): purchase='c' within 10 of first a:
    // u1 c@12 → no; u3 c@11 in (5,15] → yes; u4 c@30 no; u5 c@15 no; u2 none.
    val out = Funnel.conversion(funnelEvents, "a", "c", withinMs = 10L)
      .collect().head
    assert(out.getLong(0) == 5L && out.getLong(1) == 1L)
    assert(out.getDouble(2) == 0.2)
  }

  test("zvalue interleaves bits (known small cases + scala reference)") {
    def zRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val cases = Seq((1L, 0L), (0L, 1L), (3L, 3L), (5L, 9L), (1023L, 0L), (700L, 123L))
    val df = cases.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zvalue(col("x"), col("y"), 10).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == zRef(r.getLong(0), r.getLong(1), 10),
        s"zvalue mismatch at (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("z-buckets bound both coordinates: span <= 2^j - 1 inside a z >> 2j bucket") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(2000)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("x", "y")
    val j = 6
    val viol = pts
      .withColumn("zb", shiftrightunsigned(Layout.zvalue(col("x"), col("y"), 10), 2 * j))
      .groupBy("zb")
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .filter(col("sx") > (1 << j) - 1 || col("sy") > (1 << j) - 1)
      .count()
    assert(viol == 0)
  }

  test("clusterByZ yields non-overlapping per-partition z-ranges") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(1000)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("x", "y")
    val parts = Layout.clusterByZ(pts, "x", "y", bits = 8, numPartitions = 4)
      .select(spark_partition_id().as("pid"),
        Layout.zvalue(col("x"), col("y"), 8).as("z"))
      .groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    parts.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }
}
