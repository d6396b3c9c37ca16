package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact must be self-adjudicating: a query that throws during
  * a rep must surface as an error marker in the JSON, never as a wall time
  * (a crash completes fast — masked, it would read as a GOOD number), and
  * every raw rep time must be present so a one-rep host stall is
  * distinguishable from a genuine plan regression.
  */
class BenchSpec extends AnyFunSuite {

  test("timeReps records err for a throwing rep, timings for clean reps") {
    var n = 0
    val raws = Bench.timeReps(() => {
      n += 1
      if (n == 2) sys.error("boom")
    }, 3)
    assert(raws.length == 3)
    assert(raws(0).isRight && raws(2).isRight)
    assert(raws(1) == Left("boom"))
  }

  test("renderJson: errored query reports \"err\" and is excluded from value") {
    val results = Seq(
      "good" -> Seq(Right(0.5), Right(0.3), Right(0.4)).asInstanceOf[Seq[Either[String, Double]]],
      "broken" -> Seq(Right(0.1), Left("kaboom: \"quoted\"\npath"), Right(0.1)))
    val json = Bench.renderJson(results, "/tmp/sf", 3, Seq((-1, 0.12), (1, 0.13)))
    // the broken query never contributes a number anywhere
    assert(json.contains("\"broken\":\"err\""))
    assert(json.contains("\"good\":0.400"))
    assert(json.contains("\"value\":0.400")) // only the clean query's median
    assert(json.contains("\"errored\":1"))
    assert(json.contains("\"kaboom:"))
    // all raw reps present, errored rep marked
    assert(json.contains("\"good\":[0.500,0.300,0.400]"))
    assert(json.contains("\"broken\":[0.100,\"err\",0.100]"))
    // message with quote/newline stays valid JSON (escaped)
    assert(!json.split("\\\\n").exists(_ == "path")) // no raw newline
    assert(json.contains("\\\"quoted\\\""))
  }

  test("renderJson: all-clean run has empty errors and full total") {
    val results = Seq(
      "a" -> Seq[Either[String, Double]](Right(1.0)),
      "b" -> Seq[Either[String, Double]](Right(2.0)))
    val json = Bench.renderJson(results, "/tmp/sf", 1, Seq((-1, 0.1)))
    assert(json.contains("\"value\":3.000"))
    assert(json.contains("\"errors\":{}"))
    assert(json.contains("\"errored\":0"))
    assert(json.contains("\"cpu_calib_sec\":[0.100]"))
    assert(json.contains("\"calib_at\":[-1]"))
  }

  test("needsRetry fires on the contention signature only") {
    def r(ts: Double*): Seq[Either[String, Double]] = ts.map(Right(_))
    // stall window: median 3.0 vs min 0.4 — >1.5x and >0.3s above min
    assert(Bench.needsRetry(r(0.4, 3.0, 3.1)))
    // genuine plan cost: every rep slow, median ~ min — no retry
    assert(!Bench.needsRetry(r(3.0, 3.1, 2.9)))
    // fast query with relative spread but under the 0.3s absolute bar
    assert(!Bench.needsRetry(r(0.05, 0.2, 0.21)))
    // ratio bar: median 0.5 vs min 0.4 is within 1.5x
    assert(!Bench.needsRetry(r(0.4, 0.5, 0.5)))
    // an errored rep disqualifies (err path owns that query already)
    assert(!Bench.needsRetry(Seq(Right(0.4), Left("boom"), Right(3.0))))
    // single rep: median == min, never fires
    assert(!Bench.needsRetry(r(9.9)))
  }

  test("renderJson: retried query reports the merged median and the retried list") {
    // first set: contended (min 0.4, median 3.0); retry set: nReps+2 = 5
    // clean reps. Merged 8 reps sorted = 5 retry values first, so the
    // median (avg of 4th/5th) lands INSIDE the retry set.
    val merged: Seq[Either[String, Double]] =
      Seq(0.4, 3.0, 3.1, 0.40, 0.41, 0.42, 0.40, 0.41).map(Right(_))
    val json = Bench.renderJson(
      Seq("hot" -> merged), "/tmp/sf", 3, Seq((-1, 0.1), (0, 0.1)), Seq("hot"))
    assert(json.contains("\"retried\":[\"hot\"]"))
    assert(json.contains("\"hot\":0.410")) // merged median, not 3.0
    assert(json.contains("\"value\":0.410"))
    // all 8 raw reps survive in the artifact for after-the-fact audit
    assert(json.contains("\"hot\":[0.400,3.000,3.100,0.400,0.410,0.420,0.400,0.410]"))
  }

  test("renderJson: no retries renders an empty retried list (back-compat)") {
    val json = Bench.renderJson(
      Seq("a" -> Seq[Either[String, Double]](Right(1.0))), "/tmp/sf", 1, Seq((-1, 0.1)))
    assert(json.contains("\"retried\":[]"))
    assert(json.contains("\"retry_calib\":{}"))
  }

  test("renderJson: retry_calib is keyed by query, separate from positional calibs") {
    val json = Bench.renderJson(
      Seq("hot" -> Seq[Either[String, Double]](Right(0.4), Right(0.41))),
      "/tmp/sf", 1, Seq((-1, 0.1)), Seq("hot"), Seq("hot" -> 0.123))
    assert(json.contains("\"retry_calib\":{\"hot\":0.123}"))
    // the positional list is untouched by the retry sample
    assert(json.contains("\"cpu_calib_sec\":[0.100]"))
    assert(json.contains("\"calib_at\":[-1]"))
  }

  test("mergeRetry discards errored retry reps — a clean first set can never flip to err") {
    val first: Seq[Either[String, Double]] = Seq(Right(0.4), Right(3.0), Right(3.1))
    val retry: Seq[Either[String, Double]] =
      Seq(Right(0.41), Left("shutdown pressure"), Right(0.42))
    val merged = Bench.mergeRetry(first, retry)
    assert(merged == Seq(Right(0.4), Right(3.0), Right(3.1), Right(0.41), Right(0.42)))
    assert(!merged.exists(_.isLeft)) // renderJson will report a median, not "err"
    // an all-errored retry set leaves the first set untouched
    assert(Bench.mergeRetry(first, Seq(Left("boom"))) == first)
  }

  test("renderCompact carries the retried count") {
    val res = Seq("a" -> Seq[Either[String, Double]](Right(1.0)))
    assert(Bench.renderCompact(res, Seq((-1, 0.1)), Seq("a")).contains("\"retried\":1"))
    assert(Bench.renderCompact(res, Seq((-1, 0.1))).contains("\"retried\":0"))
  }

  test("refFlagged fires on the perfdiff bar against the reference only") {
    // >1.5x AND >0.3s above the committed clean median
    assert(Bench.refFlagged(4.57, 2.30)) // the r20 stream_distinct_daily shape
    assert(!Bench.refFlagged(2.4, 2.3)) // within noise of the reference
    assert(!Bench.refFlagged(0.2, 0.1)) // 2x but under the 0.3s absolute bar
    assert(!Bench.refFlagged(3.0, 2.5)) // +0.5s but under the 1.5x ratio bar
  }

  test("parseRef extracts cpus/sf/medians/calib from a committed artifact line and skips err") {
    val line = """{"metric":"total","value":3.000,"unit":"sec","queries":{"a":1.200,"b":"err","c":0.450},"raws":{"a":[1.2]},"errors":{},"errored":1,"sf":"/root/testdata/sf0.1","reps":3,"cpus":32,"retried":[],"cpu_calib_sec":[0.072,0.080,0.071]}"""
    val Some((cpus, sf, qs, calibMed)) = Bench.parseRef(line)
    assert(cpus.contains(32))
    assert(sf == "/root/testdata/sf0.1")
    assert(qs == Map("a" -> 1.2, "c" -> 0.45)) // "err" never becomes a reference
    // the reference's own health: median of its calib samples (0.072 here)
    assert(calibMed.exists(m => math.abs(m - 0.072) < 1e-9))
    // a pre-r21 artifact without "cpus" parses but carries None — the main
    // loop's gate then disables ref retry rather than mis-anchoring. The
    // cpus extraction is anchored to the top-level "reps":N,"cpus":M pair,
    // so a "cpus" substring elsewhere can never be misread (ADVICE r21).
    val old = """{"value":1.0,"queries":{"a":1.000},"sf":"/x/sf0.1-cpus","notes":"cpus:64"}"""
    val Some((noCpus, _, _, noCalib)) = Bench.parseRef(old)
    assert(noCpus.isEmpty)
    assert(noCalib.isEmpty) // no calib series → caller's health gate fails closed
    // no queries object at all -> None
    assert(Bench.parseRef("""{"value":1.0}""").isEmpty)
  }

  test("refGate admits a comparable reference and names why it rejects one") {
    val line = """{"queries":{"a":1.200},"sf":"/root/testdata/sf0.1","reps":3,"cpus":32,"cpu_calib_sec":[0.072,0.070]}"""
    def gate(ref: Option[String], cpus: Int = 32, sf: String = "testdata/sf0.1") =
      Bench.refGate(ref, Some(cpus), sf, Bench.RefCalibMaxDefault)
    assert(gate(Some(line)) == Right(Map("a" -> 1.2)))
    assert(gate(None) == Left("missing"))
    assert(gate(Some("""{"value":1.0}""")) == Left("unparseable"))
    assert(gate(Some(line), cpus = 4) == Left("cpus 32 != 4"))
    assert(gate(Some(line), sf = "/x/sf0.01") == Left("sf sf0.1 != sf0.01"))
    assert(gate(Some(line.replace("0.072,0.070", "0.090,0.080"))) == Left("calib 0.085 > 0.075"))
    // A legacy reference without "cpus" or calib fails closed.
    assert(gate(Some("""{"queries":{"a":1.0},"sf":"sf0.1"}""")) == Left("cpus ? != 32"))
  }

  test("renderJson carries the ref_gate status when given") {
    val res = Seq("a" -> Seq[Either[String, Double]](Right(1.0)))
    val json = Bench.renderJson(res, "/tmp/sf", 1, Seq((-1, 0.1)), cpus = Some(4),
      refGateStatus = Some("rejected:cpus 32 != 4"))
    assert(json.contains("\"ref_gate\":\"rejected:cpus 32 != 4\""))
    // the gate field never splits the "reps":N,"cpus":M pair parseRef anchors on
    assert(Bench.parseRef(json).flatMap(_._1).contains(4))
    assert(!Bench.renderJson(res, "/tmp/sf", 1, Seq((-1, 0.1))).contains("ref_gate"))
  }

  test("d3 formats locale-independently (ADVICE r21)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma decimals
      assert(Bench.d3(1.5) == "1.500") // f"%.3f" would emit "1,500" here
    } finally java.util.Locale.setDefault(prev)
  }

  test("renderCompact carries cpus and the top-20 medians (VERDICT r21 #2)") {
    val res = (1 to 25).map(i =>
      s"q$i" -> Seq[Either[String, Double]](Right(i / 10.0))) :+
      ("bad" -> Seq[Either[String, Double]](Left("boom")))
    val line = Bench.renderCompact(res, Seq((-1, 0.1)), cpus = Some(32),
      calibPar = Seq(0.2, 0.21))
    assert(line.contains("\"cpus\":32"))
    assert(line.contains("\"calib_par_sec\":[0.200,0.210]"))
    // top carries the 20 LARGEST clean medians — q25 in, q5 and below out,
    // errored queries never in
    assert(line.contains("\"top\":{\"q25\":2.500"))
    assert(line.contains("\"q6\":0.600"))
    assert(!line.contains("\"q5\":"))
    assert(!line.contains("\"bad\""))
    // under 2000 chars so the driver's tail capture keeps it intact
    assert(line.length < 2000)
  }

  test("renderJson carries the storage series and parallel calib when sampled") {
    val json = Bench.renderJson(
      Seq("a" -> Seq[Either[String, Double]](Right(1.0))),
      "/tmp/sf", 1, Seq((-1, 0.1)), storageMb = Seq(12L, 15L, 13L),
      calibPar = Seq(0.21, 0.22))
    assert(json.contains("\"storage_mb\":[12,15,13]"))
    assert(json.contains("\"calib_par_sec\":[0.210,0.220]"))
    // absent when not sampled (artifact stays byte-compatible for old runs)
    val plain = Bench.renderJson(
      Seq("a" -> Seq[Either[String, Double]](Right(1.0))), "/tmp/sf", 1, Seq((-1, 0.1)))
    assert(!plain.contains("storage_mb"))
    assert(!plain.contains("calib_par_sec"))
  }

  test("sfBase compares data directories by basename") {
    assert(Bench.sfBase("/root/testdata/sf0.1") == "sf0.1")
    assert(Bench.sfBase("testdata/sf0.1/") == "sf0.1")
    assert(Bench.sfBase("/a/sf0.1") != Bench.sfBase("/a/sf0.01"))
  }

  test("renderJson carries ref_flagged, ref_capped and cpus") {
    val json = Bench.renderJson(
      Seq("hot" -> Seq[Either[String, Double]](Right(0.4), Right(0.41))),
      "/tmp/sf", 1, Seq((-1, 0.1)), Nil, Seq("hot" -> 0.1),
      Seq("hot"), Seq("dropped"), Some(32))
    assert(json.contains("\"ref_flagged\":[\"hot\"]"))
    assert(json.contains("\"ref_capped\":[\"dropped\"]"))
    assert(json.contains("\"cpus\":32"))
    // defaults keep the fields present-but-empty (machine-parseable)
    val plain = Bench.renderJson(
      Seq("a" -> Seq[Either[String, Double]](Right(1.0))), "/tmp/sf", 1, Seq((-1, 0.1)))
    assert(plain.contains("\"ref_flagged\":[]"))
    assert(plain.contains("\"ref_capped\":[]"))
    assert(!plain.contains("\"cpus\":"))
  }

  test("renderCompact carries the ref_flagged count") {
    val res = Seq("a" -> Seq[Either[String, Double]](Right(1.0)))
    assert(Bench.renderCompact(res, Seq((-1, 0.1)), Nil, Seq("a"))
      .contains("\"ref_flagged\":1"))
    assert(Bench.renderCompact(res, Seq((-1, 0.1))).contains("\"ref_flagged\":0"))
  }

  test("familyOf groups by the pre-underscore prefix") {
    assert(Bench.familyOf("dedup_jaccard_prefix") == "dedup")
    assert(Bench.familyOf("q1_agg") == "q1")
    assert(Bench.familyOf("concurrency") == "concurrency")
  }
}
