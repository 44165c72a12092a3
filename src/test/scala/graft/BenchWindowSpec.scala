package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws for the bench's window sentinel ([[Bench.windowSuspects]]):
  * a synthetic mid-run contention window must flag exactly the queries
  * it bracketed — not the clean stretches around it, not the run. */
class BenchWindowSpec extends AnyFunSuite {

  // 30 queries, winSize 10 → 3 windows, probe boundaries p0..p3
  private val prior = Some(0.1)

  test("a loaded middle window flags its queries and only its queries") {
    // window 1 (queries 10-19) bracketed by two 5x probes; 0 and 2 clean
    val probes = IndexedSeq(0.11, 0.52, 0.49, 0.10)
    val got = Bench.windowSuspects(30, 10, probes, prior)
    assert(got == (10 until 20).toSet)
  }

  test("a single spiky probe sample flags nothing (both brackets required)") {
    val probes = IndexedSeq(0.11, 0.55, 0.10, 0.12)
    assert(Bench.windowSuspects(30, 10, probes, prior).isEmpty)
  }

  test("whole-run contention flags every query") {
    val probes = IndexedSeq(0.5, 0.6, 0.55, 0.48)
    assert(Bench.windowSuspects(30, 10, probes, prior) == (0 until 30).toSet)
  }

  test("no prior probe (first round) flags nothing") {
    val probes = IndexedSeq(0.5, 0.6, 0.55, 0.48)
    assert(Bench.windowSuspects(30, 10, probes, None).isEmpty)
    assert(Bench.windowSuspects(30, 10, probes, Some(0.0)).isEmpty)
  }

  test("partial last window uses the end probe as its right bracket") {
    // 25 queries → windows 0,1,2 with queries 20-24 in window 2;
    // only window 2's brackets (p2, p3) are hot
    val probes = IndexedSeq(0.10, 0.11, 0.50, 0.55)
    val got = Bench.windowSuspects(25, 10, probes, prior)
    assert(got == (20 until 25).toSet)
  }

  test("clean run flags nothing") {
    assert(Bench.windowSuspects(30, 10,
      IndexedSeq(0.09, 0.12, 0.11, 0.10), prior).isEmpty)
  }

  // ---- cleanWindow: the rescue pass's publication gate -------------------

  test("cleanWindow needs BOTH brackets clean (max ≤ 2x prior)") {
    assert(Bench.cleanWindow(0.10, 0.12, prior))
    assert(!Bench.cleanWindow(0.10, 0.55, prior), "half-hot is not clean")
    assert(!Bench.cleanWindow(0.55, 0.10, prior))
    assert(!Bench.cleanWindow(0.55, 0.60, prior))
  }

  test("cleanWindow with no (or zero) prior is trivially clean") {
    assert(Bench.cleanWindow(9.0, 9.0, None))
    assert(Bench.cleanWindow(9.0, 9.0, Some(0.0)))
  }

  test("anchorFloor: the run's best probe, never BELOW the committed " +
       "prior — one low outlier cannot tighten the anchor bar") {
    // round-14 defect: min() across prior and probes let a 0.036 s
    // outlier set a 0.071 s bar against a 0.108 s prior, voiding 5/20
    // anchors on a run whose own sentinels said clean
    assert(Bench.anchorFloor(Seq(0.036, 0.06, 0.12), Some(0.108)) == 0.108)
    // a genuinely faster host raises the floor through its own probes
    assert(Bench.anchorFloor(Seq(0.2, 0.25), Some(0.108)) == 0.2)
    // no prior: the run's own best
    assert(Bench.anchorFloor(Seq(0.09, 0.05), None) == 0.05)
  }

  test("suspicion and cleanliness are asymmetric by design: a half-hot " +
       "window is neither suspect nor clean") {
    // one hot bracket: windowSuspects does NOT flag (min rule) …
    val probes = IndexedSeq(0.10, 0.55, 0.10, 0.10)
    assert(Bench.windowSuspects(30, 10, probes, prior).isEmpty)
    // … but a rescue measured across the same brackets may NOT publish
    assert(!Bench.cleanWindow(0.10, 0.55, prior))
  }

  // ---- envSuspectFlag: run-level sentinel --------------------------------

  test("boundary rule: both boundary probes hot voids the run") {
    assert(Bench.envSuspectFlag(0.5, 0.48,
      IndexedSeq(0.5, 0.48), prior))
  }

  test("one clean boundary alone does not void a mostly-clean run") {
    assert(!Bench.envSuspectFlag(0.5, 0.10,
      IndexedSeq(0.5, 0.11, 0.12, 0.10, 0.11, 0.09, 0.10), prior))
  }

  test("majority rule: the round-10 shape (8 of 10 windows hot, clean " +
       "end probe) now voids the run") {
    // the actual r10 probe_windows, prior 0.117
    val r10 = IndexedSeq(0.241, 0.574, 0.583, 0.426, 0.427, 0.499,
                         0.242, 0.217, 0.333, 0.133)
    assert(Bench.envSuspectFlag(0.241, 0.133, r10, Some(0.117)))
  }

  test("majority rule needs ≥6 probe samples — a short run with one " +
       "spiky sample of four is not voided") {
    assert(!Bench.envSuspectFlag(0.55, 0.10,
      IndexedSeq(0.55, 0.60, 0.10, 0.10), prior))
  }

  test("exactly half hot with ≥6 samples voids; just under half does not") {
    val half = IndexedSeq(0.5, 0.5, 0.5, 0.1, 0.1, 0.1)
    assert(Bench.envSuspectFlag(0.5, 0.1, half, prior))
    val under = IndexedSeq(0.5, 0.5, 0.1, 0.1, 0.1, 0.1)
    assert(!Bench.envSuspectFlag(0.5, 0.1, under, prior))
  }

  test("no prior → run never voided") {
    assert(!Bench.envSuspectFlag(9.0, 9.0, IndexedSeq.fill(10)(9.0), None))
  }

  test("history band: the r11 q104 shape (4.6x its clean cost, no " +
       "previous-round entry) is now suspect") {
    // new last round (no prev entry) but a clean band exists once any
    // round has recorded it — and 3.25 > 2 x 0.71 flags
    assert(Bench.crossRoundSuspect(3.25, None, Some(0.71)))
    // in-band publishes freely
    assert(!Bench.crossRoundSuspect(0.80, None, Some(0.71)))
  }

  test("history band composes with the previous-round rule (either flags)") {
    // 1.4x of prev round (under 1.5x) but 2.5x the historical min
    assert(Bench.crossRoundSuspect(1.40, Some(1.0), Some(0.5)))
    // 1.6x prev round flags even with no band
    assert(Bench.crossRoundSuspect(1.60, Some(1.0), None))
    // neither rule trips → clean
    assert(!Bench.crossRoundSuspect(1.40, Some(1.0), Some(0.71)))
  }

  test("history band ignores trivial queries and degenerate priors") {
    assert(!Bench.crossRoundSuspect(0.15, Some(0.01), Some(0.01)),
      "sub-0.2s queries never flag")
    assert(!Bench.crossRoundSuspect(5.0, Some(0.0), Some(0.0)),
      "zero priors cannot divide a flag into existence")
    assert(!Bench.crossRoundSuspect(5.0, None, None))
  }

  // ---- map-recovery sidecars (round 16: the stdout tail window has ----
  // ---- orphaned two rounds' per-query maps; recovery must be plural ----

  test("sidecar candidates: committed _map twin first, then the " +
       "per-cpus twins, then the standing BENCH_rNEXT_map, all next " +
       "to the artifact") {
    val p = java.nio.file.Paths.get("/some/dir/BENCH_r15.json")
    val got = Bench.sidecarCandidates(p)
    assert(got == Seq(
      java.nio.file.Paths.get("/some/dir/BENCH_r15_map.json"),
      java.nio.file.Paths.get("/some/dir/BENCH_map_c32.json"),
      java.nio.file.Paths.get("/some/dir/BENCH_map_c8.json"),
      java.nio.file.Paths.get("/some/dir/BENCH_rNEXT_map.json")))
  }

  test("sidecar resolution follows the artifact's directory, not the CWD") {
    // SPARK_GRAFT_BENCH_PREV may point outside the repo root
    val p = java.nio.file.Paths.get("BENCH_r09.json")
    assert(Bench.sidecarCandidates(p)
      .forall(_.getParent == p.toAbsolutePath.getParent))
  }

  test("a sidecar is trusted only on a 0.1 s total match") {
    assert(Bench.sidecarTotalsAgree(Some(179.879), Some(179.88)))
    assert(!Bench.sidecarTotalsAgree(Some(179.879), Some(156.7)),
      "a later local run's standing sidecar must not pair")
    assert(!Bench.sidecarTotalsAgree(None, Some(179.88)),
      "an artifact with no total cannot vouch for any sidecar")
    assert(!Bench.sidecarTotalsAgree(Some(179.88), None))
  }

  // ---- window normalization (round 18: two consecutive rounds were ----
  // ---- adjudicated on host-drift; the published board now carries a ----
  // ---- probe-ratio-corrected twin of every median) ----

  test("normalizedMedian: a clean window (brackets at floor) is identity") {
    assert(Bench.normalizedMedian(5.0, 0.10, 0.10, 0.10) == 5.0)
  }

  test("normalizedMedian: a 3x-hot window deflates by the better bracket") {
    // lo=0.30 hi=0.45 against floor 0.10 → ratio min(3.0, 4.5) = 3.0
    assert(math.abs(Bench.normalizedMedian(9.0, 0.30, 0.45, 0.10) - 3.0) < 1e-12)
  }

  test("normalizedMedian: the ratio never drops below 1 — a probe sample " +
       "colder than the floor must not inflate a clean measurement") {
    assert(Bench.normalizedMedian(5.0, 0.05, 0.08, 0.10) == 5.0)
  }

  test("normalizedMedian: a non-positive floor disables the correction " +
       "(first round: no prior, no clean probe on record)") {
    assert(Bench.normalizedMedian(7.0, 0.90, 0.90, 0.0) == 7.0)
    assert(Bench.normalizedMedian(7.0, 0.90, 0.90, -1.0) == 7.0)
  }

  test("normalizedMedian is monotone in the measurement and bounded by it") {
    for (m <- Seq(0.1, 1.0, 10.0); lo <- Seq(0.1, 0.2, 0.5)) {
      val n = Bench.normalizedMedian(m, lo, lo, 0.1)
      assert(n <= m + 1e-12, "normalization only ever deflates")
      assert(n > 0.0)
    }
  }

  // ---- band epochs (round 18: q149/q150/q154's pre-r15 read-back ----
  // ---- bands flagged every honest serve measurement forever) ----

  test("bandEpochAllows gates pre-break rounds for broken keys only, " +
       "under every historical key form") {
    for (k <- Seq("q149_curation_stream", "q149", "149")) {
      assert(!Bench.bandEpochAllows(k, 14), s"$k r14 must be excluded")
      assert(Bench.bandEpochAllows(k, 15), s"$k r15 must contribute")
      assert(Bench.bandEpochAllows(k, 17))
    }
    // un-broken keys contribute from any round
    for (k <- Seq("q01_stg_trades", "q01", "1", "q148_whatever")) {
      assert(Bench.bandEpochAllows(k, 2), s"$k r2 must contribute")
    }
  }

  test("band epochs load from the committed BENCH_EPOCHS.json and agree " +
       "with the in-code default (round 19: the exclusion is a data " +
       "artifact, auditable next to the history it edits)") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_EPOCHS.json"))
    val parsed = Bench.parseEpochs(text)
    assert(parsed.contains(Bench.defaultBandEpochs),
      "committed epochs file and code default diverged — update both " +
        "together (the default exists only for bare checkouts)")
    assert(parsed.contains(Bench.bandEpochs))
    // a MISSING epochs key is malformed → None (caller falls back);
    // an empty epochs OBJECT is a deliberate "no exclusions" → Some
    // (review fix: exclusions must be clearable via the data artifact)
    assert(Bench.parseEpochs("{}").isEmpty)
    assert(Bench.parseEpochs("""{"epochs":{}}""").contains(Map.empty))
  }

  // ---- norm gating (round 19: r18's driver artifact published ----
  // ---- norm_total 204 s against anchor evidence of ~0.835 ratio) ----

  test("normCalibrationValid accepts only anchor-validated runs") {
    assert(Bench.normCalibrationValid(Some(1.0)))
    assert(Bench.normCalibrationValid(Some(0.9)))
    assert(Bench.normCalibrationValid(Some(1.1)))
    assert(!Bench.normCalibrationValid(Some(0.835)), "the r18 shape")
    assert(!Bench.normCalibrationValid(Some(1.2)),
      "over-inflation is as invalid as over-deflation")
    assert(!Bench.normCalibrationValid(None),
      "an unvalidatable model (no clean anchors) must not publish")
  }

  // ---- trigger spread (round 19: ~40 build-once queries trip the ----
  // ---- spread>median trigger on their deterministic build rep) ----

  test("triggerSpread drops rep 1 only when it is the strict unique max " +
       "of >= 3 reps (the build-rep signature)") {
    // q66 shape: build rep dominates, rest tight — trigger sees the rest
    assert(Bench.triggerSpread(Seq(3.0, 0.4, 0.5)) == 0.5 - 0.4)
    // contention on a later rep still trips at full spread
    assert(Bench.triggerSpread(Seq(0.4, 3.0, 0.5)) == 3.0 - 0.4)
    // two hot reps (real window): rep 1 not the UNIQUE max — full spread
    assert(Bench.triggerSpread(Seq(3.0, 3.0, 0.4)) == 3.0 - 0.4)
    // fewer than 3 reps: no exclusion (nothing to corroborate the rest)
    assert(Bench.triggerSpread(Seq(3.0, 0.4)) == 3.0 - 0.4)
    assert(Bench.triggerSpread(Seq(1.0)) == 0.0)
    assert(Bench.triggerSpread(Nil) == 0.0)
  }

  // ---- qv rung (round 20: 202 queries overflow even the 1dp ultra ----
  // ---- map; PERF_r19 lost all per-query visibility — the medians ----
  // ---- now pack as centisecond integers in short-id order) ----

  test("qv codec roundtrips: encode then decode recovers every median " +
       "to the centisecond, keyed by bare numeral") {
    val pairs = Seq("q01_stg_trades" -> 1.544, "q03_join" -> 0.091,
      "q141_stream_join" -> 7.915)
    val Some((n, arr)) = Bench.qvEncode(pairs)
    assert(n == 141 && arr.size == 141)
    val dec = Bench.qvDecode(arr.map(_.toDouble))
    assert(dec("1") == 1.54 && dec("3") == 0.09 && dec("141") == 7.92)
    // absent ids decode to nothing (failed queries publish no median)
    assert(!dec.contains("2") && dec.size == 3)
  }

  test("qv encode refuses ambiguous inputs (unparsable or colliding ids)") {
    assert(Bench.qvEncode(Seq("weird_name" -> 1.0)).isEmpty)
    assert(Bench.qvEncode(Seq("q05_a" -> 1.0, "q05_b" -> 2.0)).isEmpty)
    assert(Bench.qvEncode(Nil).isEmpty)
  }

  test("qv array stays compact at the 202-query registry scale: the " +
       "rung must fit the driver's 2000-char tail with a ~450-char head") {
    val pairs = (1 to 202).map(i => (f"q$i%02d_x", 0.2 + (i % 80) / 10.0))
    val Some((n, arr)) = Bench.qvEncode(pairs)
    assert(n == 202)
    val body = arr.mkString("[", ",", "]")
    assert(body.length <= 1400, s"qv body ${body.length} chars")
    assert(Bench.qvDecode(arr.map(_.toDouble)).size == 202)
  }

  test("triggerSpread never exceeds the published full spread") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val ts = Seq.fill(2 + rnd.nextInt(5))(0.1 + rnd.nextDouble() * 5)
      assert(Bench.triggerSpread(ts) <= ts.max - ts.min + 1e-12)
    }
  }

  test("the 5-rep serve floor covers exactly the serve family's 11 queries") {
    assert(Bench.serveFamily == Set("q139", "q141", "q147", "q149", "q150",
      "q154", "q155", "q158", "q159", "q160", "q161"))
  }
}
