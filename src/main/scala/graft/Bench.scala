package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, emits ONE compact JSON result line on stdout and
  * writes a FULL JSON artifact to `bench.json` (cwd, or
  * `SPARK_GRAFT_BENCH_OUT`). Each query reports the MEDIAN of
  * `SPARK_GRAFT_BENCH_REPS` runs (default 3) plus, in the file artifact,
  * the per-query min→max spread.
  *
  * Stdout contract (round-5 postmortem): the driver's tail capture keeps
  * only the LAST 2000 characters of stdout, so the round-4/5 single line
  * (~3.9 KB with full-precision spread/error maps) had its head clipped
  * and recorded `parsed: null` two rounds running — worse, the visible
  * tail was the `spread` map, which read as medians. Now the stdout line
  * is compact by construction: totals first, per-query medians at 3 dp,
  * no spread/error detail (that lives in the file artifact), and a length
  * guard drops to 2 dp if the line ever approaches the window. Measured:
  * 56 queries ≈ 1.5 KB.
  *
  * Noise contract: a contended run must not masquerade as a regression
  * (round-5: a polluted driver run printed 10.68 s for a 0.55 s query).
  * After the initial reps, any query whose spread exceeds its median (and
  * whose median exceeds a 0.2 s floor) gets up to 2 extra reps; the
  * median is recomputed over all successful reps, and queries still noisy
  * after that are listed loudly in `noisy`.
  *
  * Cross-round guard (round-7 postmortem): within-run spread cannot catch
  * a query whose reps are ALL contended — q51 published 1.224 s vs 0.621 s
  * the round before with zero code changes on its path, and sailed through
  * because its three polluted reps agreed with each other. So after
  * medians are final, they are diffed against the previous round's
  * committed artifact (`SPARK_GRAFT_BENCH_PREV`, else the
  * highest-numbered `BENCH_r*.json` in cwd — the driver wrapper's
  * `parsed.queries` or a raw bench.json's `queries`): any non-trivial
  * query >1.5× its prior median is listed in `suspect`, so an
  * all-reps-contended number cannot silently enter the history as a real
  * regression.
  *
  * Rescue pass (round-8 postmortem): contention here arrives in
  * multi-minute windows (one run's suspects were exactly the
  * alphabetically-contiguous q40..q47 — whatever executed while the
  * window was open), so extra reps inside the window cannot recover.
  * Suspect and still-noisy queries are re-measured once after the main
  * pass and publish the LOWER of the two medians — contention only ever
  * overestimates, so min-of-medians converges on engine cost. Rescued
  * queries are listed in `rescued`; ones that stay high in both windows
  * are real and keep their `suspect` flag.
  *
  * Environment sentinel (round-9, from the round-8 adjudication): when
  * contention spans the WHOLE run, both measurement windows are
  * polluted and min-of-medians still publishes inflated totals with no
  * run-level signal — BENCH_r08 published 84 s for an engine the judge
  * re-measured at ~50 s warm. So the bench now measures a fixed
  * CALIBRATION PROBE — a canned compute plan (`sum(xxhash64(id))` over
  * 64M rows) that never changes with engine code — at run start and
  * run end, compares the better of the two against the probe median
  * committed in the previous round's artifact, and stamps a top-level
  * `"environment_suspect": true` (plus the raw probe numbers) on BOTH
  * stdout and the file artifact when even the better probe window is
  * >2x prior: the host was contended for the entire run and the totals
  * are void — readers (judge, bench_history.py) can discard the column
  * instead of investigating phantom regressions. The probe median
  * stored for the NEXT round is min(start, end) — contention only ever
  * overestimates.
  *
  * Window sentinel (round-10, from the round-9 adjudication): the
  * start/end probes cannot see a contention window in the MIDDLE of the
  * run — round 9 published five phantom 3-7x per-query regressions with
  * `environment_suspect: false` because both boundary probes were
  * clean. Now a single probe sample (~0.1 s) is interleaved every
  * `winSize`=10 queries; each query is attached to its bracketing probe
  * pair, and when BOTH brackets exceed 2x the committed prior the
  * query is window-suspect: it joins the rescue pass (re-measured after
  * the main pass, min-of-medians published) and, if its number still
  * comes from the contended window, it is listed in `window_suspect` so
  * readers void exactly the contended stretch instead of the whole run.
  * The per-window probe samples are published on stdout
  * (`calibration.probe_windows`) so the artifact localizes contention
  * by itself. Both-brackets (min, not max) keeps a single spiky probe
  * sample from voiding 20 clean queries; a contention window shorter
  * than one query window can still slip the flag, but its queries keep
  * every older guard (spread reps, cross-round suspect, rescue).
  *
  * Seed bands + clean anchor (round-13, from the round-12
  * adjudication): committed per-query driver maps end at r09 (three
  * contended rounds published map-less artifacts), so every query
  * newer than r09 was BAND-LESS — q93 published 1.6x its warm-local
  * cost with no flag. Two additions: (1) `BENCH_SEED.json` carries
  * builder-local warm medians pre-scaled by the documented 1.5-1.7x
  * host factor and backstops the historical band for queries with no
  * committed driver measurement (a committed band always wins, so a
  * stale seed can never override real history); (2) a clean-anchor
  * pass runs the 20 historically most expensive queries once each,
  * WARM, right after the main pass, in probe-bracketed windows of 5,
  * keeps only anchors whose brackets sit within 2x the run's own best
  * probe (floored by the committed prior), and publishes
  * `anchor_total`/`anchor_n` — a minimal-footprint warm subtotal
  * comparable across rounds even when the full pass degrades. (It ran
  * at run START in its first cut; the first measured run showed the
  * opening minutes are the WORST window — JIT/page-cache settling
  * inflated early probes 4-7x over the end probe and every anchor
  * failed its own brackets.)
  */
object Bench {

  /** Query ordinals whose measurement window was contended: query i's
    * window is i/winSize, bracketed by probes(w) and probes(w+1)
    * (`probes` = start probe +: interleaved samples :+ end probe, one
    * per window boundary); suspect when BOTH brackets exceed 2x the
    * committed prior. Pure so BenchWindowSpec can law-check it. */
  private[graft] def windowSuspects(nQueries: Int, winSize: Int,
                                    probes: IndexedSeq[Double],
                                    prior: Option[Double]): Set[Int] =
    prior match {
      case Some(p) if p > 0.0 && probes.nonEmpty =>
        (0 until nQueries).filter { i =>
          val w = i / winSize
          val lo = probes(math.min(w, probes.size - 1))
          val hi = probes(math.min(w + 1, probes.size - 1))
          math.min(lo, hi) > 2.0 * p
        }.toSet
      case _ => Set.empty
    }

  /** A measurement window is CLEAN when both bracketing probe samples sit
    * within 2x the committed prior (no prior, or a zero prior → trivially
    * clean: there is nothing to compare against and the older guards —
    * spread reps, cross-round suspect — still apply). Note the asymmetry
    * with [[windowSuspects]]: *suspicion* needs BOTH brackets hot
    * (min > 2p) so one spiky probe sample can't void ten clean queries,
    * but *publication-cleanliness* needs both brackets clean (max ≤ 2p)
    * so a rescue measurement is never published out of a half-hot
    * window. Pure so BenchWindowSpec can law-check it. */
  private[graft] def cleanWindow(lo: Double, hi: Double,
                                 prior: Option[Double]): Boolean =
    prior.forall(p => p <= 0.0 || math.max(lo, hi) <= 2.0 * p)

  /** The anchor pass's probe reference: the run's best own probe,
    * FLOORED by the committed prior — the prior is the host's
    * demonstrated clean capability, so one abnormally-low sample must
    * not tighten the anchor bar below it (round 14: a 0.036 s outlier
    * against a 0.108 s prior set a bar typical clean probes failed and
    * voided 5/20 anchors on a self-clean run). */
  private[graft] def anchorFloor(probes: Seq[Double],
                                 prior: Option[Double]): Double =
    prior.foldLeft(probes.min)(math.max)

  /** Run-level sentinel (round-11, from the round-10 adjudication): the
    * round-9 rule — void the run when even the BETTER boundary probe is
    * >2x prior — missed a run where 8 of 10 interleaved probe windows
    * were hot (0.217–0.583 vs 0.117 prior) because a lucky clean end
    * probe (0.133) let it pass, and the contaminated totals entered the
    * record. Now the run is also void when at least HALF of all probe
    * samples exceed 2x prior: a majority-hot run's totals are
    * contaminated regardless of how its boundaries happened to look.
    * The majority rule needs ≥6 samples (≥~50 queries) so that a single
    * spiky sample in a short run can't void it — short runs keep the
    * boundary rule plus the window sentinel. Pure for BenchWindowSpec. */
  private[graft] def envSuspectFlag(probeStart: Double, probeEnd: Double,
                                    probes: IndexedSeq[Double],
                                    prior: Option[Double]): Boolean =
    prior.exists { p =>
      p > 0.0 && (
        math.min(probeStart, probeEnd) > 2.0 * p ||
        (probes.size >= 6 && probes.count(_ > 2.0 * p) * 2 >= probes.size)
      )
    }

  /** History-band suspect (round-12, from the round-11 adjudication):
    * the cross-round guard compared only against the PREVIOUS round, so
    * r11's q104 — a query whose measurement was the contention's victim
    * inside a clean-enough probe window — published 4.6x its real cost
    * with no flag (and a query can also drift upward ~1.4x per round
    * forever without ever tripping a single-round 1.5x check). A query
    * is now also suspect when its median exceeds 2x its own HISTORICAL
    * CLEAN BAND — the minimum median across every committed
    * BENCH_r*.json (contention only ever overestimates, so the min over
    * rounds is the cleanest measurement the engine has ever shown; a
    * hot historical round can only RAISE the band floor, never produce
    * a false positive). Suspects join the clean-window rescue; a query
    * still above band after rescue keeps its flag — every published
    * number is either in-band or visibly flagged. Pure for
    * BenchWindowSpec. */
  private[graft] def crossRoundSuspect(med: Double, prevRound: Option[Double],
                                       histBand: Option[Double]): Boolean =
    med > 0.2 && (
      prevRound.exists(p => p > 0.0 && med > 1.5 * p) ||
      histBand.exists(b => b > 0.0 && med > 2.0 * b))

  /** Window-corrected median (round-18, from the round-17 adjudication:
    * two consecutive rounds were graded on a host-drift explanation
    * because raw medians from hot-but-not-void windows entered the
    * record as engine numbers). The model: contention multiplies wall
    * time by the same factor it multiplies the canned probe, so a
    * median measured in a window whose better bracket read `min(lo,hi)`
    * against the run's demonstrated-clean probe `floor` deflates by
    * that ratio. Conservative on both ends — the better bracket (never
    * the spikier one) sets the ratio, and the ratio never drops below
    * 1 (a cold probe must not inflate a clean measurement). The 20
    * anchor re-measurements validate the model per run: the published
    * `norm_calib.ratio_vs_anchor` is the median of normalized-main-pass
    * over clean-anchor across anchored queries — ~1.0 means the
    * correction is trustworthy this run. Pure for BenchWindowSpec. */
  private[graft] def normalizedMedian(med: Double, lo: Double, hi: Double,
                                      floor: Double): Double =
    if (floor <= 0.0) med
    else med / math.max(1.0, math.min(lo, hi) / floor)

  /** Whether the window-normalization model VALIDATED this run
    * (round-19, from the round-18 verdict + advice: normalizedMedian is
    * a one-sided correction — the ratio clamps at 1, so the board can
    * only ever deflate — and r18's driver artifact emitted norm_total
    * 204.4 s with norm_ratio_anchor 0.835, i.e. the probe-linear model
    * over-deflated anchored queries ~16% below their own clean-anchor
    * evidence, a bench-record bias risk on a uniformly slow host). The
    * anchors are the model's per-run validation: when the median of
    * normalized-median-over-clean-anchor falls outside [0.9, 1.1] the
    * model failed this run and `norm_total` is SUPPRESSED (null, with
    * `norm_suppressed` carrying the reason) — raw medians plus the raw
    * anchors remain the only engine-cost claims. `norm_ratio_anchor`
    * itself always publishes: it is the evidence either way. No-anchor
    * runs (subsets) suppress too — an unvalidatable model must not
    * publish corrected totals. Pure for BenchWindowSpec. */
  private[graft] def normCalibrationValid(ratio: Option[Double]): Boolean =
    ratio.exists(r => r >= 0.9 && r <= 1.1)

  /** Spread as seen by the NOISE TRIGGERS (extra-rep purchase, the
    * `noisy` flag, rescue enrolment) — round-19, from the round-18
    * verdict's rescue-gap task: ~40 queries build a session-keyed
    * store/index on their FIRST rep by design (the q66 class the bench
    * protocol documents), so rep 1 is deterministically the max and its
    * build cost alone trips the spread>median trigger every run,
    * burning extra reps and rescue passes on measurements whose medians
    * were already clean — 22 of r18's rescues were this shape. When a
    * query has ≥3 reps and rep 1 is the strict unique maximum (the
    * build-rep signature; contention is equally likely on any rep, so a
    * genuinely hot window that touches ≥2 reps still trips), the
    * triggers see the spread over reps 2..n. The PUBLISHED per-query
    * spread in the file artifact stays the full min→max — this narrows
    * what the bench reacts to, never what it reports. Pure for
    * BenchWindowSpec. */
  private[graft] def triggerSpread(times: Seq[Double]): Double = {
    if (times.isEmpty) return 0.0
    def spread(ts: Seq[Double]) = ts.max - ts.min
    if (times.size >= 3 && times.tail.forall(_ < times.head))
      spread(times.tail)
    else spread(times)
  }

  /** Band epochs (round-18, verdict task 7): a query whose BODY changed
    * semantics keeps matching its pre-change history in the historical-
    * clean-band fold, and the stale band then flags every honest
    * measurement forever — q149/q150/q154 measured a ~0.2 s store
    * READ-BACK through r14 and a real 5-7 s fenced serve from r15 on
    * (the BENCH_HISTORY band-break note), so the >2×-band suspect rule
    * fired on them in every round since. A key listed here contributes
    * to its band only from rounds >= its epoch. */
  private[graft] val defaultBandEpochs: Map[String, Int] =
    Map("q149" -> 15, "q150" -> 15, "q154" -> 15)

  /** Parse the committed `BENCH_EPOCHS.json` band-break registry
    * (round-19 advice fix: the epochs were a source constant, which
    * excised exactly the history that was flagging q149/q150/q154 with
    * nothing but a BENCH_HISTORY prose note to audit against — now the
    * exclusions live in a data artifact next to the artifacts they
    * edit, and a future band break is a JSON edit, not a code edit).
    * Shape: {"note": "...", "epochs": {"q149": 15, ...}}. Pure for
    * BenchWindowSpec. */
  private[graft] def parseEpochs(text: String): Option[Map[String, Int]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // None when the `epochs` key is absent (malformed registry →
    // caller falls back); Some(map) when present — INCLUDING an empty
    // map, so a maintainer can CLEAR every exclusion through the data
    // artifact (round-19 review: an empty-object fallback to the code
    // default would make exclusions un-removable by JSON edit)
    (JsonMethods.parse(text) \ "epochs") match {
      case JObject(fs) => Some(fs.collect {
        case (k, JInt(n))     => k -> n.toInt
        case (k, JDouble(n))  => k -> n.toInt
        case (k, JLong(n))    => k -> n.toInt
      }.toMap)
      case _ => None
    }
  }

  /** Band epochs: committed `BENCH_EPOCHS.json` when present with an
    * `epochs` key (an EMPTY one counts — it means "no exclusions"),
    * else the in-code default (kept so the pure spec and a bare
    * checkout behave identically). See [[parseEpochs]]. */
  private[graft] lazy val bandEpochs: Map[String, Int] = {
    val p = Paths.get("BENCH_EPOCHS.json")
    if (!Files.exists(p)) defaultBandEpochs
    else try parseEpochs(Files.readString(p)).getOrElse(defaultBandEpochs)
    catch { case _: Throwable => defaultBandEpochs }
  }

  /** Whether round `round`'s measurement of `key` may contribute to the
    * historical clean band (key may be a full name, short id, or the
    * ultra level's bare numeral). Pure for BenchWindowSpec. */
  private[graft] def bandEpochAllows(key: String, round: Int): Boolean = {
    val short0 = key.takeWhile(_ != '_')
    val short = if (short0.nonEmpty && short0.forall(_.isDigit)) "q" + short0
                else short0
    bandEpochs.get(short).forall(_ <= round)
  }

  /** The map-recovery sidecars an artifact with no per-query map may be
    * paired with, in trust order: its committed `BENCH_r{N}_map.json`
    * twin (the round-13/15 manual-recovery convention), then the
    * per-core-count `BENCH_map_c{cpus}.json` twins (round-20, verdict
    * item 1: the driver's 8-core scaling run OVERWROTE the standing
    * sidecar and clobbered the 32-core map — per-cpus names make the
    * main run and the scaling run write DIFFERENT files), then the
    * standing `BENCH_rNEXT_map.json` that every run still leaves behind
    * (round-16: the 2000-char stdout tail window has orphaned two
    * rounds' per-query maps — r10 and r15 — and the gitignored
    * bench.json is overwritten by the next run; these files are NOT
    * gitignored, so a round-end commit preserves them). Every candidate
    * passes the same totals-agree trust gate, so listing several is
    * safe. Pure for BenchWindowSpec. */
  private[graft] def sidecarCandidates(
      artifact: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val abs = artifact.toAbsolutePath
    Seq(
      abs.resolveSibling(
        abs.getFileName.toString.replace(".json", "_map.json")),
      abs.resolveSibling("BENCH_map_c32.json"),
      abs.resolveSibling("BENCH_map_c8.json"),
      abs.resolveSibling("BENCH_rNEXT_map.json"))
  }

  /** qv rung codec (round-20, verdict item 1): at 202 queries even the
    * 1dp ultra map (~10 chars/query) overflows the 1900-char stdout
    * guard, and rounds 18–19 published map-less driver artifacts
    * (`PERF_r19.n_common = 0`). The registry's short ids are exactly
    * 1..N by construction, so the medians pack as ONE integer-
    * CENTISECOND array in id order — `"qn":N,"qv":[cs,...]` at ~4-5
    * chars/query (~1.0 KB at 202) — with `-1` marking ids that
    * published no median (failed every rep). Decode: qv(i) belongs to
    * short id i+1. Encode returns None when any name's short id fails
    * to parse or ids collide — the ladder then falls through to the
    * no-map fallback rather than emit an ambiguous array. Pure for
    * BenchWindowSpec. */
  private[graft] def qvEncode(pairs: Seq[(String, Double)]): Option[(Int, IndexedSeq[Long])] = {
    val ids = pairs.map { case (k, _) =>
      val s = k.takeWhile(_ != '_')
      val digits = if (s.startsWith("q")) s.drop(1) else s
      if (digits.nonEmpty && digits.forall(_.isDigit)) digits.toInt else -1
    }
    if (ids.exists(_ <= 0) || ids.distinct.size != ids.size || ids.isEmpty) None
    else {
      val n = ids.max
      val arr = Array.fill(n)(-1L)
      pairs.zip(ids).foreach { case ((_, v), id) =>
        arr(id - 1) = math.round(v * 100.0)
      }
      Some((n, arr.toIndexedSeq))
    }
  }

  /** Decode a qv artifact back to the bare-numeral-keyed map every
    * consumer (priorOf/bandOf, bench_history.py) already understands.
    * Negative entries are absent ids. Pure for BenchWindowSpec. */
  private[graft] def qvDecode(qv: Seq[Double]): Map[String, Double] =
    qv.zipWithIndex.collect {
      case (cs, i) if cs >= 0.0 => ((i + 1).toString, cs / 100.0)
    }.toMap

  /** A sidecar is trusted only when its total agrees with the driver
    * artifact's to 0.1 s — same run, not a stray dev file (the standing
    * BENCH_rNEXT_map.json in particular may be a later local run's).
    * Pure for BenchWindowSpec. */
  private[graft] def sidecarTotalsAgree(artifactTotal: Option[Double],
                                        sidecarTotal: Option[Double]): Boolean =
    (artifactTotal, sidecarTotal) match {
      case (Some(a), Some(b)) => math.abs(a - b) < 0.1
      case _                  => false
    }

  def main(args: Array[String]): Unit = {
    // dev-only subset knob (comma-separated name prefixes, mirroring
    // Verify's; an unknown prefix fails here, before any work): the
    // committed artifact is always the FULL registry, and a subset
    // run's totals/anchors are not cross-round comparable
    val onlyPrefixes = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val chosen = SparkEntry.matching(onlyPrefixes.getOrElse(Seq(""))).toSet
    val sfDirOrig = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pin the input in RAM for the measured runs: the bench's contract is
    // warm-cache engine throughput (BENCH_HISTORY.md), but this host's
    // harness drops the page cache mid-run and cold reads measure
    // ~15 MB/s — so a random subset of queries silently paid disk
    // latency each round (whichever ran just after a drop). Mirroring
    // the sf dir (~17 MB at sf0.1) into tmpfs once at startup is the
    // same effect as the warm cache the contract already assumes, made
    // deterministic. Reported "sf" stays the original path.
    val sfDir = {
      val shm = new java.io.File("/dev/shm")
      val src = new java.io.File(sfDirOrig)
      val srcBytes = Option(src.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
        .getOrElse(0L)
      if (srcBytes > 0 && shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace > srcBytes + 32L * (1L << 30)) {
        val dst = new java.io.File(shm, s"graft-bench-${src.getName}")
        dst.mkdirs()
        src.listFiles().filter(_.isFile).foreach { f =>
          val d = new java.io.File(dst, f.getName)
          if (!d.exists() || d.length() != f.length())
            java.nio.file.Files.copy(f.toPath, d.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        dst.getAbsolutePath
      } else sfDirOrig
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.localSession(cpus.toInt)
    // warm-up: JIT/codegen/parquet-footer caches, so the first measured
    // query isn't charged the session's fixed costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q04_watermark_max")
      .foreach(fn => fn(spark, sfDir).collect())
    // calibration probe: fixed canned compute, independent of engine
    // code and of the sf dir, so its cost can only move when the HOST
    // does — median of 3, measured again after the main pass
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(64L * 1000 * 1000).selectExpr("sum(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    probeOnce() // probe's own warm-up
    def probeMedian(): Double = {
      val ts = Seq.fill(3)(probeOnce()).sorted
      ts(1)
    }
    // single-sample probes taken right after query work read
    // systematically high — the FIRST canned-compute job after a heavy
    // query pays executor-pool wakeup + GC debt (measured 0.2-0.35 s
    // mid-run vs 0.05 s for a median-of-3 moments later), which made
    // every single-bracket comparison against a median-derived floor
    // fail. min-of-2 absorbs the wakeup sample at ~0.1 s extra cost.
    def probeSample(): Double = math.min(probeOnce(), probeOnce())
    // previous-round medians for the cross-round suspect guard, the
    // previous round's calibration probe median for the environment
    // sentinel, and the per-query historical clean band; parsed BEFORE
    // any measurement because the anchor pre-pass below picks its query
    // set from the band. Any parse/IO failure degrades to empty (first
    // round, renamed artifact) — every consumer is advisory and must
    // never fail the bench.
    val (prevMedians: Map[String, Double], prevProbe: Option[Double],
         histBand: Map[String, Double], seedBand: Map[String, Double]) = try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def numOf(j: JValue): Option[Double] = j match {
        case JDouble(v)  => Some(v)
        case JInt(v)     => Some(v.toDouble)
        case JDecimal(v) => Some(v.toDouble)
        case _           => None
      }
      def queriesOf(j: JValue): Map[String, Double] = (j \ "queries") match {
        case JObject(fs) if fs.nonEmpty =>
          fs.flatMap { case (k, v) => numOf(v).map(k -> _) }.toMap
        case _ => (j \ "qv") match {
          // round-20 qv rung: integer centiseconds in short-id order
          // ([[qvDecode]]) — the driver artifact that captured a qv
          // stdout line still feeds the cross-round guard and band
          case JArray(vs) => qvDecode(vs.flatMap(numOf))
          case _          => Map.empty
        }
      }
      def payloadOf(p: java.nio.file.Path): JValue = {
        val j = JsonMethods.parse(Files.readString(p))
        val payload = (j \ "parsed") match {
          case JNothing | JNull => j
          case wrapped          => wrapped
        }
        // map-recovery sidecars (round 14, widened round 16): a driver
        // artifact whose stdout parse lost the per-query map (round 13:
        // the 145-query line overflowed every ladder level then in
        // place; round 15: recurrence at 156 queries) can be paired
        // with a committed BENCH_r{N}_map.json twin or the standing
        // BENCH_rNEXT_map.json every run now writes ([[sidecarCandidates]]).
        // Only consulted when the driver payload itself carries no map,
        // and only trusted when the totals agree to 0.1 s (same run,
        // not a stray dev file). Candidates resolve next to the
        // artifact, not the process CWD — SPARK_GRAFT_BENCH_PREV may
        // point outside the repo root.
        if (queriesOf(payload).nonEmpty) payload
        else sidecarCandidates(p).iterator.flatMap { side =>
          if (!Files.exists(side)) None
          else try {
            val sj = JsonMethods.parse(Files.readString(side))
            val tOk = sidecarTotalsAgree(
              numOf(payload \ "value"), numOf(sj \ "value"))
            if (tOk && queriesOf(sj).nonEmpty) Some(sj) else None
          } catch { case _: Throwable => None }
        }.nextOption().getOrElse(payload)
      }
      val allRounds: Seq[(Int, java.nio.file.Path)] = {
        val rx = raw"BENCH_r0*(\d+)\.json".r
        val s = Files.list(Paths.get("."))
        try s.iterator().asScala.flatMap(p => p.getFileName.toString match {
            case rx(n) => Some((n.toInt, p))
            case _     => None
          }).toSeq.sortBy(-_._1)
        finally s.close()
      }
      val prev = sys.env.get("SPARK_GRAFT_BENCH_PREV").map(Paths.get(_))
        .orElse(allRounds.headOption.map(_._2))
      val (pm, pp) = prev.map { p =>
        val payload = payloadOf(p)
        (queriesOf(payload), numOf(payload \ "calibration" \ "probe_median"))
      }.getOrElse((Map.empty[String, Double], None))
      // historical clean band: per-query MIN median across every
      // committed round (a hot round only raises its own numbers, so
      // min-over-rounds is the cleanest measurement on record). Files
      // that fail to parse contribute nothing — the band is advisory.
      val band = allRounds.foldLeft(Map.empty[String, Double]) {
        case (acc, (rn, p)) =>
          val qs = try queriesOf(payloadOf(p)) catch { case _: Throwable => Map.empty[String, Double] }
          qs.foldLeft(acc) { case (a, (k, v)) =>
            // band-epoch gate: a round predating the key's semantic
            // band break contributes nothing ([[bandEpochs]])
            if (v <= 0.0 || !bandEpochAllows(k, rn)) a
            else a.updatedWith(k)(old => Some(old.fold(v)(math.min(_, v))))
          }
      }
      // seed band (round-13, from the round-12 adjudication): committed
      // per-query driver maps end at r09 — contended rounds since then
      // published map-less artifacts — so every query newer than r09 was
      // band-less and its inflation invisible (q93: 1.6x unflagged).
      // BENCH_SEED.json carries builder-local warm medians pre-scaled by
      // the documented 1.5-1.7x host factor; it backstops ONLY queries
      // with no committed band (a committed driver measurement always
      // wins), so a stale seed can never override real history.
      val seeds = try {
        val p = Paths.get("BENCH_SEED.json")
        if (Files.exists(p)) queriesOf(JsonMethods.parse(Files.readString(p)))
        else Map.empty[String, Double]
      } catch { case _: Throwable => Map.empty[String, Double] }
      (pm, pp, band, seeds)
    } catch { case _: Throwable =>
      (Map.empty[String, Double], None, Map.empty[String, Double],
        Map.empty[String, Double]) }
    // prior artifacts may key by full name (file artifact, rounds ≤8),
    // by short `qNN` id (stdout-parsed artifacts from round 9 on), or by
    // bare numeral `NN` (ultra stdout level from round 14 on) — look up
    // all three
    def keyForms(k: String): Seq[String] = {
      val short = k.takeWhile(_ != '_')
      val bare = if (short.startsWith("q") && short.drop(1).forall(_.isDigit))
        Seq(short.drop(1)) else Seq.empty
      Seq(k, short) ++ bare
    }
    def priorOf(k: String): Option[Double] =
      keyForms(k).flatMap(prevMedians.get).headOption
    def bandOf(k: String): Option[Double] = {
      val hits = keyForms(k).flatMap(histBand.get)
      if (hits.nonEmpty) Some(hits.min)
      else keyForms(k).flatMap(seedBand.get)
        .reduceOption((a, b) => math.min(a, b))
    }
    val probeStart = probeMedian()
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // median of successful reps: a query that succeeds on rep 1 but
    // throws later still reports its successful timings (plus the error),
    // but is excluded from `total` and flagged in `partial` — see below;
    // even rep counts average the two middle values instead of biasing
    // high on the upper-middle element
    def median(ts: Seq[Double]): Double = {
      if (ts.isEmpty) return 0.0
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // Serve-family rep policy (round-18, from the round-17 adjudication:
    // 11 serve/stream queries are 31% of board wall and swing ±20-40%
    // between probe-CLEAN windows, so every round's adjudication budget
    // went to re-litigating their medians). Each of these re-serves a
    // real fenced batch per rep by design — the honest measurement is
    // expensive AND oscillates with host I/O pressure the probes only
    // partially see — so their medians get 5 reps minimum: median-of-5
    // cuts the published swing roughly in half at ~+60 s of driver
    // wall, and the window normalization below corrects the rest.
    val serveFamily = Set("q139", "q141", "q147", "q149", "q150", "q154",
      "q155", "q158", "q159", "q160", "q161")
    def perQueryReps(name: String): Int =
      if (serveFamily.contains(name.takeWhile(_ != '_'))) math.max(reps, 5)
      else reps
    val extraReps = 2  // noise-guard budget per query
    def spreadOf(ts: Seq[Double]) = if (ts.isEmpty) 0.0 else ts.max - ts.min
    def measure(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                nReps: Int): (Seq[Double], Option[String]) = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      var r = 0
      while (r < nReps && err.isEmpty) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times += (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        r += 1
      }
      (times.toSeq, err)
    }
    // window sentinel: one probe sample between every winSize queries
    // (plus the start/end medians as outer boundaries) — localizes
    // mid-run contention the run-level flag can't see
    val winSize = 10
    val interiorProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => chosen(n) }
    val firstPass = selected.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % winSize == 0) interiorProbes += probeSample()
      val (t0s, err0) = measure(fn, perQueryReps(name))
      val times = scala.collection.mutable.ArrayBuffer(t0s: _*)
      var err = err0
      // noise guard: spread > median on a non-trivial query means at
      // least one rep was polluted by transient contention — buy extra
      // reps so the median can recover before we publish it. The
      // trigger sees [[triggerSpread]] (rep 1 excluded when it is the
      // unique max — the build-once-store signature); the published
      // spread below stays the honest full min→max.
      var extra = 0
      while (err.isEmpty && extra < extraReps &&
             median(times.toSeq) > 0.2 &&
             triggerSpread(times.toSeq) > median(times.toSeq)) {
        val (t1, e1) = measure(fn, 1)
        times ++= t1
        err = e1
        extra += 1
      }
      val med = median(times.toSeq)
      val spread = spreadOf(times.toSeq)
      val noisy = err.isEmpty && med > 0.2 && triggerSpread(times.toSeq) > med
      (name, med, spread, err, noisy, times.size)
    }
    // Locale.ROOT: under a comma-decimal JVM locale the default-locale
    // format would emit "1,106" and break the JSON on both stdout and the
    // file artifact's spread map
    def fmt(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    // total is comparable across rounds only if every contributing query
    // ran its full rep budget cleanly: a query that succeeded some reps
    // then threw reports its reduced-sample median in the per-query map
    // (flagged in `partial`) but is EXCLUDED from total; a query with no
    // successful rep appears only in `errors`
    // Second-pass rescue (round-8 postmortem): host-level contention here
    // arrives in multi-minute WINDOWS — one run's suspect list was exactly
    // the alphabetically-contiguous q40..q47, i.e. whatever executed while
    // the window was open — so extra reps taken INSIDE the window cannot
    // recover, but the same query re-measured minutes later can. Every
    // cross-round suspect and still-noisy query gets one fresh rep set
    // after the main pass; the published median is the LOWER of the two
    // passes (contention only ever overestimates, so min-of-medians
    // converges on engine cost). Queries that stay high in both windows
    // are real regressions and keep their suspect flag.
    def suspectsOf(rs: Seq[(String, Double, Double, Option[String], Boolean, Int)]) =
      rs.collect { case (k, med, _, None, _, _)
        if crossRoundSuspect(med, priorOf(k), bandOf(k)) => k }
    // end probe measured BEFORE the rescue pass: it closes the main
    // pass's last window, and the rescue then runs in a window the
    // sentinel has already bracketed
    val probeEnd = probeMedian()
    val probes = (probeStart +: interiorProbes :+ probeEnd).toIndexedSeq
    // Clean-anchor pass (round-13, from the round-12 adjudication):
    // three consecutive rounds self-flagged environment contention, so
    // no committed per-query column since r09 is trustworthy. The 20
    // historically most expensive queries (by clean band,
    // seed-backstopped) run ONCE more, warm, in probe-bracketed
    // windows of 5; a query's anchor is kept only when BOTH its
    // brackets sit within 2x the RUN'S OWN BEST probe (floored by the
    // committed prior when one exists) — a stationarity test against
    // the cleanest state this host has shown, not a stale prior. The
    // pass runs AFTER the main pass deliberately: the first measured
    // run showed the run's opening minutes are the WORST window (JIT/
    // page-cache settling inflated the early probes 4-7x over the end
    // probe), so anchors measured there failed their own brackets.
    // `anchor_total` over `anchor_n` clean anchors is the
    // minimal-footprint warm subtotal a reader can compare across
    // rounds even when the full pass degrades. Single rep by design:
    // the probe brackets are what make it trustworthy, not rep count.
    val anchorBudget = 20
    // a SPARK_GRAFT_BENCH_ONLY subset run anchors only within the
    // subset — anchors exist for cross-round comparability, which a
    // subset run has forfeited anyway; paying 20 full anchors there
    // would dwarf the subset itself
    val anchorNames: Seq[String] = SparkEntry.queries.keys.toSeq
      .filter(chosen)
      .flatMap(n => bandOf(n).map(b => (n, b)))
      .sortBy(-_._2).take(anchorBudget).map(_._1).sorted
    val anchorTimes = scala.collection.mutable.Map.empty[String, Double]
    // the run's demonstrated-clean probe — anchor-bracket reference AND
    // the denominator floor for window normalization below
    val probeFloor = anchorFloor(probes, prevProbe)
    locally {
      val floorOpt = Some(probeFloor).filter(_ > 0.0)
      // per-query brackets (round 14, from the round-13 adjudication):
      // brackets previously wrapped groups of 5, so one hot query
      // voided four clean neighbors — r13 kept only 15/20 anchors.
      // One probe between consecutive anchors closes the follower's
      // window and opens the next (21 probes ≈ a few seconds at the
      // ~0.1 s probe cost), and a contended anchor now voids only
      // itself.
      var lo = probeSample()
      anchorNames.foreach { n =>
        val (ts, err) = measure(SparkEntry.queries(n), 1)
        val hi = probeSample()
        if (err.isEmpty && cleanWindow(lo, hi, floorOpt))
          ts.headOption.foreach(anchorTimes(n) = _)
        lo = hi
      }
    }
    val winSuspectIdx =
      windowSuspects(firstPass.size, winSize, probes, prevProbe)
    val winSuspectNames =
      winSuspectIdx.map(i => firstPass(i)._1).toSet
    val rescueSet: Set[String] =
      (suspectsOf(firstPass) ++ firstPass.collect {
        case (k, med, _, None, true, _) if med > 0.2 => k } ++
        firstPass.collect { case (k, med, _, None, _, _)
          if winSuspectNames.contains(k) && med > 0.2 => k }).toSet
    // Clean-window rescue (round-11, from the round-10 adjudication):
    // the single-shot rescue could itself land inside a hot window —
    // r10 published q12 at 8.93 s (18x its r9 number) because both the
    // main pass AND its one rescue rep set ran while the host was
    // contended, and min-of-medians faithfully picked the lower of two
    // polluted numbers. Now every rescue measurement is BRACKETED by
    // its own probe samples and retried (bounded: maxRescueAttempts)
    // until the brackets are clean per [[cleanWindow]]; the published
    // median is the MIN over clean-window measurements (the first-pass
    // median participates when its own brackets were clean). Only when
    // no clean window is found within the retry budget does the query
    // publish min-over-all — and then it KEEPS its window_suspect flag
    // so the reader knows the number is still from a hot window. A
    // small global backoff budget spaces retries out (contention here
    // arrives in multi-minute windows; immediate retries tend to land
    // in the same one) without letting a fully-contended host stall
    // the bench.
    val maxRescueAttempts = 3
    var rescueBackoffBudgetMs = 60000L
    val rescuedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val cleanPublished = scala.collection.mutable.Set.empty[String]
    // the probe brackets of each query's PUBLISHED measurement (the
    // first-pass window for non-rescued queries, the winning candidate's
    // own brackets for rescued ones) — the window-normalization input
    val bracketOf = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def firstPassBrackets(qi: Int): (Double, Double) = {
      val w = qi / winSize
      (probes(math.min(w, probes.size - 1)),
        probes(math.min(w + 1, probes.size - 1)))
    }
    val results = firstPass.zipWithIndex.map {
      case ((name, med, spr, None, fpNoisy, n), qi) if rescueSet.contains(name) =>
        val (fLo, fHi) = firstPassBrackets(qi)
        // candidate = (median, spread, clean, fromRescue, loProbe,
        // hiProbe, noisy). The noisy flag is per-candidate: the
        // first-pass candidate carries its triggerSpread-based verdict
        // (its reps may include the deterministic store-build rep 1,
        // which must not flag — the round-19 false-positive class); a
        // RESCUE candidate's reps never include a build (the first
        // pass already paid it), so its flag is the plain
        // spread>median test.
        val cands = scala.collection.mutable.ArrayBuffer(
          (med, spr, cleanWindow(fLo, fHi, prevProbe), false, fLo, fHi,
            fpNoisy))
        var repsSpent = n
        var attempt = 0
        var done = false
        var lastHi: Option[Double] = None
        while (!done && attempt < maxRescueAttempts) {
          if (attempt > 0) { // previous attempt was hot — back off
            val wait = math.min(10000L, rescueBackoffBudgetMs)
            if (wait > 0) { rescueBackoffBudgetMs -= wait; Thread.sleep(wait) }
          }
          // the previous attempt's closing probe doubles as this
          // attempt's opening bracket (they are the same moment)
          val lo = lastHi.getOrElse(probeSample())
          val (ts, e2) = measure(SparkEntry.queries(name), perQueryReps(name))
          val hi = probeSample()
          lastHi = Some(hi)
          if (e2.nonEmpty || ts.isEmpty) done = true
          else {
            repsSpent += ts.size
            val clean = cleanWindow(lo, hi, prevProbe)
            val m = median(ts)
            cands += ((m, spreadOf(ts), clean, true, lo, hi,
              m > 0.2 && spreadOf(ts) > m))
            if (clean) done = true
          }
          attempt += 1
        }
        val cleanCands = cands.filter(_._3)
        val pool = if (cleanCands.nonEmpty) cleanCands else cands
        val best = pool.minBy(_._1)
        if (cleanCands.nonEmpty) cleanPublished += name
        if (best._4) rescuedNames += name
        bracketOf(name) = (best._5, best._6)
        (name, best._1, best._2, None, best._7, repsSpent)
      case ((name, med, spr, err, noisy, n), qi) =>
        bracketOf(name) = firstPassBrackets(qi)
        (name, med, spr, err, noisy, n)
    }
    val suspectNames = suspectsOf(results)
    // a window-suspect query whose published number now comes from a
    // probe-verified clean window drops the flag; only the ones still
    // carrying a hot-window measurement stay flagged
    val windowSuspectFinal =
      (winSuspectNames -- cleanPublished).toSeq.sorted
    // environment sentinel: flag the RUN on whole-run contention —
    // better-boundary-probe rule OR majority-hot-windows rule (the
    // per-window sentinel handles anything smaller)
    val probeBest = math.min(probeStart, probeEnd)
    val envSuspect = envSuspectFlag(probeStart, probeEnd, probes, prevProbe)
    def calibJson(dp: Int): String =
      s""""calibration":{"probe_start":${fmt(probeStart, dp)},""" +
        s""""probe_end":${fmt(probeEnd, dp)},"probe_median":${fmt(probeBest, dp)},""" +
        s""""probe_prior":${prevProbe.map(fmt(_, dp)).getOrElse("null")},""" +
        s""""probe_windows":${probes.map(fmt(_, dp)).mkString("[", ",", "]")}},""" +
        s""""environment_suspect":$envSuspect"""
    val cleanPairs = results.collect { case (k, v, _, None, _, _) => (k, v) }
    // Window-normalized board (round-18): every published median
    // deflated by its own measurement window's probe ratio
    // ([[normalizedMedian]]) — `queries_norm`/`norm_total` are the
    // drift-corrected engine-cost claims a reader diffs across rounds
    // when the raw column moved with the host. `norm_calib` validates
    // the correction against the 20 clean-bracket anchors: the median
    // of normalized-median over clean-anchor across anchored queries
    // (~1.0 → the probe-linear model held this run; >>1 → the window
    // ratios under-corrected and raw anchors remain the better claim).
    val normPairs = cleanPairs.map { case (k, v) =>
      val (lo, hi) = bracketOf.getOrElse(k, (probeFloor, probeFloor))
      (k, normalizedMedian(v, lo, hi, probeFloor))
    }
    val normTotal = normPairs.map(_._2).sum
    val normByName = normPairs.toMap
    val anchorRatios = anchorTimes.toSeq.flatMap { case (k, a) =>
      normByName.get(k).filter(_ => a > 0.0).map(_ / a) }
    val normCalibRatio =
      if (anchorRatios.isEmpty) None else Some(median(anchorRatios))
    // norm gating (round-19): the corrected total publishes only when
    // the anchors validated the probe-linear model this run
    // ([[normCalibrationValid]]) — otherwise norm_total is null and
    // norm_suppressed carries the reason, so a failed calibration can
    // never be read as engine cost. norm_ratio_anchor always publishes.
    val normValid = normCalibrationValid(normCalibRatio)
    val normSuppressedReason: Option[String] =
      if (normValid) None
      else Some(normCalibRatio match {
        case Some(r) => f"anchor_ratio_$r%.3f_outside_[0.9,1.1]"
        case None    => "no_clean_anchors"
      })
    def normTotalJson(dp: Int): String =
      (if (normValid) s""""norm_total":${fmt(normTotal, dp)},"""
       else s""""norm_total":null,"norm_suppressed":${jstr(normSuppressedReason.get)},""")
    val partialPairs = results.collect { case (k, v, _, Some(_), _, n) if n > 0 => (k, v) }
    val qPairs = (cleanPairs ++ partialPairs).sortBy(_._1)
    val total = cleanPairs.map(_._2).sum
    val nFailed = results.count(_._4.isDefined)
    val noisyNames = results.collect { case (k, _, _, _, true, _) => k }
    val partialNames = partialPairs.map(_._1)
    def jarr(ns: Seq[String]) = ns.map(jstr).mkString("[", ",", "]")
    // STDOUT uses the short `qNN` id per query (the `_`-suffix trimmed);
    // the 66-query round blew the 2000-char tail window on full names
    // alone (names total 1067 chars) and the line degraded to the no-map
    // fallback — which would strip BENCH_r{N} of per-query data. Short
    // ids keep the map ~850 chars smaller and scale past 100 queries.
    // Full names always live in the file artifact; consumers
    // (bench_history.py, the cross-round guard here) rekey by prefix.
    // Defensive: if two names ever collide on their short id, those keep
    // full names so the map never silently merges queries.
    def shortName(n: String): String = n.takeWhile(_ != '_')
    val shortCounts = qPairs.groupBy(p => shortName(p._1)).map { case (s, g) => (s, g.size) }
    def stdoutKey(n: String): String = {
      val s = shortName(n)
      if (shortCounts.getOrElse(s, 0) > 1) n else s
    }
    def jarrShort(ns: Seq[String]) = ns.map(n => jstr(stdoutKey(n))).mkString("[", ",", "]")
    // compact=true replaces the noisy/partial NAME lists with counts
    // ("n_noisy"/"n_partial") — those lists are diagnostic, and in a
    // contended 86-query run they alone overflowed the tail window and
    // cost round 10 its entire per-query map. suspect/rescued/
    // window_suspect keep their names at every level: they are the
    // semantically load-bearing flags (they say which numbers to
    // distrust), and they shrink as the environment gets cleaner, not
    // as the query count grows.
    def head(dp: Int, compact: Boolean): String = {
      val noiseFlags =
        if (compact) s""""n_noisy":${noisyNames.size},"n_partial":${partialNames.size},"""
        else s""""noisy":${jarrShort(noisyNames)},"partial":${jarrShort(partialNames)},"""
      s"""{"metric":"total","value":${fmt(total, dp)},"unit":"sec","reps":$reps,""" +
        s""""n_failed":$nFailed,""" + noiseFlags +
        s""""suspect":${jarrShort(suspectNames)},"rescued":${jarrShort(rescuedNames.toSeq)},""" +
        s""""window_suspect":${jarrShort(windowSuspectFinal)},""" +
        s""""anchor_total":${fmt(anchorTimes.values.sum, dp)},""" +
        s""""anchor_n":${anchorTimes.size},"anchor_of":${anchorNames.size},""" +
        normTotalJson(dp) +
        s""""norm_ratio_anchor":${normCalibRatio.map(fmt(_, 3)).getOrElse("null")},""" +
        calibJson(if (compact) 2 else 3)
    }
    def stdoutLine(dp: Int, compact: Boolean): String = {
      val qs = qPairs.map { case (k, v) => jstr(stdoutKey(k)) + ":" + fmt(v, dp) }
        .mkString("{", ",", "}")
      head(dp, compact) + s""","queries":$qs,"sf":${jstr(sfDirOrig)}}"""
    }
    // ultra level (round 14): 145 queries overflowed even the
    // compact-flags 2dp line (the map alone is 1641 chars against a
    // ~465-char head) and round 13's per-query map survived only in the
    // untracked bench.json. The ultra line keeps the map — the
    // artifact's whole point — by shedding everything else: bare
    // numeric keys ("43", not "q43"; priorOf/bandOf and
    // bench_history.py re-prefix), every name list becomes a count, and
    // calibration shrinks to the two scalars the sentinels need.
    // Measured at 145 queries: ~1.78 KB at 2dp, ~1.63 KB at 1dp.
    def ultraKey(n: String): String = {
      val s = stdoutKey(n)
      if (s.startsWith("q") && s.drop(1).forall(_.isDigit)) s.drop(1) else s
    }
    def ultraLine(dp: Int): String = {
      val qs = qPairs.map { case (k, v) => jstr(ultraKey(k)) + ":" + fmt(v, dp) }
        .mkString("{", ",", "}")
      // suspect/rescued/window_suspect keep their NAME arrays even at
      // ultra level — they say WHICH published numbers to distrust, and
      // on a clean run they are [] so they cost ~2 chars each. Only the
      // purely diagnostic noisy/partial lists shrink to counts.
      def ultraArr(ns: Seq[String]) = ns.map(n => jstr(ultraKey(n))).mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total, dp)},"unit":"sec","reps":$reps,""" +
        s""""n_failed":$nFailed,"n_noisy":${noisyNames.size},"n_partial":${partialNames.size},""" +
        s""""suspect":${ultraArr(suspectNames)},"rescued":${ultraArr(rescuedNames.toSeq)},""" +
        s""""window_suspect":${ultraArr(windowSuspectFinal)},""" +
        s""""anchor_total":${fmt(anchorTimes.values.sum, dp)},"anchor_n":${anchorTimes.size},""" +
        s""""anchor_of":${anchorNames.size},""" +
        normTotalJson(dp) +
        s""""norm_ratio_anchor":${normCalibRatio.map(fmt(_, 2)).getOrElse("null")},""" +
        s""""calibration":{"probe_median":${fmt(probeBest, dp)},""" +
        s""""probe_prior":${prevProbe.map(fmt(_, dp)).getOrElse("null")}},""" +
        s""""environment_suspect":$envSuspect,""" +
        s""""queries":$qs,"sf":${jstr(sfDirOrig)}}"""
    }
    // qv rung (round-20, verdict item 1): when even the 1dp ultra map
    // cannot fit — 202 queries need ~10 chars each there — the medians
    // pack as ONE integer-centisecond array in short-id order
    // ([[qvEncode]]): ~4-5 chars/query, ~1.0 KB at 202 queries, so the
    // driver's 2000-char tail keeps per-query data instead of falling
    // to the map-less fallback that left PERF_r19 with n_common = 0.
    def qvRung: Option[String] = qvEncode(qPairs).map { case (n, arr) =>
      def ultraArr(ns: Seq[String]) = ns.map(x => jstr(ultraKey(x))).mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","reps":$reps,""" +
        s""""n_failed":$nFailed,"n_noisy":${noisyNames.size},"n_partial":${partialNames.size},""" +
        s""""suspect":${ultraArr(suspectNames)},"rescued":${ultraArr(rescuedNames.toSeq)},""" +
        s""""window_suspect":${ultraArr(windowSuspectFinal)},""" +
        s""""anchor_total":${fmt(anchorTimes.values.sum, 2)},"anchor_n":${anchorTimes.size},""" +
        s""""anchor_of":${anchorNames.size},""" +
        normTotalJson(2) +
        s""""norm_ratio_anchor":${normCalibRatio.map(fmt(_, 2)).getOrElse("null")},""" +
        s""""calibration":{"probe_median":${fmt(probeBest, 2)},""" +
        s""""probe_prior":${prevProbe.map(fmt(_, 2)).getOrElse("null")}},""" +
        s""""environment_suspect":$envSuspect,""" +
        s""""qn":$n,"qv":${arr.mkString("[", ",", "]")},"sf":${jstr(sfDirOrig)}}"""
    }
    // 2000-char driver tail-capture window; leave slack for a stray
    // trailing log line. Fallback ladder (round-11: round 10's 86-query
    // contended run fell past 2dp straight to the no-map fallback and
    // the round's per-query history was lost): full 3dp → full 2dp →
    // compact-flags 2dp (counts for noisy/partial) → ultra 2dp → ultra
    // 1dp → qv centisecond array → no-map. The per-query map is the
    // artifact's whole point; it is dropped only when nothing else fits.
    val line =
      (Seq(stdoutLine(3, compact = false), stdoutLine(2, compact = false),
          stdoutLine(2, compact = true), ultraLine(2), ultraLine(1))
        ++ qvRung.toSeq)
        .find(_.length <= 1900)
        .getOrElse(head(3, compact = true) +
          s""","queries_in":"bench.json","sf":${jstr(sfDirOrig)}}""")
    // full-precision artifact: spreads + errors + per-query rep counts
    // live here, not on stdout
    val spreads = results.map { case (k, _, s, _, _, _) => jstr(k) + ":" + fmt(s, 3) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _, _) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val repCounts = results.map { case (k, _, _, _, _, n) => jstr(k) + ":" + n }
      .mkString("{", ",", "}")
    val qsFull = qPairs.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val anchorsJson = anchorTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    // queries_norm suppresses WITH norm_total (round-19 review): a
    // reader summing the per-query normalized medians of a failed
    // calibration would reconstruct exactly the deflated total the
    // gate refuses to publish
    val qsNorm =
      if (!normValid) "{}"
      else normPairs.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + fmt(v, 4) }
        .mkString("{", ",", "}")
    val fileJson =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qsFull,"queries_norm":$qsNorm,${normTotalJson(4)}"norm_ratio_anchor":${normCalibRatio.map(fmt(_, 4)).getOrElse("null")},"spread":$spreads,"errors":$errs,"rep_counts":$repCounts,"n_failed":$nFailed,"noisy":${jarr(noisyNames)},"partial":${jarr(partialNames)},"suspect":${jarr(suspectNames)},"rescued":${jarr(rescuedNames.toSeq)},"window_suspect":${jarr(windowSuspectFinal)},"anchor_total":${fmt(anchorTimes.values.sum, 4)},"anchor_n":${anchorTimes.size},"anchor_of":${anchorNames.size},"anchors":$anchorsJson,${calibJson(4)},"sf":${jstr(sfDirOrig)}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    Files.writeString(Paths.get(outPath), fileJson + "\n")
    // the UNCONDITIONAL map sidecar (round-16, r15 verdict #1): the
    // stdout tail window has orphaned two rounds' per-query maps (r10,
    // r15) and bench.json is both gitignored and overwritten by the
    // next run. This twin is not gitignored — a round-end commit
    // preserves it — and the prev-artifact parse above pairs it with a
    // map-less driver artifact by total (±0.1 s). Best-effort: the
    // sidecar must never fail the bench.
    // ... except on a SPARK_GRAFT_BENCH_ONLY subset run: a partial map
    // must never shadow the standing full-registry twin.
    // BENCH_map_c{cpus}.json (round-20, verdict item 1): the driver's
    // 8-core scaling run used to clobber the 32-core map because both
    // wrote the same standing file — per-core-count names keep each
    // run's map alive for the round-end commit.
    if (onlyPrefixes.isEmpty)
      Seq("BENCH_rNEXT_map.json", s"BENCH_map_c$cpus.json").foreach { f =>
        try Files.writeString(
          Paths.get(outPath).toAbsolutePath.resolveSibling(f),
          fileJson + "\n")
        catch { case _: Throwable => () }
      }
    spark.stop()
    // last line of output, after Spark's shutdown logging is done
    println(line)
    System.out.flush()
  }
}
