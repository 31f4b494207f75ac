package graft

import org.scalatest.funsuite.AnyFunSuite

/** The in-test PERF GATE (r10 verdict item 8): a perf regression on
  * the expensive slice of the entry surface fails `sbt test` the way
  * a plan regression already does, instead of waiting for the
  * per-round `runMain graft.BenchLedger`.
  *
  * Protocol — identical to the ledger main's, NOT an in-suite timing:
  * the suite JVM runs local[4] with every other suite's cache wake,
  * so it launches ONE isolated child JVM (same classpath and module
  * flags, the ledger's recorded `local[N]` — local[32] for the
  * committed ledger — never the inherited SPARK_GRAFT_CPUS, sf0.1,
  * seeded-random order, warm pass then timed pass) over the gate slice
  * and applies the committed ledger's variance-aware dual-gate
  * predicate to the child's measurements.
  *
  * Slice: entries with committed median ≥ [[BenchGateSpec.MinMedian]]
  * — the band where a real regression (the r10 etl_profile_table
  * 2.98→3.92 s class) is detectable above the measured ambient noise
  * floor — MINUS the mechanically-derived ambient-bimodal class (see
  * [[bimodal]]); sub-band and bimodal entries stay covered by the
  * per-round 3-sweep main. Measured on the committed r10/r11 raw
  * sweeps, a single fresh reading false-alarms on the stable slice at
  * 1.7% (docs/BENCH_LEDGER.md). Flagged entries get ONE confirming
  * re-measurement in a second child JVM (min of the two readings)
  * before failing — a single GC pause or C2 recompile in the child
  * must not fail the build.
  *
  * CONTENTION SELF-SKIP (r11 verdict item 1): sweep timings are only
  * meaningful when the gate's child JVM has the box to itself. The
  * r11 closing run failed exactly because it didn't — the driver's
  * own sf0.1 bench shared the 32 cores and two untouched entries read
  * ~2× their medians. The gate now measures the all-cores ambient
  * canary ([[BenchLedger.canarySecs]]) against the value committed
  * beside the ledger and SELF-SKIPS (a loud TestCanceled, not a
  * failure and not silence) when the box is contended — checked both
  * BEFORE sweeping and again before turning a confirmed mover into a
  * failure, so contention that starts mid-gate is also caught. The
  * old manual GRAFT_SKIP_PERF_GATE env knob remains as a dev-loop
  * escape only; contention no longer needs it.
  *
  * HARDWARE-SHAPE SELF-SKIP: the canary detects contention, not core
  * count — an idle 4-core box reads the same as the idle 32-core box
  * the ledger was measured on, yet its sweep timings are a different
  * measurement. The ledger records its shape (`# cores`,
  * `# parallelism`); on a box whose core count differs, the gate
  * cancels (a loud TestCanceled naming both shapes) instead of
  * comparing unlike hardware.
  */
class BenchGateSpec extends AnyFunSuite {

  val MinMedian = 2.0
  private val SfDir = "/root/testdata/sf0.1"

  /** Entries whose committed RAW sweep history (bench/benchledger_
    * r*_sweep*.tsv) is measurably BIMODAL — max/min > 1.6× and
    * max−min > 0.5 s across all committed readings. Three sweeps can
    * land entirely in one mode, so the stored spread under-states
    * these entries' ambient band and no per-reading gate has power
    * over them; they are info-reported here and adjudicated by the
    * per-round 3-sweep median in `runMain graft.BenchLedger` instead.
    * Derived mechanically from the committed records, never
    * hand-pinned. */
  private def bimodal: Set[String] = {
    val sweeps = Option(new java.io.File("bench").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches("benchledger_r\\d+_sweep\\d+\\.tsv"))
    // only the LATEST two rounds of raw sweeps: a code change that
    // legitimately moved an entry between old rounds must not label
    // it bimodal forever
    def round(f: java.io.File): Int =
      "benchledger_r(\\d+)_".r.findFirstMatchIn(f.getName).get.group(1).toInt
    val keepRounds = sweeps.map(round).distinct.sorted.takeRight(2).toSet
    val readings = sweeps.filter(f => keepRounds(round(f)))
      .flatMap(f => BenchLedger.read(f.getPath).toSeq)
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2) }
    readings.collect {
      case (n, xs) if xs.max / xs.min > 1.6 && xs.max - xs.min > 0.5 => n
    }.toSet
  }

  test(s"perf gate: every STABLE entry with committed median >= " +
      s"$MinMedian s re-measures inside its variance-aware band " +
      "(isolated JVM, sf0.1; self-skips under ambient contention)") {
    assume(sys.env.get("GRAFT_SKIP_PERF_GATE").isEmpty,
      "GRAFT_SKIP_PERF_GATE=1 set")
    assume(new java.io.File(SfDir).isDirectory, s"$SfDir absent")
    val rawSweeps = Option(new java.io.File("bench").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .exists(_.getName.matches("benchledger_r\\d+_sweep\\d+\\.tsv"))
    assume(rawSweeps, "bench/benchledger_r*_sweep*.tsv not found — " +
      "run from the repo root (bimodal derivation needs the raw sweeps)")
    val stored = BenchLedger.readFull(BenchLedger.File)
    assert(stored.nonEmpty, s"${BenchLedger.File} missing")
    val committedCanary =
      BenchLedger.readMeta(BenchLedger.File).get("canary").map(_.toDouble)
    assert(committedCanary.nonEmpty, s"${BenchLedger.File} carries no " +
      "'# canary' metadata — regen the ledger (GRAFT_UPDATE_LEDGER=1 " +
      "runMain graft.BenchLedger) so the contention self-skip has a baseline")
    val ledgerShape = BenchLedger.readShape(BenchLedger.File)
    assert(ledgerShape.nonEmpty, s"${BenchLedger.File} carries no " +
      "'# cores'/'# parallelism' metadata — the gate cannot know which " +
      "hardware its medians came from")
    // the gate's child runs at the ledger's parallelism, so only the
    // box's core count can differ
    val boxShape = BenchLedger.Shape(
      Runtime.getRuntime.availableProcessors(), ledgerShape.get.parallelism)
    val mismatch = BenchLedger.shapeMismatch(ledgerShape, boxShape)
    assume(mismatch.isEmpty,
      s"HARDWARE SHAPE MISMATCH — perf gate cancelled: ${mismatch.getOrElse("")}. " +
        "The canary detects contention, not core count, so timings from " +
        "this box would be compared with unlike hardware. Run `sbt test` " +
        "on a box of the ledger's shape to gate perf.")
    def contended(stage: String): Boolean = {
      val now = BenchLedger.canarySecs()
      val limit = committedCanary.get * BenchLedger.CanaryK
      info(f"ambient canary ($stage): $now%.2f s " +
        f"(committed ${committedCanary.get}%.2f s, self-skip above $limit%.2f s)")
      now > limit
    }
    assume(!contended("gate start"),
      "AMBIENT CONTENTION — perf gate self-skipped: the all-cores " +
        "canary exceeds its committed envelope, so another full-width " +
        "load shares this box and sweep timings would measure the " +
        "scheduler, not the code. Re-run `sbt test` on an idle box.")

    val bim = bimodal
    val slice = stored.collect {
      case (n, e) if e.median >= MinMedian && !bim(n) &&
        SparkEntry.queries.contains(n) => n
    }.toSeq.sorted
    assert(slice.nonEmpty, "gate slice empty — MinMedian too high?")
    info(s"gate slice: ${slice.size} entries, committed total " +
      f"${slice.map(stored(_).median).sum}%.1f s; " +
      s"${bim.count(n => stored.get(n).exists(_.median >= MinMedian))} " +
      "bimodal entries excluded (3-sweep-median adjudicated instead)")

    val tmp = java.nio.file.Files.createTempDirectory("graft_benchgate")
    def sweep(seed: Int, names: Seq[String]): Map[String, Double] = {
      val out = s"$tmp/gate_$seed.tsv"
      BenchLedger.runSweep(seed, SfDir, out, Some(names.mkString(",")),
        ledgerShape.get.parallelism)
      BenchLedger.read(out)
    }
    val now = sweep(seed = 11, slice)
    val missing = slice.filterNot(now.contains)
    assert(missing.isEmpty, s"gate sweep failed to measure: $missing")
    val flagged = slice.filter(n => BenchLedger.isMover(stored(n), now(n)))
    val confirmed =
      if (flagged.isEmpty) Seq.empty
      else {
        info(s"flagged on first measurement, confirming: $flagged")
        val again = sweep(seed = 12, flagged)
        flagged.filter { n =>
          val best = math.min(now(n), again.getOrElse(n, now(n)))
          BenchLedger.isMover(stored(n), best)
        }
      }
    // contention can START mid-gate (the r11 failure: the driver's
    // bench kicked off while the suite ran) — re-read the canary
    // before turning a confirmed mover into a red suite
    if (confirmed.nonEmpty)
      assume(!contended("pre-fail recheck"),
        "AMBIENT CONTENTION AROSE MID-GATE — self-skipped: " +
          s"flagged $confirmed, but the canary shows the box became " +
          "loaded during the gate, so the readings are not attributable " +
          "to code. Re-run `sbt test` on an idle box.")
    assert(confirmed.isEmpty,
      "PERF REGRESSION (confirmed in two isolated JVMs, idle box): " +
        confirmed.map(n => f"$n: ${stored(n).median}%.2fs " +
          f"(spread ${stored(n).spread}%.2fs) -> ${now(n)}%.2fs").mkString("; ") +
        " — if intended, regen the ledger " +
        "(GRAFT_UPDATE_LEDGER=1 runMain graft.BenchLedger) and commit the diff")
  }
}
