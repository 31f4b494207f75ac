package graft

import org.scalatest.funsuite.AnyFunSuite

/** The perf ledger's fast gates: the committed `ledger/bench_times.tsv`
  * stays well-formed and in sync with the entry set, and the
  * variance-aware mover math is exactly the contract the main (and
  * BenchGateSpec's in-suite measurement) enforces. */
class BenchLedgerSpec extends AnyFunSuite {

  private lazy val ledger = BenchLedger.readFull(BenchLedger.File)

  test("perf ledger exists, parses, and covers exactly the entry set") {
    assert(ledger.nonEmpty, s"${BenchLedger.File} missing — run " +
      "GRAFT_UPDATE_LEDGER=1 sbt 'runMain graft.BenchLedger' and commit it")
    val entries = SparkEntry.queries.keySet
    assert(ledger.keySet === entries,
      "entry set drifted: only-in-ledger=" +
        s"${(ledger.keySet -- entries).toSeq.sorted}, " +
        s"only-current=${(entries -- ledger.keySet).toSeq.sorted} — " +
        "regen the perf ledger (GRAFT_UPDATE_LEDGER=1 runMain graft.BenchLedger)")
  }

  test("ledger times are sane: positive, sub-minute per entry at sf0.1; " +
      "spreads are non-negative and below the pathological band") {
    ledger.foreach { case (n, e) =>
      assert(e.median > 0.0 && e.median < 60.0,
        s"$n: ${e.median} s is outside the sane band")
      assert(e.spread >= 0.0 && e.spread < 30.0,
        s"$n: spread ${e.spread} s is outside the sane band")
    }
  }

  test("mover predicate: ratio arm, absolute arm, AND the entry's own " +
      "spread band must all clear") {
    import BenchLedger.{Entry, isMover}
    // tiny entry, big ratio, small absolute delta: NOT a mover
    assert(!isMover(Entry(0.1, 0.0), now = 0.35))
    // big entry, big absolute delta, small ratio: NOT a mover
    assert(!isMover(Entry(10.0, 0.0), now = 12.0))
    // both fixed gates trip, zero measured spread: mover
    assert(isMover(Entry(1.0, 0.0), now = 1.5))
    // boundary: exactly 1.3x is not a mover (strict >)
    assert(!isMover(Entry(1.0, 0.0), now = 1.3))
    // improvements never count as regressions
    assert(!isMover(Entry(5.0, 0.0), now = 1.0))
    // VARIANCE ARM: same +0.5s delta, but the entry's own sweeps
    // ambiently wander 0.4s — 1.5*0.4 = 0.6 > 0.5, inside the noise
    // floor, NOT a mover...
    assert(!isMover(Entry(1.0, 0.4), now = 1.5))
    // ...while clearing the scaled band IS one
    assert(isMover(Entry(1.0, 0.4), now = 1.7))
    // a stable multi-second entry still trips on the fixed band
    assert(isMover(Entry(3.0, 0.1), now = 4.0))
  }

  test("median: odd picks the middle, even averages, single passes through") {
    assert(BenchLedger.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(BenchLedger.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(BenchLedger.median(Seq(7.0)) === 7.0)
    // one poisoned sweep cannot move the median of three
    assert(BenchLedger.median(Seq(1.0, 1.1, 30.0)) === 1.1)
  }

  test("compare splits slower (failures) from faster (informational)") {
    import BenchLedger.Entry
    val stored = Map("a" -> Entry(1.0, 0.0), "b" -> Entry(2.0, 0.0),
      "c" -> Entry(0.1, 0.0), "gone" -> Entry(1.0, 0.0),
      // d's delta clears the fixed band but not its own spread band
      "d" -> Entry(1.0, 0.5))
    val now = Map("a" -> 1.6, "b" -> 1.0, "c" -> 0.2, "new" -> 1.0,
      "d" -> 1.6)
    val (slower, faster) = BenchLedger.compare(stored, now)
    assert(slower.size === 1 && slower.head.startsWith("a:"))
    assert(faster.size === 1 && faster.head.startsWith("b:"))
  }

  test("write/read round-trips to 3-decimal precision in both shapes, " +
      "and 2-column sweep files parse with spread 0") {
    import BenchLedger.Entry
    val f = java.nio.file.Files.createTempFile("graft_bl", ".tsv").toString
    BenchLedger.write(f, Map("x" -> 1.23456, "y" -> 0.001))
    assert(BenchLedger.read(f) === Map("x" -> 1.235, "y" -> 0.001))
    assert(BenchLedger.readFull(f) ===
      Map("x" -> Entry(1.235, 0.0), "y" -> Entry(0.001, 0.0)))
    val g = java.nio.file.Files.createTempFile("graft_bl3", ".tsv").toString
    BenchLedger.writeFull(g,
      Map("x" -> Entry(1.23456, 0.4567), "y" -> Entry(0.001, 0.0)))
    assert(BenchLedger.readFull(g) ===
      Map("x" -> Entry(1.235, 0.457), "y" -> Entry(0.001, 0.0)))
  }

  test("the shared number formatter is root-locale BY CONSTRUCTION: " +
      "its output is the dot-decimal string regardless of the JVM " +
      "default locale") {
    // asserted on the formatter directly instead of flipping the
    // process-global default Locale (r11 ADVICE: a setDefault in a
    // parallel suite can make any concurrently running f-interpolator
    // emit comma decimals mid-test) — fmt3 names Locale.ROOT
    // explicitly, and every write path goes through it, so pinning its
    // character-level output pins the file format
    assert(BenchLedger.fmt3(1.23456) === "1.235")
    assert(BenchLedger.fmt3(0.001) === "0.001")
    assert(BenchLedger.fmt3(1234.5) === "1234.500")
    // and the emitted text round-trips through the strict parser
    assert(BenchLedger.fmt3(1.23456).toDouble === 1.235)
  }

  test("metadata lines round-trip and never leak into the timing map") {
    import BenchLedger.Entry
    val f = java.nio.file.Files.createTempFile("graft_bl_meta", ".tsv").toString
    BenchLedger.writeFull(f, Map("x" -> Entry(1.0, 0.1)),
      meta = Map("canary" -> "0.512", "loadavg1" -> "3.10"))
    assert(BenchLedger.readMeta(f) ===
      Map("canary" -> "0.512", "loadavg1" -> "3.10"))
    assert(BenchLedger.readFull(f) === Map("x" -> Entry(1.0, 0.1)))
    val g = java.nio.file.Files.createTempFile("graft_bl_meta2", ".tsv").toString
    BenchLedger.write(g, Map("y" -> 2.0), meta = Map("canary" -> "0.498"))
    assert(BenchLedger.read(g) === Map("y" -> 2.0))
    assert(BenchLedger.readMeta(g)("canary") === "0.498")
  }

  test("hardware-shape metadata (cores, parallelism) round-trips beside " +
      "the canary and never leaks into the timing map") {
    import BenchLedger.{Entry, Shape}
    val f = java.nio.file.Files.createTempFile("graft_bl_shape", ".tsv").toString
    BenchLedger.writeFull(f, Map("x" -> Entry(1.0, 0.1)),
      meta = Shape(32, 16).meta ++ Map("canary" -> "0.765"))
    assert(BenchLedger.readMeta(f) ===
      Map("cores" -> "32", "parallelism" -> "16", "canary" -> "0.765"))
    assert(BenchLedger.readShape(f) === Some(Shape(32, 16)))
    assert(BenchLedger.readFull(f) === Map("x" -> Entry(1.0, 0.1)))
    // a file with only one of the two keys has no shape
    val g = java.nio.file.Files.createTempFile("graft_bl_shape2", ".tsv").toString
    BenchLedger.write(g, Map("y" -> 2.0), meta = Map("cores" -> "4"))
    assert(BenchLedger.readShape(g) === None)
  }

  test("shape match: sweeps merge into or compare against a ledger only " +
      "at the ledger's own shape") {
    import BenchLedger.{Shape, shapeMismatch}
    val big = Shape(32, 32)
    assert(shapeMismatch(Some(big), big).isEmpty)
    // same local[32], different box: refused, naming both shapes
    val why = shapeMismatch(Some(big), Shape(4, 32))
    assert(why.exists(w => w.contains("32 cores, local[32]") &&
      w.contains("4 cores, local[32]")))
    // same box, different parallelism: refused
    assert(shapeMismatch(Some(big), Shape(32, 8)).nonEmpty)
    // a ledger with no recorded shape (none committed yet) accepts any
    assert(shapeMismatch(None, Shape(4, 32)).isEmpty)
  }

  test("committed ledger records the hardware shape it was measured on") {
    val shape = BenchLedger.readShape(BenchLedger.File)
    assert(shape.nonEmpty, s"${BenchLedger.File} has no '# cores' and " +
      "'# parallelism' metadata — the perf gate cannot tell which " +
      "hardware its medians came from")
    assert(shape.get.cores > 0 && shape.get.parallelism > 0,
      s"shape ${shape.get} outside the sane band")
  }

  test("committed ledger carries the ambient-load canary the perf " +
      "gate's contention self-skip consumes") {
    val canary = BenchLedger.readMeta(BenchLedger.File).get("canary")
    assert(canary.nonEmpty, s"${BenchLedger.File} has no '# canary' " +
      "metadata — regen (GRAFT_UPDATE_LEDGER=1 runMain graft.BenchLedger)")
    val v = canary.get.toDouble
    assert(v > 0.0 && v < 30.0, s"canary $v s outside the sane band")
  }
}
