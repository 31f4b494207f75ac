package graft

/** The PERF ledger (r9 verdict item 1): per-entry wall times as
  * committed, diffable data — the timing analogue of the L6 plan
  * ledger. Two rounds running, bench-sweep timing bands were
  * adjudicated by narrative ("cache state"); this makes the
  * adjudication mechanical.
  *
  * Why the in-sweep Bench numbers can't be the ledger: a single
  * alphabetical sweep in one JVM confounds an entry's cost with its
  * NEIGHBORS' — JIT/C2 state, the JVM's heap shape, Spark's file-
  * listing and codegen caches, and the OS page cache all depend on
  * what ran before, so an entry-list registration change moves the
  * timings of entries whose code never changed (the r8 zonemap and r9
  * 8-entry bands). The ledger protocol removes each confound:
  *
  *   - ISOLATED JVMs: each sweep is a fresh `java` child process (same
  *     classpath/module flags as the sbt fork), so no cross-sweep JIT
  *     or heap state survives;
  *   - RANDOMIZED order: each sweep times entries in a seeded-random
  *     permutation (seed = sweep index — reproducible), so no entry
  *     systematically inherits its alphabetical predecessor's wake;
  *   - MEDIAN of sweeps: one GC pause or C2 recompilation can poison
  *     one sweep; it cannot move the median.
  *
  * VARIANCE-AWARE GATE (r10 verdict item 3): the committed ledger
  * stores each entry's median AND its cross-sweep spread (max−min).
  * The r10 sweeps measured ambient spread at median 1.38×, p90 2.13×
  * — a fixed 1.3×/+0.3 s band has weak power exactly where sub-second
  * entries live. The mover predicate is therefore
  * `now > median·1.3 AND now − median > max(0.3 s, SpreadK·spread)`:
  * the absolute arm scales with the entry's OWN measured noise floor,
  * so a 0.4 s entry that ambiently wanders ±0.5 s cannot false-alarm,
  * while a stable 3 s entry still trips at +1 s.
  *
  * Contract mirror of LedgerSpec: `ledger/bench_times.tsv` is
  * committed (`name\tmedian\tspread`); `runMain graft.BenchLedger`
  * re-measures and FAILS (exit 1) on any unadjudicated mover.
  * Improvements are reported, never failed. Adjudicated regen:
  * GRAFT_UPDATE_LEDGER=1 rewrites the ledger; commit the diff with the
  * change that caused it. BenchLedgerSpec keeps the ledger well-formed
  * and in sync with the entry set and unit-tests the mover math;
  * BenchGateSpec additionally re-measures the expensive slice of the
  * surface inside the standard test run (r10 verdict item 8), so a
  * perf regression fails `sbt test` the way a plan regression already
  * does. The full measurement remains a per-round main (a 3-JVM sf0.1
  * sweep is minutes, not test-suite material).
  */
object BenchLedger {

  val File = "ledger/bench_times.tsv"

  /** Committed per-entry record: median of the isolated-JVM sweeps
    * and their spread (max − min) — the entry's own measured ambient
    * noise band. */
  final case class Entry(median: Double, spread: Double)

  /** Multiplier on the entry's own cross-sweep spread in the absolute
    * arm of the mover gate: a regression must clear the entry's
    * ambient wander with margin, not just a fixed band. */
  val SpreadK = 1.5

  /** `> 1.3× AND > max(+0.3 s, SpreadK·spread)` — the ratio arm stops
    * big entries flagging on a fixed band, the absolute arm stops tiny
    * entries flagging on ratio alone, and the spread term stops noisy
    * entries flagging inside their own measured ambient band. */
  def isMover(stored: Entry, now: Double): Boolean =
    now > stored.median * 1.3 &&
      now - stored.median > math.max(0.3, SpreadK * stored.spread)

  /** Pre-r11 fixed-band predicate, kept for the false-alarm-rate
    * comparison over committed raw sweeps (docs/bench_ledger.md). */
  def isMoverFixedBand(stored: Double, now: Double): Boolean =
    now > stored * 1.3 && now - stored > 0.3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private[graft] def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Gate on the ambient-load canary: a fresh canary reading above
    * `committed × CanaryK` means the box is sharing its cores with
    * another full-width load (the r11 closing failure: the driver's
    * sf0.1 bench ran concurrently with `sbt test` and the perf gate
    * flagged two untouched entries at ~2× their medians — exactly the
    * slowdown a 2-threads-per-core schedule produces). Idle-box
    * re-reads of the canary sit within ~1.2×; a concurrent 32-thread
    * bench doubles it, so 1.4 separates the regimes with margin on
    * both sides. */
  val CanaryK = 1.4

  /** Ambient-load canary: wall seconds of a FIXED all-cores CPU
    * workload — one spin thread per core, each mixing a constant
    * number of 64-bit hash rounds (no allocation, no IO, no locale).
    * On an idle box this reads a near-constant ~0.5 s; under a
    * concurrent full-width load each thread gets ~half a core and the
    * reading ~doubles — the exact contention mode that poisons sweep
    * timings. Recorded in every sweep TSV and beside the committed
    * ledger (r11 verdict item 5) so mover adjudication is mechanical,
    * and consumed by BenchGateSpec's self-skip (r11 verdict item 1).
    *
    * The canary detects CONTENTION, not core count: with one thread
    * per available core it measures per-core throughput, so an idle
    * 4-core box reads the same as an idle 32-core one. Which hardware
    * a ledger came from is the separate [[Shape]] metadata. */
  def canarySecs(): Double = {
    def spin(rounds: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < rounds) {
        x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
        x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
        i += 1
      }
      x
    }
    val perThread = 200000000L
    spin(perThread / 10) // OSR/JIT warmup on the calling thread
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val threads = (1 to Runtime.getRuntime.availableProcessors()).map { _ =>
      val t = new Thread(() => sink.addAndGet(spin(perThread)))
      t.start(); t
    }
    threads.foreach(_.join())
    if (sink.get() == 42) println(sink.get()) // defeat dead-code elim
    (System.nanoTime() - t0) / 1e9
  }

  /** Metadata lines (`# key\tvalue`) at the top of ledger/sweep TSVs
    * — ambient-load context beside the timings. [[readFull]]/[[read]]
    * skip them, so consumers of the timing map are unaffected. */
  def readMeta(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(_.startsWith("# "))
      .map { l =>
        val p = l.drop(2).split("\t", 2)
        p(0) -> p.lift(1).getOrElse("")
      }.toMap
  }

  /** The hardware shape a sweep ran at: the box's core count
    * (`availableProcessors`) and the N of the sweep session's
    * `local[N]`. Timings compare only between equal shapes — an sf0.1
    * entry at local[32] on 32 cores and at local[32] on 4 cores are
    * different measurements, and the canary cannot tell them apart. */
  final case class Shape(cores: Int, parallelism: Int) {
    def meta: Map[String, String] =
      Map("cores" -> cores.toString, "parallelism" -> parallelism.toString)
    override def toString = s"$cores cores, local[$parallelism]"
  }

  /** The shape recorded in a ledger/sweep file's metadata, if any. */
  def readShape(path: String): Option[Shape] = {
    val m = readMeta(path)
    for (c <- m.get("cores"); p <- m.get("parallelism"))
      yield Shape(c.toInt, p.toInt)
  }

  /** Why timings measured at `measured` may not be merged into, or
    * compared against, a ledger of the `committed` shape; None when
    * they may. A ledger without a recorded shape (none committed yet)
    * accepts any. */
  def shapeMismatch(committed: Option[Shape], measured: Shape): Option[String] =
    committed.filter(_ != measured)
      .map(c => s"the ledger was measured at $c, this run at $measured")

  private def writeMeta(w: java.io.PrintWriter,
      meta: Map[String, String]): Unit =
    meta.toSeq.sortBy(_._1).foreach { case (k, v) => w.println(s"# $k\t$v") }

  /** Slower-movers (failures) and faster-movers (informational). */
  def compare(stored: Map[String, Entry], now: Map[String, Double])
      : (Seq[String], Seq[String]) = {
    val shared = stored.keySet intersect now.keySet
    def fmt(n: String) =
      s"$n: ${fmt3(stored(n).median)}s -> ${fmt3(now(n))}s " +
        s"(${fmt3(now(n) / stored(n).median)}x, spread ${fmt3(stored(n).spread)}s)"
    val slower = shared.toSeq.filter(n => isMover(stored(n), now(n)))
      .sortBy(n => -(now(n) - stored(n).median)).map(fmt)
    val faster = shared.toSeq
      .filter(n => isMover(Entry(now(n), stored(n).spread), stored(n).median))
      .sortBy(n => now(n) - stored(n).median).map(fmt)
    (slower, faster)
  }

  /** Read a committed ledger (`name\tmedian\tspread`); 2-column lines
    * (sweep files, pre-r11 ledgers) parse with spread 0. Parsing is
    * Locale.ROOT by construction — `toDouble` only accepts the
    * dot-decimal form [[write]]/[[writeFull]] emit. */
  def readFull(path: String): Map[String, Entry] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
      .filterNot(_.startsWith("#"))
      .map { l =>
        l.split("\t") match {
          case Array(k, m, s) => k -> Entry(m.toDouble, s.toDouble)
          case Array(k, m) => k -> Entry(m.toDouble, 0.0)
          case other => sys.error(
            s"$path: malformed ledger line '${l.take(120)}' (${other.length} fields)")
        }
      }.toMap
  }

  /** Medians only — the shape sweep files use. */
  def read(path: String): Map[String, Double] =
    readFull(path).map { case (k, e) => k -> e.median }

  /** Write a 2-column `name\tsec` file (per-sweep outputs). Formats
    * with an explicit root locale: a comma-decimal default locale must
    * not produce a file [[read]] cannot parse back. */
  def write(path: String, m: Map[String, Double],
      meta: Map[String, String] = Map.empty): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f)
    try {
      writeMeta(w, meta)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        w.println(s"$k\t${fmt3(v)}")
      }
    } finally w.close()
  }

  /** Write the committed 3-column ledger (root-locale formatting,
    * same rationale as [[write]]). */
  def writeFull(path: String, m: Map[String, Entry],
      meta: Map[String, String] = Map.empty): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f)
    try {
      writeMeta(w, meta)
      m.toSeq.sortBy(_._1).foreach { case (k, e) =>
        w.println(s"$k\t${fmt3(e.median)}\t${fmt3(e.spread)}")
      }
    } finally w.close()
  }

  /** The sbt fork's JDK-17 module flags (build.sbt's jdk17AddOpens) —
    * child JVMs need the identical set to create a SparkSession. */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run one isolated-JVM sweep at `local[parallelism]` — set
    * explicitly, never inherited from the caller's SPARK_GRAFT_CPUS, so
    * a sweep measures at the shape of the ledger it is compared with. */
  private[graft] def runSweep(sweep: Int, sfDir: String, out: String,
      only: Option[String], parallelism: Int): Unit = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "16g")}",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"),
      "graft.BenchSweep", sweep.toString, sfDir, out) ++ only.toSeq
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", parallelism.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    // drain the child's stdout so it can't block on a full pipe; echo
    // progress lines only
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    Iterator.continually(br.readLine()).takeWhile(_ != null)
      .filter(l => l.startsWith("[sweep]") || l.contains("Exception"))
      .foreach(System.err.println)
    require(p.waitFor() == 0, s"sweep $sweep JVM failed")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sweeps = sys.env.getOrElse("GRAFT_SWEEPS", "3").toInt
    val only = sys.env.get("GRAFT_SWEEP_ONLY") // comma-joined, dev loop
    val update = sys.env.get("GRAFT_UPDATE_LEDGER").contains("1")
    // sweeps run at the committed ledger's parallelism; a ledger of
    // another shape is neither compared against nor merged into (the
    // check runs before sweeping, and again on what the sweeps recorded)
    val committedShape = readShape(File)
    val parallelism = committedShape.map(_.parallelism)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def refuse(why: String): Nothing = {
      System.err.println(s"[benchledger] REFUSED, $File left unchanged: $why. " +
        "Timings only compare on the ledger's own shape; to move the ledger " +
        "to another box, delete it and regenerate it in full there.")
      sys.exit(2)
    }
    val shape = Shape(Runtime.getRuntime.availableProcessors(), parallelism)
    shapeMismatch(committedShape, shape).foreach(refuse)
    val tmp = java.nio.file.Files.createTempDirectory("graft_benchledger")
    val sweepFiles = (0 until sweeps).map { i =>
      val out = s"$tmp/sweep_$i.tsv"
      System.err.println(s"[benchledger] sweep $i/$sweeps (isolated JVM, seed $i)")
      runSweep(i, sfDir, out, only, parallelism)
      out
    }
    // a SPARK_GRAFT_MASTER override can run a sweep at another shape
    // than it was started at
    sweepFiles.foreach { f =>
      if (!readShape(f).contains(shape)) refuse(s"sweep $f ran at " +
        s"${readShape(f).getOrElse("an unrecorded shape")}, not at $shape")
    }
    val perSweep = sweepFiles.map(read)
    // each sweep's child JVM records its own ambient canary (readMeta);
    // the committed ledger carries the sweeps' median so the gate and
    // future adjudication have a mechanical load reference
    val canaries = sweepFiles.flatMap(f => readMeta(f).get("canary"))
      .map(_.toDouble)
    if (canaries.nonEmpty)
      println(s"[benchledger] sweep canaries: " +
        canaries.map(fmt3).mkString(", ") + " s")
    val names = perSweep.map(_.keySet).reduce(_ intersect _)
    val measured = names.map { n =>
      val xs = perSweep.map(_(n))
      n -> Entry(median(xs), xs.max - xs.min)
    }.toMap
    val medians = measured.map { case (k, e) => k -> e.median }
    val stored = readFull(File)

    if (update) {
      // a GRAFT_SWEEP_ONLY top-up (e.g. a newly registered entry)
      // merges into the committed ledger; a full run replaces it
      val next = if (only.isDefined) stored ++ measured else measured
      val meta = readMeta(File) ++ shape.meta ++
        (if (canaries.nonEmpty) Map("canary" -> fmt3(median(canaries)))
         else Map.empty)
      writeFull(File, next, meta)
      println(s"[benchledger] ledger ${if (only.isDefined) "topped up" else
        "regenerated"}: ${measured.size} measured, ${next.size} total " +
        s"($sweeps isolated-JVM sweeps, randomized order, median+spread)")
    }
    val (slower, faster) = compare(stored, medians)
    if (faster.nonEmpty)
      println(s"[benchledger] improved (informational):\n  " +
        faster.mkString("\n  "))
    val drift =
      if (only.isDefined) Seq.empty // partial run can't judge the set
      else (stored.keySet -- medians.keySet).toSeq.sorted.map(n => s"removed: $n") ++
        (medians.keySet -- stored.keySet).toSeq.sorted.map(n => s"new: $n")
    if (drift.nonEmpty)
      println(s"[benchledger] entry-set drift (regen needed):\n  " +
        drift.mkString("\n  "))
    if (slower.nonEmpty)
      println("[benchledger] REGRESSED (>1.3x and >max(0.3s, " +
        s"$SpreadK*spread) vs committed median):\n  " + slower.mkString("\n  ") +
        "\n  if intended, regen: GRAFT_UPDATE_LEDGER=1 runMain graft.BenchLedger")
    val total = medians.values.sum
    println(s"[benchledger] ${medians.size} entries, total of medians " +
      s"${fmt3(total)} s, ${slower.size} regressed, ${faster.size} improved")
    if (!update && (slower.nonEmpty || drift.nonEmpty)) sys.exit(1)
  }
}

/** One isolated-JVM sweep: warm every entry once (seeded-random
  * order), then time ONE noop-sink materialization per entry in a
  * DIFFERENT seeded-random order; write `name\tsec` lines. Child
  * process of [[BenchLedger]] — runnable alone for debugging. */
object BenchSweep {

  /** Time one noop-sink materialization per name, in seeded-random
    * order, on an already-warm session. Shared by the isolated-JVM
    * sweep below and BenchGateSpec's in-suite gate. */
  def timeEntries(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      names: Seq[String], seed: Int,
      progressEvery: Int = 50): Map[String, Double] = {
    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    val order = new scala.util.Random(seed * 7919 + 1).shuffle(names)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    order.zipWithIndex.foreach { case (n, i) =>
      try {
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        runOnce(n)
        timings(n) = (System.nanoTime() - t0) / 1e9
        if ((i + 1) % progressEvery == 0)
          println(s"[sweep] seed=$seed ${i + 1}/${names.size}")
      } catch {
        case e: Throwable =>
          // a failed entry is MISSING from the sweep file; BenchLedger's
          // intersect drops it and entry-set drift reports it
          println(s"[sweep] seed=$seed FAILED $n: " +
            Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
      }
    }
    timings.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(seedS, sfDir, out) = args.take(3)
    val seed = seedS.toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = args.lift(3)
      .map(f => { val s = f.split(",").toSet; all.filter(s) }).getOrElse(all)
    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    new scala.util.Random(seed * 7919).shuffle(names).foreach { n =>
      try runOnce(n) catch { case _: Throwable => () } // warm pass
    }
    spark.sqlContext.clearCache()
    // the sweep's ambient-load context, measured JUST before the timed
    // pass in this same child JVM: the canary reading, the 1-min
    // loadavg and the hardware shape go into the TSV header so any
    // later mover adjudication can see what the box was doing (r11
    // verdict item 5) and BenchLedger can refuse unlike hardware
    val canary = BenchLedger.canarySecs()
    val loadavg = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0))
      .getOrElse("")
    val shape = BenchLedger.Shape(Runtime.getRuntime.availableProcessors(),
      spark.sparkContext.defaultParallelism)
    println(f"[sweep] seed=$seed canary $canary%.3f s, loadavg $loadavg, $shape")
    val timings = timeEntries(spark, sfDir, names, seed)
    BenchLedger.write(out, timings, shape.meta ++
      Map("canary" -> BenchLedger.fmt3(canary), "loadavg1" -> loadavg))
    println(s"[sweep] seed=$seed done: ${timings.size}/${names.size} entries")
    spark.stop()
  }
}
