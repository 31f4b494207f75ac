package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import scala.collection.mutable
import graft.etl.{JdbcSink, Ledger, Snapshots, ZipEtl}

/** A zip-code record as a drop carries it (one CSV line). */
final case class Rec(fips: Int, state: String, abbr: String, zip: String,
    county: String, city: String, updated: String) {
  def key: String = s"${zip}_$abbr"
  def csv: String = s"$fips,$state,$abbr,$zip,$county,$city,$updated"
}

/** A row of the target table; `elev = None` is an incomplete row. */
final case class Target(rec: Rec, lat: Double, lon: Double, elev: Option[Long],
    tz: String, tzRegion: String, modified: String) {
  def key: String = rec.key
}

/** The reference flow computed in plain Scala, without Spark or graft:
  * last-wins by (zipcode, state_abbr) with the updated/fips/county/city
  * tiebreak, exclusion of complete-and-fresh target rows, the integer
  * enrichment formulas and the tz_region rule, then upsert by key. */
object Model {
  val RunDate = "2026-08-01"
  val FreshFrom: String = LocalDate.parse(RunDate).minusDays(30).toString
  private val Regions = Vector("Eastern", "Central", "Mountain", "Pacific")

  def lastWins(rows: Seq[Rec]): Seq[Rec] =
    rows.groupBy(r => (r.zip, r.abbr)).values
      .map(_.maxBy(r => (r.updated, r.fips, r.county, r.city))).toSeq

  def completeAndFresh(t: Target): Boolean =
    t.elev.isDefined && t.modified >= FreshFrom

  def enrich(r: Rec, modified: String, complete: Boolean = true): Target = {
    val z = r.zip.toLong
    val tzOff = z % 25 - 12
    Target(r, -90 + (z * 7919L % 18000L) / 100.0,
      -180 + (z * 104729L % 36000L) / 100.0,
      if (complete) Some(z * 31L % 4000L) else None,
      "UTC" + (if (tzOff >= 0) s"+$tzOff" else tzOff.toString),
      Regions(r.fips % 4), modified)
  }

  def apply(target: mutable.Map[String, Target], drop: Seq[Rec]): Unit =
    lastWins(drop)
      .filterNot(r => target.get(r.key).exists(completeAndFresh))
      .foreach(r => target(r.key) = enrich(r, RunDate))
}

/** Seeded drops and target, shaped after `data/zipcodes.csv`, graft's own
  * reference input: 7,082 rows over 5,000 distinct (zipcode, state_abbr)
  * keys, where 348 keys appear twice, 345 three times and 348 four times
  * (2,082 duplicate rows, 29 %). Key `id` maps to (zipcode, state) one to
  * one; ids below `seeded` start in the target, in three interleaved
  * classes (id % 3): 0 stale, 1 incomplete, 2 complete and fresh. Drop `d`
  * holds `newPerDrop` keys never seen before and the `seededPerDrop` seeded
  * keys of its own disjoint slice, and repeats some of them with other
  * attributes in the copy counts above. */
final class Inputs(seed: Long, val drops: Int) {
  val newPerDrop = 3200
  val seededPerDrop = 1800
  /** (extra copies, keys with that many) */
  private val DupCopies = Seq(1 -> 348, 2 -> 345, 3 -> 348)
  val dupsPerDrop: Int = DupCopies.map { case (c, n) => c * n }.sum
  val seeded: Int = seededPerDrop * drops
  def keysPerDrop: Int = newPerDrop + seededPerDrop
  def rowsPerDrop: Int = keysPerDrop + dupsPerDrop

  private val States = Vector(("Alabama", "AL", 1), ("Arizona", "AZ", 4),
    ("California", "CA", 6), ("Colorado", "CO", 8), ("Florida", "FL", 12),
    ("Georgia", "GA", 13), ("Illinois", "IL", 17), ("Kansas", "KS", 20),
    ("Maine", "ME", 23), ("Michigan", "MI", 26), ("Montana", "MT", 30),
    ("Nevada", "NV", 32), ("New York", "NY", 36), ("Ohio", "OH", 39),
    ("Oregon", "OR", 41), ("Texas", "TX", 48), ("Utah", "UT", 49),
    ("Vermont", "VT", 50), ("Virginia", "VA", 51), ("Wyoming", "WY", 56))
  // an affine map mod 100000 with a multiplier prime to it is a bijection
  private val zipMul = 7919L
  private val zipAdd = Math.floorMod(seed * 104729L, 100000L)

  private def attrs(id: Long, rng: java.util.SplittableRandom): Rec = {
    val (state, abbr, fips) = States((id % States.size).toInt)
    val zip = f"${Math.floorMod((id / States.size) * zipMul + zipAdd, 100000L)}%05d"
    Rec(fips, state, abbr, zip, s"County${rng.nextInt(40)}",
      s"City${rng.nextInt(200)}",
      LocalDate.parse("2026-06-01").plusDays(rng.nextInt(50)).toString)
  }

  private def rng(salt: Long) = new java.util.SplittableRandom(seed * 1000003L + salt)

  /** Initial target rows, enriched by the model's formulas. */
  def target: Seq[Target] = {
    val r = rng(-1)
    (0 until seeded).map { id =>
      val rec = attrs(id, r)
      id % 3 match {
        case 0 => Model.enrich(rec, "2026-05-01")
        case 1 => Model.enrich(rec, "2026-07-20", complete = false)
        case _ => Model.enrich(rec, "2026-07-20")
      }
    }
  }

  def drop(d: Int): Seq[Rec] = {
    val r = rng(d)
    val keys = (0 until seededPerDrop).map(j => (d * seededPerDrop + j).toLong) ++
      (0 until newPerDrop).map(j => seeded.toLong + d.toLong * newPerDrop + j)
    val base = shuffled(keys.map(attrs(_, r)), r)
    val copies = DupCopies.flatMap { case (c, n) => Seq.fill(n)(c) }
    val dups = base.zip(copies).flatMap { case (b, c) =>
      (0 until c).map { _ =>
        val o = attrs(0, r)
        // same key; other date, county and city, and sometimes the same
        // date so the tiebreak decides
        b.copy(county = o.county, city = o.city,
          updated = if (r.nextInt(4) == 0) b.updated else o.updated)
      }
    }
    shuffled(base ++ dups, r)
  }

  private def shuffled(xs: Seq[Rec], r: java.util.SplittableRandom): Seq[Rec] = {
    val all = xs.toArray
    for (i <- all.indices.reverse) { // Fisher-Yates with the drop's rng
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    all.toSeq
  }
}

/** `etl_flow`: a closed loop of zip-code CSV drops through graft's
  * reference flow into an in-memory Derby target. A round is
  * `NewPerRound` new drops followed by a redelivery of the round's first
  * drop, which the checksum gate must skip. */
object EtlFlow extends AdaptiveSparkPlanHelper {
  val NewPerRound = 3
  val WarmupRounds = 2
  private val Table = "zip_target"
  private val Url = "jdbc:derby:memory:perfbench;create=true"

  private val TargetSchema = StructType(ZipEtl.schema.fields ++ Seq(
    StructField("composite_key", StringType),
    StructField("latitude", DoubleType), StructField("longitude", DoubleType),
    StructField("elevation", LongType), StructField("timezone", StringType),
    StructField("tz_region", StringType), StructField("last_modified", DateType)))

  private def row(t: Target): Row = {
    val r = t.rec
    Row(r.fips, r.state, r.abbr, r.zip, r.county, r.city,
      java.sql.Date.valueOf(r.updated), r.key, t.lat, t.lon,
      t.elev.map(Long.box).orNull, t.tz, t.tzRegion, java.sql.Date.valueOf(t.modified))
  }

  private final case class Delivery(redelivery: Boolean, skipped: Boolean,
      failed: Boolean, seconds: Double, spans: Map[String, Took],
      targetRowsRead: Long, deltaRows: Long, inserted: Long)

  def run(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
      runDir: String): Outcome = {
    val inputs = new Inputs(seed, 8 + math.ceil(seconds * 2).toInt)
    val dropDir = s"$runDir/drops"
    val ledgerRoot = s"$runDir/ledger"
    Files.createDirectories(Paths.get(dropDir))
    val conn = DriverManager.getConnection(Url)
    def targetCount(): Long = {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $Table")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }

    val seededTarget = inputs.target
    val model = mutable.Map.empty[String, Target]
    seededTarget.foreach(t => model(t.key) = t)
    // the target table is created by graft's sink and filled through plain JDBC
    JdbcSink.ensureTable(Url, Table, TargetSchema, Seq("composite_key"))
    conn.setAutoCommit(false)
    val ins = conn.prepareStatement(s"INSERT INTO $Table (${TargetSchema.fieldNames.mkString(", ")}) " +
      s"VALUES (${TargetSchema.fieldNames.map(_ => "?").mkString(", ")})")
    seededTarget.foreach { t =>
      val r = row(t)
      (0 until r.length).foreach { i =>
        if (r.isNullAt(i)) ins.setNull(i + 1, java.sql.Types.BIGINT) else ins.setObject(i + 1, r.get(i))
      }
      ins.addBatch()
    }
    ins.executeBatch()
    conn.commit()
    conn.setAutoCommit(true)
    ins.close()
    Mark(s"target seeded with ${seededTarget.size} rows")

    val files = mutable.Map.empty[Int, String]
    def file(d: Int): String = files.getOrElseUpdate(d, {
      val p = s"$dropDir/drop_$d.csv"
      val body = (ZipEtl.schema.fieldNames.mkString(",") +: inputs.drop(d).map(_.csv))
        .mkString("", "\n", "\n")
      Files.write(Paths.get(p), body.getBytes(StandardCharsets.UTF_8))
      p
    })
    def ledger(): DataFrame =
      if (Snapshots.hasCurrent(ledgerRoot)) Snapshots.read(spark, ledgerRoot)
      else Ledger.empty(spark)

    var nextDrop = 0
    var importId = 0L
    val errors = mutable.LinkedHashMap.empty[String, String]
    val processed = mutable.ArrayBuffer.empty[Int]

    def deliver(d: Int, redelivery: Boolean): Delivery = {
      val path = file(d)
      val arrival = System.nanoTime()
      val spans = mutable.Map.empty[String, Took]
      def step[T](name: String)(body: => T): T = {
        val (out, took) = tracer.span(name)(body)
        spans(name) = took
        out
      }
      val result = try tracer.span("drop") {
        val sum = step("gate.checksum")(Ledger.fileChecksum(path))
        val go = step("gate.decide")(
          Ledger.shouldRun(ledger(), sum, Model.RunDate, ZipEtl.ttlDays, forceRun = false))
        if (!go) Some((true, 0L, 0L, 0L))
        else {
          importId += 1
          val id = importId
          step("ledger.start")(Snapshots.commit(
            Ledger.start(spark, ledger(), id, s"drop_$d.csv", sum, Model.RunDate), ledgerRoot))
          val (delta, rowsRead, deltaRows) = step("flow.plan") {
            val deduped = ZipEtl.dedupeLastWins(ZipEtl.ingest(spark, path))
            val target = spark.read.format("jdbc").option("url", Url)
              .option("dbtable", Table)
              .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
            val delta = ZipEtl.enrich(ZipEtl.excludeProcessed(deduped, target)
              .drop("composite_key"))
              .withColumn("last_modified", lit(Model.RunDate).cast("date"))
            if (!tracer.on) (delta, 0L, 0L)
            else {
              // traced run only: materialize the delta so the plan's cost
              // and the sink's cost are timed apart
              val cached = delta.persist()
              val n = cached.count()
              (cached, jdbcRowsRead(cached), n)
            }
          }
          val before = if (tracer.on) targetCount() else 0L
          step("sink.upsert")(JdbcSink.upsert(delta, Url, Table, Seq("composite_key")))
          val inserted = if (tracer.on) targetCount() - before else 0L
          if (tracer.on) delta.unpersist()
          step("ledger.finish")(Snapshots.commit(
            Ledger.finish(ledger(), id, Ledger.StatusComplete, Model.RunDate), ledgerRoot))
          processed += d
          Some((false, rowsRead, deltaRows, inserted))
        }
      }._1 catch {
        case e: Exception =>
          errors.getOrElseUpdate(e.getClass.getName,
            s"drop $d: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
      val (skipped, rowsRead, deltaRows, inserted) = result.getOrElse((false, 0L, 0L, 0L))
      Delivery(redelivery, skipped, result.isEmpty, (System.nanoTime() - arrival) / 1e9,
        spans.toMap, rowsRead, deltaRows, inserted)
    }

    def round(): Seq[Delivery] = {
      val first = nextDrop
      val fresh = (0 until NewPerRound).map { _ => nextDrop += 1; deliver(nextDrop - 1, false) }
      fresh :+ deliver(first, true)
    }
    def roomForRound: Boolean = nextDrop + NewPerRound <= inputs.drops

    (0 until WarmupRounds).foreach(_ => round())
    Mark("warm-up done")
    val c0 = tracer.counts()
    val start = System.nanoTime()
    val firstTimedMs = System.currentTimeMillis()
    val rounds = mutable.ArrayBuffer.empty[(Double, Seq[Delivery])]
    while (roomForRound && (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)) {
      val t = System.nanoTime()
      val ds = round()
      rounds += (((System.nanoTime() - t) / 1e9, ds))
    }
    System.err.println(rounds.map(r => r._2.map(d => f"${d.seconds}%.2f").mkString("(", " ", ")"))
      .mkString("[perfbench] timed rounds, deliveries in s: ", " ", ""))
    val perRound = tracer.counts() - c0
    val heapMb = if (tracer.on) Outcome.heapAfterGcMb() else 0.0

    // --- output checks, outside the timed window ---
    val notes = mutable.ArrayBuffer.empty[String] ++ errors.values
    val all = rounds.flatMap(_._2).toSeq
    val failed = all.count(_.failed)
    val done = all.filterNot(d => d.skipped || d.failed)
    processed.foreach(d => Model(model, inputs.drop(d)))
    val mismatches = compareTarget(conn, model, notes)
    val targetRows = targetCount()
    val expectRows = inputs.seeded.toLong + processed.size.toLong * inputs.newPerDrop
    if (targetRows != expectRows)
      notes += s"target holds $targetRows rows, expected $expectRows"
    val skips = all.count(_.skipped)
    val redeliveries = all.count(_.redelivery)
    if (skips != redeliveries || all.exists(d => !d.failed && d.skipped != d.redelivery))
      notes += s"$skips skips for $redeliveries redeliveries"
    val led = ledger().collect()
    val complete = led.filter(_.getAs[String]("status") == Ledger.StatusComplete)
    val sums = complete.map(_.getAs[String]("file_checksum"))
    if (led.exists(_.getAs[String]("status") == Ledger.StatusRunning))
      notes += "ledger has rows left Running"
    if (complete.length != processed.size || sums.distinct.length != sums.length)
      notes += s"ledger has ${complete.length} Complete rows " +
        s"(${sums.distinct.length} checksums) for ${processed.size} processed drops"
    System.err.println(s"[perfbench] etl_flow: ${processed.size} drops processed, " +
      s"$skips skipped, target $targetRows rows, $mismatches mismatches against the model")
    conn.close()
    try DriverManager.getConnection("jdbc:derby:memory:perfbench;drop=true")
    catch { case _: java.sql.SQLException => () } // a drop reports by exception

    def med(f: Delivery => Double, ds: Seq[Delivery] = done): Double = Stats.median(ds.map(f))
    def ms(name: String) = (d: Delivery) => d.spans.get(name).map(_.seconds * 1000).getOrElse(0.0)
    def jobs(names: String*) = (d: Delivery) =>
      names.flatMap(d.spans.get).map(_.counts.jobs.toDouble).sum
    val n = rounds.size.toDouble
    // a typical round from medians over all its deliveries: the drops and
    // the redelivery the gate skips
    val roundS = NewPerRound * med(_.seconds) + med(_.seconds, all.filter(_.skipped))
    Outcome(
      // a drop that failed part-way leaves the target and the ledger
      // where the model cannot follow, so any failure fails the checks
      attempted = all.size, failed = failed, correct = notes.isEmpty && mismatches == 0,
      firstTimedMs = firstTimedMs,
      roundS = roundS,
      rowsPerS = NewPerRound * inputs.rowsPerDrop / roundS,
      layers = Outcome.perRound(perRound, n) ++ Map(
        "flow.drop_commit_s" -> med(_.seconds),
        "gate.checksum_ms" -> med(ms("gate.checksum"), all),
        "gate.decide_ms" -> med(ms("gate.decide"), all),
        "gate.skip_s" -> med(_.seconds, all.filter(_.skipped)),
        "gate.jobs" -> med(jobs("gate.decide"), all),
        "ledger.commit_ms" -> med(d => ms("ledger.start")(d) + ms("ledger.finish")(d)),
        "ledger.jobs" -> med(jobs("ledger.start", "ledger.finish")),
        "exclude.target_rows_read" -> med(_.targetRowsRead.toDouble),
        "exclude.rows_excluded" -> med(d => (inputs.keysPerDrop - d.deltaRows).toDouble),
        "flow.plan_s" -> med(ms("flow.plan")) / 1000,
        "flow.jobs_per_drop" -> med(jobs(
          "gate.decide", "ledger.start", "flow.plan", "sink.upsert", "ledger.finish")),
        "sink.upsert_s" -> med(ms("sink.upsert")) / 1000,
        "sink.rows_inserted" -> med(_.inserted.toDouble),
        "sink.rows_updated" -> med(d => (d.deltaRows - d.inserted).toDouble),
        "jvm.heap_after_gc_mb" -> heapMb),
      notes = notes.toSeq)
  }

  /** Rows the JDBC scan under the materialized delta returned. */
  private def jdbcRowsRead(df: DataFrame): Long =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      .flatMap(r => collectWithSubqueries(r.cacheBuilder.cachedPlan) {
        case s: RowDataSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }).sum

  /** Row-for-row comparison of the Derby table with the model, through
    * plain JDBC. Returns the number of keys that differ. */
  private def compareTarget(conn: Connection, model: mutable.Map[String, Target],
      notes: mutable.ArrayBuffer[String]): Int = {
    val rs = conn.createStatement().executeQuery(
      s"SELECT state_fips, state, state_abbr, zipcode, county, city, last_updated, " +
        s"composite_key, latitude, longitude, elevation, timezone, tz_region, " +
        s"last_modified FROM $Table")
    val seen = mutable.Set.empty[String]
    var bad = 0
    try while (rs.next()) {
      val rec = Rec(rs.getInt(1), rs.getString(2), rs.getString(3), rs.getString(4),
        rs.getString(5), rs.getString(6), rs.getDate(7).toString)
      val (lat, lon) = (rs.getDouble(9), rs.getDouble(10))
      val elev = Some(rs.getLong(11)).filterNot(_ => rs.wasNull())
      val got = Target(rec, lat, lon, elev, rs.getString(12), rs.getString(13),
        rs.getDate(14).toString)
      val key = rs.getString(8)
      seen += key
      if (model.get(key) != Some(got) || key != rec.key) {
        bad += 1
        if (bad <= 3) notes += s"target row $key = $got, model ${model.get(key)}"
      }
    } finally rs.close()
    val missing = model.keySet.diff(seen)
    missing.take(3).foreach(k => notes += s"model key $k missing from the target")
    bad + missing.size
  }
}
