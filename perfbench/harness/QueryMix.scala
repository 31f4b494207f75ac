package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import graft.SparkEntry

/** `queries`: a closed loop of rounds, each calling every entry of the mix
  * once, warm, into the `noop` sink. The mix holds executor-bound entries
  * (`Scan`: little driver-side build, nearly all executor work) and
  * driver-loop entries (`Iterative`: mostly DataFrame build and many small
  * jobs). An entry call is timed in two parts: `build` (the entry function
  * returns its DataFrame, including any driver-side loop and the jobs it
  * runs) and `exec` (the noop write). */
object QueryMix {
  val Scan = Seq("q1_pricing_summary", "dedup_jaccard_allpairs")
  val Iterative = Seq("q_pagerank", "emb_top_pc", "dedup_method_eval")
  /** The generated tables each entry reads, from the entry's source. A
    * call's input is every row of them, whatever plan graft makes. */
  val Reads = Map(
    "q1_pricing_summary" -> Seq("lineitem"),
    "dedup_jaccard_allpairs" -> Seq("documents"),
    "q_pagerank" -> Seq("lineitem", "orders"),
    "emb_top_pc" -> Seq("embeddings"),
    "dedup_method_eval" -> Seq("documents"))
  val WarmRounds = 1

  private final case class Call(build: Took, exec: Took) {
    def seconds: Double = build.seconds + exec.seconds
  }

  def run(spark: SparkSession, tracer: Tracer, dataDir: String,
      tableRows: Map[String, Long], seconds: Double, runDir: String): Outcome = {
    val entries = Scan ++ Iterative
    val fns = SparkEntry.queries
    var failed = 0
    val errors = mutable.LinkedHashMap.empty[String, String]

    def call(name: String, sink: DataFrame => Unit): Option[Call] =
      try {
        val (df, build) = tracer.span(s"entry.$name.build")(fns(name)(spark, dataDir))
        val exec = tracer.time(s"entry.$name.exec")(sink(df))
        Some(Call(build, exec))
      } catch {
        case e: Exception =>
          failed += 1
          errors.getOrElseUpdate(name, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      } finally spark.catalog.clearCache()
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    def round(sink: String => DataFrame => Unit): Map[String, Option[Call]] =
      tracer.span("round")(entries.map(n => n -> call(n, sink(n))).toMap)._1

    // The first round is each entry's first call in this JVM. It writes
    // each result for the DuckDB oracle check that follows the run.
    val outDir = s"$runDir/out"
    val cold = round(n => df => df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n"))
    Mark("cold round done")
    val rowsPerRound = entries.flatMap(Reads).map(tableRows).sum.toDouble
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle.json"), entries
      .map(n => s"${Json.str(n)}: ${oracle.get(n).map(Json.str).getOrElse("null")}")
      .mkString("{", ",\n", "}"))
    // untimed warm rounds: the calls after the first still run partly
    // unwarmed code, and their times fall for a few rounds
    (0 until WarmRounds).foreach(_ => round(_ => noop))
    Mark("warm rounds done")
    failed = 0

    val c0 = tracer.counts()
    val start = System.nanoTime()
    val firstTimedMs = System.currentTimeMillis()
    val rounds = mutable.ArrayBuffer.empty[(Double, Map[String, Option[Call]])]
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val t = System.nanoTime()
      val r = round(_ => noop)
      rounds += (((System.nanoTime() - t) / 1e9, r))
    }
    System.err.println(f"[perfbench] cold round ${cold.values.flatten.map(_.seconds).sum}%.2f s, " +
      rounds.map(r => f"${r._1}%.2f").mkString("timed rounds ", " ", " s"))
    System.err.println(entries.map(n => rounds.flatMap(_._2(n)).map(c => f"${c.seconds}%.2f")
      .mkString(s"$n ", " ", "")).mkString("[perfbench] timed calls in s: ", ", ", ""))
    val perRound = tracer.counts() - c0
    val heapMb = if (tracer.on) Outcome.heapAfterGcMb() else 0.0

    def perEntry(n: String)(f: Call => Double): Double =
      Stats.median(rounds.flatMap(_._2(n)).map(f).toSeq)
    val entryLayers = entries.flatMap { n =>
      Seq(
        s"entry.$n.build_s" -> perEntry(n)(_.build.seconds),
        s"entry.$n.exec_s" -> perEntry(n)(_.exec.seconds),
        s"entry.$n.build_jobs" -> perEntry(n)(_.build.counts.jobs.toDouble),
        s"entry.$n.exec_jobs" -> perEntry(n)(_.exec.counts.jobs.toDouble),
        s"entry.$n.cold_s" -> cold(n).map(_.seconds).getOrElse(0.0),
        s"entry.$n.cold_jobs" -> cold(n).map(c => (c.build.counts.jobs + c.exec.counts.jobs).toDouble)
          .getOrElse(0.0))
    }
    def mixSum(names: Seq[String])(f: Call => Double) = names.map(n => perEntry(n)(f)).sum
    // a typical round: each entry's median call
    val roundS = mixSum(entries)(_.seconds)
    Outcome(
      attempted = rounds.size * entries.size, failed = failed, correct = true,
      firstTimedMs = firstTimedMs,
      roundS = roundS,
      rowsPerS = rowsPerRound / roundS,
      layers = Outcome.perRound(perRound, rounds.size) ++ entryLayers ++ Map(
        "query.build_s" -> mixSum(entries)(_.build.seconds),
        "query.exec_s" -> mixSum(entries)(_.exec.seconds),
        "query.scan_s" -> mixSum(Scan)(_.seconds),
        "query.iterative_s" -> mixSum(Iterative)(_.seconds),
        "jvm.heap_after_gc_mb" -> heapMb),
      notes = errors.values.toSeq)
  }
}
