package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What a workload reports: the timed window's operations and its
  * end-to-end figures, plus the per-layer figures of the traced run. */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    firstTimedMs: Long, roundS: Double, rowsPerS: Double,
    layers: Map[String, Double], notes: Seq[String])

object Outcome {
  /** Listener totals of the timed window, per round. */
  def perRound(c: Counts, rounds: Double): Map[String, Double] = {
    val n = math.max(rounds, 1.0)
    Map("exec.cpu_s" -> c.cpuS / n, "exec.run_s" -> c.runS / n, "exec.gc_s" -> c.gcS / n,
      "exec.input_mb" -> c.inputMb / n, "exec.shuffle_write_mb" -> c.shuffleWriteMb / n,
      "exec.shuffle_read_mb" -> c.shuffleReadMb / n, "exec.spill_mb" -> c.spillMb / n,
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n, "spark.tasks" -> c.tasks / n,
      "catalyst.analysis_ms" -> c.analysisMs / n,
      "catalyst.optimization_ms" -> c.optimizationMs / n,
      "catalyst.planning_ms" -> c.planningMs / n)
  }

  /** Heap in use right after a full collection. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / (1024.0 * 1024.0)
  }
}

/** Set-up milestones in the JVM log, in seconds since the JVM started. */
object Mark {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
}

/** One run of one workload in this JVM. Writes `result.json` into the
  * run directory; `perfbench/run.py` adds the DuckDB oracle check, the
  * set-up time and the store sizes, and prints the final line.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --run-dir D
  * [--data-dir D --table-rows t=n,...] [--trace-out FILE] */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runDir = opt("run-dir")
    val spark = graft.Sessions.local(opt.getOrElse("cpus", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    Mark("session ready")
    val tracer = new Tracer(spark, traced)
    val out =
      try workload match {
        case "etl_flow" => EtlFlow.run(spark, tracer, seed, seconds, runDir)
        case "queries" =>
          val rows = opt("table-rows").split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
          QueryMix.run(spark, tracer, opt("data-dir"), rows, seconds, runDir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        Mark("checks done")
        opt.get("trace-out").foreach(tracer.writeJsonl)
        spark.stop()
        if (workload == "etl_flow")
          try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
          catch { case _: java.sql.SQLException => () } // shutdown reports by exception
      }
    val metrics = Map("round_s" -> out.roundS, "rows_per_s" -> out.rowsPerS) ++
      (if (traced) out.layers else Map.empty)
    val json =
      s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
        s""""first_timed_ms": ${out.firstTimedMs}, "notes": [${out.notes.map(Json.str).mkString(", ")}], """ +
        s""""metrics": {${metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")}}}"""
    Files.writeString(Paths.get(s"$runDir/result.json"), json)
    Mark("stopped")
  }
}
