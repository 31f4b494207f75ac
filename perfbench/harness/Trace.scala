package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Listener counts at one instant. Times in seconds, sizes in MB. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuS: Double = 0, runS: Double = 0, gcS: Double = 0,
    inputMb: Double = 0, shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0,
    spillMb: Double = 0, analysisMs: Double = 0, optimizationMs: Double = 0,
    planningMs: Double = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuS - o.cpuS, runS - o.runS, gcS - o.gcS,
    inputMb - o.inputMb, shuffleWriteMb - o.shuffleWriteMb,
    shuffleReadMb - o.shuffleReadMb, spillMb - o.spillMb,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs)
}

/** Spark's own listeners, attached from outside graft: job, stage and
  * task counts plus executor task metrics (SparkListener), and the
  * Catalyst phase times of every executed query (QueryExecutionListener,
  * read from `QueryExecution.tracker`). */
final class Probes extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
  private val inBytes, shWrite, shRead, spill = new AtomicLong
  private val analysisNs, optimizationNs, planningNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L) * 1000000L
    analysisNs.addAndGet(ms("analysis"))
    optimizationNs.addAndGet(ms("optimization"))
    planningNs.addAndGet(ms("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def counts: Counts = {
    val mb = 1024.0 * 1024.0
    Counts(jobs.get, stages.get, tasks.get, cpuNs.get / 1e9, runMs.get / 1e3,
      gcMs.get / 1e3, inBytes.get / mb, shWrite.get / mb, shRead.get / mb,
      spill.get / mb, analysisNs.get / 1e6, optimizationNs.get / 1e6,
      planningNs.get / 1e6)
  }
}

/** What one measured call took: wall seconds, and in the traced run the
  * listener counts it caused. */
final case class Took(seconds: Double, counts: Counts)

/** Spans around each call into a graft layer. Untraced, a span is two
  * `nanoTime` reads and nothing is kept. Traced, the listener bus is
  * drained at both ends, the counts are taken there, and every span is
  * kept with its parent and written as JSON lines when the run ends. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val probes: Option[Probes] = if (!on) None else {
    val p = new Probes
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    Some(p)
  }
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long, delta: Counts)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 0
  private val epochNs = System.nanoTime()

  def counts(): Counts = probes match {
    case Some(p) => PerfbenchBus.drain(spark.sparkContext); p.counts
    case None => Counts()
  }

  def span[T](name: String)(body: => T): (T, Took) = {
    val c0 = counts()
    nextId += 1
    val id = nextId
    val parent = stack.head
    if (on) stack = id :: stack
    val t0 = System.nanoTime()
    val out = try body finally if (on) stack = stack.tail
    val t1 = System.nanoTime()
    val d = counts() - c0
    if (on) spans += Span(id, parent, name, t0 - epochNs, t1 - epochNs, d)
    (out, Took((t1 - t0) / 1e9, d))
  }

  def time[T](name: String)(body: => T): Took = span(name)(body)._2

  def writeJsonl(path: String): Unit = if (on) {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      val c = s.delta
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},""" +
        s""""stages":${c.stages},"tasks":${c.tasks},"cpu_s":${c.cpuS},""" +
        s""""gc_s":${c.gcS},"shuffle_write_mb":${c.shuffleWriteMb},""" +
        s""""analysis_ms":${c.analysisMs}}""" + "\n"
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, sb.toString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
