package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The JVM half of the benchmark: runs one workload as a closed loop with
  * one client thread on local[nproc], over inputs `run.py` generated, and
  * checks every timed op against the harness's own expected answers.
  *
  * Usage: perfbench.Main <workload> <data dir> <work dir> <seconds> <trace 0|1> <out json>
  *
  * Phases: session start; set-up rounds (each a load plus the first call
  * of every op kind, so lazy set-up and JIT are paid before timing);
  * whole timed passes for about `seconds`; a final clear and GC for the
  * idle heap. The raw samples go to `out`; run.py turns them into metrics. */
object Main {
  final case class Config(workload: String, data: String, work: String,
                          seconds: Double, trace: Boolean, out: String)

  /** Ops in one pass. `warmAnalytics`: the first set-up round also runs
    * the analytics. On replay_over_budget that round would cost ~20 s of
    * cold GraphX supersteps per run, more than the run budget allows, so
    * its timed analytics include their first-call cost. */
  final case class Shape(lookups: Int, khops: Int, ssps: Int, inserts: Int,
                         warmAnalytics: Boolean)

  /** Timed pass per workload: every op kind sampled; one pass takes 3-7 s
    * on replay_fit (so a run holds two or more) and 25-45 s on
    * replay_over_budget on 4 cores, with the host's load. */
  val Shapes: Map[String, Shape] = Map(
    "replay_fit" -> Shape(8, 40, 1, 16, warmAnalytics = true),
    "replay_over_budget" -> Shape(8, 2, 2, 16, warmAnalytics = false))

  /** Set-up rounds: a cold first one, then warm ones whose samples join
    * the timed passes' (replay_over_budget fits one timed pass, so these
    * give its once-per-pass ops more samples). The traced run adds one
    * more, untraced, between two traced warm ones (see Replay.run). */
  val SetupRounds = 3

  /** Light set-up rounds after those: load, insert call, clear. They give
    * the once-per-pass ops more samples for little time. */
  val LightRounds = 3

  /** Spark jobs started so far, in every run: an op that started none ran
    * on the driver alone, which metrics.py scales by the one-core kernel. */
  val jobsStarted = new java.util.concurrent.atomic.AtomicLong

  val Hops = 2
  val KCoreK = 10
  val KCoreRounds = 10
  val PageRankIters = 10
  val PageRankSnap = 9

  def main(args: Array[String]): Unit = {
    val cfg = Config(args(0), args(1), args(2), args(3).toDouble, args(4) == "1", args(5))
    val t0 = System.nanoTime()
    val spark = GraftSession.tune(SparkSession.builder()
        .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
        .config("spark.local.dir", s"${cfg.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
        .config("spark.driver.host", "localhost"),
      Runtime.getRuntime.availableProcessors()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobsStarted.incrementAndGet()
    })
    val sessionStart = secs(System.nanoTime() - t0)
    val tracer = new Tracer(spark.sparkContext, cfg.trace)
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(tracer.counters)
      spark.listenerManager.register(tracer.counters)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload,
      "session_start_s" -> sessionStart,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "cores" -> Runtime.getRuntime.availableProcessors())
    try new Replay(spark, cfg, tracer, Shapes(cfg.workload), out).run()
    finally spark.stop()
    Json.write(cfg.out, out)
  }

  def secs(ns: Long): Double = ns / 1e9

  /** Heap in use after the final clear and a full GC — the reference's
    * bench_idle_usage. `Reset.clear` unpersists asynchronously, so GC
    * repeats until two readings agree within 1 MB. */
  def idleHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (math.abs(cur - prev) >= 1.0 && n < 20) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Spans and counters as plain maps for the result file. */
  def traceOut(tracer: Tracer): Map[String, Any] = Map(
    "spans" -> tracer.spans.map { s =>
      val c = Option(tracer.counters.bySpan.get(s.id)).getOrElse(new SpanCounts)
      Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> (s.startNs - tracer.nano0) / 1e6, "end_ms" -> (s.endNs - tracer.nano0) / 1e6,
        "complete" -> s.complete,
        "jobs" -> c.jobsStarted, "jobs_ended" -> c.jobsEnded, "stages" -> c.stages,
        "tasks" -> c.tasksStarted, "tasks_ended" -> c.tasksEnded, "failed_tasks" -> c.failedTasks,
        "task_cpu_s" -> c.taskCpuNs / 1e9, "task_run_s" -> c.taskRunMs / 1e3,
        "sched_wait_s" -> c.schedWaitMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteB / 1048576.0,
        "shuffle_read_mb" -> c.shuffleReadB / 1048576.0,
        "spill_mb" -> c.spillB / 1048576.0, "result_mb" -> c.resultB / 1048576.0,
        "peak_exec_mem_mb" -> c.peakExecMemB / 1048576.0)
    }.toSeq,
    "unattributed_jobs" -> Option(tracer.counters.bySpan.get(0L)).map(_.jobsStarted).getOrElse(0L),
    "phases" -> tracer.counters.phases.asScala.map { case (name, start, dur) =>
      Map("name" -> name, "start_ms" -> (start - tracer.epochMs0).toDouble, "ms" -> dur)
    }.toSeq)
}

/** Timed samples of one run. */
final class Samples(var tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Pass (set-up round or timed pass) the next ops belong to, from 1. */
  var pass = 0

  /** Time `f` (the op, its result materialized) inside the op's root span
    * `op.<kind>`, then check the result outside the timed region. A throw
    * or a failed check counts the op as failed; its time is still
    * recorded, flagged, with its `phase` (cold, setup, timed, untraced).
    * The traced run's listener barrier runs after the timer stops. */
  def op[T](kind: String, phase: String)(f: => T)(check: T => Option[String]): Double = {
    val jobs0 = Main.jobsStarted.get
    val t0 = System.nanoTime()
    val r = try Right(tracer(s"op.$kind")(f)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.closeOp()
    // the listener bus runs behind; an op that ran jobs has its first ones
    // counted long before it ends, which is all "jobs > 0" needs
    val jobs = Main.jobsStarted.get - jobs0
    val err = r match {
      case Right(v) => try check(v) catch { case e: Throwable => Some(e.toString) }
      case Left(e) => Some(e.toString)
    }
    err.foreach(e => if (failures.size < 20) failures += s"$kind: $e")
    ops += Map("type" -> kind, "phase" -> phase, "pass" -> pass, "ms" -> ms,
      "jobs" -> jobs, "ok" -> err.isEmpty, "trace" -> tracer.lastTrace)
    ms
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), mapper.writeValueAsString(v))
}
