package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Jobs scheduled while running `body`. The listener bus is flushed on
  * both sides, so jobs of earlier work do not leak into the count. A
  * drain that times out throws, unless `strict` is off (the soaks keep
  * measuring past a slow bus). */
object JobCount {
  def apply(spark: SparkSession, strict: Boolean = true)(body: => Unit): Int = {
    val sc = spark.sparkContext
    def drain(): Unit =
      try org.apache.spark.graft.ListenerBarrier.waitUntilEmpty(sc)
      catch { case t: Throwable => if (strict) throw t }
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(l)
    try {
      body
      drain()
      jobs.get()
    } finally sc.removeSparkListener(l)
  }
}

/** The soak drivers' shared measurement: one timed op and one result line
  * (`{"metric", "value", "unit", <header>, "queries", <per-op columns>,
  * "check_secs", "checks", "errors"}`), exit code 1 when any op errored.
  *
  * Timing contract: "queries" times the OPERATOR — body construction plus
  * one full materialization (localCheckpoint) — and "check_secs" times the
  * verification on its own; "jobs" counts only the operator window. An op
  * outside a non-empty `only` filter is skipped and left out of every
  * total, and the line then says it was filtered. `clearBetween` runs
  * [[Reset.clear]] after each op; a driver whose ops share a checkpointed
  * input turns it off. */
final class Soak(spark: SparkSession, metric: String,
                 only: Set[String] = Set.empty, clearBetween: Boolean = true) {
  import Soak.Row

  /** Check values by name, in insertion order. Ops may add their own
    * entries (round counts, side totals) from inside a body or check. */
  val checks = mutable.LinkedHashMap.empty[String, Long]
  private val checkSecs = mutable.LinkedHashMap.empty[String, Double]
  private val rows = mutable.ArrayBuffer.empty[Row]

  def op(name: String)(body: => DataFrame)(check: DataFrame => Long): Unit = {
    if (only.nonEmpty && !only(name)) return
    var secs = 0.0
    var df: DataFrame = null
    try {
      val jobs = JobCount(spark, strict = false) {
        val t0 = System.nanoTime()
        df = body.localCheckpoint() // materialized: the operator ran
        secs = (System.nanoTime() - t0) / 1e9
      }
      val c0 = System.nanoTime()
      checks(name) = check(df)
      checkSecs(name) = (System.nanoTime() - c0) / 1e9
      rows += Row(name, secs, None, Seq("jobs" -> jobs.toString))
    } catch { case t: Throwable => record(name, 0.0, Some(Soak.sanitize(t))) }
    if (clearBetween) Reset.clear(spark)
  }

  /** One op measured by the driver itself; `cols` are its per-op columns
    * (rendered JSON values), published for ops that did not error. */
  def record(name: String, secs: Double, err: Option[String], cols: (String, String)*): Unit =
    rows += Row(name, secs, err, cols)

  /** 0 when every op measured, 1 when at least one errored. */
  def exitCode: Int = if (rows.exists(_.err.isDefined)) 1 else 0

  /** The result line; `header` fields follow "unit". */
  def line(header: (String, Long)*): String = {
    val ok = rows.filter(_.err.isEmpty)
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    // a filtered (iteration-aid) run must be self-describing: without the
    // marker its line would look like a full soak's
    val filtered = if (only.isEmpty) ""
      else s""""filtered":true,"only":"${only.toSeq.sorted.mkString(",")}","""
    val cols = ok.flatMap(_.cols.map(_._1)).distinct.map { c =>
      s""""$c":${obj(ok.flatMap(r => r.cols.find(_._1 == c).map(r.name -> _._2)))},"""
    }.mkString
    s"""{"metric":"$metric",$filtered"value":${Bench.jsonNum(ok.map(_.secs).sum)},""" +
      s""""unit":"sec",${header.map { case (k, v) => s"\"$k\":$v," }.mkString}""" +
      s""""queries":${obj(ok.map(r => r.name -> Bench.jsonNum(r.secs)))},$cols""" +
      s""""check_secs":${obj(checkSecs.map { case (k, v) => k -> Bench.jsonNum(v) })},""" +
      s""""checks":${obj(checks.map { case (k, v) => k -> v.toString })},""" +
      s""""errors":${obj(rows.collect { case Row(k, _, Some(e), _) => k -> s"\"$e\"" })}}"""
  }

  /** Print the line, clear the session and this JVM's scratch, stop
    * Spark, and exit 1 if any op errored. */
  def finish(header: (String, Long)*): Unit = {
    println(line(header: _*))
    Reset.clear(spark, scratch = true)
    spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}

object Soak {
  private final case class Row(name: String, secs: Double, err: Option[String],
                               cols: Seq[(String, String)])

  /** An error message fit for a JSON string or a CSV cell: quotes,
    * backslashes, commas and control characters become spaces; at most
    * 200 characters. */
  def sanitize(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName)
      .replaceAll("[\\x00-\\x1f\"\\\\,]", " ").take(200)
}
