package graft

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The soak drivers' shared op and result line, on tiny in-memory frames:
  * what lands in queries / check_secs / jobs / checks / errors, the op
  * filter, the sanitizer, and the exit code. */
class SoakSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("graft-soak-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def parsed(s: Soak, header: (String, Long)*): JValue = parse(s.line(header: _*))

  private def keys(j: JValue): Set[String] = j match {
    case JObject(fs) => fs.map(_._1).toSet
    case _ => fail(s"not an object: $j")
  }

  private def num(j: JValue): Double = j match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case JLong(l) => l.toDouble
    case other => fail(s"not a number: $other")
  }

  test("a throwing op lands in errors, not in queries or value; exit code 1") {
    val s = new Soak(spark, "soak_test")
    s.op("fine")(spark.range(5).toDF())(_.count())
    s.op("boom")(throw new IllegalStateException("planted"))(_.count())
    val j = parsed(s, "n" -> 5L)
    assert(j \ "metric" == JString("soak_test"))
    assert(j \ "n" == JInt(5))
    assert(keys(j \ "queries") == Set("fine"))
    assert(keys(j \ "jobs") == Set("fine"))
    assert(j \ "checks" \ "fine" == JInt(5))
    assert(j \ "errors" == JObject("boom" -> JString("planted")))
    assert(num(j \ "value") == num(j \ "queries" \ "fine"))
    assert(s.exitCode == 1)
    // a failing check errors its op too
    val c = new Soak(spark, "soak_test")
    c.op("bad_check")(spark.range(3).toDF())(_ => throw new RuntimeException("no"))
    assert(keys(parsed(c) \ "queries").isEmpty && c.exitCode == 1)
    val ok = new Soak(spark, "soak_test")
    ok.op("fine")(spark.range(5).toDF())(_.count())
    assert(ok.exitCode == 0)
  }

  test("check time goes to check_secs, not queries") {
    val s = new Soak(spark, "soak_test")
    s.op("warm")(spark.range(5).toDF())(_.count())
    s.op("slow_check")(spark.range(5).toDF()) { df => Thread.sleep(1500); df.count() }
    val j = parsed(s)
    val q = num(j \ "queries" \ "slow_check")
    val c = num(j \ "check_secs" \ "slow_check")
    assert(c >= 1.5, s"check_secs $c must hold the 1.5 s check")
    assert(q < c, s"queries $q must not hold the check's time ($c)")
  }

  test("jobs counts the operator window only") {
    val body = () => spark.range(10).toDF()
    val bodyJobs = JobCount(spark)(body().localCheckpoint())
    val s = new Soak(spark, "soak_test")
    var checkJobs = 0
    s.op("one_job")(body()) { df =>
      checkJobs = JobCount(spark) { df.collect(); df.collect() }
      0L
    }
    assert(bodyJobs == 1 && checkJobs == 2, s"fixture: body $bodyJobs, check $checkJobs jobs")
    assert(parsed(s) \ "jobs" \ "one_job" == JInt(1))
  }

  test("error messages are sanitized: quotes, backslashes, commas, control chars") {
    val msg = "a \"quoted\", comma\tand\nnewline \\ back" + "x" * 300
    val clean = Soak.sanitize(new RuntimeException(msg))
    assert(clean.startsWith("a  quoted   comma and newline   back"))
    assert(clean.length == 200)
    assert(!clean.exists(ch => ch < ' ' || ch == '"' || ch == ',' || ch == '\\'))
    assert(Soak.sanitize(new RuntimeException(null: String)) == "java.lang.RuntimeException")
    val s = new Soak(spark, "soak_test")
    s.op("boom")(throw new RuntimeException(msg))(_.count())
    assert(parsed(s) \ "errors" \ "boom" == JString(clean))
  }

  test("an op outside the filter is skipped, marked, and left out of the totals") {
    val s = new Soak(spark, "soak_test", only = Set("kept"))
    var ran = false
    s.op("kept")(spark.range(2).toDF())(_.count())
    s.op("dropped") { ran = true; spark.range(3).toDF() }(_.count())
    s.op("dropped_err")(throw new RuntimeException("never"))(_.count())
    val j = parsed(s)
    assert(!ran, "a filtered op's body must not run")
    assert(j \ "filtered" == JBool(true) && j \ "only" == JString("kept"))
    assert(keys(j \ "queries") == Set("kept") && keys(j \ "checks") == Set("kept"))
    assert(keys(j \ "errors").isEmpty && s.exitCode == 0)
    assert(num(j \ "value") == num(j \ "queries" \ "kept"))
    assert((parsed(new Soak(spark, "soak_test")) \ "filtered") == JNothing)
  }

  test("the line parses as JSON with every section, driver columns included") {
    val s = new Soak(spark, "soak_test")
    s.op("a")(spark.range(4).toDF())(_.count())
    s.checks("a_rounds") = 3L
    s.record("probe", 1.25, None, "docs_per_sec" -> Bench.jsonNum(10.5), "rows" -> "42")
    s.record("probe_err", 0.0, Some("x y"), "rows" -> "0")
    val j = parsed(s, "n_docs" -> 100L, "dim" -> 64L)
    assert(keys(j) == Set("metric", "value", "unit", "n_docs", "dim", "queries", "jobs",
      "docs_per_sec", "rows", "check_secs", "checks", "errors"))
    assert(j \ "unit" == JString("sec"))
    assert(keys(j \ "queries") == Set("a", "probe"))
    assert(j \ "rows" == JObject("probe" -> JInt(42)))
    assert(num(j \ "docs_per_sec" \ "probe") == 10.5)
    assert(j \ "checks" == JObject("a" -> JInt(4), "a_rounds" -> JInt(3)))
    assert(j \ "errors" == JObject("probe_err" -> JString("x y")))
    assert(math.abs(num(j \ "value") - num(j \ "queries" \ "a") - 1.25) < 1e-3)
  }
}
