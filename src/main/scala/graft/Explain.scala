package graft

import org.apache.spark.sql.DataFrame

/** Dev tool: time and/or explain individual SparkEntry queries.
  *
  * Usage: runMain graft.Explain [--explain] [--jobs] <sfDir> <queryName>...
  * With no query names, runs every query. Prints per-query wall seconds;
  * with --explain also prints the formatted physical plan (pushdown /
  * broadcast / codegen review, SURVEY §7 step 7); with --jobs also the
  * number of Spark jobs the query schedules end to end (build + run) —
  * the per-query scheduling-floor multiplier (~0.03-0.1 s/job on this
  * host), which is what dominates wall ≫ cpu keys.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val doExplain = flags.contains("--explain")
    val doJobs = flags.contains("--jobs")
    val sfDir = rest.head
    val names = if (rest.length > 1) rest.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var df: DataFrame = null
      var t0, tPlan, tRun = 0L
      def build(): Unit = {
        t0 = System.nanoTime()
        df = fn(spark, sfDir)
        tPlan = System.nanoTime()
        if (doExplain) { println(s"== $name =="); df.explain("formatted") }
        // noop materialization, same as Bench (count() would let Catalyst
        // prune every unreferenced column out of the timing)
        df.write.mode("overwrite").format("noop").save()
        tRun = System.nanoTime()
      }
      val jn = if (doJobs) s" jobs=${JobCount(spark)(build())}" else { build(); "" }
      val n = df.count()
      println(f"$name%-24s build=${(tPlan - t0) / 1e9}%8.3fs run=${(tRun - tPlan) / 1e9}%8.3fs rows=$n$jn")
      Reset.clear(spark)
    }
    spark.stop()
  }
}
