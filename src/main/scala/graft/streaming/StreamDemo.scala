package graft.streaming

import org.apache.spark.sql.functions._

/** End-to-end streaming drive: replays the events parquet as a file stream
  * through S1 (watermarked tumbling windows) and S4 (dedup), printing row
  * counts. Usage: runMain graft.streaming.StreamDemo <sfDir>. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // the file-stream source requires a directory: stage the single
    // events.parquet file into one, inside the per-JVM scratch namespace
    // so Reset.clearScratch (and the bench reset) reclaims it
    val inDir = java.nio.file.Files.createTempDirectory(graft.Reset.ScratchPrefix + "stream_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"))

    val schema = graft.sources.Tables.eventsRaw(spark, sfDir).schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(inDir.toString))

    val q1 = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("demo_s1").outputMode("append").start()
    val q4 = EventStreams.dedup(stream).select("event_id")
      .writeStream.format("memory").queryName("demo_s4").outputMode("append").start()
    q1.processAllAvailable(); q4.processAllAvailable()
    q1.stop(); q4.stop()
    // Append-mode window rows only materialize once the watermark passes:
    // a single static replay keeps them in state, so report engine progress.
    println(s"demo_s1 closed-window rows: ${spark.table("demo_s1").count()}")
    println(s"demo_s4 deduped events: ${spark.table("demo_s4").count()}")
    spark.stop()
  }
}
