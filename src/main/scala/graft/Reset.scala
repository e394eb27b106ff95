package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

/** Session reset — the Spark re-expression of the reference's `clear()`
  * (databases.py:149: Neo4j `MATCH (n) DETACH DELETE n` and the Arango/
  * Orient equivalents, called by the bench loop between runs).
  *
  * A Spark session's mutable state is not row data (DataFrames are
  * immutable views over sources) but cached blocks, temp views, and
  * scratch output paths — so that is what clear() drops.
  */
object Reset {

  /** Prefix of every scratch path graft writes under /tmp — namespaced by
    * JVM pid so clear() only removes THIS session's scratch: a concurrent
    * graft JVM (test suite next to a bench run) must never have its
    * scratch yanked mid-query by another session's reset, the same way
    * the reference's clear() only empties its own database. */
  val ScratchPrefix = s"graft_${ProcessHandle.current().pid()}_"

  /** Drop session state: all cached blocks and all temporary views.
    * With `scratch = true`, also delete graft scratch directories under
    * /tmp (edge-list dumps etc.) and reset the write-once markers so the
    * next query regenerates them. */
  def clear(spark: SparkSession, scratch: Boolean = false): Unit = {
    // the LocalExec warm store and the prepared-graph memo are session
    // state too (the in-process analog of the reference stores' warm
    // caches): clear() empties them exactly like the reference's clear()
    // empties its databases
    graft.graph.LocalExec.clearWarm()
    graft.graph.PropertyGraph.clearMemo()
    spark.catalog.clearCache()
    // catalog.clearCache only drops the SQL CacheManager; raw RDD persists
    // (GraphX graphs, localCheckpoints whose consumers are done) live in
    // the BlockManager and must be released explicitly
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    if (scratch) clearScratch()
  }

  /** Serializes SCOPED session-conf flips (the checkpoint-manager scope
    * in InsertBench, the LocalExec kill-switch scope of GraphOps'
    * distributed sweep rows): two concurrent flips on one session could otherwise
    * interleave set/restore and strand the wrong value. Same stance as
    * [[writeOnceTable]] — today's drivers are single-threaded, the lock
    * makes the latent race impossible rather than documented-away. (A
    * concurrent UNRELATED query on the same session still plans under an
    * active scope's value; operators that must never do that take the
    * repartition-per-stage path instead.) */
  private[graft] val confFlip = new Object

  /** Scratch paths already produced this JVM. Derived outputs (edge-list
    * dumps, JSONL exports, curated sinks) are SETUP for the source/sink
    * under test: repeated invocations (bench warmup + timed passes) write
    * once and time only the read path. */
  private val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `write` only the first time `path` is claimed this JVM (until
    * clearScratch resets the markers). The written tree is fsynced before
    * returning: the scratch write runs in the bench's UNTIMED warmup, and
    * without the sync the OS flushes its dirty pages asynchronously —
    * writeback landing inside a later TIMED read pass was the likely
    * driver of the r10 `c_curated_sink` bimodality (0.26-0.63 s on the
    * driver host's disk-backed /tmp). Cost stays in the pass that caused
    * it. */
  def writeOnce(path: String)(write: => Unit): Unit =
    if (written.add(path)) {
      write
      syncTree(Paths.get(path))
    }

  /** Best-effort fsync of every regular file AND directory under `root`
    * (directories included so entry metadata is flushed too — on this
    * JDK/Linux, FileChannel.open(dir, READ).force works; any platform
    * where it throws just degrades to file-only syncing). */
  private[graft] def syncTree(root: java.nio.file.Path): Unit = {
    if (!Files.exists(root)) return
    val stream = Files.walk(root)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) || Files.isDirectory(p)) {
          try {
            val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.READ)
            try ch.force(true) finally ch.close()
          } catch { case _: Throwable => () }
        }
      }
    } finally stream.close()
  }

  /** writeOnce for a saveAsTable-backed layout: catalogs are per-SESSION
    * while the write-once markers are per-JVM, so a fresh session in a
    * JVM whose marker is already claimed (one test suite after another)
    * would otherwise skip the write and then fail to resolve the table.
    * Writes when the table is missing from this session's catalog OR the
    * marker is free (first claim, or scratch cleared between sweep SFs).
    *
    * Unlike writeOnce's single atomic `written.add`, this spans two states
    * (session catalog + per-JVM marker), so the whole check-then-act runs
    * under one lock — two threads racing on the same table must not both
    * run the saveAsTable write (today's drivers are single-threaded; the
    * lock makes the latent race impossible rather than documented-away). */
  def writeOnceTable(spark: SparkSession, table: String, path: String)
                    (write: => Unit): Unit =
    written.synchronized {
      // same warmup-writeback isolation as writeOnce: the bucketed
      // lookup tables are setup too, and their dirty pages must not
      // flush inside a later timed pass
      if (!spark.catalog.tableExists(table)) {
        written.add(path); write; syncTree(Paths.get(path))
      } else if (written.add(path)) { write; syncTree(Paths.get(path)) }
    }

  /** Delete every /tmp/graft_* scratch dir and reset ALL per-JVM
    * memoization (write-once markers + the grid-size memo) — one path for
    * every cache keyed on a data dir, so a dir regenerated at a different
    * scale within one JVM can never serve stale sizes. */
  def clearScratch(): Unit = {
    written.clear()
    graft.operators.GraphOps.clearGridNCache()
    graft.graph.LocalExec.clearWarm()
    graft.graph.PropertyGraph.clearMemo()
    val tmp = Paths.get("/tmp")
    if (Files.isDirectory(tmp)) {
      val stream = Files.list(tmp)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith(ScratchPrefix)) deleteRecursively(p)
        }
      } finally stream.close()
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
