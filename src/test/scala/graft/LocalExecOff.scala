package graft

import org.apache.spark.sql.SparkSession

import graft.graph.LocalExec

/** Runs `body` with LocalExec's byte budget at 0, so every graph operator
  * takes its distributed loop, then restores the session's setting. */
object LocalExecOff {
  def apply[A](spark: SparkSession)(body: => A): A = {
    val prev = spark.conf.getOption(LocalExec.MaxBytesKey)
    spark.conf.set(LocalExec.MaxBytesKey, "0")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(LocalExec.MaxBytesKey, v)
      case None => spark.conf.unset(LocalExec.MaxBytesKey)
    }
  }
}
