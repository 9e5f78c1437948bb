package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Compute-once values scoped to a SparkSession: the queries that export
  * one expensive run several times (the reference computes a chain once
  * and writes several tables) share it per (session, key). Entries of
  * stopped sessions are dropped on every access, so a long-lived embedding
  * never pins checkpoint RDD references past the owning session. */
final class SessionMemo[K, V](stopped: SparkSession => Boolean = _.sparkContext.isStopped) {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()

  def apply(s: SparkSession, key: K)(body: => V): V = {
    entries.keySet.removeIf(k => stopped(k._1))
    entries.computeIfAbsent((s, key), _ => body)
  }
}
