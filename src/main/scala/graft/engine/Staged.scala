package graft.engine

import org.apache.spark.sql.SparkSession

import graft.Tables

/** The one JVM-lifetime memo for things graft builds once and reuses: a
  * staged scratch dir (replay inputs, indexes, materialized views, lake
  * scenario stores) or a small driver-side value (a quantizer fit, a
  * learned vocabulary, a model's headline metrics). Every such memo
  * decides three things here, not at its call site.
  *
  * Key: (`name`, `d`, `Tables.datasetFingerprint(d)`, `params`). `d` is
  * the input path whose content the entry depends on, so a dataset
  * regenerated in place at the same path keys a new entry instead of
  * serving a fit or index built over the old rows, and two copies of one
  * dataset (same sizes and mtimes) never share an entry. `params` are
  * every other build input, compared by `==`.
  *
  * Validity: a `dir` entry is reused only while its directory exists, so
  * external scratch cleanup forces a rebuild rather than a read of a
  * missing path; a `value` entry lives for the JVM. A value must not
  * hold a DataFrame: a cached or checkpointed plan is bound to the
  * SparkContext that made it, while a staged parquet dir re-reads under
  * any session. A build that throws leaves no entry, so the next call
  * retries.
  *
  * Build once: each key has its own cell, and a build runs under that
  * cell's lock, never inside the map's own update. Concurrent callers of
  * one key build once (the rest wait and share the result), and a build
  * may stage other keys, as a derived lake scenario stages its template.
  * Builds must not stage each other in a cycle.
  *
  * A build's Spark jobs carry the description `"stage <name>"`; the prior
  * description comes back afterwards and the job group is left alone.
  */
object Staged {

  private final case class Key(name: String, d: String, fingerprint: String, params: Seq[Any])
  private final class Cell { var value: Option[Any] = None }

  private val cells = new java.util.concurrent.ConcurrentHashMap[Key, Cell]

  def dir(s: SparkSession, name: String, d: String, params: Any*)(build: => String): String =
    staged[String](s, name, d, params, p => new java.io.File(p).exists())(build)

  def value[V](s: SparkSession, name: String, d: String, params: Any*)(build: => V): V =
    staged[V](s, name, d, params, _ => true)(build)

  private def staged[V](s: SparkSession, name: String, d: String, params: Seq[Any],
      valid: V => Boolean)(build: => V): V = {
    val key = Key(name, new java.io.File(d).getAbsolutePath,
      Tables.datasetFingerprint(d), params.toList)
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      cell.value.map(_.asInstanceOf[V]).filter(valid).getOrElse {
        cell.value = None
        val v = Sessions.withJobDescription(s, s"stage $name")(build)
        cell.value = Some(v)
        v
      }
    }
  }
}
