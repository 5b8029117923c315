package graft

import org.apache.spark.sql.SparkSession

/** Per-invocation scratch scope for the queries that land files, drain a
  * stream or persist an index inside the query body: a fresh temp dir plus
  * optional session-conf overrides, both undone however the body exits.
  */
object Scratch {

  /** Delete `f` and everything under it. */
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rmrf)
    f.delete(): Unit
  }

  /** Run `body` against a new temp dir named `prefix…` with `conf` applied
    * to the session. On the way out — normal or thrown — every overridden
    * key gets its old value back (keys that were unset are unset again)
    * and the dir is deleted. A body whose result reads the dir lazily must
    * materialize it (`localCheckpoint()`) before returning.
    */
  def run[T](spark: SparkSession, prefix: String, conf: (String, String)*)(
      body: java.io.File => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toFile
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val saved = conf.map { case (k, _) => k -> set.get(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      body(root)
    } finally {
      saved.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      rmrf(root)
    }
  }
}
