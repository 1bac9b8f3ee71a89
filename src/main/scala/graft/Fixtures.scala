package graft

import org.apache.spark.sql.SparkSession

/** Build-once derived fixtures: index caches, replay slices, persisted
  * day-1 state — anything a query derives from an sf table once and then
  * reads many times.
  *
  * A fixture lives at `<warehouse>/<cache>/<sf dir>_<params>_<fp>`, where
  * `<warehouse>` is the session's `spark.sql.warehouse.dir` (so each
  * checkout, bench run or test JVM owns its fixtures) and `<fp>` binds the
  * source parquet's identity (mtime ^ size): a regenerated table gets a
  * new directory, never a stale fixture. `params` binds the build
  * parameters and a builder version — bump it whenever the builder's
  * output changes.
  *
  * A directory counts as built only once [[Marker]] exists, and the marker
  * is written after `build` returns. A directory without it (first use, or
  * a build that threw or was killed) is cleared and rebuilt from nothing.
  * One lock per directory serializes concurrent callers in this JVM; a
  * build may call [[once]] for its own inputs.
  */
object Fixtures {

  /** The one "built" marker. `_`-prefixed, so Spark's file listing (batch
    * reads and file streams over the directory) never sees it. */
  val Marker = "_GRAFT_READY"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The fixture directory for this key; [[once]] builds it. */
  private[graft] def dir(s: SparkSession, cache: String, d: String,
                         srcTable: String, params: String): String = {
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val src = new java.io.File(s"$d/$srcTable.parquet")
    val fp = java.lang.Long.toHexString(src.lastModified() ^ (src.length() * 1000003L))
    // no leading `_`: Spark treats `_`-prefixed paths as hidden and warns
    // on every read of one
    val sf = d.replaceAll("[^A-Za-z0-9.]", "_").dropWhile(_ == '_')
    new java.io.File(s"$wh/$cache", s"${sf}_${params}_$fp").getAbsolutePath
  }

  /** The built fixture directory for this key, running `build(dir)` first
    * unless a previous call in any JVM sharing the warehouse finished it. */
  def once(s: SparkSession, cache: String, d: String, srcTable: String,
           params: String)(build: String => Unit): String = {
    val path = dir(s, cache, d, srcTable, params)
    locks.computeIfAbsent(path, _ => new Object).synchronized {
      val marker = java.nio.file.Paths.get(path, Marker)
      if (!java.nio.file.Files.exists(marker)) {
        new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
        build(path)
        java.nio.file.Files.createDirectories(marker.getParent)
        java.nio.file.Files.writeString(marker, "")
      }
    }
    path
  }
}
