package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Data-proportional partition sizing — the knob the sf3 scale study
  * isolated (round 15): the two super-linear curve rows (q198 5.19×, q52
  * 4.32× on 3× data) were not plan defects; at 32 shuffle partitions the
  * per-partition working set of the shingle/dedup family simply outgrew
  * memory and spilled. Doubling partitions restored both to linear. This
  * object turns that manual override into the default: derive the shuffle
  * partition count from RAW INPUT BYTES so it grows with the data and the
  * per-partition in-flight set stays bounded, with the core count as the
  * floor (never fewer partitions than cores).
  *
  * Target: ~8 MB of raw (compressed-parquet) input per shuffle partition.
  * The text/dedup operators expand raw bytes 10-20× in flight (shingle
  * arrays, minhash signatures, exploded band rows), so 8 MB raw is
  * ~100-150 MB expanded — comfortably inside an executor core's share.
  * The count is rounded UP to a whole multiple of the core count so every
  * shuffle stage runs complete waves.
  *
  * At cluster scale the same formula holds per-job (a 1000-executor,
  * 16-core fleet reading 100 TB: 100 TB / 8 MB ≈ 12.5 M raw-sized tasks —
  * there you'd raise the target to 64-128 MB per partition and let AQE
  * coalesce, which it does for every batch plan here too; the floor-at-
  * cores and whole-wave rounding carry over unchanged).
  *
  * STATE partitions are deliberately NOT auto-derived: a streaming
  * query's state partition count is baked into its checkpoint at first
  * start, so a data-proportional default would silently break resume.
  * Gates pin 8 state partitions (`streaming.Gates.StatePartitions`), and
  * resizing an existing query goes through the q240 statestore-reader
  * migration.
  */
object Tuning {
  val DefaultTargetBytesPerPartition: Long = 8L << 20

  /** Sum of regular-file bytes under `dir` (Spark-written parquet "files"
    * are directories; testdata parquet are plain files — walk covers both). */
  def totalInputBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val stream = Files.walk(root)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => Files.size(p))
        .sum
      finally stream.close()
    }
  }

  /** Shuffle partition count for a job reading `sfDir`: ceil(bytes/target)
    * floored at `cores` and rounded up to a multiple of `cores`. */
  def shufflePartitions(sfDir: String, cores: Int,
                        targetBytesPerPartition: Long = DefaultTargetBytesPerPartition): Int = {
    val byData = ((totalInputBytes(sfDir) + targetBytesPerPartition - 1)
      / targetBytesPerPartition).toInt
    val raw = math.max(cores, byData)
    ((raw + cores - 1) / cores) * cores
  }

  private val scanParCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Integer)]()

  /** Natural scan parallelism of a parquet table at `path`: the number of
    * data files — names starting with '_' (markers) or '.' (hidden
    * checksums: Spark-written directories carry one '.part-*.crc' per
    * part, which doubled the round-16 estimate — ADVICE) are excluded.
    * Cached per path + root mtime so a regenerated table is re-counted
    * (a file added/removed in a directory bumps the directory's mtime).
    * Our testdata tables are SINGLE single-row-group files under 128 MB —
    * effectively unsplittable (a split only reads the row groups whose
    * start offset it contains), so Spark's scan stage runs one task per
    * file no matter what `maxPartitionBytes` says. A production table has
    * many files/row groups and this returns a large number. */
  def scanParallelism(path: String): Int = {
    val root = Paths.get(path)
    val mtime =
      if (Files.exists(root)) Files.getLastModifiedTime(root).toMillis else -1L
    scanParCache.compute(path, (_, prev) =>
      if (prev != null && prev._1 == mtime) prev
      else (mtime, {
        if (!Files.exists(root)) Int.MaxValue // unknown layout: assume wide
        else if (Files.isRegularFile(root)) 1
        else {
          val stream = Files.walk(root)
          try stream.iterator().asScala.count { f =>
            val n = f.getFileName.toString
            Files.isRegularFile(f) && !n.startsWith("_") &&
              !n.startsWith(".") && Files.size(f) > 0
          } finally stream.close()
        }
      }: Integer))._2.intValue()
  }

  /** Guide §2.5's "one huge unsplittable file → repartition immediately
    * after the read", made scale-adaptive: hash-repartition `df` on `key`
    * across the session's cores ONLY when the table's natural scan
    * parallelism starves them (fewer splits than half the cores).
    * Downstream row-local work (tokenize/parse/hash) and partial
    * aggregation then use every core instead of one task per file. On a
    * production multi-file table the guard makes this a no-op — the
    * CONDITION carries across scales, not a tuned constant. Hash
    * partitioning on a real column is deterministic under task retry
    * (guide §2.5's rand() caveat) and adds no pre-shuffle sort (keyless
    * round-robin would, via sortBeforeRepartition). */
  def spreadNarrowScan(df: org.apache.spark.sql.DataFrame, tablePath: String,
                       key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (scanParallelism(tablePath) >= math.max(1, cores / 2)) df
    else df.repartition(cores, key)
  }

  /** Checkpoint-I/O conf for local-FS checkpoints, set at session level
    * by [[Sessions]] for every main and per query start by
    * [[graft.streaming.Gates]]. Two Spark-4.1 costs, measured by
    * thread-sampling the gate runs (q216 4.6→3.7 s, q222 6.8→5.3 s,
    * q228 5.8→4.9 s, q235 7.4→6.7 s):
    *  1. fileChecksum (new in 4.1, default on) writes and reads a paired
    *     checksum object for every checkpoint file, doubling file count and
    *     round-trips at any scale. State-file integrity is already covered
    *     by RocksDB's block checksums.
    *  2. The default FileContext-based manager on a file: scheme forks a
    *     subprocess per atomic rename. The FileSystem-based manager renames
    *     in the JVM; its caveat (rename is not atomic on some object
    *     stores) does not apply to local FS or HDFS, so a production job
    *     checkpointing to an object store keeps Spark's default.
    * At session level this also covers the `statestore`-source reads that
    * run outside a gate (q229-q241 introspection, TWS snapshot reads). */
  private[graft] val checkpointIoConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  def applyCheckpointIoDefaults(s: org.apache.spark.sql.SparkSession): Unit =
    checkpointIoConf.foreach { case (k, v) => s.conf.set(k, v) }
}
