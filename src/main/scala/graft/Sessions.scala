package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory behind every main, so every tool measures
  * the session Bench measures. A streaming query fixes its checkpoint and
  * state-store settings when it starts, so they are set here, once, before
  * any query exists. (`SparkTestSession` is the test suite's own session:
  * it needs `local[4,2]` for its retry specs and a temp warehouse.)
  */
object Sessions {

  /** Cores for `local[cpus]`: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** RocksDB keeps keyed streaming state off the executor heap; the
    * streaming mains run on it and gates need it for transformWithState. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Shuffle partitions sized to `sfDir`'s input bytes when the main reads
    * an sf directory ([[Tuning.shufflePartitions]]), else one per core;
    * UTC; no UI; the local-FS checkpoint I/O of [[Tuning.checkpointIoConf]];
    * and with `rocksDb` the RocksDB state store. */
  def conf(cpus: Int, sfDir: Option[String], rocksDb: Boolean): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" ->
          sfDir.fold(cpus)(Tuning.shufflePartitions(_, cpus)).toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++
      Tuning.checkpointIoConf ++
      (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
       else Nil)

  /** A `local[cpus]` session with [[conf]], logging at WARN. */
  def local(sfDir: Option[String] = None, rocksDb: Boolean = false): SparkSession = {
    val n = cpus
    val spark = conf(n, sfDir, rocksDb)
      .foldLeft(SparkSession.builder().master(s"local[$n]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
