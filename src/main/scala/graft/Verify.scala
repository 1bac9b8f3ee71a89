package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // Local iteration: SPARK_GRAFT_ONLY=<substring[,substring…]> dumps only
    // matching queries (the driver never sets it, so the gate sees all).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    // marker tells tools/check_oracle.py that missing dump dirs are the
    // filter's doing, not crashed queries (which stay hard FAILs)
    if (only.isDefined)
      Files.writeString(Paths.get(s"$outDir/_filtered"), only.get.mkString(","))
    else
      Files.deleteIfExists(Paths.get(s"$outDir/_filtered"))
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a quoted JSON string: backslash, quote and every control char
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
