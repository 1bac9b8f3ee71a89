package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Fixtures, QueryDef, Tables}
import graft.expressions.ZOrderKey

/** Storage-layout query surface (see [[graft.operators.Layout]]). */
object LayoutQueries {

  /** Interleave width: 21 bits per key covers TPC-H partkey up to SF ~100
    * (2M parts) with headroom; the gate fixtures use a fraction of it. */
  val zorderBits = 21

  /** Bucket = z-value with the low `zbucketShift` bits dropped — i.e. the
    * z-curve cell formed by the keys' bits above `zbucketShift/2`. Each
    * bucket is what one clustered FILE would hold after a z-ordered write. */
  val zbucketShift = 14

  /** q76: per-z-bucket key-range statistics over lineitem's
    * (l_partkey, l_suppkey). The point of the layout in one result set:
    * within every z-bucket, BOTH keys' min..max spans are narrow slices of
    * their global domains — the per-file min/max stats a reader's
    * data-skipping consults. Row-local key computation, one count-style
    * aggregate shuffle on the bucket id; all arithmetic is exact integer
    * bit manipulation, identical in both engines by construction. */
  def zorderStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        shiftright(ZOrderKey.zorder(col("l_partkey"), col("l_suppkey"), zorderBits),
          zbucketShift).as("zbucket"),
        col("l_partkey"), col("l_suppkey"))
      .groupBy("zbucket")
      .agg(
        count(lit(1)).as("n"),
        min("l_partkey").as("pk_min"), max("l_partkey").as("pk_max"),
        min("l_suppkey").as("sk_min"), max("l_suppkey").as("sk_max"))

  val zorderStatsSql: String = {
    val z = ZOrderKey.interleaveSql("l_partkey", "l_suppkey", zorderBits)
    s"""
    SELECT ($z >> $zbucketShift) AS zbucket,
           count(*) AS n,
           min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
           min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
    FROM lineitem
    GROUP BY 1"""
  }

  // --- q219: zone-map stats off the PHYSICAL file layout ---------------------

  /** 8 key-range-clustered order files (slice i = the i-th ntile of the
    * o_orderkey order) — the layout a range-clustered lakehouse write
    * produces, cached per orders fingerprint. Deterministic: o_orderkey
    * is unique, so the ntile cut is total-order stable. */
  private[graft] def zonedOrdersDir(s: SparkSession, d: String): String =
    Fixtures.once(s, "graft-zone-layout", d, "orders", "ntile8v1") { dir =>
      val sliced = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"),
          floor(col("o_totalprice") * lit(1e2)).cast("long").as("cents"))
        .withColumn("slice", ntile(8).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))))
        .persist()
      try {
        (1 to 8).foreach { i =>
          Extensions.writeSingleParquet(
            sliced.filter(col("slice") === i).drop("slice"),
            dir, f"slice$i%02d.parquet")
        }
      } finally sliced.unpersist()
    }

  /** q219: ZONE-MAP (per-file min/max/count) statistics computed off the
    * physical layout itself — `input_file_name()` groups rows by the file
    * that holds them, so the emitted zones are facts about the FILES, not
    * about a logical recomputation: if the writer had leaked a row into
    * the wrong slice, the zone spans would overlap and the hash would
    * break. This is the stats table a data-skipping reader consults
    * (Delta/Iceberg file stats, parquet footer min/max one level up);
    * LayoutSpec proves the skipping law — a key-range query served from
    * only the zone-overlapping files equals the full-scan filter.
    * One narrow scan + a files-sized aggregate; the fixture's global sort
    * is offline layout maintenance, cached per orders fingerprint. */
  def zoneMapStats(s: SparkSession, d: String): DataFrame = {
    val dir = zonedOrdersDir(s, d)
    s.read.parquet(dir)
      .withColumn("file_slice",
        regexp_extract(input_file_name(), "slice(\\d+)\\.parquet", 1).cast("int"))
      .groupBy("file_slice")
      .agg(count(lit(1)).as("n_rows"),
        min("o_orderkey").as("key_min"), max("o_orderkey").as("key_max"),
        // canonical yyyy-MM-dd strings: the physical date type differs
        // between the engines' parquet readers (DATE vs TIMESTAMP)
        min(col("o_orderdate").cast("date").cast("string")).as("date_min"),
        max(col("o_orderdate").cast("date").cast("string")).as("date_max"),
        sum("cents").as("total_cents"))
  }

  /** Oracle: the slice RULE restated — ntile(8) over the same total order
    * reproduces each file's membership, so per-file stats are closed-form
    * recomputable without seeing the files. */
  val zoneMapStatsSql: String = """
    WITH z AS (SELECT ntile(8) OVER (ORDER BY o_orderkey) AS file_slice,
                      o_orderkey, o_orderdate,
                      CAST(floor(o_totalprice * 1e2) AS BIGINT) AS cents
               FROM orders)
    SELECT file_slice, count(*) AS n_rows,
           min(o_orderkey) AS key_min, max(o_orderkey) AS key_max,
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS date_min,
           CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS date_max,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM z GROUP BY 1"""

  val defs: Map[String, QueryDef] = Map(
    "q76_zorder_stats" -> QueryDef(zorderStats _, zorderStatsSql),
    "q219_zone_map" -> QueryDef(zoneMapStats _, zoneMapStatsSql))
}
