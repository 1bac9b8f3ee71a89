package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Exact._

/** Batch re-expression of the reference's invoice analytics.
  *
  * Reference semantics (citations into /root/reference):
  *  - purchase-line schema: realtime/InvoicePipeline.scala:25-32
  *  - featurize (8-aggregate groupBy): clustering/Clustering.scala:45-58
  *  - validity filter: clustering/Clustering.scala:60-67
  *  - hour extraction (stream semantics): realtime/InvoicePipeline.scala:495-498
  *  - legacy batch hour quirk Q1: clustering/Clustering.scala:24-32
  *  - error-classification cascade: realtime/InvoicePipeline.scala:260-289
  *
  * Everything here is declarative DataFrame code: the aggregation runs as
  * HashAggregateExec partial+final (map-side combine, one shuffle on the
  * invoice key), filters and column pruning reach the parquet scan, and every
  * expression is whole-stage-codegen friendly (no UDFs).
  */
object InvoiceOps {

  /** Explicit retail purchase-line schema — no inferSchema in engine code
    * (schema inference means a full extra pass over 100 TB). */
  val purchaseSchema: StructType = StructType(Seq(
    StructField("invoice_no", StringType),
    StructField("stock_code", StringType),
    StructField("description", StringType),
    StructField("quantity", IntegerType),
    StructField("invoice_date", StringType),
    StructField("unit_price", DoubleType),
    StructField("customer_id", StringType),
    StructField("country", StringType)))

  /** S1: batch CSV scan with the explicit schema (header optional). */
  def loadPurchasesCsv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).schema(purchaseSchema).csv(path)

  /** F2 (stream semantics — the correct one): hour of `M/d/yyyy H:mm`,
    * -1.0 when unparsable, mirroring InvoicePipeline.scala:495-498. */
  def hourOf(invoiceDate: Column): Column =
    coalesce(hour(to_timestamp(invoiceDate, "M/d/yyyy H:mm")).cast("double"), lit(-1.0))

  /** Q1 (legacy batch quirk, Clustering.scala:24-32): `substring(10)` then
    * split(":")(0) — drops the tens digit of the hour for short dates.
    * Kept behind this function for golden-log parity tests only. */
  def legacyHour(invoiceDate: Column): Column = {
    val tail = substring(invoiceDate, 11, 1000) // Scala substring(10) is 0-based
    val h = trim(split(tail, ":").getItem(0))
    when(invoiceDate.isNull || length(invoiceDate) === 0, lit(-1.0))
      .otherwise(h.cast("double"))
  }

  /** A1 over raw retail purchase lines (the CSV schema): derives the hour
    * column then aggregates. `legacyHourQuirk=true` reproduces the
    * reference's batch-side Q1 bug (tens digit dropped for short dates) for
    * golden/model-parity experiments; default is the correct F2 semantics. */
  def featurizePurchases(purchases: DataFrame, legacyHourQuirk: Boolean = false): DataFrame = {
    val hourCol = if (legacyHourQuirk) legacyHour(col("invoice_date"))
                  else hourOf(col("invoice_date"))
    featurize(purchases
      .withColumn("invoice_hour", hourCol)
      .withColumn("invoice_date_str", col("invoice_date")))
  }

  /** A1: the 8-aggregate featurize. Input: purchase-line shaped DataFrame
    * (invoice_no, quantity, unit_price, customer_id, invoice_hour pre-derived).
    * One hash aggregate, partial+final; `first` in the reference is replaced
    * by `min` (deterministic under any partitioning — `first` is not). */
  def featurize(purchases: DataFrame): DataFrame =
    purchases.groupBy(col("invoice_no")).agg(
      davg(col("unit_price"), 6).as("avg_unit_price"),
      min(col("unit_price")).as("min_unit_price"),
      max(col("unit_price")).as("max_unit_price"),
      max(col("invoice_hour")).as("time_hour"),
      dsum(col("quantity"), 2).as("number_items"),
      max(col("invoice_date_str")).as("last_date"),
      count(lit(1)).as("line_count"),
      min(col("customer_id")).as("customer_id"))

  /** P5: cancellation predicate. */
  def isCancellation(invoiceNo: Column): Column = invoiceNo.startsWith("C")

  /** ST6: error-classification cascade, priority order as in
    * InvoicePipeline.scala:260-289. NULL when the invoice is valid. */
  def errorReason(
      parseError: Column, lineCount: Column, customerId: Column,
      invoiceHour: Column, country: Column): Column =
    when(parseError.isNotNull, parseError)
      .when(lineCount.isNull || lineCount === 0, lit("no purchase lines"))
      .when(customerId.isNull || length(customerId) === 0, lit("missing customer ID"))
      .when(invoiceHour.isNull || invoiceHour < 0, lit("invalid invoice date"))
      .when(country.isNull || length(country) === 0, lit("missing country"))
      .otherwise(lit(null).cast(StringType))

  // -------------------------------------------------------------------------
  // Testdata adapter: lineitem ⋈ orders plays the purchase-line table
  // (FIXTURES.md §4: invoice ≈ l_orderkey, unit price ≈ l_extendedprice /
  // l_quantity, customer/time come from orders).
  // -------------------------------------------------------------------------

  /** A1 restructured for the star schema (guide §2.3 "aggregate before you
    * shuffle" + §8 "use what you know that the optimizer does not"): the
    * grouping key IS the join key, and `orders` is UNIQUE on it (primary
    * key), so group-then-join ≡ join-then-group — but the aggregate now
    * runs over lineitem alone:
    *  - every aggregation buffer is mutable (decimal/double/long), so the
    *    plan is a HashAggregate with map-side partial aggregation, where
    *    featurize over the line-level join carried min/max STRING buffers
    *    (customer_id, last_date) and fell back to SortAggregate — sorting
    *    every line row on both sides of the exchange;
    *  - the exchange carries one partial row per invoice, not one row per
    *    line (~4× fewer rows at any scale, and no carried order columns);
    *  - the order-side fields need no aggregation at all: the single
    *    matching order row supplies customer/hour/date/status directly
    *    (featurize's min/max over them folded a per-group CONSTANT).
    * Columns and values are bit-identical to
    * featurize over lineitem ⋈ orders lines — same per-row expressions, Exact
    * decimal sums are order-free, and the fold-to-constant equalities
    * hold because the join key is unique on the order side. The lineitem
    * scan is spread first (Tuning.spreadNarrowScan): at gate SFs the
    * table is ONE unsplittable file, so the partial aggregate otherwise
    * runs single-task; on a multi-file production table the spread is a
    * no-op and the map-side partial aggregation wins instead. */
  def featurizedFromStar(spark: SparkSession, sfDir: String): DataFrame = {
    val li = graft.Tuning.spreadNarrowScan(
      graft.Tables.lineitem(spark, sfDir),
      s"$sfDir/lineitem.parquet", col("l_orderkey"))
    val o = graft.Tables.orders(spark, sfDir)
    val unitPrice = col("l_extendedprice") / col("l_quantity")
    val agg = li.groupBy(col("l_orderkey")).agg(
      davg(unitPrice, 6).as("avg_unit_price"),
      min(unitPrice).as("min_unit_price"),
      max(unitPrice).as("max_unit_price"),
      dsum(col("l_quantity"), 2).as("number_items"),
      count(lit(1)).as("line_count"))
    agg.join(o, agg("l_orderkey") === o("o_orderkey"))
      .select(
        agg("l_orderkey").cast("string").as("invoice_no"),
        col("avg_unit_price"),
        col("min_unit_price"),
        col("max_unit_price"),
        hour(o("o_orderdate")).cast("double").as("time_hour"),
        col("number_items"),
        date_format(o("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("last_date"),
        col("line_count"),
        o("o_custkey").cast("string").as("customer_id"),
        o("o_orderstatus").as("order_status"))
  }
}
