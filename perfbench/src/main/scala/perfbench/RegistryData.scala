package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, TimestampNTZType}

/** Seeded tables for the registry workload, in the layout of the engine's
  * test data (one parquet file per table, `<dir>/<table>.parquet`, the
  * star schema `graft.Tables` reads, naive timestamps). Row counts follow
  * TPC-H at scale factor `sf` (orders = 1.5M × sf, 1–7 lines each; events
  * = 1M × sf over 29 days; documents = 50k × sf). Every value is a hash of
  * the seed, the table and the row, so one seed gives the same bytes. */
object RegistryData {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Words = ("query row stream the spark line small fast group customer batch " +
    "sort value hash filter big data dup part column order scan a slow agg key window " +
    "table merge vector join").split(' ').toSeq

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000); val nDocs = n(50000)
    val nUsers = n(15000); val nVecs = n(20000)

    var salt = 0
    /** A fresh uniform integer in [0, m) per row. */
    def u(m: Long, cols: Column*): Column = {
      salt += 1
      pmod(xxhash64((lit(seed) +: lit(salt) +: (if (cols.isEmpty) Seq(col("id")) else cols)): _*),
        lit(m))
    }
    def cents(lo: Long, hi: Long): Column = (u(hi - lo + 1) + lo) / 100.0
    def pick(xs: Seq[String], cols: Column*): Column =
      element_at(array(xs.map(lit): _*), (u(xs.size, cols: _*) + 1).cast("int"))
    def ids(k: Long): DataFrame = spark.range(k).toDF()
    val day0 = to_date(lit("1995-01-01"))

    def put(name: String, df: DataFrame): Unit = {
      val tmp = s"$dir/.$name.tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(s"$dir/$name.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      new File(tmp).listFiles().foreach(_.delete())
      new File(tmp).delete()
    }

    new File(dir).mkdirs()
    put("region", ids(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    put("nation", ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    put("customer", ids(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(25).cast("int").as("c_nationkey"), cents(-99999, 999999).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")).as("c_mktsegment")))
    put("supplier", ids(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(25).cast("int").as("s_nationkey"), cents(-99999, 999999).as("s_acctbal")))
    put("part", ids(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("large", "hot", "small", "cold", "bright")),
        pick(Seq("ring", "bolt", "gear", "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), u(25) + 1).as("p_brand"),
      pick(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO")).as("p_type"),
      (u(50) + 1).cast("int").as("p_size"), cents(90000, 200000).as("p_retailprice")))
    val orders = ids(nOrders).select(col("id").as("o_orderkey"), u(nCust).as("o_custkey"),
      pick(Seq("O", "F", "P")).as("o_orderstatus"), cents(90000, 50000000).as("o_totalprice"),
      date_add(day0, u(2404).cast("int")).cast(TimestampNTZType).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    put("orders", orders)
    put("lineitem", orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (u(7, col("o_orderkey")) + 1).cast("int"))).as("ln"))
      .select(col("o_orderkey").as("l_orderkey"),
        u(nPart, col("o_orderkey"), col("ln")).as("l_partkey"),
        u(nSupp, col("o_orderkey"), col("ln")).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (u(50, col("o_orderkey"), col("ln")) + 1).cast("double").as("l_quantity"),
        ((u(10409924, col("o_orderkey"), col("ln")) + 90068) / 100.0).as("l_extendedprice"),
        (u(11, col("o_orderkey"), col("ln")) / 100.0).as("l_discount"),
        (u(9, col("o_orderkey"), col("ln")) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), col("o_orderkey"), col("ln")).as("l_returnflag"),
        pick(Seq("O", "F"), col("o_orderkey"), col("ln")).as("l_linestatus"),
        date_add(col("o_orderdate").cast("date"), (u(121, col("o_orderkey"), col("ln")) + 1).cast("int"))
          .cast(TimestampNTZType).as("l_shipdate")))
    put("events", ids(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u(29L * 86400 * 1000000))
        .cast(TimestampNTZType).as("ts"),
      u(nUsers).as("user_id"),
      pick(Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      cents(0, 56021).as("value"),
      format_string("{\"k\": %d}", u(100)).as("props")))
    // about one document in a hundred repeats its predecessor's text
    val textOf = when(u(100) === 0, col("id") - 1).otherwise(col("id"))
    put("documents", ids(nDocs).withColumn("tid", textOf)
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(1), (pmod(xxhash64(lit(seed), lit(-1), col("tid")), lit(83)) + 8).cast("int")),
        i => element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(seed), lit(-2), col("tid"), i), lit(Words.size.toLong)) + 1).cast("int")))))
      .select(col("id").as("doc_id"), col("text"),
        pick(Seq("en", "en", "en", "es", "zh", "de", "fr")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    put("embeddings", ids(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(lit(seed), lit(-3), col("id"), i), lit(77L)) - 38) / 100.0).cast(FloatType))
        .as("embedding"),
      u(10).cast("int").as("label")))
  }
}
