package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Fixtures, QueryDef, Tables}
import graft.batch.InvoiceOps
import graft.functions.Exact._

/** Batch relational query inventory (SURVEY.md §2.1–2.6, §2.8) over the
  * testdata star schema. Every query here is declarative DataFrame code —
  * filters/projections push into the parquet scan, aggregates run
  * partial+final, small dims are broadcast — and carries a DuckDB oracle.
  */
object Relational {

  private def ts(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** A1+P1: the reference featurize — groupBy invoice, 8 aggregates
    * (Clustering.scala:45-58), over the lineitem⋈orders purchase view. */
  val featurizeSql: String = s"""
    SELECT CAST(l_orderkey AS VARCHAR) AS invoice_no,
      ${davgSql("l_extendedprice / l_quantity", 6)} AS avg_unit_price,
      min(l_extendedprice / l_quantity) AS min_unit_price,
      max(l_extendedprice / l_quantity) AS max_unit_price,
      max(CAST(extract(hour FROM o_orderdate) AS DOUBLE)) AS time_hour,
      ${dsumSql("l_quantity", 2)} AS number_items,
      max(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS last_date,
      count(*) AS line_count,
      min(CAST(o_custkey AS VARCHAR)) AS customer_id
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_orderkey"""

  def featurized(s: SparkSession, d: String): DataFrame =
    InvoiceOps.featurizedFromStar(s, d)
      .select("invoice_no", "avg_unit_price", "min_unit_price",
        "max_unit_price", "time_hour", "number_items", "last_date",
        "line_count", "customer_id")

  /** P3: validity filter on the featurized invoices; 'F' order status plays
    * the cancellation flag (FIXTURES.md §4). Emits the 5-dim feature row.
    * Shares [[InvoiceOps.featurizedFromStar]]'s aggregate-before-join plan
    * (hash aggregate, invoice-sized exchange) — see its equality ledger. */
  def validFeatures(s: SparkSession, d: String): DataFrame =
    InvoiceOps.featurizedFromStar(s, d)
      .filter(col("customer_id").isNotNull && length(col("customer_id")) > 0 &&
        col("order_status") =!= "F" && !col("invoice_no").startsWith("C"))
      .select("invoice_no", "avg_unit_price", "min_unit_price",
        "max_unit_price", "time_hour", "number_items")

  val validFeaturesSql: String = s"""
    SELECT invoice_no, avg_unit_price, min_unit_price, max_unit_price,
           time_hour, number_items
    FROM (
      SELECT CAST(l_orderkey AS VARCHAR) AS invoice_no,
        ${davgSql("l_extendedprice / l_quantity", 6)} AS avg_unit_price,
        min(l_extendedprice / l_quantity) AS min_unit_price,
        max(l_extendedprice / l_quantity) AS max_unit_price,
        max(CAST(extract(hour FROM o_orderdate) AS DOUBLE)) AS time_hour,
        ${dsumSql("l_quantity", 2)} AS number_items,
        min(CAST(o_custkey AS VARCHAR)) AS customer_id,
        max(o_orderstatus) AS order_status
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_orderkey)
    WHERE customer_id IS NOT NULL AND length(customer_id) > 0
      AND order_status <> 'F' AND invoice_no NOT LIKE 'C%'"""

  /** ST6/F3: error-classification when-cascade over the events stream table. */
  def errorClassify(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        when(col("event_type") === "error", concat(lit("parse error: "), col("props")))
          .when(col("value") < 0, lit("negative value"))
          .when(col("user_id").isNull, lit("missing user"))
          .otherwise(lit(null).cast("string")).as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n"))

  val errorClassifySql: String = """
    SELECT CASE WHEN event_type = 'error' THEN 'parse error: ' || props
                WHEN value < 0 THEN 'negative value'
                WHEN user_id IS NULL THEN 'missing user'
           END AS reason, count(*) AS n
    FROM events GROUP BY 1"""

  /** A4/ST8 (batch mode): tumbling 1-minute count of the 'error' branch. */
  def cancelTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "error")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(ts(col("window.start")).as("window_start"), col("n"))

  val cancelTumblingSql: String = """
    SELECT strftime(time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n
    FROM events WHERE event_type = 'error' GROUP BY 1"""

  /** ST8 faithful: 8-minute window sliding by 1 minute
    * (InvoicePipeline.scala:326). */
  def cancelSliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "error")
      .groupBy(window(col("ts"), "8 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(ts(col("window.start")).as("window_start"), col("n"))

  val cancelSlidingSql: String = """
    SELECT strftime(time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP))
                      - k.r * INTERVAL '1 minute',
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n
    FROM events CROSS JOIN range(8) k(r)
    WHERE event_type = 'error' GROUP BY 1"""

  /** T1/M5: anomaly threshold = 2000th-largest distance to a fixed center
    * (KMeansClusterInvoices.scala:44-48). TakeOrderedAndProject — no full
    * sort, per-partition top-k then a single driver merge; at 100 TB this
    * moves only 2000 rows per partition, never the data. */
  private val ctr = Seq(30.0, 5.0, 80.0, 12.0, 100.0)
  def topkThreshold(s: SparkSession, d: String): DataFrame = {
    val f = validFeatures(s, d)
    val dcol =
      (col("avg_unit_price") - ctr(0)) * (col("avg_unit_price") - ctr(0)) +
      (col("min_unit_price") - ctr(1)) * (col("min_unit_price") - ctr(1)) +
      (col("max_unit_price") - ctr(2)) * (col("max_unit_price") - ctr(2)) +
      (col("time_hour") - ctr(3)) * (col("time_hour") - ctr(3)) +
      (col("number_items") - ctr(4)) * (col("number_items") - ctr(4))
    f.select(dcol.as("d")).orderBy(col("d").desc).limit(2000)
      .agg(min(col("d")).as("threshold"))
  }

  val topkThresholdSql: String = s"""
    SELECT min(d) AS threshold FROM (
      SELECT (avg_unit_price - 30.0) * (avg_unit_price - 30.0)
           + (min_unit_price - 5.0) * (min_unit_price - 5.0)
           + (max_unit_price - 80.0) * (max_unit_price - 80.0)
           + (time_hour - 12.0) * (time_hour - 12.0)
           + (number_items - 100.0) * (number_items - 100.0) AS d
      FROM (${validFeaturesSql.replace("\n", " ")})
      ORDER BY d DESC LIMIT 2000)"""

  /** U1: union of the error/valid branches (InvoicePipeline.scala:180-181). */
  def unionBranches(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val bad  = ev.filter(col("event_type") === "error")
      .select(col("event_id"), lit("error").as("branch"))
    val good = ev.filter(col("event_type") =!= "error")
      .select(col("event_id"), lit("good").as("branch"))
    bad.unionByName(good)
  }

  val unionBranchesSql: String = """
    SELECT event_id, 'error' AS branch FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_id, 'good' AS branch FROM events WHERE event_type <> 'error'"""

  /** J-coverage: revenue by nation — 3 shuffle joins + broadcast dims.
    * nation/region are broadcast (tiny); customer⋈orders⋈lineitem shuffle on
    * their keys, AQE coalesces. The flagship query. */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val revenueByNationSql: String = s"""
    SELECT n_name,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
      count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name"""

  /** TPC-H Q1-shaped pricing summary — the headline hash aggregate. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 4).as("sum_charge"),
        davg(col("l_quantity"), 2).as("avg_qty"),
        davg(col("l_extendedprice"), 2).as("avg_price"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity", 2)} AS sum_qty,
      ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
      ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 4)} AS sum_charge,
      ${davgSql("l_quantity", 2)} AS avg_qty,
      ${davgSql("l_extendedprice", 2)} AS avg_price,
      ${davgSql("l_discount", 6)} AS avg_disc,
      count(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus"""

  /** q180: the q09 aggregate served from an ORC sink/source round-trip —
    * the storage-path twin of the q159/q93 "same oracle, new engine
    * path" discipline: the fact table is written once as ORC (Spark's
    * other first-class columnar format; sink side) and the identical
    * aggregation runs over the ORC scan (source side). ORC stores
    * int64/double/string/timestamp losslessly, so the rows — and the
    * quantized-exact sums — hash-match q09's parquet-based DuckDB oracle
    * VERBATIM; a lossy or schema-mangling round-trip would break the
    * hash, which is exactly what the row gates. Column pruning and the
    * aggregate pushdown shape carry over to the ORC scan unchanged. */
  private def q09AggOn(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 4).as("sum_charge"),
        davg(col("l_quantity"), 2).as("avg_qty"),
        davg(col("l_extendedprice"), 2).as("avg_price"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  def pricingSummaryOrc(s: SparkSession, d: String): DataFrame = {
    val dir = Fixtures.once(s, "graft-orc-cache", d, "lineitem", "orc1") { dir =>
      Tables.lineitem(s, d).write.orc(dir)
    }
    q09AggOn(s.read.orc(dir))
  }

  /** q181: the same round-trip law through JSON LINES — the interchange
    * format ingestion actually meets (API dumps, event logs). The full
    * table is written as jsonl (doubles serialize shortest-repr, parse
    * correctly-rounded — lossless both ways) and read back under an
    * EXPLICIT SUBSET schema: only the six aggregate columns are declared,
    * so the scan never parses the rest (schema-projected JSON reads are
    * the difference between ingesting a field and paying for a line). The
    * aggregation hash-matches q09's parquet oracle verbatim. */
  def pricingSummaryJson(s: SparkSession, d: String): DataFrame = {
    val dir = Fixtures.once(s, "graft-json-cache", d, "lineitem", "jsonl1") { dir =>
      Tables.lineitem(s, d).write.json(dir)
    }
    val subset = org.apache.spark.sql.types.StructType(
      Tables.lineitem(s, d).schema.fields.filter(f => Set(
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax").contains(f.name)))
    q09AggOn(s.read.schema(subset).json(dir))
  }

  /** T-coverage: top order per customer. Planned through the native
    * [[graft.expressions.TopKRows]] aggregate (k=1) rather than the
    * `row_number` window the oracle states: the window must shuffle and
    * sort EVERY order row per customer before discarding all but one,
    * while the aggregate runs in ObjectHashAggregate with a partial/final
    * split — each map task forwards one (price, orderkey) pair per
    * customer and the exchange carries 20-byte buffers, not the table.
    * Same total order ("price desc, orderkey asc"), so the kept row is
    * identical; the surfaced price is the unchanged input double, so the
    * hash compare is unaffected. o_totalprice is non-null, so k=1 always
    * fills and the explode drops nothing. */
  def topOrderPerCustomer(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(graft.expressions.TopKRows.topK(
        col("o_totalprice"), col("o_orderkey"), 1).as("top"))
      .select(col("o_custkey"),
        col("top").getItem(0).getField("payload").as("o_orderkey"),
        col("top").getItem(0).getField("key").as("o_totalprice"))

  val topOrderPerCustomerSql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1"""

  /** F2: hour extraction histogram (correct semantics, not quirk Q1). */
  def hourHistogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))

  val hourHistogramSql: String = """
    SELECT CAST(extract(hour FROM ts) AS INTEGER) AS h, count(*) AS n
    FROM events GROUP BY 1"""

  /** Gap-based sessionization in batch (the 40 s inactivity-session analog,
    * gap = 1 hour over the sparser events table): lag + running sum — two
    * window passes over one shuffle on user_id. */
  def sessionizeGap(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(order))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 3600, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        ts(min(col("ts"))).as("session_start"),
        ts(max(col("ts"))).as("session_end"))

  }

  val sessionizeGapSql: String = """
    SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                      OR date_diff('second', prev_ts, ts) > 3600 THEN 1
                    ELSE 0 END AS new_session
        FROM (
          SELECT user_id, ts, event_id,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events)))
    GROUP BY user_id, session_id"""

  /** Exact distinct aggregate per group. */
  def distinctUsersByType(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val distinctUsersByTypeSql: String = """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type"""

  /** A-coverage: HyperLogLog distinct estimate per group — the sketch path
    * for 100 TB cardinalities (constant memory per group vs exact distinct's
    * shuffle of every key). The ESTIMATE is engine-private (HLL++ under a
    * Spark-internal hash), so the oracle-checked output is the CONTRACT
    * instead: the exact distinct count (computable in both engines) plus a
    * boolean asserting Spark's estimate landed within 3× its requested
    * relative standard deviation of it. The oracle states `TRUE` — a sketch
    * regression surfaces as a hash-mismatched FALSE, which upgrades this
    * row from the old rows-only check to a real gate row. (The oracle-exact
    * alternative whose state itself is checkable bit-for-bit is q93.) */
  def approxDistinctUsers(s: SparkSession, d: String): DataFrame = {
    val rsd = 0.02
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx"),
        count_distinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") <=
          lit(3 * rsd) * col("exact_users").cast("double")).as("within_bound"))
  }

  val approxDistinctUsersSql: String = """
    SELECT event_type, count(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type"""

  /** q102: strict-order funnel — of the users who signed up, how many
    * then viewed, then clicked, then purchased, each stage STRICTLY after
    * the previous one's first completion (min-ts semantics: the funnel
    * clock starts at the user's first qualifying event per stage).
    * Sequential-pattern analytics over the event stream — the query shape
    * behind conversion dashboards and training-cohort selection.
    *
    * Scale shape: each stage is one user-keyed aggregate joined to the
    * previous stage's (user, ts) — all four joins and aggregates share
    * the user_id partitioning, so AQE reuses one exchange per side; the
    * final conversion window runs over exactly 4 stage rows (bounded, not
    * data-sized). No event ever pairs with more than its own user's
    * stage row — nothing quadratic. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def stage(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id"), col("ts"))
    val first = stage("signup").groupBy("user_id").agg(min("ts").as("t"))
    def next(prev: DataFrame, t: String) =
      stage(t).join(prev.select(col("user_id"), col("t").as("pt")), "user_id")
        .filter(col("ts") > col("pt"))
        .groupBy("user_id").agg(min("ts").as("t"))
    val stages = Seq(
      "1_signup" -> first,
      "2_view" -> next(first, "view"))
    val s3 = next(stages.last._2, "click")
    val all = stages ++ Seq("3_click" -> s3, "4_purchase" -> next(s3, "purchase"))
    val counts = all.map { case (name, df) =>
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    }.reduce(_ unionByName _)
    counts.withColumn("conversion",
      col("users").cast("double") /
        lag(col("users"), 1).over(
          org.apache.spark.sql.expressions.Window.orderBy("stage")).cast("double"))
  }

  val funnelSql: String = """
    WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
    s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
    counts AS (
      SELECT '1_signup' AS stage, count(*) AS users FROM s1
      UNION ALL SELECT '2_view', count(*) FROM s2
      UNION ALL SELECT '3_click', count(*) FROM s3
      UNION ALL SELECT '4_purchase', count(*) FROM s4)
    SELECT stage, users,
           CAST(users AS DOUBLE)
             / CAST(lag(users) OVER (ORDER BY stage) AS DOUBLE) AS conversion
    FROM counts"""

  /** Anti join: customers with no orders (NOT EXISTS). */
  /** Anti join over a DATE-WINDOWED right side: customers with no 1995
    * order. (Round-11 verdict #7: the unwindowed form gated on 0 rows at
    * every SF — the testdata gives every customer an order — so the row
    * proved only that both engines agree on empty; the windowed form
    * yields real survivors at every gate SF while keeping the identical
    * anti-join plan, with the date filter pushed below the join.) */
  def customersWithoutOrders(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-01-01").cast("date"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val customersWithoutOrdersSql: String = """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1995-01-01'
                        AND o_orderdate < TIMESTAMP '1996-01-01')"""

  /** q221: the SQL-STRING surface + correlated-scalar-subquery
    * DECORRELATION — each customer's maximum-value order(s), written the
    * way an analyst writes it (a correlated `= (SELECT max(...))`) and
    * run through `spark.sql` over a registered view. What's gated beyond
    * the rows: Catalyst's RewriteCorrelatedScalarSubquery must turn the
    * per-row subquery into ONE aggregate + ONE key equi-join — a naive
    * engine re-executes the subquery per outer row (O(n²) at 100 TB);
    * RelationalSpec pins the decorrelated plan (no nested-loop, no
    * cartesian). Ties (two orders sharing the customer max) are kept by
    * both engines — set semantics, no arbitrary pick. */
  def correlatedMaxOrder(s: SparkSession, d: String): DataFrame =
    Extensions.sqlOver(s, "orders" -> Tables.orders(s, d))("""
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 1e2) AS BIGINT) AS cents
      FROM {orders} o
      WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                            FROM {orders} o2
                            WHERE o2.o_custkey = o.o_custkey)""")

  val correlatedMaxOrderSql: String = """
    SELECT o_orderkey, o_custkey,
           CAST(floor(o_totalprice * 1e2) AS BIGINT) AS cents
    FROM orders o
    WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                          FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)"""

  /** Semi join: parts that appear in some lineitem (EXISTS). */
  def partsWithSales(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val li = Tables.lineitem(s, d)
    p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"))
  }

  val partsWithSalesSql: String = """
    SELECT p_partkey, p_brand FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"""

  /** Rollup aggregate: per-(flag,status) plus subtotals and grand total. */
  def rollupRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n"))

  val rollupRevenueSql: String = s"""
    SELECT l_returnflag, l_linestatus,
           ${dsumSql("l_extendedprice", 2)} AS sum_price, count(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  /** Pivot: order revenue as a status × priority matrix. Explicit pivot
    * values — the scale-safe form: no extra distinct-discovery pass over
    * the fact table, and the plan is a single hash aggregate whose schema
    * is fixed at compile time. Cells with no rows are NULL (both engines'
    * sum-over-empty), exercised by status 'P' at the gate SFs. */
  private val orderPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def pivotRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", orderPriorities)
      .agg(dsum(col("o_totalprice"), 2))

  val pivotRevenueSql: String = s"""
    SELECT o_orderstatus,
           ${orderPriorities.map(p =>
      dsumSql(s"CASE WHEN o_orderpriority = '$p' THEN o_totalprice END", 2) +
        s""" AS "$p"""").mkString(", ")}
    FROM orders GROUP BY o_orderstatus"""

  /** q121: unpivot — the melt half pivot (q55) was missing: the wide
    * per-priority revenue matrix folds back to long (status, priority,
    * revenue) rows via the native `unpivot` operator (an Expand, one pass,
    * no shuffle beyond q55's aggregate), and the ROUND-TRIP LAW is the
    * oracle: pivot ∘ unpivot ≡ the direct two-key aggregate, with the
    * pivot's NULL cells (combinations with no orders) dropped where the
    * direct aggregate never had a row. */
  def unpivotRevenue(s: SparkSession, d: String): DataFrame =
    pivotRevenue(s, d)
      .unpivot(Array(col("o_orderstatus")), orderPriorities.map(col).toArray,
        "o_orderpriority", "revenue")
      .filter(col("revenue").isNotNull)

  val unpivotRevenueSql: String = s"""
    SELECT o_orderstatus, o_orderpriority,
           ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders GROUP BY 1, 2"""

  /** Discrete (order-statistic) median: the element at rank ⌈n/2⌉ of
    * (price, orderkey) per status. A PICKED element, not an interpolated
    * value — engines disagree on percentile interpolation arithmetic, but
    * an order statistic with a total order (tie → orderkey) is the same
    * row everywhere. Plans as one window over the status partition — at
    * scale this is the exact-median form; approximate quantiles
    * (approx_percentile) are the sketch alternative when a pass per
    * partition is too dear. */
  def medianOrderPrice(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("o_orderstatus"))))
      // Spark's `/` on integers is double division — cast truncates back
      // to the floor, matching DuckDB's `//` for positive counts
      .filter(col("rn") === ((col("cnt") + 1) / 2).cast("long"))
      .select(col("o_orderstatus"), col("o_totalprice").as("median_price"),
        col("o_orderkey").as("median_orderkey"))
  }

  val medianOrderPriceSql: String = """
    SELECT o_orderstatus, o_totalprice AS median_price,
           o_orderkey AS median_orderkey
    FROM (SELECT o_orderstatus, o_totalprice, o_orderkey,
            row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice, o_orderkey) AS rn,
            count(*) OVER (PARTITION BY o_orderstatus) AS cnt
          FROM orders)
    WHERE rn = (cnt + 1) // 2"""

  /** Left outer join keeping order-less customers with zeroed aggregates. */
  def customerOrderSummary(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey").as("c_custkey"))
      .agg(count(o("o_orderkey")).as("n_orders"),
        coalesce(dsum(o("o_totalprice"), 2), lit(0.0)).as("total_spent"))
  }

  val customerOrderSummarySql: String = s"""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           coalesce(${dsumSql("o_totalprice", 2)}, 0.0) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey"""

  /** HAVING filter over a grouped aggregate. */
  def bigCustomers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 15)

  val bigCustomersSql: String = """
    SELECT o_custkey, count(*) AS n_orders FROM orders
    GROUP BY o_custkey HAVING count(*) >= 15"""

  /** Deterministic top-N: revenue per part, ordered with an id tiebreak. */
  def top10Parts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_partkey"))
      .limit(10)

  val top10PartsSql: String = s"""
    SELECT l_partkey,
           ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
    FROM lineitem GROUP BY l_partkey
    ORDER BY revenue DESC, l_partkey LIMIT 10"""

  /** Window-after-aggregate: each nation's share of total revenue. The
    * window total is an exact decimal sum (the per-nation revenues are
    * already 1e-4-quantized), so shares are bit-identical cross-engine. */
  def revenueShare(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = revenueByNation(s, d)
    val total = sum(col("revenue").cast(DecimalType(27, 4)))
      .over(Window.partitionBy())
      .cast("double")
    base.select(col("n_name"), col("revenue"), (col("revenue") / total).as("share"))
  }

  val revenueShareSql: String = s"""
    SELECT n_name, revenue,
           revenue / CAST(sum(CAST(revenue AS DECIMAL(27,4))) OVER () AS DOUBLE) AS share
    FROM (${revenueByNationSql.replace("\n", " ")})"""

  /** Correlated scalar subquery (Catalyst decorrelation): orders above 2×
    * their customer's exact mean order value. The SQL text is engine-
    * portable, so the oracle IS the same string. */
  val ordersAboveCustomerAvgSql: String = s"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (
      SELECT 2 * (${davgSql("o2.o_totalprice", 2)})
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)"""

  def ordersAboveCustomerAvg(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(ordersAboveCustomerAvgSql)
  }

  /** JSON extraction over the events props column. */
  def jsonPropsSum(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))

  val jsonPropsSumSql: String = """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
    FROM events GROUP BY event_type"""

  /** CUBE aggregate over order status × priority. */
  def cubeOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))

  val cubeOrdersSql: String = s"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           ${dsumSql("o_totalprice", 2)} AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""

  /** q200: event-type transition matrix — Markov first-order counts and
    * probabilities over each user's time-ordered event stream (the
    * product-analytics "what happens after X" view). One user-keyed
    * window (ordered by (ts, event_id) — a TOTAL order, so duplicate
    * timestamps can't flip transitions between engines) emits lag-1
    * pairs; a 25-cell aggregate counts them; the row-probability is one
    * IEEE division against a per-prev-type window sum over the
    * cells-sized frame. One data shuffle on user_id, everything after
    * is cells-sized. */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    pairs
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
  }

  val eventTransitionsSql: String = """
    WITH pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events),
    counts AS (SELECT prev_type, next_type, count(*) AS n
               FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) /
             CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM counts"""

  /** q201: the TIME-BOUNDED funnel — q102's staged progression with each
    * step required within 48 h of the previous (the form product funnels
    * actually ship: an unbounded funnel credits conversions weeks
    * apart). Same per-stage min-timestamp joins, each with the upper
    * bound added; every stage stays keyed on user_id, so all four joins
    * reuse one partitioning. Each stage frame has TWO consumers (the
    * next stage's join and its own count branch), so each is persisted —
    * without it the union's four branches re-derive every prefix and the
    * events table is scanned 10 times instead of 4 (the beyondThreshold
    * lesson, caught on this query's first .explain). */
  def funnelBounded(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def stage(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id"), col("ts"))
    // each stage frame feeds TWO branches (its count and the next stage's
    // join), and every stage ends in a user_id-keyed aggregate — all four
    // branches share exchanges, so ReuseExchange runs each stage's map
    // side once per action: no persists, no eager checkpoint, nothing
    // pinned in the block manager (round-14 SpineProbe: the
    // persist+checkpoint+release machinery measured SLOWER than the
    // exchange reuse it duplicated)
    val first = stage("signup").groupBy("user_id").agg(min("ts").as("t"))
    def next(prev: DataFrame, t: String) =
      stage(t).join(prev.select(col("user_id"), col("t").as("pt")), "user_id")
        .filter(col("ts") > col("pt") &&
          col("ts") <= col("pt") + expr("INTERVAL 48 HOURS"))
        .groupBy("user_id").agg(min("ts").as("t"))
    val s2 = next(first, "view")
    val s3 = next(s2, "click")
    val s4 = next(s3, "purchase")
    val stages = Seq("1_signup" -> first, "2_view" -> s2,
      "3_click" -> s3, "4_purchase" -> s4)
    val counts = stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    }.reduce(_ unionByName _)
    counts.withColumn("conversion",
      col("users").cast("double") /
        lag(col("users"), 1).over(Window.orderBy("stage")).cast("double"))
  }

  val funnelBoundedSql: String = """
    WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts > s1.t
             AND e.ts <= s1.t + INTERVAL 48 HOUR GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s2.t
             AND e.ts <= s2.t + INTERVAL 48 HOUR GROUP BY 1),
    s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s3.t
             AND e.ts <= s3.t + INTERVAL 48 HOUR GROUP BY 1),
    counts AS (
      SELECT '1_signup' AS stage, count(*) AS users FROM s1
      UNION ALL SELECT '2_view', count(*) FROM s2
      UNION ALL SELECT '3_click', count(*) FROM s3
      UNION ALL SELECT '4_purchase', count(*) FROM s4)
    SELECT stage, users,
           CAST(users AS DOUBLE)
             / CAST(lag(users) OVER (ORDER BY stage) AS DOUBLE) AS conversion
    FROM counts"""

  /** q202: the SINGLE-SHUFFLE funnel — the same time-bounded funnel as
    * q201 under the SAME oracle (the q180/q181/q197 "same oracle, new
    * engine path" discipline), re-expressed as one user-keyed
    * collect+fold instead of a four-stage join chain. Why: q201's
    * declarative chain shuffles each stage and its union branches share
    * nothing without explicit persists; this shape scans events ONCE
    * (PushedFilters: In(event_type, [4 types])), shuffles ONCE on
    * user_id, and computes each user's furthest stage with a
    * higher-order `aggregate` fold over the time-sorted event list —
    * greedy first-qualifying-event per stage ≡ q201's min-timestamp
    * chain because the list is traversed in (ts, event_id) order.
    * Everything after the fold is ≤5 rows. Per-user lists are bounded
    * by per-user event counts — the standard funnel trade (one shuffle +
    * in-memory per-user sort) that every product-analytics engine makes;
    * a pathological single-user firehose would need the sessionizer's
    * streaming state path instead. */
  def funnelFold(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val types = Seq("signup", "view", "click", "purchase")
    val perUser = Tables.events(s, d)
      .filter(col("event_type").isin(types: _*))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
    val init = struct(lit(0).as("stage"),
      lit(null).cast("timestamp").as("t"))
    def step(acc: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) = {
      def advance(k: Int, t: String) =
        acc("stage") === (k - 1) && e("event_type") === t &&
          (if (k == 1) lit(true)
           else e("ts") > acc("t") &&
             e("ts") <= acc("t") + expr("INTERVAL 48 HOURS"))
      types.zipWithIndex.foldLeft(acc) { case (out, (t, i)) =>
        when(advance(i + 1, t),
          struct(lit(i + 1).as("stage"), e("ts").as("t"))).otherwise(out)
      }
    }
    val folded = perUser.select(
      aggregate(col("evs"), init, step).getField("stage").as("stage_reached"))
    val byStage = folded.groupBy("stage_reached").agg(count(lit(1)).as("n"))
    val stageDim = types.zipWithIndex
      .map { case (t, i) => (i + 1, s"${i + 1}_$t") }.toDF("k", "stage")
    stageDim.join(byStage, col("stage_reached") >= col("k"), "left")
      .groupBy("k", "stage").agg(coalesce(sum("n"), lit(0L)).as("users"))
      .withColumn("conversion",
        col("users").cast("double") /
          lag(col("users"), 1).over(Window.orderBy("stage")).cast("double"))
      .drop("k")
  }

  /** q196: GROUPING SETS — the third member of the multi-granularity
    * family (ROLLUP q34, CUBE q42), with an EXPLICIT mixed set list
    * ((prio, status), (prio), (status), ()) and the grouping_id
    * disambiguator (Spark's bit order mirrored in the oracle as
    * grouping(prio)·2 + grouping(status)). One Expand + one aggregate —
    * the planner's n-sets-in-one-pass shape, not four scans unioned. */
  def groupingSetsRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum(col("o_totalprice"), 2).as("revenue"))

  val groupingSetsRevenueSql: String = s"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS BIGINT) AS gid,
           count(*) AS n, ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())"""

  /** q199: cumulative distinct users by day — the running-audience curve
    * computed WITHOUT any cumulative-distinct state: a user contributes
    * at exactly their first-seen day (one user-keyed min aggregate), so
    * the curve is a running sum over the days-sized per-day new-user
    * counts. The window sorts ~hundreds of day rows, never the corpus —
    * the standard rewrite that makes "distinct users to date" feasible
    * at 100 TB. Pure integers. */
  def cumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val firstDay = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    firstDay
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val cumulativeUsersSql: String = """
    WITH fu AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
                FROM events GROUP BY 1),
    pd AS (SELECT day, count(*) AS new_users FROM fu GROUP BY 1)
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_users
    FROM pd"""

  /** Date-range predicate that pushes to the parquet scan (PushedFilters).
    * Ship-mode style slice of lineitem by shipdate window. */
  def shipdateSlice(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-01-01").cast("date"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice"), 2).as("sum_price"))

  val shipdateSliceSql: String = s"""
    SELECT l_returnflag, count(*) AS n, ${dsumSql("l_extendedprice", 2)} AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag"""

  /** q188: weekly cohort retention matrix over events — each user joins
    * the cohort of their FIRST active week; cell (cohort_wk, weeks_since)
    * counts how many of that cohort were active that many weeks later,
    * plus the retention fraction. The product-analytics staple, shaped
    * for scale: ONE data-sized shuffle (the per-user aggregate — min week
    * + distinct active weeks in a single ObjectHashAggregate pass over a
    * user-keyed exchange), then an explode and a cells-sized aggregate;
    * after the explode each (user, week) appears exactly once, so a plain
    * count IS the distinct-user count and no count-distinct expansion
    * runs. The per-user frame is persisted lazily — cohort sizes and the
    * matrix are two consumers of one scan (the beyondThreshold lesson).
    * Weeks are exact integer arithmetic from a fixed epoch; retention is
    * one IEEE division of integer-valued doubles — hash-exact. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      floor(datediff(col("ts").cast("date"), to_date(lit("2024-01-01"))) / 7)
        .as("wk"))
    // perUser has two consumers (cohort sizes, the activity explode) but
    // both branches share its shuffle — ReuseExchange computes the
    // aggregate's map side once per action, so no persist and no eager
    // checkpoint (and therefore nothing to release): the round-14
    // SpineProbe measurement showed the persist+checkpoint+release
    // machinery costs MORE than the exchange reuse it duplicates
    val perUser = ev.groupBy("user_id")
      .agg(min("wk").as("cohort_wk"), collect_set("wk").as("wks"))
    val sizes = perUser.groupBy("cohort_wk")
      .agg(count(lit(1)).as("cohort_users"))
    perUser
      .select(col("cohort_wk"), explode(col("wks")).as("wk"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("weeks_since"))
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, "cohort_wk")
      .select(col("cohort_wk"), col("weeks_since"), col("active_users"),
        col("cohort_users"),
        (col("active_users").cast("double") /
          col("cohort_users").cast("double")).as("retention"))
  }

  val cohortRetentionSql: String = """
    WITH ev AS (SELECT user_id,
                  CAST(floor(datediff('day', DATE '2024-01-01',
                                      CAST(ts AS DATE)) / 7) AS BIGINT) AS wk
                FROM events),
    pu AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
    uw AS (SELECT DISTINCT user_id, wk FROM ev),
    act AS (SELECT pu.cohort_wk, uw.wk - pu.cohort_wk AS weeks_since,
                   count(*) AS active_users
            FROM uw JOIN pu USING (user_id) GROUP BY 1, 2),
    cs AS (SELECT cohort_wk, count(*) AS cohort_users FROM pu GROUP BY 1)
    SELECT act.cohort_wk, act.weeks_since, act.active_users, cs.cohort_users,
           CAST(act.active_users AS DOUBLE) / CAST(cs.cohort_users AS DOUBLE)
             AS retention
    FROM act JOIN cs USING (cohort_wk)"""

  /** q189: the TPC-H Q21 join shape adapted to this schema — suppliers
    * who were the SOLE late shipper on a shared order ("late" =
    * shipped > 60 days after the order date; Q21's receipt/commit pair
    * isn't in the testdata). Two correlated subqueries against the same
    * fact — EXISTS another supplier on the order, NOT EXISTS another
    * LATE supplier — become one left-semi and one left-anti self-join in
    * the plan, every join keyed on the order key (co-partitioned: the
    * late set, the supplier-per-order set, and both correlates shuffle
    * on l_orderkey once each, and AQE broadcasts the supplier dim). The
    * (numwait DESC, suppkey) order is total, so the LIMIT frontier is
    * deterministic. */
  def loneLateSupplier(s: SparkSession, d: String): DataFrame = {
    // Rewritten round 16 (guide §2.4 "remove shuffles outright"): the
    // original expressed "another supplier exists" / "no other late
    // supplier" as a semi-join against the distinct (order, supplier)
    // pairs and an anti-join against the distinct late pairs — two extra
    // distincts plus two self-joins, all shuffling lineitem-sized frames
    // on l_orderkey (~26 MB of exchanges at sf0.1). Both conditions are
    // per-ORDER aggregates of the same frame: for a late (order, s) pair,
    //   ∃ other supplier      ⇔ the order has ≥ 2 distinct suppliers,
    //   ¬∃ other late supplier ⇔ the order has exactly 1 late supplier
    //     (itself — so that unique supplier is min(late supplier)).
    // One (orderkey, suppkey) aggregate + one orderkey rollup replace
    // distinct + distinct + semi + anti. The orders side is NOT hinted:
    // an explicit broadcast() overrides autoBroadcastJoinThreshold, and a
    // production-scale orders table would OOM the driver — AQE already
    // broadcasts it at gate SF (round-16 ADVICE). The lineitem scan is
    // spread first (one-file table, guide §2.5).
    val li = graft.Tuning.spreadNarrowScan(Tables.lineitem(s, d),
        s"$d/lineitem.parquet", col("l_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val perSupp = li
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        1L).otherwise(0L)).as("late"))
    val lone = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("late")).as("n_late"),
        min(when(col("late") === 1L, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2L && col("n_late") === 1L)
      .select(col("late_supp").as("l_suppkey"))
    lone
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"), col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(100)
  }

  val loneLateSupplierSql: String = """
    WITH spo AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    late AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey
             FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY),
    lone AS (SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
             WHERE EXISTS (SELECT 1 FROM spo l2
                           WHERE l2.l_orderkey = l1.l_orderkey
                             AND l2.l_suppkey <> l1.l_suppkey)
               AND NOT EXISTS (SELECT 1 FROM late l3
                               WHERE l3.l_orderkey = l1.l_orderkey
                                 AND l3.l_suppkey <> l1.l_suppkey))
    SELECT s.s_name, l.l_suppkey, count(*) AS numwait
    FROM lone l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1, 2
    ORDER BY numwait DESC, l_suppkey
    LIMIT 100"""

  /** q190: hive-partitioned storage layout — orders written
    * `partitionBy(o_orderpriority)` once per dataset fingerprint, then the
    * urgent slice's monthly order counts and exact-cents revenue served
    * from the layout. The read's priority predicate is a PARTITION filter:
    * the scan lists the one matching directory and reads zero bytes of
    * the other four (LayoutSpec asserts PartitionFilters carries it and
    * the in-file schema no longer holds the partition column) — the
    * directory-level sibling of q180/q181's format round-trips, and the
    * justification is identical: the oracle is the plain-parquet q190
    * aggregate, so a layout that loses or mangles rows breaks the hash. */
  def priorityLayoutRevenue(s: SparkSession, d: String): DataFrame = {
    val dir = Fixtures.once(s, "graft-part-cache", d, "orders", "prio1") { dir =>
      Tables.orders(s, d).write.partitionBy("o_orderpriority").parquet(dir)
    }
    s.read.parquet(dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("revenue"))
  }

  val priorityLayoutRevenueSql: String = s"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*) AS n_orders,
           ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1"""

  /** q214: INTERVAL UNION coverage — each event opens a 30-minute
    * activity interval; the per-user covered time is the length of the
    * UNION of those (overlapping) intervals, the sweep-line primitive
    * behind uptime, attribution windows, and session coverage. The
    * classic one-pass rewrite: order a user's intervals by start, carry
    * the running max of prior ends, and each interval contributes
    * `max(0, end − max(start, prior_max_end))` — overlap never double
    * counts, gaps contribute nothing. One user-keyed shuffle; the window
    * sorts each user's events, never the corpus. All arithmetic is exact
    * integer milliseconds, so the gate is pure integers. */
  def intervalUnion(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("st"),
      (unix_millis(col("ts")) + lit(1800000L)).as("en"),
      col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("prev_max_en", max(col("en")).over(w))
      .withColumn("contrib", greatest(lit(0L),
        col("en") - greatest(col("st"), coalesce(col("prev_max_en"), col("st")))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("contrib")).as("covered_ms"))
  }

  val intervalUnionSql: String = """
    WITH iv AS (
      SELECT user_id, epoch_ms(ts) AS st, epoch_ms(ts) + 1800000 AS en,
             event_id
      FROM events),
    sweep AS (
      SELECT user_id, st, en,
             max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_en
      FROM iv)
    SELECT user_id, count(*) AS n_events,
           CAST(sum(greatest(0, en - greatest(st, coalesce(prev_max_en, st))))
                AS BIGINT) AS covered_ms
    FROM sweep GROUP BY 1"""

  /** q213: SCHEMA EVOLUTION read — the storage-family row for the drift
    * every long-lived 100 TB dataset accumulates: generation 1 files
    * (even order keys) carry three columns, generation 2 (odd keys) adds
    * `o_orderpriority`, both live in ONE directory, and the query reads
    * them under `mergeSchema` — gen-1 rows surface the added column as
    * NULL, which the aggregate folds into an 'unknown' bucket. The
    * oracle replays the generation split in SQL, so what's gated is the
    * merged-footer scan's exact null semantics (a reader that dropped
    * gen-1 rows, or defaulted instead of NULLing, breaks the hash).
    * Fixture prep writes each generation once per dataset fingerprint;
    * the two writes land as files in the same directory (the q210
    * move-the-part-file mechanics). */
  def schemaEvolutionRead(s: SparkSession, d: String): DataFrame = {
    val dir = Fixtures.once(s, "graft-evo-cache", d, "orders", "gen2v1") { dir =>
      val o = Tables.orders(s, d)
      Seq(
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority")))
        .zipWithIndex.foreach { case (gen, i) =>
          graft.queries.Extensions.writeSingleParquet(gen, dir, s"gen$i.parquet")
        }
    }
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(coalesce(col("o_orderpriority"), lit("unknown")).as("pri"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("revenue"))
  }

  val schemaEvolutionReadSql: String = s"""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                ELSE 'unknown' END AS pri,
           count(*) AS n_orders,
           ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders
    GROUP BY 1"""

  val defs: Map[String, QueryDef] = Map(
    "q01_featurize_invoices"  -> QueryDef(featurized _, featurizeSql),
    "q188_cohort_retention"   -> QueryDef(cohortRetention _, cohortRetentionSql),
    "q189_lone_late_supplier" -> QueryDef(loneLateSupplier _, loneLateSupplierSql),
    "q190_priority_layout"    -> QueryDef(priorityLayoutRevenue _, priorityLayoutRevenueSql),
    "q02_valid_features"      -> QueryDef(validFeatures _, validFeaturesSql),
    "q03_error_classify"      -> QueryDef(errorClassify _, errorClassifySql),
    "q04_cancel_tumbling"     -> QueryDef(cancelTumbling _, cancelTumblingSql),
    "q05_cancel_sliding"      -> QueryDef(cancelSliding _, cancelSlidingSql),
    "q06_topk_threshold"      -> QueryDef(topkThreshold _, topkThresholdSql),
    "q07_union_branches"      -> QueryDef(unionBranches _, unionBranchesSql),
    "q08_revenue_by_nation"   -> QueryDef(revenueByNation _, revenueByNationSql),
    "q09_pricing_summary"     -> QueryDef(pricingSummary _, pricingSummarySql),
    "q180_orc_roundtrip"      -> QueryDef(pricingSummaryOrc _, pricingSummarySql),
    "q213_schema_evolution"   -> QueryDef(schemaEvolutionRead _, schemaEvolutionReadSql),
    "q214_interval_union"     -> QueryDef(intervalUnion _, intervalUnionSql),
    "q181_json_roundtrip"     -> QueryDef(pricingSummaryJson _, pricingSummarySql),
    "q10_top_order_per_customer" -> QueryDef(topOrderPerCustomer _, topOrderPerCustomerSql),
    "q11_hour_histogram"      -> QueryDef(hourHistogram _, hourHistogramSql),
    "q12_sessionize_gap"      -> QueryDef(sessionizeGap _, sessionizeGapSql),
    "q13_distinct_users_by_type" -> QueryDef(distinctUsersByType _, distinctUsersByTypeSql),
    "q14_customers_without_orders" -> QueryDef(customersWithoutOrders _, customersWithoutOrdersSql),
    "q15_parts_with_sales"    -> QueryDef(partsWithSales _, partsWithSalesSql),
    "q221_correlated_subquery" ->
      QueryDef(correlatedMaxOrder _, correlatedMaxOrderSql),
    "q33_approx_distinct_users" -> QueryDef(approxDistinctUsers _, approxDistinctUsersSql),
    "q102_funnel"             -> QueryDef(funnel _, funnelSql),
    "q34_rollup_revenue"      -> QueryDef(rollupRevenue _, rollupRevenueSql),
    "q35_customer_order_summary" -> QueryDef(customerOrderSummary _, customerOrderSummarySql),
    "q36_big_customers"       -> QueryDef(bigCustomers _, bigCustomersSql),
    "q37_top10_parts"         -> QueryDef(top10Parts _, top10PartsSql),
    "q38_revenue_share"       -> QueryDef(revenueShare _, revenueShareSql),
    "q39_orders_above_cust_avg" -> QueryDef(ordersAboveCustomerAvg _, ordersAboveCustomerAvgSql),
    "q40_json_props_sum"      -> QueryDef(jsonPropsSum _, jsonPropsSumSql),
    "q41_shipdate_slice"      -> QueryDef(shipdateSlice _, shipdateSliceSql),
    "q42_cube_orders"         -> QueryDef(cubeOrders _, cubeOrdersSql),
    "q196_grouping_sets"      -> QueryDef(groupingSetsRevenue _, groupingSetsRevenueSql),
    "q199_cumulative_users"   -> QueryDef(cumulativeUsers _, cumulativeUsersSql),
    "q200_event_transitions"  -> QueryDef(eventTransitions _, eventTransitionsSql),
    "q201_funnel_bounded"     -> QueryDef(funnelBounded _, funnelBoundedSql),
    "q202_funnel_fold"        -> QueryDef(funnelFold _, funnelBoundedSql),
    "q55_pivot_revenue"       -> QueryDef(pivotRevenue _, pivotRevenueSql),
    "q121_unpivot_revenue"    -> QueryDef(unpivotRevenue _, unpivotRevenueSql),
    "q56_median_order_price"  -> QueryDef(medianOrderPrice _, medianOrderPriceSql))
}
