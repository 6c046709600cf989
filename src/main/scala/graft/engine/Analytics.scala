package graft.engine

import java.time.{LocalDate, YearMonth}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ExecutionException, ExecutorService, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.functions.Param
import graft.operators._

/** The reference's three entry flows (SURVEY.md §3) as pure transforms over
  * NYC-shaped frames — what a user of the reference would call instead of
  * its Flask routes. Column names follow schema.sql; date window bounds are
  * optional exactly like the reference's dynamically-built predicates
  * (webserver/server.py:156-167).
  *
  * Scale shape: the per-frame operators below are lazily-planned
  * transforms. [[dashboard]] serves a page from three Spark queries (the
  * geo lookup, one service-request query, one sales query; the last two
  * run side by side) where the reference issues 4-5 sequential SQL
  * queries (webserver/server.py:130-256), and derives the remaining
  * frames on the driver. A trend series ([[requestTrend]],
  * [[salesTrend]]) is one month aggregate; its zero-filled month spine
  * is laid out on the driver, as the reference's month loop does
  * (server.py:319-341), not joined in a second job. `compare`/`bookmarks`
  * handle all keys in a single pass instead of re-running the stack per
  * key (server.py:456-473, 561-580). Every per-request value — the natural
  * key, the geographic id, the compared key list, the window bounds — is
  * bound as a [[graft.functions.Param]], so the generated code does not
  * depend on it: one compiled class per route shape, not one per key.
  */
object Analytics {

  /** Reference status domain + active subset (schema.sql:73,
    * webserver/server.py:172).
    */
  val ActiveStatuses: Seq[String] = Seq("Open", "Pending", "In Progress")

  case class Window(start: Option[String], end: Option[String])
  object Window {
    /** Reference default dashboard window (webserver/server.py:392-395). */
    val default: Window = Window(Some("2024-01-01"), Some("2024-12-31"))
    val allTime: Window = Window(None, None)
  }

  private def windowed(df: DataFrame, dateCol: String, w: Window): DataFrame =
    Filters.dateWindow(df, dateCol, w.start, w.end)

  /** One key's service requests inside the window. */
  private def requestsOf(sr: DataFrame, geoId: Long, w: Window): DataFrame =
    windowed(sr.filter(Param.equalTo(sr, "geographic_id", geoId)), "created_date", w)

  /** One key's sales (joined to their properties) inside the window. */
  private def salesOf(sale: DataFrame, property: DataFrame, geoId: Long,
                      w: Window): DataFrame =
    windowed(
      sale.join(property.filter(Param.equalTo(property, "geographic_id", geoId)),
        Seq("property_id")),
      "sale_date", w)

  /** Geo point lookup: natural key → geographic_id row; empty frame = the
    * reference's 404 (webserver/server.py:135-149).
    */
  def geoLookup(geo: DataFrame, borough: Int, block: Int, lot: Int): DataFrame =
    Filters.naturalKey(geo, bbl(borough, block, lot))

  private def bbl(borough: Int, block: Int, lot: Int): Map[String, Any] =
    Map("borough_code" -> borough, "block_code" -> block, "lot_code" -> lot)

  /** [[geoLookup]]'s id, or None for an unknown key. */
  def lookupId(geo: DataFrame, borough: Int, block: Int, lot: Int): Option[Long] =
    // select the key column by NAME before the 1-row collect: a caller's
    // geo frame with a different column order must not yield a wrong id
    geoLookup(geo, borough, block, lot).select(col("geographic_id"))
      .collect().headOption.map(_.getAs[Long]("geographic_id"))

  /** Natural keys → geographic ids in ONE dimension scan; unresolved keys
    * are simply absent (the compare and bookmarks contract).
    */
  def resolveKeys(geo: DataFrame, keys: Seq[(Int, Int, Int)]): Seq[Long] = {
    val keyPred = keys.map { case (b, bl, lt) => Filters.keyMatch(geo, bbl(b, bl, lt)) }
      .reduceOption(_ || _).getOrElse(lit(false))
    geo.filter(keyPred).select(col("geographic_id"))
      .collect().map(_.getAs[Long]("geographic_id")).toSeq
  }

  /** §3.1 dashboard, service-request side: totals + per-complaint-type
    * breakdown + top-5+Other chart reduction
    * (webserver/server.py:170-200, 411-419).
    */
  def requestTotals(sr: DataFrame, geoId: Long, w: Window): DataFrame =
    Aggregates.totals(requestsOf(sr, geoId, w), "status", ActiveStatuses)

  def requestsByType(sr: DataFrame, complaintTypes: DataFrame, geoId: Long,
                     w: Window): DataFrame =
    // LEFT join + Unknown bucket (r12): the reference's DB enforces
    // the FK, this engine does not — an inner join silently dropped
    // requests whose type id misses the dimension, breaking the
    // by-type-sums-to-total invariant one step above topNPlusOther's
    // carefully preserved grand total. On FK-clean data the two joins
    // are row-identical.
    Aggregates.groupCounts(
      requestsOf(sr, geoId, w)
        .join(broadcast(complaintTypes), Seq("complaint_type_id"), "left")
        .withColumn("complaint_type_name",
          coalesce(col("complaint_type_name"), lit("Unknown"))),
      "complaint_type_name", "status", ActiveStatuses)

  /** Chart buckets: the top 5 types plus the residual "Other". */
  private val ChartTop = 5

  def complaintChart(byType: DataFrame): DataFrame =
    TopK.topNPlusOther(byType, "complaint_type_name", ChartTop)

  /** §3.1 dashboard, sales side: detail listing (date-desc) + stats with
    * the empty→0 contract (webserver/server.py:203-240).
    */
  def salesListing(sale: DataFrame, property: DataFrame, geoId: Long,
                   w: Window, limit: Int = ListingLimit): DataFrame =
    salesOf(sale, property, geoId, w)
      .select(ListingCols.map(col): _*)
      .orderBy(col("sale_date").desc, col("sale_price").desc)
      .limit(limit)

  private val ListingCols =
    Seq("property_address", "apartment_number", "sale_price", "sale_date")
  private val ListingLimit = 10

  def salesStats(sale: DataFrame, property: DataFrame, geoId: Long,
                 w: Window): DataFrame =
    Aggregates.priceStats(salesOf(sale, property, geoId, w), "sale_price")

  /** The full §3.1 dashboard as one call — every frame the reference's
    * `/analytics/<bbl>` route assembles from 4–5 sequential SQL queries
    * (webserver/server.py:383-432). The frames are local relations with
    * exactly the per-frame operators' schemas, already computed: collecting
    * them runs no Spark job.
    */
  case class Dashboard(geoId: Long, requestTotals: DataFrame,
                       requestsByType: DataFrame, complaintChart: DataFrame,
                       salesListing: DataFrame, salesStats: DataFrame)

  /** Returns None for an unknown BBL (the reference's 404,
    * server.py:148-149).
    *
    * Three Spark queries: the geo lookup, then the service-request query
    * on the calling thread while the sales query runs on a pool thread
    * that carries the caller's job group, description and active session.
    * A failure on either side is rethrown as the original exception.
    */
  def dashboard(geo: DataFrame, sr: DataFrame, complaintTypes: DataFrame,
                sale: DataFrame, property: DataFrame,
                borough: Int, block: Int, lot: Int,
                w: Window = Window.default): Option[Dashboard] =
    lookupId(geo, borough, block, lot).map { geoId =>
      val spark = sr.sparkSession.asInstanceOf[classic.SparkSession]
      val salesSide = SQLExecution.withThreadLocalCaptured(spark, pagePool)(
        salesPage(spark, sale, property, geoId, w))
      val (totals, byType, chart) =
        try requestsPage(spark, sr, complaintTypes, geoId, w)
        catch { case t: Throwable =>
          // no job of this page outlives the call
          scala.util.Try(salesSide.get())
          throw t
        }
      val (listing, stats) =
        try salesSide.get()
        catch { case e: ExecutionException => throw e.getCause }
      Dashboard(geoId, totals, byType, chart, listing, stats)
    }

  // daemon threads: an idle page pool never holds the JVM open
  private lazy val pagePool: ExecutorService = Executors.newCachedThreadPool {
    (r: Runnable) =>
      val t = new Thread(r, "graft-dashboard-sales")
      t.setDaemon(true)
      t
  }

  private def local(spark: SparkSession, schema: StructType,
                    rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The page's service-request side: [[requestsByType]] collected once
    * under the serving tier's row cap, [[requestTotals]] and
    * [[complaintChart]] derived from its rows. The LEFT join + Unknown
    * bucket make the by-type rows sum to the totals, and the rows arrive
    * in the chart's rank order (count desc, name), so the top
    * [[ChartTop]] rows are the winners. As in [[TopK.topNPlusOther]], a
    * real type named "Other" among them merges into the residual bucket,
    * which sorts last and exists only when some row falls into it.
    */
  private def requestsPage(spark: SparkSession, sr: DataFrame,
                           complaintTypes: DataFrame, geoId: Long,
                           w: Window): (DataFrame, DataFrame, DataFrame) = {
    val byType = requestsByType(sr, complaintTypes, geoId, w)
    val rows = AnalyticsServer.collectBounded(byType)
    val s = byType.schema
    val totals = local(spark,
      StructType(Seq(s("total_count"), s("active_count").copy(nullable = false))),
      Seq(Row(rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)))
    val (top, rest) = rows.splitAt(ChartTop)
    val (otherTop, winners) = top.partition(_.getString(0) == "Other")
    val residual = (otherTop ++ rest).map(_.getLong(1))
    val chart = local(spark,
      StructType(Seq(s("complaint_type_name").copy(name = "bucket"),
        s("total_count").copy(nullable = true))),
      winners.map(r => Row(r.getString(0), r.getLong(1))) ++
        (if (residual.isEmpty) Nil else Seq(Row("Other", residual.sum))))
    (totals, local(spark, s, rows), chart)
  }

  /** The page's sales side in one aggregate: [[Aggregates.priceStats]]'
    * columns plus the [[salesListing]] rows as a sorted array of
    * (sale_date, sale_price, address, apartment) structs — descending
    * struct order is [[salesListing]]'s (date desc, price desc, nulls
    * last). Returns (listing, stats).
    */
  private def salesPage(spark: SparkSession, sale: DataFrame,
                        property: DataFrame, geoId: Long,
                        w: Window): (DataFrame, DataFrame) = {
    val stats = Aggregates.priceStatCols("sale_price")
    val listing = slice(sort_array(collect_list(struct(
      Seq("sale_date", "sale_price", "property_address", "apartment_number")
        .map(col): _*)), asc = false), 1, ListingLimit).as("listing")
    val q = salesOf(sale, property, geoId, w).agg(stats.head,
      stats.tail :+ listing: _*)
    val row = q.collect().head
    val elem = q.schema("listing").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    (local(spark, StructType(ListingCols.map(elem(_))),
      row.getSeq[Row](stats.size).map(r =>
        Row.fromSeq(ListingCols.map(c => r.get(elem.fieldIndex(c)))))),
      local(spark, StructType(q.schema.fields.take(stats.size)),
        Seq(Row.fromSeq(row.toSeq.take(stats.size)))))
  }

  /** §3.2 trends: month-bucketed series with spine gap fill — zero-filled
    * counts, null medians for empty months (webserver/server.py:259-342).
    * Requires both bounds (the reference always defaults them, :482-483).
    * One month aggregate runs; the spine is laid out on the driver, as
    * the reference's month loop does ([[monthFill]]).
    */
  def requestTrend(spark: SparkSession, sr: DataFrame, geoId: Long,
                   start: String, end: String): DataFrame =
    monthFill(spark, TimeSeries.monthly(
      requestsOf(sr, geoId, Window(Some(start), Some(end))),
      "created_date", Seq(count(lit(1)).as("count"))), start, end)

  def salesTrend(spark: SparkSession, sale: DataFrame, property: DataFrame,
                 geoId: Long, start: String, end: String): DataFrame =
    monthFill(spark, TimeSeries.monthly(
      salesOf(sale, property, geoId, Window(Some(start), Some(end))),
      "sale_date",
      Seq(Aggregates.exactMedianMoney(col("sale_price")).as("median_price"),
        count(lit(1)).as("count"))), start, end)

  /** [[TimeSeries.gapFill]] over [[TimeSeries.monthSpine]] with `count`
    * zero-filled, computed on the driver: `agg` (month first) is collected
    * under the serving tier's row cap, and every month from the start
    * bound's month to the end bound's month (ISO `yyyy-MM-dd` bounds)
    * becomes one row of a local relation with gapFill's schema. A start
    * month after the end month yields no rows (server.py:319-341).
    */
  private def monthFill(spark: SparkSession, agg: DataFrame, start: String,
                        end: String): DataFrame = {
    val byMonth = AnalyticsServer.collectBounded(agg)
      .map(r => r.getString(0) -> r).toMap
    val fields = agg.schema.fields.tail
    val empty = fields.toSeq.map(f => if (f.name == "count") 0L else null)
    val last = YearMonth.from(LocalDate.parse(end))
    val months = Iterator.iterate(YearMonth.from(LocalDate.parse(start)))(
      _.plusMonths(1)).takeWhile(!_.isAfter(last)).map(_.format(MonthFormat))
    local(spark,
      StructType(StructField("month", StringType, nullable = false) +:
        fields.map(f => f.copy(nullable = f.name != "count"))),
      months.map(m => byMonth.getOrElse(m, Row.fromSeq(m +: empty))).toSeq)
  }

  private val MonthFormat = DateTimeFormatter.ofPattern("yyyy-MM")

  /** §3.3 compare — N geographic keys, one pass over each fact
    * (vs the reference's full re-run per key, webserver/server.py:456-473).
    */
  def compareRequests(sr: DataFrame, geoIds: Seq[Long], w: Window): DataFrame =
    Compare.sideBySide(windowed(sr, "created_date", w), "geographic_id",
      geoIds,
      Seq(count(lit(1)).as("total_count"),
        sum(when(col("status").isin(ActiveStatuses: _*), 1L).otherwise(0L))
          .as("active_count")))

  /** §3.3 compare by natural keys, resolution included. The reference uses
    * its geocode result UNGUARDED — an unknown address raises mid-request
    * (webserver/server.py:461-468) — and `parse_bbl` misses 404 similarly.
    * The engine pins the graceful contract instead: keys are resolved in
    * ONE dimension scan ([[resolveKeys]]) and unresolved ones are simply
    * absent from the result (both unknown → empty frame), the same
    * silent-absence rule as [[bookmarkSummaries]].
    */
  def compareByKeys(geo: DataFrame, sr: DataFrame, keys: Seq[(Int, Int, Int)],
                    w: Window = Window.default): DataFrame =
    compareRequests(sr, resolveKeys(geo, keys), w)

  /** T2 bookmarks fan-out: saved keys, all-time window
    * (webserver/server.py:561-580). Unknown keys are silently absent.
    */
  def bookmarkSummaries(sr: DataFrame, geoIds: Seq[Long]): DataFrame =
    compareRequests(sr, geoIds, Window.allTime)
}
