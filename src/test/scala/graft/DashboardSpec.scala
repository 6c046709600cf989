package graft

import java.sql.Date

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

import graft.engine.{Analytics, AnalyticsServer, NycFixtures}
import graft.engine.Analytics.Window
import graft.operators.TopK

/** [[Analytics.dashboard]] serves a page from three Spark queries and
  * derives its frames on the driver. These specs pin every derived frame
  * against its DataFrame operator (schema and rows) over fixtures built to
  * hit the derivation's corners, and pin the page's job budget.
  */
class DashboardSpec extends SparkSpec {

  // ------------------------------------------------------------------
  // equivalence fixture: one key (borough 2, block 7, lot 3 → geo 500)
  // ------------------------------------------------------------------

  private lazy val geo = {
    import spark.implicits._
    Seq((500L, "Bronx", 2, 7, 3), (501L, "Bronx", 2, 7, 4))
      .toDF("geographic_id", "borough_name", "borough_code", "block_code",
        "lot_code")
  }

  /** Type 7 is literally named "Other"; type 99 is missing. */
  private lazy val ct = {
    import spark.implicits._
    Seq("Alpha", "Bravo", "Charlie", "Delta", "Echo", "Foxtrot", "Other",
      "Golf").zipWithIndex.map { case (n, i) => (i + 1, n) }
      .toDF("complaint_type_id", "complaint_type_name")
  }

  /** Per-type counts on geo 500 in 2024: Other 5; Alpha, Bravo 3 (a tie);
    * Charlie, Delta, Echo and the missing id 99 ("Unknown") 2 each, a
    * tie across the top-5 boundary; Foxtrot, Golf 1. */
  private lazy val sr = {
    import spark.implicits._
    val statuses = Seq("Open", "Closed", "Pending", "In Progress", "Cancelled")
    val perType = Seq(7 -> 5, 1 -> 3, 2 -> 3, 3 -> 2, 4 -> 2, 5 -> 2,
      99 -> 2, 6 -> 1, 8 -> 1)
    val inWindow = perType.flatMap { case (t, n) => Seq.fill(n)(t) }
      .zipWithIndex.map { case (t, i) =>
        (i, 500L, t, Date.valueOf(f"2024-${i % 12 + 1}%02d-10"),
          statuses(i % statuses.size))
      }
    (inWindow ++ Seq(
      (100, 500L, 1, Date.valueOf("2023-06-01"), "Open"),
      (101, 501L, 2, Date.valueOf("2024-06-01"), "Open")))
      .toDF("service_request_id", "geographic_id", "complaint_type_id",
        "created_date", "status")
  }

  private lazy val prop = {
    import spark.implicits._
    Seq((601, 500L, "1 Elm St", "1A"), (602, 500L, "2 Elm St", null),
      (603, 501L, "9 Oak St", "B"))
      .toDF("property_id", "geographic_id", "property_address",
        "apartment_number")
  }

  /** 14 in-window sales on geo 500, ties on date: the tenth row falls
    * inside the three-way 2024-07-01 tie, and 2024-10-01 ties a null
    * price with two real ones. */
  private lazy val sale = {
    import spark.implicits._
    val rows = Seq(
      ("2024-12-01", Some(500.0)),
      ("2024-11-01", Some(5.0)), ("2024-11-01", Some(6.0)),
      ("2024-10-01", Some(1.0)), ("2024-10-01", None), ("2024-10-01", Some(2.0)),
      ("2024-09-01", Some(90.0)),
      ("2024-08-01", Some(80.25)), ("2024-08-01", Some(80.5)),
      ("2024-07-01", Some(7.0)), ("2024-07-01", Some(9.0)), ("2024-07-01", Some(8.0)),
      ("2024-02-01", Some(20.0)), ("2024-01-01", Some(10.0)))
    (rows.zipWithIndex.map { case ((d, p), i) =>
      (700 + i, if (i % 2 == 0) 601 else 602, p, Date.valueOf(d))
    } ++ Seq((800, 601, Some(1.0), Date.valueOf("2023-01-01")),
      (801, 603, Some(2.0), Date.valueOf("2024-05-01"))))
      .toDF("sale_id", "property_id", "sale_price", "sale_date")
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, what)
    assert(got.collect().toSeq == want.collect().toSeq, what)
  }

  /** The page for geo 500 against each frame's own operator. */
  private def assertEquivalent(w: Window): Analytics.Dashboard = {
    val d = Analytics.dashboard(geo, sr, ct, sale, prop, 2, 7, 3, w).get
    val byType = Analytics.requestsByType(sr, ct, 500L, w)
    assertSame(d.requestTotals, Analytics.requestTotals(sr, 500L, w), "totals")
    assertSame(d.requestsByType, byType, "by type")
    assertSame(d.complaintChart,
      TopK.topNPlusOther(byType, "complaint_type_name", 5), "chart")
    assertSame(d.salesListing, Analytics.salesListing(sale, prop, 500L, w),
      "listing")
    assertSame(d.salesStats, Analytics.salesStats(sale, prop, 500L, w), "stats")
    d
  }

  test("derived page frames equal their operators: count ties, a real " +
      "\"Other\" in the top 5, a missing type id, date ties, a null price") {
    val d = assertEquivalent(Window.default)
    // the fixture reaches the corners it claims
    val chart = d.complaintChart.collect().map(r => r.getString(0) -> r.getLong(1))
    assert(chart.toSeq == Seq("Alpha" -> 3L, "Bravo" -> 3L, "Charlie" -> 2L,
      "Delta" -> 2L, "Other" -> 11L))
    assert(d.requestsByType.collect().map(_.getString(0)).contains("Unknown"))
    assert(d.requestTotals.collect().head.getLong(0) == 21L)
    val listing = d.salesListing.collect()
    assert(listing.map(r => Option(r.get(2))).toSeq == Seq(500.0, 6.0, 5.0,
      2.0, 1.0, null, 90.0, 80.5, 80.25, 9.0).map(Option(_)))
    assert(d.salesStats.collect().head.getLong(3) == 14L)
    assertEquivalent(Window.allTime)
  }

  test("an empty window derives zero totals, 0.0 stats and empty frames") {
    val d = assertEquivalent(Window(Some("2030-01-01"), Some("2030-12-31")))
    assert(d.requestTotals.collect().head.toSeq == Seq(0L, 0L))
    assert(d.salesStats.collect().head.toSeq == Seq(0.0, 0.0, 0.0, 0L))
    assert(d.complaintChart.isEmpty && d.salesListing.isEmpty)
  }

  test("at most five types: no residual bucket, unless a real \"Other\" " +
      "ranks among them") {
    val few = sr.filter("complaint_type_id in (1, 2, 3)")
    val d = Analytics.dashboard(geo, few, ct, sale, prop, 2, 7, 3).get
    assertSame(d.complaintChart, TopK.topNPlusOther(
      Analytics.requestsByType(few, ct, 500L, Window.default),
      "complaint_type_name", 5), "chart without residual")
    assert(!d.complaintChart.collect().exists(_.getString(0) == "Other"))
    val withOther = sr.filter("complaint_type_id in (1, 7)")
    val o = Analytics.dashboard(geo, withOther, ct, sale, prop, 2, 7, 3).get
    assert(o.complaintChart.collect().map(_.getString(0)).toSeq ==
      Seq("Alpha", "Other"))
  }

  test("a failing side rethrows its own exception, not a wrapper") {
    val badSale = sale.withColumn("sale_price",
      expr("cast(raise_error('sales side failed') as double)"))
    val e = intercept[Exception](
      Analytics.dashboard(geo, sr, ct, badSale, prop, 2, 7, 3))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(e.getMessage.contains("sales side failed"), e.getMessage)
  }

  // ------------------------------------------------------------------
  // job pins, over parquet copies of the NYC micro-fixtures
  // ------------------------------------------------------------------

  private lazy val lake: Map[String, DataFrame] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dash").toString
    Map("geo" -> NycFixtures.geo _, "sr" -> NycFixtures.serviceRequests _,
      "ct" -> NycFixtures.complaintTypes _, "prop" -> NycFixtures.properties _,
      "sale" -> NycFixtures.sales _).map { case (k, f) =>
      f(spark).write.parquet(s"$dir/$k")
      k -> spark.read.parquet(s"$dir/$k")
    }
  }

  private def page(): Analytics.Dashboard =
    Analytics.dashboard(lake("geo"), lake("sr"), lake("ct"), lake("sale"),
      lake("prop"), 1, 42, 7).get

  private def frames(d: Analytics.Dashboard): Seq[DataFrame] =
    Seq(d.requestTotals, d.requestsByType, d.complaintChart, d.salesListing,
      d.salesStats)

  test("a page runs at most 9 jobs; collecting its five frames runs none") {
    page() // warm
    var d: Analytics.Dashboard = null
    val pageJobs = jobsDuring { d = page() }
    assert(pageJobs <= 9, s"$pageJobs jobs")
    // collected as the serving tier collects them (a bounded limit), and
    // projected as /export projects the listing
    val collectJobs = jobsDuring {
      frames(d).foreach(_.limit(10001).collect())
      d.salesListing.select("property_address", "sale_price", "sale_date")
        .collect()
    }
    assert(collectJobs == 0)
    assert(d.requestTotals.collect().head.getLong(0) == 13L)
  }

  test("a job group set on the calling thread tags every job of the page") {
    val sc = spark.sparkContext
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)); ()
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup("dashboard-page", "one page view")
    val n = try jobsDuring(page()) finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    assert(n > 0)
    assert(groups.size == 1 && groups.contains("dashboard-page"), groups)
  }

  test("/export runs only the exported side's query") {
    val w = Window.default
    val srv = new AnalyticsServer(spark, lake("geo"), lake("sr"), lake("ct"),
      lake("sale"), lake("prop"))
    val port = srv.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def export(t: String): Int = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://localhost:$port/export/1-42-7?type=$t")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    try {
      Seq("complaints", "sales").foreach(export) // warm
      def geoId() = Analytics.lookupId(lake("geo"), 1, 42, 7).get
      val requestsOnly = jobsDuring(Analytics.requestsByType(lake("sr"),
        lake("ct"), geoId(), w).limit(10001).collect())
      val salesOnly = jobsDuring(Analytics.salesListing(lake("sale"),
        lake("prop"), geoId(), w).limit(10001).collect())
      assert(salesOnly > 0)
      var status = 0
      assert(jobsDuring { status = export("complaints") } == requestsOnly)
      assert(status == 200)
      assert(jobsDuring { status = export("sales") } == salesOnly)
      assert(status == 200)
    } finally srv.stop()
  }

  test("/trends runs only its series' query: one month aggregate, the " +
      "spine laid out on the driver") {
    val srv = new AnalyticsServer(spark, lake("geo"), lake("sr"), lake("ct"),
      lake("sale"), lake("prop"))
    val port = srv.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def trends(t: String): Int = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://localhost:$port/trends/1-42-7?type=$t")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    try {
      Seq("service_requests", "sales").foreach(trends) // warm
      def geoId() = Analytics.lookupId(lake("geo"), 1, 42, 7).get
      val (s, e) = ("2024-01-01", "2024-12-31")
      // collected as the serving tier collects (a bounded limit)
      val direct = Seq(
        "service_requests" -> jobsDuring(Analytics.requestTrend(spark,
          lake("sr"), geoId(), s, e).limit(10001).collect(): Unit),
        "sales" -> jobsDuring(Analytics.salesTrend(spark, lake("sale"),
          lake("prop"), geoId(), s, e).limit(10001).collect(): Unit))
      direct.foreach { case (t, n) =>
        var status = 0
        assert(jobsDuring { status = trends(t) } == n, t)
        assert(status == 200)
      }
      // the lookup, then the month aggregate's stages; the spine adds none
      assert(direct.map(_._2) == Seq(3, 4), direct)
    } finally srv.stop()
  }

  // ------------------------------------------------------------------
  // per-request values bound outside the generated code
  // ------------------------------------------------------------------

  test("a key and a window not seen before compile no new classes on " +
      "any route") {
    val srv = new AnalyticsServer(spark, lake("geo"), lake("sr"), lake("ct"),
      lake("sale"), lake("prop"))
    val port = srv.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(path: String): Unit = {
      val r = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$path: ${r.body()}")
    }
    val routes = Seq("/analytics/%s?%s", "/trends/%s?type=service_requests&%s",
      "/trends/%s?type=sales&%s", "/export/%s?type=complaints&%s",
      "/export/%s?type=sales&%s", "/compare?bbl1=%s&bbl2=4-999-1&%s")
    // the fresh key (geo 102) has requests and a sale inside the fresh window
    val fresh = ("3-100-55", "start_date=2023-02-01&end_date=2024-11-30")
    // each route is warmed right before its fresh request: Spark's code
    // cache is a small segmented LRU shared by the whole JVM, so a route
    // warmed earlier may have been evicted by the routes after it
    try {
      val compiles = routes.map { r =>
        get(r.format("1-42-7", "start_date=2024-01-01&end_date=2024-12-31"))
        r -> compilesDuring(get(r.format(fresh._1, fresh._2)))
      }
      assert(compiles.forall(_._2 == 0), compiles)
    } finally srv.stop()
  }

  test("both /trends series over a key with no facts compile no new " +
      "classes") {
    val srv = new AnalyticsServer(spark, lake("geo"), lake("sr"), lake("ct"),
      lake("sale"), lake("prop"))
    val port = srv.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(path: String): Unit = {
      val r = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$path: ${r.body()}")
    }
    try {
      // geo 103 (4-999-1) has neither requests nor sales
      val compiles = Seq("service_requests", "sales").map { t =>
        get(s"/trends/1-42-7?type=$t&start_date=2024-01-01&end_date=2024-12-31")
        t -> compilesDuring(get(s"/trends/4-999-1?type=$t&" +
          "start_date=2023-03-01&end_date=2024-10-31"))
      }
      assert(compiles.forall(_._2 == 0), compiles)
    } finally srv.stop()
  }

  test("the scans keep the bound key and window as pushed filters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.sources._
    val w = Window(Some("2023-02-01"), Some("2024-11-30"))
    // the filters the scan hands the parquet reader (a protected lazy
    // val in Scala, a public method in bytecode)
    def pushed(df: DataFrame): Map[String, Seq[Filter]] =
      df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.head.getName -> s.getClass
          .getMethod("pushedDownFilters").invoke(s).asInstanceOf[Seq[Filter]]
      }.toMap
    def dateBounds(c: String): Seq[Filter] =
      Seq(GreaterThanOrEqual(c, Date.valueOf("2023-02-01")),
        LessThan(c, Date.valueOf("2024-12-01")))
    val geoScan = pushed(Analytics.geoLookup(lake("geo"), 3, 100, 55))("geo")
    Seq(EqualTo("borough_code", 3), EqualTo("block_code", 100),
      EqualTo("lot_code", 55)).foreach(f => assert(geoScan.contains(f), geoScan))
    val srScan = pushed(Analytics.requestsByType(lake("sr"), lake("ct"), 102L, w))("sr")
    (EqualTo("geographic_id", 102L) +: dateBounds("created_date"))
      .foreach(f => assert(srScan.contains(f), srScan))
    val sales = pushed(Analytics.salesListing(lake("sale"), lake("prop"), 102L, w))
    assert(sales("prop").contains(EqualTo("geographic_id", 102L)), sales)
    dateBounds("sale_date").foreach(f => assert(sales("sale").contains(f), sales))
  }
}
