package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.engine.{Analytics, AnalyticsServer, Bookmarks, NycFixtures}

/** Drives every reference route (webserver/server.py:345-588) over HTTP
  * against the NYC micro-fixtures and asserts the JSON/CSV bodies carry
  * exactly the [[Analytics]] frames — the serving tier is a shell, not a
  * second computation.
  */
class ServerSpec extends SparkSpec {

  private lazy val geo = NycFixtures.geo(spark)
  private lazy val sr = NycFixtures.serviceRequests(spark)
  private lazy val ct = NycFixtures.complaintTypes(spark)
  private lazy val prop = NycFixtures.properties(spark)
  private lazy val sale = NycFixtures.sales(spark)

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String,
                  cookie: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
    cookie.foreach(c => b.header("Cookie", c))
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(port: Int, path: String,
                   cookie: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.noBody())
    cookie.foreach(c => b.header("Cookie", c))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def withServer[A](store: Option[String] = None,
                            geocoder: Option[String => Option[String]] = None)
                           (f: (Int, AnalyticsServer) => A): A = {
    val srv = new AnalyticsServer(spark, geo, sr, ct, sale, prop, store,
      geocoder)
    val port = srv.start()
    try f(port, srv) finally srv.stop()
  }

  test("GET /analytics/<bbl> serves the dashboard frames as JSON; " +
      "unknown is 404, malformed is 400") {
    withServer() { (port, _) =>
      val r = get(port, "/analytics/1-42-7")
      assert(r.statusCode() == 200)
      val body = r.body()
      assert(body.contains("\"geographic_id\":101"))
      // totals frame: 13 in-window, 7 active (AnalyticsSpec's numbers)
      assert(body.contains("\"total_count\":13") &&
        body.contains("\"active_count\":7"))
      // chart: 6 buckets ending in Other (top-5 + residual)
      assert(body.contains("\"bucket\":\"Other\""))
      // sales stats: the interpolated median
      assert(body.contains("\"median_price\":212500.375"))
      assert(body.contains("\"is_bookmarked\":false"))
      assert(get(port, "/analytics/9-9-9").statusCode() == 404)
      assert(get(port, "/analytics/not-a-bbl").statusCode() == 400)
      assert(get(port, "/analytics/xyz").statusCode() == 400)
    }
  }

  test("GET /analytics honors the window params (2023 row appears only " +
      "when the window opens)") {
    withServer() { (port, _) =>
      val all = get(port,
        "/analytics/1-42-7?start_date=2023-01-01&end_date=2025-12-31")
      assert(all.body().contains("\"total_count\":15"))
    }
  }

  /** An empty date bound serves the default year; a malformed one is a
    * 400 naming the value, never a Spark cast failure. */
  private def assertDateParams(port: Int, route: String)
                              (okDefault: String => Boolean): Unit = {
    val sep = if (route.contains("?")) "&" else "?"
    val empty = get(port, s"$route${sep}start_date=&end_date=")
    assert(empty.statusCode() == 200, empty.body())
    assert(okDefault(empty.body()), empty.body())
    Seq("start_date=garbage" -> "garbage",
      "end_date=2024-13-45" -> "2024-13-45",
      "start_date=2024-02-30" -> "2024-02-30").foreach { case (p, bad) =>
      val r = get(port, s"$route$sep$p")
      assert(r.statusCode() == 400, s"$p: ${r.body()}")
      assert(r.body().contains(bad) && !r.body().contains("Exception"),
        r.body())
    }
  }

  test("GET /analytics: empty date bounds serve the default year; a " +
      "malformed date is 400 naming it") {
    withServer() { (port, _) =>
      assertDateParams(port, "/analytics/1-42-7")(
        _.contains("\"total_count\":13"))
    }
  }

  test("GET /trends: empty date bounds serve the default year; a " +
      "malformed date is 400 naming it") {
    withServer() { (port, _) =>
      // twelve 2024 months
      assertDateParams(port, "/trends/1-42-7?type=sales")(b =>
        b.split("\\{").length - 1 == 12 && b.contains("\"month\":\"2024-12\""))
    }
  }

  test("GET /compare: empty date bounds serve the default year; a " +
      "malformed date is 400 naming it") {
    withServer() { (port, _) =>
      assertDateParams(port, "/compare?bbl1=1-42-7&bbl2=3-100-55")(
        _.contains("\"total_count\":13"))
    }
  }

  test("GET /export: empty date bounds serve the default year; a " +
      "malformed date is 400 naming it") {
    withServer() { (port, _) =>
      // the default year holds 4 of BBL 101's sales (the fifth is 2023)
      assertDateParams(port, "/export/1-42-7?type=sales")(
        _.split("\r\n").length == 5)
    }
  }

  test("GET /trends/<bbl> serves both series with gap-filled months") {
    withServer() { (port, _) =>
      val r = get(port, "/trends/1-42-7?type=service_requests")
      assert(r.statusCode() == 200)
      // 12 month objects; March 2024 gap-filled to zero
      assert(r.body().split("\\{").length - 1 == 12)
      assert(r.body().contains("\"count\":0"))
      val s = get(port, "/trends/1-42-7?type=sales")
      assert(s.statusCode() == 200)
      // Feb has no sales → null median under the gap-fill contract
      assert(s.body().contains("\"median_price\":null"))
      assert(get(port, "/trends/9-9-9").statusCode() == 404)
    }
  }

  test("GET /trends: a start month after the end month serves no months") {
    withServer() { (port, _) =>
      Seq("service_requests", "sales").foreach { t =>
        val r = get(port,
          s"/trends/1-42-7?type=$t&start_date=2024-12-01&end_date=2024-01-01")
        assert(r.statusCode() == 200, r.body())
        assert(r.body() == "[]")
      }
    }
  }

  test("GET /compare answers both keys in one frame; unknowns are absent") {
    withServer() { (port, _) =>
      val r = get(port, "/compare?bbl1=1-42-7&bbl2=3-100-55")
      assert(r.statusCode() == 200)
      assert(r.body().contains("\"geographic_id\":101") &&
        r.body().contains("\"geographic_id\":102"))
      val one = get(port, "/compare?bbl1=1-42-7&bbl2=9-9-9")
      assert(one.body().contains("101") && !one.body().contains("\"geographic_id\":102"))
    }
  }

  test("GET /export/<bbl> emits the reference's exact CSV headers") {
    withServer() { (port, _) =>
      val c = get(port, "/export/1-42-7?type=complaints")
      assert(c.statusCode() == 200)
      assert(c.headers().firstValue("Content-Type").get.startsWith("text/csv"))
      val lines = c.body().split("\r\n").toSeq
      assert(lines.head == "Complaint Type,Total Count,Active Count")
      assert(lines.tail.head.startsWith("Type_1,3,"))
      val s = get(port, "/export/1-42-7?type=sales")
      assert(s.body().split("\r\n").head == "Address,Sale Price,Sale Date")
      assert(s.body().contains("1 Main St"))
    }
  }

  test("POST /bookmark toggles per session; /bookmarks serves all-time " +
      "summaries; /login is the reference's dead 401 stub") {
    withServer() { (port, _) =>
      val first = post(port, "/bookmark/1-42-7")
      assert(first.body().contains("\"action\":\"added\""))
      val cookie = first.headers().firstValue("Set-Cookie").get
      assert(cookie.startsWith("graft_session="))
      // same session: dashboard shows bookmarked, summaries appear
      assert(get(port, "/analytics/1-42-7", Some(cookie)).body()
        .contains("\"is_bookmarked\":true"))
      val bms = get(port, "/bookmarks", Some(cookie))
      assert(bms.body().contains("\"bookmarks\":[\"1-42-7\"]"))
      // all-time totals: 15 rows on geo 101
      assert(bms.body().contains("\"total_count\":15"))
      // a DIFFERENT session sees nothing (per-session state)
      assert(get(port, "/bookmarks").body().contains("\"bookmarks\":[]"))
      // toggle off
      assert(post(port, "/bookmark/1-42-7", Some(cookie)).body()
        .contains("\"action\":\"removed\""))
      assert(get(port, "/login").statusCode() == 401)
    }
  }

  test("POST /search geocodes, redirects into the dashboard, and keeps " +
      "the reference's 400/404 contracts") {
    // injected geocoder, the Geocode.resolveWithCache seam: one known
    // normalized address → the 10-digit wire BBL of geo 101
    val gc: String => Option[String] =
      k => if (k == "123 MAIN ST MANHATTAN") Some("1000420007") else None
    withServer(geocoder = Some(gc)) { (port, _) =>
      val hit = post(port,
        "/search?house_number=123&street=Main%20St&borough=Manhattan" +
          "&start_date=2024-01-01&end_date=2024-06-30")
      assert(hit.statusCode() == 302)
      val loc = hit.headers().firstValue("Location").get
      assert(loc == "/analytics/1-00042-0007?start_date=2024-01-01" +
        "&end_date=2024-06-30")
      // the redirect target resolves (padded dashed form parses)
      assert(get(port, loc).body().contains("\"geographic_id\":101"))
      // geocode miss → the reference's 404 message shape
      assert(post(port,
        "/search?house_number=9&street=Nowhere&borough=Queens")
        .statusCode() == 404)
      // missing fields → the reference's 400
      assert(post(port, "/search?house_number=123&street=Main%20St")
        .statusCode() == 400)
      // form-body fields work like query params (request.form)
      val b = HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/search"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          "house_number=123&street=Main+St&borough=Manhattan"))
        .build()
      assert(client.send(b,
        HttpResponse.BodyHandlers.ofString()).statusCode() == 302)
    }
    // no geocoder configured → explicit 503, not a crash
    withServer() { (port, _) =>
      assert(post(port,
        "/search?house_number=1&street=A&borough=B").statusCode() == 503)
    }
  }

  test("a response does not wait on the client's delayed ACK: warm " +
      "keep-alive round trips of GET /login take under 20 ms at the median") {
    // with Nagle's algorithm on, the body written after the headers waits
    // for the ACK of the header segment, which Linux delays by up to 40 ms
    val http11 = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    withServer() { (port, _) =>
      val req = HttpRequest.newBuilder(
        URI.create(s"http://localhost:$port/login")).GET().build()
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        assert(http11.send(req, HttpResponse.BodyHandlers.ofString())
          .statusCode() == 401)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => roundTripMs()) // open and warm the connection
      val ms = Seq.fill(30)(roundTripMs()).sorted
      val median = (ms(14) + ms(15)) / 2
      info(f"median $median%.2f ms")
      assert(median < 20.0, ms)
    }
  }

  test("GET / lists the routes") {
    withServer() { (port, _) =>
      val r = get(port, "/")
      assert(r.statusCode() == 200 && r.body().contains("/analytics/<bbl>"))
    }
  }

  test("a persisted store carries bookmark state across a server restart " +
      "and equals the in-memory fold") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm").toString + "/toggles"
    val cookie = withServer(Some(store)) { (port, _) =>
      val first = post(port, "/bookmark/1-42-7")
      val cookie = first.headers().firstValue("Set-Cookie").get
      post(port, "/bookmark/3-100-55", Some(cookie))
      post(port, "/bookmark/1-42-7", Some(cookie)) // toggle 1-42-7 OFF
      cookie
    }
    // restart: a NEW server over the same store resumes the session
    withServer(Some(store)) { (port, _) =>
      val bms = get(port, "/bookmarks", Some(cookie))
      assert(bms.body().contains("\"bookmarks\":[\"3-100-55\"]"))
    }
    // the replay face equals the in-memory fold of the same events
    val folded = Seq("1-42-7", "3-100-55", "1-42-7")
      .foldLeft(Seq.empty[String])(Bookmarks.toggle)
    val sid = cookie.stripPrefix("graft_session=").toLong
    assert(Bookmarks.saved(spark, store, sid) == folded)
    import spark.implicits._
    val replayed = Bookmarks.replay(spark, store)
      .filter(_.userId == sid).collect()
    assert(replayed.length == 1 && replayed.head.bbls == folded)
  }

  test("a store directory that holds no parquet file yet (an interrupted " +
      "first append) is an empty store: /bookmarks, /analytics and the " +
      "first toggle serve 200, and the toggle gets seq 1") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm_empty").toString + "/toggles"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store, "_temporary", "0"))
    withServer(Some(store)) { (port, _) =>
      val bms = get(port, "/bookmarks")
      assert(bms.statusCode() == 200, bms.body())
      assert(bms.body().contains("\"bookmarks\":[]"))
      val page = get(port, "/analytics/1-42-7")
      assert(page.statusCode() == 200, page.body())
      assert(page.body().contains("\"is_bookmarked\":false"))
      val first = post(port, "/bookmark/1-42-7")
      assert(first.statusCode() == 200, first.body())
      assert(first.body().contains("\"action\":\"added\""))
    }
    assert(Bookmarks.replay(spark, store).collect().map(_.bbls.toSeq)
      .toSeq == Seq(Seq("1-42-7")))
    import spark.implicits._
    assert(spark.read.parquet(store).select("seq").as[Long].collect()
      .toSeq == Seq(1L))
  }

  test("a warm POST /bookmark runs zero Spark jobs, and so does a warm " +
      "direct appendToggle") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm_warm").toString + "/toggles"
    withServer(Some(store)) { (port, _) =>
      val first = post(port, "/bookmark/1-42-7") // new session + new store
      val cookie = first.headers().firstValue("Set-Cookie").get
      assert(jobsDuring {
        assert(post(port, "/bookmark/3-100-55", Some(cookie)).statusCode() ==
          200)
        assert(post(port, "/bookmark/1-42-7", Some(cookie)).body()
          .contains("\"action\":\"removed\""))
      } == 0)
      assert(get(port, "/bookmarks", Some(cookie)).body()
        .contains("\"bookmarks\":[\"3-100-55\"]"))
    }
    Bookmarks.appendToggle(spark, store, 42L, "2-1-1") // a new user
    assert(jobsDuring {
      Bookmarks.appendToggle(spark, store, 42L, "2-1-2")
      Bookmarks.appendToggle(spark, store, 43L, "2-1-1")
    } == 0)
    import spark.implicits._
    val seqs = spark.read.parquet(store).as[Bookmarks.ToggleEvent].collect()
      .groupMap(_.userId)(_.seq).map { case (u, s) => u -> s.sorted.toSeq }
    assert(seqs.values.toSet == Set(Seq(1L, 2L, 3L), Seq(1L, 2L), Seq(1L)))
    assert(Bookmarks.saved(spark, store, 42L) == Seq("2-1-1", "2-1-2"))
  }

  test("seq continues at the user's max + 1 across a restart over a " +
      "store mixing Spark-written and locally written files; saved and " +
      "replay equal the in-memory fold") {
    import spark.implicits._
    import Bookmarks.ToggleEvent
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm_mixed").toString + "/toggles"
    // the store as distributed appends wrote it: user 7 (a, b, then a
    // off) and user 8 (a)
    def sparkAppend(es: ToggleEvent*): Unit =
      es.toDS().write.mode("append").parquet(store)
    sparkAppend(ToggleEvent(7L, "1-42-7", 1L), ToggleEvent(8L, "1-42-7", 1L))
    sparkAppend(ToggleEvent(7L, "3-100-55", 2L))
    val cookie7 = Some("graft_session=7")
    withServer(Some(store)) { (port, _) =>
      assert(get(port, "/bookmarks", cookie7).body()
        .contains("\"bookmarks\":[\"1-42-7\",\"3-100-55\"]"))
      assert(post(port, "/bookmark/1-42-7", cookie7).body()
        .contains("\"action\":\"removed\"")) // seq 3, written locally
    }
    sparkAppend(ToggleEvent(8L, "2-1-1", 2L)) // a foreign write
    // a restart: a new process holds no snapshot
    graft.sources.ListingSnapshot.invalidateAll()
    withServer(Some(store)) { (port, _) =>
      assert(get(port, "/bookmarks", cookie7).body()
        .contains("\"bookmarks\":[\"3-100-55\"]"))
      assert(post(port, "/bookmark/1-42-7", cookie7).body()
        .contains("\"action\":\"added\"")) // seq 4
    }
    Bookmarks.appendToggle(spark, store, 8L, "1-42-7") // seq 3: off
    val all = spark.read.parquet(store).as[ToggleEvent].collect().toSeq
    assert(all.filter(_.userId == 7L).map(_.seq).sorted == Seq(1L, 2L, 3L, 4L))
    assert(all.filter(_.userId == 8L).map(_.seq).sorted == Seq(1L, 2L, 3L))
    val fold = all.groupMap(_.userId)(identity).map { case (u, es) =>
      u -> es.sortBy(_.seq).map(_.bbl).foldLeft(Seq.empty[String])(
        Bookmarks.toggle)
    }
    assert(fold == Map(7L -> Seq("3-100-55", "1-42-7"), 8L -> Seq("2-1-1")))
    fold.foreach { case (u, want) =>
      assert(Bookmarks.saved(spark, store, u) == want) }
    assert(Bookmarks.replay(spark, store).collect()
      .map(b => b.userId -> b.bbls.toSeq).toMap == fold)
  }

  test("GET /vdash serves the dashboard AS OF a snapshot-group cut: " +
      "cut 1 replays the pre-mutation state after both members " +
      "advanced, the default is the latest cut, and bad cuts are 400") {
    import graft.sources.{Scd, SnapshotGroup, TimeTravel}
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_vdash_srv").toString
    val (factsDir, dimDir, gDir) =
      (base + "/facts", base + "/dim", base + "/cut")
    // facts v1: 6 rows over two types; dim v1: type -> label
    TimeTravel.commitAppend(
      Seq((1L, "noise", 10L), (2L, "noise", 20L), (3L, "heat", 30L),
        (4L, "heat", 40L), (5L, "heat", 50L), (6L, "noise", 60L))
        .toDF("id", "ctype", "amount"),
      factsDir, Seq("id"), files = 1)
    Scd.merge(spark, dimDir, "ctype",
      Seq(("noise", "Noise"), ("heat", "Heating")).toDF("ctype", "label"),
      files = 1)
    SnapshotGroup.publish(spark, gDir,
      Map("facts" -> factsDir, "dim" -> dimDir)) // cut 1
    // mutate BOTH members, then publish cut 2
    TimeTravel.commitDelete(spark, factsDir, "id", Seq(1L, 3L).toDF("id"))
    Scd.merge(spark, dimDir, "ctype",
      Seq(("heat", "Heat/Hot Water")).toDF("ctype", "label"), files = 1)
    SnapshotGroup.publish(spark, gDir,
      Map("facts" -> factsDir, "dim" -> dimDir)) // cut 2
    val srv = new AnalyticsServer(spark, geo, sr, ct, sale, prop,
      versionedGroup = Some(AnalyticsServer.VersionedGroup(
        gDir, "facts", "dim", "ctype")))
    val port = srv.start()
    try {
      // cut 1, requested AFTER both members advanced: the original
      // labels and the full fact set
      val c1 = get(port, "/vdash?by=label&sum=amount&cut=1")
      assert(c1.statusCode() == 200, c1.body())
      assert(c1.body().contains("\"cut\":1"))
      assert(c1.body().contains(
        "{\"label\":\"Heating\",\"n\":3,\"sum_amount\":120}"), c1.body())
      assert(c1.body().contains(
        "{\"label\":\"Noise\",\"n\":3,\"sum_amount\":90}"))
      // default = the latest cut: post-delete facts, re-labeled dim
      val c2 = get(port, "/vdash?by=label&sum=amount")
      assert(c2.statusCode() == 200)
      assert(c2.body().contains("\"cut\":2"))
      assert(c2.body().contains(
        "{\"label\":\"Heat/Hot Water\",\"n\":2,\"sum_amount\":90}"),
        c2.body())
      assert(c2.body().contains(
        "{\"label\":\"Noise\",\"n\":2,\"sum_amount\":80}"))
      // guards: malformed/out-of-range cut and missing by are 400
      assert(get(port, "/vdash?by=label&cut=nope").statusCode() == 400)
      assert(get(port, "/vdash?by=label&cut=9").statusCode() == 400)
      assert(get(port, "/vdash").statusCode() == 400)
      assert(get(port, "/vdash?by=no_such_col").statusCode() == 400)
    } finally srv.stop()
    // a server WITHOUT a configured group 404s the route
    withServer() { (port2, _) =>
      assert(get(port2, "/vdash?by=label").statusCode() == 404)
    }
    // the SQL face drives the same cut-pinned rollup from text alone
    GraftExtensions.register(spark)
    val sqlRows = spark.sql(
      s"SELECT * FROM graft_vdash('$gDir', 'facts', 'dim', 'ctype', " +
        "'label', 'amount', 1)").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(sqlRows == Set(("Heating", 3L, 120L), ("Noise", 3L, 90L)))
    // no sum, latest cut
    val latest = spark.sql(
      s"SELECT * FROM graft_vdash('$gDir', 'facts', 'dim', 'ctype', " +
        "'label')").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(latest == Set(("Heat/Hot Water", 2L), ("Noise", 2L)))
  }
}
