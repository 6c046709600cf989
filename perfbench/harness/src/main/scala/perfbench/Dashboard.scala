package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.engine.{Analytics, AnalyticsServer, Bookmarks}
import graft.sources.{Scd, SnapshotGroup, TimeTravel}

import Gen._

/** `dashboard`: one closed-loop HTTP client against `AnalyticsServer`
  * over seeded NYC-shaped tables. Every response body is checked against a
  * plain-Scala recomputation over the generated rows.
  */
object Dashboard {

  /** The request mix: a fixed cycle of three page views, the same for
    * every seed (the seed picks keys and windows). The reference's page
    * flow fixes its core (BASELINE.md, SQL queries per dashboard row):
    * each `/analytics` page fires two async `/trends` fetches for its key
    * and window (`templates/analytics.html:368,401`), and `/search`
    * answers with a redirect to the `/analytics` page of the key it
    * resolved (`server.py:359-380`), which the next step loads. Assumed,
    * with no source in the reference: that the two fetches ask for one
    * metric type each (service requests, sales); that one page view in
    * three starts from `/search`; and, per cycle, one `/compare` (the
    * page's key against a uniform one), one `/export`, one `/bookmarks`,
    * one `/vdash` and two `POST /bookmark` toggles of a viewed key. */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "search", "analytics", "trends_sr", "trends_sales", "bookmark",
    "analytics", "trends_sr", "trends_sales", "compare", "export",
    "analytics", "trends_sr", "trends_sales", "bookmark", "bookmarks", "vdash")

  /** Nominal seconds of one cycle on a 4-core machine. */
  val CycleS = 12.0

  /** The server route a cycle step requests. */
  def route(step: String): String = step.takeWhile(_ != '_')

  private val Windows: Seq[Option[(String, String)]] = Seq(None,
    Some(("2023-01-01", "2025-06-30")), Some(("2024-03-01", "2024-08-31")))

  private val Active = Analytics.ActiveStatuses.toSet

  final case class Served(server: AnalyticsServer, port: Int, store: String,
                          tables: String,
                          vdash: Map[String, (Long, Long)])

  def run(ctx: Ctx): Unit = {
    import ctx._
    val nyc = Gen.nyc(seed)
    rec.facts ++= nyc.sizes.map { case (k, v) => s"dashboard.$k" -> v }
    val model = new Model(nyc)
    val tables = phase("inputs")(writeInputs(ctx, nyc))
    val served = phase("setup")(setUp(setUps)(serve(ctx, nyc, tables))(_.server.stop()))
    try {
      // One client: the server handles one request at a time (the JDK
      // HttpServer's default executor), so a second client adds queueing
      // noise to every latency but no throughput.
      rec.facts("dashboard.clients") = 1
      rec.facts("dashboard.route_cycle") = Cycle
      val session = new Session(served.port)
      session.get("/bookmarks") // mints the session cookie
      // untimed warm-up: one request per step kind (JIT, plan caches);
      // its bookmark toggle is undone so it cannot leak into the model
      phase("warmup") {
        val wr = Gen.rng(seed, 900)
        Cycle.distinct.foreach(r => request(ctx, session, model, served, r, wr,
          record = false))
        session.saved.foreach(b => session.post(s"/bookmark/$b"))
        session.saved = Vector.empty
      }
      val rnd = Gen.rng(seed, 100)
      measure(CycleS)(cycles => closedLoop(1, cycles, _ => Cycle.size) { (_, i) =>
        request(ctx, session, model, served, Cycle(i % Cycle.size), rnd,
          record = true)
      })
      if (traced) {
        phase("layers")(layers(ctx, nyc, served))
        phase("operators")(Operators.run(ctx))
      }
      val toggles = ctx.spark.read.parquet(served.store)
      rec.bytes("written") = bytesUnder(served.store)
      rec.bytes("end") = bytesUnder(served.store)
      val plain = dir("plain")
      toggles.coalesce(1).write.parquet(plain)
      rec.bytes("written_plain") = bytesUnder(plain)
      rec.bytes("live_plain") = bytesUnder(plain)
    } finally served.server.stop()
  }

  // ----------------------------------------------------------------
  // inputs: the generated tables as parquet, written once per run;
  // set-up (timed, three times): the server over them and a versioned
  // snapshot group published for it
  // ----------------------------------------------------------------

  private def write(ctx: Ctx, rows: Seq[Row], schema: StructType,
                    path: String): Unit =
    ctx.spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.parquet(path)

  /** Writes the generated tables once; returns their directory. */
  private def writeInputs(ctx: Ctx, nyc: Nyc): String = {
    val base = ctx.dir("tables")
    def f(n: String, t: DataType) = StructField(n, t)
    write(ctx, nyc.geo.map(g => Row(g.geoId, g.boroughName,
        g.borough, g.block, g.lot)).toSeq,
      StructType(Seq(f("geographic_id", LongType), f("borough_name", StringType),
        f("borough_code", IntegerType), f("block_code", IntegerType),
        f("lot_code", IntegerType))), s"$base/geo")
    write(ctx, nyc.sr.map(s => Row(s.id, s.geoId, s.typeId,
        sqlDate(s.created), s.status)).toSeq,
      StructType(Seq(f("service_request_id", IntegerType),
        f("geographic_id", LongType), f("complaint_type_id", IntegerType),
        f("created_date", DateType), f("status", StringType))), s"$base/sr")
    write(ctx, nyc.types.map { case (i, n) => Row(i, n) }.toSeq,
      StructType(Seq(f("complaint_type_id", IntegerType),
        f("complaint_type_name", StringType))), s"$base/ct")
    write(ctx, nyc.props.map(p => Row(p.id, p.geoId, p.address,
        p.apt)).toSeq,
      StructType(Seq(f("property_id", IntegerType), f("geographic_id", LongType),
        f("property_address", StringType), f("apartment_number", StringType))),
      s"$base/property")
    write(ctx, nyc.sales.map(s => Row(s.id, s.propId, s.price,
        sqlDate(s.date))).toSeq,
      StructType(Seq(f("sale_id", IntegerType), f("property_id", IntegerType),
        f("sale_price", DoubleType), f("sale_date", DateType))), s"$base/sale")
    base
  }

  private def serve(ctx: Ctx, nyc: Nyc, tables: String): Served = {
    val base = ctx.dir("dashboard")
    def read(t: String) = ctx.spark.read.parquet(s"$tables/$t")
    val (geo, sr, ct, prop, sale) =
      (read("geo"), read("sr"), read("ct"), read("property"), read("sale"))
    val (group, vdash) = snapshotGroup(ctx, base)
    val wire = nyc.geo.map(g => g.address -> g.wire).toMap
    val store = s"$base/bookmarks"
    val server = new AnalyticsServer(ctx.spark, geo, sr, ct, sale, prop,
      Some(store), Some(wire.get), Some(AnalyticsServer.VersionedGroup(
        group, "facts", "dim", "ctype")))
    Served(server, server.start(), store, tables, vdash)
  }

  /** Facts (a time-travel lake) + a type-2 dimension published as one
    * snapshot-group cut. Returns the expected
    * `/vdash?by=label&sum=amount&cut=1` rollup. */
  private def snapshotGroup(ctx: Ctx, base: String)
      : (String, Map[String, (Long, Long)]) = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Gen.rng(ctx.seed, 7)
    val facts = (1 to 2000).map(i => (i.toLong, s"t${r.nextInt(12)}",
      r.nextInt(10000).toLong))
    val labels = (0 until 12).map(i => s"t$i" -> s"Label ${i % 8}").toMap
    val (fDir, dDir, gDir) = (s"$base/facts", s"$base/dim", s"$base/cut")
    TimeTravel.commitAppend(facts.toDF("id", "ctype", "amount"), fDir,
      Seq("id"), files = 2)
    Scd.merge(spark, dDir, "ctype", labels.toSeq.toDF("ctype", "label"),
      files = 1)
    SnapshotGroup.publish(spark, gDir, Map("facts" -> fDir, "dim" -> dDir))
    (gDir, facts.groupBy(x => labels(x._2)).map { case (l, xs) =>
      l -> (xs.size.toLong, xs.map(_._3).sum) })
  }

  // ----------------------------------------------------------------
  // HTTP client with a session cookie and its bookmark model
  // ----------------------------------------------------------------

  final class Session(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    var cookie: Option[String] = None
    var saved: Vector[String] = Vector.empty
    /** The page being viewed (key, window), and whether the last step was
      * a `/search` whose redirect the next `/analytics` step follows. */
    var page: (GeoRow, Option[(String, String)]) = null
    var redirected = false

    private def send(b: HttpRequest.Builder): HttpResponse[String] = {
      cookie.foreach(c => b.header("Cookie", c))
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      r.headers().firstValue("Set-Cookie").ifPresent(c =>
        if (cookie.isEmpty) cookie = Some(c.split(";")(0)))
      r
    }
    private def uri(p: String) = URI.create(s"http://localhost:$port$p")
    def get(p: String): HttpResponse[String] =
      send(HttpRequest.newBuilder(uri(p)).GET())
    def post(p: String): HttpResponse[String] =
      send(HttpRequest.newBuilder(uri(p))
        .POST(HttpRequest.BodyPublishers.noBody()))
  }

  // ----------------------------------------------------------------
  // the answer model: plain Scala over the generated rows
  // ----------------------------------------------------------------

  final class Model(val nyc: Nyc) {
    val srByGeo: Map[Long, Array[SrRow]] = nyc.sr.groupBy(_.geoId)
    private val propById = nyc.props.map(p => p.id -> p).toMap
    val salesByGeo: Map[Long, Array[SaleRow]] =
      nyc.sales.groupBy(s => propById(s.propId).geoId)
    val typeName: Map[Int, String] = nyc.types.toMap

    def inWin(d: LocalDate, w: (String, String)): Boolean =
      !d.isBefore(LocalDate.parse(w._1)) && !d.isAfter(LocalDate.parse(w._2))

    def srs(geo: Long, w: Option[(String, String)]): Seq[SrRow] =
      srByGeo.getOrElse(geo, Array.empty[SrRow]).toSeq.filter(s => w.forall(inWin(s.created, _)))
    def sales(geo: Long, w: (String, String)): Seq[SaleRow] =
      salesByGeo.getOrElse(geo, Array.empty[SaleRow]).toSeq.filter(s => inWin(s.date, w))

    /** (name, total, active), count-desc then name. */
    def byType(rows: Seq[SrRow]): Seq[(String, Long, Long)] =
      rows.groupBy(s => typeName(s.typeId)).map { case (n, xs) =>
        (n, xs.size.toLong, xs.count(x => Active(x.status)).toLong)
      }.toSeq.sortBy(x => (-x._2, x._1))

    def chart(bt: Seq[(String, Long, Long)]): Seq[(String, Long)] = {
      val (top, rest) = bt.splitAt(5)
      top.map(x => (x._1, x._2)) ++
        (if (rest.isEmpty) Nil else Seq(("Other", rest.map(_._2).sum)))
    }

    /** PERCENTILE_CONT(0.5) over integer cents, as the engine computes it. */
    def median(prices: Seq[Double]): Option[Double] =
      if (prices.isEmpty) None else {
        val c = prices.map(p => math.round(p * 100).toDouble).sorted
        val pos = 0.5 * (c.size - 1)
        val lo = c(pos.toInt); val hi = c(math.ceil(pos).toInt)
        Some((lo + (hi - lo) * (pos - pos.toInt)) / 100.0)
      }

    def months(w: (String, String)): Seq[String] = {
      val s = LocalDate.parse(w._1).withDayOfMonth(1)
      val e = LocalDate.parse(w._2).withDayOfMonth(1)
      Iterator.iterate(s)(_.plusMonths(1)).takeWhile(!_.isAfter(e))
        .map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d").toSeq
    }
  }

  private val DefaultWin = ("2024-01-01", "2024-12-31")

  private def num(n: com.fasterxml.jackson.databind.JsonNode, k: String): Double =
    n.get(k).asDouble()
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def winQuery(w: Option[(String, String)]): String =
    w.map { case (s, e) => s"start_date=$s&end_date=$e" }.getOrElse("")

  /** One request of cycle step `step`, timed and checked. A new page view
    * (a `/search`, or an `/analytics` not reached by its redirect) draws a
    * Zipf-skewed key and a window; the other steps act on that page. */
  private def request(ctx: Ctx, s: Session, m: Model, sv: Served, step: String,
                      rnd: java.util.SplittableRandom, record: Boolean): Unit = {
    val r = route(step)
    if (r == "search" || (r == "analytics" && !s.redirected) || s.page == null)
      s.page = (m.nyc.geo(m.nyc.bblRank(m.nyc.bblZipf.draw(rnd))),
        Windows(rnd.nextInt(Windows.size)))
    s.redirected = r == "search"
    val (g, w) = s.page
    val win = w.getOrElse(DefaultWin)
    val cls = if (r == "bookmark") "commit" else "read"
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val (ok, why) = try r match {
      case "analytics" =>
        val resp = s.get(s"/analytics/${g.bbl}?${winQuery(w)}")
        (resp.statusCode == 200 && checkAnalytics(m, g, win, s.saved,
          Json.parse(resp.body)), resp.body.take(200))
      case "trends" =>
        val sales = step == "trends_sales"
        val resp = s.get(s"/trends/${g.bbl}?type=${if (sales) "sales"
          else "service_requests"}&start_date=${win._1}&end_date=${win._2}")
        (resp.statusCode == 200 && checkTrend(m, g, win, sales,
          Json.parse(resp.body)), resp.body.take(200))
      case "compare" =>
        val g2 = m.nyc.geo(rnd.nextInt(m.nyc.geo.length))
        val resp = s.get(s"/compare?bbl1=${g.bbl}&bbl2=${g2.bbl}&${winQuery(w)}")
        val want = Seq(g, g2).map(_.geoId).distinct.sorted.flatMap { id =>
          val xs = m.srs(id, Some(win))
          if (xs.isEmpty) None
          else Some((id, xs.size.toLong, xs.count(x => Active(x.status)).toLong))
        }
        val got = Json.parse(resp.body).elements().asScala.map(n =>
          (n.get("geographic_id").asLong, n.get("total_count").asLong,
            n.get("active_count").asLong)).toSeq
        (resp.statusCode == 200 && got == want, resp.body.take(200))
      case "export" =>
        val resp = s.get(s"/export/${g.bbl}?type=complaints&${winQuery(w)}")
        val want = ("Complaint Type,Total Count,Active Count" +:
          m.byType(m.srs(g.geoId, Some(win))).map { case (n, t, a) => s"$n,$t,$a" })
          .mkString("", "\r\n", "\r\n")
        (resp.statusCode == 200 && resp.body == want, resp.body.take(200))
      case "search" =>
        val resp = s.post(s"/search?house_number=${g.geoId}&street=Main%20St" +
          s"&borough=${g.boroughName.replace(" ", "%20")}&start_date=${win._1}" +
          s"&end_date=${win._2}")
        val want = f"/analytics/${g.borough}-${g.block}%05d-${g.lot}%04d" +
          s"?start_date=${win._1}&end_date=${win._2}"
        (resp.statusCode == 302 &&
          resp.headers.firstValue("Location").orElse("") == want, resp.body.take(200))
      case "bookmark" =>
        val resp = s.post(s"/bookmark/${g.bbl}")
        val after = Bookmarks.toggle(s.saved, g.bbl).toVector
        val action = if (after.contains(g.bbl)) "added" else "removed"
        s.saved = after
        (resp.statusCode == 200 &&
          Json.parse(resp.body).get("action").asText == action, resp.body.take(200))
      case "bookmarks" =>
        val resp = s.get("/bookmarks")
        val j = Json.parse(resp.body)
        val got = j.get("bookmarks").elements().asScala.map(_.asText).toVector
        val ids = s.saved.flatMap(b => m.nyc.geo.find(_.bbl == b)).map(_.geoId)
        val want = ids.distinct.sorted.flatMap { id =>
          val xs = m.srs(id, None)
          if (xs.isEmpty) None
          else Some((id, xs.size.toLong, xs.count(x => Active(x.status)).toLong))
        }
        val sums = j.get("summaries").elements().asScala.map(n =>
          (n.get("geographic_id").asLong, n.get("total_count").asLong,
            n.get("active_count").asLong)).toSeq
        (resp.statusCode == 200 && got == s.saved && sums == want, resp.body.take(200))
      case "vdash" =>
        val resp = s.get("/vdash?by=label&sum=amount&cut=1")
        val j = Json.parse(resp.body)
        val got = j.get("rows").elements().asScala.map(n =>
          n.get("label").asText -> (n.get("n").asLong, n.get("sum_amount").asLong)).toMap
        (resp.statusCode == 200 && j.get("cut").asLong == 1L &&
          got == sv.vdash, resp.body.take(200))
    } catch {
      case e: Exception => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val ns = System.nanoTime() - n0
    if (record) {
      if (!ok) ctx.rec.fail(s"$step ${g.bbl} $w: $why")
      ctx.rec.samples.add(Sample(r, cls, t0, System.currentTimeMillis(), ok, "", ns))
    }
  }

  private[perfbench] def checkAnalytics(m: Model, g: GeoRow, win: (String, String),
                             saved: Seq[String],
                             j: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    val rows = m.srs(g.geoId, Some(win))
    val tot = j.get("totals").get(0)
    val bt = m.byType(rows)
    val gotTypes = j.get("complaint_types").elements().asScala.map(n =>
      (n.get("complaint_type_name").asText, n.get("total_count").asLong,
        n.get("active_count").asLong)).toSeq
    val gotChart = j.get("chart").elements().asScala.map(n =>
      (n.get("bucket").asText, n.get("total_count").asLong)).toSeq
    val sl = m.sales(g.geoId, win)
    val stats = j.get("sales_stats").get(0)
    val listing = sl.sortBy(s => (s.date.toEpochDay, s.price)).reverse.take(10)
      .map(s => (s.date.toString, s.price))
    val gotListing = j.get("sales").elements().asScala.map(n =>
      (n.get("sale_date").asText, n.get("sale_price").asDouble)).toSeq
    j.get("geographic_id").asLong == g.geoId &&
      j.get("is_bookmarked").asBoolean == saved.contains(g.bbl) &&
      tot.get("total_count").asLong == rows.size &&
      tot.get("active_count").asLong == rows.count(x => Active(x.status)) &&
      gotTypes == bt && gotChart == m.chart(bt) &&
      gotListing.map(_._1) == listing.map(_._1) &&
      gotListing.map(_._2).zip(listing.map(_._2)).forall(x => close(x._1, x._2)) &&
      stats.get("num_sales").asLong == sl.size &&
      close(num(stats, "median_price"), m.median(sl.map(_.price)).getOrElse(0.0)) &&
      close(num(stats, "min_price"), if (sl.isEmpty) 0.0 else sl.map(_.price).min) &&
      close(num(stats, "max_price"), if (sl.isEmpty) 0.0 else sl.map(_.price).max)
  }

  private def checkTrend(m: Model, g: GeoRow, win: (String, String),
                         sales: Boolean,
                         j: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    def month(d: LocalDate) = f"${d.getYear}%04d-${d.getMonthValue}%02d"
    val got = j.elements().asScala.toSeq
    val spine = m.months(win)
    got.map(_.get("month").asText) == spine && {
      if (!sales) {
        val c = m.srs(g.geoId, Some(win)).groupBy(s => month(s.created))
        got.forall(n => n.get("count").asLong ==
          c.get(n.get("month").asText).map(_.size).getOrElse(0))
      } else {
        val c = m.sales(g.geoId, win).groupBy(s => month(s.date))
        got.forall { n =>
          val xs = c.getOrElse(n.get("month").asText, Nil)
          n.get("count").asLong == xs.size && (m.median(xs.map(_.price)) match {
            case None => n.get("median_price").isNull
            case Some(v) => close(n.get("median_price").asDouble, v)
          })
        }
      }
    }
  }

  // ----------------------------------------------------------------
  // traced run: per-route p50s come from the samples; here the
  // engine-level splits measured by direct calls
  // ----------------------------------------------------------------

  private def layers(ctx: Ctx, nyc: Nyc, sv: Served): Unit = {
    // the server runs the jobs on its own thread; with one client a job
    // belongs to the request whose interval holds it
    ctx.commonLayers(ctx.rec.ops, byInterval = true)
    Cycle.map(route).distinct.foreach(r =>
      ctx.rec.layers(s"engine.route.$r.p50_ms") = ctx.kindMedianMs(r))
    // direct Analytics calls vs the same request over HTTP
    val spark = ctx.spark
    val base = sv.store.stripSuffix("/bookmarks")
    def read(t: String) = spark.read.parquet(s"${sv.tables}/$t")
    val (geo, sr, ct, sale, prop) =
      (read("geo"), read("sr"), read("ct"), read("sale"), read("property"))
    val s = new Session(sv.port)
    val rnd = Gen.rng(ctx.seed, 300)
    val picks = (1 to 4).map(_ => nyc.geo(nyc.bblRank(nyc.bblZipf.draw(rnd))))
    val plan = Seq.newBuilder[Double]; val exec = Seq.newBuilder[Double]
    val http = Seq.newBuilder[Double]; val append = Seq.newBuilder[Double]
    // alternate which of the two goes first, so neither always runs on
    // the caches the other just warmed
    picks.zipWithIndex.foreach { case (g, i) =>
      def direct(): Unit = {
        val t0 = System.nanoTime()
        val d = Analytics.dashboard(geo, sr, ct, sale, prop, g.borough,
          g.block, g.lot).get
        val t1 = System.nanoTime()
        // collected as the server collects them (a bounded limit)
        Seq(d.requestTotals, d.requestsByType, d.complaintChart,
          d.salesListing, d.salesStats).foreach(_.limit(10001).collect())
        plan += (t1 - t0) / 1e6; exec += (System.nanoTime() - t1) / 1e6
      }
      def viaHttp(): Unit = {
        val t0 = System.nanoTime()
        s.get(s"/analytics/${g.bbl}")
        http += (System.nanoTime() - t0) / 1e6
      }
      if (i % 2 == 0) { direct(); viaHttp() } else { viaHttp(); direct() }
      val t0 = System.nanoTime()
      Bookmarks.appendToggle(spark, s"$base/bookmarks-direct", 1L, g.bbl)
      append += (System.nanoTime() - t0) / 1e6
    }
    def med(x: Seq[Double]) = x.sorted.apply(x.size / 2)
    ctx.rec.layers("engine.analytics.plan_ms") = med(plan.result())
    ctx.rec.layers("engine.analytics.exec_ms") = med(exec.result())
    ctx.rec.layers("engine.server.overhead_ms") =
      med(http.result()) - med(plan.result()) - med(exec.result())
    ctx.rec.layers("engine.bookmarks.append_ms") = med(append.result())
  }
}
