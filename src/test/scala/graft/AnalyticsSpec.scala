package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.engine.Analytics
import graft.engine.Analytics.Window
import graft.functions.KeyCodec
import graft.operators._

/** Pins the reference's corner semantics (SURVEY.md §5 item 2) on the NYC
  * micro-fixtures.
  */
class AnalyticsSpec extends SparkSpec {
  private lazy val geo = graft.engine.NycFixtures.geo(spark)
  private lazy val sr = graft.engine.NycFixtures.serviceRequests(spark)
  private lazy val ct = graft.engine.NycFixtures.complaintTypes(spark)
  private lazy val prop = graft.engine.NycFixtures.properties(spark)
  private lazy val sale = graft.engine.NycFixtures.sales(spark)
  private val w2024 = Window.default

  test("geo natural-key lookup hits exactly one row; miss is empty (404 path)") {
    assert(Analytics.geoLookup(geo, 1, 42, 7).collect().map(_.getLong(0)).toSeq == Seq(101L))
    assert(Analytics.geoLookup(geo, 9, 9, 9).isEmpty)
  }

  test("totals: count + conditional active count over the active status set") {
    val r = Analytics.requestTotals(sr, 101L, w2024).collect().head
    // 13 in-window rows on 101; active = Open/Pending/In Progress = 7
    assert(r.getLong(0) == 13 && r.getLong(1) == 7)
  }

  test("date window bounds are optional; absent = all-time (bookmarks path)") {
    val allTime = Analytics.requestTotals(sr, 101L, Window.allTime).collect().head
    assert(allTime.getLong(0) == 15) // includes 2023 + 2025 rows
    val openStart = Analytics.requestTotals(sr, 101L,
      Window(None, Some("2024-12-31"))).collect().head
    assert(openStart.getLong(0) == 14) // drops only the 2025 row
  }

  test("per-type counts ordered count-desc with name tiebreak") {
    val rows = Analytics.requestsByType(sr, ct, 101L, w2024).collect()
    assert(rows.head.getString(0) == "Type_1") // 3 requests
    // Type_2/3/4 all have 2 → name tiebreak order
    assert(rows.slice(1, 4).map(_.getString(0)).toSeq == Seq("Type_2", "Type_3", "Type_4"))
    assert(rows.map(_.getLong(1)).sum == 13)
  }

  test("top-5 + Other preserves the grand total and residual bucket") {
    val chart = Analytics.complaintChart(
      Analytics.requestsByType(sr, ct, 101L, w2024)).collect()
    assert(chart.length == 6)
    assert(chart.last.getString(0) == "Other")
    assert(chart.map(_.getLong(1)).sum == 13) // invariant (server.py:411-419)
    // Other bucket = 8 types - top 5 = 3 types × 1 request each... Type_6,7,8
    assert(chart.last.getLong(1) == 3)
  }

  test("sales stats: interpolated median on even count, rounded bounds") {
    val r = Analytics.salesStats(sale, prop, 101L, w2024).collect().head
    // prices: 100000.00, 175000.25, 250000.50, 300000.00 → median 212500.375
    assert(r.getDouble(0) == 212500.375)
    assert(r.getDouble(1) == 100000.00 && r.getDouble(2) == 300000.00)
    assert(r.getLong(3) == 4)
  }

  test("empty sale set reports zeros, not nulls (server.py:237-240)") {
    val r = Analytics.salesStats(sale, prop, 102L, w2024).collect().head
    assert(r == Row(0.0, 0.0, 0.0, 0L))
  }

  test("request trend gap-fills empty months with zero") {
    val rows = Analytics.requestTrend(spark, sr, 101L, "2024-01-01", "2024-06-30")
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("2024-01", "2024-02", "2024-03", "2024-04", "2024-05", "2024-06"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(4L, 3L, 0L, 3L, 3L, 0L))
  }

  test("a reversed trend window yields no months, not a sequence error " +
      "(server.py:319-329)") {
    assert(Analytics.requestTrend(spark, sr, 101L, "2024-12-01", "2024-01-01")
      .collect().isEmpty)
    assert(Analytics.salesTrend(spark, sale, prop, 101L, "2024-12-01",
      "2024-01-01").collect().isEmpty)
    // one shared month is a one-month spine
    assert(Analytics.requestTrend(spark, sr, 101L, "2024-01-31", "2024-01-01")
      .collect().map(_.getString(0)).toSeq == Seq("2024-01"))
  }

  test("sales trend: zero-filled counts but NULL medians for empty months") {
    val rows = Analytics.salesTrend(spark, sale, prop, 101L,
      "2024-01-01", "2024-04-30").collect()
    assert(rows.length == 4)
    val feb = rows(1)
    assert(feb.getString(0) == "2024-02")
    assert(feb.isNullAt(1)) // median_price stays NULL (server.py:337-340)
    assert(feb.getLong(2) == 0L) // count zero-filled
    val jan = rows(0)
    assert(jan.getDouble(1) == 175000.25 && jan.getLong(2) == 2L)
  }

  test("both trend series equal the q07 path (monthSpine + monthly + " +
      "gapFill) in rows and schema, with and without facts") {
    val windows = Seq("2024-01-01" -> "2024-06-30", // Dec into Jan next
      "2023-12-15" -> "2024-01-20", "2024-03-03" -> "2024-03-28",
      "2024-12-01" -> "2024-01-01")
    for (geoId <- Seq(101L, 103L); (s, e) <- windows) {
      def within(df: org.apache.spark.sql.DataFrame, c: String) =
        Filters.dateWindow(df, c, Some(s), Some(e))
      def q07(agg: org.apache.spark.sql.DataFrame) =
        TimeSeries.gapFill(TimeSeries.monthSpine(spark, s, e), agg, Seq("count"))
      val requests = q07(TimeSeries.monthly(
        within(sr.filter(col("geographic_id") === geoId), "created_date"),
        "created_date", Seq(count(lit(1)).as("count"))))
      val sales = q07(TimeSeries.monthly(
        within(sale.join(prop.filter(col("geographic_id") === geoId),
          Seq("property_id")), "sale_date"), "sale_date",
        Seq(Aggregates.exactMedianMoney(col("sale_price")).as("median_price"),
          count(lit(1)).as("count"))))
      Seq(Analytics.requestTrend(spark, sr, geoId, s, e) -> requests,
        Analytics.salesTrend(spark, sale, prop, geoId, s, e) -> sales)
        .foreach { case (got, want) =>
          val what = s"geo $geoId, $s..$e"
          assert(got.schema == want.schema, what)
          assert(got.collect().toSeq == want.collect().toSeq, what)
        }
    }
    // the windows reach the corners they claim
    assert(Analytics.requestTrend(spark, sr, 101L, "2023-12-15", "2024-01-20")
      .collect().toSeq == Seq(Row("2023-12", 1L), Row("2024-01", 4L)))
    assert(Analytics.requestTrend(spark, sr, 101L, "2024-03-03", "2024-03-28")
      .collect().toSeq == Seq(Row("2024-03", 0L)))
    assert(Analytics.salesTrend(spark, sale, prop, 103L, "2024-03-03",
      "2024-03-28").collect().toSeq == Seq(Row("2024-03", null, 0L)))
  }

  test("one-call dashboard assembles every §3.1 frame; unknown BBL is None") {
    val d = Analytics.dashboard(geo, sr, ct, sale, prop, 1, 42, 7).get
    assert(d.geoId == 101L)
    assert(d.requestTotals.collect().head.getLong(0) == 13)
    assert(d.complaintChart.collect().map(_.getLong(1)).sum == 13)
    assert(d.salesStats.collect().head.getLong(3) == 4)
    assert(Analytics.dashboard(geo, sr, ct, sale, prop, 9, 9, 9).isEmpty)
  }

  test("compare over two keys equals two independent dashboards (J4)") {
    val both = Analytics.compareRequests(sr, Seq(101L, 102L), w2024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val solo101 = Analytics.requestTotals(sr, 101L, w2024).collect().head
    val solo102 = Analytics.requestTotals(sr, 102L, w2024).collect().head
    assert(both(101L) == ((solo101.getLong(0), solo101.getLong(1))))
    assert(both(102L) == ((solo102.getLong(0), solo102.getLong(1))))
  }

  test("compare by natural keys: unknown keys degrade gracefully, never raise") {
    // the reference's compare uses its geocode result unguarded
    // (server.py:461-468) — a failed resolution raises mid-request. The
    // engine contract: unresolved keys are absent from the result.
    val both = Analytics.compareByKeys(geo, sr,
      Seq((1, 42, 7), (3, 100, 55)), w2024).collect()
    assert(both.map(_.getLong(0)).toSeq.sorted == Seq(101L, 102L))
    val oneUnknown = Analytics.compareByKeys(geo, sr,
      Seq((1, 42, 7), (9, 9, 9)), w2024).collect()
    assert(oneUnknown.map(_.getLong(0)).toSeq == Seq(101L))
    val allUnknown = Analytics.compareByKeys(geo, sr,
      Seq((8, 8, 8), (9, 9, 9)), w2024)
    assert(allUnknown.isEmpty)
    assert(Analytics.compareByKeys(geo, sr, Nil, w2024).isEmpty)
  }

  test("bookmark fan-out: unknown keys silently absent (server.py:571-577)") {
    val rows = Analytics.bookmarkSummaries(sr, Seq(101L, 999L)).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(101L))
  }

  test("BBL codec: format and both parse forms round-trip; malformed → null") {
    import spark.implicits._
    val df = Seq((1, 42, 7), (3, 100, 55)).toDF("b", "bl", "lt")
      .select(KeyCodec.formatBbl(col("b"), col("bl"), col("lt")).as("bbl"),
        KeyCodec.formatBbl10(col("b"), col("bl"), col("lt")).as("bbl10"))
    val r = df.collect()
    assert(r.map(_.getString(0)).toSeq == Seq("1-00042-0007", "3-00100-0055"))
    assert(r.map(_.getString(1)).toSeq == Seq("1000420007", "3001000055"))

    val parsed = df.select(col("bbl"), col("bbl10"))
    val (b1, bl1, lt1) = KeyCodec.parseBbl(col("bbl"))
    val (b2, bl2, lt2) = KeyCodec.parseBbl10(col("bbl10"))
    val rt = parsed.select(b1.as("a"), bl1.as("b"), lt1.as("c"),
      b2.as("d"), bl2.as("e"), lt2.as("f")).collect()
    assert(rt(0) == Row(1, 42, 7, 1, 42, 7))
    assert(rt(1) == Row(3, 100, 55, 3, 100, 55))

    val bad = Seq("nope", "1-2", "1-x-3", "12345", "").toDF("s")
    val (bb, _, _) = KeyCodec.parseBbl(col("s"))
    assert(bad.select(bb).collect().forall(_.isNullAt(0)))
    val (b10, _, _) = KeyCodec.parseBbl10(col("s"))
    assert(bad.select(b10).collect().forall(_.isNullAt(0)))
  }

  test("validation split tags first failing check (F5 quarantine)") {
    import spark.implicits._
    val df = Seq((1, 100.0, 1990), (2, -5.0, 1990), (3, 50.0, 1600))
      .toDF("id", "sqft", "year_built")
    val out = Filters.validate(df, Seq(
      "sqft_pos" -> (col("sqft") > 0),
      "year_range" -> col("year_built").between(1700, 2026)))
      .select("id", "is_valid", "violation").collect()
      .map(r => r.getInt(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(out(1) == ((true, None)))
    assert(out(2) == ((false, Some("sqft_pos"))))
    assert(out(3) == ((false, Some("year_range"))))
  }
}
