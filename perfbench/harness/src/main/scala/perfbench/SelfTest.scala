package perfbench

import java.time.LocalDate

/** The harness's own tests (run by `run.py --selftest`): the generators
  * are deterministic per seed, the dashboard's output check rejects a
  * wrong body, and a wrong answer or an exception counts the op failed. */
object SelfTest {

  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) throw new AssertionError(s"selftest FAILED: $what")
    println(s"selftest ok: $what")
  }

  private def nycDigest(seed: Long): String = {
    val n = Gen.nyc(seed)
    Gen.digest(n.geo.iterator ++ n.sr.iterator ++ n.props.iterator ++
      n.sales.iterator ++ n.bblRank.iterator)
  }

  private def catalogDigest(seed: Long): String =
    Gen.digest(Gen.catalog(seed, 0.001).iterator.flatMap(t =>
      Iterator(t.name) ++ t.rows.iterator.map(_.toSeq)))

  def run(work: String): Unit = {
    expect(nycDigest(7) == nycDigest(7), "NYC tables are identical for one seed")
    expect(nycDigest(7) != nycDigest(8), "NYC tables differ between seeds")
    expect(catalogDigest(7) == catalogDigest(7), "catalog tables are identical for one seed")
    expect(catalogDigest(7) != catalogDigest(8), "catalog tables differ between seeds")
    val lake = (s: Long) => Gen.digest(Iterator.tabulate(1000)(i =>
      Gen.lakeRow(Gen.rng(s, 20), i.toLong)))
    expect(lake(7) == lake(7), "lake rows are identical for one seed")

    // the dashboard check: the model's own answer passes, one changed
    // number fails
    val nyc = Gen.nyc(7)
    val m = new Dashboard.Model(nyc)
    val g = nyc.geo(nyc.bblRank(0)) // the hottest key
    val win = ("2024-01-01", "2024-12-31")
    val rows = m.srs(g.geoId, Some(win))
    val bt = m.byType(rows)
    val sl = m.sales(g.geoId, win)
    val active = rows.count(x => Seq("Open", "Pending", "In Progress").contains(x.status))
    def body(total: Long) = Json.write(Map(
      "geographic_id" -> g.geoId, "is_bookmarked" -> false,
      "totals" -> Seq(Map("total_count" -> total, "active_count" -> active)),
      "complaint_types" -> bt.map { case (n, t, a) =>
        Map("complaint_type_name" -> n, "total_count" -> t, "active_count" -> a) },
      "chart" -> m.chart(bt).map { case (b, t) => Map("bucket" -> b, "total_count" -> t) },
      "sales" -> sl.sortBy(s => (s.date.toEpochDay, s.price)).reverse.take(10)
        .map(s => Map("sale_date" -> s.date.toString, "sale_price" -> s.price)),
      "sales_stats" -> Seq(Map(
        "median_price" -> m.median(sl.map(_.price)).getOrElse(0.0),
        "min_price" -> (if (sl.isEmpty) 0.0 else sl.map(_.price).min),
        "max_price" -> (if (sl.isEmpty) 0.0 else sl.map(_.price).max),
        "num_sales" -> sl.size))))
    expect(rows.nonEmpty, "the hottest key has service requests in 2024")
    expect(Dashboard.checkAnalytics(m, g, win, Nil, Json.parse(body(rows.size))),
      "the model's own /analytics body passes the check")
    expect(!Dashboard.checkAnalytics(m, g, win, Nil, Json.parse(body(rows.size + 1))),
      "a /analytics body with a wrong total fails the check")
    expect(m.median(Seq(1.0, 2.0, 4.0, 10.0)).contains(3.0) &&
      m.median(Seq(3.0, 1.0, 2.0)).contains(2.0), "median interpolates like PERCENTILE_CONT")
    expect(m.months(("2024-01-15", "2024-03-02")) == Seq("2024-01", "2024-02", "2024-03"),
      "the month spine covers every month of the window")

    // failure counting: a wrong answer and an exception are failed ops
    val spark = Main.session(work)
    try {
      val rec = new Recorder
      val ctx = new Ctx(spark, 7L, 1.0, false, work, rec)
      ctx.op("right", "read")(ctx.check(1 + 1 == 2, "arithmetic"))
      ctx.op("wrong", "read")(ctx.check(LocalDate.of(2024, 1, 1).getYear == 2025, "wrong year"))
      ctx.op("throws", "read")(throw new IllegalStateException("boom"))
      val ok = rec.ops.map(s => s.kind -> s.ok).toMap
      expect(ok == Map("right" -> true, "wrong" -> false, "throws" -> false),
        "a wrong answer and an exception each count as a failed op")
      expect(rec.wrong.size == 2, "each failure is recorded with its reason")
    } finally spark.stop()
  }
}
