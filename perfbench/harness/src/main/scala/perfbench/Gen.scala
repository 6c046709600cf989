package perfbench

import java.sql.Date
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

/** Seeded input generators. Every table draws from its own stream
  * (`rng(seed, salt)`), so adding a table never shifts another one's
  * rows, and the same seed always gives the same inputs. Nothing here
  * touches Spark: the rows are plain values that the workloads both
  * write as parquet and fold in their own answer models.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Zipf(s) over ranks 0..n-1 by inverse CDF; rank 0 is the hottest. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }

  private def dayIn(r: SplittableRandom, from: LocalDate, days: Int): LocalDate =
    from.plusDays(r.nextInt(days).toLong)

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  // ---------------------------------------------------------------
  // NYC-shaped serving tables (schema.sql shapes, as NycFixtures)
  // ---------------------------------------------------------------

  final case class GeoRow(geoId: Long, boroughName: String, borough: Int,
                          block: Int, lot: Int) {
    def bbl: String = s"$borough-$block-$lot"
    def wire: String = f"$borough%01d$block%05d$lot%04d"
    def address: String = s"$geoId MAIN ST ${boroughName.toUpperCase}"
  }
  final case class SrRow(id: Int, geoId: Long, typeId: Int,
                         created: LocalDate, status: String)
  final case class PropRow(id: Int, geoId: Long, address: String, apt: String)
  final case class SaleRow(id: Int, propId: Int, price: Double, date: LocalDate)

  final case class Nyc(sizes: Map[String, Any], geo: Array[GeoRow],
                       types: Array[(Int, String)], sr: Array[SrRow],
                       props: Array[PropRow], sales: Array[SaleRow],
                       bblZipf: Zipf, bblRank: Array[Int])

  val Boroughs: Seq[String] =
    Seq("Manhattan", "Bronx", "Brooklyn", "Queens", "Staten Island")

  def nyc(seed: Long, nBbl: Int = 1500, nSr: Int = 60000,
          nSale: Int = 12000, nTypes: Int = 30, skew: Double = 1.1): Nyc = {
    val rg = rng(seed, 1)
    val geo = Array.tabulate(nBbl) { i =>
      val b = 1 + i % 5
      GeoRow(i + 1L, Boroughs(b - 1), b, 10 + i / 5, 1 + rg.nextInt(99))
    }
    val types = Array.tabulate(nTypes)(i => (i + 1, f"Type_${i + 1}%02d"))
    val zipf = new Zipf(nBbl, skew)
    // rank -> geo index: hot keys are scattered over the key space
    val rank = shuffled(nBbl, rng(seed, 2))
    val typeZipf = new Zipf(nTypes, 0.8)
    val rs = rng(seed, 3)
    val d0 = LocalDate.parse("2023-01-01")
    val sr = Array.tabulate(nSr) { i =>
      val st = rs.nextInt(100) match {
        case x if x < 30 => "Open"
        case x if x < 70 => "Closed"
        case x if x < 80 => "Pending"
        case x if x < 92 => "In Progress"
        case _ => "Cancelled"
      }
      SrRow(i + 1, geo(rank(zipf.draw(rs))).geoId, 1 + typeZipf.draw(rs),
        dayIn(rs, d0, 912), st)
    }
    val rp = rng(seed, 4)
    val props = geo.flatMap { g =>
      (0 until 1 + rp.nextInt(2)).map(k => (g, k))
    }.zipWithIndex.map { case ((g, k), i) =>
      PropRow(i + 1, g.geoId, s"${g.geoId} Main St", if (k == 0) "" else s"${k}A")
    }
    val propZipf = new Zipf(props.length, skew)
    val propRank = shuffled(props.length, rng(seed, 5))
    val rsl = rng(seed, 6)
    val sales = Array.tabulate(nSale) { i =>
      SaleRow(i + 1, props(propRank(propZipf.draw(rsl))).id,
        cents(rsl, 100000, 2000000), dayIn(rsl, d0, 912))
    }
    Nyc(Map("bbls" -> nBbl, "service_requests" -> nSr, "sales" -> nSale,
        "properties" -> props.length, "complaint_types" -> nTypes,
        "zipf_skew" -> skew),
      geo, types, sr, props, sales, zipf, rank)
  }

  // ---------------------------------------------------------------
  // TPC-H-shaped catalog tables (the SparkEntry catalog's schema)
  // ---------------------------------------------------------------

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  final case class Table(name: String, schema: StructType, rows: Array[Row])

  private val Words = Array("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "query", "customer", "stream", "filter", "group", "vector")

  /** The ten catalog tables at `sf` (sf 0.01 ≈ 60 k lineitem rows, the
    * proportions of the reference fixtures). */
  def catalog(seed: Long, sf: Double): Seq[Table] = {
    def n(base: Double, min: Int) = math.max(min, (base * sf).round.toInt)
    val nCust = n(150000, 50); val nSupp = n(10000, 10)
    val nPart = n(200000, 50); val nOrd = n(1500000, 200)
    val nLine = n(6000000, 800); val nEv = n(1000000, 200)
    val nDoc = n(50000, 50); val nEmb = n(50000, 50)
    val nUsers = n(15000, 20)
    def f(name: String, t: DataType) = StructField(name, t)
    val region = Table("region", StructType(Seq(f("r_regionkey", IntegerType),
        f("r_name", StringType))),
      Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (s, i) => Row(i, s) })
    val nation = Table("nation", StructType(Seq(f("n_nationkey", IntegerType),
        f("n_name", StringType), f("n_regionkey", IntegerType))),
      Array.tabulate(25)(i => Row(i, s"NATION_$i", i % 5)))
    val rc = rng(seed, 11)
    val segs = Array("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
    val customer = Table("customer", StructType(Seq(f("c_custkey", LongType),
        f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      Array.tabulate(nCust)(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), cents(rc, -999.99, 9999.99), segs(rc.nextInt(5)))))
    val rsu = rng(seed, 12)
    val supplier = Table("supplier", StructType(Seq(f("s_suppkey", LongType),
        f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))),
      Array.tabulate(nSupp)(i => Row(i.toLong, f"Supplier#$i%09d",
        rsu.nextInt(25), cents(rsu, -999.99, 9999.99))))
    val rp = rng(seed, 13)
    val adj = Array("blue", "old", "red", "small", "new", "hot", "large", "cold")
    val nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
    val ptypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val partPrice = Array.tabulate(nPart)(i => 900.0 + (i % 1000) / 10.0)
    val part = Table("part", StructType(Seq(f("p_partkey", LongType),
        f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
      Array.tabulate(nPart)(i => Row(i.toLong,
        s"${adj(rp.nextInt(8))} ${nouns(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", ptypes(rp.nextInt(6)),
        1 + rp.nextInt(50), partPrice(i))))
    val ro = rng(seed, 14)
    val t0 = LocalDateTime.parse("1995-01-01T00:00:00")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = Table("orders", StructType(Seq(f("o_orderkey", LongType),
        f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
        f("o_orderpriority", StringType))),
      Array.tabulate(nOrd)(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), cents(ro, 1000, 500000),
        t0.plusDays(ro.nextInt(2404).toLong), prios(ro.nextInt(5)))))
    val rl = rng(seed, 15)
    val lineitem = Table("lineitem", StructType(Seq(f("l_orderkey", LongType),
        f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
        f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      Array.tabulate(nLine) { _ =>
        val p = rl.nextInt(nPart)
        val q = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(nOrd).toLong, p.toLong, rl.nextInt(nSupp).toLong,
          1 + rl.nextInt(7), q, math.round(q * partPrice(p) * 100) / 100.0 +
            cents(rl, 0, 50000), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rl.nextInt(3)), Seq("O", "F")(rl.nextInt(2)),
          t0.plusDays(1 + rl.nextInt(2499).toLong))
      })
    val re = rng(seed, 16)
    val e0 = LocalDateTime.parse("2024-01-01T00:00:00")
    val span = 30L * 86400L * 1000000L
    val evTimes = Array.fill(nEv)((re.nextDouble() * span).toLong).sorted
    val evTypes = Array("click", "signup", "error", "view", "purchase")
    val events = Table("events", StructType(Seq(f("event_id", LongType),
        f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
      Array.tabulate(nEv)(i => Row(i.toLong,
        e0.plusNanos(evTimes(i) * 1000L), re.nextInt(nUsers).toLong,
        evTypes(re.nextInt(5)), cents(re, 0.01, 490), s"""{"k": ${re.nextInt(100)}}""")))
    val rd = rng(seed, 17)
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    val docTexts = Array.tabulate(nDoc) { i =>
      // every 10th document near-duplicates an earlier one: one word
      // changed, so the dedup families have real work
      if (i >= 10 && i % 10 == 0) null
      else Array.fill(8 + rd.nextInt(70))(Words(rd.nextInt(Words.length))).mkString(" ")
    }
    for (i <- docTexts.indices if docTexts(i) == null) {
      val w = docTexts(rd.nextInt(i) / 10 * 10 + 1).split(" ")
      w(rd.nextInt(w.length)) = Words(rd.nextInt(Words.length))
      docTexts(i) = w.mkString(" ")
    }
    val documents = Table("documents", StructType(Seq(f("doc_id", LongType),
        f("text", StringType), f("lang", StringType), f("source", StringType),
        f("n_chars", LongType))),
      Array.tabulate(nDoc)(i => Row(i.toLong, docTexts(i),
        langs(rd.nextInt(langs.length)), s"src${rd.nextInt(20)}",
        docTexts(i).length.toLong)))
    val rv = rng(seed, 18)
    val centroids = Array.fill(10, 64)(rv.nextDouble() * 2 - 1)
    val embeddings = Table("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = false)),
        f("label", IntegerType))),
      Array.tabulate(nEmb) { i =>
        val l = rv.nextInt(10)
        val v = centroids(l).map(c => c + (rv.nextDouble() - 0.5) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, l)
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events,
      documents, embeddings)
  }

  // ---------------------------------------------------------------
  // Lake churn: keyed rows and a text corpus for the indexes
  // ---------------------------------------------------------------

  final case class LakeRow(id: Long, grp: Int, amount: Long, note: String)

  def lakeRow(r: SplittableRandom, id: Long): LakeRow =
    LakeRow(id, r.nextInt(64), r.nextInt(1000000).toLong,
      Words(r.nextInt(Words.length)) + "_" + r.nextInt(1000))

  def docText(r: SplittableRandom): String =
    Array.fill(6 + r.nextInt(20))(Words(r.nextInt(Words.length))).mkString(" ") +
      s" #${r.nextLong()}"

  /** Order-sensitive content digest of generated values (the
    * determinism self-test compares two generations by it). */
  def digest(values: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    values.foreach { v =>
      md.update(String.valueOf(v match {
        case s: Seq[_] => s.mkString(",")
        case x => x
      }).getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def sqlDate(d: LocalDate): Date = Date.valueOf(d)
}
