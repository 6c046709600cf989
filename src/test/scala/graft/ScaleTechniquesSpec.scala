package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Bucketing

/** Plan-level proof of the cluster-scale techniques: bucketed co-located
  * joins (no shuffle exchange) and salted skew joins (same results, key
  * spread over n reducers).
  */
class ScaleTechniquesSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    Bucketing.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"),
      "orders_b", "custkey", 4)
    Bucketing.writeBucketed(customer.withColumnRenamed("c_custkey", "custkey"),
      "customer_b", "custkey", 4)
    val joined = Bucketing.readTable(spark, "orders_b")
      .hint("merge")
      .join(Bucketing.readTable(spark, "customer_b"), Seq("custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == orders.count()) // every order has its customer
  }

  test("no SparkEntry query plans an unpartitioned Window") {
    // VERDICT r1: an empty-partition Window moves ALL rows to one
    // partition ("WindowExec: No Partition Defined" warning) — a
    // single-node sort at scale. Guard every contract query's plan.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    CatalogFrames.at(spark, dir).foreach { f =>
      val globals = f.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(globals.isEmpty, s"${f.name} plans an unpartitioned Window")
    }
  }

  test("decontamination plans membership joins, never a cartesian product") {
    // the probe-gram test must be a (semi ∘ anti) join chain on the gram
    // hash — a cartesian or a non-equi join here is quadratic in the
    // corpus at 100 TB
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.operators.Corpus.decontaminate(
        docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") < 5),
        "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi membership join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected anti survivor join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in decontaminate:\n$plan")
  }

  test("duplicate spans: gram table computed once (reused exchange), no cartesian") {
    // the positional-gram self-join must (a) never degrade to a cartesian
    // and (b) canonicalize both join sides to the SAME gram-hash exchange,
    // so the corpus-wide tokenize+hash+shuffle runs once, not per side.
    // Static ReuseExchange is what a plan-only check can see — AQE's
    // runtime stage reuse obscures it, so pin the rule with AQE off.
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val plan = graft.operators.Dedup.duplicateSpans(
          docs, "doc_id", "text", n = 5, minSpanGrams = 3, maxOcc = 1000)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in dup spans:\n$plan")
      assert(plan.contains("ReusedExchange"),
        s"gram-table exchange not shared across the self-join:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("month-partitioned fact layout prunes the scan to the queried months") {
    // Tables.scala documents the production layout (facts partitioned by
    // month of the date column); this proves the pruning end-to-end:
    // write orders partitioned by month, query one month, and assert the
    // scan pushed a partition filter and read ONLY that month's files.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("month",
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.sources.Ingest.writeParquet(src, dir, partitionBy = Seq("month"))
    val facts = spark.read.parquet(dir)
    val q = facts.filter(col("month") === "1996-03")
      .select("o_orderkey", "o_totalprice")
    val scans = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec leaf")
    assert(scans.head.partitionFilters.nonEmpty,
      "month predicate must reach the scan as a PartitionFilter")
    // collect() executes the SAME QueryExecution the scan node belongs to
    // (count() would plan a fresh one and leave these metrics empty)
    assert(q.collect().length ==
      src.filter(col("month") === "1996-03").count()) // same rows as unpartitioned
    def parquetFiles(p: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .filter(f => f.toString.endsWith(".parquet")).count()
    val filesRead = scans.head.metrics("numFiles").value
    val marchFiles = parquetFiles(s"$dir/month=1996-03")
    val totalFiles = parquetFiles(dir)
    assert(filesRead == marchFiles && marchFiles < totalFiles,
      s"scan read $filesRead files; month partition has $marchFiles of $totalFiles")
  }

  test("z-order layout bounds BOTH dimensions per file; linear sort only one") {
    import graft.sources.Layout
    // 64×64 uniform grid — every (x, y) cell once
    val grid = spark.range(4096).select(
      (col("id") % 64).cast("double").as("x"),
      floor(col("id") / 64).cast("double").as("y"))
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft_x").toString
    Layout.writeZOrdered(grid, zDir, "x", "y", files = 16)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(xDir)
    def fileBoxes(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
        }
    def hit(b: (Double, Double, Double, Double),
            x0: Double, x1: Double, y0: Double, y1: Double) =
      b._1 <= x1 && b._2 >= x0 && b._3 <= y1 && b._4 >= y0
    val (zB, xB) = (fileBoxes(zDir), fileBoxes(xDir))
    assert(zB.length == 16 && xB.length == 16)
    // box predicate on both dims (1/16 of the area)
    val zBox = zB.count(hit(_, 0, 15, 0, 15))
    val xBox = xB.count(hit(_, 0, 15, 0, 15))
    assert(zBox < xBox, s"z=$zBox files vs x-sorted=$xBox")
    // y-only predicate: the x-sorted layout can prune NOTHING (every file
    // spans all of y); the z-curve still bounds y per file
    val zY = zB.count(hit(_, 0, 63, 0, 15))
    val xY = xB.count(hit(_, 0, 63, 0, 15))
    assert(xY == 16 && zY <= 8, s"zY=$zY xY=$xY")
  }

  test("salted join returns exactly the plain join's rows") {
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"row$i"))
      .toDF("k", "payload") // key 1 is hot
    val dim = Seq((1L, "hot"), (2L, "two"), (3L, "three"))
      .toDF("k", "name")
    val plain = fact.join(dim, Seq("k"))
      .orderBy("payload").collect()
    val salted = Skew.saltedJoin(fact, dim, "k", n = 8)
      .select(fact.columns.map(col) ++ Seq(col("name")): _*)
      .orderBy("payload").collect()
    assert(salted.length == plain.length)
    assert(salted.map(_.toString).sorted.sameElements(plain.map(_.toString).sorted))
    // the hot key really is spread: its salted fact rows take >1 salt value
    val saltSpread = fact.withColumn("__salt", Skew.saltExpr(fact, 8))
      .filter($"k" === 1L).select("__salt").distinct().count()
    assert(saltSpread > 1)
    // ADVICE r1: byte-identical duplicate rows of a hot key (duplicate-heavy
    // skew) must spread too — the salt mixes in the row ordinal, not just
    // the row content
    val dups = Seq.fill(100)((1L, "same payload")).toDF("k", "payload")
    val dupSpread = dups.withColumn("__salt", Skew.saltExpr(dups, 8))
      .select("__salt").distinct().count()
    assert(dupSpread > 1, "identical duplicate rows must not collapse to one salt")
    val dupJoin = Skew.saltedJoin(dups, dim, "k", n = 8)
    assert(dupJoin.count() == 100)

    // the salt flattens the reducers: 80% of the rows on one hot key
    // land on ONE reduce task of the plain join; salted, the hot key's
    // rows spread over all of them. Broadcast is off (a small dim would
    // broadcast and no reducer skew would exist), and so is adaptive
    // execution, whose own skew split and coalescing would blur both.
    val skewed = spark.range(0L, 40000L).select(
      when(col("id") % 5 =!= 0, lit(1L)).otherwise(col("id") % 100)
        .as("k"), col("id").as("payload"))
    val keys = spark.range(0L, 100L)
      .select(col("id").as("k"), col("id").cast("string").as("name"))
    // max / median shuffle records read per task of the join's stage
    def spread(join: => org.apache.spark.sql.DataFrame): Double = {
      val r = readDuring(join.write.format("noop").mode("overwrite").save())
      val tasks = r.shuffleRecords.values.maxBy(_.sum).sorted
      tasks.last.toDouble / math.max(tasks(tasks.size / 2), 1L)
    }
    val (plainSpread, saltedSpread) = withConf(Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "8")) {
      (spread(skewed.join(keys, Seq("k"))),
        spread(Skew.saltedJoin(skewed, keys, "k", n = 32)))
    }
    assert(plainSpread > 8.0 && saltedSpread < 3.0,
      s"reducer max/median: plain $plainSpread, salted $saltedSpread")
  }
}
