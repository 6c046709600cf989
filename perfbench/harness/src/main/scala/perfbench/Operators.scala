package perfbench

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The `operators` layer, measured in the `dashboard` traced run: one
  * execution of each of a fixed subset of the `SparkEntry` catalog
  * queries over seeded generated catalog tables, each writing its result
  * to a parquet directory that `run.py` then compares with the DuckDB
  * oracle SQL over the same tables. Every listed query is read-only: one
  * that creates a file beyond its own result fails loudly.
  */
object Operators {

  val Sf = 0.01

  /** The subset, chosen once: the reference flows q01-q13 (the
    * dashboard's own SQL) plus one read-only query of every operator
    * family. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "reference" -> Seq("q01_dim_lookup", "q02_recent_listing",
      "q03_totals_conditional", "q04_group_counts", "q05_price_stats",
      "q05b_price_stats_empty", "q06_monthly_counts", "q07_month_gap_fill",
      "q08_topk_other", "q09_compare", "q10_bookmarks", "q11_key_scalars",
      "q12_validation_split", "q13_pricing_rollup"),
    "text" -> Seq("q14_text_tokens"),
    "dedup" -> Seq("q18_dedup_exact"),
    "similarity" -> Seq("q22_cosine_topk"),
    "profiling" -> Seq("q57_quartiles"),
    "timeseries" -> Seq("q44_sliding_window"),
    "corpus" -> Seq("q54_pack"),
    "joins" -> Seq("q42_range_join"),
    "graph" -> Seq("q73_pagerank"),
    "multimodal" -> Seq("q27_media_meta"))

  val Queries: Seq[String] = Families.flatMap(_._2)

  /** Runs the pass and adds `operators.<family>.s` (the family's summed
    * seconds), `operators.build_ms` and `operators.exec_ms` (per query: the
    * catalog building the DataFrame, then executing and writing it) to the
    * layers. Results land in
    * `<work>/results`, the tables in `<work>/sf`. */
  def run(ctx: Ctx): Unit = {
    import ctx._
    val sf = s"$work/sf"
    val cat = Gen.catalog(seed, Sf)
    cat.foreach { t =>
      rec.facts(s"operators.rows.${t.name}") = t.rows.length
      spark.createDataFrame(t.rows.toSeq.asJava, t.schema).coalesce(1)
        .write.parquet(s"$sf/${t.name}.parquet")
    }
    rec.facts("operators.sf") = Sf
    rec.facts("operators.queries") = Queries
    val all = SparkEntry.queries
    val missing = Queries.filterNot(all.contains)
    require(missing.isEmpty, s"catalog lacks ${missing.mkString(", ")}")
    val results = s"$work/results"
    val build = Seq.newBuilder[Double]; val exec = Seq.newBuilder[Double]
    val secs = Families.map { case (family, qs) =>
      family -> qs.map { q =>
        val before = CountingLocalFs.snap()
        val t0 = System.nanoTime()
        var t1 = t0
        op(q, "query") {
          val df = all(q)(spark, sf)
          t1 = System.nanoTime()
          df.write.parquet(s"$results/$q")
          val own = filesUnder(s"$results/$q", n => !n.startsWith("."))
          val made = (CountingLocalFs.snap() - before).creates - own
          check(made == 0, s"$q is listed read-only but created $made files")
        }
        val t2 = System.nanoTime()
        build += (t1 - t0) / 1e6; exec += (t2 - t1) / 1e6
        (t2 - t0) / 1e9
      }.sum
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter(e => Queries.contains(e._1))))
    val L = rec.layers
    secs.foreach { case (f, s) => L(s"operators.$f.s") = s }
    L("operators.build_ms") = build.result().sum / Queries.size
    L("operators.exec_ms") = exec.result().sum / Queries.size
  }
}
