package graft

import org.apache.spark.sql.functions._

import graft.operators.Validation
import graft.operators.Validation._

class ValidationSpec extends SparkSpec {
  import spark.implicits._

  /** Frame with one known violation per rule family. */
  private def messy() = Seq(
    (Some(1L), Some(10.0), "A", "ok-1"),
    (Some(2L), Some(-3.0), "A", "ok-2"),   // range violation
    (Some(2L), Some(20.0), "Z", "ok-3"),   // dup id + set violation
    (None,     Some(30.0), "N", "bad 4"),  // null id + regex violation
    (Some(5L), None,       "R", "ok-5")    // null metric: violates nothing
  ).toDF("id", "v", "flag", "label")

  private def rules(dimIds: Seq[Long]) = Seq(
    NotNull("id"),
    InRange("v", lit(0.0), lit(100.0)),
    InSet("flag", Seq("A", "N", "R")),
    Matches("label", "^ok-[0-9]$"),
    Unique(Seq("id")),
    FkExists("id", dimIds.toDF("ref"), "ref"))

  test("report counts each rule family's violations under CHECK null " +
       "semantics") {
    val got = Validation.report(messy(), rules(Seq(1L, 2L, 5L)))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
      .toSeq
    assert(got == Seq(
      ("fk_exists", "id", 0L, 5L, true),   // null FK passes
      ("in_range", "v", 1L, 5L, false),    // -3; the NULL v passes
      ("in_set", "flag", 1L, 5L, false),   // Z
      ("matches", "label", 1L, 5L, false), // "bad 4"
      ("not_null", "id", 1L, 5L, false),
      ("unique", "id", 2L, 5L, false)      // BOTH rows of the dup group
    ))
  }

  test("fk_exists counts non-null orphans; unique groups null keys " +
       "together") {
    val fk = Validation.report(messy(), Seq(
      FkExists("id", Seq(1L).toDF("ref"), "ref")))
      .head()
    assert(fk.getLong(2) == 3L, "ids 2,2,5 are orphans; the null is not")
    val dupNulls = Seq(Option.empty[Long], Option.empty[Long], Some(1L))
      .toDF("id")
    val u = Validation.report(dupNulls, Seq(Unique(Seq("id")))).head()
    assert(u.getLong(2) == 2L, "two null keys form one dup group")
  }

  test("an empty frame violates nothing and passes") {
    val r = Validation.report(messy().limit(0), rules(Seq(1L)))
    assert(r.collect().forall(_.getBoolean(4)))
    assert(r.select(sum(col("violations"))).head().getLong(0) == 0L)
    assert(Validation.passes(messy().limit(0), rules(Seq(1L))))
  }

  test("passes() is the routing gate") {
    val clean = Seq((1L, 5.0, "A", "ok-1"), (2L, 6.0, "N", "ok-2"))
      .toDF("id", "v", "flag", "label")
    assert(Validation.passes(clean,
      rules(Seq(1L, 2L)).filterNot(_.isInstanceOf[FkExists])))
    assert(!Validation.passes(messy(), rules(Seq(1L, 2L, 5L))))
  }

  test("all scalar rules ride ONE pass over the data: one scan, " +
       "however many rules") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_valscan").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "d").getPath
    messy().write.parquet(p)
    val df = spark.read.parquet(p)
    val recordsRead = readDuring {
      Validation.report(df, Seq(
        NotNull("id"), InRange("v", lit(0.0), lit(100.0)),
        InSet("flag", Seq("A", "N", "R")), Matches("label", "^ok-"),
        NotNull("v"), NotNull("flag"))).collect(): Unit
    }.records
    // 5 rows read ONCE for six rules — a per-rule plan would read 30
    assert(recordsRead == 5L,
      s"six scalar rules must read the 5 rows once, read $recordsRead")
  }
}
