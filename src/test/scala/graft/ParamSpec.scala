package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, GraftInternal, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Param
import graft.operators.Filters

/** [[Param]] is a [[Literal]] whose generated code reads its value from a
  * field: it must answer exactly as the plain literal does under every
  * execution mode, and stay a literal to everything that inspects one. */
class ParamSpec extends SparkSpec {

  private def param(v: Any): Column = {
    val l = Literal(v)
    Param.column(l.value, l.dataType)
  }

  /** `repartition` keeps the optimizer from evaluating the projection over
    * the local rows itself, so the expressions run in the chosen mode. */
  private def probe(values: DataFrame, p: Column): Seq[Row] =
    values.repartition(1)
      .select(col("x"), col("x") === p, col("x") < p, col("x") >= p,
        coalesce(col("x"), p), p.as("p"))
      .filter(col("x").isNull || col("x") <= p || col("x") > p)
      .orderBy(col("x")).collect().toSeq

  private val modes = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("Param and lit give identical rows for Long, Int and Date edge " +
      "values, with and without codegen") {
    import spark.implicits._
    val longs = Seq(Long.MinValue, -42L, 0L, 7L, Long.MaxValue)
    val ints = Seq(Int.MinValue, -1, 0, 3, Int.MaxValue)
    val dates = Seq("0001-01-01", "1969-12-31", "1970-01-01", "2024-02-29",
      "9999-12-31").map(LocalDate.parse)
    val cases: Seq[(DataFrame, Seq[Any])] = Seq(
      (longs.map(Option(_)) :+ None).toDF("x") -> longs,
      (ints.map(Option(_)) :+ None).toDF("x") -> ints,
      (dates.map(Option(_)) :+ None).toDF("x") -> dates)
    for ((mode, conf) <- modes; (values, vs) <- cases) withConf(conf) {
      vs.foreach(v => assert(probe(values, param(v)) == probe(values, lit(v)),
        s"$mode, $v"))
      if (mode != "interpreted") {
        // the query shape is compiled; a new value reuses it
        probe(values, param(vs.head))
        assert(compilesDuring(probe(values, param(vs.last))) == 0, mode)
      }
    }
  }

  test("Param stays a Literal: null path, serialization, semantic equality") {
    assert(Param(null, LongType).getClass == classOf[Literal])
    val p = Param(5L, LongType)
    assert(p.isInstanceOf[Param] && p.foldable)
    assert(p.semanticEquals(Literal(5L)) && p == Literal(5L))
    assert(p.sql == Literal(5L).sql && p.toString == Literal(5L).toString)
    val bytes = new ByteArrayOutputStream()
    new ObjectOutputStream(bytes).writeObject(p)
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject()
    assert(back.isInstanceOf[Param] && back == p)
    assert(back.asInstanceOf[Literal].eval() == 5L)
    // an Int compared with a Long column is bound as a Long: no cast
    import spark.implicits._
    val bound = GraftInternal.expression(Param.against(Seq(1L).toDF("x"), "x", 7))
    assert(bound.isInstanceOf[Param] && bound.dataType == LongType &&
      bound.asInstanceOf[Literal].value == 7L)
  }

  test("dateWindow keeps its literal form's rows on date, timestamp and " +
      "timestamp_ntz columns, in and out of UTC") {
    import spark.implicits._
    val at = Seq("2023-12-31 23:59:59", "2024-01-01 00:00:00",
      "2024-01-01 11:59:59.999999", "2024-01-01 12:00:00", "2024-01-02 00:00:00",
      "2024-01-31 06:00:00", "2024-01-31 23:59:59.999999", "2024-02-01 00:00:00",
      "2024-02-01 05:59:59", "2024-02-01 06:00:00", "2024-02-02 00:00:00")
    val bounds = Seq(("2024-01-01", "2024-01-31"),
      ("2024-01-01 12:00:00", "2024-01-31 06:00:00"),
      ("2024-02-01", "2024-01-01"), ("2024-01-01T00:00:01", "2024-02-01"))
    for (tz <- Seq("UTC", "America/New_York"))
      withConf(Seq("spark.sql.session.timeZone" -> tz)) {
        val df = at.toDF("s").select(col("s"), col("s").cast("date").as("d"),
          col("s").cast("timestamp").as("ts"),
          col("s").cast("timestamp_ntz").as("ntz"))
        for (c <- Seq("d", "ts", "ntz"); (s, e) <- bounds) {
          val literal = df.filter(col(c) >= to_timestamp(lit(s)) &&
            col(c) < to_timestamp(lit(e)) + expr("interval 1 day"))
          val got = Filters.dateWindow(df, c, Some(s), Some(e))
          assert(got.select("s").as[String].collect().sorted.toSeq ==
            literal.select("s").as[String].collect().sorted.toSeq,
            s"$tz $c $s..$e")
        }
      }
  }
}
