package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.LocalParquet

/** The driver-side one-file writer must be READ-identical to Spark's
  * own parquet writer for every supported type (the lineage mixes
  * locally-written and Spark-written segments under one mergeSchema
  * read) and must REFUSE anything outside the proven map. */
class LocalParquetSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_lp_$tag").toString

  test("round-trip: all supported types (with nulls) read back as the " +
      "same Spark types and values; mergeSchema with a Spark-written " +
      "file of the same shape is coherent") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val rows = Array(
      Row(1L, 2, 3.5, 4.5f, true, "héllo",
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789123")),
      Row(null, null, null, null, null, null, null, null),
      Row(Long.MinValue, Int.MaxValue, Double.NaN, Float.NegativeInfinity,
        false, "", java.sql.Date.valueOf("1969-12-31"),
        new java.sql.Timestamp(-1L)))
    val dir = tmp("rt")
    assert(LocalParquet.write(rows, schema, s"$dir/part-local-0.parquet",
      spark.sparkContext.hadoopConfiguration))
    // Spark writes the same rows beside it; one mergeSchema read over
    // both must see one schema and 2× the rows
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("append").parquet(dir)
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val got = back.collect()
    assert(got.length == 6)
    // every local row equals its Spark-written twin exactly (NaN-safe)
    val (lo, hi) = got.partition(_ => true)._1.toSeq
      .sortBy(r => if (r.isNullAt(5)) "" else r.getString(5))
      .splitAt(0)
    def key(r: Row): String = r.toString
    assert(got.map(key).sorted.grouped(2).forall(g => g(0) == g(1)),
      got.map(key).sorted.mkString("\n"))
    assert(lo.isEmpty && hi.nonEmpty) // silence unused warnings
  }

  test("refuses unsupported types and unsafe names, writing nothing") {
    val dir = tmp("ref")
    assert(!LocalParquet.write(
      Array(Row(java.math.BigDecimal.ONE)),
      StructType(Seq(StructField("x", DecimalType(10, 2)))),
      s"$dir/a.parquet", spark.sparkContext.hadoopConfiguration))
    assert(!LocalParquet.write(
      Array(Row(Seq(1L))),
      StructType(Seq(StructField("x", ArrayType(LongType)))),
      s"$dir/b.parquet", spark.sparkContext.hadoopConfiguration))
    assert(!LocalParquet.write(
      Array(Row("v")),
      StructType(Seq(StructField("bad name", StringType))),
      s"$dir/c.parquet", spark.sparkContext.hadoopConfiguration))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/a.parquet")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/b.parquet")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/c.parquet")))
    // the directory append refuses the same way: no temp file, no
    // directory
    assert(LocalParquet.appendFile(Array(Row(java.math.BigDecimal.ONE)),
      StructType(Seq(StructField("x", DecimalType(10, 2)))), s"$dir/d",
      "t", spark.sparkContext.hadoopConfiguration).isEmpty)
    assert(new java.io.File(dir).list().isEmpty)
  }
}
