package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TDigestSketch}

/** The `functions` layer: ns per row of each native kernel, measured as
  * a projection over a cached seeded column minus the same projection
  * without the kernel (median of three). */
object Kernels {

  val Rows = 200000

  private def input(ctx: Ctx): DataFrame = {
    val s = ctx.seed
    ctx.spark.range(Rows).select(
      col("id"),
      split(concat_ws(" ", transform(sequence(lit(1), lit(12)),
        i => pmod(xxhash64(col("id"), i, lit(s)), lit(40)).cast("string"))),
        " ").as("tokens"),
      concat_ws(" ", transform(sequence(lit(1), lit(12)),
        i => pmod(xxhash64(col("id"), i, lit(s)), lit(40)).cast("string"))).as("text"),
      transform(sequence(lit(1), lit(64)),
        i => (rand(s) - 0.5).cast("float")).as("va"),
      transform(sequence(lit(1), lit(64)),
        i => (rand(s + 1) - 0.5).cast("float")).as("vb"),
      transform(sequence(lit(1), lit(32)),
        i => pmod(xxhash64(col("id"), i), lit(8))).as("la"),
      transform(sequence(lit(1), lit(32)),
        i => pmod(xxhash64(col("id"), i, lit(1)), lit(8))).as("lb"),
      transform(sequence(lit(1), lit(32)), i => rand(s + 2) * 1000).as("da"),
      (rand(s + 3) * 1e6).as("x"))
  }

  /** (kernel, projection with it, the same projection without it). */
  private val cases: Seq[(String, Column, Column)] = Seq(
    ("minhash", HashFunctions.minhashSignature(col("tokens"), 32), size(col("tokens"))),
    ("simhash", HashFunctions.simhash64(col("tokens")), size(col("tokens"))),
    ("portable_signature", HashFunctions.portableSig(col("va"), 16, 7L, 64), size(col("va"))),
    ("winnow", HashFunctions.winnowFingerprints(col("text"), 8, 4), length(col("text"))),
    ("eq_count", HashFunctions.eqCount(col("la"), col("lb")), size(col("la")) + size(col("lb"))),
    ("sorted_sum", HashFunctions.sortedSumD(col("da")), size(col("da"))),
    ("vector_dot", HashFunctions.dotFF(col("va"), col("vb")), size(col("va")) + size(col("vb"))))

  def measure(ctx: Ctx): Map[String, Double] = {
    val df = input(ctx).cache()
    df.count()
    def timeMs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def med(f: => Unit): Double = {
      f // warm
      Seq.fill(3)(timeMs(f)).sorted.apply(1)
    }
    def sink(c: Column): Unit = df.select(c).write.format("noop").mode("overwrite").save()
    val out = cases.map { case (name, k, base) =>
      s"functions.$name.ns_per_row" ->
        math.max(0.0, med(sink(k)) - med(sink(base))) * 1e6 / Rows
    } :+ ("functions.tdigest.ns_per_row" ->
      math.max(0.0, med(df.agg(TDigestSketch.percentileAgg(col("x"), 0.5)).collect())
        - med(df.agg(max(col("x"))).collect())) * 1e6 / Rows)
    df.unpersist()
    out.toMap
  }
}
