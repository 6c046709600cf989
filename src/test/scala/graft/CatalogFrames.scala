package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Every `SparkEntry.queries` frame, built once per test JVM and data
  * directory, in declaration order, with what the plan-level contract
  * checks read: its schema, its column names and its optimized plan.
  * Building a frame runs every eager lifecycle stage, so one build of
  * the whole catalog takes minutes; ContractSpec and ScaleTechniquesSpec
  * share it. PlanFingerprintSpec keeps its own build, because its
  * per-query cache clear is part of the signature it pins.
  */
object CatalogFrames {
  final case class Frame(name: String, schema: StructType,
                         columns: Seq[String], optimizedPlan: LogicalPlan)

  private val built = scala.collection.mutable.Map[String, Seq[Frame]]()

  def at(spark: SparkSession, sfDir: String): Seq[Frame] = synchronized {
    built.getOrElseUpdate(sfDir, SparkEntry.queries.toSeq.map {
      case (name, fn) =>
        val df = fn(spark, sfDir)
        Frame(name, df.schema, df.columns.toSeq,
          df.queryExecution.optimizedPlan)
    })
  }
}
