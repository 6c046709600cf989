package graft

/** Pins the driver contract itself: every oracle key has a query, the
  * flagship entry returns rows (the driver's smoke check), and each query
  * at least plans against sf0.001.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without query: $orphans")
  }

  test("entry() returns rows on sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query analyzes against sf0.001 (schema-level contract)") {
    CatalogFrames.at(spark, "/root/testdata/sf0.001").foreach { f =>
      val name = f.name
      assert(f.schema.fields.nonEmpty, name)
      // oracle-checked queries must alias every column (no generated names)
      if (SparkEntry.oracleSql.contains(name)) {
        val bad = f.columns.filter(c => c.contains("(") || c.contains(")"))
        assert(bad.isEmpty, s"$name has unaliased columns: ${bad.mkString(",")}")
      }
    }
  }
}
