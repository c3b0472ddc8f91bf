package graft

/** Driver-contract invariants. */
class SparkEntrySpec extends SparkSpec {

  test("flagship entry returns rows on sf0.001 fixtures") {
    assume(new java.io.File("/root/testdata/sf0.001/orders.parquet").exists())
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.contains("Demographic"))
  }

  test("every oracle key has a query implementation") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every query is oracle-checked") {
    val unoracled = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(unoracled.isEmpty, s"unexpected unoracled: $unoracled")
  }

  test("select sorts by name, filters by regex and rejects an empty match") {
    val all = SparkEntry.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Some("^sim_")).map(_._1) == all.filter(_.startsWith("sim_")))
    assert(SparkEntry.select(Some("^dd_phash$")).map(_._1) == Seq("dd_phash"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("^no_such_query$")))
    assert(e.getMessage.contains("matched nothing"))
  }

  test("COVERAGE.md names every query (docs cannot drift from the contract)") {
    val coverage = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val missing = SparkEntry.queries.keySet.filterNot(coverage.contains)
    assert(missing.isEmpty,
      s"queries missing from COVERAGE.md: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
