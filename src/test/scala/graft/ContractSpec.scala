package graft

/** Driver-contract hygiene: entry smoke, oracle/queries key alignment. */
class ContractSpec extends SparkSpec {

  test("entry() returns rows on the smoke scale (driver t1)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; non-oracle queries are known") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    // every query has an exact oracle — keep it that way
    assert((q -- o).isEmpty, s"unexpected rows-only queries: ${q -- o}")
  }

  test("oracle SQL contains no engine-specific Spark syntax markers") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("pmod("), s"$name uses Spark pmod in oracle")
      assert(!sql.toLowerCase.contains("get_json_object"), s"$name oracle not ANSI/DuckDB")
    }
  }

  test("Verify.dump returns the names of the queries that failed") {
    val empty = java.nio.file.Files.createTempDirectory("graft_no_tables")
    val out = java.nio.file.Files.createTempDirectory("graft_verify_out")
    assert(Verify.dump(spark, empty.toString, out.toString, Set("q1_agg")) ==
      Seq("q1_agg"))
  }

  test("tools/baseline_pandas.py REPS equals Bench.headline") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("tools/baseline_pandas.py"))
    val dict = """(?s)\nREPS = \{(.*?)\n\}""".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse(fail("no REPS dict in tools/baseline_pandas.py"))
    val reps = """"(\w+)":\s*(\d+)""".r.findAllMatchIn(dict)
      .map(m => m.group(1) -> m.group(2).toInt).toSeq
    assert(reps == Bench.headline)
  }
}
