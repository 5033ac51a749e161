package graft

/** Meta-spec for the driver contract: every query the engine claims is
  * either DuckDB-oracled or on the explicit, documented rows-only list —
  * so a new query silently missing its oracle (or an oracle whose query
  * was renamed away) fails CI here instead of surfacing as a weaker
  * check in the driver's correctness run. */
class EntryContractSpec extends SparkTestBase {

  // queries allowed to lack a value oracle: none — as of round 6 even the
  // random samplers oracle their invariants (count + membership), the
  // x_approx_distinct trick
  private val rowsOnly = Set.empty[String]

  // the one-orphan / one-missing checks below catch a HALF-dropped pair;
  // pin the exact count so an accidental deletion of a whole query+oracle
  // PAIR can't shrink the contract silently. Update alongside intentional
  // additions.
  private val ContractSize = 155

  test("the contract holds exactly the expected number of queries") {
    assert(SparkEntry.queries.size == ContractSize,
      s"query count drifted from $ContractSize — if intentional, " +
        "update ContractSize; if not, a query+oracle pair was dropped")
    assert(SparkEntry.oracleSql.size == ContractSize)
  }

  test("every query has an oracle unless explicitly rows-only") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val missing = q -- o -- rowsOnly
    assert(missing.isEmpty,
      s"queries without an oracle (add SQL or justify rows-only): $missing")
  }

  test("no orphan oracles (oracle key without a query)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles with no query: $orphans")
  }

  test("rows-only list is tight (those queries really have no oracle)") {
    val stale = rowsOnly.filter(SparkEntry.oracleSql.contains)
    assert(stale.isEmpty, s"now-oracled queries still listed rows-only: $stale")
    assert(rowsOnly.subsetOf(SparkEntry.queries.keySet))
  }

  test("flagship entry returns rows on the smallest scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query builds a plan against sf0.001 (no analysis errors)") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      // plan construction + analysis only — execution is Verify's job
      val schema = fn(spark, dir).schema
      assert(schema.fields.nonEmpty, s"$name produced an empty schema")
    }
  }
}
