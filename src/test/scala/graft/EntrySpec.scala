package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract-integrity guard: every SparkEntry query must run at the
  * smallest SF (catches scale-dependent failures like under-k sketch
  * indexing before the correctness gate does), and the registry must
  * hold each name once, with its oracle SQL. */
class EntrySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without queries: $extra")
  }

  test("every query has an oracle (rows-only checks are deliberate)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    // the registry is a Seq, so a duplicated name is visible here (a Map
    // literal would keep the last row and drop the other silently)
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"registered twice: $dups")
    assert(names.size == 311)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001 with a non-empty schema") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }
}
