package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.{CheckedBy, Entry, Oracle}

/** Invariants of the query registry that need no Spark session: every
  * row is oracle-checked, directly or through the checked row it names;
  * only mm_features carries two builds; and the bench marks follow the
  * `_md5`/`_replay` naming the benchmark harness relies on.
  */
class RegistrySpec extends AnyFunSuite {

  private val registry = SparkEntry.registry

  private def hasOracle(row: String): Boolean =
    registry.get(row).exists(_.check.isInstanceOf[Oracle])

  test("every registered query has an oracle or an _md5 twin with one") {
    val unchecked = registry.collect {
      case (n, Entry(_, CheckedBy(twin), _)) if !hasOracle(twin) => n
    }
    assert(unchecked.isEmpty, s"rows whose twin has no oracle: ${unchecked.toSeq.sorted}")
  }

  test("each listed bench-only row names an existing oracle-checked twin") {
    val production = registry.collect { case (n, Entry(_, CheckedBy(twin), bench)) =>
      (n, twin, bench)
    }
    production.foreach { case (n, twin, bench) =>
      assert(bench, s"$n is checked through $twin but not measured")
      assert(registry.contains(twin), s"$n's twin $twin is not registered")
      assert(hasOracle(twin), s"$n's twin $twin has no oracle")
    }
    assert(production.map(_._1).toSet == SparkEntry.benchQueries.keySet - "mm_features")
  }

  test("no bench row shadows a checked row except mm_features") {
    // mm_features is the one row with two builds: the benchmarked float
    // path and the integer lane its oracle checks
    val twoBuilds = registry.collect { case (n, Entry(_, Oracle(_, Some(_)), _)) => n }
    assert(twoBuilds.toSet == Set("mm_features"))
    val shadowed = SparkEntry.queries.keySet & SparkEntry.benchQueries.keySet
    assert(shadowed == Set("mm_features"),
      s"bench rows shadowing checked rows: ${shadowed.toSeq.sorted}")
  }

  test("no orphan oracle: every oracle key is a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
    assert(SparkEntry.queries.keySet == registry.keySet.filter(hasOracle))
  }

  test("a checked row is measured iff its name has no _md5 or _replay suffix") {
    registry.foreach { case (n, e) =>
      if (hasOracle(n))
        assert(e.bench == !(n.endsWith("_md5") || n.endsWith("_replay")), n)
    }
  }
}
