package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the query registry that need no Spark session: every
  * registered query is oracle-checked, directly or through its `_md5`
  * twin, or is a named bench-only production row whose checked twin
  * exists; and every oracle belongs to a registered query.
  */
class RegistrySpec extends AnyFunSuite {

  private val registry = SparkEntry.queries ++ SparkEntry.benchQueries
  private val oracles = SparkEntry.oracleSql

  /** Bench-only production rows with neither an oracle nor an `_md5`
    * twin, each mapped to the oracle-checked row that covers it.
    */
  private val checkedTwin = Map(
    "doc_bm25_topk" -> "doc_bm25_stats",
    "doc_dsir_select" -> "doc_dsir_md5",
    "doc_line_dedup_xx" -> "doc_line_dedup",
    "doc_dup_spans_xx" -> "doc_dup_spans",
    "doc_dup_span_removal_xx" -> "doc_dup_span_removal")

  test("every registered query has an oracle or an _md5 twin with one") {
    val unchecked = registry.keySet
      .filterNot(k => oracles.contains(k) || oracles.contains(k + "_md5"))
    assert(unchecked == checkedTwin.keySet,
      s"unchecked rows beyond the listed bench-only ones: " +
        s"${(unchecked -- checkedTwin.keySet).toSeq.sorted}; listed but checked: " +
        s"${(checkedTwin.keySet -- unchecked).toSeq.sorted}")
  }

  test("each listed bench-only row names an existing oracle-checked twin") {
    checkedTwin.foreach { case (row, twin) =>
      assert(SparkEntry.benchQueries.contains(row), s"$row is not a bench query")
      assert(registry.contains(twin), s"$row's twin $twin is not registered")
      assert(oracles.contains(twin), s"$row's twin $twin has no oracle")
    }
  }

  test("no bench row shadows a checked row except mm_features") {
    // `queries ++ benchQueries` lets a bench row silently replace the
    // checked row of the same name; mm_features' production float path
    // replaces its integer-lane checked twin on purpose
    val shadowed = SparkEntry.queries.keySet & SparkEntry.benchQueries.keySet
    assert(shadowed == Set("mm_features"),
      s"bench rows shadowing checked rows: ${shadowed.toSeq.sorted}")
  }

  test("no orphan oracle: every oracle key is a registered query") {
    val orphans = oracles.keySet -- registry.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
  }
}
