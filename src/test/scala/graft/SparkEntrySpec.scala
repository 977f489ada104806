package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are `++` over the
  * family maps, so a name registered by two families would silently
  * keep the later family's builder or oracle. */
class SparkEntrySpec extends AnyFunSuite {
  import operators._

  /** (family, its query names, its oracle names), in `SparkEntry` order. */
  private val families: Seq[(String, Set[String], Set[String])] = Seq(
    ("Relational", Relational.queries.keySet, Relational.oracleSql.keySet),
    ("DataOps", DataOps.queries.keySet, DataOps.oracleSql.keySet),
    ("EtlQueries", EtlQueries.queries.keySet, EtlQueries.oracleSql.keySet),
    ("Multimodal", Multimodal.queries.keySet, Multimodal.oracleSql.keySet),
    ("Advanced", Advanced.queries.keySet, Advanced.oracleSql.keySet),
    ("ReferenceQueries", ReferenceQueries.queries.keySet,
      ReferenceQueries.oracleSql.keySet),
    ("Extended", Extended.queries.keySet, Extended.oracleSql.keySet),
    ("SqlSurface", SqlSurface.queries.keySet, SqlSurface.oracleSql.keySet),
    ("Cdc", Cdc.queries.keySet, Cdc.oracleSql.keySet),
    ("Analytics", Analytics.queries.keySet, Analytics.oracleSql.keySet),
    ("Graph", Graph.queries.keySet, Graph.oracleSql.keySet))

  test("family query maps are pairwise disjoint, and so are family oracle maps") {
    for (Seq((a, qa, oa), (b, qb, ob)) <- families.combinations(2)) {
      assert((qa & qb).isEmpty,
        s"queries registered by both $a and $b: ${(qa & qb).toSeq.sorted}")
      assert((oa & ob).isEmpty,
        s"oracles registered by both $a and $b: ${(oa & ob).toSeq.sorted}")
    }
    assert(families.map(_._2.size).sum === SparkEntry.queries.size)
    assert(families.map(_._3.size).sum === SparkEntry.oracleSql.size)
  }

  test("every oracleSql key is a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
  }
}
