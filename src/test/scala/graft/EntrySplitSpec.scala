package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guards for the per-family entry split: each family object
  * declares its own `entries`, and [[SparkEntry.registry]] joins them. A
  * query name declared in two families must be a loud failure rather than
  * one family's body (or oracle) silently shadowing the other's in the
  * name-keyed views. */
class EntrySplitSpec extends AnyFunSuite {

  private val families: Seq[(String, Seq[Query])] = Seq(
    "SparkEntry" -> SparkEntry.entries,
    "AnnEntries" -> AnnEntries.entries,
    "CorpusEntries" -> CorpusEntries.entries,
    "GraphEntries" -> GraphEntries.entries,
    "MediaEntries" -> MediaEntries.entries,
    "RelationalEntries" -> RelationalEntries.entries,
    "StreamEntries" -> StreamEntries.entries,
    "TextDedupEntries" -> TextDedupEntries.entries)

  private val queryFamilies: Seq[(String, Set[String])] =
    families.map { case (n, qs) => n -> qs.map(_.name).toSet }

  private val oracleFamilies: Seq[(String, Set[String])] =
    families.map { case (n, qs) => n -> qs.filter(_.oracle.isDefined).map(_.name).toSet }

  private def assertDisjoint(fams: Seq[(String, Set[String])]): Unit =
    for {
      Seq((na, a), (nb, b)) <- fams.combinations(2)
      overlap = a.intersect(b)
    } assert(overlap.isEmpty, s"$na and $nb both register: $overlap")

  test("family query maps are pairwise disjoint (no silent shadowing)") {
    assertDisjoint(queryFamilies)
    assert(SparkEntry.queries.size == queryFamilies.map(_._2.size).sum)
    assert(SparkEntry.registry.size == families.map(_._2.size).sum)
  }

  test("family oracle maps are pairwise disjoint (no silent shadowing)") {
    assertDisjoint(oracleFamilies)
    assert(SparkEntry.oracleSql.size == oracleFamilies.map(_._2.size).sum)
  }
}
