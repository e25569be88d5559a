package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llmdata.LlmDataQueries

/** The catalog's shape: names are unique (the name-keyed maps would
  * silently collapse a generated duplicate), every entry is oracled,
  * and the sibling families declare real entries.
  */
class CatalogSpec extends AnyFunSuite {
  private val names = QueryCatalog.entries.map(_.name)

  test("the catalog has 350 distinct names") {
    assert(names.diff(names.distinct).isEmpty, "duplicate names")
    assert(names.size == 350)
  }

  test("queries, oracleSql and entries have the same size") {
    assert(QueryCatalog.queries.size == names.size)
    assert(QueryCatalog.oracleSql.size == names.size)
  }

  test("every base and sibling of a family table is a catalog entry") {
    val family =
      LlmDataQueries.sampledBases.flatMap(b => Seq(b, s"${b}_sampled")) ++
        LlmDataQueries.scaledBases.flatMap(b => Seq(b, s"${b}_scaled"))
    assert(family.size == 30)
    assert(family.filterNot(names.toSet).isEmpty)
  }
}
