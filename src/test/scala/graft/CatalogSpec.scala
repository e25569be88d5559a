package graft

import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.llmdata.LlmDataQueries

/** The catalog's shape: names are unique (the name-keyed maps would
  * silently collapse a generated duplicate), every entry is oracled,
  * the sibling families declare real entries, and every oracle string
  * is the one recorded in `oracle_sql.sha256`.
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

  // One `<sha256 of the oracle SQL, or "-" for none>  <name>` line per
  // entry. A refactor of the oracle builders must keep every string
  // byte for byte; an intended oracle change re-records its line.
  test("every oracle SQL string matches its recorded sha256") {
    val src = Source.fromResource("oracle_sql.sha256")
    val recorded =
      try src.getLines().map(_.split("  ", 2)).map(a => a(1) -> a(0)).toMap
      finally src.close()
    def sha256(s: String): String =
      MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val actual = names.map(n => n -> QueryCatalog.oracleSql.get(n).fold("-")(sha256)).toMap
    val differ = (recorded.keySet ++ actual.keySet).toSeq.sorted
      .filter(n => recorded.get(n) != actual.get(n))
    assert(differ.isEmpty, s"oracle SQL differs from oracle_sql.sha256 for: ${differ.mkString(", ")}")
  }
}
