package graft

import org.scalatest.funsuite.AnyFunSuite

/** The oracles' side of the driver contract: every oracle reads only
  * tables the driver provides. That every query has an oracle at all is
  * structural — [[graft.queries.Query]] carries both and rejects a blank
  * oracle. */
class ContractSpec extends AnyFunSuite {

  test("oracle SQL references only driver-provided tables") {
    val known = Tables.names.toSet
    // lookbehinds: `IS DISTINCT FROM x` is an operator and
    // `EXTRACT(hour FROM ts)` names a column, not a scan
    val tableRef = ("(?i)(?<!DISTINCT )(?<!hour )(?<!day )(?<!month )" +
      "(?<!year )(?<!minute )(?<!second )(?<!epoch )(?<!dow )" +
      "\\bFROM\\s+([a-z_][a-z0-9_]*)").r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      tableRef.findAllMatchIn(sql).map(_.group(1).toLowerCase).foreach { t =>
        // CTE names and subquery aliases resolve before views; only flag
        // identifiers that are neither known tables nor defined in-query
        val defined =
          s"(?i)\\b$t\\s+AS\\s*(MATERIALIZED\\s*)?\\(".r
            .findFirstIn(sql).isDefined ||
          sql.toLowerCase.contains(s"$t(")
        assert(known.contains(t) || defined,
          s"$name references unknown table '$t'")
      }
    }
  }
}
