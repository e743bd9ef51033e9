package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board query: `build` runs it through the graft operator library
  * over the driver's synthetic tables in `dir` (TESTDATA.md), and
  * `oracle` is DuckDB SQL over the same parquet tables that must return
  * the same rows (tools/check.py hash-compares the two). `concept` is
  * the greppable phrase CATALOG.md lists, so a second query for an
  * existing statistic is easy to spot.
  *
  * Cross-engine determinism rules used throughout the families:
  *  - money/double sums go through exact decimal(18,2) accumulation, then
  *    ONE cast to double — immune to FP reduction order;
  *  - every computed integer is cast to an explicit width (DuckDB returns
  *    BIGINT where Spark returns INT, e.g. year(), length());
  *  - DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  *    replace-all semantics;
  *  - window orderings always carry a unique tiebreak column.
  *
  * One spelling per oracle replay: a SQL chain that two or more oracles
  * replay is one `private` (or `private[queries]`) fragment in the
  * family that owns the operator, interpolated where it is used
  * (`s"""WITH $Frag, ..."""`). A fragment takes a parameter only where
  * its copies differ in a CTE name or a literal, and must be defined
  * above every val that uses it (object vals initialize in order).
  * Moving a chain into a fragment may change an oracle's SQL only in
  * whitespace (line breaks, indentation, spaces between tokens): the
  * refactoring gate dumps `SparkEntry.oracleSql` before and after and
  * compares each entry with all whitespace removed, so a fragment
  * matches its copies token for token. CatalogSpec fails when 15
  * consecutive non-blank lines recur in two literals, and when a
  * literal spells out the round-6 cosine chain that
  * `EmbeddingQueries.cos` holds. Margin hazard: the outer literal's
  * `stripMargin` runs over the interpolated text again, so a fragment
  * line that begins with `|` after its indentation (a leading SQL
  * `||`) would lose it; concatenate such a fragment instead. A
  * literal with a backslash (`'\s+'`) interpolates with `raw`, which
  * keeps escapes as written.
  */
final case class Query(name: String, concept: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String) {
  require(concept.trim.nonEmpty, s"query $name: blank concept")
  require(oracle.trim.nonEmpty, s"query $name: blank oracle")
}

/** The board: every family's queries, concatenated in one place and
  * checked once at load. */
object Registry {

  /** (family name, its queries), in catalog order. */
  val families: Seq[(String, Seq[Query])] = Seq(
    "relational" -> RelationalQueries.queries,
    "joins" -> JoinQueries.queries,
    "analytics" -> AnalyticsQueries.queries,
    "windows" -> WindowQueries.queries,
    "embeddings" -> EmbeddingQueries.queries,
    "graphs" -> GraphQueries.queries,
    "text" -> TextQueries.queries,
    "media" -> MediaQueries.queries,
    "storage" -> StorageQueries.queries,
    "clif" -> ClifQueries.queries)

  val all: Seq[Query] = unique(families.flatMap(_._2))

  /** `qs` unchanged, once no name appears in it twice. */
  def unique(qs: Seq[Query]): Seq[Query] = {
    val names = qs.map(_.name)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty, s"duplicate query name: ${dups.mkString(", ")}")
    qs
  }
}
