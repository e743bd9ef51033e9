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
