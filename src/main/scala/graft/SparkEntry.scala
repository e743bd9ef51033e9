package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Driver contract: the query board as the two name-keyed maps that
  * Verify, Bench, the tools and clifbench read. Both are views over
  * [[graft.queries.Registry]], where each query's builder, DuckDB
  * oracle and concept sit side by side in one per-family file under
  * `graft/queries/`. */
object SparkEntry {

  /** Builder per query name: `(session, sfDir) => result`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** DuckDB SQL per query name, for the hash-compare gate. */
  val oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
