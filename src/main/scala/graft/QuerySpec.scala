package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the engine's contract: its name, how it runs over
  * `(session, sfDir)`, and how its output is checked.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    check: QuerySpec.Check)

object QuerySpec {
  sealed trait Check

  /** Compared row-for-row against this DuckDB SQL. */
  final case class Oracle(sql: String) extends Check

  /** Rows-only check with no oracle; `reason` says why none can be independent. */
  final case class RowsOnly(reason: String) extends Check
}
