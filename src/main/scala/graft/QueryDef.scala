package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checkable operator query (SURVEY.md §2 inventory row).
  *
  * @param name   stable key; shows up in CORRECTNESS_r{N}.json
  * @param fn     the Spark implementation over a testdata sf dir; it
  *               returns a lazy frame and pins what it caches through
  *               [[Pins]], whose scaladoc holds the lifecycle rule (the
  *               runner's scope around `fn` + consume releases the pins)
  * @param oracle equivalent DuckDB SQL over the same tables; None → the
  *               driver records a weaker rows-only check (used for ops that
  *               ANSI SQL cannot express, e.g. iterative graph search)
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def defs: Seq[QueryDef]
}
