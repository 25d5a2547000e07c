package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: its name, the wrapper that builds the
  * Spark result from a scale-factor directory, and the DuckDB SQL that
  * states the same result over the same parquet tables. Column names
  * must match exactly: the driver compares values after sorting columns
  * by name. Each operator module declares its own `queries: Seq[Query]`
  * as a `def`: a strict `val` that interpolates a helper `val` declared
  * below it in the same object would read `null`.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)
