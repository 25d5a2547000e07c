package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analysis, DataOps, GraphOps, KgOps, Relational}

/** Driver contract (SURVEY.md §7). Every implemented operator from
  * SURVEY.md §2 is a [[Query]] declared beside its wrapper in one of the
  * five operator modules, with its DuckDB oracle; [[queries]] and
  * [[oracleSql]] are the name-keyed views of [[all]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every registered query; a name declared twice fails here. */
  lazy val all: Seq[Query] = {
    val qs = Relational.queries ++ Analysis.queries ++ GraphOps.queries ++
      KgOps.queries ++ DataOps.queries
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables.
    */
  def oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
