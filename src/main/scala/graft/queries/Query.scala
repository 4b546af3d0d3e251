package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: `build` makes the oracle-shaped DataFrame from a
  * scale-factor directory, and `oracleSql` is the equivalent DuckDB SQL
  * over the same parquet tables — `None` only for a rows-only query with
  * no SQL twin. Each family exposes its queries as one
  * `registry: Map[String, Query]`, so an oracle cannot exist without its
  * builder.
  */
final case class Query(
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String])
