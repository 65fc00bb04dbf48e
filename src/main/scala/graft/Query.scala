package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: `build` makes a lazy DataFrame over the fixture
  * parquet in `sfDir`, and `oracleSql` is the DuckDB SQL that must give
  * the same rows on the same parquet (the driver's hash compare).
  */
final case class Query(build: (SparkSession, String) => DataFrame, oracleSql: String)
