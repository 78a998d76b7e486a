package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object ops {

  /** A key's build: session and star-schema directory in, lazy result out. */
  type Q = (SparkSession, String) => DataFrame

  /** One declared query key: its build and the DuckDB SQL whose rows the
    * build's result must hash-match. */
  final case class Key(build: Q, oracle: String)
}
