package graft.keys

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query key: its name, its DuckDB oracle and its Spark build,
  * declared together in the file of its family (`<Family>Keys.scala`,
  * chosen by the name's letter prefix). A key without an oracle does not
  * compile. The oracle is a thunk, formatted only when
  * `SparkEntry.oracleSql` is read, so resolving a build never formats
  * SQL. */
final case class Key(name: String, oracle: () => String)(
    val build: (SparkSession, String) => DataFrame)
