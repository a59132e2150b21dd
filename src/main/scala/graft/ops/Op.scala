package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator of the registry: its Spark kernel `run(spark, sfDir)` and
  * the DuckDB SQL over the same parquet tables that hash-gates it. */
final case class Op(run: (SparkSession, String) => DataFrame, oracle: String)
