package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2: one entry per
  * implemented operator, each with a DuckDB oracle in `oracleSql` (omissions
  * are justified at the definition site in the owning ops module).
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 minimum slice) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.StreamOps.tumblingCounts(spark, "/root/testdata/sf0.001")

  /** Every ops module's (queries, oracles) pair. A key belongs to exactly
    * one module: [[merged]] refuses a key that two modules define. */
  private def modules
      : Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ops.StreamOps.queries -> ops.StreamOps.oracles,
    ops.Relational.queries -> ops.Relational.oracles,
    ops.Joins.queries -> ops.Joins.oracles,
    ops.Scalars.queries -> ops.Scalars.oracles,
    ops.Analytics.queries -> ops.Analytics.oracles,
    ops.Llm.queries -> ops.Llm.oracles,
    ops.Llm2.queries -> ops.Llm2.oracles,
    ops.Llm3.queries -> ops.Llm3.oracles,
    ops.Llm4.queries -> ops.Llm4.oracles,
    ops.Llm5.queries -> ops.Llm5.oracles,
    ops.Llm6.queries -> ops.Llm6.oracles,
    ops.Llm7.queries -> ops.Llm7.oracles,
    ops.Llm8.queries -> ops.Llm8.oracles,
    ops.Llm9.queries -> ops.Llm9.oracles,
    ops.Llm10.queries -> ops.Llm10.oracles,
    ops.Llm11.queries -> ops.Llm11.oracles,
    ops.Llm12.queries -> ops.Llm12.oracles,
    ops.Llm13.queries -> ops.Llm13.oracles,
    ops.Llm14.queries -> ops.Llm14.oracles,
    ops.Llm15.queries -> ops.Llm15.oracles,
    ops.Llm16.queries -> ops.Llm16.oracles,
    ops.Llm17.queries -> ops.Llm17.oracles,
    ops.Llm18.queries -> ops.Llm18.oracles,
    ops.Llm19.queries -> ops.Llm19.oracles,
    ops.Mm2.queries -> ops.Mm2.oracles,
    ops.Mm3.queries -> ops.Mm3.oracles,
    ops.Mm4.queries -> ops.Mm4.oracles,
    ops.Mm5.queries -> ops.Mm5.oracles,
    ops.Mm6.queries -> ops.Mm6.oracles,
    ops.Mm7.queries -> ops.Mm7.oracles,
    ops.Mm8.queries -> ops.Mm8.oracles,
    ops.Warehouse5.queries -> ops.Warehouse5.oracles,
    ops.Warehouse6.queries -> ops.Warehouse6.oracles,
    ops.Layout.queries -> ops.Layout.oracles,
    ops.Er.queries -> ops.Er.oracles,
    ops.Audit.queries -> ops.Audit.oracles,
    ops.Ml.queries -> ops.Ml.oracles,
    ops.Ml2.queries -> ops.Ml2.oracles,
    ops.Stats.queries -> ops.Stats.oracles,
    ops.Stats2.queries -> ops.Stats2.oracles,
    ops.Stats3.queries -> ops.Stats3.oracles,
    ops.Stats4.queries -> ops.Stats4.oracles,
    ops.Stats5.queries -> ops.Stats5.oracles,
    ops.Warehouse.queries -> ops.Warehouse.oracles,
    ops.Warehouse2.queries -> ops.Warehouse2.oracles,
    ops.Warehouse3.queries -> ops.Warehouse3.oracles,
    ops.Warehouse4.queries -> ops.Warehouse4.oracles,
    ops.Warehouse7.queries -> ops.Warehouse7.oracles)

  /** The union of `maps`, failing loudly, and naming the key, when two of
    * them define the same key — a silent override would drop one module's
    * query and oracle while the gate still reads N/N. */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = m.keySet.intersect(acc.keySet)
      require(dup.isEmpty,
        s"duplicate SparkEntry key(s): ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged(modules.map(_._2))
}
