package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator registry that `graft.Verify` and `graft.Bench` run — see
  * SURVEY.md §7.
  *
  * [[registry]] is the operator inventory of SURVEY.md §2: one entry per
  * implemented operator, each naming its Spark kernel and the DuckDB oracle
  * that hash-gates it. `queries` and `oracleSql` are its two views.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 minimum slice) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.StreamOps.tumblingCounts(spark, "/root/testdata/sf0.001")

  /** Every ops module's registry table. A key belongs to exactly one
    * module: [[merged]] refuses a key that two modules define. */
  private def modules: Seq[Map[String, ops.Op]] = Seq(
    ops.StreamOps.entries, ops.Relational.entries, ops.Joins.entries,
    ops.Scalars.entries, ops.Analytics.entries, ops.Llm.entries,
    ops.Llm2.entries, ops.Llm3.entries, ops.Llm4.entries, ops.Llm5.entries,
    ops.Llm6.entries, ops.Llm7.entries, ops.Llm8.entries, ops.Llm9.entries,
    ops.Llm10.entries, ops.Llm11.entries, ops.Llm12.entries, ops.Llm13.entries,
    ops.Llm14.entries, ops.Llm15.entries, ops.Llm16.entries, ops.Llm17.entries,
    ops.Llm18.entries, ops.Llm19.entries, ops.Mm2.entries, ops.Mm3.entries,
    ops.Mm4.entries, ops.Mm5.entries, ops.Mm6.entries, ops.Mm7.entries,
    ops.Mm8.entries, ops.Warehouse5.entries, ops.Warehouse6.entries,
    ops.Layout.entries, ops.Er.entries, ops.Audit.entries, ops.Ml.entries,
    ops.Ml2.entries, ops.Stats.entries, ops.Stats2.entries, ops.Stats3.entries,
    ops.Stats4.entries, ops.Stats5.entries, ops.Warehouse.entries,
    ops.Warehouse2.entries, ops.Warehouse3.entries, ops.Warehouse4.entries,
    ops.Warehouse7.entries)

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

  /** One entry per implemented operator from SURVEY.md §2, merged once. */
  lazy val registry: Map[String, ops.Op] = merged(modules)

  /** Each key's Spark kernel. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, op) => k -> op.run }

  /** Each key's ANSI SQL, runnable by DuckDB on the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (k, op) => k -> op.oracle }
}
