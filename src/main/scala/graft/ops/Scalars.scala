package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function families (SURVEY.md §2.H): string, date/time, math,
  * JSON, array higher-order. Each family gets one umbrella query; the full
  * function list is exercised in the ScalaTest suites.
  *
  * All expressions here are Spark built-ins → whole-stage codegen'd, no UDF
  * optimization barriers; filters on base columns still push to parquet.
  */
object Scalars {

  /** H1 — string functions over documents: per lang, docs containing
    * 'merge', average length, distinct sources. */
  def scalarStringDocs(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .where(instr(lower(trim(col("text"))), "merge") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           lavg(length(col("text"))).as("avg_len"),
           countDistinct(col("source")).as("n_sources"),
           min(substring(col("text"), 1, 10)).as("min_prefix"))
      .orderBy("lang")

  /** H2 — date/time bucketing: orders per (year, month). */
  def scalarDateOrders(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("y", "m")

  /** H3 — math functions: value transforms bucketed per event type. */
  def scalarMathEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        dsum(round(sqrt(abs(col("value"))), 6)).as("sum_sqrt"),
        dsum(round(log(col("value") + 1), 6)).as("sum_log1p"),
        dsum(round(pow(col("value"), lit(2)), 6)).as("sum_sq"),
        sum(pmod(floor(col("value")), lit(7))).as("sum_mod7"))
      .orderBy("event_type")

  /** H4 — JSON: extract props.k, group by k mod 10. */
  def scalarJsonProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("value"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .orderBy("k_mod")

  /** H5 — array higher-order functions: L2 norm of each embedding via
    * transform+aggregate (sequential fold → deterministic), avg per label. */
  def scalarArrayEmbeddingNorm(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("norm",
        sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), davg(col("norm")).as("avg_norm"),
           min(size(col("embedding"))).as("dim"))
      .orderBy("label")


  val entries: Map[String, Op] = Map(
    "scalar_string_docs" -> Op(scalarStringDocs,
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         MIN(substr(text, 1, 10)) AS min_prefix
         FROM documents
         WHERE strpos(lower(trim(text)), 'merge') > 0
         GROUP BY 1 ORDER BY 1"""),
    "scalar_date_orders" -> Op(scalarDateOrders,
      s"""SELECT CAST(year(o_orderdate) AS INT) AS y,
          CAST(month(o_orderdate) AS INT) AS m,
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          ${dsumSql("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),
    "scalar_math_events" -> Op(scalarMathEvents,
      s"""SELECT event_type,
          ${dsumSql("round(sqrt(abs(value)), 6)")} AS sum_sqrt,
          ${dsumSql("round(ln(value + 1), 6)")} AS sum_log1p,
          ${dsumSql("round(pow(value, 2), 6)")} AS sum_sq,
          CAST(SUM(CAST(floor(value) AS BIGINT) % 7) AS BIGINT) AS sum_mod7
          FROM events GROUP BY 1 ORDER BY 1"""),
    "scalar_json_props" -> Op(scalarJsonProps,
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(value) AS DOUBLE) AS avg_value
         FROM events GROUP BY 1 ORDER BY 1"""),
    "scalar_array_embedding_norm" -> Op(scalarArrayEmbeddingNorm,
      s"""SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(${normSql("embedding")} AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_norm,
         CAST(MIN(len(embedding)) AS INT) AS dim
         FROM embeddings GROUP BY 1 ORDER BY 1"""),
  )
}
