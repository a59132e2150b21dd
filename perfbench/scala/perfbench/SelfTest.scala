package perfbench

import org.apache.spark.sql.functions._

/** Checks that [[Digest]] ignores row order and partitioning but not
  * content. Prints `digest-selftest ok` or exits non-zero. Run by
  * perfbench/test_perfbench.py. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = argv.headOption.getOrElse(".bench_build/selftest")
    val spark = Env.session(2, work)
    try {
      val df = spark.range(0, 5000).select(
        col("id"), (col("id") % 7).cast("int").as("k"), (col("id") / 3.0).as("x"),
        concat(lit("s"), col("id")).as("s"), array(col("id"), col("id") + 1).as("arr"),
        map(lit("a"), col("id")).as("m"), struct(col("id").as("a"), lit(1.5).as("b")).as("st"))
        .withColumn("dup", col("k"))
      val base = Digest.of(Digest.frame(df))
      val orders = Seq(
        df.orderBy(rand(7)), df.orderBy(col("id").desc), df.repartition(5, col("k")),
        df.coalesce(1).orderBy(col("s")))
      orders.foreach { o =>
        val d = Digest.of(Digest.frame(o))
        require(d == base, s"digest depends on row order: $d vs $base")
      }
      val changed = Digest.of(Digest.frame(df.withColumn("x",
        when(col("id") === 4321, col("x") + 1).otherwise(col("x")))))
      require(changed != base, "digest missed a changed value")
      val dropped = Digest.of(Digest.frame(df.where(col("id") =!= 17)))
      require(dropped != base, "digest missed a dropped row")
      val duplicated = Digest.of(Digest.frame(df.union(df.where(col("id") === 17))))
      require(duplicated != base, "digest missed a duplicated row")
      println("digest-selftest ok")
    } finally spark.stop()
  }
}
