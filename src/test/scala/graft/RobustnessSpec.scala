package graft

/** Empty-input robustness: at warehouse scale, empty partitions, empty
  * date ranges and freshly-created tables are routine — every declared
  * query must plan and execute (to an empty or degenerate result) against
  * schema-identical EMPTY fixtures, never throw. Catches head()-on-empty,
  * null-aggregate and sequence(null,null) style bugs. */
class RobustnessSpec extends SparkTestBase {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val tables = Catalog.TableNames :+ "events"
    tables.foreach { t =>
      // limit(0) preserves the schema exactly as our loaders see it
      Tables.table(spark, sf0001, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every declared query executes against fully empty tables") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, emptyDir).count() // force full execution
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on empty input:\n${failures.mkString("\n")}")
  }

  test("connected components on the forced distributed path return no rows on empty input") {
    val s = spark
    import s.implicits._
    // the sweep above only takes the driver union-find (0 edges < cap)
    val noEdges = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(ops.Llm3.componentLabelsDf(spark, noEdges, parallelism = 4).count() === 0)
    assert(ops.Analytics.connectedComponentsAt(spark, emptyDir, parallelism = 4).count() === 0)
    assert(ops.Llm3.dedupClustersAt(spark, emptyDir, parallelism = 4).count() === 0)
  }

  test("loading events leaves the session conf untouched") {
    val fresh = spark.newSession()
    val key = org.apache.spark.sql.internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key
    val ev = Tables.events(fresh, sf0001)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(fresh.conf.getAll.get(key).isEmpty, s"$key was set by the loader")
  }

  test("a timestamp[ns] events file fails to load instead of being misread") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-ns").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704067200000000000L))
    finally w.close()
    val e = intercept[Exception](Tables.events(spark.newSession(), dir).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("PARQUET_TYPE_ILLEGAL")), e.toString)
  }
}
