package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SparkSessionExtensions wiring (plans/GraftExtensions.scala): function
  * injection + the analysis-time cartesian guardrail. Runs on a separate
  * SparkSession (same SparkContext) so the guard never interferes with the
  * plain sessions the driver and the other suites use. */
class ExtensionsSpec extends SparkTestBase {

  private lazy val ext: SparkSession = {
    val base = SparkTestSession.spark // ensures the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.builder(4).withExtensions(new plans.GraftExtensions).getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  test("injected graft_dot_product is available with no Catalog.register call") {
    val d = ext.sql(
      "SELECT graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(d === 11.0)
  }

  test("guard refuses an unbounded non-equi inner join at analysis time") {
    val a = ext.range(5000).toDF("x")
    val b = ext.range(5000).toDF("y")
    val e = intercept[Exception] {
      a.join(b, col("x") < col("y")).count()
    }
    assert(e.getMessage.contains("GRAFT_CARTESIAN_GUARD"), e.getMessage)
  }

  test("guard refuses a bare cross join of two unbounded sides") {
    val a = ext.range(5000).toDF("x")
    val b = ext.range(5000).toDF("y")
    val e = intercept[Exception] { a.crossJoin(b).count() }
    assert(e.getMessage.contains("GRAFT_CARTESIAN_GUARD"), e.getMessage)
  }

  test("guard allows equi joins and provably-small pair joins") {
    val a = ext.range(5000).toDF("x")
    val b = ext.range(5000).toDF("y")
    // equi join: fine
    assert(a.join(b, col("x") === col("y")).count() === 5000)
    // bounded side (limit → maxRows): replication is provably safe
    assert(a.crossJoin(b.limit(3)).count() === 15000)
    // the TF-IDF shape: cross join against a global-aggregate scalar
    val n = a.agg(count(lit(1)).as("n"))
    assert(a.crossJoin(n).count() === 5000)
  }

  test("guard accepts comma-join SQL whose equality lives in WHERE (pre-pushdown shape)") {
    ext.range(5000).toDF("x").createOrReplaceTempView("guard_a")
    ext.range(5000).toDF("y").createOrReplaceTempView("guard_b")
    val n = ext.sql("SELECT count(*) FROM guard_a, guard_b WHERE x = y")
      .head().getLong(0)
    assert(n === 5000)
  }

  test("guard three-table comma join: adjacent FROM order accepted, non-adjacent refused") {
    ext.range(5000).toDF("x").createOrReplaceTempView("g3a")
    ext.range(5000).toDF("y").createOrReplaceTempView("g3b")
    ext.range(5000).toDF("z").createOrReplaceTempView("g3c")
    // left-deep in FROM order: (a ⋈ b) linked by x=y, then ⋈ c linked by y=z
    val n = ext.sql("SELECT count(*) FROM g3a, g3b, g3c WHERE x = y AND y = z")
      .head().getLong(0)
    assert(n === 5000)
    // FROM a, c, b builds (a × c) first and no single WHERE equality links
    // x-to-z — refused by design (the documented conservative FROM-order
    // bias in CartesianGuard's scaladoc): reorder the FROM list or use
    // explicit JOIN ... ON.
    val e = intercept[Exception] {
      ext.sql("SELECT count(*) FROM g3a, g3c, g3b WHERE x = y AND y = z").collect()
    }
    assert(e.getMessage.contains("GRAFT_CARTESIAN_GUARD"), e.getMessage)
  }

  test("injected function rejects wrong arity with a clear message") {
    val e = intercept[Exception] {
      ext.sql("SELECT graft_dot_product(array(1.0d))").collect()
    }
    assert(e.getMessage.contains("exactly 2 arguments"), e.getMessage)
  }

  test("both sessions share one SQL-function list with its arity check") {
    // the extension injects every kernel, not only graft_dot_product
    val n = ext.sql("SELECT graft_sorted_intersect_size(array(1L, 2L, 5L), " +
      "array(2L, 3L, 5L)) AS n").head().getLong(0)
    assert(n === 2L)
    // Catalog.register applies the same arity check: a third argument is
    // refused, not silently dropped
    val plain = SparkTestSession.spark.newSession()
    Catalog.register(plain, sf0001)
    val e = intercept[Exception] {
      plain.sql("SELECT graft_dot_product(array(1.0d), array(2.0d), " +
        "array(3.0d))").collect()
    }
    assert(e.getMessage.contains("exactly 2 arguments"), e.getMessage)
  }

  test("base sessions stay unguarded (driver contract unaffected)") {
    val base = SparkTestSession.spark
    val a = base.range(5000).toDF("x")
    val b = base.range(5000).toDF("y")
    // the exact join the extension refuses above; plain session permits it
    assert(a.join(b, col("x") < col("y")).limit(5).count() === 5)
  }
}
