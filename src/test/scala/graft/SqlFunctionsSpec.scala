package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The SQL surface of the native expression/aggregate tier: every
  * registered graft_* function must be callable from `spark.sql` and
  * agree with its Scala Column-API twin.
  */
class SqlFunctionsSpec extends SparkSpec {

  private lazy val sql: SparkSession = { GraftFunctions.register(spark); spark }

  test("graft_dot in SQL matches the Column API") {
    import spark.implicits._
    Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b").createOrReplaceTempView("sqlspec_vec")
    val viaSql = sql.sql("SELECT graft_dot(a, b) AS d FROM sqlspec_vec")
      .head().getDouble(0)
    assert(viaSql == 32.0)
  }

  test("graft_poly_hash / graft_min_gram_hash / graft_gram_codes / intersect in SQL") {
    import spark.implicits._
    Seq(("abcdef", "abcdxy")).toDF("s1", "s2")
      .createOrReplaceTempView("sqlspec_txt")
    val r = sql.sql(
      """SELECT graft_poly_hash(s1) AS ph,
        |  graft_min_gram_hash(s1, 8) AS mg,
        |  graft_gram_codes(s1, 3) AS g1,
        |  graft_sorted_intersect_count(graft_gram_codes(s1, 3),
        |                               graft_gram_codes(s2, 3)) AS ic
        |FROM sqlspec_txt""".stripMargin).head()
    // twins via the Column API
    val t = spark.table("sqlspec_txt").select(
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.PolyHashExpr(
          org.apache.spark.sql.GraftBridge.expression(col("s1")))).as("ph"),
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.MinGramHashExpr(
          org.apache.spark.sql.GraftBridge.expression(col("s1")), 8)).as("mg"))
      .head()
    assert(r.getLong(0) == t.getLong(0) && r.getLong(1) == t.getLong(1))
    // "abcdef" has 4 distinct 3-grams; "abcd" shares exactly 2 of them
    assert(r.getSeq[Long](2).size == 4)
    assert(r.getLong(3) == 2L)
  }

  test("graft_hll and graft_cms aggregates in SQL") {
    spark.range(0, 1000).selectExpr("id % 100 AS k", "CAST(id AS STRING) AS v")
      .createOrReplaceTempView("sqlspec_agg")
    val r = sql.sql(
      """SELECT graft_hll(k) AS d_default, graft_hll(k, 14) AS d14,
        |  graft_cms(k, 7L) AS f_default, graft_cms(k, 7L, 5, 64) AS f64
        |FROM sqlspec_agg""".stripMargin).head()
    assert(r.getLong(0) == 100L, "HLL small-range regime is exact at n=100")
    assert(r.getLong(1) == 100L)
    assert(r.getLong(2) == 10L, "CMS exact when collision-free")
    assert(r.getLong(3) >= 10L, "CMS never undercounts")
  }

  test("graft_cms via SQL still rejects a non-constant query value") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      sql.sql("SELECT graft_cms(k, k) FROM sqlspec_agg").collect()
    }
    assert(e.getMessage.contains("foldable"))
  }

  test("bad arity / non-literal sketch params give clear errors") {
    val e1 = intercept[Exception] {
      sql.sql("SELECT graft_dot(array(1.0))").collect()
    }
    assert(e1.getMessage.contains("argument"))
    val e2 = intercept[Exception] {
      sql.sql("SELECT graft_hll(id, CAST(id AS INT)) FROM range(3)").collect()
    }
    assert(e2.getMessage.contains("literal"))
  }

  test("GraftExtensions injectFunction registers every graft function") {
    // spark.sql.extensions is a static conf read at SparkContext
    // construction, so exercise the injection against a fresh registry
    // (the exact mechanism withExtensions sessions run through)
    val reg = org.apache.spark.sql.GraftBridge.injectedFunctionRegistry(
      new graft.plans.GraftExtensions())
    GraftFunctions.all.foreach { case (name, _, _) =>
      assert(reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"$name missing from the injected registry")
    }
    // drive one injected builder end-to-end: build the aggregate from
    // the registry and evaluate it on a DataFrame
    val built = reg.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_hll"),
      Seq(org.apache.spark.sql.GraftBridge.expression(col("id"))))
    val agg = built.asInstanceOf[graft.functions.HllAggregate]
      .toAggregateExpression()
    val est = spark.range(0, 50)
      .agg(org.apache.spark.sql.GraftBridge.column(agg)).head().getLong(0)
    assert(est == 50L)
    // the same installer carries the as-of optimizer rules, in the
    // order AsOfJoin.install adds them: pushdown before pruning
    val rules = org.apache.spark.sql.GraftBridge.injectedOptimizerRules(
      new graft.plans.GraftExtensions(), spark)
    assert(rules == Seq(graft.plans.PushAsOfJoinFilters, graft.plans.PruneAsOfJoinColumns))
  }
}
