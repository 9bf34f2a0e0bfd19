package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SQL registration contract for the custom expressions. */
class GraftFunctionsSpec extends SparkSpec {

  test("graft_dot usable from SQL after registration; matches Column API") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
    // null array propagates null
    val n = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d")
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("extensions class injects without error and registers the same list") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // builder-path smoke: no throw
    assert(GraftFunctions.all.map(_._1) ==
      Seq("graft_dot", "graft_sign_bands", "graft_kmv_distinct", "graft_hll",
        "graft_quantile_sketch"))
  }

  test("register on the certified session replaces no function") {
    val registry = spark.sessionState.functionRegistry
    def entries = GraftFunctions.all.map { case (name, _, _) =>
      registry.lookupFunction(FunctionIdentifier(name))
    }
    val before = entries
    assert(before.forall(_.isDefined), "graft.Session installs every graft function")
    GraftFunctions.register(spark)
    // ExpressionInfo has reference equality: a replaced entry is a new object
    assert(entries.zip(before).forall { case (a, b) => a.get eq b.get })
  }

  test("graft_sign_bands usable from SQL; geometry must be literal") {
    val r = spark.sql(
      "SELECT graft_sign_bands(array(1.0d, -2.0d, 3.0d, 0.5d), 42L, 2, 4, 4) AS p")
      .collect()(0).getSeq[Long](0)
    assert(r.size == 2 && r.forall(p => p >= 0 && p < 16))
    // matches the Column API for the same geometry
    import spark.implicits._
    val c = Seq(Tuple1(Array(1.0, -2.0, 3.0, 0.5))).toDF("v")
      .select(graft.functions.VectorExpressions.signBandPatterns(
        $"v".cast("array<double>"), 42L, 2, 4, 4))
      .collect()(0).getSeq[Long](0)
    assert(r == c)
    intercept[Exception](spark.sql(
      "SELECT graft_sign_bands(array(1.0d), 42L, 2, 1 + 1, 4)").collect())
  }

  test("graft_dot propagates null array elements (codegen and interpreted)") {
    // codegen path (projection over a literal-free plan)
    import spark.implicits._
    val df = Seq(
      (Array[java.lang.Double](1.0, null, 3.0), Array[java.lang.Double](1.0, 1.0, 1.0)),
      (Array[java.lang.Double](1.0, 2.0, 3.0), Array[java.lang.Double](1.0, 1.0, 1.0))
    ).toDF("a", "b")
    val rows = df.selectExpr("graft_dot(a, b) AS d").collect()
    assert(rows(0).isNullAt(0), "null element must propagate null")
    assert(rows(1).getDouble(0) == 6.0)
    // interpreted/constant-folded path
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS d")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("graft_dot arity is enforced") {
    intercept[Exception](spark.sql("SELECT graft_dot(array(1.0d))").collect())
  }

  test("graft_dot rejects non-double arrays at analysis time") {
    // int arrays would silently produce garbage via getDouble reinterpretation
    intercept[Exception](spark.sql("SELECT graft_dot(array(1, 2), array(3, 4))").collect())
    intercept[Exception](
      spark.sql("SELECT graft_dot(CAST(array(1.0) AS ARRAY<FLOAT>), array(1.0d))").collect())
  }
}
