package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the graft custom expressions, so
  * `spark.sql("... graft_dot(a, b) ...")` works alongside the Column API.
  *
  * Installed at session build by `spark.sql.extensions=graft.functions.GraftExtensions`,
  * a row of [[graft.Session]]'s table (every `newSession()` gets them too).
  * A session built elsewhere calls the idempotent [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftFunctions {

  /** (name, info, builder) for every graft SQL function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[DotProductDouble].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot expects exactly 2 arguments")
        DotProductDouble(children.head, children(1))
      }),
    // graft_sign_bands(vec, seed, bands, width, dims): sign-LSH band
    // patterns; the geometry arguments must be foldable integer literals
    ("graft_sign_bands",
      new ExpressionInfo(classOf[SignBandPatterns].getName, "graft_sign_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "graft_sign_bands expects (vec, seed, bands, width, dims)")
        def lit(e: Expression, what: String): Long =
          integerLiteral("graft_sign_bands", what, e)
        SignBandPatterns(children.head, lit(children(1), "seed"),
          lit(children(2), "bands").toInt, lit(children(3), "width").toInt,
          lit(children(4), "dims").toInt)
      }),
    // graft_kmv_distinct(id, k): mergeable KMV distinct-count estimate;
    // k must be a foldable integer literal
    ("graft_kmv_distinct",
      new ExpressionInfo(classOf[KmvDistinctAgg].getName, "graft_kmv_distinct"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_kmv_distinct expects (value, k)")
        val k = integerLiteral("graft_kmv_distinct", "k", children(1)).toInt
        KmvDistinctAgg(children.head, k).toAggregateExpression()
      }),
    // graft_hll(id): mergeable 256-register HyperLogLog sketch; returns
    // the exact integer pair struct(v_zero, s_scaled)
    ("graft_hll",
      new ExpressionInfo(classOf[HllRegistersAgg].getName, "graft_hll"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_hll expects (value)")
        HllRegistersAgg(children.head).toAggregateExpression()
      }),
    // graft_quantile_sketch(uid, value, k): mergeable bounded priority
    // sample with quantile reads; k must be a foldable integer literal
    ("graft_quantile_sketch",
      new ExpressionInfo(classOf[QuantileSketchAgg].getName,
        "graft_quantile_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_quantile_sketch expects (uid, value, k)")
        val k = integerLiteral("graft_quantile_sketch", "k", children(2)).toInt
        QuantileSketchAgg(children.head, children(1), k).toAggregateExpression()
      })
  )

  /** The value of `fn`'s argument `what`, which must be a foldable
    * integer literal. */
  private def integerLiteral(fn: String, what: String, e: Expression): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  /** Register the graft functions the session's registry does not hold
    * yet, so a call on a [[graft.Session]] replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, _, builder) <- all if !registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
