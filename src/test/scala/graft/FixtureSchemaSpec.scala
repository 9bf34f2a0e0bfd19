package graft

import org.apache.spark.sql.types._

/** Canary for driver-side fixture drift (round-6 postmortem).
  *
  * The driver regenerates `/root/testdata` between rounds, and in round 6 the
  * physical encoding of `events.ts` changed (TIMESTAMP(NANOS) → INT64
  * TIMESTAMP(MICROS, NTZ)) silently breaking 46 queries and 10 suites. This
  * spec pins every physical type the engine assumes, per table, across all
  * three scale factors — so the next regeneration breaks ONE named test with
  * a readable diff instead of half the gate.
  *
  * Schema-only reads: parquet footers, no data scan — cheap even at sf0.1.
  */
class FixtureSchemaSpec extends SparkSpec {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** Types the loaders and queries rely on. Timestamp columns may arrive as
    * TZ or NTZ micros — both are accepted everywhere via Catalyst casts — so
    * they're asserted as "some micros timestamp", not one concrete class. */
  private def isTimestampish(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private val expected: Map[String, Map[String, DataType => Boolean]] = Map(
    "region" -> Map("r_regionkey" -> (_ == IntegerType), "r_name" -> (_ == StringType)),
    "nation" -> Map("n_nationkey" -> (_ == IntegerType), "n_name" -> (_ == StringType),
      "n_regionkey" -> (_ == IntegerType)),
    "customer" -> Map("c_custkey" -> (_ == LongType), "c_name" -> (_ == StringType),
      "c_nationkey" -> (_ == IntegerType), "c_acctbal" -> (_ == DoubleType),
      "c_mktsegment" -> (_ == StringType)),
    "supplier" -> Map("s_suppkey" -> (_ == LongType), "s_name" -> (_ == StringType),
      "s_nationkey" -> (_ == IntegerType), "s_acctbal" -> (_ == DoubleType)),
    "part" -> Map("p_partkey" -> (_ == LongType), "p_name" -> (_ == StringType),
      "p_brand" -> (_ == StringType), "p_type" -> (_ == StringType),
      "p_size" -> (_ == IntegerType), "p_retailprice" -> (_ == DoubleType)),
    "orders" -> Map("o_orderkey" -> (_ == LongType), "o_custkey" -> (_ == LongType),
      "o_orderstatus" -> (_ == StringType), "o_totalprice" -> (_ == DoubleType),
      "o_orderdate" -> isTimestampish, "o_orderpriority" -> (_ == StringType)),
    "lineitem" -> Map("l_orderkey" -> (_ == LongType), "l_partkey" -> (_ == LongType),
      "l_suppkey" -> (_ == LongType), "l_linenumber" -> (_ == IntegerType),
      "l_quantity" -> (_ == DoubleType), "l_extendedprice" -> (_ == DoubleType),
      "l_discount" -> (_ == DoubleType), "l_tax" -> (_ == DoubleType),
      "l_returnflag" -> (_ == StringType), "l_linestatus" -> (_ == StringType),
      "l_shipdate" -> isTimestampish),
    // events.ts: Tables.events adapts to TIMESTAMP / TIMESTAMP_NTZ / INT64
    // nanos — any other encoding is a loader change, not a tweak
    "events" -> Map("event_id" -> (_ == LongType),
      "ts" -> (dt => isTimestampish(dt) || dt == LongType),
      "user_id" -> (_ == LongType), "event_type" -> (_ == StringType),
      "value" -> (_ == DoubleType), "props" -> (_ == StringType)),
    "documents" -> Map("doc_id" -> (_ == LongType), "text" -> (_ == StringType),
      "lang" -> (_ == StringType), "source" -> (_ == StringType),
      "n_chars" -> (_ == LongType)),
    "embeddings" -> Map("vec_id" -> (_ == LongType),
      "embedding" -> (dt => dt == ArrayType(FloatType) || dt == ArrayType(FloatType, containsNull = true)),
      "label" -> (_ == IntegerType))
  )

  for (sfDir <- sfs; (tbl, cols) <- expected.toSeq.sortBy(_._1)) {
    test(s"$tbl @ ${sfDir.split('/').last}: physical types match engine assumptions") {
      // go through Tables.table (the real read path) under the certified
      // session, so conf-dependent inference is exercised as queries see it
      val schema = Tables.table(spark, sfDir, tbl).schema
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      for ((col, ok) <- cols) {
        val dt = byName.getOrElse(col, fail(
          s"FIXTURE DRIFT: $sfDir/$tbl.parquet lost column '$col'. " +
            s"Present: ${schema.fieldNames.mkString(", ")}"))
        assert(ok(dt),
          s"FIXTURE DRIFT: $sfDir/$tbl.parquet column '$col' is now $dt — " +
            "update Tables loaders + oracle SQL together (see round-6 events.ts episode)")
      }
    }
  }

  test("Tables.events normalizes ts to TimestampType at every SF") {
    for (sfDir <- sfs) {
      val dt = Tables.events(spark, sfDir).schema("ts").dataType
      assert(dt == TimestampType, s"$sfDir: Tables.events ts is $dt, expected TimestampType")
    }
  }
}
