package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite, the certified
  * [[Session]] at test size (4 threads over sf0.001). */
trait SparkSpec extends AnyFunSuite {
  lazy val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Session.start(4, sf, "spec")
}
