package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the certified [[Session]] at test size
  * (4 threads over sf0.001), started once per test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val sf: String = SparkSpec.sf

  lazy val spark: SparkSession = SparkSpec.spark

  /** Run `body` with the shared session's conf `kv` set, then restore each
    * key's old value, or unset a key that had none. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Session.start(4, sf, "spec")
}
