package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one session per suite (lazy, reused
  * across suites within the forked test JVM via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Bench.session("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"
}
