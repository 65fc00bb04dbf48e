package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = Graft.session(4)
}
