package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf = "/root/testdata/sf0.001"

  /** The fixture tables at [[Sf]]: one `<name>.parquet` file each. */
  lazy val fixtureTables: Seq[String] =
    Option(new java.io.File(Sf).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted
}

object SparkSuite {
  lazy val session: SparkSession = Graft.session(4)
}
