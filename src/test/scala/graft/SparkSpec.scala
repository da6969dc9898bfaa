package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/sf0.001"
}

object SparkSpec {
  /** GraftConf's posture (the one Verify checks) on a 4-core run shape. */
  lazy val session: SparkSession = GraftConf.builder("graft-test", 4)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
}
