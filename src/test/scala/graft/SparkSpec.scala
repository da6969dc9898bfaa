package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/sf0.001"

  /** What the shared context holds: its persisted RDDs' ids and the
    * number of CacheManager entries.
    */
  def contextHolds(): (Set[Int], Int) = (
    spark.sparkContext.getPersistentRDDs.keySet.toSet,
    org.apache.spark.sql.graftbridge.CacheEntries.count(spark))

  /** Fail unless the context holds nothing beyond `before` (a [[contextHolds]]). */
  def assertHeldNoMoreThan(before: (Set[Int], Int)): Unit = {
    val (rdds, cached) = contextHolds()
    assert((rdds -- before._1).isEmpty && cached <= before._2,
      s"left behind: persisted RDDs ${(rdds -- before._1).toSeq.sorted}, " +
        s"cache entries ${before._2} -> $cached")
  }
}

object SparkSpec {
  /** GraftConf's posture (the one Verify checks) on a 4-core run shape. */
  lazy val session: SparkSession = GraftConf.builder("graft-test", 4)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
}
