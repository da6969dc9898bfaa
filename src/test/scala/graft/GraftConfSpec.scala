package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftConfSpec extends AnyFunSuite {

  /** The builder keeps its options in a private map (no getter, and
    * calling getOrCreate here would apply them onto the suite-shared
    * session) — read it reflectively.
    */
  private def options(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] = {
    var cls: Class[_] = b.getClass
    while (cls != null) {
      cls.getDeclaredFields.foreach { f =>
        f.setAccessible(true)
        f.get(b) match {
          case m: scala.collection.mutable.HashMap[_, _]
              if m.keys.forall(_.isInstanceOf[String]) && m.nonEmpty =>
            return m.map { case (k, v) => k.toString -> v.toString }.toMap
          case _ =>
        }
      }
      cls = cls.getSuperclass
    }
    fail("builder options map not found reflectively")
  }

  test("builder encodes the scale posture (AQE, pushdown, dialect, UTC)") {
    val o = options(GraftConf.builder("t", 1000))
    assert(o.get("spark.sql.adaptive.enabled").contains("true"))
    assert(o.get("spark.sql.adaptive.skewJoin.enabled").contains("true"))
    assert(o.get("spark.sql.parquet.filterPushdown").contains("true"))
    assert(o.get("spark.sql.session.timeZone").contains("UTC"))
    // The dialect the oracle verifies: non-ANSI arithmetic, and Spark
    // builtin semantics in the shared session (engine sessions install
    // the BigQuery dialect themselves).
    assert(o.get("spark.sql.ansi.enabled").contains("false"))
    assert(!o.contains("spark.sql.extensions"))
    assert(o.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning").contains("true"))
    // Long-lived drivers and servers keep only a few plan descriptions.
    assert(o.get("spark.sql.ui.retainedExecutions").contains("3"))
    assert(o.get("spark.cleaner.periodicGC.interval").contains("1min"))
    // Compiled code is shared by every engine session of the JVM, and the
    // compiled-class cache holds a served suite's working set.
    assert(o.get("spark.sql.artifact.isolation.enabled").contains("false"))
    assert(o.get("spark.sql.codegen.cache.maxEntries").contains("1000"))
    assert(o.get("spark.log.level").contains("WARN"))
  }

  test("shuffle partitions scale with cluster cores, floored for tiny rigs") {
    assert(options(GraftConf.builder("t", 1000))
      .get("spark.sql.shuffle.partitions").contains("2000"))
    assert(options(GraftConf.builder("t", 32))
      .get("spark.sql.shuffle.partitions").contains("64"))
    assert(options(GraftConf.builder("t", 2))
      .get("spark.sql.shuffle.partitions").contains("8"))
  }
}
