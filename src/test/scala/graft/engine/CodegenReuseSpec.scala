package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** Generated code is compiled once per JVM, not once per engine session:
  * a fresh session replaying a case another session already ran reuses
  * the compiled classes, and the compiled-class cache holds more than a
  * replayed suite's working set.
  */
class CodegenReuseSpec extends SparkSpec {

  /** Janino compiles (codegen cache misses) while `f` runs. */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** One replayed test case in a fresh engine session. */
  private def replayCase(sessions: SessionManager): Unit = {
    val s = sessions.create()
    s.createTable("events", Seq("v" -> "INT64", "name" -> "STRING"))
    s.insert("events", Seq(Seq(1, "a"), Seq(2, "b"), Seq(1, "c")))
    s.insert("events", Seq(Seq(3, "d"), Seq(2, "e")))
    val rows = s.sql("SELECT v, COUNT(*) AS n FROM events GROUP BY v ORDER BY v").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (2L, 2L), (3L, 1L)))
    assert(s.describeTable("events")._2 == 5L)
    sessions.destroy(s.id)
  }

  test("a fresh engine session reuses the classes an earlier session compiled") {
    val sessions = new SessionManager(spark)
    val first = compiles(replayCase(sessions))
    val second = compiles(replayCase(sessions))
    assert(second == 0L, s"the second session recompiled $second classes (the first compiled $first)")
  }

  test("the compiled-class cache holds more than 100 distinct plans") {
    def run(k: Int): Unit =
      assert(spark.sql(s"SELECT id + $k AS x FROM range(10)").collect().map(_.getLong(0)).sum == 45L + 10L * k)
    (0 until 120).foreach(run)
    val again = compiles(run(0))
    assert(again == 0L, s"re-running the first of 120 plans recompiled $again classes")
  }
}
