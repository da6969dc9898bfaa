package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.api.{GraftRpc, Json}

/** The served engine's jobs: what a query returns, and how many SQL
  * executions and Spark jobs a query and a DAG snapshot run.
  */
class ServedJobSpec extends SparkSpec {

  private lazy val sessions = new SessionManager(spark)

  /** What ran while a block did: SQL executions started, the executions
    * the session's QueryExecutionListeners saw finish (name and plan),
    * and the stage names of every job started.
    */
  private final case class Ran(executions: Int, finished: Seq[(String, QueryExecution)], jobSites: Seq[String]) {
    def jobs: Int = jobSites.size
  }

  private def ran[A](gs: GraftSession)(f: => A): (A, Ran) = {
    val sc = spark.sparkContext
    val executions = new AtomicInteger
    val jobs = new ConcurrentLinkedQueue[String]()
    val finished = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(" <- "))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit = finished.add(name -> qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = finished.add(name -> qe)
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    gs.spark.listenerManager.register(queries)
    try {
      val a = f
      ListenerBridge.waitUntilEmpty(sc)
      (a, Ran(executions.get, finished.asScala.toSeq, jobs.asScala.toSeq))
    } finally {
      gs.spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  /** A session with `t(g INT64, v INT64)` holding 100 rows in 7 groups. */
  private def withTable(): GraftSession = {
    val gs = sessions.create()
    gs.createTable("t", Seq("g" -> "INT64", "v" -> "INT64"))
    gs.insert("t", (1 to 100).map(i => Seq(i % 7, i)))
    gs
  }

  test("bq.query renders every createTable type as the Row encoder does, NULLs included") {
    val gs = sessions.create()
    val types = Seq("INT64", "FLOAT64", "NUMERIC", "STRING", "BOOL", "DATE", "TIMESTAMP", "BYTES", "JSON", "ARRAY<INT64>")
    gs.createTable("every_type", types.zipWithIndex.map { case (t, i) => s"c$i" -> t })
    gs.insert("every_type", Seq(
      Seq(1L, 2.5, 3.25, "text", true, "2024-02-29", "2024-02-29 10:42:17.123456",
        Array[Byte](0, 1, -1), """{"a":[1,null]}""", Seq(1L, null, 3L)),
      Seq.fill(types.size)(null),
      Seq(-7L, -0.0, 1e-9, "", false, "1970-01-01", "1969-12-31 23:59:59",
        Array.emptyByteArray, "null", Seq.empty),
      Seq(9L, null, 0.5, null, true, null, "2000-01-01 00:00:00", null, null, Seq(null))))
    /** The response as the Row encoder rendered it, through `collect`. */
    def reference(sql: String): Map[String, Any] = {
      val df = gs.sql(sql)
      val rows = df.collect().toSeq
      Map(
        "kind" -> "bigquery#queryResponse",
        "schema" -> Map("fields" -> df.schema.fields.toSeq.map(f =>
          Map("name" -> f.name, "type" -> GraftSession.sparkTypeToBq(f.dataType)))),
        "rows" -> rows.map(r => Map("f" -> r.toSeq.map(v => Map("v" -> v)))),
        "totalRows" -> rows.size.toString,
        "jobComplete" -> true)
    }
    Seq(
      "SELECT * FROM every_type ORDER BY c0",
      "SELECT STRUCT(c0 AS a, c3 AS b) AS s, CAST(c2 AS DECIMAL(12, 4)) AS d, ARRAY(c0, c0) AS pair, " +
        "c6 AS ts FROM every_type ORDER BY c0").foreach { sql =>
      val served = GraftRpc.toBqResponse(gs.sql(sql))
      assert(served("totalRows") == "4")
      assert(Json.write(served) == Json.write(reference(sql)), sql)
    }
    sessions.destroy(gs.id)
  }

  test("a bq.query GROUP BY over an inserted table is one SQL execution, with its plan phases, and one job") {
    val gs = withTable()
    val (resp, r) = ran(gs)(GraftRpc.toBqResponse(gs.sql("SELECT g, SUM(v) AS s FROM t GROUP BY g ORDER BY g")))
    assert(resp("totalRows") == "7")
    assert(r.executions == 1 && r.jobs == 1, r.jobSites)
    val Seq((name, qe)) = r.finished
    assert(name == "collect")
    assert(Set("analysis", "optimization", "planning").subsetOf(qe.tracker.phases.keySet), qe.tracker.phases)
    sessions.destroy(gs.id)
  }

  test("a derived table's snapshot is one SQL execution and one job; queries over it recompute nothing upstream") {
    val gs = withTable()
    val upstream = spark.sparkContext.longAccumulator("upstream rows")
    gs.spark.udf.register("upstream", (v: Long) => { upstream.add(1); v })

    val (_, made) = ran(gs)(gs.materialize("d", gs.sql("SELECT g, SUM(upstream(v)) AS s FROM t GROUP BY g")))
    // One execution stores and counts the snapshot; binding its view is a
    // command, which runs no job.
    assert(made.executions == 2 && made.finished.map(_._1) == Seq("materialize", "command"), made.finished)
    assert(made.jobs == 1, made.jobSites)
    assert(upstream.value == 100L)
    // The job that stored the snapshot counted it: statistics and rowCount
    // are exact, and counting runs nothing.
    assert(gs.table("d").queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(7)))
    assert(ran(gs)(gs.rowCount("d")) match { case (n, c) => n == 7L && c.jobs == 0 })

    val (resp, read) = ran(gs)(GraftRpc.toBqResponse(gs.sql("SELECT SUM(s) AS total FROM d")))
    assert(resp("rows") == Seq(Map("f" -> Seq(Map("v" -> 5050L)))))
    assert(read.executions == 1, read)
    assert(upstream.value == 100L, "a query over the snapshot re-ran its upstream plan")
    sessions.destroy(gs.id)
  }
}
