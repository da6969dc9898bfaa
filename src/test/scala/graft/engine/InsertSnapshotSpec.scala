package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec
import graft.api.GraftRpc

/** An inserted table is one relation over its row batches, in one
  * partition per `spark.sql.files.maxPartitionBytes` of their size and
  * carrying exact statistics, so the planner needs no shuffle for
  * aggregates, windows or joins over tables at served sizes, and still
  * gets the same rows when a small scan split leaves a table in several
  * partitions. A DAG-derived table is a snapshot right-sized the same
  * way.
  */
class InsertSnapshotSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val eventRows = (0 until 1000).map(i => Seq(i.toLong, (i % 7).toLong, s"n${i % 13}"))
  private val userRows = (0 until 100).map(i => Seq(i * 10L, s"seg${i % 3}"))

  private val queries = Seq(
    "group by" -> "SELECT v, COUNT(*) AS n FROM events GROUP BY v",
    "window" -> "SELECT k, ROW_NUMBER() OVER (PARTITION BY v ORDER BY k) AS rn FROM events",
    "join" -> "SELECT u.segment, COUNT(*) AS n FROM events e JOIN users u ON e.k = u.k GROUP BY u.segment")

  /** A fresh engine session holding `events` (two 500-row inserts) and
    * `users` (one insert), with `maxPartitionBytes` set when given.
    */
  private def populated(sessions: SessionManager, maxPartitionBytes: Option[String] = None): GraftSession = {
    val s = sessions.create()
    maxPartitionBytes.foreach(s.spark.conf.set("spark.sql.files.maxPartitionBytes", _))
    s.createTable("events", Seq("k" -> "INT64", "v" -> "INT64", "name" -> "STRING"))
    eventRows.grouped(500).foreach(s.insert("events", _))
    s.createTable("users", Seq("k" -> "INT64", "segment" -> "STRING"))
    s.insert("users", userRows)
    s
  }

  private def snapshotOf(s: GraftSession, table: String): LogicalRDD =
    s.spark.table(table).queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get

  private def rowsOf(s: GraftSession, q: String): Seq[String] =
    s.sql(q).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("after createTable and five inserts the table is one partition with exact statistics") {
    val sessions = new SessionManager(spark)
    val s = sessions.create()
    s.createTable("t", Seq("k" -> "INT64", "name" -> "STRING"))
    (0 until 5).foreach(b => s.insert("t", (0 until 200).map(i => Seq(b * 200L + i, s"n$i"))))
    val snapshot = snapshotOf(s, "t")
    assert(snapshot.rdd.getNumPartitions == 1)
    assert(s.spark.table("t").queryExecution.executedPlan.outputPartitioning == SinglePartition)
    val size = s.spark.table("t").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 1024 * 1024, s"sizeInBytes = $size")
    assert(s.rowCount("t") == 1000L)
    assert(s.sql("SELECT COUNT(DISTINCT k) FROM t").head().getLong(0) == 1000L)
    sessions.destroy(s.id)
  }

  test("a group by, a window and a join over inserted tables plan no shuffle") {
    val sessions = new SessionManager(spark)
    val s = populated(sessions)
    // A DAG-derived table is the same snapshot as an inserted one.
    s.dag.register(Seq(DagTable.derived("recent", "SELECT k, v FROM events WHERE k >= 500")))
    assert(s.dag.run().allSucceeded)
    val overDerived = Seq(
      "group by over a DAG table" -> "SELECT v, COUNT(*) AS n FROM recent GROUP BY v",
      "order by over a DAG table" -> "SELECT k FROM recent ORDER BY k DESC")
    (queries ++ overDerived).foreach { case (what, q) =>
      val df = s.sql(q)
      df.collect()
      val shuffles = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"$what plans a shuffle:\n${df.queryExecution.executedPlan}")
    }
    assert(rowsOf(s, queries.head._2) ==
      eventRows.groupBy(_(1)).map { case (v, rs) => s"$v|${rs.size}" }.toSeq.sorted)
    assert(rowsOf(s, overDerived.head._2) ==
      eventRows.drop(500).groupBy(_(1)).map { case (v, rs) => s"$v|${rs.size}" }.toSeq.sorted)
    sessions.destroy(s.id)
  }

  test("a group by over an inserted table runs one job through bq.query") {
    val rpc = new GraftRpc(spark)
    val sid = rpc.dispatch("bq.createSession").asInstanceOf[Map[String, Any]]("sessionId")
    rpc.dispatch("bq.createTable", Map("sessionId" -> sid, "tableName" -> "events", "schema" -> Seq(
      Map("name" -> "k", "type" -> "INT64"), Map("name" -> "v", "type" -> "INT64"),
      Map("name" -> "name", "type" -> "STRING"))))
    eventRows.grouped(500).foreach(rows =>
      rpc.dispatch("bq.insert", Map("sessionId" -> sid, "tableName" -> "events", "rows" -> rows)))
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val resp = try {
      val r = rpc.dispatch("bq.query", Map("sessionId" -> sid, "sql" -> queries.head._2))
      ListenerBridge.waitUntilEmpty(sc)
      r.asInstanceOf[Map[String, Any]]
    } finally sc.removeSparkListener(listener)
    assert(resp("totalRows") == "7")
    assert(jobs.get == 1, s"the group by ran ${jobs.get} jobs")
    rpc.dispatch("bq.destroySession", Map("sessionId" -> sid))
  }

  test("a small scan split keeps a table in several partitions, with the same rows") {
    val sessions = new SessionManager(spark)
    val one = populated(sessions)
    val split = populated(sessions, Some("1k"))
    assert(snapshotOf(one, "events").rdd.getNumPartitions == 1)
    assert(snapshotOf(split, "events").rdd.getNumPartitions > 1)
    assert(split.rowCount("events") == 1000L)
    queries.foreach { case (what, q) =>
      assert(rowsOf(split, q) == rowsOf(one, q), what)
    }
    sessions.destroy(one.id)
    sessions.destroy(split.id)
  }
}
