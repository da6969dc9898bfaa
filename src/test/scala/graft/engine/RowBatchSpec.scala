package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.{BatchBlocks, ListenerBridge}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.BatchRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.api.GraftRpc
import graft.sources.DirectoryCatalog

/** A table holds its inserted rows as broadcast batches, one per insert:
  * an insert runs no Spark job and keeps the batches before it, and every
  * graft path that re-binds or drops the name releases them.
  */
class RowBatchSpec extends SparkSpec {

  /** Broadcast ids of the batches `table`'s view reads, in order. */
  private def batchIds(s: GraftSession, table: String): Seq[Long] =
    s.spark.table(table).queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd }
      .collect { case b: BatchRDD => b.batches.map(_.id) }.flatten

  private def released(ids: Seq[Long]): Unit =
    eventually(timeout(10.seconds), interval(20.millis)) {
      assert((BatchBlocks.live() & ids.toSet).isEmpty, s"still held: ${BatchBlocks.live() & ids.toSet}")
    }

  private def ints(s: GraftSession, q: String): Seq[Long] = s.sql(q).collect().map(_.getLong(0)).toSeq

  /** `(f's result, the Spark jobs it started)`. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      ListenerBridge.waitUntilEmpty(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def parquet(prefix: String, values: Seq[Long]): String = {
    import spark.implicits._
    val path = graft.Scratch.dir(prefix).resolve("t.parquet").toString
    values.toDF("v").write.parquet(path)
    path
  }

  test("bq.insert into a created table runs no Spark job") {
    val rpc = new GraftRpc(spark)
    def call(method: String, params: (String, Any)*): Map[String, Any] =
      rpc.dispatch(method, params.toMap).asInstanceOf[Map[String, Any]]
    val s = call("bq.createSession")("sessionId")
    call("bq.createTable", "sessionId" -> s, "tableName" -> "t",
      "schema" -> Seq(Map("name" -> "k", "type" -> "INT64"), Map("name" -> "name", "type" -> "STRING")))
    (0 until 3).foreach { b =>
      val rows = (0 until 500).map(i => Seq(b * 500L + i, s"n$i"))
      assert(jobsOf(call("bq.insert", "sessionId" -> s, "tableName" -> "t", "rows" -> rows)) ==
        (Map("insertedRows" -> 500L), 0))
    }
    val resp = call("bq.query", "sessionId" -> s, "sql" -> "SELECT COUNT(DISTINCT k) AS n FROM t")
    assert(resp("rows") == Seq(Map("f" -> Seq(Map("v" -> 1500L)))))
    call("bq.destroySession", "sessionId" -> s)
  }

  test("the k-th insert keeps the first k-1 batches") {
    val sessions = new SessionManager(spark)
    val s = sessions.create()
    s.createTable("t", Seq("v" -> "INT64"))
    assert(batchIds(s, "t").isEmpty)
    (1 to 5).foldLeft(Seq.empty[Long]) { (previous, k) =>
      s.insert("t", Seq(Seq(k), Seq(10 * k)))
      val ids = batchIds(s, "t")
      assert(ids.size == k && ids.init == previous, s"insert $k: $previous -> $ids")
      assert(ids.toSet.subsetOf(BatchBlocks.live()))
      ids
    }
    assert(ints(s, "SELECT v FROM t ORDER BY v") == (1 to 5).flatMap(k => Seq(k.toLong, 10L * k)).sorted)
    assert(s.rowCount("t") == 10L)
    sessions.destroy(s.id)
  }

  test("re-create, dropTable, a bq.loadParquet re-bind and destroySession release the table's batches") {
    val sessions = new SessionManager(spark)
    val s = sessions.create()
    def inserted(name: String): Seq[Long] = {
      s.createTable(name, Seq("v" -> "INT64"))
      s.insert(name, Seq(Seq(1), Seq(2)))
      s.insert(name, Seq(Seq(3)))
      val ids = batchIds(s, name)
      assert(ids.size == 2 && ids.toSet.subsetOf(BatchBlocks.live()))
      ids
    }

    val recreated = inserted("a")
    s.createTable("A", Seq("v" -> "INT64"))
    released(recreated)
    assert(s.rowCount("a") == 0L)

    val dropped = inserted("b")
    s.dropTable("b")
    released(dropped)

    val path = parquet("rowbatch-rebind-", 1L to 5L)
    val rebound = inserted("c")
    val (df, n) = DirectoryCatalog.readParquet(s, path) // what bq.loadParquet binds
    s.replaceView("c", df, Some(n))
    released(rebound)
    assert(ints(s, "SELECT v FROM c ORDER BY v") == (1L to 5L))

    val kept = inserted("d")
    sessions.destroy(s.id)
    released(kept)
  }

  test("an insert into a parquet-bound name returns the parquet rows plus the inserted ones") {
    val sessions = new SessionManager(spark)
    val s = sessions.create()
    val (df, n) = DirectoryCatalog.readParquet(s, parquet("rowbatch-append-", 1L to 5L))
    s.replaceView("p", df, Some(n))
    assert(jobsOf(s.insert("p", Seq(Seq(6), Seq(7)))) == (2L, 0))
    s.insert("p", Seq(Seq(8)))
    assert(ints(s, "SELECT v FROM p ORDER BY v") == (1L to 8L))
    assert(jobsOf(s.rowCount("p")) == (8L, 0))
    val ids = batchIds(s, "p")
    assert(ids.size == 2)
    sessions.destroy(s.id)
    released(ids)
  }

  test("an insert into a DAG table appends over its snapshot, nulls included") {
    val sessions = new SessionManager(spark)
    val s = sessions.create()
    s.createTable("src", Seq("v" -> "INT64"))
    s.insert("src", Seq(Seq(1), Seq(2)))
    s.dag.register(Seq(DagTable.derived("d", "SELECT v * 10 AS v, 'x' AS tag FROM src")))
    assert(s.dag.run().allSucceeded)
    s.insert("d", Seq(Seq(null, null), Seq(30, "y")))
    val rows = s.sql("SELECT v, tag FROM d ORDER BY v NULLS FIRST").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(rows == Seq((None, None), (Some(10L), Some("x")), (Some(20L), Some("x")), (Some(30L), Some("y"))))
    // `tag` is a literal, non-null in the snapshot's plan; the batch may still hold a null.
    assert(ints(s, "SELECT COUNT(*) FROM d WHERE tag IS NULL") == Seq(1L))
    assert(s.rowCount("d") == 4L)
    sessions.destroy(s.id)
  }
}
