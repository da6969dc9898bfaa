package graft.engine

import org.apache.spark.graftbridge.BatchBlocks
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Mirrors the reference's pipeline test suite semantics
  * (reference: src/session/pipeline.rs tests + adaptors dag_test.clj).
  */
class DagSpec extends SparkSpec {

  private def freshDag(): (GraftSession, Dag) = {
    val s = new SessionManager(spark).create()
    (s, new Dag(s))
  }

  test("register extracts dependencies from SQL, not CTE names") {
    val (_, dag) = freshDag()
    dag.register(Seq(DagTable.source("users", Seq("id" -> "INT64"))))
    val infos = dag.register(Seq(DagTable.derived("active",
      "WITH tmp AS (SELECT id FROM users) SELECT * FROM tmp")))
    assert(infos == Seq("active" -> Seq("users")))
  }

  test("dependency detection is case-insensitive") {
    val (_, dag) = freshDag()
    dag.register(Seq(DagTable.source("MyTable", Seq("v" -> "INT64"))))
    val infos = dag.register(Seq(DagTable.derived("derived", "SELECT * FROM mytable")))
    assert(infos == Seq("derived" -> Seq("MyTable")))
  }

  test("later registration re-resolves earlier tables' dependencies") {
    val (_, dag) = freshDag()
    dag.register(Seq(DagTable.derived("d", "SELECT * FROM src")))
    assert(dag.getTables.find(_._1 == "d").get._4.isEmpty)
    dag.register(Seq(DagTable.source("src", Seq("v" -> "INT64"))))
    assert(dag.getTables.find(_._1 == "d").get._4 == Seq("src"))
  }

  test("chain executes in dependency order and computes correct values") {
    val (s, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("raw", Seq("n" -> "INT64"), Seq(Seq(1), Seq(2), Seq(3))),
      DagTable.derived("doubled", "SELECT n * 2 AS n FROM raw"),
      DagTable.derived("plus_ten", "SELECT n + 10 AS n FROM doubled")))
    val res = dag.run()
    assert(res.allSucceeded)
    assert(res.succeeded.indexOf("raw") < res.succeeded.indexOf("doubled"))
    assert(res.succeeded.indexOf("doubled") < res.succeeded.indexOf("plus_ten"))
    val out = s.sql("SELECT n FROM plus_ten ORDER BY n").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(12L, 14L, 16L))
  }

  test("diamond runs every table after its dependencies") {
    val (s, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("root", Seq("x" -> "INT64"), Seq(Seq(10))),
      DagTable.derived("left", "SELECT x + 1 AS x FROM root"),
      DagTable.derived("right", "SELECT x - 1 AS x FROM root"),
      DagTable.derived("bottom", "SELECT l.x AS lx, r.x AS rx FROM left l, right r")))
    val res = dag.run()
    assert(res.allSucceeded)
    val at = res.succeeded.zipWithIndex.toMap
    assert(at.keySet == Set("root", "left", "right", "bottom"))
    assert(at("root") < at("left") && at("root") < at("right"), res.succeeded)
    assert(at("left") < at("bottom") && at("right") < at("bottom"), res.succeeded)
    val out = s.sql("SELECT lx, rx FROM bottom").collect()(0)
    assert((out.getLong(0), out.getLong(1)) == (11L, 9L))
  }

  test("run with targets executes only the dependency closure") {
    val (s, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("a", Seq("v" -> "INT64"), Seq(Seq(1))),
      DagTable.source("b", Seq("v" -> "INT64"), Seq(Seq(2))),
      DagTable.derived("from_a", "SELECT v * 10 AS v FROM a"),
      DagTable.derived("from_b", "SELECT v * 10 AS v FROM b")))
    val res = dag.run(Some(Seq("from_a")))
    assert(res.succeeded.toSet == Set("a", "from_a"))
    assert(s.sql("SELECT v FROM from_a").collect()(0).getLong(0) == 10L)
    assertThrows[Exception](s.sql("SELECT v FROM from_b").collect())
  }

  test("failed table blocks dependents; retryFailed re-runs them") {
    val (s, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("src", Seq("v" -> "INT64"), Seq(Seq(5))),
      DagTable.derived("bad", "SELECT no_such_column FROM src"),
      DagTable.derived("child", "SELECT * FROM bad")))
    val res = dag.run()
    assert(res.succeeded == Seq("src"))
    assert(res.failed.map(_.table) == Seq("bad"))
    assert(res.skipped == Seq("child"))

    // Fix the broken table, then retry only failed+skipped.
    dag.register(Seq(DagTable.derived("bad", "SELECT v AS fixed FROM src")))
    val retry = dag.retryFailed(res)
    assert(retry.allSucceeded)
    assert(retry.succeeded.toSet == Set("bad", "child"))
    assert(s.sql("SELECT fixed FROM child").collect()(0).getLong(0) == 5L)
  }

  test("re-running reflects upstream changes (materialized snapshot semantics)") {
    // Mirrors reference test_rerun_computed_table_reflects_source_changes:
    // the source lives in the session, the DAG holds only the derived table.
    val (s, dag) = freshDag()
    s.createTable("counter", Seq("n" -> "INT64"))
    s.insert("counter", Seq(Seq(1)))
    dag.register(Seq(DagTable.derived("doubled", "SELECT n * 2 AS n FROM counter")))
    assert(dag.run().allSucceeded)
    assert(s.sql("SELECT SUM(n) FROM doubled").collect()(0).getLong(0) == 2L)
    s.insert("counter", Seq(Seq(10)))
    assert(dag.run().allSucceeded)
    assert(s.sql("SELECT SUM(n) FROM doubled").collect()(0).getLong(0) == 22L)
  }

  test("cycles are rejected") {
    val (_, dag) = freshDag()
    dag.register(Seq(
      DagTable.derived("x", "SELECT * FROM y"),
      DagTable.derived("y", "SELECT * FROM x")))
    // Typed taxonomy: cycles surface as the reference's InvalidRequest
    // family (-32600) with a distinct kind.
    val e = intercept[graft.api.GraftError.CircularDependency](dag.run())
    assert(e.code == -32600)
  }

  test("level-parallel execution matches serial results") {
    val (s, dag) = freshDag()
    dag.register(
      DagTable.source("base", Seq("v" -> "INT64"), Seq(Seq(1))) +:
        (0 until 6).map(i => DagTable.derived(s"branch_$i", s"SELECT v + $i AS v FROM base")))
    val res = dag.run(maxConcurrency = 4)
    assert(res.allSucceeded)
    (0 until 6).foreach { i =>
      assert(s.sql(s"SELECT v FROM branch_$i").collect()(0).getLong(0) == 1L + i)
    }
  }

  test("slot scheduling: a fast branch's dependent finishes while the slow sibling still runs") {
    // root → {slow, fast}, fast → fast_child → fast_done. slow blocks on
    // a latch that only fast_done counts down, and fast_done starts only
    // after fast_child has completed, so slow's await returns true only
    // if fast_child finished while slow was in flight: a level barrier
    // would hold the fast branch back until slow timed out.
    val (s, dag) = freshDag()
    DagSpec.latch = new java.util.concurrent.CountDownLatch(1)
    DagSpec.awaited = false
    s.spark.udf.register("dagspec_await", (x: Long) => {
      DagSpec.awaited = DagSpec.latch.await(60, java.util.concurrent.TimeUnit.SECONDS); x
    })
    s.spark.udf.register("dagspec_count_down", (x: Long) => { DagSpec.latch.countDown(); x })
    dag.register(Seq(
      DagTable.source("root", Seq("x" -> "INT64"), Seq(Seq(10))),
      DagTable.derived("slow", "SELECT dagspec_await(x) AS x FROM root"),
      DagTable.derived("fast", "SELECT x + 1 AS x FROM root"),
      DagTable.derived("fast_child", "SELECT x * 2 AS x FROM fast"),
      DagTable.derived("fast_done", "SELECT dagspec_count_down(x) AS x FROM fast_child")))
    val res = dag.run(maxConcurrency = 4)
    assert(res.allSucceeded)
    assert(DagSpec.awaited, s"slow's await timed out: the fast branch did not run beside it (${res.succeeded})")
    // succeeded is appended in completion order.
    assert(res.succeeded.indexOf("fast_child") < res.succeeded.indexOf("slow"), res.succeeded)
    assert(s.sql("SELECT x FROM fast_child").collect()(0).getLong(0) == 22L)
    assert(s.sql("SELECT x FROM slow").collect()(0).getLong(0) == 10L)
  }

  test("a skip chain deeper than one level fully resolves (no stranded tables)") {
    // a fails → b skipped → c skipped: the reference's single-pass skip
    // (pipeline.rs:327) would strand c with nothing in flight; here a
    // skip reaches every downstream table in the same run.
    val (_, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("src2", Seq("v" -> "INT64"), Seq(Seq(1))),
      DagTable.derived("a", "SELECT no_such FROM src2"),
      DagTable.derived("b", "SELECT * FROM a"),
      DagTable.derived("c", "SELECT * FROM b")))
    val res = dag.run(maxConcurrency = 2)
    assert(res.succeeded == Seq("src2"))
    assert(res.failed.map(_.table) == Seq("a"))
    assert(res.skipped.sorted == Seq("b", "c"))
  }

  test("BQ_MAX_CONCURRENCY-style default keeps full-run results identical to serial") {
    val (s, dag) = freshDag()
    dag.register(
      DagTable.source("base2", Seq("v" -> "INT64"), Seq(Seq(3))) +:
        (0 until 5).map(i => DagTable.derived(s"t2_$i", s"SELECT v * ${i + 1} AS v FROM base2")))
    val par = dag.run() // default: env BQ_MAX_CONCURRENCY or 8 slots
    val ser = dag.run(maxConcurrency = 1)
    assert(par.allSucceeded && ser.allSucceeded)
    assert(par.succeeded.toSet == ser.succeeded.toSet)
    (0 until 5).foreach { i =>
      assert(s.sql(s"SELECT v FROM t2_$i").collect()(0).getLong(0) == 3L * (i + 1))
    }
  }

  test("a view's builder runs inside run(), once per run, not at register()") {
    val (s, dag) = freshDag()
    val built = new java.util.concurrent.atomic.AtomicInteger()
    def frame() = { built.incrementAndGet(); s.spark.range(3).toDF("v") }
    dag.register(Seq(
      DagTable.view("lazy_src", frame()),
      DagTable.derived("lazy_out", "SELECT SUM(v) AS t FROM lazy_src")))
    assert(built.get == 0, "register() must not build the view's frame")
    assert(!s.spark.catalog.tableExists("lazy_src"))
    assert(dag.run().allSucceeded)
    assert(built.get == 1)
    assert(s.sql("SELECT t FROM lazy_out").collect()(0).getLong(0) == 3L)
    assert(dag.run(Some(Seq("lazy_src"))).allSucceeded)
    assert(built.get == 2)
  }

  test("a view whose builder throws fails its table and skips dependents") {
    val (_, dag) = freshDag()
    dag.register(Seq(
      DagTable.view("bad_src", throw new IllegalStateException("builder failed")),
      DagTable.derived("bad_out", "SELECT * FROM bad_src")))
    val res = dag.run()
    assert(res.failed == Seq(TableError("bad_src", "builder failed")))
    assert(res.skipped == Seq("bad_out"))
  }

  test("a view builder that throws a fatal error fails its table and skips its dependents") {
    val (_, dag) = freshDag()
    dag.register(Seq(
      DagTable.view("x", throw new LinkageError("linkage")),
      DagTable.derived("x_out", "SELECT * FROM x")))
    val res = dag.run()
    assert(res.failed == Seq(TableError("x", "linkage")))
    assert(res.skipped == Seq("x_out"))
    assert(res.succeeded.isEmpty)
  }

  test("a source with a row of the wrong width fails its table and skips dependents") {
    val (s, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("short_src", Seq("k" -> "INT64", "name" -> "STRING"), Seq(Seq(1, "a"), Seq(2))),
      DagTable.derived("short_out", "SELECT k FROM short_src")))
    val res = dag.run()
    assert(res.failed.map(_.table) == Seq("short_src"))
    assert(res.failed.head.error.contains("Row 1 of short_src has 1 values, but the table has 2 columns"),
      res.failed.head.error)
    assert(res.skipped == Seq("short_out"))
    // Nothing of the failed call was appended.
    assert(s.sql("SELECT * FROM short_src").count() == 0L)
  }

  test("a derived table is one snapshot; re-running it releases the previous one; clear releases all") {
    // What the session holds: the derived tables' snapshots (persisted
    // RDDs) and the source's row batches, one per run's insert.
    def held(): Set[String] = spark.sparkContext.getPersistentRDDs.keySet.map(id => s"rdd $id").toSet ++
      BatchBlocks.live().map(id => s"batch $id")
    val before = held()
    val (s, dag) = freshDag()
    dag.register(Seq(
      DagTable.source("snap_src", Seq("v" -> "INT64"), Seq(Seq(1))),
      DagTable.derived("snap_out", "SELECT v + 1 AS v FROM snap_src"),
      DagTable.derived("snap_sum", "SELECT SUM(v) AS v FROM snap_out")))
    var previous = Set.empty[String]
    (1 to 3).foreach { run =>
      assert(dag.run().allSucceeded)
      val now = held() -- before
      val (snapshots, batches) = now.partition(_.startsWith("rdd"))
      assert(snapshots.size == 2 && batches.size == run, s"after run $run the session holds $now")
      assert((snapshots & previous).isEmpty, s"run $run kept ${snapshots & previous}")
      assert(previous.filter(_.startsWith("batch")).subsetOf(batches), s"run $run dropped a batch of $previous")
      previous = now
      // The source appends its literal row on every run.
      assert(s.sql("SELECT v FROM snap_sum").collect()(0).getLong(0) == 2L * run)
    }
    dag.clear()
    eventually(timeout(10.seconds), interval(20.millis)) {
      assert((held() -- before).isEmpty, s"left held: ${held() -- before}")
    }
    assert(!s.spark.catalog.tableExists("snap_out"))
  }

  /** Tables derived from `a` in SQL that only the BigQuery dialect parses. */
  private val dialectTables = Seq(
    DagTable.derived("safe", "SELECT SAFE_CAST(x AS INT64) AS y FROM a"),
    DagTable.derived("unnest", "SELECT x, n FROM a, UNNEST([1, 2]) AS n"))

  /** Source `a` and three tables derived from it: `safe` and `unnest` in
    * BigQuery SQL that Spark's own parser rejects, `plain` in SQL both
    * parsers accept.
    */
  private def dialectDag(
      source: DagTable = DagTable.source("a", Seq("x" -> "INT64"), Seq(Seq(1), Seq(2), Seq(3))))
      : (GraftSession, Dag) = {
    val (s, dag) = freshDag()
    dag.register(Seq(source) ++ dialectTables :+
      DagTable.derived("plain", "SELECT CAST(x AS STRING) AS y FROM a"))
    (s, dag)
  }

  test("BigQuery-dialect SQL records its dependencies") {
    val (_, dag) = dialectDag()
    val deps = dag.getTables.map(t => t._1 -> t._4).toMap
    assert(deps("safe") == Seq("a"))
    assert(deps("unnest") == Seq("a"))
    assert(deps("plain") == Seq("a"))
  }

  test("a full run over BigQuery-dialect SQL succeeds on a fresh session") {
    val (s, dag) = dialectDag()
    val res = dag.run()
    assert(res.allSucceeded, res)
    assert(res.succeeded.head == "a", res)
    assert(s.sql("SELECT SUM(y) FROM safe").collect()(0).getLong(0) == 6L)
    assert(s.sql("SELECT COUNT(*) FROM unnest").collect()(0).getLong(0) == 6L)
  }

  test("three runs over BigQuery-dialect SQL in one session all succeed") {
    val (s, dag) = dialectDag()
    (1 to 3).foreach { run =>
      val res = dag.run()
      assert(!res.failed.exists(_.error.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), s"run $run: $res")
      assert(res.allSucceeded, s"run $run: $res")
      // The source appends its three rows on every run.
      assert(s.sql("SELECT COUNT(*) FROM unnest").collect()(0).getLong(0) == 6L * run)
    }
  }

  test("a run targeting a BigQuery-dialect table runs its source first") {
    val (s, dag) = dialectDag()
    val res = dag.run(Some(Seq("safe")))
    assert(res.allSucceeded, res)
    assert(res.succeeded == Seq("a", "safe"))
    assert(s.sql("SELECT SUM(y) FROM safe").collect()(0).getLong(0) == 6L)
  }

  test("a failed source skips its BigQuery-dialect dependents") {
    val (_, dag) = dialectDag(DagTable.view("a", throw new IllegalStateException("source failed")))
    val res = dag.run()
    assert(res.failed == Seq(TableError("a", "source failed")))
    assert(res.skipped.sorted == Seq("plain", "safe", "unnest"))
    assert(res.succeeded.isEmpty)
  }

  test("every derived table depends on exactly the session views its analyzed plan reads") {
    import org.apache.spark.sql.catalyst.plans.logical.View
    def src(name: String, cols: (String, String)*) = DagTable.source(name, cols)
    def der(name: String, sql: String) = DagTable.derived(name, sql)
    // The DAG cases of the reference's dag_test.clj (ReferenceDagClientParitySpec),
    // the BigQuery-dialect tables, and a subquery in a predicate.
    val cases: Seq[Seq[DagTable]] = Seq(
      Seq(src("users", "id" -> "INT64", "name" -> "STRING"),
        der("report", "SELECT * FROM users WHERE id > 0")),
      Seq(src("source_data", "id" -> "INT64", "value" -> "STRING"),
        der("transformed", "SELECT id, UPPER(value) as upper_value FROM source_data")),
      Seq(src("a", "x" -> "INT64"), src("b", "x" -> "INT64"),
        der("from_a", "SELECT x * 10 as x FROM a"),
        der("from_b", "SELECT x * 100 as x FROM b")),
      Seq(src("raw", "value" -> "INT64"),
        der("step1", "SELECT value * 2 as value FROM raw"),
        der("step2", "SELECT value + 1 as value FROM step1"),
        der("final", "SELECT SUM(value) as total FROM step2")),
      Seq(src("source", "n" -> "INT64"),
        der("double_it", "SELECT n * 2 as doubled FROM source"),
        der("triple_it", "SELECT n * 3 as tripled FROM source"),
        der("combined", "SELECT d.doubled, t.tripled FROM double_it d, triple_it t WHERE d.doubled = t.tripled - 1")),
      Seq(src("src", "x" -> "INT64"), der("derived", "SELECT x FROM src")),
      Seq(src("a", "x" -> "INT64"), der("b", "SELECT * FROM a")),
      Seq(src("sales", "region" -> "STRING", "amount" -> "FLOAT64"),
        der("region_totals", "SELECT region, SUM(amount) as total FROM sales GROUP BY region"),
        der("summary", "SELECT COUNT(*) as num_regions, SUM(total) as grand_total FROM region_totals")),
      Seq(src("customers", "id" -> "INT64", "name" -> "STRING"),
        src("orders", "customer_id" -> "INT64", "amount" -> "FLOAT64"),
        der("customer_orders",
          "SELECT c.name, SUM(o.amount) as total FROM customers c JOIN orders o ON c.id = o.customer_id GROUP BY c.name")),
      Seq(src("numbers", "n" -> "INT64"),
        der("stats", "WITH evens AS (SELECT n FROM numbers WHERE n % 2 = 0)\nSELECT COUNT(*) as even_count FROM evens")),
      Seq(src("employees", "dept" -> "STRING", "salary" -> "FLOAT64"),
        der("ranked",
          "SELECT dept, salary, ROW_NUMBER() OVER (PARTITION BY dept ORDER BY salary DESC) as rank FROM employees")),
      Seq(src("products", "id" -> "INT64", "name" -> "STRING", "price" -> "FLOAT64"),
        src("inventory", "product_id" -> "INT64", "quantity" -> "INT64"),
        der("product_value",
          "SELECT p.name, p.price * i.quantity as total_value FROM products p JOIN inventory i ON p.id = i.product_id")),
      Seq(src("empty_source", "id" -> "INT64"), der("derived", "SELECT COUNT(*) as cnt FROM empty_source")),
      Seq(src("events", "event_type" -> "STRING", "user_id" -> "INT64", "value" -> "FLOAT64"),
        der("event_counts", "SELECT event_type, COUNT(*) as cnt FROM events GROUP BY event_type"),
        der("user_stats", "SELECT user_id, SUM(value) as total_value FROM events GROUP BY user_id"),
        der("top_user", "SELECT user_id, total_value FROM user_stats ORDER BY total_value DESC LIMIT 1")),
      src("a", "x" -> "INT64") +: dialectTables,
      Seq(src("a", "x" -> "INT64"), src("b", "x" -> "INT64"),
        der("in_b", "SELECT x FROM a WHERE x IN (SELECT x FROM b)")))
    cases.foreach { tables =>
      val (s, dag) = freshDag()
      dag.register(tables)
      val res = dag.run()
      assert(res.allSucceeded, res)
      val recorded = dag.getTables.map(t => t._1 -> t._4).toMap
      tables.flatMap(t => t.sql.map(t.name -> _)).foreach { case (name, sql) =>
        val read = s.sql(sql).queryExecution.analyzed
          .collectWithSubqueries { case v: View => v.desc.identifier.table.toLowerCase }.toSet
        assert(recorded(name).map(_.toLowerCase).toSet == read, s"$name: $sql")
      }
    }
  }

  test("clear drops views and registry") {
    val (s, dag) = freshDag()
    dag.register(Seq(DagTable.source("tmp", Seq("v" -> "INT64"), Seq(Seq(42)))))
    dag.run()
    assert(s.sql("SELECT v FROM tmp").collect()(0).getLong(0) == 42L)
    dag.clear()
    assert(dag.getTables.isEmpty)
    assertThrows[Exception](s.sql("SELECT v FROM tmp").collect())
  }
}

object DagSpec {
  /** Reached from the slot test's UDFs, which run in executor task
    * threads of this JVM (local mode).
    */
  @volatile var latch = new java.util.concurrent.CountDownLatch(0)
  @volatile var awaited = false
}
