package graft.api

import org.apache.spark.graftbridge.BatchBlocks
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Drives the full reference RPC flow end-to-end through the facade
  * (mirrors adaptors/clojure/test flows: session → tables → query → DAG →
  * retry → clear → destroy).
  */
class GraftRpcSpec extends SparkSpec {

  private lazy val rpc = new GraftRpc(spark)

  private def sid(): String =
    rpc.dispatch("bq.createSession").asInstanceOf[Map[String, Any]]("sessionId").toString

  test("ping") {
    assert(rpc.dispatch("bq.ping") == Map("message" -> "pong"))
  }

  test("create/insert/query round trip with BigQuery response shape") {
    val s = sid()
    rpc.dispatch("bq.createTable", Map("sessionId" -> s, "tableName" -> "users",
      "schema" -> Seq(Map("name" -> "id", "type" -> "INT64"), Map("name" -> "name", "type" -> "STRING"))))
    val ins = rpc.dispatch("bq.insert", Map("sessionId" -> s, "tableName" -> "users",
      "rows" -> Seq(Seq(1, "Alice"), Seq(2, "Bob")))).asInstanceOf[Map[String, Any]]
    assert(ins("insertedRows") == 2L)
    val resp = rpc.dispatch("bq.query", Map("sessionId" -> s,
      "sql" -> "SELECT * FROM users ORDER BY id")).asInstanceOf[Map[String, Any]]
    assert(resp("kind") == "bigquery#queryResponse")
    assert(resp("totalRows") == "2")
    val fields = resp("schema").asInstanceOf[Map[String, Any]]("fields").asInstanceOf[Seq[Map[String, Any]]]
    assert(fields.map(_("name")) == Seq("id", "name"))
    assert(fields.map(_("type")) == Seq("INT64", "STRING"))
    val rows = resp("rows").asInstanceOf[Seq[Map[String, Any]]]
    val first = rows.head("f").asInstanceOf[Seq[Map[String, Any]]]
    assert(first.map(_("v")) == Seq(1L, "Alice"))
  }

  test("DAG lifecycle: register, run, failure, retry, getDag, clear") {
    val s = sid()
    rpc.dispatch("bq.registerDag", Map("sessionId" -> s, "tables" -> Seq(
      Map("name" -> "src", "schema" -> Seq(Map("name" -> "v", "type" -> "INT64")),
        "rows" -> Seq(Seq(2), Seq(3))),
      Map("name" -> "bad", "sql" -> "SELECT missing_col FROM src"),
      Map("name" -> "child", "sql" -> "SELECT * FROM bad"))))
    val run1 = rpc.dispatch("bq.runDag", Map("sessionId" -> s)).asInstanceOf[Map[String, Any]]
    assert(run1("succeededTables") == Seq("src"))
    assert(run1("skippedTables") == Seq("child"))
    assert(run1("success") == false)

    // Fix and retry only failed+skipped.
    rpc.dispatch("bq.registerDag", Map("sessionId" -> s, "tables" -> Seq(
      Map("name" -> "bad", "sql" -> "SELECT v * 10 AS v FROM src"))))
    val run2 = rpc.dispatch("bq.retryDag", Map("sessionId" -> s)).asInstanceOf[Map[String, Any]]
    assert(run2("success") == true)
    val resp = rpc.dispatch("bq.query", Map("sessionId" -> s,
      "sql" -> "SELECT SUM(v) AS t FROM child")).asInstanceOf[Map[String, Any]]
    val v = resp("rows").asInstanceOf[Seq[Map[String, Any]]].head("f")
      .asInstanceOf[Seq[Map[String, Any]]].head("v")
    assert(v == 50L)

    def dagTables() = rpc.dispatch("bq.getDag", Map("sessionId" -> s))
      .asInstanceOf[Map[String, Any]]("tables").asInstanceOf[Seq[Map[String, Any]]]
    assert(dagTables().map(_("name")).toSet == Set("src", "bad", "child"))
    rpc.dispatch("bq.clearDag", Map("sessionId" -> s))
    assert(dagTables().isEmpty)
  }

  test("parquet load + listTables + describeTable + catalog navigation") {
    import spark.implicits._
    val s = sid()
    val root = java.nio.file.Files.createTempDirectory("rpccat")
    val ds = root.resolve("proj/mart")
    java.nio.file.Files.createDirectories(ds)
    Seq((1L, 2.5), (2L, 3.5)).toDF("k", "x")
      .write.mode("overwrite").parquet(ds.resolve("facts.parquet").toString)

    val loaded = rpc.dispatch("bq.loadParquet", Map("sessionId" -> s,
      "tableName" -> "facts", "path" -> ds.resolve("facts.parquet").toString))
      .asInstanceOf[Map[String, Any]]
    assert(loaded("loadedRows") == 2L)

    val desc = rpc.dispatch("bq.describeTable", Map("sessionId" -> s, "tableName" -> "facts"))
      .asInstanceOf[Map[String, Any]]
    assert(desc("rowCount") == 2L)

    rpc.dispatch("bq.loadParquetDirectory", Map("sessionId" -> s, "path" -> root.toString))
    assert(rpc.dispatch("bq.getProjects", Map("sessionId" -> s)) == Seq("proj"))
    assert(rpc.dispatch("bq.getDatasets", Map("sessionId" -> s, "project" -> "proj")) == Seq("mart"))
    assert(rpc.dispatch("bq.getTablesInDataset",
      Map("sessionId" -> s, "project" -> "proj", "dataset" -> "mart")) == Seq("facts"))
  }

  test("default project set/get and session destroy") {
    val s = sid()
    rpc.dispatch("bq.setDefaultProject", Map("sessionId" -> s, "project" -> "p1"))
    assert(rpc.dispatch("bq.getDefaultProject", Map("sessionId" -> s)) == Map("project" -> "p1"))
    rpc.dispatch("bq.setDefaultProject", Map("sessionId" -> s))
    assert(rpc.dispatch("bq.getDefaultProject", Map("sessionId" -> s)) == Map("project" -> null))
    assert(rpc.dispatch("bq.destroySession", Map("sessionId" -> s)) == Map("success" -> true))
    assertThrows[GraftError.UnknownSession](
      rpc.dispatch("bq.query", Map("sessionId" -> s, "sql" -> "SELECT 1")))
  }

  test("destroySession releases the session's insert snapshots") {
    val before = held()
    val s = sid()
    rpc.dispatch("bq.createTable", Map("sessionId" -> s, "tableName" -> "t",
      "schema" -> Seq(Map("name" -> "v", "type" -> "INT64"))))
    (1 to 3).foreach(i => rpc.dispatch("bq.insert",
      Map("sessionId" -> s, "tableName" -> "t", "rows" -> Seq(Seq(i)))))
    rpc.dispatch("bq.registerDag", Map("sessionId" -> s, "tables" -> Seq(
      Map("name" -> "doubled", "sql" -> "SELECT v * 2 AS v2 FROM t"))))
    val run = rpc.dispatch("bq.runDag", Map("sessionId" -> s)).asInstanceOf[Map[String, Any]]
    assert(run("success") == true)
    val during = held() -- before
    assert(during.count(_.startsWith("batch")) == 3, s"the inserted table keeps its batches: $during")
    assert(during.count(_.startsWith("rdd")) == 1, s"the DAG table keeps a snapshot: $during")
    assert(rpc.dispatch("bq.destroySession", Map("sessionId" -> s)) == Map("success" -> true))
    // Back to the pre-session set: nothing held since survives (the
    // context cleaner may only have removed older entries meanwhile).
    released(during)
  }

  private def call(method: String, params: (String, Any)*): Map[String, Any] =
    rpc.dispatch(method, params.toMap).asInstanceOf[Map[String, Any]]

  private def ints(resp: Map[String, Any]): Seq[Long] =
    resp("rows").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("f").asInstanceOf[Seq[Map[String, Any]]].head("v").asInstanceOf[Long])

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](f: => A): (A, Int) = {
    import org.apache.spark.graftbridge.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
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

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The data sessions hold: persisted RDDs (DAG snapshots) and the row
    * batches of inserted tables.
    */
  private def held(): Set[String] =
    persisted().map(id => s"rdd $id") ++ BatchBlocks.live().map(id => s"batch $id")

  /** Wait until none of `data` is held. A batch's blocks are removed
    * asynchronously after the session releases it.
    */
  private def released(data: Set[String]): Unit =
    eventually(timeout(10.seconds), interval(20.millis)) {
      assert((held() & data).isEmpty, s"still held: ${held() & data}")
    }

  /** Paths under the scratch root that belong to session `id`. */
  private def scratchOf(id: String): Seq[java.nio.file.Path] = {
    val root = graft.Scratch.root
    val walk = java.nio.file.Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
      .filter(p => root.relativize(p).toString.contains(id)).toSeq
    finally walk.close()
  }

  test("insert keeps exactly one snapshot per table and releases the replaced one") {
    // An inserted table holds one copy of its rows: one batch per insert,
    // kept by later inserts, and no persisted RDD.
    val before = held()
    val s = sid()
    call("bq.createTable", "sessionId" -> s, "tableName" -> "t",
      "schema" -> Seq(Map("name" -> "v", "type" -> "INT64")))
    var previous = Set.empty[String]
    (1 to 5).foreach { i =>
      call("bq.insert", "sessionId" -> s, "tableName" -> "t", "rows" -> Seq(Seq(i), Seq(10 * i)))
      val now = held() -- before
      assert(now.size == i && now.forall(_.startsWith("batch")), s"after insert $i the session holds $now")
      assert(previous.subsetOf(now), s"insert $i dropped ${previous -- now}")
      previous = now
    }
    assert(ints(call("bq.query", "sessionId" -> s, "sql" -> "SELECT v FROM t ORDER BY v")) ==
      (1 to 5).flatMap(i => Seq(i.toLong, 10L * i)).sorted)
    // Re-creating the table releases its batches.
    call("bq.createTable", "sessionId" -> s, "tableName" -> "T",
      "schema" -> Seq(Map("name" -> "v", "type" -> "INT64")))
    released(previous)
    assert(ints(call("bq.query", "sessionId" -> s, "sql" -> "SELECT v FROM t")).isEmpty)
    call("bq.destroySession", "sessionId" -> s)
  }

  test("bq.insert rejects a row of the wrong width and leaves the table unchanged") {
    val s = sid()
    call("bq.createTable", "sessionId" -> s, "tableName" -> "pairs",
      "schema" -> Seq(Map("name" -> "k", "type" -> "INT64"), Map("name" -> "name", "type" -> "STRING")))
    call("bq.insert", "sessionId" -> s, "tableName" -> "pairs", "rows" -> Seq(Seq(1, "a")))
    def insert(rows: String): Map[String, Any] = Json.parse(RpcServer.processMessage(
      s"""{"jsonrpc":"2.0","id":7,"method":"bq.insert","params":{"sessionId":"$s","tableName":"pairs","rows":$rows}}""",
      rpc)).asInstanceOf[Map[String, Any]]
    Seq("""[[2,"b"],[1,"x",99]]""" -> "Row 1 of pairs has 3 values", "[[2]]" -> "Row 0 of pairs has 1 values")
      .foreach { case (rows, expected) =>
        val err = insert(rows)("error").asInstanceOf[Map[String, Any]]
        assert(err("code") == -32600L, err)
        assert(err("message").toString.contains(s"$expected, but the table has 2 columns"), err)
      }
    assert(call("bq.describeTable", "sessionId" -> s, "tableName" -> "pairs")("rowCount") == 1L)
    assert(ints(call("bq.query", "sessionId" -> s, "sql" -> "SELECT k FROM pairs")) == Seq(1L))
    call("bq.destroySession", "sessionId" -> s)
  }

  test("describeTable and listTables count inserted tables without a job, exactly") {
    val s = sid()
    val schema = Seq(Map("name" -> "v", "type" -> "INT64"))
    def insert(t: String, vs: Long*): Unit =
      call("bq.insert", "sessionId" -> s, "tableName" -> t, "rows" -> vs.map(Seq(_)))
    def described(t: String): (Any, Int) =
      jobsOf(call("bq.describeTable", "sessionId" -> s, "tableName" -> t)("rowCount"))
    def listed(id: String = s): (Map[Any, Any], Int) = jobsOf(rpc.dispatch("bq.listTables", Map("sessionId" -> id))
      .asInstanceOf[Seq[Map[String, Any]]].map(m => m("name") -> m("rowCount")).toMap)

    call("bq.createTable", "sessionId" -> s, "tableName" -> "a", "schema" -> schema)
    assert(described("a") == (0L, 0))
    insert("a", 1, 2); insert("a", 3, 4, 5); insert("a", 6)
    assert(described("a") == (6L, 0))
    assert(described("A") == (6L, 0))
    call("bq.createTable", "sessionId" -> s, "tableName" -> "b", "schema" -> schema)
    insert("b", 7)
    assert(listed() == (Map("a" -> 6L, "b" -> 1L), 0))

    // Re-creating a table starts its count over.
    call("bq.createTable", "sessionId" -> s, "tableName" -> "a", "schema" -> schema)
    insert("a", 1, 2)
    assert(described("a") == (2L, 0))

    // Re-bound by bq.loadParquet: the loader's count, then inserts on top.
    import spark.implicits._
    val root = graft.Scratch.dir("rpccount-")
    val path = root.resolve("a.parquet").toString
    (1L to 5L).toDF("v").write.parquet(path)
    call("bq.loadParquet", "sessionId" -> s, "tableName" -> "a", "path" -> path)
    assert(described("a") == (5L, 0))
    call("bq.loadParquet", "sessionId" -> s, "tableName" -> "p", "path" -> path)
    insert("p", 6, 7)
    assert(described("p") == (7L, 0))

    // Re-bound by a DAG run, then inserted into: the snapshot's job counted it.
    call("bq.registerDag", "sessionId" -> s, "tables" -> Seq(
      Map("name" -> "b", "sql" -> "SELECT v FROM a WHERE v > 2")))
    assert(call("bq.runDag", "sessionId" -> s)("success") == true)
    assert(described("b") == (3L, 0))
    insert("b", 8, 9)
    assert(described("b") == (5L, 0))
    assert(listed() == (Map("a" -> 5L, "b" -> 5L, "p" -> 7L), 0))
    call("bq.destroySession", "sessionId" -> s)

    // Directory loaders: every parquet name keeps the count its loader
    // took, and every derived table the count its snapshot took.
    val ds = java.nio.file.Files.createDirectories(root.resolve("tree/proj/mart"))
    (1L to 3L).toDF("k").write.parquet(ds.resolve("facts.parquet").toString)
    java.nio.file.Files.writeString(ds.resolve("big.sql"), "SELECT k FROM facts WHERE k > 1")
    val d = sid()
    call("bq.loadParquetDirectory", "sessionId" -> d, "rootPath" -> root.resolve("tree").toString)
    assert(listed(d) == (Map("facts" -> 3L, "proj_mart_facts" -> 3L), 0))
    call("bq.loadDagFromDirectory", "sessionId" -> d, "rootPath" -> root.resolve("tree").toString)
    assert(call("bq.runDag", "sessionId" -> d)("success") == true)
    assert(jobsOf(call("bq.describeTable", "sessionId" -> d, "tableName" -> "facts")("rowCount")) == (3L, 0))
    assert(jobsOf(call("bq.describeTable", "sessionId" -> d, "tableName" -> "big")("rowCount")) == (2L, 0))
    assert(listed(d) == (Map("big" -> 2L, "facts" -> 3L, "proj_mart_facts" -> 3L), 0))
    call("bq.destroySession", "sessionId" -> d)
  }

  test("bq.loadParquet runs two jobs: the schema read and one row count") {
    import spark.implicits._
    val s = sid()
    val path = graft.Scratch.dir("rpcload-").resolve("t.parquet").toString
    (1L to 40L).toDF("v").repartition(4).write.parquet(path)
    val (loaded, jobs) = jobsOf(call("bq.loadParquet", "sessionId" -> s, "tableName" -> "t", "path" -> path))
    assert(loaded("loadedRows") == 40L)
    assert(jobs == 2, s"$jobs jobs")
    call("bq.destroySession", "sessionId" -> s)
  }

  test("destroySession closes only its own session: views, snapshots and scratch dir") {
    /** A session with an inserted `t` and two derived DAG tables over it,
      * and the data `t` and the DAG tables hold.
      */
    def populate(): (String, Set[String], Set[String]) = {
      val start = held()
      val s = sid()
      call("bq.createTable", "sessionId" -> s, "tableName" -> "t",
        "schema" -> Seq(Map("name" -> "v", "type" -> "INT64")))
      (1 to 3).foreach(i => call("bq.insert", "sessionId" -> s, "tableName" -> "t", "rows" -> Seq(Seq(i))))
      val inserted = held() -- start
      call("bq.registerDag", "sessionId" -> s, "tables" -> Seq(
        Map("name" -> "doubled", "sql" -> "SELECT v * 2 AS v FROM t"),
        Map("name" -> "total", "sql" -> "SELECT SUM(v) AS v FROM doubled")))
      assert(call("bq.runDag", "sessionId" -> s)("success") == true)
      (s, inserted, held() -- start -- inserted)
    }
    val (first, firstT, firstDag) = populate()
    val (second, secondT, secondDag) = populate()
    // `t` holds one batch per insert; each DAG table one snapshot.
    assert(Seq(firstT, secondT).forall(t => t.size == 3 && t.forall(_.startsWith("batch"))), (firstT, secondT))
    assert(Seq(firstDag, secondDag).forall(d => d.size == 2 && d.forall(_.startsWith("rdd"))), (firstDag, secondDag))
    // Sessions write no files: nothing under the scratch root is theirs.
    assert(scratchOf(first).isEmpty && scratchOf(second).isEmpty, scratchOf(first) ++ scratchOf(second))

    assert(call("bq.destroySession", "sessionId" -> first)("success") == true)
    released(firstT ++ firstDag)
    assert((secondT ++ secondDag).subsetOf(held()))
    assert(ints(call("bq.query", "sessionId" -> second, "sql" -> "SELECT v FROM total")) == Seq(12L))

    assert(call("bq.clearDag", "sessionId" -> second)("success") == true)
    assert((held() & secondDag).isEmpty, s"clearDag kept ${held() & secondDag}")
    assert(secondT.subsetOf(held()))
    assert(ints(call("bq.query", "sessionId" -> second, "sql" -> "SELECT v FROM t ORDER BY v")) == Seq(1L, 2L, 3L))
    call("bq.destroySession", "sessionId" -> second)
    released(secondT)
    assert(scratchOf(second).isEmpty)
  }

  test("re-binding an inserted name by bq.loadParquet or a DAG table releases its snapshot") {
    import spark.implicits._
    val before = held()
    val s = sid()
    val schema = Seq(Map("name" -> "v", "type" -> "INT64"))
    def insert(t: String, vs: Long*): Unit =
      call("bq.insert", "sessionId" -> s, "tableName" -> t, "rows" -> vs.map(Seq(_)))
    def described(t: String): Any = call("bq.describeTable", "sessionId" -> s, "tableName" -> t)("rowCount")

    call("bq.createTable", "sessionId" -> s, "tableName" -> "a", "schema" -> schema)
    insert("a", 1, 2, 3)
    val insertedA = held() -- before
    assert(insertedA.size == 1)
    val path = graft.Scratch.dir("rpcrebind-").resolve("a.parquet").toString
    (1L to 5L).toDF("v").write.parquet(path)
    call("bq.loadParquet", "sessionId" -> s, "tableName" -> "A", "path" -> path)
    released(insertedA)
    assert(described("a") == 5L)

    call("bq.createTable", "sessionId" -> s, "tableName" -> "b", "schema" -> schema)
    insert("b", 7, 8)
    val inserted = held() -- before
    assert(inserted.size == 1)
    call("bq.registerDag", "sessionId" -> s, "tables" -> Seq(
      Map("name" -> "b", "sql" -> "SELECT v FROM a WHERE v > 2")))
    assert(call("bq.runDag", "sessionId" -> s)("success") == true)
    released(inserted)
    val derived = held() -- before
    assert(derived.size == 1 && derived.forall(_.startsWith("rdd")), s"b holds $derived")
    assert(described("b") == 3L)
    assert(ints(call("bq.query", "sessionId" -> s, "sql" -> "SELECT v FROM b ORDER BY v")) == Seq(3L, 4L, 5L))
    call("bq.destroySession", "sessionId" -> s)
  }

  test("bq.insert into a name bound by bq.loadParquet appends to the parquet rows") {
    import spark.implicits._
    val s = sid()
    val path = graft.Scratch.dir("rpcappend-").resolve("p.parquet").toString
    (1L to 5L).toDF("v").write.parquet(path)
    call("bq.loadParquet", "sessionId" -> s, "tableName" -> "p", "path" -> path)
    call("bq.insert", "sessionId" -> s, "tableName" -> "p", "rows" -> Seq(Seq(6), Seq(7), Seq(8)))
    assert(ints(call("bq.query", "sessionId" -> s, "sql" -> "SELECT v FROM p ORDER BY v")) == (1L to 8L))
    assert(call("bq.describeTable", "sessionId" -> s, "tableName" -> "p")("rowCount") == 8L)
    call("bq.insert", "sessionId" -> s, "tableName" -> "p", "rows" -> Seq(Seq(9)))
    assert(call("bq.describeTable", "sessionId" -> s, "tableName" -> "p")("rowCount") == 9L)
    assert(ints(call("bq.query", "sessionId" -> s, "sql" -> "SELECT SUM(v) AS v FROM p")) == Seq(45L))
    call("bq.destroySession", "sessionId" -> s)
  }

  /** The JSON-RPC error a request answers through the wire transport. */
  private def wireError(method: String, params: (String, Any)*): Map[String, Any] =
    Json.parse(RpcServer.processMessage(
      Json.write(Map("jsonrpc" -> "2.0", "id" -> 1, "method" -> method, "params" -> params.toMap)), rpc))
      .asInstanceOf[Map[String, Any]]("error").asInstanceOf[Map[String, Any]]

  test("loaders answer LoaderError for a missing root and for a corrupt parquet file") {
    val s = sid()
    val missing = graft.Scratch.dir("rpcmissing-").resolve("no_such_root").toString
    Seq("bq.loadParquetDirectory", "bq.loadSqlDirectory", "bq.loadDagFromDirectory", "bq.getProjects")
      .foreach { m =>
        val err = wireError(m, "sessionId" -> s, "rootPath" -> missing)
        assert(err("code") == -32001L, s"$m: $err")
        assert(err("message").toString.contains(s"Root path is not a directory: $missing"), s"$m: $err")
      }
    val root = graft.Scratch.dir("rpccorrupt-")
    val ds = java.nio.file.Files.createDirectories(root.resolve("proj/mart"))
    val bad = java.nio.file.Files.write(ds.resolve("broken.parquet"), "not a parquet file".getBytes)
    Seq("bq.loadParquetDirectory", "bq.loadDagFromDirectory").foreach { m =>
      val err = wireError(m, "sessionId" -> s, "rootPath" -> root.toString)
      assert(err("code") == -32001L, s"$m: $err")
      assert(err("message").toString.contains(s"Failed to load parquet at $bad"), s"$m: $err")
    }
    val err = wireError("bq.loadParquet", "sessionId" -> s, "tableName" -> "broken", "path" -> bad.toString)
    assert(err("code") == -32001L, err)
    call("bq.destroySession", "sessionId" -> s)
  }

  test("createTable with an unknown type and insert of an unparseable date or timestamp are InvalidParams") {
    val s = sid()
    val unknown = wireError("bq.createTable", "sessionId" -> s, "tableName" -> "w",
      "schema" -> Seq(Map("name" -> "k", "type" -> "WIBBLE")))
    assert(unknown("code") == -32600L, unknown)
    assert(unknown("message").toString.contains("Unsupported BigQuery type: WIBBLE"), unknown)
    call("bq.createTable", "sessionId" -> s, "tableName" -> "dated",
      "schema" -> Seq(Map("name" -> "d", "type" -> "DATE"), Map("name" -> "ts", "type" -> "TIMESTAMP")))
    Seq(
      Seq("2024-13-45x", "2024-01-02 03:04:05") -> "Invalid DATE value: '2024-13-45x'",
      Seq("2024-01-02", "yesterday") -> "Invalid TIMESTAMP value: 'yesterday'").foreach { case (row, expected) =>
      val err = wireError("bq.insert", "sessionId" -> s, "tableName" -> "dated", "rows" -> Seq(row))
      assert(err("code") == -32600L, err)
      assert(err("message").toString.contains(expected), err)
    }
    call("bq.insert", "sessionId" -> s, "tableName" -> "dated", "rows" -> Seq(Seq("2024-01-02", "2024-01-02T03:04:05")))
    assert(call("bq.describeTable", "sessionId" -> s, "tableName" -> "dated")("rowCount") == 1L)

    // A value of the wrong type names its row, column and BigQuery type,
    // and nothing of the call is appended.
    call("bq.createTable", "sessionId" -> s, "tableName" -> "typed", "schema" -> Seq(
      Map("name" -> "s", "type" -> "STRING"), Map("name" -> "n", "type" -> "INT64"),
      Map("name" -> "b", "type" -> "BOOL"), Map("name" -> "x", "type" -> "FLOAT64")))
    val good = Seq("a", 1, true, 1.5)
    Seq(
      Seq(42, 1, true, 1.5) -> "Row 1 of typed, column s: expected STRING, got 42",
      Seq(Map("k" -> 1), 1, true, 1.5) -> """Row 1 of typed, column s: expected STRING, got {"k":1}""",
      Seq("a", "1", true, 1.5) -> """Row 1 of typed, column n: expected INT64, got "1"""",
      Seq("a", 1, "true", 1.5) -> """Row 1 of typed, column b: expected BOOL, got "true"""",
      Seq("a", 1, true, "1.5") -> """Row 1 of typed, column x: expected FLOAT64, got "1.5"""").foreach {
      case (row, expected) =>
        val err = wireError("bq.insert", "sessionId" -> s, "tableName" -> "typed", "rows" -> Seq(good, row))
        assert(err("code") == -32600L, err)
        assert(err("message").toString.contains(expected), err)
    }
    assert(call("bq.describeTable", "sessionId" -> s, "tableName" -> "typed")("rowCount") == 0L)
    assert(call("bq.query", "sessionId" -> s, "sql" -> "SELECT * FROM typed")("totalRows") == "0")
    call("bq.destroySession", "sessionId" -> s)
  }

  test("UnknownTable names a missing table without the analyzer's quotes") {
    val s = sid()
    Seq(
      "SELECT * FROM missing_t" -> "missing_t",
      "SELECT * FROM app.missing_t" -> "app.missing_t",
      "SELECT * FROM `we``ird`" -> "we`ird",
      "SELECT * FROM `a.b`" -> "a.b").foreach { case (sql, name) =>
      val err = wireError("bq.query", "sessionId" -> s, "sql" -> sql)
      assert(err("code") == -32000L, err)
      assert(err("data") == Map("kind" -> "UnknownTable"), err)
      assert(err("message").toString.endsWith(s"Table not found: $name"), err)
    }
    call("bq.destroySession", "sessionId" -> s)
  }
}
