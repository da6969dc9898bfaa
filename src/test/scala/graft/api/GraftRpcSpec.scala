package graft.api

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
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val s = sid()
    rpc.dispatch("bq.createTable", Map("sessionId" -> s, "tableName" -> "t",
      "schema" -> Seq(Map("name" -> "v", "type" -> "INT64"))))
    (1 to 3).foreach(i => rpc.dispatch("bq.insert",
      Map("sessionId" -> s, "tableName" -> "t", "rows" -> Seq(Seq(i)))))
    rpc.dispatch("bq.registerDag", Map("sessionId" -> s, "tables" -> Seq(
      Map("name" -> "doubled", "sql" -> "SELECT v * 2 AS v2 FROM t"))))
    val run = rpc.dispatch("bq.runDag", Map("sessionId" -> s)).asInstanceOf[Map[String, Any]]
    assert(run("success") == true)
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.size >= 3, s"each insert keeps a snapshot: $during")
    assert(rpc.dispatch("bq.destroySession", Map("sessionId" -> s)) == Map("success" -> true))
    // Back to the pre-session set: nothing persisted since survives (the
    // context cleaner may only have removed older entries meanwhile).
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"left persisted: ${sc.getPersistentRDDs.keySet -- before}")
  }
}
