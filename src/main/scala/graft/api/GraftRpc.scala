package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.graftbridge.ServedJob

import graft.engine.{DagTable, GraftSession, SessionManager}
import graft.sources.DirectoryCatalog

/** Method-for-method facade over the reference's RPC surface
  * (reference: src/rpc/methods.rs dispatch — bq.ping, bq.createSession,
  * bq.destroySession, bq.query, bq.createTable, bq.insert,
  * bq.registerDag, bq.runDag, bq.retryDag, bq.getDag, bq.clearDag,
  * bq.loadParquet, bq.listTables, bq.describeTable,
  * bq.setDefaultProject, bq.getDefaultProject, bq.getProjects,
  * bq.getDatasets, bq.getTablesInDataset, bq.loadSqlDirectory,
  * bq.loadParquetDirectory, bq.loadDagFromDirectory).
  *
  * Params/results are plain Scala Maps/Seqs (the JSON-RPC transport layer
  * of the reference is out of scope for a library; every method and its
  * semantics are preserved so a bq-runner client port is mechanical).
  */
final class GraftRpc(root: SparkSession, backend: graft.engine.ExecutorMode = graft.engine.ExecutorMode.Local) {

  private val sessions = new SessionManager(root)

  /** Sessions inherit the server's backend (reference: main.rs:80
    * `--backend mock|bigquery` → SessionManager::with_mode).
    */
  private val resolver: graft.engine.TableResolver = backend match {
    case graft.engine.ExecutorMode.Local => graft.engine.LocalResolver
    case graft.engine.ExecutorMode.BigQuery =>
      // Same env contract as the reference client init (bigquery.rs:40
      // reads BQ_DATASET; project comes from credentials there — here it
      // must be explicit since the connector wants parentProject).
      new graft.engine.BigQueryResolver(
        defaultProject = sys.env.get("BQ_PROJECT"),
        defaultDataset = sys.env.get("BQ_DATASET"),
        materializationDataset = sys.env.get("BQ_MATERIALIZATION_DATASET"),
        temporaryGcsBucket = sys.env.get("BQ_TEMP_GCS_BUCKET"))
  }
  private def session(params: Map[String, Any]): GraftSession = {
    val id = req(params, "sessionId").toString
    sessions.get(id).getOrElse(throw GraftError.UnknownSession(id))
  }

  private def req(params: Map[String, Any], key: String): Any =
    params.getOrElse(key, throw GraftError.InvalidParams(s"Missing param: $key"))

  /** Dispatch with the reference's error taxonomy (src/rpc/methods.rs +
    * src/error.rs): engine failures surface as [[GraftError]] kinds, so
    * callers (and the JSON-RPC transport) can branch on code/kind.
    *
    *  - analysis over a missing relation → UnknownTable (-32000);
    *  - any other Spark error while analysing or executing user SQL
    *    (every [[org.apache.spark.SparkThrowable]], including runtime
    *    ones such as `raise_error` or a `SparkNumberFormatException`)
    *    → QueryError (-32000);
    *  - a wrong-typed or missing parameter value → InvalidParams (-32600).
    */
  def dispatch(method: String, params: Map[String, Any] = Map.empty): Any =
    try dispatchImpl(method, params)
    catch {
      case e: GraftError => throw e
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null && e.getCondition.startsWith("TABLE_OR_VIEW_NOT_FOUND") =>
        // The analyzer quotes each part: `app`.`missing_t`.
        val table = Option(e.getMessageParameters.get("relationName"))
          .fold("?")(UnresolvedAttribute.parseAttributeName(_).mkString("."))
        throw GraftError.UnknownTable(table)
      case e: org.apache.spark.SparkThrowable =>
        throw GraftError.QueryError(String.valueOf(e.asInstanceOf[Throwable].getMessage))
      case e @ (_: ClassCastException | _: NoSuchElementException | _: NumberFormatException) =>
        throw GraftError.InvalidParams(s"Malformed params for $method: ${e.getMessage}")
    }

  private def dispatchImpl(method: String, params: Map[String, Any]): Any = method match {
    case "bq.ping" => Map("message" -> "pong")

    case "bq.createSession" => Map("sessionId" -> sessions.create(resolver).id)

    case "bq.destroySession" =>
      Map("success" -> sessions.destroy(req(params, "sessionId").toString))

    case "bq.query" =>
      // BigQuery's own jobs.query has maxResults paging semantics; cap
      // driver materialization the same way (default in
      // [[GraftRpc.DefaultMaxResults]]).
      val cap = params.get("maxResults").map(_.toString.toDouble.toInt)
        .getOrElse(GraftRpc.DefaultMaxResults)
      GraftRpc.toBqResponse(session(params).sql(req(params, "sql").toString), cap)

    case "bq.createTable" =>
      session(params).createTable(req(params, "tableName").toString, GraftRpc.schemaParam(params))
      Map("success" -> true)

    case "bq.insert" =>
      val rows = req(params, "rows").asInstanceOf[Seq[Seq[Any]]]
      Map("insertedRows" -> session(params).insert(req(params, "tableName").toString, rows))

    case "bq.registerDag" =>
      // Result shape = reference RegisterDagResult (rpc/types.rs:234).
      val s = session(params)
      val defs = req(params, "tables").asInstanceOf[Seq[Map[String, Any]]].map(GraftRpc.dagTableParam)
      Map(
        "success" -> true,
        "tables" -> s.dag.register(defs).map { case (n, deps) =>
          Map("name" -> n, "dependencies" -> deps)
        })

    case "bq.runDag" =>
      // Param "tableNames" = reference RunDagParams (rpc/types.rs:246);
      // "targets" kept as a Scala-friendly alias.
      val s = session(params)
      val targets = params.get("tableNames").orElse(params.get("targets"))
        .map(_.asInstanceOf[Seq[String]])
      val res = s.dag.run(targets)
      s.lastRun = Some(res)
      GraftRpc.toRunResult(res)

    case "bq.retryDag" =>
      // Reference RetryDagParams carries the failed/skipped lists
      // explicitly (rpc/types.rs:272); fall back to the last run when the
      // caller omits them.
      val s = session(params)
      val explicit = for {
        f <- params.get("failedTables").map(_.asInstanceOf[Seq[String]])
        k <- params.get("skippedTables").map(_.asInstanceOf[Seq[String]])
      } yield graft.engine.DagResult(
        failed = f.map(graft.engine.TableError(_, "")), skipped = k)
      val prev = explicit.orElse(s.lastRun)
        .getOrElse(throw GraftError.InvalidParams("No previous DAG run to retry"))
      val res = s.dag.retryFailed(prev)
      s.lastRun = Some(res)
      GraftRpc.toRunResult(res)

    case "bq.getDag" =>
      // Result shape = reference GetDagResult/DagTableDetail
      // (rpc/types.rs:288): sql key omitted for source tables.
      Map("tables" -> session(params).dag.getTables.map {
        case (name, sql, isSource, deps) =>
          Map("name" -> name, "isSource" -> isSource, "dependencies" -> deps) ++
            sql.map("sql" -> _)
      })

    case "bq.clearDag" =>
      session(params).dag.clear()
      Map("success" -> true)

    case "bq.loadParquet" =>
      val s = session(params)
      val path = req(params, "path").toString
      val name = req(params, "tableName").toString
      s.resolver match {
        // bigquery mode: the file becomes a REAL BigQuery table through
        // the connector write path (reference bigquery.rs:52
        // load_parquet — truncate-load, row count from the job).
        case bq: graft.engine.BigQueryResolver =>
          Map("loadedRows" -> bq.loadParquet(s.spark, name, path))
        case _ =>
          val (df, rows) = DirectoryCatalog.readParquet(s, path)
          s.replaceView(name, df, Some(rows))
          Map("loadedRows" -> rows)
      }

    case "bq.listTables" =>
      val s = session(params)
      s.listTables().map(t => Map("name" -> t, "rowCount" -> s.rowCount(t)))

    case "bq.describeTable" =>
      val (schema, count) = session(params).describeTable(req(params, "tableName").toString)
      Map(
        "schema" -> schema.map { case (n, t) => Map("name" -> n, "type" -> t) },
        "rowCount" -> count)

    case "bq.setDefaultProject" =>
      session(params).defaultProject = params.get("project").flatMap(Option(_)).map(_.toString)
      Map("success" -> true)

    case "bq.getDefaultProject" =>
      Map("project" -> session(params).defaultProject.orNull)

    case "bq.getProjects" =>
      DirectoryCatalog.listProjects(rootOf(params))

    case "bq.getDatasets" =>
      DirectoryCatalog.listDatasets(rootOf(params), req(params, "project").toString)

    case "bq.getTablesInDataset" =>
      DirectoryCatalog.listTablesIn(rootOf(params), req(params, "project").toString, req(params, "dataset").toString)

    case "bq.loadParquetDirectory" =>
      // Result shape = reference LoadParquetDirectoryResult
      // (rpc/types.rs:456): success + tablesLoaded rows with rowCount.
      val s = session(params)
      val path = reqRoot(params)
      s.catalogRoot = Some(path)
      Map(
        "success" -> true,
        "tablesLoaded" -> DirectoryCatalog.loadParquetDirectoryInfo(s, path)
          .map { case (d, n) => GraftRpc.parquetTableInfo(d, n) })

    case "bq.loadSqlDirectory" =>
      // Reference load_sql_directory (manager.rs:282-312): ONLY the
      // discovered .sql files register, as derived DAG tables; parquet
      // files are untouched — no source views, no loads. Result shape =
      // LoadSqlDirectoryResult (methods.rs:331-343, rpc/types.rs:433).
      val s = session(params)
      val path = reqRoot(params)
      s.catalogRoot = Some(path)
      val (dag, sqlInfos) = DirectoryCatalog.loadSqlDag(s, path)
      s.dag = dag
      Map(
        "success" -> true,
        "tablesLoaded" -> sqlInfos.map(GraftRpc.sqlTableInfo))

    case "bq.loadDagFromDirectory" =>
      // Reference load_dag_from_directory (manager.rs:368-400): parquet
      // files parallel-load as sources AND .sql files register as the
      // DAG. Result shape = LoadDagFromDirectoryResult (rpc/types.rs:481):
      // sourceTables (with rowCount), computedTables, dagInfo (the
      // register_dag return — computed tables only, with dependencies).
      val s = session(params)
      val path = reqRoot(params)
      s.catalogRoot = Some(path)
      val (dag, srcInfos, sqlInfos) = DirectoryCatalog.loadDagFrom(s, path)
      s.dag = dag
      Map(
        "success" -> true,
        "sourceTables" -> srcInfos.map { case (d, n) => GraftRpc.parquetTableInfo(d, n) },
        "computedTables" -> sqlInfos.map(GraftRpc.sqlTableInfo),
        "dagInfo" -> dag.getTables.collect { case (name, _, false, deps) =>
          Map("name" -> name, "dependencies" -> deps)
        })

    case other => throw GraftError.MethodNotFound(other)
  }

  private def rootOf(params: Map[String, Any]): String =
    params.get("rootPath").orElse(params.get("path")).map(_.toString)
      .orElse(session(params).catalogRoot)
      .getOrElse(throw GraftError.LoaderError("No catalog root loaded for session"))

  /** Directory-loader root param. The reference deserializes the wire
    * key `rootPath` (rpc/types.rs:428/451/476 serde rename) for all
    * three bq.load*Directory methods; `path` stays accepted as an alias.
    */
  private def reqRoot(params: Map[String, Any]): String =
    params.get("rootPath").orElse(params.get("path")).map(_.toString)
      .getOrElse(throw GraftError.InvalidParams("Missing required param: rootPath"))
}

object GraftRpc {

  /** Default driver-side row cap for bq.query responses. BigQuery's
    * jobs.query API has the same knob (maxResults); without a cap a
    * `SELECT *` over a 100 TB table would `collect()` onto the driver.
    */
  val DefaultMaxResults: Int = 10000

  /** BigQuery queryResponse shape (reference: executor/yachtsql.rs:208
    * to_bq_response): schema fields, rows as {"f": [{"v": ...}]},
    * totalRows, jobComplete.
    *
    * Materialization is bounded: `limit(maxResults + 1)` plans a
    * CollectLimit, whose one result partition holds at most that many
    * rows, so the full result is never resident on the driver. It runs
    * as one SQL execution and one job ([[ServedJob.collect]]), whose task
    * function is a named class rather than a lambda: for a lambda, Spark
    * re-reads and parses the class file that declares it on every job,
    * over a third of a small query's time. When the result exceeds
    * the cap, the response carries `truncated: true` so clients can
    * re-query with a filter or a higher explicit maxResults.
    */
  def toBqResponse(df: DataFrame, maxResults: Int = DefaultMaxResults): Map[String, Any] = {
    if (maxResults <= 0) throw GraftError.InvalidParams(s"maxResults must be positive: $maxResults")
    val schema = df.schema.fields.map(f =>
      Map("name" -> f.name, "type" -> GraftSession.sparkTypeToBq(f.dataType)))
    val all = ServedJob.collect(df.limit(maxResults + 1))
    val rows = all.take(maxResults).map(r => Map("f" -> r.toSeq.map(v => Map("v" -> v))))
    Map(
      "kind" -> "bigquery#queryResponse",
      "schema" -> Map("fields" -> schema.toSeq),
      "rows" -> rows,
      "totalRows" -> rows.size.toString,
      "jobComplete" -> true) ++
      (if (all.size > maxResults) Map("truncated" -> true) else Map.empty)
  }

  private def schemaParam(params: Map[String, Any]): Seq[(String, String)] =
    params("schema").asInstanceOf[Seq[Map[String, Any]]]
      .map(c => c("name").toString -> c("type").toString)

  /** Reference SqlTableInfo (rpc/types.rs:440). */
  private def sqlTableInfo(d: DirectoryCatalog.Discovered): Map[String, Any] =
    Map("project" -> d.project, "dataset" -> d.dataset, "table" -> d.table, "path" -> d.path)

  /** Reference ParquetTableInfo (rpc/types.rs:463). */
  private def parquetTableInfo(d: DirectoryCatalog.Discovered, rowCount: Long): Map[String, Any] =
    sqlTableInfo(d) + ("rowCount" -> rowCount)

  private def dagTableParam(m: Map[String, Any]): DagTable =
    DagTable(
      name = m("name").toString,
      sql = m.get("sql").map(_.toString),
      schema = m.get("schema").map(_.asInstanceOf[Seq[Map[String, Any]]]
        .map(c => c("name").toString -> c("type").toString)),
      rows = m.get("rows").map(_.asInstanceOf[Seq[Seq[Any]]]).getOrElse(Nil))

  /** Reference RunDagResult shape (rpc/types.rs:256). */
  private def toRunResult(res: graft.engine.DagResult): Map[String, Any] =
    Map(
      "success" -> res.allSucceeded,
      "succeededTables" -> res.succeeded,
      "failedTables" -> res.failed.map(e => Map("table" -> e.table, "error" -> e.error)),
      "skippedTables" -> res.skipped)
}
