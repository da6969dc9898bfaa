package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.GraftError

/** Pluggable table-resolution seam, mirroring the reference's executor
  * switch (reference: src/executor/mod.rs `ExecutorMode` { Mock,
  * BigQuery } and the per-session `Executor` enum; CLI flag `--backend
  * mock|bigquery` in src/main.rs:80). There are two backends, as in the
  * reference: local ("mock") and BigQuery.
  *
  * Spark-first realization: the thing that actually differs between a
  * local session and a remote-BigQuery session is WHERE a table name
  * resolves — the session's temp-view catalog, or a DataSource V2 read
  * through the spark-bigquery connector — and where SQL runs: locally
  * through [[graft.functions.BQCompat.parse]], or pushed verbatim to
  * BigQuery ([[GraftSession.sql]]).
  */
sealed trait ExecutorMode
object ExecutorMode {
  case object Local extends ExecutorMode
  case object BigQuery extends ExecutorMode

  def parse(s: String): ExecutorMode = s.trim.toLowerCase match {
    case "mock" | "local" => Local
    case "bigquery" => BigQuery
    case other => throw GraftError.InvalidParams(s"Unknown backend: $other (use mock|bigquery)")
  }
}

/** Where a table name resolves when it is not a session view:
  * [[LocalResolver]] or [[BigQueryResolver]].
  */
sealed trait TableResolver {
  /** Produce the DataFrame a table name denotes in this backend. */
  def resolve(spark: SparkSession, name: String): DataFrame
}

/** Default backend: names are session temp views (the reference's Mock /
  * YachtSQL executor, re-expressed as Spark's own catalog).
  */
object LocalResolver extends TableResolver {
  def resolve(spark: SparkSession, name: String): DataFrame =
    if (spark.catalog.tableExists(name)) spark.table(name)
    else throw GraftError.UnknownTable(name)
}

/** Remote backend integration point (reference: src/executor/bigquery.rs),
  * covering the reference executor's whole surface against the PUBLIC
  * spark-bigquery-connector API (`format(connectorFormat)` DataSource V2):
  *
  *  - [[resolve]]    — table read (bigquery.rs:27 client + table fetch);
  *  - [[query]]      — SQL pushed to BigQuery's jobs.query through the
  *                     connector's `query` option, which materializes
  *                     into `materializationDataset` and paginates via
  *                     the Storage Read API (bigquery.rs:150
  *                     execute_query);
  *  - [[statement]]  — DDL/DML through the same jobs.query submission
  *                     (bigquery.rs:197 execute_statement, which is the
  *                     identical QueryRequest with the affected-row
  *                     count read back);
  *  - [[persist]] / [[loadParquet]] — truncate-write a result or a
  *                     parquet file into a BigQuery table
  *                     (bigquery.rs:52 load_parquet, WriteTruncate);
  *                     `writeMethod=direct` uses the Storage Write API,
  *                     or `indirect` staging through `temporaryGcsBucket`
  *                     when one is configured (the GCS path the
  *                     reference's load job requires).
  *
  * The connector jar cannot exist in this zero-egress environment, so
  * every runtime entry degrades to a typed QueryError naming the missing
  * backend; the option-builder methods are the exact maps a deployment
  * wires up and what the contract spec verifies.
  */
final class BigQueryResolver(
    defaultProject: Option[String] = None,
    defaultDataset: Option[String] = None,
    materializationDataset: Option[String] = None,
    temporaryGcsBucket: Option[String] = None,
    // The DataSource V2 format the connector registers ("bigquery" via
    // its DataSourceRegister). Injectable so the integration spec can
    // drive the IDENTICAL option contracts through a recorded-response
    // fake provider (BigQueryFakeSpec) without shadowing the real short
    // name — the typed connector-absent failure paths stay exercised by
    // the default.
    connectorFormat: String = "bigquery",
    // Emulator/alternate-endpoint override: when set, every read/query/
    // write carries the PUBLIC connector options bigQueryHttpEndpoint +
    // bigQueryStorageGrpcEndpoint (spark-bigquery-connector README),
    // pointing jobs AND Storage API traffic at e.g. a local BigQuery
    // emulator. BigQueryEmulatorSpec drives this opt-in via
    // -Dgraft.bq.emulator=<host:port>; the option contract itself is
    // asserted unconditionally.
    endpoint: Option[String] = None)
    extends TableResolver {

  private def endpointOptions: Map[String, String] =
    endpoint.toSeq.flatMap(e => Seq(
      "bigQueryHttpEndpoint" -> e,
      "bigQueryStorageGrpcEndpoint" -> e)).toMap

  /** `project.dataset.table` resolution with BigQuery's default rules. */
  def qualifiedName(name: String): String = name.split('.') match {
    case Array(t) =>
      val ds = defaultDataset.getOrElse(
        throw GraftError.InvalidParams(s"Unqualified table '$t' needs a default dataset"))
      (defaultProject.toSeq :+ ds :+ t).mkString(".")
    case Array(ds, t) => (defaultProject.toSeq :+ ds :+ t).mkString(".")
    case _ => name
  }

  def readerOptions(name: String): Map[String, String] =
    Map("table" -> qualifiedName(name)) ++
      defaultProject.map("parentProject" -> _) ++
      materializationDataset.map("materializationDataset" -> _) ++
      endpointOptions

  /** Options for a pushed-down SQL job: the connector's `query` read
    * requires `viewsEnabled` and a materialization dataset (BigQuery
    * writes the job result there; the connector then reads it back with
    * Storage Read API pagination — the connector-side twin of the
    * reference's jobs.query + page loop).
    */
  def queryOptions(sql: String): Map[String, String] =
    Map("query" -> sql, "viewsEnabled" -> "true") ++
      defaultProject.map("parentProject" -> _) ++
      materializationDataset.map("materializationDataset" -> _) ++
      endpointOptions

  /** Options for a truncate-write into `name`: Storage Write API when no
    * staging bucket is configured, parquet staging through GCS when one
    * is (the reference's load job always stages — bigquery.rs:59 rejects
    * non-gs:// paths; `direct` is the connector improvement on that).
    */
  def writerOptions(name: String): Map[String, String] =
    Map("table" -> qualifiedName(name),
      "writeMethod" -> temporaryGcsBucket.fold("direct")(_ => "indirect")) ++
      defaultProject.map("parentProject" -> _) ++
      temporaryGcsBucket.map("temporaryGcsBucket" -> _) ++
      endpointOptions

  /** Wrap the connector-absent failure modes into the typed taxonomy. */
  private def connect[A](what: String)(body: => A): A =
    try body
    catch {
      case e: GraftError => throw e
      case e: ClassNotFoundException =>
        throw GraftError.QueryError(
          s"BigQuery backend selected but spark-bigquery connector is not on the classpath " +
            s"($what): ${e.getMessage}")
      case e: org.apache.spark.sql.AnalysisException =>
        throw GraftError.QueryError(
          s"BigQuery backend selected but spark-bigquery connector is not on the classpath " +
            s"($what): ${e.getMessage}")
    }

  def resolve(spark: SparkSession, name: String): DataFrame =
    connect(s"resolving ${qualifiedName(name)}") {
      spark.read.format(connectorFormat).options(readerOptions(name)).load()
    }

  /** Push `sql` to BigQuery as a job and read the result back — the
    * bq.query path in bigquery mode (reference execute_query).
    */
  def query(spark: SparkSession, sql: String): DataFrame =
    connect("executing query job") {
      spark.read.format(connectorFormat).options(queryOptions(sql)).load()
    }

  /** DDL/DML statement through the same job submission; the returned
    * count mirrors num_dml_affected_rows (reference execute_statement —
    * the identical QueryRequest, different result field).
    */
  def statement(spark: SparkSession, sql: String): Long =
    connect("executing statement job") {
      query(spark, sql).count()
    }

  /** Truncate-write a materialized result into a BigQuery table
    * (the DAG materialization step against the real backend).
    */
  def persist(df: DataFrame, name: String): Unit =
    connect(s"writing ${qualifiedName(name)}") {
      df.write.format(connectorFormat).options(writerOptions(name))
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }

  /** Reference load_parquet: a parquet file becomes a BigQuery table
    * (WriteTruncate); returns the row count like the reference's load
    * job statistics. The parquet read is Spark-local; only the write
    * needs the connector.
    */
  def loadParquet(spark: SparkSession, name: String, path: String): Long = {
    val df = spark.read.parquet(path)
    val n = df.count()
    persist(df, name)
    n
  }
}
