package graft.engine

import graft.SparkSpec
import graft.api.GraftError

/** The executor seam (reference src/executor/mod.rs ExecutorMode):
  * sessions resolve tables through one of the reference's two backends,
  * local or BigQuery ([[TableResolver]]), and the remote backend has a
  * concrete, verifiable integration point even though the connector jar
  * cannot exist in this environment.
  */
class ExecutorSpec extends SparkSpec {

  test("backend flag parses like the reference CLI") {
    assert(ExecutorMode.parse("mock") == ExecutorMode.Local)
    assert(ExecutorMode.parse("bigquery") == ExecutorMode.BigQuery)
    for (other <- Seq("duckdb", "jdbc")) {
      val e = intercept[GraftError.InvalidParams](ExecutorMode.parse(other))
      assert(e.code == -32600)
      assert(e.getMessage.endsWith(s"Unknown backend: $other (use mock|bigquery)"), e.getMessage)
    }
  }

  test("local resolver resolves session views and types missing tables") {
    val mgr = new SessionManager(spark)
    val s = mgr.create()
    s.createTable("resolver_t", Seq("v" -> "INT64"))
    assert(s.resolver eq LocalResolver)
    assert(s.table("resolver_t").columns.toSeq == Seq("v"))
    val e = intercept[GraftError.UnknownTable](s.table("resolver_missing"))
    assert(e.code == -32000)
  }

  test("BigQuery resolver builds the connector read and fails typed without the jar") {
    val r = new BigQueryResolver(
      defaultProject = Some("proj"),
      defaultDataset = Some("ds"),
      materializationDataset = Some("scratch"))
    // BigQuery default-qualification rules.
    assert(r.qualifiedName("t") == "proj.ds.t")
    assert(r.qualifiedName("other_ds.t") == "proj.other_ds.t")
    assert(r.qualifiedName("p.d.t") == "p.d.t")
    assert(r.readerOptions("t") == Map(
      "table" -> "proj.ds.t", "parentProject" -> "proj", "materializationDataset" -> "scratch"))

    // Without the connector jar the failure is a typed QueryError, not a
    // bare ClassNotFound.
    val e = intercept[GraftError.QueryError](r.resolve(spark, "t"))
    assert(e.code == -32000)
    assert(e.getMessage.contains("spark-bigquery connector"))

    val unqualified = new BigQueryResolver()
    val e2 = intercept[GraftError.InvalidParams](unqualified.qualifiedName("t"))
    assert(e2.getMessage.contains("default dataset"))
  }

  test("BigQuery resolver covers the full reference executor surface " +
    "(query/statement/persist/loadParquet) with exact connector options") {
    val r = new BigQueryResolver(
      defaultProject = Some("proj"),
      defaultDataset = Some("ds"),
      materializationDataset = Some("scratch"))

    // execute_query (bigquery.rs:150): SQL rides the connector `query`
    // option; viewsEnabled + materializationDataset are the connector's
    // documented requirements for query reads.
    assert(r.queryOptions("SELECT 1") == Map(
      "query" -> "SELECT 1", "viewsEnabled" -> "true",
      "parentProject" -> "proj", "materializationDataset" -> "scratch"))

    // load_parquet / persist (bigquery.rs:52): no staging bucket →
    // Storage Write API direct write; with a bucket → parquet staging
    // through GCS, the reference load job's required gs:// path.
    assert(r.writerOptions("t") == Map(
      "table" -> "proj.ds.t", "writeMethod" -> "direct", "parentProject" -> "proj"))
    val staged = new BigQueryResolver(
      defaultProject = Some("proj"), defaultDataset = Some("ds"),
      temporaryGcsBucket = Some("stage-bucket"))
    assert(staged.writerOptions("t") == Map(
      "table" -> "proj.ds.t", "writeMethod" -> "indirect",
      "parentProject" -> "proj", "temporaryGcsBucket" -> "stage-bucket"))

    // Without the connector jar every runtime entry degrades to the SAME
    // typed QueryError (never a bare ClassNotFound / AnalysisException).
    val eq = intercept[GraftError.QueryError](r.query(spark, "SELECT 1"))
    assert(eq.getMessage.contains("spark-bigquery connector"))
    val es = intercept[GraftError.QueryError](r.statement(spark, "DELETE FROM ds.t WHERE true"))
    assert(es.getMessage.contains("spark-bigquery connector"))
    import spark.implicits._
    val ep = intercept[GraftError.QueryError](r.persist(Seq(1).toDF("v"), "t"))
    assert(ep.getMessage.contains("spark-bigquery connector"))
    // loadParquet reads the parquet LOCALLY (that part works — row count
    // from the file) and only the write needs the connector.
    val el = intercept[GraftError.QueryError](
      r.loadParquet(spark, "t", "/root/testdata/sf0.001/region.parquet"))
    assert(el.getMessage.contains("writing proj.ds.t"))
  }

  test("bq.loadParquet routes through the BigQuery resolver in bigquery mode") {
    // Local mode registers a temp view and succeeds; bigquery mode must
    // instead push the file through the connector write path (reference
    // load_parquet). With no BQ_DATASET configured the resolver's
    // qualification rule rejects the bare name — a failure only the
    // REMOTE path produces, proving the dispatch route.
    val rpc = new graft.api.GraftRpc(spark, ExecutorMode.BigQuery)
    val sid = rpc.dispatch("bq.createSession")
      .asInstanceOf[Map[String, Any]]("sessionId").toString
    val e = intercept[GraftError.InvalidParams] {
      rpc.dispatch("bq.loadParquet", Map(
        "sessionId" -> sid, "tableName" -> "region",
        "path" -> "/root/testdata/sf0.001/region.parquet"))
    }
    assert(e.getMessage.contains("default dataset"))
  }

  test("bq.query routes through the BigQuery resolver in bigquery mode") {
    // In bigquery mode session SQL must be pushed to the remote backend
    // verbatim — NOT parsed or executed by the local engine. With no
    // connector on the classpath that surfaces as the typed QueryError
    // protocol code, proving the route (a local run of this SQL would
    // succeed against the registered view).
    val mgr = new SessionManager(spark)
    val s = mgr.create(new BigQueryResolver(
      defaultProject = Some("p"), defaultDataset = Some("d"),
      materializationDataset = Some("m")))
    s.createTable("routed", Seq("v" -> "INT64"))
    val e = intercept[GraftError.QueryError](s.sql("SELECT v FROM routed"))
    assert(e.code == -32000)
    assert(e.getMessage.contains("query job"))
  }

  test("sessions created through a BigQuery-mode manager carry the remote resolver") {
    val mgr = new SessionManager(spark)
    val s = mgr.create(new BigQueryResolver(defaultProject = Some("p"), defaultDataset = Some("d")))
    assert(s.resolver.isInstanceOf[BigQueryResolver])
    // Session views still win over the remote backend (temp tables are
    // session-local in BigQuery too).
    s.createTable("local_first", Seq("v" -> "INT64"))
    assert(s.table("local_first").columns.toSeq == Seq("v"))
    // An unregistered name routes to the connector path.
    val e = intercept[GraftError.QueryError](s.table("remote_only"))
    assert(e.getMessage.contains("p.d.remote_only"))
  }
}
