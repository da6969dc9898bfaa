package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ServedJob

import graft.api.GraftError
import graft.engine.{Dag, DagTable, GraftSession}

/** Discovery of a `root/project/dataset/table.{parquet,sql}` tree and
  * registration into a session — the Spark realization of the reference's
  * bq.loadParquetDirectory / bq.loadSqlDirectory / bq.loadDagFromDirectory
  * (reference: src/session/loader.rs discover_files, src/rpc/methods.rs).
  *
  * Tables register as views named `<project>_<dataset>_<table>` (and the
  * bare `<table>` when unambiguous). Parquet stays a lazy columnar scan —
  * never row-materialized like the reference's INSERT-literal loader
  * (reference: src/executor/yachtsql.rs:43).
  */
object DirectoryCatalog {

  final case class Discovered(
      project: String, dataset: String, table: String, path: String, isSql: Boolean) {
    def fullName: String = s"${project}_${dataset}_$table"
  }

  def discover(root: String): Seq[Discovered] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) throw GraftError.LoaderError(s"Root path is not a directory: $root")
    def dirs(p: Path) = Files.list(p).iterator().asScala
      .filter(d => Files.isDirectory(d) && !d.getFileName.toString.contains(".")).toSeq
    // A ".parquet" entry may be a single file OR a Spark-written directory
    // of part files — both are valid tables.
    def entries(p: Path) = Files.list(p).iterator().asScala.toSeq
    (for {
      project <- dirs(rootPath)
      dataset <- dirs(project)
      f <- entries(dataset)
      name = f.getFileName.toString
      if name.endsWith(".parquet") || (name.endsWith(".sql") && Files.isRegularFile(f))
    } yield Discovered(
      project.getFileName.toString,
      dataset.getFileName.toString,
      name.replaceAll("\\.(parquet|sql)$", ""),
      f.toString,
      name.endsWith(".sql"))).sortBy(d => (d.project, d.dataset, d.table))
  }

  /** Catalog navigation (reference: bq.getProjects / bq.getDatasets /
    * bq.getTablesInDataset in src/rpc/methods.rs).
    */
  def listProjects(root: String): Seq[String] =
    discover(root).map(_.project).distinct.sorted

  def listDatasets(root: String, project: String): Seq[String] =
    discover(root).filter(_.project == project).map(_.dataset).distinct.sorted

  def listTablesIn(root: String, project: String, dataset: String): Seq[String] =
    discover(root).filter(d => d.project == project && d.dataset == dataset)
      .map(_.table).distinct.sorted

  /** Sibling `<table>.schema.json` (a ColumnDef list, reference:
    * src/session/loader.rs load_schema / src/rpc/types.rs ColumnDef) —
    * when present, the declared BigQuery types are applied as casts over
    * the parquet scan, in declared column order. Unlike the reference we
    * don't REQUIRE the file: parquet is self-describing and Spark's
    * inferred schema is authoritative when no declaration exists.
    */
  private def declaredSchema(parquetPath: String): Option[Seq[(String, String)]] = {
    val p = Paths.get(parquetPath.replaceAll("\\.parquet$", ".schema.json"))
    if (!Files.isRegularFile(p)) return None
    val json = org.json4s.jackson.JsonMethods.parse(Files.readString(p))
    import org.json4s._
    Some(json.asInstanceOf[JArray].arr.map { c =>
      val obj = c.asInstanceOf[JObject].obj.toMap
      (obj("name").asInstanceOf[JString].s, obj("type").asInstanceOf[JString].s)
    })
  }

  /** A parquet file or directory and its row count, taken by one job
    * over a scan with no columns, which reads no column data. Any
    * failure to read it, a missing path or a corrupt file, is a
    * LoaderError (reference error.rs `Loader`).
    */
  def readParquet(session: GraftSession, path: String): (DataFrame, Long) =
    try {
      val df = session.spark.read.parquet(path)
      (df, ServedJob.count(df.select()))
    } catch {
      case NonFatal(e) => throw GraftError.LoaderError(s"Failed to load parquet at $path: ${e.getMessage}")
    }

  private def readTable(session: GraftSession, d: Discovered): (DataFrame, Long) = {
    val (df, rows) = readParquet(session, d.path)
    declaredSchema(d.path) match {
      case Some(cols) =>
        import org.apache.spark.sql.functions.col
        (df.select(cols.map { case (n, t) => col(n).cast(GraftSession.bqType(t)).as(n) }: _*), rows)
      case None => (df, rows)
    }
  }

  /** Register every parquet table as a view in the session, under its
    * qualified name and, when unambiguous, its bare name. Returns each
    * discovered entry plus its row count — the payload the RPC layer
    * needs for the reference's ParquetTableInfo result rows (reference:
    * rpc/types.rs:463; its loader also reports the loaded row count per
    * table). Every table is read before any view is bound.
    */
  def loadParquetDirectoryInfo(session: GraftSession, root: String): Seq[(Discovered, Long)] = {
    val frames = discover(root).filterNot(_.isSql).map(d => d -> readTable(session, d))
    frames.foreach { case (d, (df, n)) => session.replaceView(d.fullName, df, Some(n)) }
    // Bare-name aliases for unambiguous tables.
    frames.groupBy(_._1.table).collect { case (t, Seq((_, (df, n)))) => session.replaceView(t, df, Some(n)) }
    frames.map { case (d, (_, n)) => (d, n) }
  }

  /** SQL-ONLY DAG registration (reference: manager.rs:282-312
    * load_sql_directory): the discovered .sql files become derived DAG
    * tables; parquet files are NOT loaded and no source views are
    * created. Sources are expected to exist in the session already (e.g.
    * a prior loadParquetDirectoryInfo call) — exactly the reference's
    * side-effect contract, which differs from [[loadDagFrom]].
    */
  def loadSqlDag(session: GraftSession, root: String): (Dag, Seq[Discovered]) = {
    val sql = discover(root).filter(_.isSql)
    val dag = new Dag(session)
    dag.register(sql.map(d => DagTable.derived(d.table, Files.readString(Paths.get(d.path)))))
    (dag, sql)
  }

  /** Build a Dag: parquet files as source views, .sql files as derived
    * tables (dependency-ordered, materialized on run()). Also returns the
    * per-file info the RPC layer serializes into the reference's
    * LoadDagFromDirectoryResult (rpc/types.rs:481): parquet sources with
    * row counts, and the .sql computed tables.
    */
  def loadDagFrom(session: GraftSession, root: String)
      : (Dag, Seq[(Discovered, Long)], Seq[Discovered]) = {
    val discovered = discover(root)
    val dag = new Dag(session)
    val sources = discovered.filterNot(_.isSql).map(d => d -> readTable(session, d))
    val sql = discovered.filter(_.isSql)
    val derived = sql.map { d =>
      DagTable.derived(d.table, Files.readString(Paths.get(d.path)))
    }
    dag.register(sources.map { case (d, (df, n)) => DagTable.view(d.table, df, Some(n)) } ++ derived)
    (dag, sources.map { case (d, (_, n)) => (d, n) }, sql)
  }
}
