package graft.engine

import java.util.{Locale, UUID}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.BQCompat

/** Session-isolated query surface, mirroring the reference's session
  * manager (reference: src/session/manager.rs, rpc methods bq.createSession /
  * bq.destroySession / bq.createTable / bq.insert / bq.query /
  * bq.listTables / bq.describeTable in src/rpc/methods.rs).
  *
  * Spark-first realization: each GraftSession wraps
  * `SparkSession.newSession()` — same SparkContext (warm executors, shared
  * cache), but isolated SQLConf, temp-view catalog and function registry.
  * That is exactly the reference's per-session database semantics without
  * per-session process cost.
  *
  * The session owns everything it leaves behind: the temp views, one
  * in-memory snapshot per inserted or DAG-derived table, and the
  * RPC-level state below. It writes no files. [[close]] releases all of
  * it. Requests to one session are assumed not to run concurrently with
  * its mutations (insert, createTable, dropTable, a DAG run, close);
  * different sessions are independent.
  *
  * [[materialize]] is the one way a table becomes a snapshot: one
  * materialized relation, in one partition per
  * `spark.sql.files.maxPartitionBytes` of its size, carrying the
  * statistics of the plan it was computed from (exact for inserted
  * rows). A table at served sizes is therefore one partition: the
  * planner adds no exchange under aggregates, windows or sorts over it,
  * and broadcasts it in joins at planning time. Every graft path that
  * re-binds a name ([[createTable]], [[materialize]], [[replaceView]],
  * [[dropTable]]) releases the snapshot the name read before; a name
  * re-bound by user SQL keeps it until [[close]].
  */
final class GraftSession private[engine] (
    val id: String,
    val spark: SparkSession,
    val resolver: TableResolver = LocalResolver) {

  import GraftSession._

  /** RPC-level state: the DAG bq.registerDag/runDag act on (the
    * directory loaders replace it), its last run for bq.retryDag, the
    * default project, and the root the catalog navigation calls list.
    */
  @volatile var dag: Dag = new Dag(this)
  @volatile var lastRun: Option[DagResult] = None
  @volatile var defaultProject: Option[String] = None
  @volatile var catalogRoot: Option[String] = None

  /** Each created, inserted or DAG-derived table's current snapshot,
    * keyed by lower-cased table name (temp views are case-insensitive):
    * the RDD its view reads (the in-memory blocks of [[materialize]])
    * and its row count, when known. The blocks outlive the views that
    * point at them, so replacing or dropping a table, and [[close]],
    * unpersist them.
    */
  private val snapshots = new ConcurrentHashMap[String, Snapshot]()

  /** Register `df` (a frame over one RDD) as the table's view, record it
    * with `rows` as the table's snapshot, and unpersist the one it
    * replaces.
    */
  private def bind(name: String, df: DataFrame, rows: Option[Long]): Unit = {
    df.createOrReplaceTempView(name)
    release(name, df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => Snapshot(l.rdd, rows) })
  }

  /** Bind `name` to a lazy frame (a parquet load, a DAG view) and
    * unpersist the snapshot the name read before. `df` must not read
    * that snapshot itself.
    */
  def replaceView(name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    release(name, None)
  }

  /** Make `successor` the table's snapshot and unpersist the one it replaces. */
  private def release(name: String, successor: Option[Snapshot]): Unit = {
    val key = name.toLowerCase(Locale.ROOT)
    val old = successor.fold(snapshots.remove(key))(snapshots.put(key, _))
    if (old != null) old.rdd.unpersist(blocking = false)
  }

  /** The recorded row count, while the view is still bound to the
    * snapshot it was recorded for. Another path may have re-bound the
    * name since (a DAG run, bq.loadParquet, a directory loader, SQL).
    */
  private def recordedRows(name: String): Option[Long] =
    Option(snapshots.get(name.toLowerCase(Locale.ROOT))).filter { s =>
      spark.sessionState.catalog.getRawTempView(name).flatMap(_.plan).exists {
        case l: LogicalRDD => l.rdd eq s.rdd
        case _ => false
      }
    }.flatMap(_.rows)

  /** Resolve a table through this session's backend (reference:
    * executor/mod.rs dispatch): session temp views win, then the
    * resolver — a typed UnknownTable locally, a connector read in
    * bigquery mode.
    */
  def table(name: String): org.apache.spark.sql.DataFrame =
    if (spark.catalog.tableExists(name)) spark.table(name)
    else resolver.resolve(spark, name)

  /** Create an (initially empty) table from a BigQuery-typed schema. */
  def createTable(name: String, schema: Seq[(String, String)]): Unit = {
    val st = StructType(schema.map { case (n, t) => StructField(n, bqType(t)) })
    bind(name, spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st), Some(0L))
  }

  /** Append rows (positional values matching the table schema). A row
    * whose width differs from the schema fails the whole call with
    * InvalidParams, and nothing is appended.
    */
  def insert(name: String, rows: Seq[Seq[Any]]): Long = {
    val existing = spark.table(name)
    val st = existing.schema
    rows.iterator.zipWithIndex.find(_._1.size != st.size).foreach { case (r, i) =>
      throw graft.api.GraftError.InvalidParams(
        s"Row $i of $name has ${r.size} values, but the table has ${st.size} columns")
    }
    val before = recordedRows(name)
    val coerced = rows.map(r => Row.fromSeq(r.zip(st.fields).map { case (v, f) => coerce(v, f.dataType) }))
    val incoming = spark.createDataFrame(coerced.asJava, st)
    // An empty created table adds nothing but a leaf without statistics,
    // which would make every later snapshot's size unknown.
    val appended = if (before.contains(0L)) incoming else existing.unionAll(incoming)
    // A snapshot keeps the view from becoming a self-referencing plan of
    // unbounded depth after many inserts.
    materialize(name, appended, before.map(_ + rows.size))
    rows.size.toLong
  }

  /** Bind `name` to an eager, right-sized snapshot of `df` and release
    * the one it replaces; `rows` is the exact row count when the caller
    * knows it. The blocks live in executor storage, so they are lost
    * with their executor.
    */
  def materialize(name: String, df: DataFrame, rows: Option[Long] = None): Unit =
    bind(name, rightSized(df).localCheckpoint(true), rows)

  /** `df` coalesced to one partition per `spark.sql.files.maxPartitionBytes`
    * of its estimated size, at least one; unchanged when the size is
    * unknown (Spark's `defaultSizeInBytes` sentinel).
    */
  private def rightSized(df: DataFrame): DataFrame = {
    val conf = spark.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = conf.filesMaxPartitionBytes
    if (size >= conf.defaultSizeInBytes) df
    else df.coalesce(((size + split - 1) / split).max(1).min(Int.MaxValue).toInt)
  }

  /** Run SQL against this session's tables. In bigquery mode the text is
    * pushed VERBATIM to BigQuery as a job through the resolver
    * (reference executor dispatch: BigQuery sessions send SQL to
    * jobs.query, not the local engine — executor/mod.rs); locally, the
    * text is parsed as BigQuery SQL by [[BQCompat.parse]], the one way
    * local SQL enters the engine.
    */
  def sql(q: String): DataFrame = resolver match {
    case bq: BigQueryResolver => bq.query(spark, q)
    case LocalResolver => ColumnBridge.sql(spark, BQCompat.parse(spark, q))
  }

  /** Tables and temp views, read from the session catalog (no job). */
  def listTables(): Seq[String] = {
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase).map(_.table).sorted
  }

  /** Without a job for a created or inserted table still bound to its
    * snapshot; tables bound by another path are counted.
    */
  def rowCount(name: String): Long = recordedRows(name).getOrElse(table(name).count())

  def describeTable(name: String): (Seq[(String, String)], Long) =
    (table(name).schema.fields.map(f => f.name -> sparkTypeToBq(f.dataType)).toSeq, rowCount(name))

  def dropTable(name: String): Unit = {
    spark.catalog.dropTempView(name)
    release(name, None)
  }

  /** Drop every view and unpersist every snapshot. */
  def close(): Unit = {
    spark.sessionState.catalog.listLocalTempViews("*").foreach(t => spark.catalog.dropTempView(t.table))
    snapshots.values.forEach(_.rdd.unpersist(false))
    snapshots.clear()
  }
}

object GraftSession {

  private final case class Snapshot(rdd: RDD[InternalRow], rows: Option[Long])

  /** BigQuery type name → Spark type (reference: rpc/types.rs ColumnDef). */
  def bqType(t: String): DataType = t.trim.toUpperCase match {
    case "INT64" | "INTEGER" | "INT" => LongType
    case "FLOAT64" | "FLOAT" | "NUMERIC" | "BIGNUMERIC" => DoubleType
    case "STRING" => StringType
    case "BOOL" | "BOOLEAN" => BooleanType
    case "DATE" => DateType
    case "TIMESTAMP" | "DATETIME" => TimestampType
    case "BYTES" => BinaryType
    case "JSON" => StringType
    case s if s.startsWith("ARRAY<") =>
      ArrayType(bqType(s.stripPrefix("ARRAY<").stripSuffix(">")))
    case other => throw graft.api.GraftError.InvalidParams(s"Unsupported BigQuery type: $other")
  }

  def sparkTypeToBq(t: DataType): String = t match {
    case LongType | IntegerType | ShortType | ByteType => "INT64"
    case DoubleType | FloatType => "FLOAT64"
    case _: DecimalType => "NUMERIC"
    case StringType => "STRING"
    case BooleanType => "BOOL"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case BinaryType => "BYTES"
    case ArrayType(e, _) => s"ARRAY<${sparkTypeToBq(e)}>"
    case other => other.sql
  }

  private[engine] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (i: Int, LongType) => i.toLong
    case (i: Int, DoubleType) => i.toDouble
    // JSON-style numerics: a whole number may arrive as Double (the
    // reference's rows are JSON values with the same looseness).
    case (d: Double, LongType) => d.toLong
    case (l: Long, DoubleType) => l.toDouble
    case (f: Float, DoubleType) => f.toDouble
    case (s: String, DateType) => parse(s, "DATE")(java.sql.Date.valueOf(s))
    case (s: String, TimestampType) => parse(s, "TIMESTAMP")(java.sql.Timestamp.valueOf(s.replace("T", " ")))
    case (x, _) => x
  }

  private def parse[T](s: String, typeName: String)(value: => T): T =
    try value
    catch {
      case _: IllegalArgumentException =>
        throw graft.api.GraftError.InvalidParams(s"Invalid $typeName value: '$s'")
    }
}

/** Registry of live sessions (reference: src/session/manager.rs). */
final class SessionManager(root: SparkSession) {
  private val sessions = new ConcurrentHashMap[String, GraftSession]()

  def create(resolver: TableResolver = LocalResolver): GraftSession = {
    val id = UUID.randomUUID().toString
    val child = root.newSession()
    // Engine sessions speak BigQuery SQL: the dialect goes into this
    // session's OWN function registry, so the root keeps Spark semantics.
    BQCompat.install(child)
    val s = new GraftSession(id, child, resolver)
    sessions.put(id, s)
    s
  }

  def get(id: String): Option[GraftSession] = Option(sessions.get(id))

  def destroy(id: String): Boolean = {
    val s = sessions.remove(id)
    if (s != null) { s.close(); true } else false
  }

  def list(): Seq[String] = sessions.keySet().asScala.toSeq.sorted
}
