package graft.engine

import java.util.{Locale, UUID}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge, RowBatch, ServedJob}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Materialize
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
  * The session owns everything it leaves behind: the temp views, the
  * rows inserted into its tables, one in-memory snapshot per DAG-derived
  * table, and the RPC-level state below. It writes no files. [[close]]
  * releases all of it. Requests to one session are assumed not to run
  * concurrently with its mutations (insert, createTable, dropTable, a DAG
  * run, close); different sessions are independent.
  *
  * A table holds its inserted rows as immutable [[RowBatch]]es, one
  * broadcast per [[insert]], under an optional base: the relation the
  * name read before its first insert (a parquet load, a DAG snapshot or
  * view; none for a created table). Its view is the base followed by
  * [[RowBatch.frame]] over the batches: one partition per
  * `spark.sql.files.maxPartitionBytes` of their size, with exact
  * statistics. A created table at served sizes is therefore one
  * partition: the planner adds no exchange under aggregates, windows or
  * sorts over it, and broadcasts it in joins at planning time. An insert
  * runs no Spark job and re-reads no row; it rebinds the view over one
  * more batch.
  *
  * [[materialize]] is the one way a table becomes a snapshot. Every graft
  * path that re-binds a name ([[createTable]], [[materialize]],
  * [[replaceView]], [[dropTable]]) releases the batches and the snapshot
  * the name read before; a name re-bound by user SQL keeps them until
  * [[close]] or the name's next graft re-bind.
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

  /** Each table graft bound, keyed by lower-cased name (temp views are
    * case-insensitive). Its batches and snapshot outlive the views that
    * read them, so re-binding or dropping a table, and [[close]], release
    * them.
    */
  private val tables = new ConcurrentHashMap[String, Table]()

  /** Register `t`'s view under `name` and release what the table it
    * replaces held and `t` does not.
    */
  private def bind(name: String, t: Table): Unit = {
    t.view.createOrReplaceTempView(name)
    Option(tables.put(name.toLowerCase(Locale.ROOT), t)).foreach(release(_, Some(t)))
  }

  /** Destroy `old`'s batches and release its snapshot's scope, except
    * what `successor` still reads.
    */
  private def release(old: Table, successor: Option[Table]): Unit = {
    val kept = successor.fold(Set.empty[Long])(_.batches.iterator.map(_.id).toSet)
    old.batches.filterNot(b => kept(b.id)).foreach(_.destroy())
    old.snapshot.filterNot(s => successor.exists(_.snapshot.contains(s))).foreach(_.release())
  }

  /** Bind `name` to a lazy frame (a parquet load, a DAG view) whose row
    * count, when the caller took it, is `rows`, and release what the name
    * read before. `df` must not read that itself.
    */
  def replaceView(name: String, df: DataFrame, rows: Option[Long] = None): Unit =
    bind(name, Table(df, Some(df), Vector.empty, rows))

  /** The table graft bound under `name`, while the view is still the one
    * it bound. Another path may have re-bound the name since (user SQL).
    */
  private def bound(name: String): Option[Table] =
    Option(tables.get(name.toLowerCase(Locale.ROOT))).filter { t =>
      spark.sessionState.catalog.getRawTempView(name).flatMap(_.plan).exists(_ eq t.view.queryExecution.analyzed)
    }

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
    bind(name, Table(RowBatch.frame(spark, st, Nil), None, Vector.empty, Some(0L)))
  }

  /** Append rows (positional values matching the table schema) as one
    * more batch of the table. A row whose width differs from the schema,
    * or a value that is not of its column's type, fails the whole call
    * with InvalidParams, and nothing is appended.
    */
  def insert(name: String, rows: Seq[Seq[Any]]): Long = {
    val t = bound(name).getOrElse {
      val current = spark.table(name)
      Table(current, Some(current), Vector.empty, None)
    }
    val st = t.view.schema
    val cells = rows.zipWithIndex.map { case (r, i) =>
      if (r.size != st.size)
        throw graft.api.GraftError.InvalidParams(
          s"Row $i of $name has ${r.size} values, but the table has ${st.size} columns")
      new GenericInternalRow(r.iterator.zip(st.fields).map { case (v, f) =>
        try cell(v, f.dataType)
        catch {
          case e: IllegalArgumentException =>
            throw graft.api.GraftError.InvalidParams(s"Row $i of $name, column ${f.name}: ${e.getMessage}")
        }
      }.toArray)
    }
    val batches = t.batches :+ RowBatch(spark, st, cells)
    val appended = RowBatch.frame(spark, st, batches)
    bind(name, t.copy(view = t.base.fold(appended)(_.unionAll(appended)), batches = batches,
      rows = t.rows.map(_ + rows.size)))
    rows.size.toLong
  }

  /** Bind `name` to a right-sized snapshot of `df` and release what the
    * name read before. One job ([[ServedJob.snapshot]]) both stores the
    * snapshot and counts its rows, so the table's statistics and
    * [[rowCount]] carry the exact count. The table owns the snapshot's
    * [[Materialize.Scope]] until the name is re-bound or dropped, or the
    * session closes; a scope open around the call owns it too. The
    * blocks live in executor storage, so they are lost with their
    * executor.
    */
  def materialize(name: String, df: DataFrame): Unit = {
    val ((snapshot, rows), scope) = Materialize.scope(ServedJob.snapshot(rightSized(df)))
    bind(name, Table(snapshot, Some(snapshot), Vector.empty, Some(rows), Some(scope)))
  }

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

  /** Without a job for every table graft bound (a created table, a
    * parquet load, whose loader counted it, and a DAG snapshot, counted
    * by the job that made it), plus the rows inserted since; a name
    * re-bound by user SQL is counted with a job.
    */
  def rowCount(name: String): Long = bound(name).flatMap(_.rows).getOrElse(table(name).count())

  def describeTable(name: String): (Seq[(String, String)], Long) =
    (table(name).schema.fields.map(f => f.name -> sparkTypeToBq(f.dataType)).toSeq, rowCount(name))

  def dropTable(name: String): Unit = {
    spark.catalog.dropTempView(name)
    Option(tables.remove(name.toLowerCase(Locale.ROOT))).foreach(release(_, None))
  }

  /** Drop every view and release every table's batches and snapshot. */
  def close(): Unit = {
    spark.sessionState.catalog.listLocalTempViews("*").foreach(t => spark.catalog.dropTempView(t.table))
    tables.values.forEach(release(_, None))
    tables.clear()
  }
}

object GraftSession {

  /** A table graft bound: its view, the base the view reads under the
    * inserted batches, the batches, the row count when known, and the
    * scope of the snapshot the table owns (a DAG-derived table's blocks).
    */
  private final case class Table(
      view: DataFrame,
      base: Option[DataFrame],
      batches: Vector[RowBatch],
      rows: Option[Long],
      snapshot: Option[Materialize.Scope] = None)

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

  /** `v` as the Catalyst value of a `dt` column. A value of another type
    * raises IllegalArgumentException naming the BigQuery type, and an
    * unparseable DATE or TIMESTAMP string InvalidParams: nothing is
    * converted silently, and nothing fails later inside a job.
    */
  private def cell(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (Whole(n), LongType) => n
    case (Whole(n), IntegerType) if n.isValidInt => n.toInt
    case (Whole(n), ShortType) if n.isValidShort => n.toShort
    case (Whole(n), ByteType) if n.isValidByte => n.toByte
    case (n: Number, DoubleType) => n.doubleValue
    case (n: Number, FloatType) => n.floatValue
    case (n: Number, d: DecimalType) =>
      scala.util.Try(Decimal(BigDecimal(n.toString))).toOption
        .filter(_.changePrecision(d.precision, d.scale)).getOrElse(mismatch(v, dt))
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Boolean, BooleanType) => b
    case (s: String, DateType) => parse(s, "DATE")(DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(s)))
    case (d: java.sql.Date, DateType) => DateTimeUtils.fromJavaDate(d)
    case (d: java.time.LocalDate, DateType) => DateTimeUtils.localDateToDays(d)
    case (s: String, TimestampType) =>
      parse(s, "TIMESTAMP")(DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.valueOf(s.replace("T", " "))))
    case (t: java.sql.Timestamp, TimestampType) => DateTimeUtils.fromJavaTimestamp(t)
    case (t: java.time.Instant, TimestampType) => DateTimeUtils.instantToMicros(t)
    case (b: Array[Byte], BinaryType) => b
    case (xs: Iterable[_], ArrayType(e, _)) => new GenericArrayData(xs.map(cell(_, e)).toArray)
    case _ => mismatch(v, dt)
  }

  private def mismatch(v: Any, dt: DataType): Nothing =
    throw new IllegalArgumentException(s"expected ${sparkTypeToBq(dt)}, got ${graft.api.Json.write(v)}")

  /** A whole number: JSON integers arrive as Long (BigInt past 64 bits),
    * Scala callers pass Int, and a whole number may arrive as a Double.
    */
  private object Whole {
    def unapply(v: Any): Option[Long] = v match {
      case n @ (_: Long | _: Int | _: Short | _: Byte) => Some(n.asInstanceOf[Number].longValue)
      case n: BigInt if n.isValidLong => Some(n.toLong)
      case d: Double if d.toLong.toDouble == d => Some(d.toLong)
      case _ => None
    }
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
