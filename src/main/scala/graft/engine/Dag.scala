package graft.engine

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

import graft.functions.BQCompat

/** One table in the pipeline: a source (schema + literal rows, or a
  * view over a DataFrame builder, with the view's row count when its
  * loader took one) or a derived table (SQL over other tables).
  * Reference: src/session/pipeline.rs PipelineTable / rpc DagTableDef.
  */
final case class DagTable(
    name: String,
    sql: Option[String] = None,
    schema: Option[Seq[(String, String)]] = None,
    rows: Seq[Seq[Any]] = Nil,
    view: Option[() => DataFrame] = None,
    viewRows: Option[Long] = None) {
  def isSource: Boolean = sql.isEmpty
}

object DagTable {
  def source(name: String, schema: Seq[(String, String)], rows: Seq[Seq[Any]] = Nil): DagTable =
    DagTable(name, schema = Some(schema), rows = rows)
  /** A view whose frame is built inside the table's scheduler slot on
    * every run, not at registration: a builder that runs driver-side
    * work (training collects, checkpoints) then overlaps other stages.
    */
  def view(name: String, df: => DataFrame, rows: Option[Long] = None): DagTable =
    DagTable(name, view = Some(() => df), viewRows = rows)
  def derived(name: String, sql: String): DagTable = DagTable(name, sql = Some(sql))
}

final case class TableError(table: String, error: String)

final case class DagResult(
    succeeded: Seq[String] = Nil,
    failed: Seq[TableError] = Nil,
    skipped: Seq[String] = Nil) {
  def allSucceeded: Boolean = failed.isEmpty && skipped.isEmpty
}

/** Dependency-ordered materializing pipeline over a [[GraftSession]]
  * (reference: src/session/pipeline.rs).
  *
  * Differences from the reference, by design:
  *   - dependencies come from the plan [[graft.functions.BQCompat.parse]]
  *     gives the SQL, the same parse the table runs through (its
  *     UnresolvedRelation set, subqueries and CTE bodies included, minus
  *     CTE names), not substring matching (reference: pipeline.rs:595
  *     extract_dependencies). SQL that does not parse records none and
  *     fails when its table runs;
  *   - the reference's CREATE TABLE + INSERT of the query result
  *     (pipeline.rs:511 execute_table) is a session snapshot,
  *     [[GraftSession.materialize]], computed by executors and never
  *     serialized through a driver-side SQL string.
  *
  * A derived table's blocks live in executor storage and are lost with
  * the executor. Each snapshot is a [[graft.Materialize]] scope that the
  * session's table owns: re-running a table releases its previous
  * snapshot, [[clear]] releases those of the tables it drops, and
  * closing the session releases the rest. The table slots are threads
  * the run starts, so a run inside an open scope (a query builder under
  * Verify or Bench) also leaves every snapshot and view-builder cache to
  * that scope, released after the caller's sink.
  *
  * A run is one future per table, chained on its upstream tables'
  * futures: a table starts as soon as its dependencies finish, at most
  * `maxConcurrency` at a time, and a failed or skipped table skips its
  * dependents (see [[runSubset]]).
  *
  * Matching semantics: re-running a derived table recomputes it from
  * current upstream state; a failed table blocks (skips) its dependents;
  * `run(targets)` executes the transitive dependency closure;
  * `retryFailed` re-runs failed+skipped only; `register` upserts and
  * re-resolves dependencies; cycles are rejected.
  */
object Dag {
  /** Reference default + env knob: BQ_MAX_CONCURRENCY, default 8
    * (reference src/session/pipeline.rs:48,278).
    */
  val DefaultMaxConcurrency: Int = 8
  def envMaxConcurrency: Int =
    sys.env.get("BQ_MAX_CONCURRENCY").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(DefaultMaxConcurrency)
}

final class Dag(session: GraftSession) {

  private val tables = mutable.LinkedHashMap[String, DagTable]()
  private val deps = mutable.LinkedHashMap[String, Seq[String]]()

  /** Table names arrive from clients and directory listings and become
    * temp-view names; restrict them to plain identifiers so no name
    * needs quoting in the SQL that reads it.
    */
  private val SafeName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  def register(defs: Seq[DagTable]): Seq[(String, Seq[String])] = {
    defs.find(d => SafeName.findFirstIn(d.name).isEmpty).foreach { bad =>
      throw graft.api.GraftError.InvalidParams(
        s"Invalid table name '${bad.name}': must match ${SafeName.regex}")
    }
    defs.foreach(d => tables.put(d.name, d))
    // (Re-)resolve dependencies for every derived table: a later
    // registration can introduce a table an earlier SQL referenced.
    tables.values.foreach { t =>
      deps.put(t.name, t.sql.map(extractDependencies).getOrElse(Nil))
    }
    defs.map(d => d.name -> deps(d.name))
  }

  /** Table names referenced by `sql`, restricted to registered tables,
    * excluding CTE names, case-insensitive (reference semantics).
    */
  private[engine] def extractDependencies(sql: String): Seq[String] = {
    val root: LogicalPlan =
      try BQCompat.parse(session.spark, sql)
      catch { case NonFatal(_) => return Nil }
    // CTE definition bodies are held in UnresolvedWith.cteRelations, which
    // the plan traversal does NOT visit — walk them explicitly (recursively,
    // for WITH inside WITH).
    val cteNames = mutable.Set[String]()
    val referenced = mutable.Set[String]()
    val work = mutable.Stack[LogicalPlan](root)
    while (work.nonEmpty) {
      val p = work.pop()
      p.foreachWithSubqueries {
        case w: UnresolvedWith =>
          w.cteRelations.foreach { cte => cteNames += cte._1.toLowerCase; work.push(cte._2) }
        case r: UnresolvedRelation =>
          referenced += r.multipartIdentifier.last.toLowerCase
        case _ =>
      }
    }
    val external = referenced.toSet -- cteNames
    tables.keys.filter(k => external.contains(k.toLowerCase)).toSeq.sorted
  }

  def getTables: Seq[(String, Option[String], Boolean, Seq[String])] =
    tables.values.map(t => (t.name, t.sql, t.isSource, deps.getOrElse(t.name, Nil))).toSeq

  def run(
      targets: Option[Seq[String]] = None,
      maxConcurrency: Int = Dag.envMaxConcurrency): DagResult = {
    val subset = targets match {
      case Some(ts) => closure(ts)
      case None => tables.keySet.toSet
    }
    runSubset(subset, maxConcurrency)
  }

  def retryFailed(prev: DagResult, maxConcurrency: Int = Dag.envMaxConcurrency): DagResult =
    runSubset(prev.failed.map(_.table).toSet ++ prev.skipped.toSet, maxConcurrency)

  /** Drop every table: its view, its snapshot and its batches. */
  def clear(): Unit = {
    tables.keys.foreach(session.dropTable)
    tables.clear(); deps.clear()
  }

  private def closure(targets: Seq[String]): Set[String] = {
    val needed = mutable.Set[String]()
    val stack = mutable.Stack[String](targets: _*)
    while (stack.nonEmpty) {
      val n = stack.pop()
      if (needed.add(n)) deps.getOrElse(n, Nil).foreach(stack.push)
    }
    needed.toSet
  }

  /** The subset as a graph of futures, one per table (reference
    * pipeline.rs:50-104 StreamState::ready_tables). A table's future
    * runs on a pool of `maxConcurrency` threads once every upstream
    * future in the subset has completed: it executes the table if all
    * of them succeeded, and otherwise records it as skipped, so a
    * failure skips everything downstream of it. There is no barrier
    * between topological levels. Concurrent tables become concurrent
    * Spark jobs; Spark's scheduler interleaves their stages. Outcomes
    * are recorded in completion order.
    */
  private def runSubset(subset: Set[String], maxConcurrency: Int): DagResult = {
    if (subset.isEmpty) return DagResult()
    val upstream = subset.iterator.map(n => n -> deps.getOrElse(n, Nil).filter(subset.contains)).toMap
    val succeeded = new ConcurrentLinkedQueue[String]()
    val failed = new ConcurrentLinkedQueue[TableError]()
    val skipped = new ConcurrentLinkedQueue[String]()
    val futures = mutable.Map.empty[String, CompletableFuture[Boolean]]
    val order = topologicalOrder(upstream) // raises CircularDependency before anything runs
    val pool = Executors.newFixedThreadPool(math.min(math.max(1, maxConcurrency), subset.size))
    try {
      order.foreach { n =>
        val ups = upstream(n).map(futures)
        futures(n) = CompletableFuture.allOf(ups: _*).thenApplyAsync(_ =>
          if (!ups.forall(_.join())) { skipped.add(n); false }
          else execute(n) match {
            case None => succeeded.add(n); true
            case Some(e) => failed.add(TableError(n, e.getMessage)); false
          }, pool)
      }
      futures.values.foreach(_.join())
    } finally pool.shutdown()
    DagResult(succeeded.asScala.toSeq, failed.asScala.toSeq, skipped.asScala.toSeq)
  }

  /** Kahn's algorithm, ties broken by name. */
  private def topologicalOrder(upstream: Map[String, Seq[String]]): Seq[String] = {
    val waiting = mutable.Map.from(upstream.view.mapValues(_.size))
    val dependents = upstream.toSeq.flatMap { case (n, ds) => ds.map(_ -> n) }.groupMap(_._1)(_._2)
    val ready = mutable.SortedSet.from(waiting.collect { case (n, 0) => n })
    val order = mutable.ArrayBuffer[String]()
    while (ready.nonEmpty) {
      val n = ready.head
      ready -= n; order += n
      dependents.getOrElse(n, Nil).foreach { d =>
        waiting(d) -= 1
        if (waiting(d) == 0) ready += d
      }
    }
    // Reference raises cycles as InvalidRequest (session/pipeline.rs:475).
    if (order.size < upstream.size) throw graft.api.GraftError.CircularDependency()
    order.toSeq
  }

  /** Materialize one table and register it as a session view. Every
    * throwable is the table's failure, fatal ones (an OOM during a
    * materialization, a `LinkageError` in a view builder) included, so
    * its future still completes and its dependents are skipped.
    */
  private def execute(name: String): Option[Throwable] =
    try {
      val t = tables(name)
      t match {
        case DagTable(_, None, _, _, Some(mk), n) =>
          session.replaceView(name, mk(), n)
        case DagTable(_, None, Some(schema), rows, _, _) =>
          // Reference semantics (pipeline.rs:556): CREATE IF NOT EXISTS +
          // append the registered literal rows on every run.
          if (!session.spark.catalog.tableExists(name)) session.createTable(name, schema)
          if (rows.nonEmpty) session.insert(name, rows)
        case DagTable(_, Some(sql), _, _, _, _) =>
          session.materialize(name, session.sql(sql))
        case other =>
          throw new IllegalArgumentException(s"Source table ${other.name} needs a schema or view")
      }
      None
    } catch { case e: Throwable => Some(e) }
}
