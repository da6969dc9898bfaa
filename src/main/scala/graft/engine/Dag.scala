package graft.engine

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

/** One table in the pipeline: a source (schema + literal rows, or a
  * view over a DataFrame builder) or a derived table (SQL over other
  * tables). Reference: src/session/pipeline.rs PipelineTable / rpc
  * DagTableDef.
  */
final case class DagTable(
    name: String,
    sql: Option[String] = None,
    schema: Option[Seq[(String, String)]] = None,
    rows: Seq[Seq[Any]] = Nil,
    view: Option[() => DataFrame] = None) {
  def isSource: Boolean = sql.isEmpty
}

object DagTable {
  def source(name: String, schema: Seq[(String, String)], rows: Seq[Seq[Any]] = Nil): DagTable =
    DagTable(name, schema = Some(schema), rows = rows)
  /** A view whose frame is built inside the table's scheduler slot on
    * every run, not at registration: a builder that runs driver-side
    * work (training collects, checkpoints) then overlaps other stages.
    */
  def view(name: String, df: => DataFrame): DagTable = DagTable(name, view = Some(() => df))
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
  *   - dependencies come from Spark's own SQL parser (UnresolvedRelation
  *     set minus CTE names), not substring matching
  *     (reference: pipeline.rs:595 extract_dependencies);
  *   - the reference's CREATE TABLE + INSERT of the query result
  *     (pipeline.rs:511 execute_table) is the session's insert snapshot,
  *     [[GraftSession.materialize]], computed by executors and never
  *     serialized through a driver-side SQL string.
  *
  * A derived table's blocks live in executor storage and are lost with
  * the executor, as insert snapshots are. Re-running a table releases
  * its previous snapshot; [[clear]] releases those of the tables it
  * drops, and closing the session releases the rest.
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
      try session.spark.sessionState.sqlParser.parsePlan(sql)
      catch { case NonFatal(_) => return Nil }
    // CTE definition bodies are held in UnresolvedWith.cteRelations, which
    // plan.collect does NOT traverse — walk them explicitly (recursively,
    // for WITH inside WITH).
    val cteNames = mutable.Set[String]()
    val referenced = mutable.Set[String]()
    val work = mutable.Stack[LogicalPlan](root)
    while (work.nonEmpty) {
      val p = work.pop()
      p.foreach {
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

  /** Drop every table: its view and its snapshot. */
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

  /** Slot-based streaming execution (reference pipeline.rs:50-104
    * StreamState::ready_tables): a table starts the moment its last
    * dependency completes, bounded by `maxConcurrency` in-flight slots —
    * there is NO barrier between topological levels, so a fast branch's
    * dependents never wait for a slow sibling elsewhere in the DAG.
    * Concurrent tables become concurrent Spark jobs; the scheduler
    * interleaves their stages across the cluster.
    *
    * All scheduler state is owned by this (driver) thread; workers only
    * post completion events. One deliberate divergence from the
    * reference: its post-failure skip pass runs once per event
    * (pipeline.rs:327-341), which can strand a skip chain deeper than
    * one level with nothing in flight; here skips propagate to a
    * fixpoint so every downstream table resolves immediately.
    */
  private def runSubset(subset: Set[String], maxConcurrency: Int): DagResult = {
    if (subset.isEmpty) return DagResult()
    val levels = topoLevels(subset) // cycle detection: raises CircularDependency
    val slots = math.max(1, maxConcurrency)
    // Per-table unresolved deps (completed deps are removed; blocked
    // deps stay, which is what marks the table skippable).
    val pendingDeps = mutable.Map.empty[String, mutable.Set[String]]
    subset.foreach { n =>
      pendingDeps(n) = mutable.Set(deps.getOrElse(n, Nil).filter(subset.contains): _*)
    }
    val inFlight = mutable.Set[String]()
    val completed = mutable.Set[String]()
    val blocked = mutable.Set[String]()
    val succeeded = mutable.ArrayBuffer[String]()
    val failed = mutable.ArrayBuffer[TableError]()
    val skipped = mutable.ArrayBuffer[String]()
    var processed = 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(slots, subset.size))
    val events = new java.util.concurrent.LinkedBlockingQueue[(String, Option[Throwable])]()

    // Critical-path slot priority: when more tables are ready than slots
    // are free, start the one heading the longest dependency chain —
    // the classic makespan heuristic (delaying the critical path delays
    // the whole DAG; delaying a leaf delays only itself). Height is
    // pure graph arithmetic (longest chain of dependents within the
    // subset), memoized once per run; ties break by name so scheduling
    // stays deterministic.
    val dependents = subset.map(n => n -> mutable.Buffer.empty[String]).toMap
    subset.foreach(n =>
      deps.getOrElse(n, Nil).filter(subset.contains).foreach(d => dependents(d) += n))
    // Heights computed iteratively in reverse topological order — a
    // definition that recurses one frame per dependency level would
    // overflow the driver stack on a pathologically deep chain (tens of
    // thousands of tables) before any table runs.
    val height: collection.Map[String, Int] = {
      val h = mutable.Map.empty[String, Int]
      levels.reverse.foreach(_.foreach { n =>
        h(n) = 1 + dependents(n).map(h).maxOption.getOrElse(0)
      })
      h
    }
    def isPending(n: String) = !completed(n) && !blocked(n) && !inFlight(n)
    def spawnReady(): Unit = {
      val free = slots - inFlight.size
      if (free > 0) {
        pendingDeps.keys.toSeq
          .filter(n => isPending(n) && pendingDeps(n).isEmpty)
          .sortBy(n => (-height(n), n))
          .take(free)
          .foreach { n =>
            inFlight += n
            // The completion event must post even on FATAL throwables
            // (OOM during a materialization, linkage errors): a missing
            // event would leave the driver blocked in events.take()
            // forever with the table stuck in-flight. execute() already
            // converts NonFatal failures; this is the last-resort net.
            pool.execute(() => {
              val outcome =
                try execute(n)
                catch { case t: Throwable => Some(t) }
              events.put(n -> outcome)
            })
          }
      }
    }

    try {
      spawnReady()
      while (processed < subset.size) {
        val (name, outcome) = events.take()
        processed += 1
        inFlight -= name
        outcome match {
          case None =>
            completed += name; succeeded += name
            pendingDeps.values.foreach(_ -= name)
          case Some(e) =>
            blocked += name; failed += TableError(name, e.getMessage)
        }
        var changed = true
        while (changed) {
          changed = false
          pendingDeps.keys.toSeq.sorted.foreach { n =>
            if (isPending(n) && pendingDeps(n).exists(blocked.contains)) {
              blocked += n; skipped += n; processed += 1; changed = true
            }
          }
        }
        spawnReady()
      }
    } finally pool.shutdown()
    DagResult(succeeded.toSeq, failed.toSeq, skipped.toSeq)
  }

  /** Materialize one table and register it as a session view. */
  private def execute(name: String): Option[Throwable] =
    try {
      val t = tables(name)
      t match {
        case DagTable(_, None, _, _, Some(mk)) =>
          session.replaceView(name, mk())
        case DagTable(_, None, Some(schema), rows, _) =>
          // Reference semantics (pipeline.rs:556): CREATE IF NOT EXISTS +
          // append the registered literal rows on every run.
          if (!session.spark.catalog.tableExists(name)) session.createTable(name, schema)
          if (rows.nonEmpty) session.insert(name, rows)
        case DagTable(_, Some(sql), _, _, _) =>
          session.materialize(name, session.sql(sql))
        case other =>
          throw new IllegalArgumentException(s"Source table ${other.name} needs a schema or view")
      }
      None
    } catch { case NonFatal(e) => Some(e) }

  private[engine] def topoLevels(subset: Set[String]): Seq[Seq[String]] = {
    val inDeg = mutable.Map[String, Int]()
    val dependents = mutable.Map[String, mutable.Buffer[String]]()
    subset.foreach { n =>
      val ds = deps.getOrElse(n, Nil).filter(subset.contains)
      inDeg(n) = ds.size
      ds.foreach(d => dependents.getOrElseUpdate(d, mutable.Buffer()) += n)
    }
    val levels = mutable.ArrayBuffer[Seq[String]]()
    var processed = 0
    while (inDeg.nonEmpty) {
      val level = inDeg.collect { case (n, 0) => n }.toSeq.sorted
      // Reference raises cycles as InvalidRequest (session/pipeline.rs:475).
      if (level.isEmpty)
        throw graft.api.GraftError.CircularDependency()
      level.foreach { n =>
        inDeg.remove(n)
        dependents.getOrElse(n, Nil).foreach(d => inDeg.updateWith(d)(_.map(_ - 1)))
      }
      processed += level.size
      levels += level
    }
    levels.toSeq
  }
}
