package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one way to materialize an intermediate and release it.
  *
  * [[cache]] and [[checkpoint]] do what `Dataset.cache()` and
  * `Dataset.localCheckpoint(eager)` do, and record the release against
  * the innermost [[Scope]] open on the calling thread. [[scope]] opens
  * one around a body; the caller that owns the body's sink releases it
  * after the sink. A scope opened inside another is owned by it too, and
  * threads started inside a body see the scopes open where they started.
  * Outside any scope nothing is recorded: the caller owns what it made,
  * as with Spark's own calls.
  *
  * A scope releases only what was recorded in it. Scopes on other
  * threads (sweep items, DAG runs, streams, RPC sessions) share one
  * SparkContext, so the context's persisted RDDs are never diffed.
  */
object Materialize {

  /** What one body materialized, released together, at most once. */
  final class Scope private[Materialize] {
    private var owned = List.empty[() => Unit]
    private var open = true

    private[Materialize] def own(release: () => Unit): Boolean = synchronized {
      if (open) owned ::= release
      open
    }

    /** Unpersist and delete everything recorded, newest first. */
    def release(): Unit = synchronized { open = false; val r = owned; owned = Nil; r }.foreach(_())
  }

  private val open = new InheritableThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Run `body` in a new scope, owned by the enclosing one. The scope is
    * released if `body` throws; otherwise the caller releases it.
    */
  def scope[A](body: => A): (A, Scope) = {
    val enclosing = open.get
    val s = own(new Scope)(_.release())
    open.set(s :: enclosing)
    try (body, s)
    catch { case e: Throwable => s.release(); throw e }
    finally open.set(enclosing)
  }

  /** `df.cache()`, unpersisted when the scope is released. */
  def cache(df: DataFrame): DataFrame = own(df.cache())(_.unpersist(blocking = false))

  /** `df.localCheckpoint(eager)`, unpersisted when the scope is released. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    own(df.localCheckpoint(eager))(_.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false)))

  /** `rdd.localCheckpoint()`, unpersisted when the scope is released. */
  def checkpoint[T](rdd: RDD[T]): RDD[T] = own(rdd.localCheckpoint())(_.unpersist(blocking = false))

  /** `a`, with `release(a)` recorded against the innermost open scope, if any. */
  private[graft] def own[A](a: A)(release: A => Unit): A = {
    open.get.exists(_.own(() => release(a)))
    a
  }
}
