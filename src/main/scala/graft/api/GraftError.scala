package graft.api

/** Typed error taxonomy with JSON-RPC error codes, mirroring the
  * reference's (reference: src/error.rs:1-51 — variant set, Display
  * strings, and `code()` mapping; src/error.rs:35 `with_context`).
  *
  * Every engine-visible failure is one of these kinds, so a ported
  * client can branch on `code` (or on the `kind` tag carried in the
  * JSON-RPC error `data`) instead of string-matching messages.
  */
sealed abstract class GraftError(val code: Int, val kind: String, message: String)
    extends RuntimeException(message) {

  /** Attach `[method=..., session=...]` context the way the reference
    * does (error.rs:35): only executor/loader/internal-class errors
    * absorb context; request-shaped errors pass through unchanged.
    */
  def withContext(method: String, sessionId: Option[String]): GraftError = this

  protected final def ctx(method: String, sessionId: Option[String]): String =
    sessionId match {
      case Some(s) => s"[method=$method, session=$s]"
      case None => s"[method=$method]"
    }
}

object GraftError {

  private def pre(context: Option[String], detail: String): String =
    context.fold(detail)(c => s"$c $detail")

  /** Engine/SQL execution failure (reference error.rs `Executor` → -32000). */
  final case class QueryError(detail: String, context: Option[String] = None)
      extends GraftError(-32000, "QueryError", s"Executor error: ${pre(context, detail)}") {
    override def withContext(m: String, s: Option[String]): GraftError =
      copy(context = Some(ctx(m, s)))
  }

  /** Reference surfaces missing tables through the executor family
    * (executor/yachtsql.rs table lookups → `Error::Executor`).
    */
  final case class UnknownTable(table: String, context: Option[String] = None)
      extends GraftError(-32000, "UnknownTable",
        s"Executor error: ${pre(context, s"Table not found: $table")}") {
    override def withContext(m: String, s: Option[String]): GraftError =
      copy(context = Some(ctx(m, s)))
  }

  /** Directory/parquet load failure (reference error.rs `Loader` → -32001). */
  final case class LoaderError(detail: String, context: Option[String] = None)
      extends GraftError(-32001, "LoaderError", s"Loader error: ${pre(context, detail)}") {
    override def withContext(m: String, s: Option[String]): GraftError =
      copy(context = Some(ctx(m, s)))
  }

  /** A method the server does not have (reference handler.rs:66
    * `method_not_found` → -32601); no context absorption.
    */
  final case class MethodNotFound(method: String)
      extends GraftError(-32601, "MethodNotFound", s"Method not found: $method")

  /** reference error.rs `SessionNotFound` → -32002; no context absorption. */
  final case class UnknownSession(id: String)
      extends GraftError(-32002, "UnknownSession", s"Session not found: $id")

  /** Malformed or unsupported request parameters (reference error.rs
    * `InvalidRequest` → -32600); no context absorption.
    */
  final case class InvalidParams(detail: String)
      extends GraftError(-32600, "InvalidParams", s"Invalid request: $detail")

  /** DAG cycle: the reference raises it as InvalidRequest
    * (session/pipeline.rs:475) so it keeps code -32600, but clients see
    * a distinct kind tag.
    */
  final case class CircularDependency(detail: String = "Circular dependency detected")
      extends GraftError(-32600, "CircularDependency", s"Invalid request: $detail")

  /** reference error.rs `Internal` → -32603. */
  final case class Internal(detail: String, context: Option[String] = None)
      extends GraftError(-32603, "Internal", s"Internal error: ${pre(context, detail)}") {
    override def withContext(m: String, s: Option[String]): GraftError =
      copy(context = Some(ctx(m, s)))
  }
}
