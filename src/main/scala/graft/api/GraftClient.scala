package graft.api

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

/** Client library for the stdio JSON-RPC transport — the Scala analog of
  * the reference's Clojure client adaptor (adaptors/clojure/src/
  * bq_runner/client.clj + core.clj): a spawned server process, one JSON
  * request line per call with a UUID id, a daemon reader thread routing
  * response lines to per-id queues, and the connection/session lifecycle
  * surface the reference's client tests exercise —
  *
  *  - `GraftClient.connect(cmd)` / [[connected]] / [[close]]
  *    (client.clj connect/connected?/close);
  *  - [[withSession]] — the `with-session` loan macro: create, hand to
  *    the body, destroy on ANY exit path;
  *  - [[SessionHandle.close]] — reference `bq/close` on a session:
  *    destroys the session AND closes the whole connection
  *    (client_test.clj test-close-with-session-cleans-up).
  *
  * Errors surface as the typed [[GraftError]] taxonomy reconstructed
  * from the protocol code, so client code handles the same error kinds
  * the in-process API throws.
  */
final class GraftClient private (process: Process) {

  private val writer = new PrintWriter(process.getOutputStream, true)
  private val reader = new BufferedReader(new InputStreamReader(process.getInputStream, UTF_8))
  private val pending = new ConcurrentHashMap[String, LinkedBlockingQueue[Map[String, Any]]]()
  @volatile private var closed = false

  // Drain stderr (Spark logs) so the child never blocks on a full pipe.
  private val errDrain = new Thread(() => {
    val r = new BufferedReader(new InputStreamReader(process.getErrorStream, UTF_8))
    try { while (r.readLine() != null) () } catch { case _: Exception => () }
  })
  errDrain.setDaemon(true); errDrain.start()

  private val readerThread = new Thread(() => {
    try {
      var line = reader.readLine()
      while (!closed && line != null) {
        val resp = Json.parse(line).asInstanceOf[Map[String, Any]]
        Option(resp.getOrElse("id", null)).map(_.toString).foreach { id =>
          Option(pending.remove(id)).foreach(_.put(resp))
        }
        line = reader.readLine()
      }
    } catch { case _: Exception => closed = true }
  })
  readerThread.setDaemon(true); readerThread.start()

  /** connected? — the process is alive and the connection not closed. */
  def connected: Boolean = !closed && process.isAlive

  /** Close the connection and terminate the server process. */
  def close(): Unit = { closed = true; process.destroy() }

  /** One raw JSON-RPC round trip (response envelope as parsed JSON). */
  def sendRequest(
      method: String, params: Map[String, Any] = Map.empty,
      timeoutMs: Long = 120000): Map[String, Any] = {
    require(connected, "connection is closed")
    val id = java.util.UUID.randomUUID().toString
    val queue = new LinkedBlockingQueue[Map[String, Any]](1)
    pending.put(id, queue)
    writer.println(Json.write(
      Map("jsonrpc" -> "2.0", "method" -> method, "params" -> params, "id" -> id)))
    val resp = queue.poll(timeoutMs, TimeUnit.MILLISECONDS)
    if (resp == null) {
      pending.remove(id)
      throw GraftError.QueryError(s"timed out waiting for $method response")
    }
    resp
  }

  /** Round trip unwrapping the result, re-throwing protocol errors as
    * their typed [[GraftError]] kinds.
    */
  def call(method: String, params: Map[String, Any] = Map.empty): Map[String, Any] = {
    val resp = sendRequest(method, params)
    resp.get("error") match {
      case Some(err: Map[String, Any] @unchecked) =>
        val msg = err.getOrElse("message", "").toString
        err.getOrElse("code", -32000) match {
          case -32602 | -32600 => throw GraftError.InvalidParams(msg)
          case _ => throw GraftError.QueryError(msg)
        }
      case _ => resp("result") match {
        case m: Map[String, Any] @unchecked => m
        case other => Map("value" -> other)
      }
    }
  }

  def ping(): Boolean = call("bq.ping").get("message").contains("pong")

  def createSession(): GraftClient.SessionHandle =
    new GraftClient.SessionHandle(this, call("bq.createSession")("sessionId").toString)

  /** The with-session loan pattern: create a session, run the body,
    * destroy the session on every exit path (the connection stays open —
    * reference with-session macro semantics).
    */
  def withSession[A](body: GraftClient.SessionHandle => A): A = {
    val s = createSession()
    try body(s)
    finally s.destroy()
  }
}

object GraftClient {

  /** Spawn the server command and connect over its stdio. */
  def connect(cmd: Seq[String]): GraftClient = connect(cmd, Map.empty)

  /** Spawn with extra environment — how a deployment hands the server
    * its backend configuration (BQ_PROJECT/BQ_DATASET — the same env
    * contract the reference reads at startup, bigquery.rs:40).
    */
  def connect(cmd: Seq[String], env: Map[String, String]): GraftClient = {
    val pb = new ProcessBuilder(cmd: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    new GraftClient(pb.start())
  }

  /** A session on a connection (reference core.clj session map: the
    * handle carries its connection and id).
    */
  final class SessionHandle private[GraftClient] (val conn: GraftClient, val sessionId: String) {

    private def withId(params: Map[String, Any]): Map[String, Any] =
      params + ("sessionId" -> sessionId)

    def query(sql: String): Seq[Map[String, Any]] = {
      val raw = queryRaw(sql)
      val fields = raw("schema").asInstanceOf[Map[String, Any]]("fields")
        .asInstanceOf[Seq[Map[String, Any]]].map(_("name").toString)
      raw("rows").asInstanceOf[Seq[Map[String, Any]]].map { r =>
        fields.zip(r("f").asInstanceOf[Seq[Map[String, Any]]].map(_.getOrElse("v", null))).toMap
      }
    }

    /** The BigQuery-shaped response envelope (reference query-raw). */
    def queryRaw(sql: String): Map[String, Any] =
      conn.call("bq.query", withId(Map("sql" -> sql)))

    def createTable(name: String, schema: Seq[(String, String)]): Unit = {
      conn.call("bq.createTable", withId(Map("tableName" -> name,
        "schema" -> schema.map { case (n, t) => Map("name" -> n, "type" -> t) })))
      ()
    }

    def insert(name: String, rows: Seq[Seq[Any]]): Long =
      conn.call("bq.insert", withId(Map("tableName" -> name, "rows" -> rows)))("insertedRows")
        .toString.toDouble.toLong

    /** Destroy the session only (with-session cleanup path). */
    def destroy(): Unit =
      if (conn.connected) { conn.call("bq.destroySession", withId(Map.empty)); () }

    /** Reference bq/close on a session: destroy the session, then close
      * the WHOLE connection.
      */
    def close(): Unit = {
      try destroy()
      finally conn.close()
    }
  }
}
