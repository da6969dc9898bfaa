package graft.api

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import graft.SparkSpec

/** The JSON-RPC transport, tested at three levels:
  *   1. framing semantics of [[RpcServer.processMessage]] (reference
  *      src/rpc/handler.rs:45 + types.rs RpcResponse);
  *   2. the typed error taxonomy through dispatch (reference src/error.rs);
  *   3. the full reference client lifecycle across a REAL process
  *      boundary over stdio — the client below is a faithful Scala port
  *      of the reference adaptor's framing
  *      (adaptors/clojure/src/bq_runner/client.clj: one JSON request per
  *      line on stdin, responses matched to requests by id from a
  *      reader thread) — and over a real WebSocket (JDK client).
  */
class RpcServerSpec extends SparkSpec {

  private lazy val rpc = new GraftRpc(spark)

  private def asMap(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  private def send(json: String): Map[String, Any] = asMap(Json.parse(RpcServer.processMessage(json, rpc)))
  private def errOf(resp: Map[String, Any]): Map[String, Any] = asMap(resp("error"))

  // ---------------------------------------------------------------- framing

  test("malformed JSON yields -32700 Parse error with null id") {
    val resp = send("""{"jsonrpc": "2.0", "method": """)
    assert(errOf(resp)("code") == -32700L)
    assert(errOf(resp)("message") == "Parse error")
    assert(resp("id") == null)
  }

  test("wrong jsonrpc version yields -32600 Invalid Request") {
    val resp = send("""{"jsonrpc":"1.0","method":"bq.ping","id":1}""")
    assert(errOf(resp)("code") == -32600L)
    assert(errOf(resp)("message") == "Invalid Request")
  }

  test("unknown method yields -32601 with the method name, id echoed") {
    val resp = send("""{"jsonrpc":"2.0","method":"bq.nope","params":{},"id":"abc-123"}""")
    assert(errOf(resp)("code") == -32601L)
    assert(errOf(resp)("message") == "Method not found: bq.nope")
    assert(resp("id") == "abc-123")
  }

  test("a bad value that reads 'Unknown method' is -32600, not method-not-found") {
    val s = asMap(rpc.dispatch("bq.createSession"))("sessionId").toString
    rpc.dispatch("bq.createTable", Map("sessionId" -> s, "tableName" -> "days",
      "schema" -> Seq(Map("name" -> "d", "type" -> "DATE"))))
    val resp = send(s"""{"jsonrpc":"2.0","method":"bq.insert","params":{"sessionId":"$s","tableName":"days","rows":[["Unknown method"]]},"id":4}""")
    assert(errOf(resp)("code") == -32600L)
    assert(errOf(resp)("message") == "Invalid request: Invalid DATE value: 'Unknown method'")
    assert(asMap(errOf(resp)("data"))("kind") == "InvalidParams")
    rpc.dispatch("bq.destroySession", Map("sessionId" -> s))
  }

  test("success envelope echoes numeric ids and carries no error key") {
    val resp = send("""{"jsonrpc":"2.0","method":"bq.ping","id":42}""")
    assert(resp("id") == 42L)
    assert(asMap(resp("result")) == Map("message" -> "pong"))
    assert(!resp.contains("error"))
  }

  test("unknown session yields -32002 with [method, session] context-free message") {
    val resp = send("""{"jsonrpc":"2.0","method":"bq.query","params":{"sessionId":"nope","sql":"SELECT 1"},"id":7}""")
    assert(errOf(resp)("code") == -32002L)
    assert(errOf(resp)("message") == "Session not found: nope")
    assert(asMap(errOf(resp)("data"))("kind") == "UnknownSession")
  }

  test("executor errors absorb [method=..., session=...] context like error.rs with_context") {
    val s = asMap(rpc.dispatch("bq.createSession"))("sessionId").toString
    val resp = send(s"""{"jsonrpc":"2.0","method":"bq.query","params":{"sessionId":"$s","sql":"SELECT * FROM no_such_table"},"id":9}""")
    assert(errOf(resp)("code") == -32000L)
    val msg = errOf(resp)("message").toString
    assert(msg.startsWith("Executor error: [method=bq.query, session="))
    assert(msg.contains("Table not found"))
    assert(asMap(errOf(resp)("data"))("kind") == "UnknownTable")
  }

  // ---------------------------------------------------------- error taxonomy

  test("dispatch throws typed GraftError kinds for the client_test.clj failure paths") {
    val unknownSession = intercept[GraftError.UnknownSession] {
      rpc.dispatch("bq.query", Map("sessionId" -> "missing", "sql" -> "SELECT 1"))
    }
    assert(unknownSession.code == -32002)

    val s = asMap(rpc.dispatch("bq.createSession"))("sessionId").toString

    val unknownTable = intercept[GraftError.UnknownTable] {
      rpc.dispatch("bq.query", Map("sessionId" -> s, "sql" -> "SELECT * FROM ghost"))
    }
    assert(unknownTable.code == -32000 && unknownTable.table.contains("ghost"))

    val missingParam = intercept[GraftError.InvalidParams] {
      rpc.dispatch("bq.query", Map("sessionId" -> s))
    }
    assert(missingParam.code == -32600 && missingParam.getMessage.contains("Missing param: sql"))

    rpc.dispatch("bq.registerDag", Map("sessionId" -> s, "tables" -> Seq(
      Map("name" -> "a", "sql" -> "SELECT * FROM b"),
      Map("name" -> "b", "sql" -> "SELECT * FROM a"))))
    val cycle = intercept[GraftError.CircularDependency] {
      rpc.dispatch("bq.runDag", Map("sessionId" -> s))
    }
    assert(cycle.code == -32600)
    assert(cycle.getMessage == "Invalid request: Circular dependency detected")
    rpc.dispatch("bq.clearDag", Map("sessionId" -> s))

    val sqlError = intercept[GraftError.QueryError] {
      rpc.dispatch("bq.query", Map("sessionId" -> s, "sql" -> "SELECT undefined_fn_xyz(1)"))
    }
    assert(sqlError.code == -32000)

    val loader = intercept[GraftError.LoaderError] {
      rpc.dispatch("bq.loadParquet", Map("sessionId" -> s, "tableName" -> "t", "path" -> "/no/such/path.parquet"))
    }
    assert(loader.code == -32001)
  }

  // ------------------------------------------------- bounded materialization

  test("bq.query caps driver materialization: 10M-row result returns maxResults rows + truncated") {
    val s = asMap(rpc.dispatch("bq.createSession"))("sessionId").toString
    val resp = asMap(GraftRpc.toBqResponse(spark.range(10000000L).toDF("id"), maxResults = 1000))
    assert(resp("totalRows") == "1000")
    assert(resp("rows").asInstanceOf[Seq[_]].size == 1000)
    assert(resp("truncated") == true)

    // Under the cap: no truncation marker.
    val small = asMap(GraftRpc.toBqResponse(spark.range(5L).toDF("id")))
    assert(small("totalRows") == "5" && !small.contains("truncated"))

    // Explicit maxResults flows through the RPC param.
    rpc.dispatch("bq.createTable", Map("sessionId" -> s, "tableName" -> "caps",
      "schema" -> Seq(Map("name" -> "v", "type" -> "INT64"))))
    rpc.dispatch("bq.insert", Map("sessionId" -> s, "tableName" -> "caps",
      "rows" -> (1 to 10).map(i => Seq(i))))
    val capped = asMap(rpc.dispatch("bq.query",
      Map("sessionId" -> s, "sql" -> "SELECT * FROM caps", "maxResults" -> 3)))
    assert(capped("totalRows") == "3" && capped("truncated") == true)
  }

  // ----------------------------------------------------- process boundary

  // The stdio client itself is now LIBRARY code (graft.api.GraftClient —
  // the Scala analog of the reference Clojure client); these tests drive
  // it across a real process boundary. Server command: graft.TestServer.

  test("stdio transport: full reference client lifecycle across a real process boundary") {
    val client = GraftClient.connect(graft.TestServer.serverCommand("stdio"))
    try {
      assert(client.call("bq.ping") == Map("message" -> "pong"))
      val s = client.call("bq.createSession")("sessionId").toString

      assert(client.call("bq.createTable", Map("sessionId" -> s, "tableName" -> "users",
        "schema" -> Seq(Map("name" -> "id", "type" -> "INT64"), Map("name" -> "name", "type" -> "STRING"))))("success") == true)

      assert(client.call("bq.insert", Map("sessionId" -> s, "tableName" -> "users",
        "rows" -> Seq(Seq(1, "Alice"), Seq(2, "Bob"))))("insertedRows") == 2L)

      val q = client.call("bq.query", Map("sessionId" -> s, "sql" -> "SELECT name FROM users ORDER BY id"))
      assert(q("totalRows") == "2")
      val names = q("rows").asInstanceOf[Seq[Map[String, Any]]]
        .map(_("f").asInstanceOf[Seq[Map[String, Any]]].head("v"))
      assert(names == Seq("Alice", "Bob"))

      val reg = client.call("bq.registerDag", Map("sessionId" -> s, "tables" -> Seq(
        Map("name" -> "doubled", "sql" -> "SELECT id * 2 AS id2 FROM users"))))
      assert(reg("success") == true)
      val run = client.call("bq.runDag", Map("sessionId" -> s))
      assert(run("success") == true && run("succeededTables") == Seq("doubled"))

      val q2 = client.call("bq.query", Map("sessionId" -> s, "sql" -> "SELECT SUM(id2) AS t FROM doubled"))
      assert(q2("rows").asInstanceOf[Seq[Map[String, Any]]].head("f")
        .asInstanceOf[Seq[Map[String, Any]]].head("v") == 6L)

      // Error envelope across the wire: unknown session keeps code -32002.
      val bad = client.sendRequest("bq.query", Map("sessionId" -> "nope", "sql" -> "SELECT 1"))
      assert(asMap(bad("error"))("code") == -32002L)

      // The served session runs the posture the oracle verified: non-ANSI
      // answers come back over stdio exactly as in-process GraftRpc
      // returns them — NULL for division by zero and a bad cast, the
      // two's-complement wrap for INT overflow — and a user SQL failure
      // is a QueryError.
      val local = asMap(rpc.dispatch("bq.createSession"))("sessionId").toString
      def rowsOf(result: Any): Any = asMap(Json.parse(Json.write(result)))("rows")
      for ((probe, expected) <- Seq("SELECT 1/0" -> null, "SELECT CAST('abc' AS INT)" -> null,
          "SELECT 2147483647 + 1" -> Int.MinValue.toLong)) {
        val served = rowsOf(client.call("bq.query", Map("sessionId" -> s, "sql" -> probe)))
        val inProcess = rowsOf(rpc.dispatch("bq.query", Map("sessionId" -> local, "sql" -> probe)))
        assert(served == inProcess, probe)
        assert(served == Seq(Map("f" -> Seq(Map("v" -> expected)))), s"$probe: $served")
      }
      // BigQuery's bare date/time units resolve on the served path as in
      // the oracle-verified sessions; a column named `day` in a data
      // position stays a column.
      for ((probe, expected) <- Seq(
          "SELECT DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', DAY)" -> 60L,
          "SELECT DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', WEEK)" -> 8L,
          "SELECT DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', MONTH)" -> 2L,
          "SELECT CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-01-01 10:42:17', HOUR) AS STRING)" ->
            "2024-01-01 10:00:00",
          "SELECT DATE_DIFF(DATE '2024-03-01', day, MONTH) FROM (SELECT DATE '2024-01-31' AS day)" -> 2L)) {
        val served = rowsOf(client.call("bq.query", Map("sessionId" -> s, "sql" -> probe)))
        val inProcess = rowsOf(rpc.dispatch("bq.query", Map("sessionId" -> local, "sql" -> probe)))
        assert(served == inProcess, probe)
        assert(served == Seq(Map("f" -> Seq(Map("v" -> expected)))), s"$probe: $served")
      }
      val raised = client.sendRequest("bq.query", Map("sessionId" -> s, "sql" -> "SELECT raise_error('boom')"))
      assert(asMap(raised("error"))("code") == -32000L, raised)
      assert(asMap(raised("error"))("message").toString.contains("boom"), raised)
      val raisedLocal = intercept[GraftError] {
        rpc.dispatch("bq.query", Map("sessionId" -> local, "sql" -> "SELECT raise_error('boom')"))
      }
      assert(raisedLocal.code == -32000, raisedLocal)
      assert(raisedLocal.getMessage.contains("boom"), raisedLocal)
      rpc.dispatch("bq.destroySession", Map("sessionId" -> local))

      assert(client.call("bq.destroySession", Map("sessionId" -> s))("success") == true)
    } finally client.close()
  }

  test("--backend bigquery over the wire: connector-absent queries fail TYPED, not with a raw stack (the sandboxed remote path)") {
    val client = GraftClient.connect(
      graft.TestServer.serverCommand("stdio", Seq("--backend", "bigquery")),
      Map("BQ_PROJECT" -> "demo-project", "BQ_DATASET" -> "demo",
        "BQ_MATERIALIZATION_DATASET" -> "demo_tmp"))
    try {
      val s = client.call("bq.createSession")("sessionId").toString
      // bq.query in bigquery mode routes to the remote jobs.query path
      // (never the local parser); with no connector jar present the
      // typed QueryError names the missing backend — the exact contract
      // a misconfigured deployment needs to see.
      val resp = client.sendRequest("bq.query", Map("sessionId" -> s, "sql" -> "SELECT 1"))
      val err = asMap(resp("error"))
      assert(asMap(err("data"))("kind") == "QueryError", resp.toString)
      assert(err("message").toString.contains("spark-bigquery connector is not on the classpath"),
        err("message").toString)
    } finally client.close()
  }

  // ------------------------------------------------------------- WebSocket

  private def freePort(): Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  test("WebSocket transport: JDK client handshake, JSON-RPC round trip, /health probe") {
    val port = freePort()
    val serverRpc = new GraftRpc(spark)
    val t = new Thread(() => {
      try RpcServer.runWebSocket(serverRpc, port)
      catch { case _: Exception => () }
    }, "ws-server")
    t.setDaemon(true)
    t.start()

    // Wait for the port to accept.
    eventuallyConnects(port)

    // Plain HTTP health probe (reference main.rs:186 /health route).
    val http = HttpClient.newHttpClient()
    val health = http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(health.statusCode() == 200)
    assert(asMap(Json.parse(health.body()))("message") == "pong")

    // Real WebSocket client (JDK implementation — independent framing).
    val messages = new LinkedBlockingQueue[String]()
    val buf = new StringBuilder
    val opened = new CountDownLatch(1)
    val listener = new WebSocket.Listener {
      override def onOpen(ws: WebSocket): Unit = { opened.countDown(); ws.request(1) }
      override def onText(ws: WebSocket, data: CharSequence, last: Boolean): java.util.concurrent.CompletionStage[_] = {
        buf.append(data)
        if (last) { messages.put(buf.toString); buf.clear() }
        ws.request(1)
        null
      }
    }
    val ws = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(URI.create(s"ws://localhost:$port/"), listener)
      .get(30, TimeUnit.SECONDS)
    opened.await(10, TimeUnit.SECONDS)

    def call(method: String, params: Map[String, Any], id: Long): Map[String, Any] = {
      ws.sendText(Json.write(Map("jsonrpc" -> "2.0", "method" -> method, "params" -> params, "id" -> id)), true)
      val resp = asMap(Json.parse(messages.poll(60, TimeUnit.SECONDS)))
      assert(resp("id") == id)
      resp
    }

    assert(asMap(call("bq.ping", Map.empty, 1)("result")) == Map("message" -> "pong"))
    val s = asMap(call("bq.createSession", Map.empty, 2)("result"))("sessionId").toString
    val one = call("bq.query", Map("sessionId" -> s, "sql" -> "SELECT 41 + 1 AS answer"), 3)
    val v = asMap(one("result"))("rows").asInstanceOf[Seq[Map[String, Any]]]
      .head("f").asInstanceOf[Seq[Map[String, Any]]].head("v")
    assert(v == 42L)
    assert(asMap(call("bq.destroySession", Map("sessionId" -> s), 4)("result"))("success") == true)
    ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
  }

  test("WebSocket transport: concurrent clients run isolated sessions in parallel") {
    val port = freePort()
    val serverRpc = new GraftRpc(spark)
    val t = new Thread(() => {
      try RpcServer.runWebSocket(serverRpc, port)
      catch { case _: Exception => () }
    }, "ws-server-conc")
    t.setDaemon(true)
    t.start()
    eventuallyConnects(port)

    class Client {
      private val messages = new LinkedBlockingQueue[String]()
      private val buf = new StringBuilder
      private val opened = new CountDownLatch(1)
      private val ids = new java.util.concurrent.atomic.AtomicLong(1)
      private val ws = HttpClient.newHttpClient().newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://localhost:$port/"), new WebSocket.Listener {
          override def onOpen(w: WebSocket): Unit = { opened.countDown(); w.request(1) }
          override def onText(w: WebSocket, data: CharSequence, last: Boolean)
              : java.util.concurrent.CompletionStage[_] = {
            buf.append(data)
            if (last) { messages.put(buf.toString); buf.clear() }
            w.request(1)
            null
          }
        }).get(30, TimeUnit.SECONDS)
      opened.await(10, TimeUnit.SECONDS)
      def call(method: String, params: Map[String, Any]): Map[String, Any] = {
        val id = ids.getAndIncrement()
        ws.sendText(Json.write(
          Map("jsonrpc" -> "2.0", "method" -> method, "params" -> params, "id" -> id)), true)
        val resp = asMap(Json.parse(messages.poll(120, TimeUnit.SECONDS)))
        assert(resp("id") == id, s"response matched wrong request: $resp")
        resp
      }
      def close(): Unit = ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    }

    // Same table name, different data, FULL lifecycle on two threads at
    // once: isolation must hold under actual concurrency, not just
    // sequential interleaving.
    def flow(seedValue: Long): Long = {
      val c = new Client
      try {
        val s = asMap(c.call("bq.createSession", Map.empty)("result"))("sessionId").toString
        c.call("bq.createTable", Map("sessionId" -> s, "tableName" -> "t",
          "schema" -> Seq(Map("name" -> "x", "type" -> "INT64"))))
        (1 to 5).foreach { i =>
          c.call("bq.insert", Map("sessionId" -> s, "tableName" -> "t",
            "rows" -> Seq(Seq(seedValue * i))))
        }
        val q = c.call("bq.query", Map("sessionId" -> s, "sql" -> "SELECT SUM(x) AS sx FROM t"))
        val v = asMap(q("result"))("rows").asInstanceOf[Seq[Map[String, Any]]]
          .head("f").asInstanceOf[Seq[Map[String, Any]]].head("v")
        c.call("bq.destroySession", Map("sessionId" -> s))
        v.toString.toLong
      } finally c.close()
    }

    val results = new LinkedBlockingQueue[(Long, Long)]()
    val errors = new LinkedBlockingQueue[Throwable]()
    val workers = Seq(7L, 11L).map { seed =>
      new Thread(() =>
        try results.put(seed -> flow(seed))
        catch { case e: Throwable => errors.put(e) })
    }
    workers.foreach(_.start())
    workers.foreach(_.join(180000))
    assert(errors.isEmpty, s"concurrent client failed: ${Option(errors.poll())}")
    val out = Iterator.continually(results.poll()).takeWhile(_ != null).toMap
    // sum(seed * i, i=1..5) = seed * 15 — each client saw ONLY its rows
    assert(out == Map(7L -> 105L, 11L -> 165L), s"cross-session contamination: $out")
  }

  private def eventuallyConnects(port: Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var connected = false
    while (!connected && System.nanoTime() < deadline) {
      try {
        val s = new java.net.Socket("localhost", port)
        s.close(); connected = true
      } catch { case _: Exception => Thread.sleep(100) }
    }
    assert(connected, s"server never bound port $port")
  }
}
