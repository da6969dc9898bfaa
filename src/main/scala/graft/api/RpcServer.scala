package graft.api

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

import scala.util.control.NonFatal

/** JSON-RPC 2.0 server for the bq.* surface, over the same two
  * transports as the reference (reference: src/main.rs:49-188 —
  * newline-delimited JSON on stdio, or WebSocket text frames; framing
  * and error envelopes per src/rpc/handler.rs:45 process_message and
  * src/rpc/types.rs RpcResponse).
  *
  * Usage: `graft.api.RpcServer [--transport stdio|ws://localhost:PORT]`
  * (default ws://localhost:3000, matching the reference CLI). The
  * reference's stdio clients (adaptors/clojure/src/bq_runner/client.clj)
  * write one request per line on stdin and read one response per line
  * from stdout, matching responses to requests by id.
  */
object RpcServer {

  /** One message in → one response out (reference handler.rs:45).
    * Malformed JSON → -32700; wrong/missing jsonrpc version → -32600;
    * unknown method → -32601; [[GraftError]] kinds keep their reference
    * code and absorb [method=..., session=...] context.
    */
  def processMessage(msg: String, rpc: GraftRpc): String = {
    val parsed =
      try Json.parse(msg)
      catch { case NonFatal(_) => return Json.write(errorResponse(null, -32700, "Parse error")) }
    parsed match {
      case obj: Map[String, Any] @unchecked if obj.get("jsonrpc").contains("2.0") && obj.contains("method") =>
        val id = obj.getOrElse("id", null)
        val method = obj("method").toString
        val params = obj.get("params") match {
          case Some(m: Map[String, Any] @unchecked) => m
          case _ => Map.empty[String, Any]
        }
        val sessionId = params.get("sessionId").map(_.toString)
        try Json.write(Map("jsonrpc" -> "2.0", "result" -> rpc.dispatch(method, params), "id" -> id))
        catch {
          case e: GraftError =>
            val withCtx = e.withContext(method, sessionId)
            Json.write(errorResponse(id, withCtx.code, withCtx.getMessage, Some(withCtx.kind)))
          case NonFatal(e) =>
            val wrapped = GraftError.Internal(String.valueOf(e.getMessage))
              .withContext(method, sessionId)
            Json.write(errorResponse(id, wrapped.code, wrapped.getMessage, Some(wrapped.kind)))
        }
      case _ => Json.write(errorResponse(null, -32600, "Invalid Request"))
    }
  }

  private def errorResponse(id: Any, code: Int, message: String, kind: Option[String] = None): Map[String, Any] =
    Map(
      "jsonrpc" -> "2.0",
      "error" -> (Map("code" -> code, "message" -> message) ++ kind.map(k => "data" -> Map("kind" -> k))),
      "id" -> id)

  def main(args: Array[String]): Unit = {
    val transport = args.sliding(2).collectFirst { case Array("--transport", t) => t }
      .getOrElse("ws://localhost:3000")
    val backend = graft.engine.ExecutorMode.parse(
      args.sliding(2).collectFirst { case Array("--backend", b) => b }.getOrElse("mock"))
    // Spark and friends occasionally print to stdout; on the stdio
    // transport stdout IS the wire, so reserve it before the session
    // spins up and route all stray prints to stderr.
    val wire = System.out
    System.setOut(new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.err), true))

    // The oracle-verified posture. Run shape: the master comes from the
    // deployment setting `graft.rpc.master`; requests are small, so the
    // session is sized as a 4-core app (8 shuffle partitions) on any
    // master. `spark.local.dir` and the warehouse dir stay whatever the
    // launcher passes as -D properties.
    val spark = graft.GraftConf.builder("graft-rpc", clusterCores = 4)
      .master(sys.props.getOrElse("graft.rpc.master", "local[4]"))
      .getOrCreate()
    val rpc = new GraftRpc(spark, backend)

    if (transport == "stdio") runStdio(rpc, wire)
    else transport match {
      case s if s.startsWith("ws://") =>
        val port = s.stripPrefix("ws://").split('/').head.split(':').last.toInt
        runWebSocket(rpc, port)
      case other =>
        System.err.println(s"Invalid transport: $other. Use 'stdio' or 'ws://localhost:<port>'")
        sys.exit(2)
    }
  }

  /** reference main.rs:131 run_stdio_server: line-oriented request/response. */
  private def runStdio(rpc: GraftRpc, wire: PrintStream): Unit = {
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    // Signal readiness on stderr (never stdout — that's the wire).
    System.err.println("graft-rpc: stdio transport ready")
    var line = in.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        wire.println(processMessage(line, rpc))
        wire.flush()
      }
      line = in.readLine()
    }
  }

  // --------------------------------------------------------------------
  // Minimal RFC 6455 WebSocket endpoint (text frames only — exactly what
  // the JSON-RPC protocol needs), plus the reference's GET /health probe
  // (main.rs:186). Handshake: HTTP/1.1 Upgrade with the standard
  // Sec-WebSocket-Accept digest.
  // --------------------------------------------------------------------

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  private[api] def runWebSocket(rpc: GraftRpc, port: Int): Unit = {
    val server = new ServerSocket(port)
    System.err.println(s"graft-rpc: listening on ws://0.0.0.0:$port")
    while (true) {
      val sock = server.accept()
      val t = new Thread(() => handleConnection(sock, rpc), "graft-rpc-ws")
      t.setDaemon(true)
      t.start()
    }
  }

  private def handleConnection(sock: Socket, rpc: GraftRpc): Unit =
    try {
      val in = sock.getInputStream
      val out = sock.getOutputStream
      val headers = readHttpHeaders(in)
      val requestLine = headers.headOption.getOrElse("")
      if (requestLine.startsWith("GET /health")) {
        val body = """{"status":"ok","message":"pong"}"""
        out.write(
          (s"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n$body")
            .getBytes(UTF_8))
        out.flush()
      } else {
        val key = headers.collectFirst {
          case h if h.toLowerCase.startsWith("sec-websocket-key:") => h.split(":", 2)(1).trim
        }
        key match {
          case None =>
            out.write("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n".getBytes(UTF_8))
            out.flush()
          case Some(k) =>
            val accept = Base64.getEncoder.encodeToString(
              MessageDigest.getInstance("SHA-1").digest((k + WsGuid).getBytes(UTF_8)))
            out.write(
              ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
                s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
            out.flush()
            frameLoop(in, out, rpc)
        }
      }
    } catch { case NonFatal(_) => /* connection died; nothing to salvage */ }
    finally sock.close()

  private def readHttpHeaders(in: InputStream): Seq[String] = {
    val buf = new StringBuilder
    var done = false
    // Headers end at the first blank line (\r\n\r\n).
    while (!done) {
      val c = in.read()
      if (c == -1) done = true
      else {
        buf.append(c.toChar)
        if (buf.endsWith("\r\n\r\n")) done = true
      }
    }
    buf.toString.split("\r\n").toSeq.filter(_.nonEmpty)
  }

  /** Read client frames (masked, per RFC 6455 §5.3), respond to text
    * frames with unmasked server text frames; answer ping with pong and
    * close with close. Continuation frames are accumulated.
    */
  private def frameLoop(in: InputStream, out: OutputStream, rpc: GraftRpc): Unit = {
    val pending = new java.io.ByteArrayOutputStream()
    var pendingOp = -1
    var open = true
    while (open) {
      val b0 = in.read()
      if (b0 == -1) return
      val fin = (b0 & 0x80) != 0
      val op = b0 & 0x0f
      val b1 = in.read()
      if (b1 == -1) return
      val masked = (b1 & 0x80) != 0
      var len: Long = b1 & 0x7f
      if (len == 126) len = (readN(in, 2)).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
      else if (len == 127) len = (readN(in, 8)).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
      val mask = if (masked) readN(in, 4) else Array.emptyByteArray
      val payload = readN(in, len.toInt)
      if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
      op match {
        case 0x8 => // close
          writeFrame(out, 0x8, payload)
          open = false
        case 0x9 => writeFrame(out, 0xA, payload) // ping → pong
        case 0xA => () // unsolicited pong
        case 0x1 | 0x2 | 0x0 =>
          if (op != 0x0) { pending.reset(); pendingOp = op }
          pending.write(payload)
          if (fin && pendingOp == 0x1) {
            val msg = new String(pending.toByteArray, UTF_8)
            pending.reset()
            writeFrame(out, 0x1, processMessage(msg, rpc).getBytes(UTF_8))
          } else if (fin) pending.reset()
        case _ => ()
      }
    }
  }

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r == -1) throw new java.io.EOFException("WebSocket stream closed mid-frame")
      off += r
    }
    buf
  }

  private def writeFrame(out: OutputStream, op: Int, payload: Array[Byte]): Unit = out.synchronized {
    out.write(0x80 | op)
    val n = payload.length
    if (n <= 125) out.write(n)
    else if (n <= 0xffff) { out.write(126); out.write(n >> 8); out.write(n & 0xff) }
    else {
      out.write(127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xff).toInt); i -= 1 }
    }
    out.write(payload)
    out.flush()
  }
}
