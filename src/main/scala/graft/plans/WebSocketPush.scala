package graft.plans

import java.io.{InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

import graft.streaming.Monitoring

/** RFC 6455 WebSocket push for the R18 monitoring feed — the protocol
  * the reference actually speaks (public reference
  * `nyuki/api/websocket.py`; mount empty, SURVEY.md §0). The SSE
  * endpoint on [[HttpControlPlane]] already carries the one-way
  * state-push contract; this closes the remaining PROTOCOL gap with a
  * hand-rolled server-side WebSocket over JDK sockets — zero new
  * dependencies (the JDK ships SHA-1 + Base64 for the upgrade
  * handshake, and server→client frames need no masking). Verified
  * against the JDK's own `java.net.http.WebSocket` CLIENT in
  * ControlPlaneSpec, i.e. a real independent RFC 6455 implementation
  * on the other end of the socket.
  *
  * Protocol surface (deliberately minimal — a one-way monitor feed):
  *   - HTTP GET upgrade with `Sec-WebSocket-Key` → 101 +
  *     `Sec-WebSocket-Accept` = Base64(SHA1(key ++ RFC-GUID))
  *   - every [[Monitoring.Report]] → one unfragmented TEXT frame
  *     (FIN=1, opcode 1) carrying `Report.json`, the bytes the SSE
  *     stream emits
  *   - client PING → PONG with the echoed (unmasked) payload
  *   - client CLOSE (or EOF / broken pipe) → close frame echoed,
  *     socket closed, subscriber dropped from the listener bus
  *
  * Threading: one daemon acceptor; per connection one daemon reader
  * (control frames only — the feed is one-way). Report frames are
  * written on the listener-bus thread; writes synchronize on the
  * output stream so a PONG never interleaves into a TEXT frame.
  * Scale note: like the rest of the control plane this is
  * human/CI-scale template-and-monitoring traffic, not a data path.
  */
final class WebSocketPush(monitoring: Monitoring, port: Int = 0) {

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  private val server =
    new ServerSocket(port, 16, InetAddress.getLoopbackAddress)
  @volatile private var running = true
  private val conns = java.util.concurrent.ConcurrentHashMap
    .newKeySet[Socket]()

  private val acceptor = new Thread(() => {
    while (running) {
      // the HANDSHAKE runs on a per-connection daemon thread with a
      // read timeout: a client that connects and sends nothing must
      // never wedge the acceptor (nor block other monitoring clients)
      try {
        val sock = server.accept()
        conns.add(sock)
        val t = new Thread(() => {
          try {
            sock.setSoTimeout(10000) // handshake deadline
            handle(sock)
          } catch { case _: Throwable =>
            conns.remove(sock)
            try sock.close() catch { case _: Throwable => () }
          }
        }, "graft-ws-handshake")
        t.setDaemon(true)
        t.start()
      }
      catch { case _: Throwable => () } // accept raced stop(), or a
      // half-open client died mid-handshake — the loop serves the next
    }
  }, "graft-ws-acceptor")
  acceptor.setDaemon(true)

  def start(): this.type = { acceptor.start(); this }

  def boundPort: Int = server.getLocalPort

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => () }
    // tear down live connections too: their reader threads exit on the
    // closed socket and drop their Monitoring subscriptions — a stopped
    // server must not keep serializing reports to old clients
    conns.forEach(s => try s.close() catch { case _: Throwable => () })
    conns.clear()
  }

  private def handle(sock: Socket): Unit = {
    val in = sock.getInputStream
    val out = sock.getOutputStream
    val headers = readHeaders(in)
    headers.get("sec-websocket-key") match {
      case None =>
        out.write(("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n" +
          "Connection: close\r\n\r\n").getBytes(UTF_8))
        out.flush()
        conns.remove(sock)
        sock.close()
      case Some(key) =>
        val accept = Base64.getEncoder.encodeToString(
          MessageDigest.getInstance("SHA-1")
            .digest((key + WsGuid).getBytes(UTF_8)))
        out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
        out.flush()
        sock.setSoTimeout(0) // upgraded: the control loop blocks freely
        // push half: one TEXT frame per report; a broken pipe throws on
        // the listener bus and Monitoring drops the subscriber
        val unsub = monitoring.subscribe(r => sendText(out, r.json))
        val reader = new Thread(() => controlLoop(sock, in, out, unsub),
          "graft-ws-reader")
        reader.setDaemon(true)
        reader.start()
    }
  }

  /** Read the upgrade request's header block (CRLF-delimited, no body
    * on a GET) into a lowercase-keyed map. Bounded at 16 KiB — a
    * client streaming garbage without CRLFCRLF must not buffer
    * unboundedly in the driver JVM. */
  private def readHeaders(in: InputStream): Map[String, String] = {
    val buf = new java.io.ByteArrayOutputStream
    var prev4 = 0
    var b = in.read()
    while (b != -1) {
      buf.write(b)
      if (buf.size > 16384)
        throw new java.io.IOException("handshake header block too large")
      prev4 = ((prev4 << 8) | b) & 0xffffffff
      if (prev4 == 0x0d0a0d0a) b = -1 else b = in.read()
    }
    new String(buf.toByteArray, UTF_8).split("\r\n").toSeq
      .flatMap { line =>
        line.indexOf(':') match {
          case -1 => None
          case i => Some(line.substring(0, i).trim.toLowerCase ->
            line.substring(i + 1).trim)
        }
      }.toMap
  }

  /** Control-frame loop: the feed is one-way, so the only client
    * frames that matter are PING (answer PONG) and CLOSE (echo and
    * tear down). Client frames are masked per RFC 6455 §5.3. */
  private def controlLoop(sock: Socket, in: InputStream,
      out: OutputStream, unsub: () => Unit): Unit = {
    try {
      var open = true
      while (open) {
        val b0 = in.read()
        if (b0 == -1) open = false
        else {
          val opcode = b0 & 0x0f
          val b1 = in.read()
          if (b1 == -1) throw new java.io.EOFException
          val masked = (b1 & 0x80) != 0
          def rb(): Long = {
            val x = in.read()
            if (x == -1) throw new java.io.EOFException
            x.toLong
          }
          var len: Long = b1 & 0x7f
          if (len == 126) len = (rb() << 8) | rb()
          else if (len == 127) {
            len = 0L
            (0 until 8).foreach(_ => len = (len << 8) | rb())
          }
          // this is a one-way feed: the only meaningful client frames
          // are control frames, which RFC 6455 §5.5 caps at 125 bytes —
          // a control frame declaring more is a protocol violation the
          // server must fail the connection on (not echo back as an
          // equally non-conformant oversized PONG). Data frames get a
          // 1 MiB grace (clients that chat on the data channel; their
          // payloads are ignored); larger is an attempted driver-memory
          // allocation — close instead of trusting a client-declared
          // size.
          val isControl = (opcode & 0x8) != 0
          if (isControl && len > 125L)
            throw new java.io.IOException(
              s"control frame over RFC 6455 §5.5 cap: $len")
          if (len < 0 || len > 1048576L)
            throw new java.io.IOException(s"oversized ws frame: $len")
          val mask = if (masked) Array.fill(4)(rb().toByte)
            else Array.emptyByteArray
          val payload = new Array[Byte](len.toInt)
          var off = 0
          while (off < len.toInt) {
            val n = in.read(payload, off, len.toInt - off)
            if (n < 0) throw new java.io.EOFException
            off += n
          }
          if (masked) payload.indices.foreach(i =>
            payload(i) = (payload(i) ^ mask(i % 4)).toByte)
          opcode match {
            case 0x8 => // CLOSE: echo an empty close frame, stop
              out.synchronized {
                out.write(Array[Byte](0x88.toByte, 0x00)); out.flush()
              }
              open = false
            case 0x9 => // PING → PONG with the same payload
              sendFrame(out, 0xa, payload)
            case _ => () // text/binary/pong from client: ignored
          }
        }
      }
    } catch { case _: Throwable => () }
    finally {
      unsub()
      conns.remove(sock)
      try sock.close() catch { case _: Throwable => () }
    }
  }

  private def sendText(out: OutputStream, s: String): Unit =
    sendFrame(out, 0x1, s.getBytes(UTF_8))

  /** One unfragmented server frame (FIN=1, unmasked — RFC 6455 §5.1:
    * servers must not mask). */
  private def sendFrame(out: OutputStream, opcode: Int,
      payload: Array[Byte]): Unit = out.synchronized {
    val n = payload.length
    out.write(0x80 | opcode)
    if (n < 126) out.write(n)
    else if (n < 65536) {
      out.write(126); out.write(n >> 8); out.write(n & 0xff)
    } else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((n.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.write(payload)
    out.flush()
  }
}
