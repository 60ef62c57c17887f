package graft.streaming

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream,
  OutputStream}
import java.net.{Socket, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** HTTP/1.1 chunked-transfer transport bridge — the reference's literal
  * event feed, made executable end to end.
  *
  * The reference dials the Docker daemon and consumes
  * `GET /events` as an HTTP/1.1 CHUNKED response that never ends
  * (muswarmlogger/main.py event pump, per SURVEY §0.5; the Docker
  * Engine API is public). Spark has no HTTP-response source, and the
  * plain `socket` source (see [[DockerEvents.readEventSocketStream]])
  * reads raw lines — it would choke on the framing bytes. This bridge
  * is the missing transport adapter: a client thread that
  *
  *   1. dials host:port and sends a real `GET <path> HTTP/1.1` request;
  *   2. decodes the chunked framing BYTE-ACCURATELY — hex size line
  *      (with optional `;extension`), exactly-size payload, CRLF,
  *      repeated until the terminal 0-size chunk — so payloads may
  *      split MID-LINE across chunks or pack many lines into one chunk
  *      (both happen with a real daemon under load);
  *   3. re-assembles complete JSON lines and lands them in `outDir` as
  *      atomically-renamed files for Spark's FILE stream source.
  *
  * Why land in files instead of piping straight into a socket source:
  * the file source has offset REPLAY (each file is an immutable,
  * checkpoint-addressable offset), so the pipeline downstream of the
  * bridge keeps exactly-once semantics through the idempotent
  * batch_id-partitioned sink ([[EventIngest]]) — the socket source
  * loses in-flight lines on crash. The bridge itself is at-least-once
  * across reconnects (as is the reference's event pump); dedup within
  * the watermark horizon ([[StreamingOps.dedupWithinWatermark]]) is
  * the documented compensation, exactly as for redelivered events.
  *
  * Malformed-frame tolerance: a line where a chunk size should be that
  * does not parse as hex is SKIPPED and decoding resyncs at the next
  * line (a crashed daemon mid-frame should cost the corrupt event, not
  * the pipeline); a response without `Transfer-Encoding: chunked`
  * falls back to plain line streaming.
  *
  * Transports: [[start]] dials TCP (a `DOCKER_HOST=tcp://…` daemon, or
  * any bridge); [[startUnix]] dials `/var/run/docker.sock` DIRECTLY —
  * the reference's literal transport — via the JDK's native AF_UNIX
  * channels (`java.net.UnixDomainSocketAddress`, JDK 16+; no extra
  * deps, no socat). Both share one header/chunk/landing state machine,
  * so the framing test coverage applies to either dial.
  */
object HttpChunkedBridge {

  /** Most lines one landed file holds. A file also lands at every chunk
    * boundary once a line is complete, so this bounds bursts only. */
  private val LinesPerFile = 64

  final class Handle private[HttpChunkedBridge] (
      thread: Thread, stop0: AtomicBoolean, sock: java.io.Closeable) {
    /** Lines decoded and landed so far (complete files only). */
    private[HttpChunkedBridge] val landed = new AtomicLong(0L)
    def linesLanded: Long = landed.get()
    def isDone: Boolean = !thread.isAlive
    def awaitDone(ms: Long): Boolean = { thread.join(ms); !thread.isAlive }
    def stop(): Unit = {
      stop0.set(true)
      try sock.close() catch { case _: Throwable => () }
      thread.join(10000)
    }
  }

  /** Dial `host:port`, request `path`, decode the chunked response and
    * land complete payload lines in `outDir` (created if missing) as
    * `part-<uniqueN>.jsonl` files of at most 64 lines,
    * each file appearing ATOMICALLY (temp + rename — a file stream
    * source must never list a half-written file). Returns immediately;
    * decoding runs on a daemon thread until the terminal chunk,
    * connection close, or `stop()`. */
  def start(host: String, port: Int, path: String,
      outDir: String): Handle = {
    val sock = new Socket(host, port)
    launch(sock, sock.getInputStream, sock.getOutputStream, host, path,
      outDir, s"tcp-$host:$port")
  }

  /** Dial the Docker daemon's unix socket DIRECTLY (the reference's
    * literal `/var/run/docker.sock` transport) and consume `path` with
    * the same chunked decode + atomic file landing as [[start]]. Pure
    * JDK: `SocketChannel.open(StandardProtocolFamily.UNIX)` (JDK 16+).
    * The Host header is `localhost` — what the Docker CLI itself sends
    * on the unix transport, where the header is vestigial. */
  def startUnix(socketFile: String, path: String,
      outDir: String): Handle = {
    val ch = SocketChannel.open(StandardProtocolFamily.UNIX)
    ch.connect(UnixDomainSocketAddress.of(socketFile))
    launch(ch, Channels.newInputStream(ch), Channels.newOutputStream(ch),
      "localhost", path, outDir, s"unix-$socketFile")
  }

  /** Shared pump: request, header sniff, chunked-or-plain decode, land.
    * `conn.close()` must unblock a blocked read on the paired streams —
    * true for both `Socket` and AF_UNIX `SocketChannel`. */
  private def launch(conn: java.io.Closeable, rawIn: => InputStream,
      rawOut: => OutputStream, hostHeader: String, path: String,
      outDir: String, label: String): Handle = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val stopFlag = new AtomicBoolean(false)
    var handle: Handle = null
    val t = new Thread(() => {
      try {
        val out = rawOut
        out.write((s"GET $path HTTP/1.1\r\nHost: $hostHeader\r\n" +
          "Accept: application/json\r\n\r\n").getBytes(UTF_8))
        out.flush()
        val in = new BufferedInputStream(rawIn)
        val chunked = readHeaders(in)
          .exists(h => h.toLowerCase.startsWith("transfer-encoding:") &&
            h.toLowerCase.contains("chunked"))
        val sink = new LineSink(dir, handle)
        if (chunked) decodeChunked(in, sink, stopFlag)
        else plainLines(in, sink, stopFlag)
        sink.close()
      } catch {
        case _: Throwable if stopFlag.get() => () // stop() closed the conn
        case e: java.io.IOException =>
          System.err.println(s"[chunked-bridge] stream ended: ${e.getMessage}")
      } finally {
        try conn.close() catch { case _: Throwable => () }
      }
    }, s"http-chunked-bridge-$label")
    handle = new Handle(t, stopFlag, conn)
    t.setDaemon(true)
    t.start()
    handle
  }

  /** Read CRLF-terminated header lines up to the blank separator.
    * Returns the header lines (status line included). */
  private def readHeaders(in: InputStream): Seq[String] = {
    val hs = Seq.newBuilder[String]
    var line = readLine(in)
    while (line.exists(_.nonEmpty)) {
      hs += line.get
      line = readLine(in)
    }
    hs.result()
  }

  /** One byte-wise line: up to '\n', trailing '\r' stripped; None at
    * end of stream with nothing read. */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new ByteArrayOutputStream(64)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    Some(new String(bytes, 0, n, UTF_8))
  }

  /** The chunked-framing state machine. Size lines parse as hex with
    * optional `;ext`; an unparseable size line is skipped (resync at
    * the next line); the 0-chunk terminates after its trailer. */
  private def decodeChunked(in: InputStream, sink: LineSink,
      stop: AtomicBoolean): Unit = {
    var done = false
    while (!done && !stop.get()) {
      readLine(in) match {
        case None => done = true
        case Some(sizeLine) =>
          val hex = sizeLine.takeWhile(_ != ';').trim
          parseHex(hex) match {
            case None =>
              if (sizeLine.nonEmpty)
                System.err.println(
                  s"[chunked-bridge] skipping malformed chunk header: " +
                    sizeLine.take(80))
            case Some(0L) =>
              // terminal chunk: consume optional trailers up to blank
              var tr = readLine(in)
              while (tr.exists(_.nonEmpty)) tr = readLine(in)
              done = true
            case Some(n) =>
              var remaining = n
              val chunk = new Array[Byte](math.min(n, 1 << 16).toInt)
              while (remaining > 0 && !done) {
                val got = in.read(chunk, 0,
                  math.min(remaining, chunk.length.toLong).toInt)
                if (got < 0) done = true
                else { sink.feed(chunk, got); remaining -= got }
              }
              // chunk data is followed by CRLF (not part of the size)
              if (!done) readLine(in): Unit
          }
      }
    }
    sink.endOfStream()
  }

  private def plainLines(in: InputStream, sink: LineSink,
      stop: AtomicBoolean): Unit = {
    val buf = new Array[Byte](1 << 14)
    var n = in.read(buf)
    while (n >= 0 && !stop.get()) { sink.feed(buf, n); n = in.read(buf) }
    sink.endOfStream()
  }

  private def parseHex(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(c => Character.digit(c, 16) >= 0) &&
      s.length <= 12)
      Some(java.lang.Long.parseLong(s, 16))
    else None

  /** Accumulates payload bytes across chunk boundaries, splits on
    * '\n' (stripping '\r'), and lands complete lines in atomically
    * renamed files. */
  private final class LineSink(dir: Path, handle: => Handle) {
    private val carry = new ByteArrayOutputStream(1 << 12)
    private val pending = scala.collection.mutable.ArrayBuffer[String]()
    private var fileNo = 0
    private val unique = java.lang.Long.toHexString(System.nanoTime())

    def feed(bytes: Array[Byte], len: Int): Unit = {
      var i = 0
      while (i < len) {
        val b = bytes(i)
        if (b == '\n') {
          val line = carry.toByteArray
          carry.reset()
          val n = if (line.nonEmpty && line(line.length - 1) == '\r')
            line.length - 1 else line.length
          if (n > 0) pending += new String(line, 0, n, UTF_8)
          if (pending.length >= LinesPerFile) flush()
        } else carry.write(b)
        i += 1
      }
      // flush on every feed boundary once any complete line is pending:
      // an event feed is latency-sensitive (the reference forwards each
      // event as it arrives), and a complete chunk is the natural batch
      if (pending.nonEmpty) flush()
    }

    def endOfStream(): Unit = {
      // a final unterminated line is still an event (the peer crashed
      // after the payload but before the newline) — land it
      val tail = carry.toByteArray
      if (tail.nonEmpty) pending += new String(tail, UTF_8)
      carry.reset()
      flush()
    }

    private def flush(): Unit = if (pending.nonEmpty) {
      val tmp = dir.resolve(s".tmp-$unique-$fileNo")
      Files.writeString(tmp, pending.mkString("", "\n", "\n"))
      Files.move(tmp, dir.resolve(s"part-$unique-$fileNo.jsonl"),
        StandardCopyOption.ATOMIC_MOVE)
      val h = handle
      if (h != null) h.landed.addAndGet(pending.length.toLong): Unit
      pending.clear()
      fileNo += 1
    }

    def close(): Unit = flush()
  }
}
