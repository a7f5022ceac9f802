package graft.perfbench

import java.io.{BufferedOutputStream, DataOutputStream, EOFException, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Reads PostgreSQL V3 backend messages from a stream and stamps each with
  * the time its first byte reached the client.
  *
  * The stamp needs no server cooperation: the server flushes after every
  * frontend message, so the arrival of each reply marks the end of one
  * server phase. A message whose first byte is already buffered arrived with
  * the most recent read: the reader only reads when the bytes it holds do
  * not complete the current message, so every older read has been consumed.
  *
  * The payload of the current message is `buf(payloadOff until payloadOff +
  * payloadLen)`, valid until the next call to [[next]].
  */
final class FrameReader(in: InputStream, initialBytes: Int = 1 << 16) {
  private var b = new Array[Byte](initialBytes)
  private var pos = 0
  private var lim = 0
  private var lastReadNs = 0L

  var tpe: Char = 0
  var payloadOff = 0
  var payloadLen = 0
  var arrivedNs = 0L
  var bytesRead = 0L

  def buf: Array[Byte] = b

  /** make `n` bytes available from `pos`, reading as needed */
  private def ensure(n: Int): Unit = if (lim - pos < n) {
    if (pos > 0) {
      System.arraycopy(b, pos, b, 0, lim - pos)
      lim -= pos
      pos = 0
    }
    if (n > b.length) b = java.util.Arrays.copyOf(b, math.max(n, b.length * 2))
    while (lim < n) {
      val r = in.read(b, lim, b.length - lim)
      if (r < 0) throw new EOFException("server closed the connection")
      lastReadNs = System.nanoTime()
      lim += r
      bytesRead += r
    }
  }

  private def int32(at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) | ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  /** Read the next message; returns its type byte. */
  def next(): Char = {
    ensure(1)
    arrivedNs = lastReadNs
    ensure(5)
    val len = int32(pos + 1)
    if (len < 4) throw new IllegalStateException(s"bad message length $len")
    ensure(1 + len)
    tpe = (b(pos) & 0xff).toChar
    payloadOff = pos + 5
    payloadLen = len - 4
    pos += 1 + len
    tpe
  }

  /** the payload up to its first NUL, as text */
  def payloadString: String = {
    var end = payloadOff
    while (end < payloadOff + payloadLen && b(end) != 0) end += 1
    new String(b, payloadOff, end - payloadOff, UTF_8)
  }
}

/** Digest of a result's DataRow payloads (int16 column count + fields, the
  * exact bytes RowCodec writes). `ordered` results hash the row sequence
  * with MD5; unordered ones (a scan with no ORDER BY) combine a 64-bit hash
  * per row by sum and xor, so the check is independent of row order.
  */
final class RowDigest(ordered: Boolean) {
  private val md = if (ordered) MessageDigest.getInstance("MD5") else null
  private var sum = 0L
  private var xor = 0L
  var rows = 0L

  def update(a: Array[Byte], off: Int, len: Int): Unit = {
    rows += 1
    if (ordered) md.update(a, off, len)
    else {
      val h = RowDigest.hash64(a, off, len)
      sum += h
      xor ^= h
    }
  }

  /** read once every row is in */
  lazy val result: String =
    if (ordered) s"$rows:" + md.digest().map("%02x".format(_)).mkString
    else f"$rows:$sum%016x:$xor%016x"
}

object RowDigest {
  /** FNV-1a over the bytes, finished with the splitmix64 mixer */
  def hash64(a: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = off
    while (i < off + len) {
      h = (h ^ (a(i) & 0xff)) * 0x100000001b3L
      i += 1
    }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }
}

/** Everything the client observed for one request cycle up to
  * ReadyForQuery. Stamps are `System.nanoTime` values; 0 = not seen.
  */
final class Reply(val digest: RowDigest) {
  /** what the workload calls this statement */
  var label: String = ""
  var sentNs = 0L
  var parseNs = 0L
  var bindNs = 0L
  var firstRowNs = 0L
  var completeNs = 0L
  var readyNs = 0L
  var rowBytes = 0L
  var tag: String = null
  var error: String = null
  var copyIn = false
  /** keep each DataRow's fields as text (small results only) */
  var capture = false
  val values = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]

  def rows: Long = if (digest == null) 0L else digest.rows
  def wallNs: Long = readyNs - sentNs
  def ok: Boolean = error == null
}

/** A minimal blocking PG V3 client speaking the message sequences pgjdbc
  * sends. Each request method writes its frames in one flush and returns
  * when ReadyForQuery (or CopyInResponse) arrives.
  */
final class WireClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(120000) // a wedged server fails the run instead of hanging it
  val reader = new FrameReader(sock.getInputStream)
  private val os = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  private def put(tpe: Char, parts: Array[Byte]*): Unit = {
    os.writeByte(tpe)
    os.writeInt(4 + parts.map(_.length).sum)
    parts.foreach(p => os.write(p))
  }

  private def i16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  private def i32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  private def send(r: Reply): Reply = {
    r.sentNs = System.nanoTime()
    os.flush()
    read(r)
  }

  /** StartupMessage, then wait for ReadyForQuery. */
  def connect(): Reply = {
    val body = cstr("user") ++ cstr("perfbench") ++ cstr("database") ++ cstr("default") :+ 0.toByte
    os.writeInt(8 + body.length)
    os.writeInt(196608)
    os.write(body)
    send(new Reply(null))
  }

  def simpleQuery(sql: String, capture: Boolean = false): Reply = {
    put('Q', cstr(sql))
    val r = new Reply(null)
    r.capture = capture
    send(r)
  }

  private def parseMsg(stmt: String, sql: String, oids: Seq[Int]): Unit =
    put('P', cstr(stmt), cstr(sql), i16(oids.length), oids.flatMap(i32).toArray)

  private def bindMsg(portal: String, stmt: String, params: Seq[String],
      resultBinary: Boolean): Unit = {
    val ps = params.flatMap { p =>
      if (p == null) i32(-1).toSeq else { val v = p.getBytes(UTF_8); i32(v.length).toSeq ++ v }
    }.toArray
    val res = if (resultBinary) i16(1) ++ i16(1) else i16(0)
    put('B', cstr(portal), cstr(stmt), i16(0), i16(params.length), ps, res)
  }

  /** Parse a named statement once (Parse + Sync). */
  def prepare(stmt: String, sql: String, oids: Seq[Int]): Reply = {
    parseMsg(stmt, sql, oids)
    put('S')
    send(new Reply(null))
  }

  /** Bind + Describe(portal) + Execute(all rows) + Sync on a prepared
    * statement; with `sql` set, an unnamed Parse goes first.
    */
  def execute(stmt: String, params: Seq[String], digest: RowDigest,
      sql: String = null, oids: Seq[Int] = Nil, resultBinary: Boolean = false): Reply = {
    if (sql != null) parseMsg(stmt, sql, oids)
    bindMsg("", stmt, params, resultBinary)
    put('D', Array('P'.toByte), cstr(""))
    put('E', cstr(""), i32(0))
    put('S')
    send(new Reply(digest))
  }

  /** when the last CopyDone was sent */
  var lastCopyDoneNs = 0L

  /** COPY ... FROM STDIN: the statement, `chunks` as CopyData, CopyDone.
    * The reply's `sentNs` is when the statement was sent.
    */

  def copyIn(sql: String, chunks: Iterator[Array[Byte]]): Reply = {
    put('Q', cstr(sql))
    val start = send(new Reply(null))
    if (!start.copyIn) return start
    chunks.foreach { c => os.writeByte('d'); os.writeInt(4 + c.length); os.write(c) }
    put('c')
    lastCopyDoneNs = System.nanoTime()
    os.flush()
    val done = read(new Reply(null))
    done.sentNs = start.sentNs
    done
  }

  /** Read backend messages into `r` until ReadyForQuery or CopyInResponse. */
  private def read(r: Reply): Reply = {
    val f = reader
    var done = false
    while (!done) {
      f.next() match {
        case '1' => r.parseNs = f.arrivedNs
        case '2' => r.bindNs = f.arrivedNs
        case 'D' =>
          if (r.firstRowNs == 0L) r.firstRowNs = f.arrivedNs
          r.rowBytes += f.payloadLen + 5
          if (r.digest != null) r.digest.update(f.buf, f.payloadOff, f.payloadLen)
          if (r.capture) r.values += WireClient.fields(f)
        case 'C' => r.completeNs = f.arrivedNs; r.tag = f.payloadString
        case 'E' => if (r.error == null) r.error = WireClient.errorText(f)
        case 'G' => r.copyIn = true; r.readyNs = f.arrivedNs; done = true
        case 'Z' => r.readyNs = f.arrivedNs; done = true
        case _ => () // T, t, n, S, K, N, R, I, 3: nothing to record
      }
    }
    r
  }

  override def close(): Unit = {
    try { put('X'); os.flush() } catch { case _: java.io.IOException => }
    sock.close()
  }
}

object WireClient {
  /** the fields of a DataRow as text; SQL NULL is null */
  def fields(f: FrameReader): IndexedSeq[String] = {
    val bb = java.nio.ByteBuffer.wrap(f.buf, f.payloadOff, f.payloadLen)
    IndexedSeq.fill(bb.getShort.toInt) {
      val len = bb.getInt
      if (len < 0) null
      else { val s = new String(f.buf, bb.position(), len, UTF_8); bb.position(bb.position() + len); s }
    }
  }

  /** "SQLSTATE: message" from an ErrorResponse payload */
  def errorText(f: FrameReader): String = {
    var i = f.payloadOff
    val end = f.payloadOff + f.payloadLen
    var code = ""
    var msg = ""
    while (i < end && f.buf(i) != 0) {
      val field = f.buf(i).toChar
      var j = i + 1
      while (j < end && f.buf(j) != 0) j += 1
      val v = new String(f.buf, i + 1, j - i - 1, UTF_8)
      if (field == 'C') code = v
      if (field == 'M') msg = v
      i = j + 1
    }
    s"$code: $msg"
  }
}
