package graft.pg.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Simple/extended protocol parity. Each row of the table runs its
  * statement twice, each time on a fresh connection after the same simple
  * set-up: once as a simple Query ('Q') and once as an unnamed
  * Parse/Bind/Describe/Execute/Sync. Both runs must answer the same command
  * tags, DataRows, CopyData, ParameterStatus messages, EmptyQueryResponse
  * and SQLSTATE, in the same order. (RowDescription/NoData are not compared:
  * the extended flow answers them at Describe, the simple one inline.)
  *
  * The one intended divergence: COPY FROM STDIN over Parse answers SQLSTATE
  * 0A000, because its CopyInResponse hand-off exists only in the simple
  * protocol; simple Query runs it.
  */
class PgProtocolParitySuite extends AnyFunSuite with BeforeAndAfterAll {

  private var server: PgWireServer = _

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = {
    try {
      val c = new Client
      c.simple("DROP TABLE IF EXISTS parity_ins")
      c.simple("DROP TABLE IF EXISTS parity_ctas")
      c.close()
    } finally if (server != null) server.stop()
  }

  private class Client {
    private val sock = new Socket("127.0.0.1", server.boundPort)
    private val in = new DataInputStream(sock.getInputStream)
    private val os = new DataOutputStream(sock.getOutputStream)

    locally {
      val body = cstr("user") ++ cstr("parity") ++ cstr("database") ++ cstr("default") :+
        0.toByte
      os.writeInt(8 + body.length)
      os.writeInt(196608)
      os.write(body)
      os.flush()
      drainUntilReady()
    }

    private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
    private def i16(v: Int): Array[Byte] = ByteBuffer.allocate(2).putShort(v.toShort).array()
    private def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

    private def send(tpe: Char, payload: Array[Byte]): Unit = {
      os.writeByte(tpe)
      os.writeInt(4 + payload.length)
      os.write(payload)
    }

    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val payload = new Array[Byte](in.readInt() - 4)
        in.readFully(payload)
        msgs += ((tpe, payload))
        done = tpe == 'Z'
      }
      msgs.toSeq
    }

    def simple(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql))
      os.flush()
      drainUntilReady()
    }

    def extended(sql: String): Seq[(Char, Array[Byte])] = {
      send('P', cstr("") ++ cstr(sql) ++ i16(0))
      send('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(0) ++ i16(0))
      send('D', Array('P'.toByte) ++ cstr(""))
      send('E', cstr("") ++ i32(0))
      send('S', Array.empty)
      os.flush()
      drainUntilReady()
    }

    /** COPY ... FROM STDIN as a simple Query: CopyInResponse, one CopyData,
      * CopyDone
      */
    def copyIn(sql: String, data: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql))
      os.flush()
      val tpe = in.readByte().toChar
      in.skipBytes(in.readInt() - 4)
      if (tpe != 'G') return (tpe, Array.emptyByteArray) +: drainUntilReady()
      send('d', data.getBytes(UTF_8))
      send('c', Array.empty)
      os.flush()
      drainUntilReady()
    }

    def close(): Unit = { send('X', Array.empty); os.flush(); sock.close() }
  }

  private def sqlState(err: Array[Byte]): String = {
    val b = ByteBuffer.wrap(err)
    var state = ""
    var t = b.get()
    while (t != 0) {
      val sb = new StringBuilder
      var ch = b.get()
      while (ch != 0) { sb.append(ch.toChar); ch = b.get() }
      if (t == 'C') state = sb.toString
      t = if (b.hasRemaining) b.get() else 0
    }
    state
  }

  private def text(payload: Array[Byte]): String = new String(payload, UTF_8)

  /** what both protocols must agree on, in order; `norm` rewrites DataRow
    * text that legitimately differs between two runs (timings, ids)
    */
  private def observable(msgs: Seq[(Char, Array[Byte])],
      norm: String => String): Seq[String] = msgs.collect {
    case ('C', p) => s"C ${text(p).stripSuffix("\u0000")}"
    case ('D', p) => s"D ${norm(text(p))}"
    case ('d', p) => s"d ${p.map("%02x".format(_)).mkString}"
    case ('S', p) => s"S ${text(p).replace('\u0000', ' ').trim}"
    case ('I', _) => "I"
    case ('E', p) => s"E ${sqlState(p)}"
  }

  private final case class Row(statement: String, setup: Seq[String] = Nil,
      norm: String => String = identity)

  private val declare = "DECLARE c CURSOR FOR SELECT id FROM range(5) ORDER BY id"

  private val rows = Seq(
    Row("SET x = y"),
    Row("SET TIME ZONE 'Asia/Tokyo'"),
    Row("SHOW TimeZone"),
    Row("DISCARD ALL"),
    Row("DEALLOCATE ALL"),
    Row(declare),
    Row("FETCH 2 FROM c", setup = Seq(declare)),
    Row("MOVE 1 FROM c", setup = Seq(declare)),
    Row("CLOSE ALL", setup = Seq(declare)),
    Row("COPY (SELECT 1) TO STDOUT"),
    Row("COPY (SELECT 1) TO STDOUT (FORMAT binary)"),
    Row("EXPLAIN ANALYZE SELECT 1", norm = _.replaceAll("[0-9]+(\\.[0-9]+)?", "#")),
    Row("SELECT tgname FROM pg_trigger"),
    Row("INSERT INTO parity_ins VALUES (1), (2)", setup = Seq(
      "DROP TABLE IF EXISTS parity_ins", "CREATE TABLE parity_ins (a INT) USING parquet")),
    Row("CREATE TABLE parity_ctas USING parquet AS SELECT 1 AS a",
      setup = Seq("DROP TABLE IF EXISTS parity_ctas")),
    Row(""))

  rows.foreach { r =>
    test(s"simple and extended agree: '${r.statement}'") {
      def side(run: Client => Seq[(Char, Array[Byte])]): Seq[String] = {
        val c = new Client
        try {
          r.setup.foreach { s =>
            val m = c.simple(s)
            assert(!m.exists(_._1 == 'E'), s"set-up failed: $s")
          }
          observable(run(c), r.norm)
        } finally c.close()
      }
      val simple = side(_.simple(r.statement))
      val extended = side(_.extended(r.statement))
      assert(!simple.exists(_.startsWith("E ")), s"simple side failed: $simple")
      assert(extended === simple)
    }
  }

  test("the intended divergence: COPY FROM STDIN over Parse answers 0A000") {
    val c = new Client
    try {
      c.simple("DROP TABLE IF EXISTS parity_ins")
      c.simple("CREATE TABLE parity_ins (a INT) USING parquet")
      val ext = c.extended("COPY parity_ins FROM STDIN")
      assert(observable(ext, identity) === Seq("E 0A000"))
      // the connection goes on, and simple Query runs the same statement
      val q = c.copyIn("COPY parity_ins FROM STDIN", "7\n8\n")
      assert(observable(q, identity) === Seq("C COPY 2"))
    } finally c.close()
  }
}
