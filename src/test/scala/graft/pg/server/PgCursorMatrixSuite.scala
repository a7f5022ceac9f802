package graft.pg.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The cursor fetchSize × incrementalCollect matrix the reference verifies
  * with the real pgjdbc jar (reference TEST/PgJdbcSuite.scala:1144-1226):
  * all four cells — {full collect, incremental one job per wave of
  * partitions} × {fetchSize 0 = drain, fetchSize 7 = portal suspension
  * loop} — must return the IDENTICAL ordered rows, with the correct
  * PortalSuspended / CommandComplete cadence, for a sorted single-partition
  * result and for one spanning three waves, whose boundaries a 7-row
  * suspension loop crosses mid-portal. incrementalCollect only changes how the server
  * materializes (driver collect vs executor-side iterator); the wire
  * contract may not move. Each cell runs on a fresh connection with the
  * session-local `SET spark.graft.incrementalCollect` applied first.
  */
class PgCursorMatrixSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private class RawClient {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(60000)
    private val in = new DataInputStream(sock.getInputStream)
    private val os = new DataOutputStream(sock.getOutputStream)

    private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
    private def i16(v: Int): Array[Byte] =
      ByteBuffer.allocate(2).putShort(v.toShort).array()
    private def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

    def connect(): Unit = {
      val body = cstr("user") ++ cstr("graft") ++ cstr("database") ++
        cstr("default") :+ 0.toByte
      os.writeInt(8 + body.length)
      os.writeInt(196608)
      os.write(body)
      os.flush()
      drainUntilReady()
    }

    private def send(tpe: Char, payload: Array[Byte]): Unit = {
      os.writeByte(tpe)
      os.writeInt(4 + payload.length)
      os.write(payload)
      os.flush()
    }

    def parse(stmt: String, sql: String): Unit =
      send('P', cstr(stmt) ++ cstr(sql) ++ i16(0))
    def bind(portal: String, stmt: String): Unit =
      send('B', cstr(portal) ++ cstr(stmt) ++ i16(0) ++ i16(0) ++ i16(0))
    def execute(portal: String, maxRows: Int): Unit =
      send('E', cstr(portal) ++ i32(maxRows))
    def closePortal(name: String): Unit =
      send('C', Array[Byte]('P'.toByte) ++ cstr(name))
    def sync(): Seq[(Char, Array[Byte])] = { send('S', Array.empty); drainUntilReady() }
    def simpleQuery(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql)); drainUntilReady()
    }
    def close(): Unit = { try send('X', Array.empty) catch { case _: Throwable => }; sock.close() }

    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        msgs += ((tpe, payload))
        if (tpe == 'Z') done = true
      }
      msgs.toSeq
    }

    def rows(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
      msgs.filter(_._1 == 'D').map { case (_, p) =>
        val b = ByteBuffer.wrap(p)
        b.getShort // ncols (always 1 here)
        val len = b.getInt
        val v = new Array[Byte](len); b.get(v); new String(v, UTF_8)
      }
    def types(msgs: Seq[(Char, Array[Byte])]): String = msgs.map(_._1).mkString
  }

  /** (text, its ordered rows): 24 partitions are three waves of the
    * suite's local[8]
    */
  private val Inputs: Seq[(String, Seq[String])] = Seq(
    "SELECT id FROM range(100) ORDER BY id" -> (0 until 100).map(_.toString),
    "SELECT id FROM range(0, 1000, 1, 24)" -> (0 until 1000).map(_.toString))

  /** One matrix cell: returns (orderedRows, suspendedRounds). */
  private def runCell(incremental: Boolean, fetchSize: Int, sql: String): (Seq[String], Int) = {
    val c = new RawClient
    c.connect()
    try {
      val set = c.simpleQuery(s"SET spark.graft.incrementalCollect=$incremental")
      assert(set.exists(_._1 == 'C'), s"SET must complete: ${c.types(set)}")
      c.parse("S_m", sql)
      c.bind("curs", "S_m")
      c.sync()
      val all = mutable.ArrayBuffer.empty[String]
      var suspensions = 0
      var done = false
      while (!done) {
        c.execute("curs", fetchSize)
        val msgs = c.sync() // pgjdbc Syncs per round trip; the portal must survive
        all ++= c.rows(msgs)
        if (msgs.exists(_._1 == 's')) suspensions += 1
        else if (msgs.exists(_._1 == 'C')) done = true
        else fail(s"round ended with neither PortalSuspended nor CommandComplete: ${c.types(msgs)}")
      }
      c.closePortal("curs")
      c.sync()
      (all.toSeq, suspensions)
    } finally c.close()
  }

  for (incremental <- Seq(true, false); fetchSize <- Seq(0, 7)) {
    test(s"incrementalCollect=$incremental fetchSize=$fetchSize: identical rows, correct cadence") {
      for ((sql, expected) <- Inputs) {
        val (rows, suspensions) = runCell(incremental, fetchSize, sql)
        assert(rows == expected,
          s"cell must return the full ordered result of $sql (got ${rows.size} rows)")
        if (fetchSize == 0) {
          assert(suspensions == 0, "a drain Execute never suspends")
        } else {
          // n rows at 7/round: (n - 1) / 7 suspended rounds then a final
          // short round (100 rows: 14, 1000 rows: 142)
          val want = (expected.size - 1) / fetchSize
          assert(suspensions == want,
            s"7-row fetch over ${expected.size} rows suspends $want times, got $suspensions")
        }
      }
    }
  }

  test("all four cells agree cell-to-cell (wire contract independent of collect mode)") {
    for ((sql, _) <- Inputs) {
      val cells = for (inc <- Seq(true, false); fs <- Seq(0, 7)) yield runCell(inc, fs, sql)._1
      assert(cells.distinct.size == 1, s"every cell must return identical rows of $sql")
    }
  }
}
