package graft.pg.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.TestSpark
import graft.pg.PgGuc

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** PG run-time configuration (GUC) surface over the wire: SHOW / SHOW ALL /
  * SET ... TO / RESET / pg_settings. Real clients depend on each piece:
  * pgjdbc's getTransactionIsolation() issues `SHOW TRANSACTION ISOLATION
  * LEVEL`, PgBouncer replays SET application_name across checkouts and
  * resets with DISCARD ALL, and BI tools probe pg_settings. The freshness
  * test pins the design decision that SHOW is a runnable command evaluated
  * at Execute time — a driver-cached server-prepared `SHOW x` must see a
  * later `SET x`.
  */
class PgGucSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private class Client(appName: String = "guc_suite",
      extraParams: Seq[(String, String)] = Seq.empty) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(sock.getInputStream)
    private val os = new DataOutputStream(sock.getOutputStream)

    private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
    private def i16(v: Int): Array[Byte] =
      ByteBuffer.allocate(2).putShort(v.toShort).array()

    def connect(): Unit = {
      val body = cstr("user") ++ cstr("guc_user") ++
        cstr("database") ++ cstr("default") ++
        cstr("application_name") ++ cstr(appName) ++
        extraParams.flatMap { case (k, v) => cstr(k) ++ cstr(v) }.toArray :+ 0.toByte
      os.writeInt(8 + body.length)
      os.writeInt(196608)
      os.write(body)
      os.flush()
      drainUntilReady()
    }

    def send(tpe: Char, payload: Array[Byte]): Unit = {
      os.writeByte(tpe)
      os.writeInt(4 + payload.length)
      os.write(payload)
      os.flush()
    }

    def simple(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql))
      drainUntilReady()
    }

    def parse(name: String, sql: String): Unit =
      send('P', cstr(name) ++ cstr(sql) ++ i16(0))

    def bind(portal: String, stmt: String): Unit =
      send('B', cstr(portal) ++ cstr(stmt) ++ i16(0) ++ i16(0) ++ i16(0))

    def describeStatement(name: String): Unit =
      send('D', Array('S'.toByte) ++ cstr(name))

    def execute(portal: String): Unit =
      send('E', cstr(portal) ++ ByteBuffer.allocate(4).putInt(0).array())

    def sync(): Seq[(Char, Array[Byte])] = {
      send('S', Array.empty)
      drainUntilReady()
    }

    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val out = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val len = in.readInt() - 4
        val payload = new Array[Byte](len)
        in.readFully(payload)
        out += ((tpe, payload))
        if (tpe == 'Z') done = true
      }
      out.result()
    }

    def tags(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
      msgs.filter(_._1 == 'C').map(m => new String(m._2, UTF_8).trim)

    def errorCode(msgs: Seq[(Char, Array[Byte])]): Option[String] =
      msgs.find(_._1 == 'E').map { case (_, p) =>
        val b = ByteBuffer.wrap(p)
        var code: String = null
        var t = b.get()
        while (t != 0 && code == null) {
          val sb = new StringBuilder
          var c = b.get()
          while (c != 0) { sb.append(c.toChar); c = b.get() }
          if (t == 'C') code = sb.toString
          t = if (b.hasRemaining) b.get() else 0
        }
        code
      }

    def rows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[String]] =
      msgs.filter(_._1 == 'D').map { case (_, p) =>
        val b = ByteBuffer.wrap(p)
        val n = b.getShort.toInt
        (0 until n).map { _ =>
          val len = b.getInt
          if (len == -1) null
          else { val v = new Array[Byte](len); b.get(v); new String(v, UTF_8) }
        }
      }

    /** column names from the first RowDescription */
    def columns(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
      msgs.find(_._1 == 'T').map { case (_, p) =>
        val b = ByteBuffer.wrap(p)
        val n = b.getShort.toInt
        (0 until n).map { _ =>
          val sb = new StringBuilder
          var c = b.get()
          while (c != 0) { sb.append(c.toChar); c = b.get() }
          b.position(b.position() + 18) // tableOid(4) attnum(2) typoid(4) typlen(2) typmod(4) fmt(2)
          sb.toString
        }
      }.getOrElse(Seq.empty)

    /** (name, value) of every ParameterStatus in the stream */
    def paramStatuses(msgs: Seq[(Char, Array[Byte])]): Seq[(String, String)] =
      msgs.filter(_._1 == 'S').map { case (_, p) =>
        val b = ByteBuffer.wrap(p)
        def str(): String = {
          val sb = new StringBuilder
          var c = b.get()
          while (c != 0) { sb.append(c.toChar); c = b.get() }
          sb.toString
        }
        (str(), str())
      }

    def close(): Unit = { send('X', Array.empty); sock.close() }
  }

  private def withClient[A](appName: String = "guc_suite")(f: Client => A): A = {
    val c = new Client(appName)
    c.connect()
    try f(c) finally c.close()
  }

  test("SHOW reads known GUCs with PG column naming and value semantics") {
    withClient() { c =>
      val ver = c.simple("SHOW server_version")
      assert(c.columns(ver) === Seq("server_version"))
      assert(c.rows(ver).head.head.nonEmpty)
      assert(c.tags(ver) === Seq("SHOW"))
      // canonical-cased column for TimeZone, case-insensitive lookup
      val tz = c.simple("show timezone")
      assert(c.columns(tz) === Seq("TimeZone"))
      // the multi-word special forms
      val iso = c.simple("SHOW TRANSACTION ISOLATION LEVEL")
      assert(c.columns(iso) === Seq("transaction_isolation"))
      assert(c.rows(iso) === Seq(Seq("read committed")))
      val auth = c.simple("SHOW SESSION AUTHORIZATION")
      assert(c.rows(auth) === Seq(Seq("guc_user"))) // from the startup packet
      // application_name defaults to the startup parameter
      assert(c.rows(c.simple("SHOW application_name")) === Seq(Seq("guc_suite")))
      // unknown parameter -> PG's 42704
      assert(c.errorCode(c.simple("SHOW no_such_parameter")) === Some("42704"))
    }
  }

  test("server_version_num derives from the announced version") {
    assert(PgGuc.versionNum("9.6.0") === 90600)
    assert(PgGuc.versionNum("10.5") === 100005)
    assert(PgGuc.versionNum("15.2") === 150002)
    withClient() { c =>
      val v = c.rows(c.simple("SHOW server_version")).head.head
      val n = c.rows(c.simple("SHOW server_version_num")).head.head
      assert(n === PgGuc.versionNum(v).toString)
    }
  }

  test("SET ... TO unquotes values; SHOW and pg_stat_activity reflect it") {
    withClient("pool_before") { c =>
      assert(c.tags(c.simple("SET application_name TO 'pool_after'")) === Seq("SET"))
      assert(c.rows(c.simple("SHOW application_name")) === Seq(Seq("pool_after")))
      // PG updates pg_stat_activity.application_name on SET
      val act = c.rows(c.simple(
        "SELECT application_name FROM pg_stat_activity WHERE state = 'active'"))
      assert(act.flatten.contains("pool_after"))
    }
  }

  test("ms-unit GUCs normalize display like PG (largest even unit)") {
    assert(PgGuc.renderMs(0) === "0")
    assert(PgGuc.renderMs(5000) === "5s")
    assert(PgGuc.renderMs(5500) === "5500ms")
    assert(PgGuc.renderMs(120000) === "2min")
    assert(PgGuc.renderMs(7200000) === "2h")
    withClient() { c =>
      c.simple("SET statement_timeout = 5000")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("5s")))
      c.simple("SET statement_timeout TO '2500ms'")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("2500ms")))
      val r = c.simple("RESET statement_timeout")
      assert(c.tags(r) === Seq("RESET"))
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("0")))
    }
  }

  test("SHOW ALL lists the registry plus session-set custom parameters") {
    withClient() { c =>
      val all = c.simple("SHOW ALL")
      assert(c.columns(all) === Seq("name", "setting", "description"))
      val names = c.rows(all).map(_.head)
      assert(names.size >= 20)
      assert(names === names.sortBy(_.toLowerCase))
      for (expected <- Seq("application_name", "search_path", "server_version",
        "standard_conforming_strings", "statement_timeout", "TimeZone"))
        assert(names.contains(expected), s"SHOW ALL missing $expected")
    }
  }

  test("prepared SHOW reads the value at Execute time (driver statement caches)") {
    withClient() { c =>
      // pgjdbc caches server-prepared statements; a cached SHOW must not
      // freeze the value it had at Parse time
      c.parse("S_show", "SHOW statement_timeout")
      c.describeStatement("S_show")
      val d = c.sync()
      assert(d.exists(_._1 == 'T'), "Describe(S) must answer RowDescription")
      c.bind("", "S_show")
      c.execute("")
      assert(c.rows(c.sync()) === Seq(Seq("0")))
      c.simple("SET statement_timeout = 60000")
      c.bind("", "S_show")
      c.execute("")
      assert(c.rows(c.sync()) === Seq(Seq("1min")))
      c.simple("RESET statement_timeout")
    }
  }

  test("DISCARD ALL and RESET ALL restore startup defaults, not a blank slate") {
    withClient("startup_app") { c =>
      c.simple("SET application_name = 'overridden'")
      c.simple("SET statement_timeout = 9000")
      c.simple("SET my_custom_knob = 'x'")
      assert(c.tags(c.simple("RESET ALL")) === Seq("RESET"))
      // overrides gone; startup-packet value restored, not erased
      assert(c.rows(c.simple("SHOW application_name")) === Seq(Seq("startup_app")))
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("0")))
      assert(c.errorCode(c.simple("SHOW my_custom_knob")) === Some("42704"))
      // DISCARD ALL includes the same reset
      c.simple("SET statement_timeout = 9000")
      c.simple("DISCARD ALL")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("0")))
      assert(c.rows(c.simple("SHOW application_name")) === Seq(Seq("startup_app")))
    }
  }

  test("SET TimeZone lands on the live session zone and is announced") {
    withClient() { c =>
      val before = c.rows(c.simple("SHOW TIME ZONE")).head.head
      val set = c.simple("SET TimeZone TO 'America/New_York'")
      // PG announces ParameterStatus(TimeZone) when SET changes the zone
      assert(c.paramStatuses(set).contains(("TimeZone", "America/New_York")))
      assert(c.rows(c.simple("SHOW TimeZone")) === Seq(Seq("America/New_York")))
      // the live Spark session zone moved with it (SHOW is not a shadow copy)
      val fromSpark = c.rows(c.simple(
        "SELECT current_setting('TimeZone') AS tz")).head.head
      assert(fromSpark === "America/New_York")
      c.simple(s"SET TimeZone = '$before'")
    }
  }

  test("startup-packet GUCs and the options string become session defaults") {
    // pgjdbc's options= connection property ships "-c name=value" pairs in
    // the startup packet; any direct run-time parameter works the same way
    val c = new Client(appName = "opts_app", extraParams = Seq(
      "search_path" -> "myschema, public",
      "options" -> "-c statement_timeout=5s --extra_float_digits=2"))
    c.connect()
    try {
      assert(c.rows(c.simple("SHOW search_path")) === Seq(Seq("myschema, public")))
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("5s")))
      assert(c.rows(c.simple("SHOW extra_float_digits")) === Seq(Seq("2")))
      // startup values are session DEFAULTS: a SET overrides, RESET
      // restores the startup value (not the server stock default)
      c.simple("SET statement_timeout = 30000")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("30s")))
      c.simple("RESET statement_timeout")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("5s")))
      c.simple("DISCARD ALL")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("5s")))
    } finally c.close()
  }

  test("a startup-packet statement_timeout actually arms the timer") {
    // regression: the timer used to read only the dotless SET-override key,
    // so a timeout seeded via the startup packet (or pgjdbc options=-c, or
    // restored by RESET to a startup default) was displayed by SHOW but
    // never fired. Arm-time now resolves through the same PgGuc layer.
    val c = new Client(appName = "arm_app",
      extraParams = Seq("statement_timeout" -> "1200"))
    c.connect()
    try {
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("1200ms")))
      val t0 = System.currentTimeMillis()
      val msgs = c.simple("SELECT max(id * 2 + 1) FROM range(200000000000)")
      assert(c.errorCode(msgs) === Some("57014"),
        s"startup-seeded timeout must cancel (elapsed ${System.currentTimeMillis() - t0}ms)")
      // the session is healthy afterwards
      assert(c.rows(c.simple("SET statement_timeout = 0; SELECT 3 AS v"))
        .contains(Seq("3")))
    } finally c.close()
  }

  test("set_config applies at Execute, not at Parse/Describe or EXPLAIN") {
    withClient() { c =>
      c.simple("SET statement_timeout = 1000")
      // extended-protocol Parse + Describe analyze the statement (where
      // set_config resolves) but must not mutate — PG applies set_config
      // only when the statement executes
      c.parse("S_setcfg", "SELECT set_config('statement_timeout', '9000', false) AS v")
      c.describeStatement("S_setcfg")
      c.sync()
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("1s")))
      // EXPLAIN never executes the query in Spark: no mutation either
      c.simple("EXPLAIN SELECT set_config('statement_timeout', '9000', false)")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("1s")))
      // nor EXPLAIN over the extended protocol, Execute included
      c.parse("", "EXPLAIN SELECT set_config('statement_timeout', '9000', false)")
      c.bind("", "")
      c.execute("")
      assert(c.sync().exists(_._1 == 'D'), "EXPLAIN answers its plan rows")
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("1s")))
      // executing the prepared statement applies it and echoes the value
      c.bind("", "S_setcfg")
      c.execute("")
      val r = c.sync()
      assert(c.rows(r) === Seq(Seq("9000")))
      assert(c.rows(c.simple("SHOW statement_timeout")) === Seq(Seq("9s")))
      c.simple("RESET statement_timeout")
    }
  }

  test("pg_settings exposes live values with source tracking") {
    withClient() { c =>
      c.simple("SET statement_timeout = 30000")
      val r = c.rows(c.simple(
        "SELECT setting, unit, source FROM pg_settings WHERE name = 'statement_timeout'"))
      // PG stores the bare ms count in `setting` (tools compute
      // setting::int * unit); '30s' is the SHOW-only display form
      assert(r === Seq(Seq("30000", "ms", "session")))
      assert(c.rows(c.simple(
        "SELECT setting::int div 1000 AS s FROM pg_settings WHERE name = 'statement_timeout'"))
        === Seq(Seq("30")))
      c.simple("RESET statement_timeout")
      val d = c.rows(c.simple(
        "SELECT setting, source FROM pg_settings WHERE name = 'statement_timeout'"))
      assert(d === Seq(Seq("0", "default")))
      // Spark-native SHOW statements still route to Spark, not the GUC layer
      assert(c.simple("SHOW TABLES").forall(_._1 != 'E'))
      // the lock-monitor probe admin tools issue: well-formed and empty
      assert(c.rows(c.simple(
        "SELECT count(*) FROM pg_locks WHERE granted")) === Seq(Seq("0")))
    }
  }
}
