package graft.perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.concurrent.CountDownLatch

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pg.PgCatalog
import graft.pg.wire.PgTypes

/** `interactive`: `cpus` connections in a closed loop, each in pgjdbc's
  * prepared-statement choreography. A connection Parses three named
  * statements once, then cycles Bind/Describe/Execute/Sync on each with
  * seeded random parameters, plus one unnamed Parse+Bind per cycle. Results
  * are a few rows, so per-statement fixed cost dominates.
  */
final class Interactive(stack: Stack, env: BenchEnv, seed: Long) extends Workload {
  import Interactive.{RangeDays, Stmt, WarmUpSeconds}

  private val sizes = DataGen.sizes(env.sf)
  private val rnd = new java.util.Random(seed)
  private def day(offset: Int): String =
    LocalDate.parse("1995-01-01").plusDays(offset.toLong).toString + " 00:00:00"

  private val stmts: IndexedSeq[Stmt] = IndexedSeq(
    Stmt("lookup", named = true,
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
        "WHERE c_custkey = $1",
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
        "WHERE c_custkey = ?",
      Seq(PgTypes.INT8),
      IndexedSeq.fill(16)(Seq((rnd.nextLong() & Long.MaxValue) % sizes.customer).map(_.toString))),
    Stmt("range", named = true,
      "SELECT o_orderstatus, COUNT(*) AS orders, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total " +
        "FROM orders WHERE o_orderdate >= $1 AND o_orderdate < $2 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
      "SELECT o_orderstatus, COUNT(*) AS orders, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total " +
        "FROM orders WHERE o_orderdate >= ? AND o_orderdate < ? " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
      Seq(PgTypes.TIMESTAMP, PgTypes.TIMESTAMP),
      IndexedSeq.fill(8) {
        val from = rnd.nextInt(2300)
        Seq(day(from), day(from + RangeDays))
      }),
    Stmt("catalog", named = true,
      "SELECT c.relname, c.relkind, n.nspname FROM pg_catalog.pg_class c " +
        "JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid " +
        "WHERE c.relname LIKE $1 ORDER BY c.relname",
      "SELECT c.relname, c.relkind, n.nspname FROM pg_class c " +
        "JOIN pg_namespace n ON c.relnamespace = n.oid " +
        "WHERE c.relname LIKE ? ORDER BY c.relname",
      Seq(PgTypes.VARCHAR),
      // each pattern names exactly one relation, so every seed moves the
      // same number of rows
      IndexedSeq("c%", "l%", "n%", "o%", "pa%", "pg_ty%", "r%", "s%").map(Seq(_)),
      onCatalog = true),
    Stmt("top5", named = false,
      "SELECT c_custkey, c_name, n_name, c_acctbal FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = $1 " +
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 5",
      "SELECT c_custkey, c_name, n_name, c_acctbal FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = ? " +
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 5",
      Seq(PgTypes.VARCHAR),
      DataGen.Segments.toIndexedSeq.map(Seq(_))))

  /** expected digest per (statement, pool index) */
  private val expected = mutable.Map.empty[(String, Int), String]

  /** Spark's own parameter values for a text-format tuple */
  private def directArgs(s: Stmt, params: Seq[String]): Array[Any] =
    params.zip(s.oids).map {
      case (v, PgTypes.INT8) => v.toLong
      case (v, PgTypes.TIMESTAMP) =>
        java.time.LocalDateTime.parse(v.replace(' ', 'T')).toInstant(ZoneOffset.UTC)
      case (v, _) => v
    }.toArray

  /** The expected digests are computed on the direct path while the load
    * warms up; the warm-up's statements are checked and reported with the
    * first window.
    */
  override def prepare(): Window = {
    val base = stack.spark
    val catalogSession: SparkSession = base.newSession()
    PgCatalog.register(catalogSession)
    val keys = for (s <- stmts; i <- s.pool.indices) yield (s, i)
    val digests = Direct.background(Direct.parallel(env.cpus)(keys.map { case (s, i) => () =>
      val spark = if (s.onCatalog) catalogSession else base
      Direct.digest(spark.sql(s.direct, directArgs(s, s.pool(i))), binary = false, ordered = true)
    }))
    startLoad()
    Thread.sleep(WarmUpSeconds * 1000L)
    keys.zip(digests()).foreach { case ((s, i), d) => expected((s.name, i)) = d }
    new Window
  }

  /** An executed statement: its pool entry, or none when the connection
    * itself failed (then `what` says how).
    */
  private final case class Op(conn: Int, reply: Reply, key: Option[(String, Int)], what: String) {
    /** why it failed, checked against the direct path (null = it did not) */
    def failure: String = key match {
      case None => what
      case Some(k) =>
        if (!reply.ok) s"$what: ${reply.error}"
        else if (reply.digest.result != expected(k))
          s"$what: wire digest ${reply.digest.result} != direct ${expected(k)}"
        else null
    }
  }

  /** every statement the load has run, in completion order */
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  @volatile private var running = false
  private var threads: Seq[Thread] = Nil
  private var reported = 0L // sentNs bound up to which failures were reported

  /** One thread per connection, each in a closed loop from now until
    * [[stopLoad]]. A connection is opened and prepared once, then first runs
    * its share of every pool entry (so each distinct text is compiled
    * before any window) and then cycles through the statements. Windows are
    * slices of this one continuous load, so no window starts cold.
    */
  private def startLoad(): Unit = {
    running = true
    val ready = new CountDownLatch(env.cpus)
    threads = (0 until env.cpus).map { conn =>
      val t = new Thread(() => {
        val c = new WireClient(stack.port)
        try {
          c.connect()
          stmts.filter(_.named).foreach { s =>
            val p = c.prepare(s.name, s.wire, s.oids)
            if (!p.ok) throw new IllegalStateException(s"Parse ${s.name}: ${p.error}")
          }
          def run(s: Stmt, i: Int): Unit = {
            val r =
              if (s.named) c.execute(s.name, s.pool(i), new RowDigest(true))
              else c.execute("", s.pool(i), new RowDigest(true), sql = s.wire, oids = s.oids)
            r.label = s.name
            ops.add(Op(conn, r, Some((s.name, i)), s"${s.name}${s.pool(i).mkString("(", ",", ")")}"))
          }
          for (s <- stmts; i <- s.pool.indices if i % env.cpus == conn) run(s, i)
          ready.countDown()
          val rnd = new java.util.Random(seed * 1000003L + conn)
          while (running) stmts.foreach(s => run(s, rnd.nextInt(s.pool.size)))
        } catch {
          case e: Throwable =>
            val r = new Reply(null)
            r.sentNs = System.nanoTime()
            ops.add(Op(conn, r, None, s"connection $conn: $e"))
            ready.countDown()
        } finally c.close()
      }, s"interactive-client-$conn")
      t.setDaemon(true)
      t.start()
      t
    }
    ready.await()
  }

  override def stopLoad(): Unit = {
    running = false
    threads.foreach(_.join())
    threads = Nil
  }

  override def close(): Unit = stopLoad()

  /** The statements sent within the next `seconds`. Failures count from
    * the end of the previous window (the warm-up for the first), so no
    * failed statement goes unreported.
    */
  override def window(seconds: Int): Window = {
    val w = new Window
    def clientCpuNs = threads.map(t => Workload.threadCpuNs(t.getId)).sum
    val cpu0 = clientCpuNs
    val t0 = System.nanoTime()
    Thread.sleep(seconds * 1000L)
    val t1 = System.nanoTime()
    w.clientCpuNs = clientCpuNs - cpu0
    // a connection's statement in flight at t1 has completed once the
    // connection sends its next one
    def settled(conn: Int) = !threads(conn).isAlive ||
      ops.asScala.exists(o => o.conn == conn && o.reply.sentNs >= t1)
    while (!threads.indices.forall(settled) && System.nanoTime() - t1 < 60000000000L)
      Thread.sleep(5)
    val all = ops.asScala.toSeq.filter(_.reply.sentNs < t1)
    all.filter(_.reply.sentNs >= reported).foreach { o =>
      w.attempted += 1
      if (o.failure != null) w.fail(o.failure)
    }
    reported = t1
    val in = all.filter(_.reply.sentNs >= t0)
    w.replies ++= in.filter(_.failure == null).map(_.reply)
    w.wallNs = t1 - t0
    if (in.isEmpty) throw new IllegalStateException("no statement completed in the window")
    w.summarize(w.replies.map(_.rows).sum)
    val lat = w.replies.map(r => Stats.ms(r.wallNs)).toSeq
    w.named("interactive.qps") = (w.metrics("ops_per_s"), "1/s")
    w.named("interactive.p50_ms") = (w.metrics("op_p50_ms"), "ms")
    w.named("interactive.p99_ms") = (Stats.percentile(lat, 0.99), "ms")
    w.replies.groupBy(_.label).foreach { case (k, rs) =>
      w.detail(s"$k.p50_ms") = Stats.median(rs.map(r => Stats.ms(r.wallNs)).toSeq)
    }
    // statements sent per 2 s slice of the window: shows a warm-up trend
    w.replies.groupBy(r => (r.sentNs - t0) / 2000000000L).toSeq.sortBy(_._1).foreach {
      case (slice, rs) => w.detail(s"qps.slice$slice") = rs.size / 2.0
    }
    w
  }

  override def replay(layers: Layers): Unit = {
    val session = Replay.serverSession(stack.spark)
    try for (s <- stmts; p <- s.pool.take(8)) {
      Replay.statement(layers, session.spark, s.wire, p.zip(s.oids), Seq(false))
    } finally session.close()
  }
}

object Interactive {
  /** every range aggregate spans the same number of days, so each seed
    * draws statements of the same cost
    */
  val RangeDays = 28

  /** time-based warm-up after every pool entry has run once */
  val WarmUpSeconds = 45

  /** a statement with its wire text, its direct-path text (Spark's own `?`
    * parameters) and a seeded pool of text-format parameter tuples
    */
  final case class Stmt(name: String, named: Boolean, wire: String, direct: String,
      oids: Seq[Int], pool: IndexedSeq[Seq[String]], onCatalog: Boolean = false)

  /** the seeded text-format parameters of this workload, for layers that
    * other workloads never reach
    */
  def sampleParams(seed: Long): Seq[(String, Int)] = {
    val r = new java.util.Random(seed)
    Seq.fill(16)(Seq(
      r.nextInt(100000).toString -> PgTypes.INT8,
      LocalDate.parse("1995-01-01").plusDays(r.nextInt(2300).toLong).toString + " 00:00:00" ->
        PgTypes.TIMESTAMP,
      DataGen.Segments(r.nextInt(DataGen.Segments.size)) -> PgTypes.VARCHAR)).flatten
  }
}
