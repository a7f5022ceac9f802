package graft.pg.server

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.pg.wire.PgTypes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{StringType, StructType}

/** What `prepare` classified a statement as: the one switch the wire
  * server's statement lifecycle branches on, for both protocols.
  */
sealed trait StmtKind
object StmtKind {
  /** plain SQL through Spark: queries, commands, SET/SHOW, DDL and DML */
  case object Sql extends StmtKind
  /** EXPLAIN without ANALYZE: Spark never executes the explained query, so
    * its analysis runs under `Internals.analysisOnly` and side-effecting
    * functions (set_config, pg_notify) stay inert, as in PG
    */
  case object Explain extends StmtKind
  /** EXPLAIN ANALYZE: `plan` is the INNER statement, executed at run time;
    * the result is its ran plan with metrics as one QUERY PLAN column
    */
  case object ExplainAnalyze extends StmtKind
  /** a catalog query over a relation this server has no feature for
    * (pg_trigger, ...): zero rows, see PgCatalog.isFeatureAbsentQuery
    */
  case object FeatureAbsent extends StmtKind
  /** the empty statement: EmptyQueryResponse instead of CommandComplete */
  case object Empty extends StmtKind
  final case class CopyOut(co: PgCopy.CopyOut) extends StmtKind
  final case class CopyIn(ci: PgCopy.CopyIn) extends StmtKind
  /** DEALLOCATE, DISCARD, DECLARE or CLOSE: `apply` changes the session
    * state and returns the command tag
    */
  final case class SessionState(apply: () => String) extends StmtKind
  /** SQL FETCH (emit) or MOVE: up to `count` rows of a cursor's portal */
  final case class Fetch(cursor: String, count: Long, emit: Boolean) extends StmtKind
}

/** A prepared statement: a named one from 'P', or the unnamed one a simple
  * Query runs. Holds the unanalyzed plan and, for 'P', the schema captured
  * eagerly so Describe can answer before Bind (reference
  * protocol.scala:559-582, QueryState protocol.scala:994-1008).
  */
final case class Prepared(
    name: String,
    sql: String,
    plan: LogicalPlan,
    paramIds: Seq[Int],
    schema: StructType,
    paramOids: Seq[Int] = Seq.empty,
    kind: StmtKind = StmtKind.Sql,
    /** Parse-time resolved plan for the cacheable path (pure query, no
      * params, no driver-folded session functions): consumed ONCE by the
      * first Bind so that Parse→Bind→Execute costs a single analysis.
      * One-shot on purpose — later Binds of a client-cached statement
      * re-analyze, keeping today's per-execution freshness semantics.
      */
    cachedAnalyzed: Option[LogicalPlan] = None) {
  private val freshAnalyzed =
    new java.util.concurrent.atomic.AtomicReference[LogicalPlan](cachedAnalyzed.orNull)
  def takeAnalyzed(): Option[LogicalPlan] = Option(freshAnalyzed.getAndSet(null))
}

/** A portal: statement + bound plan + requested result format codes + the
  * cursor position across runs (reference PortalState
  * protocol.scala:1010-1014, cursor fetch :437-504). Bind makes named and
  * unnamed ones, DECLARE makes cursors, and a simple Query runs its
  * statements through an unnamed text-format portal that is never stored.
  */
final class Portal(
    val name: String,
    val stmt: Prepared,
    val bound: LogicalPlan,
    /** Bind's result-format codes: none = all text, one = for every column,
      * else per column
      */
    val formatCodes: Seq[Int] = Seq.empty) {
  var schema: StructType = stmt.schema
  /** per-column binary flags: binary only where asked for and the type has
    * a binary encoding (strings always go as text)
    */
  def formats: Seq[Boolean] = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
    val code = if (formatCodes.isEmpty) 0
      else if (formatCodes.length == 1) formatCodes.head
      else formatCodes(i)
    code == 1 && PgTypes.binaryCapable(f.dataType) && f.dataType != StringType
  }
  /** the Dataset being run; set at Bind on the cacheable path, so the run
    * reuses it instead of re-analyzing `bound`
    */
  var df: org.apache.spark.sql.DataFrame = _
  var rows: Iterator[InternalRow] = _
  /** the open COPY FROM STDIN of a CopyIn portal */
  var copyIn: PgCopy.CopyInSession = _
  var rowCount: Long = 0L
  def started: Boolean = rows != null || copyIn != null
}

/** Per-connection session: an isolated SparkSession (shared SparkContext,
  * own temp views/conf — reference SparkSQLServiceManager.scala:112-117),
  * prepared statements, portals, and the cancel key.
  */
final class PgSession(val pid: Int, val secret: Int, val spark: SparkSession,
    /** true when `spark` is this connection's own newSession() clone —
      * close() then drops its Tables relation memo (in singleSession mode
      * the shared base session outlives every connection, so its memo stays)
      */
    val isolated: Boolean = true) {
  val statements = mutable.Map.empty[String, Prepared]
  val portals = mutable.Map.empty[String, Portal]
  private val stmtCounter = new AtomicInteger(0)
  @volatile var lastActivity: Long = System.currentTimeMillis()
  @volatile var busy: Boolean = false
  @volatile var onReap: () => Unit = () => ()
  /** most recent statement text (pg_stat_activity.query semantics: PG
    * keeps showing the LAST query when the backend goes idle)
    */
  @volatile var currentQuery: String = ""
  @volatile var appName: String = ""
  /** (senderPid, channel, payload) -> write a NotificationResponse on this
    * session's connection; installed by the wire handler at startup
    */
  @volatile var notifySink: (Int, String, String) => Unit = _
  val backendStart: Long = System.currentTimeMillis()
  def touch(): Unit = lastActivity = System.currentTimeMillis()

  /** job-group id for the next statement; cancellation targets the group
    * (reference ExecutorImpl.scala:68-84).
    */
  def nextJobGroup(): String = s"pg-$pid-${stmtCounter.incrementAndGet()}"
  /** the statement running now, or the last one to run */
  @volatile var activeOperation: Operation = _

  /** CancelRequest, pg_cancel_backend/pg_terminate_backend and the idle
    * reaper: cancels the running statement (SQLSTATE 57014) and every job
    * it would start after this; a no-op when no statement runs.
    */
  def cancel(): Unit = {
    val op = activeOperation
    if (op != null) op.cancel()
  }

  def close(): Unit = {
    statements.clear()
    portals.clear()
    PgNotify.unlistenAll(pid)
    if (isolated) graft.Tables.invalidate(spark)
    SessionRegistry.unregister(pid)
  }
}

/** pid -> session map for out-of-band CancelRequest routing (reference
  * protocol.scala:1168-1184).
  */
object SessionRegistry {
  private val sessions = new ConcurrentHashMap[Int, PgSession]()
  private val pids = new AtomicInteger(1000)
  private val rnd = new java.security.SecureRandom()

  def create(base: SparkSession, singleSession: Boolean = false): PgSession = {
    // single-session mode shares the base session across connections (temp
    // views/conf visible to all, reference SparkSQLServiceManager.scala:
    // 107-133); multi-session isolates with newSession()
    val spark = if (singleSession) base else base.newSession()
    val s = new PgSession(pids.incrementAndGet(), rnd.nextInt(), spark,
      isolated = !singleSession)
    // clients scan raw parquet incl. TIMESTAMP(NANOS) columns
    s.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.spark.conf.set("spark.sql.crossJoin.enabled", "true")
    // psql metadata queries alias with double-quoted identifiers
    s.spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    sessions.put(s.pid, s)
    s
  }
  def cancel(pid: Int, secret: Int): Unit = {
    val s = sessions.get(pid)
    if (s != null && s.secret == secret) s.cancel()
  }

  /** `pg_cancel_backend(pid)`: cancel the target's running statement. The
    * wire CancelRequest needs the secret; the SQL function is the
    * superuser/admin path (this server has no role system — every session
    * is effectively superuser, as is_superuser reports).
    */
  def adminCancel(pid: Int): Boolean = {
    val s = sessions.get(pid)
    if (s == null) false else { s.cancel(); true }
  }

  /** `pg_terminate_backend(pid)`: cancel, close the connection, drop the
    * session.
    */
  def adminTerminate(pid: Int): Boolean = {
    val s = sessions.get(pid)
    if (s == null) false
    else {
      s.cancel()
      s.onReap() // closes the Netty channel like the idle reaper does
      s.close()
      true
    }
  }
  def unregister(pid: Int): Unit = sessions.remove(pid)

  private[server] def get(pid: Int): Option[PgSession] = Option(sessions.get(pid))

  /** The pid of the session whose wire message this thread is currently
    * processing (set by the server around every typed-message dispatch).
    * Required for singleSession mode, where every connection shares the
    * base SparkSession and an identity scan cannot tell connections apart.
    */
  private val currentPid = new ThreadLocal[Integer]

  private[server] def withCurrentPid[T](pid: Int)(body: => T): T = {
    val prev = currentPid.get()
    currentPid.set(pid)
    try body finally currentPid.set(prev)
  }

  /** Reverse lookup: the session owning a given SparkSession. The executing
    * connection's pinned pid wins when its session holds this exact
    * SparkSession (always true in singleSession mode, where the identity
    * scan below would pick an arbitrary connection); the identity scan is
    * the fallback for calls outside a wire dispatch (each multi-mode wire
    * session holds its own newSession() clone). Lets parser-level commands
    * that only receive a SparkSession (NOTIFY, pg_notify) find their wire
    * identity.
    */
  private[server] def pidOfSession(spark: SparkSession): Option[Int] = {
    import scala.jdk.CollectionConverters._
    val pinned = currentPid.get()
    if (pinned != null && get(pinned.intValue()).exists(_.spark eq spark)) {
      Some(pinned.intValue())
    } else {
      sessions.values().asScala.find(_.spark eq spark).map(_.pid)
    }
  }

  /** Close sessions idle past the timeout (reference idle reaping,
    * SparkSQLServiceManager.scala:137-158).
    */
  def reapIdle(timeoutMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - timeoutMs
    sessions.forEach { (_, s) =>
      // a session with a statement mid-flight is not idle, no matter how
      // long ago its last frame arrived
      if (s.lastActivity < cutoff && !s.busy) {
        s.cancel()
        s.onReap()
        s.close()
      }
    }
  }

  private[server] def activeCount: Int = sessions.size()

  /** (pid, busy, backendStart, lastQuery) per live session — the
    * pg_stat_activity backing rows.
    */
  private[server] def activity: Seq[(Int, Boolean, Long, String)] = {
    import scala.jdk.CollectionConverters._
    sessions.values().asScala.toVector
      .map(s => (s.pid, s.busy, s.backendStart, s.currentQuery))
      .sortBy(_._1)
  }

  /** (pid, busy, ms since last activity) per live session, for the UI. */
  private[server] def snapshot: Seq[(Int, Boolean, Long)] = {
    val now = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    sessions.values().asScala.toVector
      .map(s => (s.pid, s.busy, now - s.lastActivity))
      .sortBy(_._1)
  }
}

/** Live `pg_stat_activity` emulation: unlike the static pg_catalog views
  * (snapshotted per connection at startup), this one must reflect sessions
  * that appear and disappear at any moment — so the server re-registers it
  * immediately before executing any statement that references it. The
  * querying backend reports itself `active` with the in-flight statement,
  * exactly PG's behavior.
  */
private[server] object StatActivity {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType

  def register(spark: org.apache.spark.sql.SparkSession,
      selfPid: Int, selfQuery: String): Unit = {
    val rows: Seq[Row] = SessionRegistry.activity.map { case (pid, busy, start, q) =>
      // a live SET application_name wins over the startup value — PG updates
      // pg_stat_activity.application_name on SET
      val appName = SessionRegistry.get(pid).map(s =>
        s.spark.conf.getOption("application_name").getOrElse(s.appName)).getOrElse("")
      val (state, query) =
        if (pid == selfPid) ("active", selfQuery)
        else (if (busy) "active" else "idle", q)
      Row(pid, "spark-user", "default", appName, state, query,
        new java.sql.Timestamp(start))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL(
        "pid INT, usename STRING, datname STRING, application_name STRING, " +
          "state STRING, query STRING, backend_start TIMESTAMP"))
      .createOrReplaceTempView("pg_stat_activity")
  }

  /** `pg_stat_statements` emulation over the ServerStats recent-statement
    * ring: per-statement-text call counts and execution-time statistics —
    * the workload-profiling view DBAs reach for first. Bounded by the
    * ring's 100-event window (the real extension has its own bounded
    * hashtable; PG semantics of "recent workload profile" are preserved).
    */
  def registerStatements(spark: org.apache.spark.sql.SparkSession): Unit = {
    val rows: Seq[Row] = ServerStats.recentStatements
      .groupBy(_.statement)
      .map { case (q, evs) =>
        val times = evs.map(_.durationMs.toDouble)
        Row(q, evs.size.toLong, times.sum, times.min, times.max,
          times.sum / times.size)
      }.toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL(
        "query STRING, calls BIGINT, total_exec_time DOUBLE, " +
          "min_exec_time DOUBLE, max_exec_time DOUBLE, mean_exec_time DOUBLE"))
      .createOrReplaceTempView("pg_stat_statements")
  }
}
