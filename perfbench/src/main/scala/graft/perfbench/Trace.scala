package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.pg.server.ServerStats

/** Job, stage and task counts, task CPU and shuffle bytes, from a listener
  * registered for the traced window only.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Events reach listeners asynchronously: wait until the counts have
    * been still for 200 ms (at most 5 s).
    */
  def settle(): Unit = {
    val end = System.nanoTime() + 5000000000L
    var last = -1L
    var now = tasks.get + stages.get + jobs.get
    while (now != last && System.nanoTime() < end) {
      last = now
      Thread.sleep(200)
      now = tasks.get + stages.get + jobs.get
    }
  }
}

/** Host-noise canary: a thread asks to wake every 10 ms and records how
  * late it woke. A run hit by a scheduler stall shows a high p99.
  */
final class TickCanary extends Thread("perfbench-tick-canary") {
  setDaemon(true)
  private val PeriodNs = 10000000L
  private val lateNs = mutable.ArrayBuffer.empty[Long]
  @volatile private var running = true

  override def run(): Unit = {
    var next = System.nanoTime() + PeriodNs
    while (running) {
      var now = System.nanoTime()
      while (now < next) { LockSupport.parkNanos(next - now); now = System.nanoTime() }
      lateNs.synchronized { lateNs += now - next }
      next = math.max(next + PeriodNs, now + 1)
    }
  }

  def reset(): Unit = lateNs.synchronized(lateNs.clear())

  def p99Ms: Double = lateNs.synchronized {
    if (lateNs.isEmpty) 0.0 else Stats.percentile(lateNs.map(_ / 1e6).toSeq, 0.99)
  }
  def maxMs: Double = lateNs.synchronized(if (lateNs.isEmpty) 0.0 else lateNs.max / 1e6)

  def shutdown(): Unit = running = false
}

object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** cumulative Janino compile time of generated code, ms */
  def codegenMs: Double = CodeGenerator.compileTime / 1e6

  /** Median time of a fixed single-thread integer workload: a slower or
    * busier host reads higher, whatever the engine does.
    */
  def cpuProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 0) throw new IllegalStateException("xorshift reached zero")
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(Seq.fill(5)(once()))
  }

  def serverStats: Seq[Long] =
    Seq(ServerStats.statementsRun.get, ServerStats.statementsFailed.get, ServerStats.rowsStreamed.get)
}

/** Phases of one statement from the client's arrival stamps. Consecutive
  * stamps split the wall time (request sent → ReadyForQuery) into
  * parse, bind, first row and stream; a stamp that is absent merges its
  * phase into the next. The phases partition the wall time by definition;
  * what can go wrong is the stamps' order, which [[Trace.inOrder]] checks.
  */
final case class Phases(parse: Long, bind: Long, firstRow: Long, stream: Long)

object Phases {
  def of(r: Reply): Phases = {
    val afterParse = if (r.parseNs > 0) r.parseNs else r.sentNs
    val afterBind = if (r.bindNs > 0) r.bindNs else afterParse
    val afterFirst = if (r.firstRowNs > 0) r.firstRowNs else afterBind
    Phases(afterParse - r.sentNs, afterBind - afterParse, afterFirst - afterBind,
      r.readyNs - afterFirst)
  }
}

/** Assembles the traced run's per-layer metrics. */
object Trace {

  /** every per-layer metric, with its unit */
  val Metrics: Seq[(String, String)] = Seq(
    "pg.server.parse_ms" -> "ms",
    "pg.server.bind_ms" -> "ms",
    "pg.server.first_row_ms" -> "ms",
    "pg.server.stream_ms" -> "ms",
    "pg.server.bytes_per_row" -> "bytes",
    "pg.server.copy_done_ms" -> "ms",
    "pg.server.stmts_run" -> "count",
    "pg.server.stmts_failed" -> "count",
    "pg.server.rows_streamed" -> "count",
    "pg.rewrite_us" -> "us",
    "pg.parse_ms" -> "ms",
    "pg.bind_us" -> "us",
    "spark.analyze_ms" -> "ms",
    "spark.optimize_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.execute_ms" -> "ms",
    "pg.wire.encode_ns_per_row" -> "ns",
    "pg.wire.param_decode_us" -> "us",
    "pg.server.copy_feed_ms" -> "ms",
    "pg.server.copy_finish_ms" -> "ms",
    "spark.jobs_per_stmt" -> "count",
    "spark.stages_per_stmt" -> "count",
    "spark.tasks_per_stmt" -> "count",
    "spark.codegen_compile_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms",
    "client.cpu_share" -> "fraction",
    "host.tick_drift_p99_ms" -> "ms",
    "host.cpu_probe_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** medians of the wire-stamp phases over the window's statements */
  def wirePhases(w: Window, out: mutable.Map[String, Double]): Unit = {
    val ps = w.replies.toSeq.filter(_.ok)
    def med(sel: Reply => Boolean, f: (Reply, Phases) => Long): Double = {
      val xs = ps.filter(sel).map(r => Stats.ms(f(r, Phases.of(r))))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    out("pg.server.parse_ms") = med(_.parseNs > 0, (_, p) => p.parse)
    out("pg.server.bind_ms") = med(_.bindNs > 0, (_, p) => p.bind)
    out("pg.server.first_row_ms") = med(r => r.bindNs > 0 && r.firstRowNs > 0, (_, p) => p.firstRow)
    out("pg.server.stream_ms") = med(_.firstRowNs > 0, (_, p) => p.stream)
    val rows = ps.map(_.rows).sum
    out("pg.server.bytes_per_row") = if (rows == 0) 0.0 else ps.map(_.rowBytes).sum.toDouble / rows
  }

  /** The traced window's statements with their wire phases (ns, from the
    * window's first send) and the replay's per-call samples, as JSON.
    */
  def spans(w: Window, layers: Layers): String = {
    val t0 = if (w.replies.isEmpty) 0L else w.replies.map(_.sentNs).min
    val stmts = w.replies.toSeq.map { r =>
      val p = Phases.of(r)
      Json.obj("label" -> Json.str(r.label), "sent_ns" -> Json.num((r.sentNs - t0).toDouble),
        "parse_ns" -> Json.num(p.parse.toDouble), "bind_ns" -> Json.num(p.bind.toDouble),
        "first_row_ns" -> Json.num(p.firstRow.toDouble), "stream_ns" -> Json.num(p.stream.toDouble),
        "rows" -> Json.num(r.rows.toDouble), "row_bytes" -> Json.num(r.rowBytes.toDouble))
    }
    Json.obj("statements" -> Json.arr(stmts), "replay" -> layers.json)
  }

  /** whether a statement's stamps arrived in protocol order: sent <=
    * ParseComplete <= BindComplete <= first DataRow <= CommandComplete <=
    * ReadyForQuery, skipping the stamps it did not see
    */
  def inOrder(r: Reply): Boolean = {
    val stamps = Seq(r.sentNs, r.parseNs, r.bindNs, r.firstRowNs, r.completeNs, r.readyNs)
      .filter(_ > 0)
    stamps.zip(stamps.tail).forall { case (a, b) => a <= b }
  }

  /** Fail every statement of the window whose stamps are out of order (its
    * phases would be wrong); returns how many were.
    */
  def checkStampOrder(w: Window): Int = {
    val bad = w.replies.toSeq.filterNot(inOrder)
    bad.foreach(r => w.fail(s"${r.label}: reply stamps out of protocol order"))
    bad.size
  }
}
