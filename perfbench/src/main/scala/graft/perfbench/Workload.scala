package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Samples and outcome of one measured window. */
final class Window {
  /** the end-to-end metrics (see [[EndToEnd]]) */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** the workload's own figures by name, with units, for the run record */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** breakdowns for the run record */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** every statement reply of the window, for the wire-stamp phases */
  val replies = mutable.ArrayBuffer.empty[Reply]
  /** CopyDone sent → CommandComplete arrived, per COPY */
  val copyDoneNs = mutable.ArrayBuffer.empty[Long]
  /** set-up and check statements that are not operations themselves */
  var auxStatements = 0L
  var clientCpuNs = 0L
  var wallNs = 0L

  /** Fill the end-to-end metrics from the latencies of the window's
    * operations (by default its statements); `rowsMoved` counts rows that
    * crossed the wire in either direction.
    */
  def summarize(rowsMoved: Long, opNs: Seq[Long] = replies.map(_.wallNs).toSeq): Unit = {
    val lat = opNs.map(Stats.ms)
    metrics("ops_per_s") = Stats.rate(lat.size.toLong, wallNs)
    metrics("op_p50_ms") = Stats.percentile(lat, 0.50)
    metrics("rows_per_s") = Stats.rate(rowsMoved, wallNs)
    // the highest percentile with at least ten samples beyond it
    val q = Seq(0.99, 0.95, 0.9, 0.75).find(q => lat.size * (1 - q) >= 10).getOrElse(0.5)
    named("op.samples") = (lat.size.toDouble, "count")
    named(f"op.p${q * 100}%.0f_ms") = (Stats.percentile(lat, q), "ms")
  }

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 10) failures += msg
  }

  /** Count one operation; it fails on an ErrorResponse or a result whose
    * digest differs from the direct path's (`expected` null: no digest).
    */
  def check(what: String, r: Reply, expected: String): Unit = synchronized {
    attempted += 1
    replies += r
    if (!r.ok) fail(s"$what: ${r.error}")
    else if (expected != null && r.digest.result != expected)
      fail(s"$what: wire digest ${r.digest.result} != direct ${expected}")
  }

  /** Take over the operations of a window recorded before the expected
    * digests existed, and check each result by its label.
    */
  def checkAll(recorded: Window, expected: String => String): Unit = synchronized {
    attempted += recorded.attempted
    failed += recorded.failed
    failures ++= recorded.failures
    replies ++= recorded.replies
    recorded.replies.filter(r => r.ok && r.digest != null).foreach { r =>
      if (r.digest.result != expected(r.label))
        fail(s"${r.label}: wire digest ${r.digest.result} != direct ${expected(r.label)}")
    }
  }
}

/** One benchmark workload over a live [[Stack]]. */
trait Workload {
  /** Compute every expected result on the direct path and run the
    * untimed warm-up; returns the warm-up's operations, whose failures
    * count like any other.
    */
  def prepare(): Window

  /** One closed measurement window of about `seconds`. */
  def window(seconds: Int): Window

  /** Replay the workload's own texts, parameters and rows in-process
    * against a server-style session, timing each layer's public calls.
    */
  def replay(layers: Layers): Unit

  /** Stop any load still running between windows. */
  def stopLoad(): Unit = ()

  /** Close the workload's connections. */
  def close(): Unit

  /** Statements one window sends, for per-statement listener ratios. */
  def statements(w: Window): Long = w.replies.size + w.auxStatements
}

object Workload {
  val Names: Seq[String] = Seq("interactive", "bulk")

  def apply(name: String, stack: Stack, env: BenchEnv, seed: Long): Workload = name match {
    case "interactive" => new Interactive(stack, env, seed)
    case "bulk" => new Bulk(stack, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** CPU time of the calling thread */
  def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** CPU time of thread `id` (0 once it has ended) */
  def threadCpuNs(id: Long): Long = math.max(0L, ManagementFactory.getThreadMXBean.getThreadCpuTime(id))

  /** seconds → nanoseconds deadline from now */
  def deadline(seconds: Int): Long = System.nanoTime() + seconds * 1000000000L
}
