package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Benchmark entry point. One invocation runs one workload:
  *
  *   --workload interactive|bulk --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --sf F --cpus N
  *
  * It sets the stack up once, in a fresh JVM (`setup_s` is that cold
  * start), computes the expected results on the direct path, warms up, and
  * measures one window. With `--trace 1` it then measures a second window
  * with the Spark listener on, replays the workload in-process layer by
  * layer, and reports the per-layer metrics. The last stdout line is the result:
  * `{"correct", "attempted", "failed", "metrics"}`; the line before it is
  * the run record (canary, GC, set-up time, failures, trace detail).
  *
  * `--generate` writes the data set instead; `--self-test` runs only the
  * self-test.
  */
object Main {
  /** rows of the COPY a traced run adds when its workload has none */
  val CoverageCopyRows = 20000
  /** exit status when the data set has to be generated first */
  val DataMissing = 3

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  /** `--key value` pairs; a `--flag` followed by another option has value "" */
  private def parse(argv: Array[String]): Map[String, String] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i)
      if (!k.startsWith("--")) throw new IllegalArgumentException(s"unexpected argument '$k'")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
        out(k.drop(2)) = argv(i + 1)
        i += 2
      } else {
        out(k.drop(2)) = ""
        i += 1
      }
    }
    out.toMap
  }

  private val started = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.1f s] $what")

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          System.err.println(sw)
          System.err.println(Json.obj("error" -> Json.str(e.toString)))
          1
      }
    System.out.flush()
    System.err.flush()
    // Netty's event-loop threads are not daemons; exit explicitly so a
    // failed run can never keep the JVM alive
    System.exit(code)
  }

  private def env(a: Map[String, String]): BenchEnv = {
    val work = Paths.get(arg(a, "work")).toAbsolutePath
    Files.createDirectories(work)
    BenchEnv(work, Paths.get(arg(a, "data")).toAbsolutePath, arg(a, "cpus").toInt,
      arg(a, "sf").toDouble)
  }

  def run(a: Map[String, String]): Int = {
    SelfTest.run()
    if (a.contains("self-test")) { println("self-test passed"); return 0 }
    val e = env(a)
    if (a.contains("generate")) {
      if (!DataGen.present(e.data, e.sf)) {
        val spark = Harness.session(e, e.work.resolve("warehouse-gen"))
        try DataGen.generate(spark, e.data, e.sf) finally spark.stop()
      }
      return 0
    }
    if (!DataGen.present(e.data, e.sf)) {
      System.err.println(s"no generated data at ${e.data}; run --generate first")
      return DataMissing
    }
    measure(e, arg(a, "workload"), arg(a, "seed").toLong, arg(a, "seconds").toInt,
      arg(a, "trace") == "1")
  }

  private def measure(env: BenchEnv, name: String, seed: Long, seconds: Int,
      trace: Boolean): Int = {
    require(Workload.Names.contains(name), s"unknown workload '$name'")
    val cpuProbe = Jvm.cpuProbeMs()
    val canary = new TickCanary
    canary.start()
    val record = mutable.LinkedHashMap.empty[String, String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var stack: Stack = null
    var wl: Workload = null
    try {
      val (s, setupNs) = Harness.setUp(env)
      stack = s
      val setup = setupNs / 1e9
      record("setup_s") = Json.num(setup)
      progress(s"set up in $setup s")
      val codegen0 = Jvm.codegenMs
      wl = Workload(name, stack, env, seed)
      val warm = wl.prepare()
      attempted += warm.attempted
      failed += warm.failed
      failures ++= warm.failures
      progress("expected results and warm-up done")

      def measured(w: => Window): (Window, Double, Double) = {
        val gc0 = Jvm.gcMs
        canary.reset()
        val win = w
        win.detail("stamp_order_violations") = Trace.checkStampOrder(win).toDouble
        attempted += win.attempted
        failed += win.failed
        failures ++= win.failures
        (win, (Jvm.gcMs - gc0).toDouble, canary.p99Ms)
      }

      val (timed, gc, drift) = measured(wl.window(seconds))
      progress("timed window done")
      record("timed") = Json.obj(
        "metrics" -> Json.obj(timed.metrics.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "named" -> named(timed),
        "jvm.gc_ms" -> Json.num(gc), "host.tick_drift_p99_ms" -> Json.num(drift),
        "host.tick_drift_max_ms" -> Json.num(canary.maxMs),
        "host.cpu_probe_ms" -> Json.num(cpuProbe),
        "operations" -> Json.num(timed.attempted.toDouble),
        "detail" -> Json.obj(timed.detail.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
      if (!trace) {
        metrics("setup_s") = (setup, "s")
        EndToEnd.Metrics.tail.foreach { case (k, unit, _) => metrics(k) = (timed.metrics(k), unit) }
      } else {
        val (m, traceRecord) = traced(env, stack, wl, seed, seconds, timed, codegen0, cpuProbe, measured)
        record("traced") = traceRecord
        Trace.Metrics.foreach { case (k, unit) => metrics(k) = (m(k), unit) }
      }
    } finally {
      try if (wl != null) wl.close()
      finally
        try if (stack != null) stack.close()
        finally canary.shutdown()
    }
    record("failures") = Json.arr(failures.toSeq.map(Json.str))
    metrics.foreach { case (k, (v, _)) =>
      if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric $k is $v")
    }
    println(Json.obj("record" -> Json.obj(record.toSeq: _*)))
    println(Json.obj(
      "correct" -> (if (failed == 0 && attempted > 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)))
    0
  }

  /** The traced window (Spark listener on), the wire-stamp phases, the
    * in-process replay and the tracing overhead: the per-layer metrics and
    * the record's `traced` entry.
    */
  private def traced(env: BenchEnv, stack: Stack, wl: Workload, seed: Long, seconds: Int,
      timed: Window, codegen0: Double, cpuProbe: Double,
      measured: (=> Window) => (Window, Double, Double)): (mutable.Map[String, Double], String) = {
    val counters = new SparkCounters
    val sc = stack.spark.sparkContext
    val stats0 = Jvm.serverStats
    sc.addSparkListener(counters)
    val (win, tgc, tdrift) =
      try measured(wl.window(seconds))
      finally { counters.settle(); sc.removeSparkListener(counters) }
    wl.stopLoad()
    progress("traced window done")
    val stats = Jvm.serverStats.zip(stats0).map { case (x, y) => (x - y).toDouble }
    val codegen = Jvm.codegenMs - codegen0
    val stmts = wl.statements(win).toDouble

    val m = mutable.LinkedHashMap.empty[String, Double]
    Trace.wirePhases(win, m)
    m("pg.server.stmts_run") = stats(0)
    m("pg.server.stmts_failed") = stats(1)
    m("pg.server.rows_streamed") = stats(2)
    m("spark.jobs_per_stmt") = counters.jobs.get / stmts
    m("spark.stages_per_stmt") = counters.stages.get / stmts
    m("spark.tasks_per_stmt") = counters.tasks.get / stmts
    m("spark.codegen_compile_ms") = codegen
    m("spark.task_cpu_ms") = counters.taskCpuNs.get / 1e6 / stmts
    m("spark.shuffle_bytes") = counters.shuffleBytes.get / stmts
    m("jvm.gc_ms") = tgc
    m("client.cpu_share") = win.clientCpuNs.toDouble / win.wallNs
    m("host.tick_drift_p99_ms") = tdrift
    m("host.cpu_probe_ms") = cpuProbe

    // layers the workload itself does not reach are measured on a small
    // seeded sample, so every traced run reports every layer
    val copyDone =
      if (win.copyDoneNs.nonEmpty) win.copyDoneNs.toSeq
      else Seq(wireCopy(stack, seed))
    m("pg.server.copy_done_ms") = Stats.median(copyDone.map(Stats.ms))
    val layers = new Layers
    wl.replay(layers)
    if (!layers.has("pg.wire.param_decode_us")) Replay.params(layers, Interactive.sampleParams(seed))
    if (!layers.has("pg.server.copy_feed_ms"))
      Replay.copy(layers, stack, Bulk.copyInput(seed, CoverageCopyRows))
    Seq("pg.rewrite_us", "pg.parse_ms", "pg.bind_us", "spark.analyze_ms", "spark.optimize_ms",
      "spark.plan_ms", "spark.execute_ms", "pg.wire.encode_ns_per_row",
      "pg.wire.param_decode_us", "pg.server.copy_feed_ms", "pg.server.copy_finish_ms")
      .foreach(k => m(k) = layers.median(k))

    progress("replay done")
    Files.writeString(env.work.resolve("trace.json"), Trace.spans(win, layers))
    // tracing overhead: the traced window against the untraced one
    val overhead = timed.metrics.keys.toSeq.map(k =>
      k -> EndToEnd.worsening(k, timed.metrics(k), win.metrics(k)))
    m("trace.overhead_pct") = Stats.median(overhead.map(_._2))
    val traceRecord = Json.obj(
      "metrics" -> Json.obj(win.metrics.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "named" -> named(win),
      "overhead_pct" -> Json.obj(overhead.map { case (k, v) => k -> Json.num(v) }: _*),
      "stamp_order_violations" -> Json.num(win.detail("stamp_order_violations")),
      "statements" -> Json.num(stmts),
      "client_statements" -> Json.num(win.replies.size.toDouble))
    (m, traceRecord)
  }

  private def named(w: Window): String =
    Json.obj(w.named.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
    }: _*)

  /** one small COPY over the wire; CopyDone → CommandComplete in ns */
  private def wireCopy(stack: Stack, seed: Long): Long = {
    val input = Bulk.copyInput(seed, CoverageCopyRows)
    val c = new WireClient(stack.port)
    try {
      c.connect()
      val table = "perfbench_copy_coverage"
      def ok(r: Reply): Reply =
        if (r.ok) r else throw new IllegalStateException(s"coverage COPY: ${r.error}")
      ok(c.simpleQuery(s"CREATE TABLE $table (${Bulk.CopyColumns}) USING parquet"))
      val r = ok(c.copyIn(s"COPY $table FROM STDIN", input.chunks.iterator))
      if (r.tag != s"COPY ${input.rows}") throw new IllegalStateException(s"coverage COPY tag ${r.tag}")
      ok(c.simpleQuery(s"DROP TABLE $table"))
      r.completeNs - c.lastCopyDoneNs
    } finally c.close()
  }
}

/** The end-to-end metrics every workload reports: name, unit, and whether
  * higher is better. An operation is one statement (interactive) or one
  * cycle of text extract, binary extract and COPY (bulk): a median over
  * bulk's statements would be the latency of whichever kind of statement
  * happens to sit in the middle.
  */
object EndToEnd {
  val Metrics: Seq[(String, String, Boolean)] = Seq(
    ("setup_s", "s", false),
    ("ops_per_s", "1/s", true),
    ("op_p50_ms", "ms", false),
    ("rows_per_s", "rows/s", true))

  /** how much worse `after` is than `before`, in percent */
  def worsening(k: String, before: Double, after: Double): Double =
    if (Metrics.exists(m => m._1 == k && m._3)) (before / after - 1) * 100
    else (after / before - 1) * 100
}

/** Just enough JSON output for the result and record lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
