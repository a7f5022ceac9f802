package org.apache.spark.sql.graft

import java.io.{DataInputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.{SparkEnv, SparkException}
import org.apache.spark.internal.config.MAX_RESULT_SIZE
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.util.io.{ChunkedByteBuffer, ChunkedByteBufferOutputStream}

/** Bridge to `private[sql]` Spark internals the engine needs: executing a
  * hand-built LogicalPlan (the reference does this via Dataset.ofRows,
  * ExecutorImpl.scala:135) and registering expression-level functions.
  * Lives under org.apache.spark.sql so scalac grants package access; kept
  * minimal on purpose.
  */
object Internals {
  private def classic(spark: SparkSession): CSparkSession =
    spark.asInstanceOf[CSparkSession]

  /** Execute an (unanalyzed or analyzed) LogicalPlan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(classic(spark), plan)

  /** The session's own SQL parser (dialect parsers delegate to this). */
  def sessionParser(spark: SparkSession): ParserInterface =
    classic(spark).sessionState.sqlParser

  /** Register an expression-building function (beyond what udf.register can
    * express, e.g. zero-arg or plan-time expressions).
    */
  def registerExprFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    classic(spark).sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Incremental partition-at-a-time result iterator (the reference's
    * incremental-collect mode, ExecutorImpl.scala:185-215): rows stream to
    * the driver per partition instead of one full collect.
    */
  def executeToIterator(df: DataFrame): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeToIterator()

  /** Result rows streamed one Spark job per WAVE of partitions. The plan
    * executes once; each partition packs its rows as length-prefixed
    * UnsafeRows through the session's codec (the format of SparkPlan's
    * private getByteArrayRdd), and one synchronous job per wave of
    * `min(remaining, defaultParallelism)` partitions fetches them, decoded
    * lazily in partition order. `RDD.toLocalIterator` instead runs one job
    * per partition, one after another. A wave starts only when the previous
    * one is drained, on the calling thread, so its job carries that thread's
    * job group and pool, and a suspended consumer holds no running job. The
    * driver holds at most one wave. Spark aborts a job whose results pass
    * `spark.driver.maxResultSize`; such a wave of several partitions runs
    * again at half the width, which then holds for the rest of the result,
    * so a result streams whenever each of its partitions fits the limit.
    * Roots whose rows already sit on the driver (command results, local
    * relations) answer with no job.
    */
  def executeInWaves(df: DataFrame): Iterator[InternalRow] =
    df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution.executedPlan match {
      case p @ (_: CommandResultExec | _: LocalTableScanExec) => p.executeCollect().iterator
      case p => new Waves(p)
    }

  private final class Waves(plan: SparkPlan) extends Iterator[InternalRow] {
    private val packed = plan.execute().mapPartitionsInternal(packRows)
    private val sc = packed.sparkContext
    private val nFields = plan.schema.length
    private val total = packed.partitions.length
    private var width = sc.defaultParallelism
    private var fetched = 0
    private var rows: Iterator[InternalRow] = Iterator.empty

    def hasNext: Boolean = {
      while (!rows.hasNext && fetched < total) {
        rows = Iterator.empty // drop the drained wave before fetching the next
        rows = decode(fetchWave())
      }
      rows.hasNext
    }

    def next(): InternalRow =
      if (hasNext) rows.next() else throw new NoSuchElementException("end of result")

    private def fetchWave(): Array[ChunkedByteBuffer] = {
      val n = math.min(total - fetched, width)
      try {
        val wave = sc.runJob(packed, (it: Iterator[ChunkedByteBuffer]) => it.next(),
          fetched until fetched + n)
        fetched += n
        wave
      } catch {
        case e: SparkException if n > 1 && exceedsMaxResultSize(e) =>
          width = n / 2 // the job only reads; shuffle outputs are reused
          fetchWave()
      }
    }

    private def decode(wave: Array[ChunkedByteBuffer]): Iterator[InternalRow] =
      wave.indices.iterator.flatMap { i =>
        val bytes = wave(i)
        wave(i) = null // release each partition's bytes once its rows decode
        decodeRows(bytes, nFields)
      }
  }

  private def exceedsMaxResultSize(e: SparkException): Boolean =
    Option(e.getMessage).exists(_.contains(s"is bigger than ${MAX_RESULT_SIZE.key}"))

  private def packRows(rows: Iterator[InternalRow]): Iterator[ChunkedByteBuffer] = {
    val codec = CompressionCodec.createCodec(SparkEnv.get.conf)
    val bytes = new ChunkedByteBufferOutputStream(1024 * 1024, ByteBuffer.allocate)
    val out = new DataOutputStream(codec.compressedOutputStream(bytes))
    val scratch = new Array[Byte](4 << 10)
    while (rows.hasNext) {
      val row = rows.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, scratch)
    }
    out.writeInt(-1)
    out.close()
    Iterator(bytes.toChunkedByteBuffer)
  }

  private def decodeRows(bytes: ChunkedByteBuffer, nFields: Int): Iterator[InternalRow] = {
    val codec = CompressionCodec.createCodec(SparkEnv.get.conf)
    val in = new DataInputStream(codec.compressedInputStream(bytes.toInputStream()))
    new Iterator[InternalRow] {
      private var rowBytes = in.readInt()
      def hasNext: Boolean = rowBytes >= 0
      def next(): InternalRow = {
        if (rowBytes < 0) throw new NoSuchElementException("end of partition")
        val b = new Array[Byte](rowBytes)
        in.readFully(b)
        val row = new UnsafeRow(nFields)
        row.pointTo(b, rowBytes)
        rowBytes = in.readInt()
        if (rowBytes < 0) in.close()
        row
      }
    }
  }

  /** One-shot collect of InternalRows (cursor-re-entrant mode). */
  def executeCollect(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeCollect()

  /** The analyzed LogicalPlan of a DataFrame (resolved attributes). */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution.analyzed

  /** Marks this thread as running analysis with no execution to follow
    * (extended-protocol Parse/Describe, EXPLAIN). Driver-side expression
    * functions with session side effects (set_config, pg_notify) consult
    * this: PG applies such effects only at execution, but they resolve —
    * and would otherwise fire — during analysis.
    */
  private val analysisOnlyFlag = new ThreadLocal[java.lang.Boolean]

  def analysisOnly[T](body: => T): T = {
    val prev = analysisOnlyFlag.get()
    analysisOnlyFlag.set(java.lang.Boolean.TRUE)
    try body finally analysisOnlyFlag.set(prev)
  }

  def isAnalysisOnly: Boolean =
    java.lang.Boolean.TRUE == analysisOnlyFlag.get()

  /** Schema of the analyzed plan without executing (Describe-before-Bind). */
  def analyzedSchema(spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.types.StructType =
    analysisOnly { classic(spark).sessionState.executePlan(plan).analyzed.schema }

  /** One-analysis prepare for the extended protocol's cacheable path: the
    * caller guarantees the text is free of driver-folded session functions
    * (no analysisOnly guard needed), so the resolved plan can be reused by
    * Bind/Execute instead of re-analyzing per phase. Returns the analyzed
    * plan only when it is a pure query — a Command would EXECUTE eagerly
    * when a Dataset is later built from it, which must not happen before
    * the Execute message.
    */
  def analyzeForPrepare(spark: SparkSession, plan: LogicalPlan)
      : (org.apache.spark.sql.types.StructType, Option[LogicalPlan]) = {
    val analyzed = classic(spark).sessionState.executePlan(plan).analyzed
    val cacheable =
      !analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] &&
        analyzed.schema.nonEmpty
    (analyzed.schema, if (cacheable) Some(analyzed) else None)
  }

  /** Make this session the thread's active one so SQLConf.get (used by the
    * parser and rules) sees its per-session settings — required when serving
    * many sessions from shared worker threads.
    */
  def setActiveSession(spark: SparkSession): Unit =
    CSparkSession.setActiveSession(classic(spark))

  /** Execute a query Dataset's OWN physical plan, discarding rows on the
    * executors (no driver materialization). A sink-based run (noop write)
    * would execute a separate write QueryExecution and leave this plan's
    * metrics at zero — EXPLAIN ANALYZE must measure the instance it prints.
    */
  def executeAndDiscard(df: DataFrame): Unit = {
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    qe.executedPlan.execute().foreach(_ => ())
  }

  /** The executed physical plan rendered one node per line with its
    * post-execution metric values — the body of PG-style `EXPLAIN ANALYZE`
    * output. Descends into the ADAPTIVE plan's final form and into query
    * stages, so what prints is what actually ran (AQE re-plans included).
    */
  def executedPlanWithMetrics(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, depth: Int): Unit = {
      // timing/size metrics read as "1.2s" / "45.3MiB" instead of raw
      // ms/ns/byte counts (SQLMetric stores the type tag, not the unit)
      def human(tpe: String, v: Long): String = tpe match {
        case "timing" => f"${v / 1e3}%.3fs"
        case "nsTiming" => f"${v / 1e9}%.3fs"
        case "size" =>
          if (v >= (1L << 30)) f"${v / (1024.0 * 1024 * 1024)}%.1fGiB"
          else if (v >= (1L << 20)) f"${v / (1024.0 * 1024)}%.1fMiB"
          else if (v >= (1L << 10)) f"${v / 1024.0}%.1fKiB"
          else s"${v}B"
        case _ => v.toString
      }
      val metrics = p.metrics.toSeq.sortBy(_._1).collect {
        case (k, m) if m.value != 0 => s"$k=${human(m.metricType, m.value)}"
      }
      val prefix = if (depth == 0) "" else "  " * (depth - 1) + "-> "
      out += (prefix + p.nodeName +
        (if (metrics.nonEmpty) metrics.mkString(" (", ", ", ")") else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(qe.executedPlan, 0)
    out.result()
  }

  /** Rows written by an already-executed command Dataset (INSERT/CTAS),
    * from the write node's "number of output rows" metric — PG's INSERT tag
    * carries the real count and pgjdbc's executeBatch reads update counts
    * from it. None when the plan has no write node (non-write commands).
    */
  def writtenRows(df: DataFrame): Option[Long] = {
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    val phys = qe.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    phys.collectFirst {
      case d: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        d.metrics.get("numOutputRows").map(_.value)
      case w: org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec =>
        w.metrics.get("numOutputRows").map(_.value)
      // CTAS is a LeafRunnableCommand whose write-stats metrics live on the
      // command itself (it threads them into its nested insert execution)
      case e: org.apache.spark.sql.execution.command.ExecutedCommandExec
          if e.metrics.contains("numOutputRows") =>
        e.metrics.get("numOutputRows").map(_.value)
    }.flatten
  }

  /** Affected rows for row-level operations (UPDATE/DELETE/MERGE), from the
    * operation-specific metrics where the executed plan exposes them. A
    * copy-on-write plan's numOutputRows counts rows WRITTEN — including
    * untouched rows rewritten in affected files — so it must NOT stand in
    * for PG's matched-row tag count; callers fall back to 0 ("rows unknown")
    * when no operation-specific metric exists.
    */
  def affectedRows(df: DataFrame): Option[Long] = {
    val qe = df.asInstanceOf[CDataset[org.apache.spark.sql.Row]].queryExecution
    val phys = qe.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val names = Seq("numUpdatedRows", "numDeletedRows", "numInsertedRows",
      "numAffectedRows")
    val found = phys.collect {
      case p if names.exists(p.metrics.contains) =>
        names.flatMap(p.metrics.get).map(_.value).sum
    }
    found.headOption
  }
}
